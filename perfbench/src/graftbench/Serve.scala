package graftbench

import java.io.File
import java.sql.Timestamp

import graft.asof.PitSnapshot
import graft.sources.VersionedTable
import graft.sources.VersionedTable.{PointFilter, RangeFilter}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `serve`: point-in-time snapshots over a versioned tape committed one
  * append per day. Closed loop, one client.
  */
object Serve {
  val WarmupRequests = 8

  def ts(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  def filters(symbol: String, asOfMicros: Long): Seq[VersionedTable.DirFilter] =
    Seq(PointFilter("symbol", symbol),
      RangeFilter("time", Double.NegativeInfinity, asOfMicros.toDouble))

  /** One PIT request: `snapshotVersioned` plus `collect`. Traced, its three
    * steps are timed apart: the call, physical planning, execution.
    */
  def request(spark: SparkSession, root: String, symbol: String, asOfMicros: Long,
      req: Long): Array[Row] = {
    val df = Trace.span("asof.snapshot_call", req) {
      PitSnapshot.snapshotVersioned(spark, root, symbol, ts(asOfMicros))
    }
    if (Trace.enabled) Trace.span("asof.snapshot_plan", req) {
      df.queryExecution.executedPlan
    }
    Trace.span("asof.snapshot_exec", req)(df.collect())
  }

  /** Traced only: the skipping tier alone, outside the request's latency. */
  def traceSkipping(spark: SparkSession, root: String, symbol: String,
      asOfMicros: Long, req: Long): Option[Double] = {
    val fs = filters(symbol, asOfMicros)
    Trace.span("sources.read_filtered", req) {
      VersionedTable.readFiltered(spark, root, fs)
    }
    val snap = VersionedTable.snapshot(root, VersionedTable.latestVersion(root).get)
    if (snap.dataDirs.isEmpty) None
    else Some(VersionedTable.admittedDirs(root, snap, fs).size.toDouble / snap.dataDirs.size)
  }

  /** Exact row equality; doubles to 1e-9 relative, because the versioned and
    * the unversioned frames feed the same aggregates in different orders.
    */
  def sameRows(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.length == y.length && (0 until x.length).forall { i =>
        (x.get(i), y.get(i)) match {
          case (p: Double, q: Double) =>
            p == q || math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q))
          case (p, q) => p == q
        }
      }
    }

  def apply(run: Run): Unit = {
    val spark = run.spark
    run.note("session up")
    val trades = Main.loadTrades(run)
    run.note("tape loaded")
    val reqJson = readPairs(new File(s"${run.in}/requests.json"))
    val reqs = reqJson("requests")
    val root = s"${run.work}/tables/tape"
    // seed: one append commit per calendar day, with time stats and a
    // symbol bloom so the skipping tiers have something to skip
    val days = trades.select(to_date(col("time")).as("d")).distinct()
      .collect().map(_.getDate(0)).sortBy(_.getTime)
    days.foreach { d =>
      VersionedTable.commit(trades.filter(to_date(col("time")) === lit(d)), root,
        statsCols = Seq("time"), bloomCols = Seq("symbol"))
    }
    run.note(s"${days.length} day commits done")
    // warm-up on requests the timed loop does not reach
    val warm = reqs.takeRight(WarmupRequests)
    run.warmUp(WarmupRequests)(i => request(spark, root, warm(i)._1, warm(i)._2, -1))

    run.startTimed()
    val lat = collection.mutable.ArrayBuffer.empty[Double]
    val admitted = collection.mutable.ArrayBuffer.empty[Double]
    val served = collection.mutable.ArrayBuffer.empty[(String, Long, Array[Row])]
    var i = 0
    while (run.timeLeft && i < reqs.size - WarmupRequests) {
      val (s, t) = reqs(i)
      run.op(s"request $i ($s @ $t)")(Trace.span("serve.request", i) {
        val rows = request(spark, root, s, t, i)
        if (served.size < 3) served += ((s, t, rows))
      }).foreach(lat += _)
      if (run.traced) traceSkipping(spark, root, s, t, i).foreach(admitted += _)
      i += 1
    }
    val (wallS, _) = run.endTimed()
    run.metric("live_heap_mb", run.liveHeapMb(), "MB", 1)
    val p50 = Stats.median(lat.toSeq)
    run.metric("ops_per_s", lat.size / wallS, "1/s", lat.size)
    run.metric("op_p50_ms", p50, "ms", lat.size)
    run.metric("pit_p50_ms", p50, "ms", lat.size)
    run.metric("pit_p90_ms", Stats.pct(lat.toSeq, 90), "ms", lat.size)
    run.extra("dirs") = days.length

    if (run.traced) {
      run.perLayer("core.load_s") = run.spanMs("core.load") / 1e3
      Seq("call", "plan", "exec").foreach { p =>
        run.perLayer(s"asof.snapshot_${p}_ms") = Stats.median(
          Trace.named(s"asof.snapshot_$p").filter(_.req >= 0).map(_.ms))
      }
      run.perLayer("sources.read_filtered_ms") = run.spanMs("sources.read_filtered")
      run.perLayer("sources.dirs_admitted_ratio") = Stats.median(admitted.toSeq)
      run.perLayer("sources.files_written") = Stats.dataFiles(new File(root)).toDouble
      run.perLayer("sources.stored_per_input") =
        Main.bytesOf(root).toDouble / Main.bytesOf(s"${run.in}/events.parquet")
      run.sparkLayer(lat.size)
      run.readWork(_ >= 0)
    }

    // output check: the first served snapshots must equal the snapshot over
    // the unversioned tape
    served.foreach { case (s, t, got) =>
      val want = PitSnapshot.snapshot(spark, trades, s, ts(t)).collect()
      run.check(s"serve snapshot $s @ $t", sameRows(got, want),
        s"versioned=${got.mkString(";")} unversioned=${want.mkString(";")}")
    }
    lateProbes(run, root, reqJson("late_probes"))
  }

  /** Late-listing probes, after the timed phase: a symbol with no tick at or
    * before the as-of time must give a record of nulls. A throw is counted
    * and reported; a non-null record is a wrong answer.
    */
  def lateProbes(run: Run, root: String, probes: Seq[(String, Long)]): Unit = {
    var failed = 0
    var firstError = ""
    val featureCols = Seq("open", "close", "sma_20", "ewm_12", "vwap_5m", "bid", "ask")
    probes.foreach { case (s, t) =>
      try {
        val rows = PitSnapshot.snapshotVersioned(run.spark, root, s, ts(t)).collect()
        val allNull = rows.forall(r => featureCols.forall(c => r.isNullAt(r.fieldIndex(c))))
        run.check(s"late-listing snapshot $s @ $t", allNull, rows.mkString(";"))
      } catch {
        case e: Throwable =>
          failed += 1
          if (firstError.isEmpty) firstError = String.valueOf(e.getMessage).take(300)
      }
    }
    run.extra("late_probes") = Map("attempted" -> probes.size, "failed" -> failed,
      "first_error" -> firstError)
  }

  /** Parses requests.json: {"requests": [[sym, asOfMicros], ...], ...}. */
  def readPairs(f: File): Map[String, Seq[(String, Long)]] = {
    val root = Main.json.readTree(f)
    import scala.jdk.CollectionConverters._
    root.fieldNames().asScala.map { k =>
      k -> root.get(k).elements().asScala.map(p =>
        (p.get(0).asText(), p.get(1).asLong())).toSeq
    }.toMap
  }
}
