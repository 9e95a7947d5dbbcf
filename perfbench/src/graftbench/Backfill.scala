package graftbench

import java.io.File

import graft.asof.HistoricalFeatures
import graft.features._
import graft.sources.VersionedTable
import org.apache.spark.sql.DataFrame

/** `backfill`: the nine contract feature kernels, each committed as a
  * versioned table, then one training-set build. Closed loop: whole passes
  * repeat until the run's time is up.
  */
object Backfill {

  /** (registry query, time column of its output, kernel). */
  val kernels: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("q_ohlc_1m", "bucket", t => Ohlc.compute(t)),
    ("q_vwap_5m", "bucket", t => Vwap.compute(t)),
    ("q_imbalance_5m", "bucket", t => Imbalance.compute(t)),
    ("q_sma20", "time", t => Sma.compute(t)),
    ("q_volatility_1h", "bucket", t => Volatility.compute(t)),
    ("q_ewm12", "time", t => Ewm.compute(t)),
    ("q_spread", "time", t => Spread.compute(t)),
    ("q_regime", "time", t => Regime.compute(t)),
    ("q_large_trades", "time", t => LargeTrades.compute(t)))

  def layerName(q: String): String = "features." + q.stripPrefix("q_")

  def apply(run: Run): Unit = {
    val spark = run.spark
    val trades = Main.loadTrades(run)
    val ticks = trades.count()
    val entities = spark.read.parquet(s"${run.in}/entities.parquet")
    val tablesRoot = s"${run.work}/tables"

    def commitAll(root: String, req: Long, op: (String, => Unit) => Unit): Unit = {
      kernels.foreach { case (q, timeCol, kernel) =>
        op(q, Trace.span(layerName(q), req) {
          VersionedTable.commit(kernel(trades), s"$root/$q",
            statsCols = Seq(timeCol), bloomCols = Seq("symbol"))
          ()
        })
      }
      op("retrieve", Trace.span("asof.retrieve", req) {
        HistoricalFeatures.retrieve(entities, trades)
          .write.format("noop").mode("overwrite").save()
      })
    }

    // warm-up (set-up): two passes, one per client thread, pay JIT and
    // first-touch costs
    run.warmUp(2)(i => commitAll(s"$tablesRoot/warm$i", -1, (_, body) => body))
    (0 until 2).foreach(i => Stats.rmrf(new File(s"$tablesRoot/warm$i")))

    run.startTimed()
    val kernelMs = collection.mutable.ArrayBuffer.empty[Double]
    val passKernelS = collection.mutable.ArrayBuffer.empty[Double]
    val retrieveMs = collection.mutable.ArrayBuffer.empty[Double]
    var pass = 0
    var lastRoot = ""
    while (run.timeLeft) {
      val root = s"$tablesRoot/p$pass"
      var passMs = 0.0
      var passOk = true
      commitAll(root, pass, (q, body) => run.op(s"$q pass $pass")(body) match {
        case Some(ms) if q == "retrieve" => retrieveMs += ms
        case Some(ms) => kernelMs += ms; passMs += ms
        case None => passOk = false
      })
      if (passOk) passKernelS += passMs / 1e3
      run.note(f"pass $pass: kernel commits ${passMs / 1e3}%.2f s")
      if (lastRoot.nonEmpty) Stats.rmrf(new File(lastRoot))
      lastRoot = root
      pass += 1
    }
    val (wallS, phases) = run.endTimed()
    val ops = run.attempted.get - run.failed.get
    run.metric("live_heap_mb", run.liveHeapMb(), "MB", 1)

    val allMs = kernelMs ++ retrieveMs
    run.metric("ops_per_s", ops / wallS, "1/s", ops)
    run.metric("op_p50_ms", Stats.median(allMs.toSeq), "ms", allMs.size)
    run.metric("ticks_per_s", ticks / Stats.median(passKernelS.toSeq), "ticks/s",
      passKernelS.size)
    run.metric("retrieve_s", Stats.median(retrieveMs.toSeq) / 1e3, "s", retrieveMs.size)
    run.extra("ticks") = ticks
    run.extra("passes") = pass

    if (run.traced) {
      kernels.foreach { case (q, _, _) =>
        run.perLayer(layerName(q) + "_s") =
          Stats.median(Trace.named(layerName(q)).filter(_.req >= 0).map(_.ms)) / 1e3
      }
      run.perLayer("asof.retrieve_s") =
        Stats.median(Trace.named("asof.retrieve").filter(_.req >= 0).map(_.ms)) / 1e3
      run.perLayer("core.load_s") = run.spanMs("core.load") / 1e3
      run.perLayer("sources.commit_write_s") =
        phases.getOrElse("vt.commit.write", 0.0) / ops.max(1)
      run.perLayer("sources.commit_stats_s") =
        phases.getOrElse("vt.commit.stats", 0.0) / ops.max(1)
      run.perLayer("sources.files_written") = Stats.dataFiles(new File(lastRoot)).toDouble
      run.perLayer("sources.stored_per_input") =
        Main.bytesOf(lastRoot).toDouble / Main.bytesOf(s"${run.in}/events.parquet")
      run.sparkLayer(ops)
    }

    // output check input: each feature table read back through the commit
    // log, for DuckDB to compare with the registry's oracle
    val oracle = graft.SparkEntry.oracleSql
    val checkDirs = kernels.map { case (q, _, _) =>
      val out = s"${run.work}/check/$q"
      VersionedTable.read(spark, s"$lastRoot/$q").coalesce(1)
        .write.mode("overwrite").parquet(out)
      q -> Map("dir" -> out, "oracle" -> oracle(q))
    }.toMap
    run.extra("oracle_checks") = checkDirs
  }
}
