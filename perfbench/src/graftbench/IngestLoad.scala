package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.{Ingest, StreamSources, VersionedTable}
import graft.streaming.OrderedCep
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** `ingest`: wire files land one at a time (closed loop, one landing
  * client); an upsert query and a CEP query both consume them; a reader
  * thread issues PIT requests against the growing raw table on a fixed
  * schedule (open loop). A file lands only after both queries committed the
  * previous one, and every generated file lands, with no clock cut-off, so
  * every run has the same batches: the warm-up files, then the timed ones.
  */
object IngestLoad {
  val WarmupFiles = 2
  val PurgeEvery = 4
  val ReadPeriodMs = 5000L
  val WarmupReads = 2
  val BatchTimeoutS = 60.0
  val Phases = Seq("trigger" -> "triggerExecution", "add_batch" -> "addBatch",
    "query_planning" -> "queryPlanning", "wal_commit" -> "walCommit",
    "commit_offsets" -> "commitOffsets", "latest_offset" -> "latestOffset",
    "get_batch" -> "getBatch")

  /** Progress events per query, with their arrival time. */
  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
    val dataBatches = Map("upsert" -> new AtomicLong, "cep" -> new AtomicLong)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized(notifyAll())
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      events.add((System.nanoTime(), p))
      if (p.numInputRows > 0) dataBatches.get(p.name).foreach(_.incrementAndGet())
      synchronized(notifyAll())
    }
    def of(name: String, fromNs: Long, toNs: Long): Seq[StreamingQueryProgress] =
      events.asScala.toSeq.collect {
        case (t, p) if p.name == name && t >= fromNs && t <= toNs => p
      }
  }

  /** Per-symbol latest clean tick of a batch: the upsert's source rows. */
  def latestPerSymbol(clean: DataFrame): DataFrame = clean
    .select(col("symbol"), unix_micros(col("time")).as("t_us"),
      col("trade_id").cast("long").as("tid"), col("price"))
    .groupBy("symbol")
    .agg(max(struct(col("t_us"), col("tid"), col("price"))).as("m"))
    .select(col("symbol"), col("m.t_us").as("t_us"), col("m.tid").as("tid"),
      col("m.price").as("last_price"))

  def apply(run: Run): Unit = {
    val spark = run.spark
    val book = Main.json.readTree(new File(s"${run.in}/wire_book.json"))
    val wire = new File(s"${run.in}/wire").listFiles().filter(_.getName.endsWith(".json"))
      .sortBy(_.getName)
    val landing = new File(s"${run.work}/landing")
    landing.mkdirs()
    val raw = s"${run.work}/tables/raw"
    val latest = s"${run.work}/tables/latest"
    val dlqDir = s"${run.work}/tables/dlq"

    // per-batch timings of the storage layer, keyed by batch id
    val appendMs = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val mergeMs = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val maintMs = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val maintMb = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    def timed[T](into: java.util.concurrent.ConcurrentHashMap[Long, Double], id: Long)(
        body: => T): T = {
      val t0 = System.nanoTime()
      try body finally into.put(id, (System.nanoTime() - t0) / 1e6)
    }

    def upsertBatch(batch: DataFrame, id: Long): Unit = {
      batch.persist()
      try {
        val (clean, dlq) = Ingest.dlqSplit(batch)
        timed(appendMs, id)(Trace.span("sources.append", id) {
          VersionedTable.transactionalCommit(clean, raw, "raw", id,
            statsCols = Seq("time"), bloomCols = Seq("symbol"))
        })
        dlq.write.mode("append").parquet(dlqDir)
        val src = latestPerSymbol(clean)
        timed(mergeMs, id)(Trace.span("sources.merge_mor", id) {
          if (VersionedTable.latestVersion(latest).isEmpty)
            VersionedTable.transactionalCommit(src, latest, "latest", id,
              statsCols = Seq("t_us"), bloomCols = Seq("symbol"))
          else VersionedTable.transactionalMergeMor(src, latest, "latest", id, "symbol")
        })
        if ((id + 1) % PurgeEvery == 0) {
          val before = VersionedTable.snapshot(latest,
            VersionedTable.latestVersion(latest).get).dataDirs.toSet
          val v = timed(maintMs, id)(Trace.span("sources.maintenance", id) {
            VersionedTable.purgeDeletes(batch.sparkSession, latest)
          })
          val written = v.toSeq.flatMap(VersionedTable.snapshot(latest, _).dataDirs)
            .filterNot(before)
          maintMb.put(id, written.map(d => Main.bytesOf(s"$latest/$d")).sum / 1048576.0)
        }
      } finally batch.unpersist()
    }

    def source(): DataFrame = StreamSources.parseKafkaWire(
      spark.readStream.option("maxFilesPerTrigger", "1").text(landing.getPath)
        .select(col("value"), current_timestamp().as("timestamp")))
      .drop("kafka_timestamp")

    val progress = new Progress
    spark.streams.addListener(progress)
    val upsert = source().writeStream.queryName("upsert")
      .foreachBatch((b: DataFrame, id: Long) => upsertBatch(b, id))
      .option("checkpointLocation", s"${run.work}/ckpt/upsert").start()
    val cep = OrderedCep.spreadEma(Ingest.dlqSplit(source())._1)
      .writeStream.queryName("cep").format("noop").outputMode("update")
      .option("checkpointLocation", s"${run.work}/ckpt/cep").start()
    val queries = Seq(upsert, cep)

    @volatile var landedMaxUs = 0L
    /** Files moved into landing: the output check's expected count. */
    var landed = 0
    /** Lands the next file; returns when it landed. */
    def land(): Long = {
      val f = wire(landed)
      val tmp = new File(landing, "." + f.getName + ".tmp").toPath
      Files.copy(f.toPath, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, new File(landing, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
      landed += 1
      System.nanoTime()
    }
    def bookMaxUs(i: Int): Long = book.get(i).get("max_time_us").asLong()
    /** Waits until both queries committed `n` data batches. */
    def awaitBatches(n: Long): Boolean = {
      val deadline = System.nanoTime() + (BatchTimeoutS * 1e9).toLong
      progress.synchronized {
        while (!progress.dataBatches.values.forall(_.get >= n)) {
          queries.find(q => !q.isActive).foreach(q => throw new IllegalStateException(
            s"query ${q.name} stopped: ${q.exception.map(_.getMessage).getOrElse("")}"))
          val left = (deadline - System.nanoTime()) / 1000000L
          if (left <= 0) throw new IllegalStateException(s"batch $n timed out")
          progress.wait(math.min(left, 50L))
        }
      }
      true
    }

    try {
      (0 until WarmupFiles).foreach { i =>
        land(); landedMaxUs = bookMaxUs(i); awaitBatches(landed)
      }
    } catch {
      case e: Throwable => System.err.println(s"[perfbench] ingest warm-up failed: $e")
    }

    // the reader's symbols: those with a clean tick in the first file
    val pool = book.get(0).get("latest").fieldNames().asScala.toSeq.sorted
    run.warmUp(WarmupReads)(i => Serve.request(spark, raw, pool(i % pool.size), landedMaxUs, -1))
    val readLat = new ConcurrentLinkedQueue[Double]()
    val lateness = new ConcurrentLinkedQueue[Double]()
    val admitted = new ConcurrentLinkedQueue[Double]()
    val stop = new AtomicBoolean(false)
    val reader = new Thread(() => {
      val t0 = System.nanoTime()
      var k = 0L
      while (!stop.get) {
        val due = t0 + k * ReadPeriodMs * 1000000L
        val waitNs = due - System.nanoTime()
        if (waitNs > 0) Thread.sleep(waitNs / 1000000L, (waitNs % 1000000L).toInt)
        if (!stop.get) {
          lateness.add((System.nanoTime() - due) / 1e6)
          val req = 1000000L + k
          val sym = pool((k % pool.size).toInt)
          run.attempted.incrementAndGet()
          try {
            val asOf = landedMaxUs
            Trace.span("ingest.read", req)(Serve.request(spark, raw, sym, asOf, req))
            readLat.add((System.nanoTime() - due) / 1e6)
            run.note(f"read $k: ${(System.nanoTime() - due) / 1e6}%.1f ms")
            if (run.traced) Serve.traceSkipping(spark, raw, sym, asOf, req).foreach(admitted.add)
          } catch {
            case e: Throwable =>
              run.failed.incrementAndGet()
              System.err.println(s"[perfbench] read $k failed: $e")
          }
          k += 1
        }
      }
    }, "perfbench-reader")

    run.startTimed()
    val t0 = System.nanoTime()
    reader.start()
    val batchMs = mutable.ArrayBuffer.empty[Double]
    var broken = false
    run.note(s"ingest: $WarmupFiles warm-up files, ${wire.length - WarmupFiles} timed files")
    while (!broken && landed < wire.length) {
      val i = landed
      run.attempted.incrementAndGet()
      try {
        val landedAt = Trace.span("ingest.batch", i) {
          val at = land()
          awaitBatches(i + 1)
          at
        }
        batchMs += (System.nanoTime() - landedAt) / 1e6
        run.note(f"batch $i: ${batchMs.last}%.1f ms")
        landedMaxUs = bookMaxUs(i)
      } catch {
        case e: Throwable =>
          run.failed.incrementAndGet()
          broken = true
          System.err.println(s"[perfbench] batch $i failed: $e")
      }
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    stop.set(true)
    reader.join()
    val t1 = System.nanoTime()
    val (_, phases) = run.endTimed()
    run.metric("live_heap_mb", run.liveHeapMb(), "MB", 1)

    val timedBatches = batchMs.size
    val fileTicks = book.get(0).get("clean").asLong() + book.get(0).get("dlq").asLong()
    val reads = readLat.asScala.toSeq
    run.metric("ops_per_s", timedBatches / loopS, "1/s", timedBatches)
    run.metric("op_p50_ms", Stats.median(batchMs.toSeq), "ms", timedBatches)
    run.metric("ticks_per_s", timedBatches * fileTicks / loopS, "ticks/s", timedBatches)
    run.metric("batch_p50_ms", Stats.median(batchMs.toSeq), "ms", timedBatches)
    run.metric("batch_p75_ms", Stats.pct(batchMs.toSeq, 75), "ms", timedBatches)
    run.metric("pit_p50_ms", Stats.median(reads), "ms", reads.size)

    if (run.traced) {
      val firstTimed = WarmupFiles.toLong
      def timedMs(m: java.util.concurrent.ConcurrentHashMap[Long, Double]): Seq[Double] =
        m.asScala.toSeq.filter(_._1 >= firstTimed).sortBy(_._1).map(_._2)
      val merges = timedMs(mergeMs)
      val q = math.max(1, merges.size / 4)
      run.perLayer("sources.append_ms") = Stats.median(timedMs(appendMs))
      run.perLayer("sources.merge_mor_ms") = Stats.median(merges)
      run.perLayer("sources.merge_mor_growth") =
        if (merges.isEmpty) 0.0 else Stats.median(merges.takeRight(q)) / Stats.median(merges.take(q))
      run.perLayer("sources.maintenance_ms") = Stats.median(timedMs(maintMs))
      run.perLayer("sources.maintenance_rewritten_mb") = Stats.median(timedMs(maintMb))
      run.perLayer("sources.commit_write_s") =
        phases.getOrElse("vt.commit.write", 0.0) / timedBatches.max(1)
      run.perLayer("sources.commit_stats_s") =
        phases.getOrElse("vt.commit.stats", 0.0) / timedBatches.max(1)
      Seq("call", "plan", "exec").foreach { p =>
        run.perLayer(s"asof.snapshot_${p}_ms") = Stats.median(
          Trace.named(s"asof.snapshot_$p").filter(_.req >= 0).map(_.ms))
      }
      run.perLayer("sources.read_filtered_ms") = run.spanMs("sources.read_filtered")
      run.perLayer("sources.dirs_admitted_ratio") = Stats.median(admitted.asScala.toSeq)
      Seq("upsert", "cep").foreach { name =>
        val ps = progress.of(name, t0, t1)
        val data = ps.filter(_.numInputRows > 0)
        Phases.foreach { case (k, key) =>
          run.perLayer(s"streaming.$name.${k}_ms") = Stats.median(data.map(p =>
            Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)))
        }
        run.perLayer(s"streaming.$name.batches") = data.size.toDouble
        run.perLayer(s"streaming.$name.no_data_batches") = (ps.size - data.size).toDouble
      }
      val cepData = progress.of("cep", t0, t1).filter(_.numInputRows > 0)
        .filter(_.stateOperators.nonEmpty)
      cepData.lastOption.foreach { p =>
        run.perLayer("streaming.cep.state_rows") = p.stateOperators.map(_.numRowsTotal).sum.toDouble
        run.perLayer("streaming.cep.state_mb") =
          p.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0
      }
      run.perLayer("streaming.cep.state_commit_ms") =
        Stats.median(cepData.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble))
      run.perLayer("bench.reader_late_ms") = Stats.median(lateness.asScala.toSeq)
      run.perLayer("sources.files_written") =
        Stats.dataFiles(new File(s"${run.work}/tables")).toDouble
      val inputBytes = wire.take(landed).map(_.length).sum
      run.perLayer("sources.stored_per_input") =
        Main.bytesOf(s"${run.work}/tables").toDouble / inputBytes
      run.sparkLayer(timedBatches)
      run.readWork(_ >= 1000000L)
    }

    queries.foreach(_.stop())
    queries.foreach(_.awaitTermination(60000))

    // output check input: what the tables hold after `landed` files; the
    // front end compares it with the generator's bookkeeping over those files
    run.extra("files_landed") = landed
    run.extra("upsert_batches") = progress.dataBatches("upsert").get
    run.extra("raw_rows") = VersionedTable.read(spark, raw).count()
    run.extra("dlq_rows") = spark.read.parquet(dlqDir).count()
    run.extra("latest") = VersionedTable.read(spark, latest)
      .select("symbol", "t_us", "tid", "last_price").collect()
      .map(r => Seq(r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
  }
}
