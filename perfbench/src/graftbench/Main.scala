package graftbench

import java.io.File

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark JVM entry: runs one workload over inputs made by `gen.py` and
  * writes `result.json` into the work dir. `run.py` is the front end; it
  * builds this, generates the inputs, runs the output checks and prints.
  *
  *   --workload backfill|serve|ingest --in DIR --work DIR --seconds S
  *   --trace 0|1 --cpus N
  */
object Main {

  /** Reads the generator's JSON files; writes result.json and spans.jsonl. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val work = a("work")
    val cpus = a("cpus")
    val traced = a("trace") == "1"
    // graft.Bench's session shape: local[nproc], nproc shuffle partitions,
    // AQE on, the engine's session defaults
    val builder = graft.core.EngineSession.defaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
    // transformWithState (the CEP query) needs the RocksDB state store
    if (workload == "ingest") builder.config(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.enabled = traced
    Trace.sc = spark.sparkContext
    val listener = if (traced) {
      val l = new WorkListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val run = new Run(spark, a("in"), work, a("seconds").toDouble, traced, listener)
    var code = 0
    try {
      workload match {
        case "backfill" => Backfill(run)
        case "serve"    => Serve(run)
        case "ingest"   => IngestLoad(run)
        case other      => throw new IllegalArgumentException(s"unknown workload $other")
      }
      run.note("workload done")
      if (traced) Trace.writeJsonl(s"$work/spans.jsonl")
      val w = new java.io.PrintWriter(s"$work/result.json", "UTF-8")
      try w.print(json.writeValueAsString(run.result())) finally w.close()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    } finally {
      spark.stop()
    }
    System.exit(code)
  }

  /** `Tables.trades` over the generated tape plus a count (set-up). */
  def loadTrades(run: Run): DataFrame = Trace.span("core.load") {
    val t = graft.core.Tables.trades(run.spark, run.in)
    t.count()
    t
  }

  def bytesOf(path: String): Long = Stats.dirBytes(new File(path))
}
