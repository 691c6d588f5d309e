package bench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one process:
  *
  * {{{
  * bench.Main --workload <window-agg|table-join|corpus-batch> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --out <file.json> [--single-core]
  * }}}
  *
  * Writes one JSON object to `--out`: the metrics, the attempted and failed
  * counts of the correctness checks, notes, and (corpus-batch) what the
  * oracle comparison needs. With `--trace 1` listeners are attached and
  * spans are written to `<work>/spans.jsonl`. `--single-core` runs the
  * session at `local[1]` with one set-up of a saturated window-agg phase
  * and reports `spark.single_core_rps`.
  */
object Main {
  /** Set-ups per run; `setup_s` reports their median. */
  val Setups = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, out: String, singleCore: Boolean, sessionS: Double = 0.0) {
    val cores: Int = if (singleCore) 1 else Runtime.getRuntime.availableProcessors()
  }

  final case class Outcome(metrics: Map[String, Double], attempted: Long, failed: Long,
      notes: Seq[String], extra: Map[String, Any] = Map.empty)

  def main(argv: Array[String]): Unit = {
    val kv = argv.filterNot(_ == "--single-core").grouped(2)
      .collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    var a = Args(
      workload = need("workload"), seed = need("seed").toLong, seconds = need("seconds").toInt,
      trace = need("trace") == "1", work = need("work"), out = need("out"),
      singleCore = argv.contains("--single-core"))
    require(Set("window-agg", "table-join", "corpus-batch")(a.workload),
      s"unknown workload ${a.workload}")
    new java.io.File(a.work).mkdirs()

    val tracer = new Tracer(a.trace)
    val mem = new Jvm.MemUse
    val t0 = Clock.nowMs
    val spark = tracer.span("session.start")(session(a))
    a = a.copy(sessionS = (Clock.nowMs - t0) / 1000.0)
    val outcome =
      try {
        if (a.singleCore) StreamBench.singleCore(spark, a, tracer)
        else a.workload match {
          case "corpus-batch" => CorpusBench.run(spark, a, tracer, mem)
          case _ => StreamBench.run(spark, a, tracer, mem)
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Outcome(Map.empty, 1, 1, Seq(s"run failed: $e"))
      } finally {
        spark.stop()
        mem.close()
      }
    val spans = if (a.trace) tracer.write(s"${a.work}/spans.jsonl") else 0
    val doc = Map(
      "metrics" -> outcome.metrics,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "notes" -> outcome.notes,
      "spans" -> spans) ++ outcome.extra
    val w = new java.io.PrintWriter(a.out, "UTF-8")
    try w.println(Json.value(doc)) finally w.close()
  }

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"[bench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%7.2f s  $msg")

  def session(a: Args): SparkSession = {
    val local = s"${a.work}/spark-local"
    new java.io.File(local).mkdirs()
    SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"bench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // the production state-store setting of this repository's streaming
      // topologies: RocksDB with changelog checkpointing
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // keep every offset-log entry of a run: the correctness check reads them
      .config("spark.sql.streaming.minBatchesToRetain", "100000")
      .getOrCreate()
  }

  /** `spark.*` task metrics summed over the given tags. */
  def taskLayer(stats: TaskStats, tags: Seq[String], out: mutable.Map[String, Double]): Unit = {
    val accs = tags.map(stats.acc)
    val durs = accs.flatMap(_.durations).map(_.toDouble)
    out("spark.tasks") = accs.map(_.tasks).sum.toDouble
    out("spark.task_run_ms") = accs.map(_.runMs).sum.toDouble
    out("spark.task_cpu_ms") = accs.map(_.cpuNs).sum / 1e6
    out("spark.gc_ms") = accs.map(_.gcMs).sum.toDouble
    out("spark.deserialize_ms") = accs.map(_.deserMs).sum.toDouble
    out("spark.shuffle_write_bytes") = accs.map(_.shWrite).sum.toDouble
    out("spark.shuffle_read_bytes") = accs.map(_.shRead).sum.toDouble
    out("spark.shuffle_fetch_wait_ms") = accs.map(_.fetchWaitMs).sum.toDouble
    out("spark.spill_disk_bytes") = accs.map(_.spillDisk).sum.toDouble
    out("spark.spill_mem_bytes") = accs.map(_.spillMem).sum.toDouble
    out("spark.task_ms_p50") = StreamBench.median(durs)
    out("spark.task_ms_max") = durs.foldLeft(0.0)(math.max)
  }
}
