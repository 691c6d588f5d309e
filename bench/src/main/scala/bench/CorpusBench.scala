package bench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.util.QueryExecutionListener

/** The corpus-batch workload: six catalog queries, each written in full to
  * the `noop` sink, over a corpus generated from the seed.
  *
  * The corpus, generated in this JVM (not by a Spark job), has the schema
  * and vocabulary of the repository's `documents`/`embeddings` test tables:
  * base documents of 8..96 words from a 30-word vocabulary, plus
  * near-duplicates (5% of the words replaced, " dup" appended) of base
  * documents and of earlier near-duplicates, so the dedup queries find
  * chains; unit embeddings around ten label centroids plus close copies.
  * Embeddings grow less than documents because `q_contrastive_pairs_self`
  * is all-pairs.
  *
  * Set-up: generate and write the corpus (several times), then a warm-up
  * pass that builds each plan through `SparkEntry.queries` and writes its
  * result as parquet, which the oracle comparison reads. Measured: the six
  * queries back to back, built and written to `noop`, repeated until
  * `seconds` have passed and at least `MinSuites` times (a traced run: at
  * least four times, with listeners off, on, on, off).
  */
object CorpusBench {
  val Queries: Seq[String] = Seq("q_pipeline_c4", "q_dedup_minhash_lsh",
    "q_dedup_simhash_pairs", "q_dedup_components", "q_bm25_search", "q_contrastive_pairs_self")

  val BaseDocs = 1000L
  val DupDocs = 300L // near-duplicates of base documents
  val DupOfDupDocs = 200L // near-duplicates of those
  val BaseVecs = 400L
  val DupVecs = 80L
  val Dim = 64
  val Labels = 10
  /** Fewest measured suites of an untraced run; the metrics are medians. */
  val MinSuites = 5

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")

  /** Identifies the generated corpus for the oracle cache (the caller adds
    * a hash of the generator's source). */
  def corpusKey(seed: Long): String =
    s"seed$seed-d$BaseDocs+$DupDocs+$DupOfDupDocs-v$BaseVecs+$DupVecs"

  /** 64-bit mix of the seed and a few longs (splitmix64 finalizer). */
  private def mix(seed: Long, xs: Long*): Long = xs.foldLeft(seed ^ 0x9e3779b97f4a7c15L) { (h, x) =>
    var z = h + x * 0xbf58476d1ce4e5b9L + 0x94d049bb133111ebL
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def pick(h: Long, n: Int): Int = java.lang.Math.floorMod(h, n.toLong).toInt
  private def uniform(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))
  /** Approximately standard normal: a centred sum of four uniforms. */
  private def gauss(seed: Long, xs: Long*): Double =
    ((0 until 4).map(i => uniform(mix(seed, xs :+ (20L + i): _*))).sum - 2.0) * math.sqrt(3.0)

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  /** The corpus of a seed: (documents, embeddings), generated in this JVM. */
  def corpus(seed: Long): (Seq[Doc], Seq[Vec]) = {
    val words = mutable.ArrayBuffer.empty[IndexedSeq[String]]
    for (id <- 0L until BaseDocs)
      words += (0 until 8 + pick(mix(seed, id, 0), 89)).map(j => Vocab(pick(mix(seed, id, j, 1), Vocab.size)))
    // a near-duplicate replaces 5% of its source's words; the second
    // generation copies the first
    def dups(from: Long, n: Long, srcLo: Long, srcN: Long): Unit =
      for (id <- from until from + n) {
        val src = words((srcLo + pick(mix(seed, id, 3), srcN.toInt)).toInt)
        words += src.zipWithIndex.map { case (w, j) =>
          if (pick(mix(seed, id, j, 4), 20) == 0) Vocab(pick(mix(seed, id, j, 5), Vocab.size)) else w
        }
      }
    dups(BaseDocs, DupDocs, 0, BaseDocs)
    dups(BaseDocs + DupDocs, DupOfDupDocs, BaseDocs, DupDocs)
    val docs = words.zipWithIndex.map { case (ws, i) =>
      val id = i.toLong
      val text = (if (id < BaseDocs) ws else ws :+ "dup").mkString(" ")
      val lang = pick(mix(seed, id, 2), 100) match {
        case p if p < 41 => "en"
        case p if p < 56 => "zh"
        case p if p < 70 => "de"
        case p if p < 85 => "fr"
        case _ => "es"
      }
      Doc(id, text, lang, s"src${id % 20}", text.length.toLong)
    }.toSeq

    def unit(v: IndexedSeq[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toArray
    }
    val base = (0L until BaseVecs).map { id =>
      val label = pick(mix(seed, id, 10), Labels)
      Vec(id, unit((0 until Dim).map(d => gauss(seed, 15, label, d) + 0.6 * gauss(seed, 16, id, d))), label)
    }
    val copies = (BaseVecs until BaseVecs + DupVecs).map { id =>
      val src = base(pick(mix(seed, id, 17), BaseVecs.toInt))
      Vec(id, unit((0 until Dim).map(d => src.embedding(d) + 0.05 * gauss(seed, 18, id, d))), src.label)
    }
    (docs, base ++ copies)
  }

  /** Writes documents.parquet and embeddings.parquet under `dir`; returns
    * the row counts (documents, embeddings). */
  def generate(spark: SparkSession, seed: Long, dir: String): (Long, Long) = {
    import spark.implicits._
    val (docs, vecs) = corpus(seed)
    docs.toDS().coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    vecs.toDS().coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    (docs.size.toLong, vecs.size.toLong)
  }

  /** Analysis, optimization and planning time of every query execution the
    * session finishes, in order. */
  private final class PlanLog extends QueryExecutionListener {
    private val done = mutable.ArrayBuffer.empty[Double]
    override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit = synchronized {
      done += qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      notifyAll()
    }
    override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = synchronized { done += 0.0; notifyAll() }
    def count: Int = synchronized(done.size)
    /** Planning time of the executions after the first `from`, once at least
      * one has arrived and no more arrive for 50 ms (events are delivered
      * asynchronously, in order). */
    def since(from: Int): Double = synchronized {
      val deadline = System.currentTimeMillis() + 5000
      var seen = -1
      while ((done.size <= from || done.size != seen) && System.currentTimeMillis() < deadline) {
        seen = done.size
        wait(50)
      }
      done.drop(from).sum
    }
  }

  def run(spark: SparkSession, a: Main.Args, tracer: Tracer, mem: Jvm.MemUse): Main.Outcome = {
    val dir = s"${a.work}/corpus"
    val results = s"${a.work}/results"
    val out = mutable.LinkedHashMap.empty[String, Double]
    val notes = mutable.ArrayBuffer.empty[String]
    val catalog = graft.SparkEntry.queries
    val oracles = graft.SparkEntry.oracleSql
    def build(q: String): DataFrame = tracer.span("api.build", "query" -> q)(catalog(q)(spark, dir))

    // ---- input generation, several times
    val setups = mutable.ArrayBuffer.empty[Double]
    var rows = (0L, 0L)
    for (i <- 1 to Main.Setups) tracer.span("setup", "i" -> i) {
      val t0 = Clock.nowMs
      rows = tracer.span("generate")(generate(spark, a.seed, dir))
      setups += (Clock.nowMs - t0) / 1000.0
      Main.log(f"setup $i: ${setups.last}%.2f s")
    }

    // ---- warm-up: build and run each query once, writing its result for
    // the oracle check
    val t0 = Clock.nowMs
    var attempted = 0L
    var failed = 0L
    val rowsOut = mutable.Map.empty[String, Double]
    tracer.span("warmup") {
      for (q <- Queries) {
        attempted += 1
        try {
          build(q).write.mode("overwrite").parquet(s"$results/$q")
          if (a.trace) rowsOut(q) = spark.read.parquet(s"$results/$q").count().toDouble
        } catch {
          case e: Exception =>
            failed += 1
            notes += s"$q failed: ${e.toString.take(300)}"
        }
      }
    }
    val warmS = (Clock.nowMs - t0) / 1000.0
    Main.log(f"warm-up: $warmS%.2f s")

    // ---- measured: the six queries back to back, repeated
    // a traced run runs suites with listeners off, on, on, off (balanced
    // against warm-up drift); the ratio of their median times is the
    // tracing overhead
    val probes = if (a.trace) Some(new Probes(spark, tracer)) else None
    val plans = new PlanLog
    val gc0 = Jvm.gcMs
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Double, Double)]]
    val suites = mutable.ArrayBuffer.empty[(Boolean, Double, Double)] // (traced, wall s, cpu s)
    val deadline = Clock.nowMs + a.seconds * 1000.0
    while (suites.size < (if (a.trace) 4 else MinSuites) || Clock.nowMs < deadline) {
      val traced = probes.isDefined && (suites.size % 4 == 1 || suites.size % 4 == 2)
      if (traced) probes.foreach { p => p.attach(); spark.listenerManager.register(plans) }
      val s0 = Clock.nowMs
      val c0 = Jvm.cpuS
      for (q <- Queries) {
        spark.sparkContext.setLocalProperty("bench.tag", q)
        val before = plans.count
        val b0 = Clock.nowMs
        val df = build(q)
        val b1 = Clock.nowMs
        tracer.span("query.noop", "query" -> q)(df.write.format("noop").mode("overwrite").save())
        val b2 = Clock.nowMs
        val planMs = if (traced) plans.since(before) else 0.0
        if (traced || probes.isEmpty)
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ((b1 - b0, planMs, b2 - b1))
      }
      spark.sparkContext.setLocalProperty("bench.tag", null)
      suites += ((traced, (Clock.nowMs - s0) / 1000.0, Jvm.cpuS - c0))
      if (traced) probes.foreach { p => spark.listenerManager.unregister(plans); p.detach() }
    }
    val gcMs = Jvm.gcMs - gc0
    val memMb = mem.mb()
    Main.log(s"measured ${suites.size} suites")

    val med = StreamBench.median _
    val wall = med(suites.map(_._2).toSeq)
    val perQueryMs = Queries.map(q => q -> med(perQuery(q).map(r => r._1 + r._3).toSeq)).toMap
    // input rows of a query: embeddings for the pair query, documents otherwise
    val inputRows = (q: String) => if (q == "q_contrastive_pairs_self") rows._2 else rows._1
    out("throughput_rps") = med(Queries.map(q => inputRows(q) / (perQueryMs(q) / 1000.0)))
    out("latency_p50_ms") = med(perQueryMs.values.toSeq)
    out("latency_p80_ms") = StreamBench.quantile(perQueryMs.values.toSeq, StreamBench.TailQ)
    out("wall_s") = wall
    out("cpu_s") = med(suites.map(_._3).toSeq)
    out("setup_s") = a.sessionS + med(setups.toSeq) + warmS
    out("mem_mb") = memMb
    notes += f"corpus: ${rows._1} documents, ${rows._2} embeddings; ${suites.size} measured suites"
    notes += s"memory: $mem"
    notes += "median ms per query: " + Queries.map(q => f"$q ${perQueryMs(q)}%.0f").mkString(", ")

    probes.foreach { pr =>
      pr.close()
      val layer = mutable.LinkedHashMap.empty[String, Double]
      val time = (t: Boolean) => med(suites.collect { case (`t`, w, _) => w }.toSeq)
      layer("trace.overhead_pct") = (time(true) / time(false) - 1.0) * 100.0
      layer("api.build_ms") = med(Queries.flatMap(q => perQuery(q).map(_._1)))
      for (q <- Queries) {
        val runs = perQuery(q)
        val acc = pr.tasks.acc(q)
        val n = runs.size.toDouble
        layer(s"queries.$q.build_ms") = med(runs.map(_._1).toSeq)
        layer(s"queries.$q.plan_ms") = med(runs.map(_._2).toSeq)
        layer(s"queries.$q.exec_ms") = med(runs.map(r => r._3 - r._2).toSeq)
        layer(s"queries.$q.cpu_ms") = acc.cpuNs / 1e6 / n
        layer(s"queries.$q.shuffle_bytes") = acc.shWrite / n
        layer(s"queries.$q.rows_out") = rowsOut.getOrElse(q, 0.0)
      }
      layer("input.passthrough_rps") = tracer.span("passthrough") {
        val t = Clock.nowMs
        spark.read.parquet(s"$dir/documents.parquet").write.format("noop").mode("overwrite").save()
        spark.read.parquet(s"$dir/embeddings.parquet").write.format("noop").mode("overwrite").save()
        (rows._1 + rows._2) / ((Clock.nowMs - t) / 1000.0)
      }
      Main.taskLayer(pr.tasks, Queries, layer)
      layer("jvm.heap_after_gc_peak_mb") = pr.heapAfterGcPeakMb
      layer("jvm.driver_gc_ms") = gcMs.toDouble
      out ++= layer
    }
    Main.Outcome(out.toMap, attempted, failed, notes.toSeq, Map(
      "corpus_dir" -> dir, "results_dir" -> results, "corpus_key" -> corpusKey(a.seed),
      "oracle_sql" -> Queries.map(q => q -> oracles(q)).toMap))
  }
}
