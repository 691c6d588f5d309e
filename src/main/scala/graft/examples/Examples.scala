package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.api._

/** Runnable example topologies — the migration guide for a Kafka Streams
  * user, each mirroring a canonical Streams first-app. Run with e.g.
  * `sbt "runMain graft.examples.WordCountApp"`.
  *
  * The Kafka-backed variant of each is the same topology with the source
  * swapped for `builder.kafkaStream(bootstrap, topic)` and the sink for
  * `GraftSinks.toKafka(...)` — no broker ships in this environment, so
  * the examples read the driver-provided parquet instead.
  */
object ExampleSession {
  def spark(app: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** The Streams "hello world": split text into words, count per word.
  * (KStream → flatMapValues → groupBy → count → print.) */
object WordCountApp {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("wordcount")
    import spark.implicits._
    val builder = GraftStreams(spark)
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")

    builder
      .stream[Long, String](docs, col("doc_id"), col("text"), current_timestamp())
      .flatMapValues(text => text.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty))
      .selectKey((_, word) => word)
      .groupByKey
      .count()
      .toStream
      .toDF.orderBy(desc("value")).limit(10).show(false)
    spark.stop()
  }
}

/** Per-record trailing windows (Kafka 2.7 SlidingWindows) with live
  * operational gauges: "events per user over the last 30 minutes, exact",
  * batch over the catalog tables plus the streaming twin's gauge names. */
object SlidingRateApp {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("sliding-rate")
    import spark.implicits._
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    GraftStreams(spark)
      .stream[Long, Long](events, col("user_id"), col("event_id"), col("ts"))
      .groupByKey
      .windowedBy(SlidingWindows.ofTimeDifference(java.time.Duration.ofMinutes(30)))
      .aggExpr("cnt", _ => count(lit(1)))
      .orderBy(desc("cnt")).limit(10).show(false)
    spark.stop()
  }
}

/** Sessionized user activity with final-results suppression:
  * events → groupByKey → session windows → count → suppress. */
object SessionizeApp {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("sessionize")
    import spark.implicits._
    val builder = GraftStreams(spark)
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")

    val sessions = builder
      .stream[Long, Double](events, col("user_id"), col("value"), col("ts"))
      .groupByKey
      .windowedBy(SessionWindows.`with`(java.time.Duration.ofMinutes(30)))
      .reduce(_ + _)
      .suppressFinal() // in streaming: append mode after the watermark
    sessions.toStream.toDF
      .select(col("key.key").as("user"), col("key.start"), col("value").as("session_value"))
      .orderBy(desc("session_value")).limit(10).show(false)
    spark.stop()
  }
}

/** Live enrichment topology — the reference's bread-and-butter
  * KStream⋈KTable join with a STREAMING changelog table: clicks look up
  * each user's latest purchase state as both streams flow; table updates
  * emit nothing. Driven synchronously through the TopologyTestDriver
  * pattern with a streaming joinTable dispatch under the hood. */
object LiveEnrichmentApp {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val spark = ExampleSession.spark("live-enrichment")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val b = GraftStreams(spark)
    def ts(ms: Long) = new java.sql.Timestamp(ms)

    val clicks = MemoryStream[(Long, String, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val enriched = b.stream[Long, String](clicks.toDF(), $"_1", $"_2", $"_3")
      .joinTable(b.table[Long, Long](purchases.toDF(), $"_1", $"_2", $"_3"))(
        (page, cents) => s"$page (user spent $cents cents)")
    val q = enriched.toDF.writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    purchases.addData((1L, 999L, ts(1000L)))
    clicks.addData((1L, "/checkout", ts(2000L)), (2L, "/home", ts(2000L)))
    q.processAllAvailable()
    spark.table("enriched").show(false) // user 2 drops: no purchase state
    q.stop(); spark.stop()
  }
}

/** Foreign-key enrichment (KIP-213) + cogroup in one topology: orders
  * address customers by the fk inside their value; clicks and payments
  * cogroup into one per-user accumulator. */
object FkCogroupApp {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("fk-cogroup")
    import spark.implicits._
    val b = GraftStreams(spark)
    def ts(ms: Long) = new java.sql.Timestamp(ms)

    val customers = b.table[Long, String](spark.createDataset(Seq(
      (1L, "gold", ts(0L)), (2L, "silver", ts(0L)))))
    val orders = b.table[Long, (Long, Long)](spark.createDataset(Seq(
      (100L, (1L, 2500L), ts(1000L)), (101L, (2L, 990L), ts(2000L)),
      (102L, (1L, 120L), ts(3000L)))))
    orders.fkJoin(customers)(_._1)((o, seg) => s"${o._2} cents [$seg]")
      .toDataset.show(false)

    val clicks = b.stream[Long, Long](spark.createDataset(Seq(
      (1L, 7L, ts(1000L)), (2L, 8L, ts(1500L)), (1L, 9L, ts(4000L))))).groupByKey
    val payments = b.stream[Long, Long](spark.createDataset(Seq(
      (1L, 2500L, ts(2000L))))).groupByKey
    clicks.cogroup[(Long, Long)]((_, _, acc) => (acc._1 + 1, acc._2))
      .cogroup(payments)((_, cents, acc) => (acc._1, acc._2 + cents))
      .aggregate((0L, 0L))
      .toDataset.show(false)
    spark.stop()
  }
}

/** Corpus construction end-to-end: C4-style cleanup (quality -> language
  * -> exact dedup), then a deterministic stratified sample — every stage
  * reproducible bit-for-bit across clusters and re-runs. */
object CorpusBuildApp {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("corpus-build")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val clean = graft.SparkEntry.queries("q_pipeline_c4")(spark, dir)
    println(s"clean unique docs: ${clean.count()}")
    val sampled = graft.SparkEntry.queries("q_sample_stratified")(spark, dir)
    sampled.groupBy("lang").count().show(false)
    spark.stop()
  }
}

/** Live corpus ingest: the cleanup pipeline as a STREAMING topology —
  * quality gate, PII redaction, fingerprint re-key, exact dedup within
  * the watermark. Every stage is a column expression (one codegen'd
  * project); dedup state is watermark-bounded. Swap the memory source
  * for `kafkaStream` to ingest from a broker. */
object StreamingIngestApp {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.api.Rec
    import graft.functions.TextFunctions
    val spark = ExampleSession.spark("streaming-ingest")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val b = GraftStreams(spark)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]

    // the quality score reads five fields of the text stats; a Filter has
    // no common-subexpression elimination, so the stats ride a one-element
    // explode (as in q_pipeline_c4) and the kernel runs once per row
    val gated = mem.toDF()
      .select($"_1", $"_2", $"_3", explode(array(TextFunctions.textStats($"_2"))).as("st"))
      .filter(TextFunctions.qualityScoreOf($"_2", $"st") > 0.3)
    val ingested = b.stream[Long, String](gated, $"_1", $"_2", $"_3")
      .mapValuesExpr(TextFunctions.redactPii(col(Rec.ValueCol)))
      .selectKeyExpr[String](TextFunctions.fingerprintHex(col(Rec.ValueCol)))
      .dedupWithinGrace(Seq(Rec.KeyCol), graceMs = 60000)
    val q = ingested.toDF.writeStream.format("memory").queryName("corpus")
      .outputMode(OutputMode.Append).start()

    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"), current_timestamp())
      .as[(Long, String, java.sql.Timestamp)].collect()
    mem.addData(docs)
    q.processAllAvailable()
    mem.addData(docs.take(5)) // redelivery: dedup drops all five
    q.processAllAvailable()
    println(s"ingested ${spark.table("corpus").count()} of ${docs.length + 5} deliveries")
    q.stop(); spark.stop()
  }
}

/** Corpus hygiene pipeline: exact dedup fingerprints + MinHash-LSH
  * near-dup candidates + quality filter, one job. */
object CorpusDedupApp {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("corpus-dedup")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val nearDups = graft.SparkEntry.queries("q_dedup_minhash_native")(spark, dir)
    val quality = graft.SparkEntry.queries("q_text_quality")(spark, dir)
    println(s"near-dup candidate pairs: ${nearDups.count()}")
    println("lowest-quality docs:")
    quality.orderBy("quality").limit(5).show(false)
    spark.stop()
  }
}
