package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SkewOps
import graft.sources.Bucketing

/** Scale tooling: bucketed co-located joins must plan WITHOUT a shuffle;
  * salting must preserve results while spreading hot keys. */
class ScaleOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bucketed fact-fact join plans with zero shuffle exchanges") {
    val dir = "/root/testdata/sf0.001"
    // clear any orphaned warehouse locations from previous test JVMs
    Seq("li_bucketed", "ord_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    Bucketing.writeBucketed(
      Tables.load(spark, dir, "lineitem").select("l_orderkey", "l_quantity"),
      "li_bucketed", "l_orderkey", 8, Seq("l_orderkey"))
    Bucketing.writeBucketed(
      Tables.load(spark, dir, "orders").select("o_orderkey", "o_totalprice"),
      "ord_bucketed", "o_orderkey", 8, Seq("o_orderkey"))

    val joined = Bucketing.read(spark, "li_bucketed")
      .join(Bucketing.read(spark, "ord_bucketed")
        .hint("merge"), // force SMJ so the exchange question is observable
        col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(1200))

    // and it computes the right thing
    val expected = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(joined.count() === expected)
  }

  test("jaccard dedup df-cut drops stop-shingle buckets before pairing") {
    // 60 docs all opening with the same 3 words (one stop-shingle shared
    // by all of them) plus a unique tail; without the df-cut the stop
    // bucket alone would fan out 60*59/2 = 1770 candidate pairs. Two docs
    // additionally share a rare shingle -> the only surviving pair.
    val docs = Seq.tabulate(60) { i =>
      val tail = if (i >= 58) "rare shared suffix words here" else s"unique$i tail$i words$i"
      (i.toLong, s"common stop shingle $tail", "en", "synthetic", 40L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("jacdf").toFile
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, tmp.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((58L, 59L)))
  }

  test("embedding sign-bucket cut drops a hot-orthant flood before pairing") {
    // 60 vectors in the SAME orthant (all-positive signs -> one bucket):
    // without the 2..50 cut that bucket alone would fan out 1770 vector
    // pairs in one task. Two extra vectors land in a different orthant
    // and survive as the only pair (their bucket has exactly 2 members).
    val flood = Seq.tabulate(60) { i =>
      (i.toLong, Array.tabulate(16)(d => 0.1f + 0.01f * ((i + d) % 5)), 0)
    }
    val pairVecs = Seq(
      (100L, Array.tabulate(16)(d => if (d == 0) -1.0f else 0.2f), 1),
      (101L, Array.tabulate(16)(d => if (d == 0) -0.9f else 0.21f), 1))
    val tmp = java.nio.file.Files.createTempDirectory("embcut").toFile
    (flood ++ pairVecs).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = SparkEntry.queries("q_dedup_embedding")(spark, tmp.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((100L, 101L)))
  }

  test("composed time-series blocking key bounds buckets on a skewed corpus") {
    import graft.functions.TimeSeriesBlocking
    // 240 users, ALL peaking at hour 12 (a flash-crowd corpus); second
    // peaks spread over the other 23 hours. Single-hour blocking puts
    // every user in ONE bucket (240*239/2 = 28,680 pairs); the composed
    // key must split them so no bucket goes quadratic.
    val counts = (0 until 240).flatMap { u =>
      Seq((u.toLong, 12, 100L), (u.toLong, u % 23, 10L)) // peak2 varies
    }.toDF("user_id", "h", "n")
    val peaks = TimeSeriesBlocking.peaks(counts)
    val cand = TimeSeriesBlocking.candidates(peaks)
    val largestBucket = peaks.groupBy("peak_h", "peak2_h").count()
      .agg(max("count")).head().getLong(0)
    assert(largestBucket <= 240 / 23 + 1, s"largest bucket $largestBucket")
    val pairs = cand.count()
    assert(pairs < 28680 / 10, s"pairs $pairs still near-quadratic")
    // single-distinct-hour users still compare among themselves (peak2=-1)
    val solo = Seq((900L, 5, 7L), (901L, 5, 9L)).toDF("user_id", "h", "n")
    val soloCand = TimeSeriesBlocking.candidates(TimeSeriesBlocking.peaks(solo))
    assert(soloCand.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((900L, 901L)))
  }

  test("corpus-scale self mining: no broadcast of the corpus, cells bound the blocks") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.load(spark, dir, "embeddings")
    val k = 8
    val cb = graft.functions.VectorIndex.train(emb, "vec_id", "embedding", k, iters = 2)

    // the corpus must NEVER ride a broadcast in the self-join shape
    // (queries = corpus would broadcast the whole corpus); assert on the
    // plans planned while mining (its kernel reads the corpus through
    // one of them), with AQE-at-toy-scale's small-table conversion
    // disabled
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plans = graft.PlanRecorder.physical(spark) {
        graft.functions.VectorIndex.minePairs(
          emb, "vec_id", "embedding", "label", cb, nProbe = 2).queryExecution.executedPlan
      }
      assert(plans.exists(_.toString.contains("embeddings.parquet")), plans.mkString("\n"))
      for (plan <- plans.map(_.toString)) {
        assert(!plan.contains("Broadcast"), plan.take(1500))
        assert(!plan.contains("CartesianProduct"), plan.take(1500))
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }

    // per-cell block bound: pair fan-out per cell is |cell| × (probes
    // into it) — the cells must actually split the corpus, or the
    // "bounded block" claim is vacuous
    val sizes = graft.functions.VectorIndex.assignCells(emb, "embedding", cb)
      .groupBy("__cell").count().collect().map(_.getLong(1))
    val n = emb.count()
    assert(sizes.sum === n)
    assert(sizes.length > 1)
    assert(sizes.max <= n / 2,
      s"largest IVF cell ${sizes.max} of $n — cells do not bound the block")
  }

  test("salted two-phase aggregation matches direct aggregation") {
    val df = Seq.tabulate(1000)(i => (if (i % 10 == 0) "hot" else s"k${i % 50}", i.toLong))
      .toDF("k", "v")
    val direct = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = SkewOps.saltedAggregate(df, "k", 8,
        partialExprs = Seq(sum("v").as("s"), count(lit(1)).as("n")),
        mergeExprs = Seq(sum("s").as("s"), sum("n").as("n")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted === direct)
  }

  test("salted join matches plain join on skewed keys") {
    val big = Seq.tabulate(500)(i => (if (i % 5 == 0) 1L else (i % 20).toLong, s"row$i"))
      .toDF("k", "payload")
    val small = Seq.tabulate(20)(i => (i.toLong, s"dim$i")).toDF("dk", "dim")
    val plain = big.join(small, col("k") === col("dk"))
      .select("payload", "dim").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val salted = SkewOps.saltedJoin(big, small, "k", "dk", 4)
      .select("payload", "dim").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(salted === plain)
  }
}
