package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.tools.Jobs

/** IVF index quality: deterministic training shape and recall against the
  * brute-force top-k (the baseline the index approximates). */
class VectorIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("codebook trains k cells of full dimension; assignment is total") {
    val emb = Tables.load(spark, dir, "embeddings")
    val cb = VectorIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    assert(cb.centroids.length === 8)
    assert(cb.centroids.forall(_.length === 64))
    val cells = VectorIndex.assignCells(emb, "embedding", cb)
      .groupBy("__cell").count().collect()
    assert(cells.map(_.getLong(1)).sum === emb.count()) // every vector in a cell
    assert(cells.length > 1) // clustering actually splits the corpus
  }

  test("codebook round-trips through parquet (train once, reuse)") {
    val emb = Tables.load(spark, dir, "embeddings")
    val cb = VectorIndex.train(emb, "vec_id", "embedding", k = 8, iters = 1)
    val path = java.nio.file.Files.createTempDirectory("ivf-cb").toString + "/codebook"
    VectorIndex.saveCodebook(spark, cb, path)
    val loaded = VectorIndex.loadCodebook(spark, path)
    assert(loaded.centroids.map(_.toSeq).toSeq === cb.centroids.map(_.toSeq).toSeq)
    // identical assignments from the reloaded index
    val a = VectorIndex.assignCells(emb, "embedding", cb)
      .select("vec_id", "__cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = VectorIndex.assignCells(emb, "embedding", loaded)
      .select("vec_id", "__cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a === b)
  }

  test("IVF recall@10 beats the probed-fraction baseline by a wide margin") {
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val cb = VectorIndex.train(emb, "vec_id", "embedding", k = 16, iters = 2)
    val ivf = VectorIndex.search(emb, queries, "vec_id", "embedding", cb,
        nProbe = 4, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    // brute-force ground truth via the oracle-checked query shape
    val brute = graft.SparkEntry.queries("q_ann_cosine_topk")(spark, dir)
      .filter(col("query_id") < 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    val recalls = brute.keys.toSeq.map { q =>
      val hit = ivf.getOrElse(q, Set.empty) & brute(q)
      hit.size.toDouble / brute(q).size
    }
    val mean = recalls.sum / recalls.size
    // probing 4/16 cells scans ~25% of the corpus; near-neighbors
    // concentrate in the query's cells so recall must far exceed that
    assert(mean > 0.5, s"mean recall $mean")
  }

  test("searchSelf(nProbe = k) equals the exact brute-force per-query top-k") {
    val emb = Tables.load(spark, dir, "embeddings")
    val k = 8
    val cb = VectorIndex.train(emb, "vec_id", "embedding", k = k, iters = 2)
    val self = VectorIndex.searchSelf(emb, "vec_id", "embedding", cb,
        nProbe = k, topK = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted
    // ground truth: the oracle-checked broadcast search over the same
    // corpus with queries = corpus (small sf makes this affordable)
    val brute = VectorIndex.search(emb, emb, "vec_id", "embedding", cb,
        nProbe = k, topK = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted
    assert(self.toSeq === brute.toSeq)
  }

  test("searchSelf with nProbe < k keeps recall against its exact twin") {
    val emb = Tables.load(spark, dir, "embeddings")
    val cb = VectorIndex.train(emb, "vec_id", "embedding", k = 16, iters = 2)
    def sets(nProbe: Int) =
      VectorIndex.searchSelf(emb, "vec_id", "embedding", cb, nProbe, topK = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = sets(16)
    val approx = sets(4)
    val recalls = exact.keys.toSeq.map { q =>
      (approx.getOrElse(q, Set.empty) & exact(q)).size.toDouble / exact(q).size
    }
    val mean = recalls.sum / recalls.size
    assert(mean > 0.5, s"mean self-search recall $mean")
  }

  test("multi-assignment mining: every single-assignment pair survives, " +
      "recall vs exact never drops, and assignR = 1 is unchanged") {
    val emb = Tables.load(spark, dir, "embeddings")
    val cb = VectorIndex.train(emb, "vec_id", "embedding", k = 16, iters = 2)
    def mined(np: Int, r: Int) =
      VectorIndex.minePairs(emb, "vec_id", "embedding", "label", cb,
          nProbe = np, assignR = r)
        .collect().map(x => ((x.getLong(0), x.getString(1)), x.getDouble(3))).toMap
    val exact = mined(16, 1) // nProbe = k meets every pair
    val single = mined(4, 1)
    val multi = mined(4, 2)
    // schema/shape invariant: one row per (query, pair_type) either way
    assert(multi.keySet.size === multi.size)
    // r=2 strictly widens coverage: each mined sim can only improve
    single.foreach { case (key, s1) =>
      assert(multi.contains(key), s"r=2 lost pair $key")
      assert(multi(key) >= s1, s"r=2 worsened $key: ${multi(key)} < $s1")
    }
    def recall(m: Map[(Long, String), Double]) =
      exact.count { case (k2, es) => m.get(k2).exists(_ >= es) }.toDouble / exact.size
    assert(recall(multi) >= recall(single),
      s"multi-assign recall ${recall(multi)} < single ${recall(single)}")
  }

  // ---- crafted corpus: what the sf0.01 oracle tables never produce ----

  /** 60 seeded 8-dim vectors around four directions, plus: two exact
    * duplicates of vector 5 (ids 100, 101 — identical scores, the tie
    * must go to the smaller id), a near-duplicate whose cosine to 5
    * differs only past the fourth decimal (ties after rounding), a
    * zero vector (id 200, every score 0.0), its twin (201) and a row
    * with a null label (never "same"). */
  private lazy val crafted: DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    val dirs = Array.fill(4)(Array.fill(8)(rnd.nextGaussian().toFloat))
    val base = (0 until 60).map { i =>
      val d = dirs(i % 4)
      (i.toLong, Option(i % 3), d.map(x => x + 0.6f * rnd.nextGaussian().toFloat))
    }
    val v5 = base(5)._3
    val near = v5.clone(); near(7) = near(7) + 1e-5f
    val extra = Seq(
      (100L, Option(1), v5.clone()), (101L, Option(2), v5.clone()),
      (102L, Option(2), near),
      (200L, Option(0), new Array[Float](8)), (201L, Option(1), new Array[Float](8)),
      (300L, Option.empty[Int], dirs(1).clone()))
    (base ++ extra).toDF("vec_id", "label", "embedding").repartition(3)
  }

  /** Pairs that meet in the index — some posting cell of the neighbor is
    * among the query's probed cells — scored with the catalog formula
    * and ranked with `row_number`. `nProbe = k` is every pair. */
  private def referencePairs(emb: DataFrame, cb: VectorIndex.Codebook,
      nProbe: Int, assignR: Int): DataFrame = {
    val rank = udf((v: Seq[Float]) => cb.nearestN(v, cb.centroids.length))
    val ranked = emb.withColumn("cells", rank(col("embedding")))
    val q = ranked.select(col("vec_id").as("query_id"), col("label").as("q_label"),
      col("embedding").as("qe"), slice(col("cells"), 1, nProbe).as("probes"))
    val c = ranked.select(col("vec_id").as("neighbor_id"), col("label").as("n_label"),
      col("embedding").as("ce"), slice(col("cells"), 1, assignR).as("posts"))
    q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id") &&
        arrays_overlap(col("probes"), col("posts")))
      .select(col("query_id"), col("neighbor_id"),
        when(col("n_label") === col("q_label"), lit("pos")).otherwise(lit("neg"))
          .as("pair_type"),
        round(VectorFunctions.cosine(col("qe"), col("ce")), 4).as("sim"))
  }

  private def bruteTopK(pairs: DataFrame, topK: Int): Seq[(Long, Long, Double, Int)] =
    pairs
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= topK)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getInt(4)))
      .toSeq.sorted

  private def bruteMined(pairs: DataFrame): Seq[(Long, String, Long, Double)] =
    pairs
      .withColumn("rn", row_number().over(Window.partitionBy("query_id", "pair_type")
        .orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rn") === 1)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(1), r.getDouble(3)))
      .toSeq.sorted

  private def selfRows(emb: DataFrame, cb: VectorIndex.Codebook, nProbe: Int,
      topK: Int): Seq[(Long, Long, Double, Int)] =
    VectorIndex.searchSelf(emb, "vec_id", "embedding", cb, nProbe, topK)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sorted

  private def minedRows(emb: DataFrame, cb: VectorIndex.Codebook, nProbe: Int,
      assignR: Int): Seq[(Long, String, Long, Double)] =
    VectorIndex.minePairs(emb, "vec_id", "embedding", "label", cb, nProbe, assignR)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted

  test("crafted set: self search and mining equal the brute-force rank window " +
      "(score ties, zero norms, null labels, nProbe < k, assignR = 2)") {
    val emb = crafted
    val k = 6
    val cb = VectorIndex.train(emb, "vec_id", "embedding", k = k, iters = 2)
    for ((nProbe, assignR) <- Seq((k, 1), (2, 1), (2, 2), (1, 3))) {
      val pairs = referencePairs(emb, cb, nProbe, assignR).cache()
      assert(minedRows(emb, cb, nProbe, assignR) === bruteMined(pairs),
        s"minePairs nProbe=$nProbe assignR=$assignR")
      if (assignR == 1)
        assert(selfRows(emb, cb, nProbe, topK = 4) === bruteTopK(pairs, 4),
          s"searchSelf nProbe=$nProbe")
      pairs.unpersist()
    }
    // the crafted edge cases actually occur in the exact answer
    val exact = selfRows(emb, cb, nProbe = k, topK = 8)
    // exact duplicates (100, 101) and the near-duplicate (102) share the
    // rounded top score of 5, in id order
    val of5 = exact.filter(_._1 == 5L).sortBy(_._4)
    val tiedTop = of5.filter(_._3 == of5.head._3).map(_._2)
    assert(Seq(100L, 101L, 102L).forall(tiedTop.contains), of5)
    assert(tiedTop === tiedTop.sorted, of5)
    assert(exact.filter(_._1 == 200L).forall(_._3 == 0.0)) // zero norm scores 0.0
    assert(exact.filter(_._1 == 200L).sortBy(_._4).map(_._2).take(2) === Seq(0L, 1L))
    val mined = minedRows(emb, cb, nProbe = k, assignR = 1)
    assert(mined.filter(_._1 == 300L).map(_._2) === Seq("neg")) // null label: no "pos"
  }

  test("crafted set: training and mining from one read equal train + minePairs " +
      "/ searchSelf bit for bit at nProbe = k, one job fewer") {
    val emb = crafted // repartition(3): its shuffle runs once per read
    val k = 6
    // (query, pair type or rank, neighbor, raw bits of sim)
    def bits(rows: Array[org.apache.spark.sql.Row]) = rows.toSeq.map(r =>
      (r.getLong(0), String.valueOf(r.get(1)), r.getLong(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).sorted
    val (mined, twoMine) = Jobs.counted(spark) {
      val cb = VectorIndex.train(emb, "vec_id", "embedding", k = k, iters = 2)
      VectorIndex.minePairs(emb, "vec_id", "embedding", "label", cb, nProbe = k)
        .select("query_id", "pair_type", "neighbor_id", "sim").collect()
    }
    val (minedOnce, oneMine) = Jobs.counted(spark) {
      VectorIndex.trainAndMinePairs(emb, "vec_id", "embedding", "label", k = k,
          iters = 2, nProbe = k)
        .select("query_id", "pair_type", "neighbor_id", "sim").collect()
    }
    assert(bits(minedOnce) === bits(mined))
    assert(oneMine.jobs === twoMine.jobs - 1, s"$oneMine vs $twoMine")
    assert(oneMine.stages < twoMine.stages, s"$oneMine vs $twoMine")
    val (found, twoSearch) = Jobs.counted(spark) {
      val cb = VectorIndex.train(emb, "vec_id", "embedding", k = k, iters = 2)
      VectorIndex.searchSelf(emb, "vec_id", "embedding", cb, nProbe = k, topK = 4)
        .select("query_id", "rank", "neighbor_id", "sim").collect()
    }
    val (foundOnce, oneSearch) = Jobs.counted(spark) {
      VectorIndex.trainAndSearchSelf(emb, "vec_id", "embedding", k = k, iters = 2,
          nProbe = k, topK = 4)
        .select("query_id", "rank", "neighbor_id", "sim").collect()
    }
    assert(bits(foundOnce) === bits(found))
    assert(oneSearch.jobs === twoSearch.jobs - 1, s"$oneSearch vs $twoSearch")
  }

  test("training and mining from one read keeps recall against its exact twin at nProbe < k") {
    val emb = Tables.load(spark, dir, "embeddings")
    val k = 16
    def mined(df: DataFrame) =
      df.collect().map(x => ((x.getLong(0), x.getString(1)), x.getDouble(3))).toMap
    val exact = mined(VectorIndex.trainAndMinePairs(emb, "vec_id", "embedding", "label",
      k = k, iters = 2, nProbe = k))
    def recall(m: Map[(Long, String), Double]) =
      exact.count { case (q, es) => m.get(q).exists(_ >= es) }.toDouble / exact.size
    val cb = VectorIndex.train(emb, "vec_id", "embedding", k = k, iters = 2)
    val twoReads = recall(mined(
      VectorIndex.minePairs(emb, "vec_id", "embedding", "label", cb, nProbe = 4)))
    val oneRead = recall(mined(VectorIndex.trainAndMinePairs(emb, "vec_id", "embedding",
      "label", k = k, iters = 2, nProbe = 4)))
    assert(twoReads < 1.0, s"nProbe = 4 of 16 should miss some pairs: $twoReads")
    assert(oneRead === twoReads)
  }

  test("one-pass Lloyd step equals a groupBy(cell, pos).avg of the same assignment") {
    val emb = Tables.load(spark, dir, "embeddings")
    val k = 8
    val init = VectorIndex.Codebook(
      emb.orderBy("vec_id").limit(k).select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray))
    val trained = VectorIndex.train(emb, "vec_id", "embedding", k = k, iters = 1)
    val means = VectorIndex.assignCells(emb, "embedding", init)
      .select(col("__cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("__cell", "pos").agg(avg(col("x")).as("m"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(means.keySet.map(_._1).size > 1)
    for (c <- 0 until k; pos <- 0 until 64) {
      val want = means.getOrElse((c, pos), init.centroids(c)(pos)) // empty cell keeps its centroid
      assert(math.abs(trained.centroids(c)(pos) - want) <= 1e-12,
        s"cell $c pos $pos: ${trained.centroids(c)(pos)} vs $want")
    }
  }

  test("the per-cell kernel keeps its explicit partition count under AQE") {
    // the kernel shuffle is an RDD shuffle, which AQE never coalesces:
    // its partitioner sends cell c to partition c % min(k, parallelism)
    import org.apache.spark.ShuffleDependency
    import org.apache.spark.rdd.RDD
    val emb = Tables.load(spark, dir, "embeddings")
    val k = 8
    val cb = VectorIndex.train(emb, "vec_id", "embedding", k = k, iters = 1)
    val mined = VectorIndex.minePairs(emb, "vec_id", "embedding", "label", cb, nProbe = k)
    def lineage(r: RDD[_]): Seq[RDD[_]] = r +: r.dependencies.flatMap(d => lineage(d.rdd))
    val kernel = lineage(mined.queryExecution.toRdd).flatMap(_.dependencies).collect {
      case d: ShuffleDependency[_, _, _] => d.partitioner
    }.collect { case p: VectorIndex.CellPartitioner => p.numPartitions }
    assert(kernel === Seq(math.min(k, spark.sparkContext.defaultParallelism)))
  }

  test("a null vec_id fails train and minePairs instead of becoming id 0") {
    val s = spark
    import s.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
    val cb = VectorIndex.train(emb, "vec_id", "embedding", k = 4, iters = 1)
    val withNull = emb.select(col("vec_id"), col("embedding"), col("label"))
      .union(Seq((Option.empty[Long], Array.fill(64)(0.5f), 1)).toDF("vec_id", "embedding", "label"))
    for ((what, run) <- Seq[(String, () => Any)](
        "train" -> (() => VectorIndex.train(withNull, "vec_id", "embedding", k = 4, iters = 1)),
        "minePairs" -> (() => VectorIndex.minePairs(withNull, "vec_id", "embedding", "label",
          cb, nProbe = 4).collect()),
        "trainAndMinePairs" -> (() => VectorIndex.trainAndMinePairs(withNull, "vec_id",
          "embedding", "label", k = 4, iters = 1, nProbe = 4).collect()))) {
      val e = intercept[Exception](run())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("VectorIndex: null vec_id")),
        s"$what: $e")
    }
  }
}
