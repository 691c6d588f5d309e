package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Formal cross-checks for the catalog queries without a SQL-expressible
  * oracle: each rows-only query is pinned to an oracle-checked twin by a
  * set-level assertion (the strong complement to the driver's rows>0
  * check). */
class CrossCheckSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("minhash variants recall every true near-dup pair (md5 + native)") {
    // ground truth: exact 3-shingle jaccard > 0.5 pairs (oracle-checked)
    val truth = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val md5Pairs = SparkEntry.queries("q_dedup_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nativePairs = SparkEntry.queries("q_dedup_minhash_native")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    // LSH candidates are supersets of the true pairs on this corpus
    // (recall 1.0 for both hash families at 4 bands x 4 rows)
    assert((truth -- md5Pairs).isEmpty, s"md5 variant missed ${truth -- md5Pairs}")
    assert((truth -- nativePairs).isEmpty, s"native variant missed ${truth -- nativePairs}")
  }

  test("LSH bucket pairing: a null doc_id never pairs (minhash + simhash)") {
    // one copy of each of the first 20 documents gets a null id: it
    // shares every bucket with its original, yet pairs with nothing, and
    // it does not count toward a bucket's size
    val s = spark
    val docs = graft.Tables.load(s, dir, "documents")
    val withNull = docs.union(docs.orderBy("doc_id").limit(20)
      .withColumn("doc_id", org.apache.spark.sql.functions.lit(null).cast("long")))
    val tmp = java.nio.file.Files.createTempDirectory("null-doc-id").toString
    withNull.write.parquet(s"$tmp/documents.parquet")
    for (qn <- Seq("q_dedup_minhash_lsh", "q_dedup_simhash_pairs", "q_dedup_simhash_native")) {
      val got = SparkEntry.queries(qn)(s, tmp).collect()
      assert(got.forall(r => !r.isNullAt(0) && !r.isNullAt(1)), s"$qn paired a null id")
      assert(got.toSet === SparkEntry.queries(qn)(s, dir).collect().toSet, qn)
    }
  }

  test("both simhash pairings recall the true near-dup population") {
    // hash families differ, so the noise band (hamming 4-5) diverges; the
    // invariant is that each family's banding+rescoring finds the REAL
    // near-dups (exact jaccard > 0.5 pairs)
    val truth = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    for (qn <- Seq("q_dedup_simhash_pairs", "q_dedup_simhash_native")) {
      val pairs = SparkEntry.queries(qn)(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (truth & pairs).size.toDouble / truth.size
      assert(recall > 0.8, s"$qn recall=$recall (|truth|=${truth.size})")
    }
  }

  test("q_semdedup_keep = corpus minus non-representatives of q_semdedup_pairs' closure") {
    import org.apache.spark.sql.functions.col
    // the two catalog entries train the k-means codebook independently;
    // deterministic training (init by id, double means) makes the cell
    // assignment — and therefore the pair graph — identical, so keep()
    // must equal the corpus minus the q_dedup_components-style closure
    // of the REPORTED pair set
    val pairs = SparkEntry.queries("q_semdedup_pairs")(spark, dir)
      .select(col("id_a"), col("id_b"))
    val comps = graft.operators.ConnectedComponents.run(pairs, "id_a", "id_b")
    val drops = comps.filter(col("n") =!= col("label"))
      .collect().map(_.getLong(0)).toSet
    val reps = comps.filter(col("n") === col("label"))
      .collect().map(_.getLong(0)).toSet
    val corpus = graft.Tables.load(spark, dir, "embeddings")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val kept = SparkEntry.queries("q_semdedup_keep")(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(drops.nonEmpty, "corpus produced no semantic dup groups — test is vacuous")
    assert(kept.subsetOf(corpus))
    assert(kept === (corpus diff drops), "keep() != corpus minus closure non-reps")
    // exactly one representative per dup group survives — the min id
    assert(reps.subsetOf(kept))
  }

  test("fnv64 fingerprint partitions documents identically to the md5 fingerprint") {
    // same duplicate structure <=> same grouping of doc_ids by fingerprint
    val byFnv = SparkEntry.queries("q_fingerprint_rolling")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val byMd5 = SparkEntry.queries("q_dedup_exact")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2))) // (keep_id, n_copies)
    // q_dedup_exact groups by md5 fingerprint: keep_id+count per group.
    // Compare group-size multisets plus total group count; then verify
    // each fnv group's min id and size appear as an md5 group
    val md5Groups = byMd5.map { case (keepId, n) => (keepId, n) }.toSet
    val fnvGroups = byFnv.map(g => (g.min, g.size.toLong)).toSet
    assert(fnvGroups === md5Groups)
  }

  test("native span dedup finds exactly the md5 twin's (doc,pos) occurrences") {
    def occs(qn: String) = SparkEntry.queries(qn)(spark, dir)
      .select("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(occs("q_dedup_spans_native") === occs("q_dedup_spans"))
  }

  test("int8-quantized vectors preserve brute-force cosine top-k neighbors") {
    // q_embed_quantize is oracle-exact per dimension; this pins its
    // USEFULNESS: reconstructed (q * scale) vectors must rank neighbors
    // like the full-precision kernel (the point of the 4x compression)
    import org.apache.spark.sql.functions._
    import graft.functions.{VectorFunctions => V}
    val full = SparkEntry.queries("q_ann_cosine_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val deq = SparkEntry.queries("q_embed_quantize")(spark, dir)
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("dim"), (col("q") * col("scale")).as("v"))))
        .as("dv"))
      .select(col("vec_id"), expr("transform(dv, x -> cast(x.v as float))").as("embedding"))
    val qs = deq.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val topk = deq.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        V.cosine(col("qe"), col("embedding")).as("sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    assert(full.keySet === topk.keySet)
    val recalls = full.map { case (q, ns) => (topk(q) & ns).size.toDouble / ns.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean top-10 recall after int8 quantization = $mean")
  }

  test("q_ann_ivf_pq agrees with full-scan ADC far above the probed-cell floor") {
    // both entries train deterministic codebooks (init by id, double
    // means), so cell pruning is the only difference vs q_ann_pq: every
    // query must still fill its top-k, and the probed 4-of-16 cells must
    // recover well over the ~25% a random cell subset would
    def byQ(qn: String) = SparkEntry.queries(qn)(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val pruned = byQ("q_ann_ivf_pq")
    val full = byQ("q_ann_pq")
    assert(pruned.keySet === full.keySet)
    assert(pruned.values.forall(_.size == 10))
    val agree = full.keys.map(q => (pruned(q) & full(q)).size.toDouble / 10)
    val mean = agree.sum / agree.size
    assert(mean > 0.5, s"IVF+PQ vs full ADC agreement $mean")
  }

  test("approx_count_distinct lands within 3x rsd of the exact count") {
    val exact = SparkEntry.queries("q_count_distinct")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = SparkEntry.queries("q_approx_distinct")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (flag, n) =>
      val a = approx(flag)
      assert(math.abs(a - n).toDouble / n <= 0.03, s"$flag: approx=$a exact=$n")
    }
  }

  test("approx_percentile (the 100 TB quantile path) brackets the exact selection") {
    import org.apache.spark.sql.functions._
    // q_length_quantiles is the oracle-able exact twin; the sketch with
    // accuracy a guarantees rank error <= n/a — at a=10000 and n<=1e3 per
    // source that is EXACT rank, so the sketch must land within one
    // neighboring order statistic of the discrete selection
    val exact = SparkEntry.queries("q_length_quantiles")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val sk = graft.Tables.load(spark, dir, "documents")
      .groupBy("source")
      .agg(percentile_approx(col("n_chars"),
        array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("q"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sk.keySet === exact.keySet)
    for ((src, (p25, p50, p75)) <- exact) {
      val Seq(a25, a50, a75) = sk(src).toSeq
      // percentile_approx uses ceil-rank selection vs our floor-index —
      // values may differ by one order statistic but never more
      for (((e, a), p) <- Seq(p25 -> a25, p50 -> a50, p75 -> a75).zip(Seq(25, 50, 75)))
        assert(math.abs(a - e).toDouble <= math.max(1.0, 0.1 * e),
          s"$src p$p: sketch=$a exact=$e")
    }
  }

  test("containment dominates jaccard on every shared pair (Broder identity)") {
    // J = |∩|/|∪| <= |∩|/max(|A|,|B|) = min(cont_a, cont_b) — an exact
    // set identity over the same kept-shingle space, so any violation is
    // an implementation bug in one of the two queries, not noise
    val jac = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cont = SparkEntry.queries("q_dedup_containment")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(cont.nonEmpty)
    for ((pair, (ca, cb)) <- cont) {
      assert(ca > 0 && ca <= 1.0 + 1e-9 && cb > 0 && cb <= 1.0 + 1e-9, s"$pair: $ca/$cb")
      jac.get(pair).foreach { j =>
        assert(j <= math.min(ca, cb) + 1e-9, s"$pair: J=$j > min($ca, $cb)")
      }
    }
    // and a high-jaccard pair is necessarily high-containment: every
    // J > 0.5 pair (truth set) must appear in the containment >= 0.8
    // output OR have both containments below the cut — here the corpus'
    // near-dups are mutual near-copies, so expect full overlap
    val missed = jac.keySet -- cont.keySet
    assert(missed.isEmpty || jac.filter(p => missed(p._1)).values.forall(_ < 0.8),
      s"high-J pairs missing from containment: $missed")
  }
}
