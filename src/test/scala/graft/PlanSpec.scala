package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: these assertions pin the properties that make the
  * catalog viable at 100 TB — filters and projections reaching the parquet
  * scan, dimension joins broadcasting instead of shuffling the fact side,
  * aggregations doing map-side partial combine, top-k avoiding a global
  * sort. A plan regression here is a scale bug even when results stay
  * correct. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("filter+projection push into the parquet scan (q_filter_project)") {
    val plan = planOf("q_filter_project")
    assert(plan.contains("PushedFilters: [IsNotNull"), plan.take(800))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan.take(800))
    // pruned read schema: only the referenced columns are read
    assert(!plan.contains("l_comment") && !plan.contains("l_tax"))
  }

  test("dimension join broadcasts, fact side not shuffled (q_join_broadcast_dim)") {
    val plan = planOf("q_join_broadcast_dim")
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("star join broadcasts every dimension (q_join_multiway)") {
    val plan = planOf("q_join_multiway")
    assert("BroadcastHashJoin".r.findAllIn(plan).size === 3)
    assert(!plan.contains("SortMergeJoin"))
  }

  test("aggregation has map-side partial combine (q_agg_pricing_summary)") {
    val plan = planOf("q_agg_pricing_summary")
    assert(plan.contains("partial_sum") || plan.contains("partial_"), plan.take(800))
  }

  test("top-k is TakeOrderedAndProject, not a global sort (q_orderby_limit_topk)") {
    val plan = planOf("q_orderby_limit_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("whole-stage codegen spans the hot path (q_ks_filter)") {
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    val plan = planOf("q_ks_filter")
    assert(plan.contains("*(1)"), plan.take(500))
    // and the filter pushes into the scan with pruned columns
    assert(plan.contains("PushedFilters: [IsNotNull(event_type)"), plan.take(800))
  }

  test("ANN query broadcasts the query batch, scans corpus once (q_ann_cosine_topk)") {
    val plan = planOf("q_ann_cosine_topk")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(800))
  }

  test("deterministic sample prunes the scan to (doc_id, lang)") {
    val plan = planOf("q_sample_stratified")
    assert(!plan.contains("text"), plan.take(800)) // heavy column not read
    assert(plan.contains("ReadSchema") && plan.contains("doc_id"), plan.take(800))
  }

  test("as-of join enriches through one shuffle, no join node") {
    val plan = planOf("q_asof_join")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      plan.take(1000))
    assert(plan.split("Exchange hashpartitioning").length - 1 === 1, plan.take(1000))
  }

  test("semi/anti joins stay joins (no subquery materialization)") {
    assert(planOf("q_join_semi").contains("LeftSemi"))
    assert(planOf("q_join_anti").contains("LeftAnti"))
  }

  test("repartition elision: aggregation adds no shuffle over a repartition point (§4.1)") {
    // the reference elides repartition topics when the key is unchanged
    // (repartitionRequired flag in KStreamImpl); Catalyst's equivalent:
    // a groupBy over an explicitly key-partitioned child (through())
    // inserts NO additional exchange — the repartition satisfies the
    // aggregation's required distribution
    import org.apache.spark.sql.functions._
    val rekeyed = Tables.load(spark, dir, "events")
      .select((col("user_id") % 7).as("k"), col("value"))
      .repartition(col("k"))
    val agg = rekeyed.groupBy("k").agg(sum(col("value")).as("s"))
    val plan = agg.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan.take(1500))
  }

  test("hive-style partitioned layout prunes partitions at the scan") {
    // the 100 TB layout: facts partitioned by a coarse key; a filter on the
    // partition column must become a PartitionFilter (skips whole dirs),
    // not a data filter
    val out = java.nio.file.Files.createTempDirectory("graft-part").toString
    Tables.load(spark, dir, "events")
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    val plan = spark.read.parquet(out)
      .filter(org.apache.spark.sql.functions.col("event_type") === "click")
      .groupBy("user_id").count()
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan.take(900))
    // and no row-level filter remains for the partition predicate
    assert(!plan.contains("PushedFilters: [IsNotNull(event_type)"), plan.take(900))
  }

  test("decontamination broadcasts the eval set; train side joins without shuffle") {
    val plan = planOf("q_decontaminate")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"))
    // only (doc_id, text) read from the documents scan
    assert(!plan.contains("n_chars") && !plan.contains("source"))
  }

  test("shipping priority: broadcast dim, partial agg, top-k without global sort") {
    val plan = planOf("q_join_shipping_priority")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(plan.contains("partial_sum"))
    // both date filters push into their scans
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate"))
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate"))
  }

  test("PII redaction is a pure codegen'd projection — no shuffle, no join") {
    val plan = planOf("q_pii_redact")
    assert(!plan.contains("Exchange"), plan.take(800))
    assert(plan.contains("*(1)"), plan.take(300))
  }

  test("span dedup: occurrences ride buckets as structs, no corpus re-join") {
    val plan = planOf("q_dedup_spans")
    // one hash-partitioned exchange on the span hash for the bucket agg —
    // and no join node anywhere (the oracle's JOIN g is expressed as the
    // in-bucket filter + explode instead)
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("sliding windows: both frames in ONE Window pass, one key shuffle") {
    val plan = planOf("q_window_sliding_count")
    // both RANGE frames share partition+sort, so Catalyst must plan a
    // single Window operator — a second Window or Exchange over the same
    // data would double the scan at scale
    assert("\\bWindow\\b".r.findAllIn(plan).size === 1, plan.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2, plan.take(1500))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("ngram LM counts: generator + partial agg + TakeOrdered, no join") {
    val plan = planOf("q_ngram_lm_counts")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(plan.contains("partial_count") || plan.contains("partial_"), plan.take(800))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("BPE pair counts: two partial-agg'd shuffles + TakeOrdered, no join") {
    val plan = planOf("q_bpe_pair_counts")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(plan.contains("partial_count") || plan.contains("partial_"), plan.take(800))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("BPE merge loop: per-round lineage is truncated — the result plan " +
      "is a union of checkpointed 5-row RDDs, no parquet, no shuffle") {
    // like the CC operator, each round localCheckpoints: the returned
    // DataFrame must not drag 3 rounds of tokenize/agg lineage behind it
    // (an N-merge trainer would otherwise grow its plan linearly in N)
    val plan = planOf("q_bpe_merges")
    assert(plan.contains("Scan ExistingRDD"), plan.take(1200))
    assert(!plan.contains("parquet"), plan.take(1200))
    assert(!plan.contains("Exchange"), plan.take(1200))
    assert(!plan.contains("HashAggregate"), plan.take(1200))
  }

  test("byte-BPE merge loop: per-round lineage truncated (byte twin of " +
      "the char pin — checkpointed 5-row RDDs, no parquet, no shuffle)") {
    val plan = planOf("q_bpe_byte_merges")
    assert(plan.contains("Scan ExistingRDD"), plan.take(1200))
    assert(!plan.contains("parquet"), plan.take(1200))
    assert(!plan.contains("Exchange"), plan.take(1200))
    assert(!plan.contains("HashAggregate"), plan.take(1200))
  }

  test("byte-BPE stats: corpus->dictionary is an unhinted pre-token " +
      "equi-join — no cartesian, no nested loop, AQE decides the strategy") {
    val plan = planOf("q_bpe_byte_stats")
    assert(plan.contains("Join"), plan.take(1500))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("correlated scalar subquery decorrelates to aggregate + join") {
    val plan = planOf("q_subquery_correlated")
    // RewriteCorrelatedScalarSubquery: no per-row subquery execution —
    // the plan is a hash aggregate joined back on the correlation key
    assert(!plan.contains("Subquery"), plan.take(1500))
    assert(plan.contains("Join"), plan.take(800))
  }

  test("fk join is a hash equi-join on the derived fk — no nested loop") {
    val plan = planOf("q_table_fk_join")
    assert(plan.contains("HashJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(1200))
  }

  test("cogroup: N sides through ONE key shuffle into one fold") {
    val plan = planOf("q_cogroup")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, plan.take(1500))
    assert(plan.contains("Union"), plan.take(800))
  }

  test("next-fit packing: one shard shuffle, the fold rides the agg - " +
      "no window, no join, no second exchange") {
    val plan = planOf("q_pack_nextfit")
    // groupBy(shard) is the operator's single shuffle; the per-shard
    // next-fit fold is an expression over the collected array, so no
    // WindowExec over the corpus and no join anywhere
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, plan.take(1500))
    assert(!plan.contains("WindowExec") && !plan.contains("Join"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("timeseries similarity: equi-joins only, top-k is TakeOrderedAndProject") {
    val plan = planOf("q_timeseries_similar")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(1200))
  }

  test("CEP pattern match: one key shuffle, no window pass, no join") {
    val plan = planOf("q_pattern_match")
    assert(!plan.contains("WindowExec") && !plan.contains("Join"), plan.take(1200))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, plan.take(1500))
  }

  test("LM scoring joins doc-trigrams to counts on the compact trigram key") {
    val plan = planOf("q_lm_score")
    // partial agg before both shuffles; equi-join, never a cross product
    assert(plan.contains("partial_"), plan.take(1200))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(1200))
  }

  test("line cleaning ops are map-only: no join, no key shuffle, no window") {
    for (q <- Seq("q_line_filter", "q_repetition_remove")) {
      val plan = planOf(q)
      assert(!plan.contains("Join"), s"$q: ${plan.take(800)}")
      assert(!plan.contains("Window"), s"$q: ${plan.take(800)}")
      // the only exchange allowed is the round-robin spread of a
      // few-file, many-row input — never a key shuffle (the op must ride the
      // scan at 100 TB)
      assert(!plan.contains("hashpartitioning"), s"$q: ${plan.take(800)}")
    }
  }

  test("classifier scoring is map-side: weights ride as plan literals, no shuffle") {
    val plan = planOf("q_quality_classifier")
    assert(!plan.contains("Join"), plan.take(800))
    assert(!plan.contains("hashpartitioning"), plan.take(800))
  }

  test("corpus line dedup: partial-agg'd hash count, equi-joins only") {
    val plan = planOf("q_line_dedup_corpus")
    // line-frequency count partial-aggregates map-side; the banned-set
    // join is an equi-join on the compact 60-bit hash, never a product
    assert(plan.contains("partial_"), plan.take(1200))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(1200))
  }

  test("perplexity buckets: ONE window over the bounded histogram, thresholds broadcast") {
    val plan = planOf("q_perplexity_buckets")
    // the cumulative pass must run over the ≤1e6-row quantized histogram
    // (exactly one Window node), and the per-language threshold table
    // (2 longs per lang) joins by broadcast — the corpus is never sorted
    assert("Window \\[".r.findAllIn(plan).size === 1, plan.take(1500))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("incremental near-dup probe pairs WITHOUT a join node") {
    // candidate pairing is the one bucket groupBy (index ∪ batch bands);
    // pairs materialize inside the bucket rows — a join-based pairing
    // would re-shuffle both sides and recompute bucket membership
    val plan = planOf("q_dedup_minhash_incremental")
    assert(!plan.contains("Join"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("latest-per-key is a max_by partial agg, NOT a rank window") {
    // a rank window shuffles every update of a key into ONE task and sorts
    // it — a hot key with 10⁹ updates becomes a straggler; the arg-max
    // partial agg map-side-combines and is skew-proof with identical output
    for (q <- Seq("q_ktable_latest_per_key", "q_table_table_join", "q_table_outer_join")) {
      val plan = planOf(q)
      assert(!plan.contains("Window"), s"$q: ${plan.take(1200)}")
      assert(plan.contains("partial_max_by") || plan.contains("partial_"),
        s"$q: ${plan.take(1200)}")
    }
  }

  test("sparse retrieval: query side broadcasts onto the posting lists, no product") {
    // the dim-join is the inverted-index merge: the query vectors (a
    // bounded batch) broadcast; the corpus posting list never re-shuffles
    // for the join, and nothing degenerates into a cartesian pass
    val plan = planOf("q_rag_retrieval")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("BM25 search is a kernel: the returned plan has no join, window or shuffle") {
    // functions.Bm25 scores and ranks in two map-only RDD passes and
    // returns the merged top-k as a local relation
    val plan = planOf("q_bm25_search")
    for (op <- Seq("Join", "Window", "Exchange", "CartesianProduct"))
      assert(!plan.contains(op), s"$op: ${plan.take(1500)}")
  }

  test("span removal: banded family + ONE doc-keyed hit shuffle, cleanup is a map") {
    val plan = planOf("q_dedup_spans_remove")
    // no rank window over the corpus, no product; the coverage lambda is
    // a projection over the joined (toks, hit-positions) row
    assert(!plan.contains("Window"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("blocklist + Luhn PII are map-only: zero Exchange, rides the scan") {
    for (q <- Seq("q_blocklist_filter", "q_pii_luhn")) {
      val plan = planOf(q)
      assert(!plan.contains("Exchange"), s"$q: ${plan.take(1500)}")
      assert(plan.contains("*(1)"), s"$q: ${plan.take(500)}") // codegen'd
    }
  }

  test("sessionization: lag + running sum share ONE user_id shuffle") {
    val plan = planOf("q_sessionize")
    // both window passes and the session agg ride one hash partitioning
    // on user_id (the agg's composite key is a superset — no re-shuffle)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, s"$exchanges exchanges: ${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("wordpiece fertility re-tokenizes the corpus via a BROADCAST word join") {
    // the corpus-sized token stream must never shuffle for the
    // word -> n_pieces join; only the tiny (source, lang) agg exchanges
    val plan = planOf("q_wordpiece_fertility")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("event transitions: corpus Window runs ONCE, totals fold the " +
      "checkpointed matrix and broadcast") {
    // the transition matrix localCheckpoints, so the final plan must NOT
    // contain the corpus-wide lag Window or a parquet re-scan — the
    // totals side folds the materialized |event_types|² rows
    val plan = planOf("q_event_transitions")
    assert(plan.contains("Scan ExistingRDD"), plan.take(1500))
    assert(!plan.contains("Window"), plan.take(1500))
    assert(!plan.contains("parquet"), plan.take(1500))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("type/token stats: two partial-agg'd shuffles, no join, no window") {
    val plan = planOf("q_type_token_stats")
    assert(plan.contains("partial_"), plan.take(800))
    assert(!plan.contains("Join"), plan.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2, plan.take(1500))
  }

  test("char diversity: two partial-agg'd shuffles, no join") {
    val plan = planOf("q_char_diversity")
    assert(plan.contains("partial_"), plan.take(800))
    assert(!plan.contains("Join"), plan.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2, plan.take(1500))
  }

  test("contamination report: eval set broadcasts, train side never sort-merges") {
    val plan = planOf("q_contamination_report")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("CMS heavy hitters: sketch broadcasts to the probe, top-k bounded") {
    val plan = planOf("q_heavy_hitters_cms")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
  }

  // ---- bounded-window discipline: every unpartitioned Window (the
  // "moving all data to a single partition" shape) must be fed by a node
  // that bounds its input BY CONSTRUCTION — a Limit/TakeOrdered or a
  // group-by whose key cardinality is a contract constant (|languages|,
  // 20 fixed buckets). These four pins make that discipline explicit for
  // the four catalog queries that use a global window.

  /** Asserts every partition-less WindowExec in `df`'s physical plan has
    * a Limit / TakeOrdered / Aggregate descendant (the bounding node). */
  private def assertUnpartitionedWindowsBounded(
      df: org.apache.spark.sql.DataFrame, who: String): Unit = {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    // sparkPlan (pre-AQE) so the tree is traversable
    val plan = df.queryExecution.sparkPlan
    val wins = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(wins.nonEmpty, s"$who: expected an unpartitioned WindowExec in\n$plan")
    wins.foreach { w =>
      val bounded = w.child.collectFirst {
        case n: GlobalLimitExec => n
        case n: TakeOrderedAndProjectExec => n
        case n: HashAggregateExec => n
        case n: ObjectHashAggregateExec => n
        case n: SortAggregateExec => n
      }
      assert(bounded.isDefined,
        s"$who: unpartitioned Window has unbounded input:\n$w")
    }
  }

  test("q_vocab_token_ids: global ranking window rides on the 1000-row Limit") {
    assertUnpartitionedWindowsBounded(
      SparkEntry.queries("q_vocab_token_ids")(spark, dir), "q_vocab_token_ids")
  }

  test("q_bpe_merges round: global top-5 window rides on the 5-row Limit") {
    // the query checkpoints each 5-row round, so the final plan hides the
    // window — pin the pre-checkpoint round shape directly
    val words = graft.queries.LlmPipeline.bpeWords(spark, dir)
    assertUnpartitionedWindowsBounded(
      graft.queries.LlmPipeline.bpeTop5(words, 1), "q_bpe_merges round")
  }

  test("q_mixture_unimax: global prefix window rides on the |languages| agg") {
    assertUnpartitionedWindowsBounded(
      SparkEntry.queries("q_mixture_unimax")(spark, dir), "q_mixture_unimax")
  }

  test("q_vocab_growth: cumulative window rides on the 20-bucket agg") {
    assertUnpartitionedWindowsBounded(
      SparkEntry.queries("q_vocab_growth")(spark, dir), "q_vocab_growth")
  }

  test("q_quality_budget_threshold: cumulative sweep rides the <=1001-bucket histogram") {
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q_quality_budget_threshold")(spark, dir)
    val wins = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    // the histogram is localCheckpoint'd (ONE corpus scan feeds both the
    // sweep and the total), so the window's input is the checkpoint RDD
    // of the bounded agg — never a document scan
    wins.foreach { w =>
      val ck = w.child.collectFirst { case n: RDDScanExec => n }
      assert(ck.isDefined, s"window not fed by the bounded histogram:\n$w")
      assert(!w.child.toString.contains("parquet"),
        s"window reads the corpus directly:\n$w")
    }
  }

  test("source overlap: distinct-collapsed equi-join, no cartesian") {
    val plan = planOf("q_source_overlap")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    // the pair join is an EQUI-join on the shingle (hash-joinable at any
    // scale — AQE picks broadcast at this sf, shuffle at real scale),
    // fed by the distinct (source, shingle) collapse
    assert(plan.contains("Join [s#") || plan.contains("Join [s "), plan.take(2000))
    // the Jaccard denominators join as broadcast dimension tables
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("embed drift: centroid table broadcasts back over the corpus") {
    val plan = planOf("q_embed_drift")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(plan.contains("partial_"), plan.take(1500))
  }

  test("image aHash dedup: banded candidates, no cartesian, no rank window") {
    val plan = planOf("q_image_ahash_dedup")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    // the pin forbids RANK-window pair generation over the corpus; the
    // r16 bucket-size guard is a count window keyed by the band (the
    // spill-safe pre-filter before collect_list) and is allowed
    assert(!plan.contains("row_number"), plan.take(1500))
    assert(!plan.contains("rank("), plan.take(1500))
    // exactly one window, and it is the bucket count
    assert("windowspecdefinition".r.findAllMatchIn(plan).size === 1, plan.take(3000))
    assert(plan.contains("count(1) windowspecdefinition("), plan.take(3000))
  }

  test("HLL registers: one partial-agg'd shuffle, no join before estimate") {
    val plan = planOf("q_hll_distinct")
    assert(plan.contains("partial_"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("k-means: assignment is map-only over broadcast centroid literals") {
    val plan = planOf("q_kmeans_clusters")
    // no join anywhere in assignment — centroids are codegen'd literals;
    // the only join is the broadcast cluster-size attach
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("winnowing: the selection window is partitioned per doc") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q_winnowing_overlap")(spark, dir)
    val bad = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"q_winnowing_overlap: unpartitioned window:\n$bad")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("LSH PR eval: threshold table broadcasts, no cartesian pair join") {
    val plan = planOf("q_lsh_pr_eval")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    // the 4-row threshold side and 1-row total must broadcast
    assert(plan.contains("BroadcastNestedLoopJoin BuildLeft") ||
      plan.contains("BroadcastNestedLoopJoin BuildRight"), plan.take(1500))
  }

  test("MinHash pair graph: one md5_minhash kernel, no interpreted shingle lambda") {
    // the shingle lambda was transform(sequence(1, n), i ->
    // concat_ws(' ', slice(tokens, i, 3))), hashed per element
    def assertNoLambda(plan: String, what: String): Unit = {
      assert(!plan.contains("sequence("), s"$what:\n${plan.take(1500)}")
      assert(!plan.contains("concat_ws( , slice("), s"$what:\n${plan.take(1500)}")
    }
    // both queries pair the buckets (and close the graph) on RDDs while
    // they are built, so their returned plans only read the pairs: check
    // every plan Spark plans during the build instead
    for (q <- Seq("q_dedup_minhash_lsh", "q_dedup_components")) {
      val plans = PlanRecorder.logical(spark)(planOf(q)).map(_.toString)
      assert(plans.exists(_.contains("md5_minhash(")), s"$q:\n${plans.mkString("\n").take(1500)}")
      plans.foreach(assertNoLambda(_, q))
    }
  }

  test("C4 scoring: one text_stats kernel inside whole-stage codegen, no lambda") {
    // quality and language ID were ~10 filter/transform lambdas over split
    // token arrays, evaluated interpreted, once per field the filter read
    val df = SparkEntry.queries("q_pipeline_c4")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val text = plan.toString
    assert(!text.contains("lambdafunction"), text)
    assert("text_stats\\(".r.findAllIn(text).size === 1, text)
    assert(text.linesIterator.exists(l =>
      l.matches(""".*\*\(\d+\) Generate .*text_stats\(.*""")), text)
  }

  test("pair-mining kernels run on RDDs: no typed operator, no object or sort aggregate") {
    // IVF mining and LSH bucket pairing used to run as typed Datasets
    // (row deserializers, mapPartitions) with collect_list / max(struct)
    // aggregates: every one of those nodes compiles classes of its own
    import org.apache.spark.sql.execution.{DeserializeToObjectExec, MapPartitionsExec}
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
    for (q <- Seq("q_contrastive_pairs_self", "q_dedup_minhash_lsh", "q_dedup_simhash_pairs")) {
      val plans = PlanRecorder.physical(spark)(planOf(q))
      assert(plans.nonEmpty, q)
      val typed = plans.flatMap(_.collect {
        case p @ (_: ObjectHashAggregateExec | _: SortAggregateExec |
            _: DeserializeToObjectExec | _: MapPartitionsExec) => p.nodeName
      })
      assert(typed.isEmpty, s"$q: ${typed.distinct}\n${plans.mkString("\n").take(3000)}")
    }
  }

  test("triangle census: ordered-edge equi-joins only, no cartesian") {
    val plan = planOf("q_graph_triangles")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("z-order layout: rank windows ride the bounded cell histogram") {
    // the ONLY unpartitioned windows are the cum-count over the <=65536-
    // row cell table (HashAggregate child = the bounding node); the
    // per-cell row_number is partitioned; no cartesian anywhere. The
    // bound is ENFORCED, not narrated (r12): the cell-key domain guard
    // (DataEng.boundedCells assert_true filter) must survive into the
    // executed plan, so a future grid-constant edit fails loudly instead
    // of single-tasking a corpus-sized table through the window.
    assertUnpartitionedWindowsBounded(
      SparkEntry.queries("q_zorder_layout")(spark, dir), "q_zorder_layout")
    val plan = planOf("q_zorder_layout")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(plan.contains("raise_error"), "cell-domain guard pruned from plan")
  }

  test("SCD2 history: both validity windows share one user_id shuffle") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q_scd2_history")(spark, dir)
    // executedPlan: exchanges are inserted by EnsureRequirements there
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, s"$exchanges exchanges: ${plan.take(1500)}")
    val unpart = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(unpart.isEmpty, s"q_scd2_history: unpartitioned window:\n$unpart")
  }

  test("attribution: per-user window partitioned, rollup partial-agg'd") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q_attribution_last_touch")(spark, dir)
    val unpart = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(unpart.isEmpty, s"unpartitioned window:\n$unpart")
    val plan = planOf("q_attribution_last_touch")
    assert(plan.contains("partial_"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("DQ rules: customer RI check broadcasts the dim, no cartesian") {
    val plan = planOf("q_dq_rules")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("CDC apply: both sides reduce to one row per key before the join") {
    val plan = planOf("q_cdc_apply")
    // partial max_by/count on the map side of each grouped input
    assert(plan.contains("partial_"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("equi-depth histogram: rank window rides the bounded cell table") {
    assertUnpartitionedWindowsBounded(
      SparkEntry.queries("q_histogram_equidepth")(spark, dir),
      "q_histogram_equidepth")
    val plan = planOf("q_histogram_equidepth")
    assert(!plan.contains("CartesianProduct"))
    // the <=4096-cell contract is enforced in-plan (r12; see z-order pin)
    assert(plan.contains("raise_error"), "cell-domain guard pruned from plan")
  }

  test("boundedCells guard THROWS when a cell key escapes its grid domain") {
    import spark.implicits._
    val cells = Seq((0L, 5L), (99999L, 7L)).toDF("lv", "cn")
    val e = intercept[Exception] {
      graft.queries.DataEng.boundedCells(cells, "lv", 65536L, "spec").count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("bounded")), msgs(e).mkString(" | "))
  }

  test("PMI collocations: lexicon broadcasts, top-100 is TakeOrdered") {
    val plan = planOf("q_pmi_collocations")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("k-anonymity: two hash aggs, totals broadcast, no cartesian") {
    val plan = planOf("q_k_anonymity")
    assert(plan.contains("partial_"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("hilbert layout: rank windows ride the bounded cell histograms") {
    assertUnpartitionedWindowsBounded(
      SparkEntry.queries("q_hilbert_layout")(spark, dir), "q_hilbert_layout")
    assert(!planOf("q_hilbert_layout").contains("CartesianProduct"))
  }

  test("bloom reduction: fact probed by broadcast semi joins, never sort-merged") {
    val plan = planOf("q_bloom_semi_reduction")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("random projection: JL matrix broadcasts onto the exploded corpus") {
    val plan = planOf("q_random_projection")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    assert(plan.contains("partial_"), plan.take(1500))
  }

  test("linear attribution: corpus window pre-folds, final plan shuffle-free") {
    // the five channel aggs ride the checkpointed purchase table — no
    // hashpartitioning exchange may survive into the final plan
    val plan = planOf("q_attribution_linear")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 0, s"$exchanges exchanges: ${plan.take(1500)}")
  }

  // ---- r9 batch: bounded-buffer selects and sketch shapes

  test("topk-per-source: bounded aggregation, NO Window over the vocabulary") {
    // the point of GroupTopK: a rank window here would sort every
    // (source, word, n) row inside one partition per source
    val plan = planOf("q_topk_per_source")
    assert(!plan.contains("Window"), plan.take(1500))
    assert(plan.contains("partial_"), plan.take(1500)) // map-side combine
  }

  test("weighted sample: bounded aggregation, NO Window over the corpus") {
    val plan = planOf("q_weighted_sample")
    assert(!plan.contains("Window"), plan.take(1500))
    assert(plan.contains("partial_"), plan.take(1500))
  }

  test("kmv sketch: ONE corpus exchange, partial-agg'd, no Window/sort-join") {
    // the bounded KmvAgg buffer dedups map-side: the exploded shingle
    // table crosses the wire once, as <= k longs per (partition, group)
    val plan = planOf("q_kmv_distinct")
    assert(plan.contains("partial_"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("seasonal anomaly: windows partition by event_type over the day agg") {
    // the per-type median window may only see the |types|*|days| agg
    // table, never raw events: every WindowExec must be partitioned and
    // fed by an aggregate
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q_seasonal_anomaly")(spark, dir)
    val wins = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty, s"unpartitioned window:\n$w")
      val agg = w.child.collectFirst {
        case n: org.apache.spark.sql.execution.aggregate.HashAggregateExec => n
        case n: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => n
        case n: org.apache.spark.sql.execution.aggregate.SortAggregateExec => n
        case n if n.getClass.getSimpleName.contains("Checkpoint") => n
        case n: org.apache.spark.sql.execution.RDDScanExec => n // localCheckpoint
      }
      assert(agg.isDefined, s"window not fed by the bounded day agg:\n$w")
    }
  }

  test("prefix-filter join: no corpus window, no cartesian, no forced hint") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q_dedup_prefix_filter")(spark, dir)
    // the per-doc prefix comes from sort_array inside an agg buffer —
    // the plan may not contain ANY window (a rank over the corpus token
    // table would be the non-scalable formulation the oracle uses)
    val wins = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(wins.isEmpty, s"window in prefix-filter plan:\n$wins")
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, "forced join hint on a corpus/vocab-sized side")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    assert(plan.contains("partial_"), plan.take(1200))
  }

  test("emit-on-change: lag window partitions per key, one shuffle") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q_emit_on_change")(spark, dir)
    val wins = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"unpartitioned window:\n${wins.mkString("\n").take(800)}")
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan.take(1200))
  }

  test("dedup/ER corpus-sized joins carry NO broadcast hint (AQE decides)") {
    // r9 verdict: a hard-coded broadcast() on a corpus-proportional table
    // (per-doc shingle sizes, dedup losers, surviving bucket keys,
    // per-doc fingerprint counts) is the one dies-not-degrades pattern at
    // 100x scale — the hint must NOT exist in the plan. AQE still
    // broadcasts when a side is genuinely small; the pin is that nothing
    // REQUIRES it. (Bounded-side hints — eval sets, threshold literals,
    // k-row centroid tables — live in other queries and stay.)
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    for (q <- Seq("q_dedup_ngram_jaccard", "q_dedup_char_ngram",
        "q_dedup_containment", "q_dedup_keep", "q_er_fuzzy_pairs",
        "q_er_entities", "q_winnowing_overlap")) {
      val hints = SparkEntry.queries(q)(spark, dir)
        .queryExecution.analyzed.collect { case h: ResolvedHint => h }
      assert(hints.isEmpty, s"$q: forced join hint on a corpus-sized side:\n" +
        hints.mkString("\n").take(1200))
      // and the unhinted equi-joins must never degrade to cartesian
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q: ${plan.take(1200)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: ${plan.take(1200)}")
    }
  }

  test("q_lsh_pr_eval: only the 4-row threshold table is hinted") {
    // the per-doc `sized` joins went unhinted in r10; the two surviving
    // hints are the bounded threshold-literal table (plus its total row)
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val df = SparkEntry.queries("q_lsh_pr_eval")(spark, dir)
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    // every hinted subtree must be the threshold/total literals (bounded):
    // a LocalRelation or a 1-row aggregate, never a documents scan
    hints.foreach { h =>
      val scansDocs = h.child.collectFirst {
        case r: org.apache.spark.sql.catalyst.catalog.HiveTableRelation => r
      }.isDefined || h.child.toString.contains("documents.parquet")
      assert(!scansDocs, s"q_lsh_pr_eval: corpus-sized hint:\n${h.toString.take(800)}")
    }
  }

  test("integer-grid ANN/semdedup queries: bounded folds, no rank window, " +
      "no cartesian, corpus sides unhinted") {
    // r11 promotions: the top-k stages are the bounded-buffer fold (a
    // rank window over the candidate table would ship every candidate
    // of a query to one task), candidate generation is the cell
    // equi-join (never all-pairs), and the only broadcast hints are the
    // bounded query-batch / codebook sides — the corpus-sized cell
    // tables stay unhinted so AQE decides.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q_ann_ivf", "q_ann_pq", "q_ann_ivf_pq",
        "q_semdedup_pairs", "q_ivf_recall_eval")) {
      val df = SparkEntry.queries(q)(spark, dir)
      val wins = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
      assert(wins.isEmpty, s"$q: rank window in an ANN plan:\n$wins")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q: ${plan.take(1200)}")
      // q_ivf_recall_eval's EXACT audit side is deliberately the
      // q_ann_cosine_topk shape — corpus scanned once against the
      // broadcast query batch (a non-equi BNLJ on the bounded side);
      // the serve paths must never need one
      if (q != "q_ivf_recall_eval")
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: ${plan.take(1200)}")
      // hinted sides must be bounded (query batch / codebook / ADC
      // table), never an embeddings-corpus scan
      val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
      val corpusHints = hints.filter { h =>
        val c = h.child.toString
        // a bounded hinted side is either a literal LocalRelation (the
        // collected codebook/ADC table) or a `vec_id < 20` query-batch
        // slice of the corpus; a hint on the RAW corpus scan (the r9
        // dies-not-degrades pattern) has the parquet relation with no
        // such filter
        c.contains("embeddings.parquet") && !c.contains("< 20")
      }
      assert(corpusHints.isEmpty,
        s"$q: forced hint on a corpus-sized side:\n" +
          corpusHints.mkString("\n").take(1200))
    }
  }

  test("leakage-safe split: membership join unhinted, no corpus window, " +
      "no cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q_split_leakage_safe")(spark, dir)
    val wins = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(wins.isEmpty, s"corpus window in split plan:\n$wins")
    // the cluster-membership table is dup-mass-sized: no forced hint
    // (AQE broadcasts iff genuinely small) — the same rule as the other
    // dedup-closure consumers
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, "forced hint on the dup-mass membership side")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("mixture epochs: one partial-agg'd corpus scan, totals broadcast") {
    val plan = planOf("q_mixture_epochs")
    assert(plan.contains("partial_"), plan.take(800))
    // the |sources|-row total joins back via broadcast, never sort-merge
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
  }
}
