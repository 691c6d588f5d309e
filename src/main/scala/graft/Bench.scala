package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Benchmark main — the analogue of the reference's `SimpleBenchmark`
  * (`streams/src/test/java/.../perf/SimpleBenchmark.java:401-634`, metrics
  * `records/latency/rec-sec/MB-sec` at `:631-634`) plus the Yahoo query
  * (`perf/YahooBenchmark.java:268-314`), measured over the driver-provided
  * parquet at `SPARK_GRAFT_SF_DIR`.
  *
  * One pass: each workload gets one untimed warm-up, then
  * `SPARK_GRAFT_BENCH_RUNS` timed runs, and reports their median. A timed
  * run rebuilds the workload and writes every output column to the `noop`
  * sink, so no operator can be pruned away by a narrow action. Writes the
  * full readout to BENCH.json and prints ONE JSON line with the driver
  * contract fields (metric/value/unit/queries/sf).
  */
object Bench {

  /** Reference SimpleBenchmark workload -> our query catalog entry. */
  private[graft] val workloads: Seq[(String, String)] = Seq(
    "consume" -> "q_filter_project", // scan+project+pushdown filter
    "processstream" -> "q_ks_filter", // filter workload
    "processstreamwithsink" -> "q_ks_map_selectkey", // map + re-key
    "count" -> "q_grouped_count",
    "windowed-count" -> "q_window_tumbling_count",
    "session-count" -> "q_window_session_count",
    "stream-table-join" -> "q_stream_table_join",
    "stream-stream-join" -> "q_interval_join",
    "table-table-join" -> "q_table_table_join",
    "table-agg" -> "q_table_groupby_aggregate",
    "yahoo" -> "q_yahoo_pipeline",
    // Spark-native analytic + pipeline headliners
    "pricing-summary" -> "q_agg_pricing_summary",
    "star-join" -> "q_join_multiway",
    "topk" -> "q_orderby_limit_topk",
    "dedup-minhash-lsh" -> "q_dedup_minhash_lsh",
    "dedup-minhash-native" -> "q_dedup_minhash_native",
    "dedup-jaccard" -> "q_dedup_ngram_jaccard",
    "ann-cosine-topk" -> "q_ann_cosine_topk",
    // (ann-ivf runs as a custom block below: codebook trained once on a
    // deterministic sample and persisted, the timed loop measures
    // load+search — the production serving shape, not training)
    "text-stats" -> "q_text_stats",
    "lang-id" -> "q_lang_id",
    "dedup-simhash-pairs" -> "q_dedup_simhash_pairs",
    "dedup-simhash-native" -> "q_dedup_simhash_native",
    "asof-join" -> "q_asof_join",
    "sample-stratified" -> "q_sample_stratified",
    "pipeline-c4" -> "q_pipeline_c4",
    "text-chunking" -> "q_text_chunking",
    "sequence-packing" -> "q_sequence_packing",
    "dedup-components" -> "q_dedup_components",
    "embed-quantize" -> "q_embed_quantize",
    "dedup-spans" -> "q_dedup_spans",
    "decontaminate" -> "q_decontaminate",
    "pii-redact" -> "q_pii_redact",
    "shipping-priority" -> "q_join_shipping_priority",
    // (ann-pq runs in the custom ivf/pq block below: codebook trained
    // once and persisted, the timed loop measures loadCodebook +
    // ADC-search — index build is a build cost, not a query cost)
    "dedup-spans-native" -> "q_dedup_spans_native",
    "tfidf" -> "q_tfidf_topterms",
    "vocab-ids" -> "q_vocab_token_ids",
    "sliding-count" -> "q_window_sliding_count",
    "ngram-lm" -> "q_ngram_lm_counts",
    "sliding-live" -> "q_window_sliding_live",
    "fk-join" -> "q_table_fk_join",
    "cogroup" -> "q_cogroup",
    "lm-score" -> "q_lm_score",
    "timeseries-similar" -> "q_timeseries_similar",
    "cep-pattern" -> "q_pattern_match",
    "semdedup" -> "q_semdedup_pairs",
    "corpus-shuffle" -> "q_corpus_shuffle",
    "dedup-priority-keep" -> "q_dedup_priority_keep",
    "contrastive-self" -> "q_contrastive_pairs_self",
    "knn-classify" -> "q_knn_classify",
    "dsir-weights" -> "q_dsir_weights",
    "bpe-pairs" -> "q_bpe_pair_counts",
    "bpe-merges" -> "q_bpe_merges",
    "bpe-byte-encode" -> "q_bpe_byte_encode", // r12: GPT-2-family byte BPE
    "curation-funnel" -> "q_curation_funnel",
    "line-filter" -> "q_line_filter",
    "pack-sequences" -> "q_pack_nextfit",
    "repetition-remove" -> "q_repetition_remove",
    "quality-classifier" -> "q_quality_classifier",
    "ann-ivf-pq" -> "q_ann_ivf_pq",
    "line-dedup-corpus" -> "q_line_dedup_corpus",
    "perplexity-buckets" -> "q_perplexity_buckets",
    "dedup-minhash-incr" -> "q_dedup_minhash_incremental",
    "mixture-unimax" -> "q_mixture_unimax",
    "dedup-spans-remove" -> "q_dedup_spans_remove",
    "mixture-temperature" -> "q_mixture_temperature",
    "length-quantiles" -> "q_length_quantiles",
    "multimodal-resize" -> "q_multimodal_resize",
    "embed-hashed" -> "q_embed_hashed",
    "rag-retrieval" -> "q_rag_retrieval",
    "bm25-search" -> "q_bm25_search",
    "text-normalize" -> "q_text_normalize",
    "ngram-lm-kn" -> "q_ngram_lm_kn",
    "pack-token-budget" -> "q_pack_token_budget",
    "corpus-diff" -> "q_corpus_diff",
    "export-manifest" -> "q_export_manifest",
    "event-funnel" -> "q_event_funnel",
    "cohort-retention" -> "q_cohort_retention",
    "timeseries-sax" -> "q_timeseries_sax",
    "wordpiece-encode" -> "q_wordpiece_encode",
    "wordpiece-fertility" -> "q_wordpiece_fertility",
    "dedup-containment" -> "q_dedup_containment",
    "blocklist-filter" -> "q_blocklist_filter",
    "pii-luhn" -> "q_pii_luhn",
    "outlier-mad" -> "q_outlier_mad",
    "dedup-cluster-sizes" -> "q_dedup_cluster_sizes",
    "label-noise" -> "q_label_noise",
    "train-val-split" -> "q_train_val_split",
    "domain-excess" -> "q_domain_excess",
    "sessionize" -> "q_sessionize",
    "unigram-train" -> "q_unigram_train",
    "unigram-encode" -> "q_unigram_encode",
    "wordpiece-oov" -> "q_wordpiece_oov",
    "wordpiece-bert" -> "q_wordpiece_bert",
    "unigram-train-soft" -> "q_unigram_train_soft",
    "minhash-estimate" -> "q_minhash_estimate",
    "inspection-sample" -> "q_inspection_sample",
    "novelty-score" -> "q_novelty_score",
    "inspection-sample-live" -> "q_inspection_sample_live",
    "dup-rate-by-source" -> "q_dup_rate_by_source",
    "type-token-stats" -> "q_type_token_stats",
    "vocab-growth" -> "q_vocab_growth",
    "char-diversity" -> "q_char_diversity",
    "length-histogram" -> "q_length_histogram",
    "contamination-report" -> "q_contamination_report",
    "event-transitions" -> "q_event_transitions",
    "conversion-latency" -> "q_conversion_latency",
    "embed-pca" -> "q_embed_pca",
    "heavy-hitters-cms" -> "q_heavy_hitters_cms",
    "pagerank-dupgraph" -> "q_pagerank_dupgraph",
    "multimodal-audio" -> "q_multimodal_audio",
    "multimodal-video" -> "q_multimodal_video_frames",
    "hll-distinct" -> "q_hll_distinct",
    "audio-vad" -> "q_audio_vad",
    "video-scenecut" -> "q_video_scenecut",
    "source-overlap" -> "q_source_overlap",
    "langid-confusion" -> "q_langid_confusion",
    "markov-stationary" -> "q_event_markov_stationary",
    "image-ahash-dedup" -> "q_image_ahash_dedup",
    "embed-drift" -> "q_embed_drift",
    "ohlc-bars" -> "q_ohlc_bars",
    "kmeans-clusters" -> "q_kmeans_clusters",
    "winnowing-overlap" -> "q_winnowing_overlap",
    "lsh-pr-eval" -> "q_lsh_pr_eval",
    "graph-triangles" -> "q_graph_triangles",
    "skew-report" -> "q_skew_report",
    "image-dedup-components" -> "q_image_dedup_components",
    "unpivot-metrics" -> "q_unpivot_metrics",
    "profile-columns" -> "q_profile_columns",
    "dq-rules" -> "q_dq_rules",
    "scd2-history" -> "q_scd2_history",
    "cdc-apply" -> "q_cdc_apply",
    "zorder-layout" -> "q_zorder_layout",
    "compaction-plan" -> "q_compaction_plan",
    "audience-segments" -> "q_audience_segments",
    "attribution" -> "q_attribution_last_touch",
    "window-ewma" -> "q_window_ewma",
    "graph-degree-dist" -> "q_graph_degree_dist",
    "pmi-collocations" -> "q_pmi_collocations",
    "cusum-drift" -> "q_cusum_drift",
    "k-anonymity" -> "q_k_anonymity",
    "mv-delta" -> "q_mv_delta_maintenance",
    "histogram-equidepth" -> "q_histogram_equidepth",
    "bloom-semi-reduction" -> "q_bloom_semi_reduction",
    "random-projection" -> "q_random_projection",
    "attribution-linear" -> "q_attribution_linear",
    "cluster-purity" -> "q_cluster_purity",
    "hilbert-layout" -> "q_hilbert_layout",
    // r9 operator batch
    "kmv-distinct" -> "q_kmv_distinct",
    "kmv-set-ops" -> "q_kmv_set_ops",
    "er-entities" -> "q_er_entities",
    "autocorr-daily" -> "q_autocorr_daily",
    "seasonality-dow" -> "q_seasonality_dow",
    "dp-noisy-counts" -> "q_dp_noisy_counts",
    "topk-per-source" -> "q_topk_per_source",
    "weighted-sample" -> "q_weighted_sample",
    "l-diversity" -> "q_l_diversity",
    "seasonal-anomaly" -> "q_seasonal_anomaly",
    "user-streaks" -> "q_user_streaks",
    // r10: KIP-557 emit-on-change (idempotent-update suppression) + ER
    // survivorship (golden-record election over the resolved entities)
    "emit-on-change" -> "q_emit_on_change",
    "er-golden-record" -> "q_er_golden_record",
    "hll-windowed" -> "q_hll_windowed",
    "dedup-prefix-filter" -> "q_dedup_prefix_filter",
    "quality-budget" -> "q_quality_budget_threshold",
    // r11: eager-spurious join trace (live), IVF recall audit,
    // leakage-safe split (cluster-keyed train/val/test)
    "interval-join-eager" -> "q_interval_join_eager",
    "ivf-recall-eval" -> "q_ivf_recall_eval",
    "split-leakage-safe" -> "q_split_leakage_safe",
    "mixture-epochs" -> "q_mixture_epochs")


  /** The 11 SimpleBenchmark-parity workloads — the ONLY per-query numbers
    * that ride on the stdout line (driver tail-parses the last line; a
    * full 60-entry map has truncated 4 of 5 rounds). Everything else
    * lives in the BENCH.json artifact. */
  private[graft] val parityWorkloads: Seq[String] = Seq(
    "consume", "processstream", "processstreamwithsink", "count",
    "windowed-count", "session-count", "stream-table-join",
    "stream-stream-join", "table-table-join", "table-agg", "yahoo")

  /** The noisiest sub-second-to-2.5 s workloads — re-run on the generated
    * 10x corpus so each lands in the multi-second range where a median
    * move is readable (the regression rule: median AND min moved at 10x). */
  private[graft] val x10Workloads: Seq[String] = Seq(
    "dedup-minhash-lsh", "dedup-minhash-native", "dedup-jaccard",
    "dedup-simhash-pairs", "dedup-simhash-native", "dedup-spans",
    "dedup-spans-native", "dedup-components", "dedup-priority-keep",
    "decontaminate", "pipeline-c4", "ann-cosine-topk", "semdedup",
    // (contrastive-self@10x runs as a custom block: the PRODUCTION IVF
    // config — k scaled with N, nProbe << k, recall-asserted — not the
    // deliberately-quadratic nProbe = k oracle-exact config, which at
    // 10x degenerates to a ~400M-pair all-pairs join)
    "knn-classify", "dsir-weights", "bpe-pairs",
    "bpe-merges", "bpe-byte-encode", "line-dedup-corpus", "perplexity-buckets",
    "dedup-minhash-incr", "dedup-spans-remove", "rag-retrieval",
    "bm25-search",
    // r7 operator batch: scale readout for the round's new operators
    // (multimodal-audio@10x replaced in r10 by the multimodal-audio-serve
    // custom block — decode+analysis over the persisted corpus; the base
    // entry keeps the codec-included end-to-end number per modality)
    "pagerank-dupgraph", "heavy-hitters-cms",
    "type-token-stats", "unigram-train", "unigram-train-soft",
    // r8 operator batch (audio-vad@10x / video-scenecut@10x replaced in
    // r10 by their -serve custom blocks, same rationale)
    "hll-distinct", "source-overlap", "image-ahash-dedup", "embed-drift",
    "langid-confusion",
    // r8 second batch: clustering / fingerprint / graph-census operators
    // (image-dedup-components@10x replaced by the image-dedup-serve
    // custom block: the @10x wall was the synthetic PNG render chain,
    // not the dedup operator — image-ahash-dedup stays as the one
    // end-to-end image entry at 10x)
    "kmeans-clusters", "winnowing-overlap", "lsh-pr-eval",
    "graph-triangles",
    // r14: capacity-based next-fit packing — docs-based, the @10x ratio
    // should read ~linear (per-shard fold; shard count grows with N)
    "pack-sequences",
    // r8 third batch: documents-based data-eng operators
    "compaction-plan", "graph-degree-dist", "pmi-collocations",
    "k-anonymity", "random-projection",
    // r9: events-based data-eng batch — unlocked by the v3 10x corpus
    // (events scale 10x in USERS; lineitem/orders-based workloads —
    // layout trilogy, equi-depth histogram, profiling/DQ, bloom-semi —
    // stay base-only: scaling TPC-H facts would break the FK web the
    // copy recipe can't cheaply preserve; BASELINE.md documents this)
    "scd2-history", "cdc-apply", "ohlc-bars", "attribution",
    "attribution-linear", "audience-segments", "mv-delta", "window-ewma",
    "cusum-drift", "sessionize", "event-funnel", "markov-stationary",
    "emit-on-change", "hll-windowed",
    // r9 operator batch (documents- and events-based — both scale in v3)
    "kmv-distinct", "kmv-set-ops", "er-entities", "er-golden-record",
    "dedup-prefix-filter", "autocorr-daily", "seasonality-dow",
    // r9 second batch: bounded top-k select + governance/anomaly readouts
    "topk-per-source", "weighted-sample", "l-diversity", "seasonal-anomaly",
    "user-streaks",
    // r11: the eager-join live trace at 10x events (10x keys through the
    // flatMapGroupsWithState buffers), the recall audit at 10x vectors
    // (exact side scales linearly — the audit-cadence cost), and the
    // leakage-safe split at 10x docs (10x-denser pair graph by corpus
    // construction, like the other dedup entries)
    "interval-join-eager", "ivf-recall-eval", "split-leakage-safe")

  /** The four continuously-running streaming workloads: the events table
    * replayed through a running Structured Streaming query. */
  private[graft] val streamingPins: Seq[String] = Seq("yahoo-streaming",
    "stream-table-join-live", "state-store", "window-store")

  /** Workloads with their own setup (a persisted codebook, index or media
    * corpus, or an input that is not a catalog query). */
  private[graft] val customWorkloads: Seq[String] = Seq(
    "consumeproduce", "suppress-ordered", "dedup-index-probe",
    "ann-ivf", "ann-ivf-search", "ann-pq", "ann-ivf-pq-serve",
    "image-dedup-serve", "contrastive-self@10x", "semdedup-prod@10x",
    "image-dedup-serve@10x", "audio-vad-serve@10x",
    "video-scenecut-serve@10x", "multimodal-audio-serve@10x")

  /** Every workload name the suite can measure. */
  private[graft] val allWorkloads: Seq[String] = workloads.map(_._1) ++
    x10Workloads.map(_ + "@10x") ++ customWorkloads ++ streamingPins

  /** Source table of each workload, the rec/sec and MB/sec basis; a
    * `@10x` workload reads the same table in the 10x corpus. There is no
    * default: a workload missing here fails its lookup. `suppress-ordered`
    * is absent because it generates its input (`spark.range`). */
  private[graft] val sourceTables: Seq[(String, Seq[String])] = Seq(
    "lineitem" -> Seq(
      "consume", "pricing-summary", "shipping-priority", "unpivot-metrics",
      "profile-columns", "dq-rules", "histogram-equidepth"),
    "orders" -> Seq(
      "table-agg", "star-join", "topk", "zorder-layout",
      "bloom-semi-reduction", "hilbert-layout"),
    "embeddings" -> Seq(
      "ann-cosine-topk", "embed-quantize", "semdedup", "contrastive-self",
      "knn-classify", "quality-classifier", "ann-ivf-pq", "label-noise",
      "embed-pca", "embed-drift", "kmeans-clusters", "random-projection",
      "cluster-purity", "ivf-recall-eval", "ann-ivf", "ann-ivf-search",
      "ann-pq", "ann-ivf-pq-serve", "semdedup-prod"),
    "documents" -> Seq(
      "dedup-minhash-lsh", "dedup-minhash-native", "dedup-jaccard",
      "text-stats", "lang-id", "dedup-simhash-pairs", "dedup-simhash-native",
      "sample-stratified", "pipeline-c4", "text-chunking", "sequence-packing",
      "dedup-components", "dedup-spans", "decontaminate", "pii-redact",
      "dedup-spans-native", "tfidf", "vocab-ids", "ngram-lm", "lm-score",
      "corpus-shuffle", "dedup-priority-keep", "dsir-weights", "bpe-pairs",
      "bpe-merges", "bpe-byte-encode", "curation-funnel", "line-filter",
      "pack-sequences", "repetition-remove", "line-dedup-corpus",
      "perplexity-buckets", "dedup-minhash-incr", "mixture-unimax",
      "dedup-spans-remove", "mixture-temperature", "length-quantiles",
      "multimodal-resize", "embed-hashed", "rag-retrieval", "bm25-search",
      "text-normalize", "ngram-lm-kn", "pack-token-budget", "corpus-diff",
      "export-manifest", "wordpiece-encode", "wordpiece-fertility",
      "dedup-containment", "blocklist-filter", "pii-luhn",
      "dedup-cluster-sizes", "train-val-split", "domain-excess",
      "unigram-train", "unigram-encode", "wordpiece-oov", "wordpiece-bert",
      "unigram-train-soft", "minhash-estimate", "inspection-sample",
      "novelty-score", "inspection-sample-live", "dup-rate-by-source",
      "type-token-stats", "vocab-growth", "char-diversity",
      "length-histogram", "contamination-report", "heavy-hitters-cms",
      "pagerank-dupgraph", "multimodal-audio", "multimodal-video",
      "hll-distinct", "audio-vad", "video-scenecut", "source-overlap",
      "langid-confusion", "image-ahash-dedup", "winnowing-overlap",
      "lsh-pr-eval", "graph-triangles", "image-dedup-components",
      "compaction-plan", "graph-degree-dist", "pmi-collocations",
      "k-anonymity", "kmv-distinct", "kmv-set-ops", "er-entities",
      "topk-per-source", "weighted-sample", "l-diversity", "er-golden-record",
      "dedup-prefix-filter", "quality-budget", "split-leakage-safe",
      "mixture-epochs", "dedup-index-probe", "image-dedup-serve",
      "audio-vad-serve", "video-scenecut-serve", "multimodal-audio-serve"),
    "events" -> Seq(
      "processstream", "processstreamwithsink", "count", "windowed-count",
      "session-count", "stream-table-join", "stream-stream-join",
      "table-table-join", "yahoo", "asof-join", "sliding-count",
      "sliding-live", "fk-join", "cogroup", "timeseries-similar",
      "cep-pattern", "event-funnel", "cohort-retention", "timeseries-sax",
      "outlier-mad", "sessionize", "event-transitions", "conversion-latency",
      "markov-stationary", "ohlc-bars", "skew-report", "scd2-history",
      "cdc-apply", "audience-segments", "attribution", "window-ewma",
      "cusum-drift", "mv-delta", "attribution-linear", "autocorr-daily",
      "seasonality-dow", "dp-noisy-counts", "seasonal-anomaly",
      "user-streaks", "emit-on-change", "hll-windowed", "interval-join-eager",
      "consumeproduce", "yahoo-streaming", "stream-table-join-live",
      "state-store", "window-store"))

  private[graft] val sourceTable: Map[String, String] =
    sourceTables.flatMap { case (t, wls) => wls.map(_ -> t) }.toMap

  /** Rows and on-disk bytes of a workload's input. */
  private final case class Input(rows: Long, bytes: Long)

  /** Timing samples for one workload: `secs` holds one wall-clock sample
    * per successful run (failed runs contribute none); `outRows` is the
    * result cardinality. */
  private final case class Sample(wl: String, secs: Seq[Double], in: Input,
      outRows: Long) {
    private val sorted = secs.sorted
    /** True median: even run counts average the two middle samples. */
    def median: Double =
      if (sorted.size % 2 == 1) sorted(sorted.size / 2)
      else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
    def min: Double = sorted.head
    def max: Double = sorted.last
    def n: Int = sorted.size
  }

  /** Timed runs per workload (median reported; ≥3 for error bars). */
  private lazy val benchRuns: Int = {
    val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    require(n >= 1, s"SPARK_GRAFT_BENCH_RUNS must be >= 1, got $n")
    if (n < 3) warn(s"WARNING: $n run(s) per workload - medians need >= 3 for error bars")
    n
  }

  /** Work dir for bench-generated artifacts (10x corpus, codebooks,
    * indexes, media corpora, checkpoints) — persisted across runs so
    * generation and training pay once. */
  private lazy val benchDir: String = {
    val d = sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "target/bench")
    new java.io.File(d).mkdirs()
    d
  }

  private def warn(msg: String): Unit = System.err.println(s"[bench] $msg")

  /** The stdout contract line: keys `metric`, `value`, `unit`, `only`
    * (present only for a filtered run, so a partial total is never
    * mistaken for the suite total), `queries` (the parity workloads that
    * produced a median) and `sf`, in that order. The driver tail-parses
    * it, so every other number stays in BENCH.json. */
  private[graft] def stdoutLine(total: Double, only: Option[String],
      medians: Map[String, Double], sf: String): String = {
    val qs = parityWorkloads.flatMap(w => medians.get(w).map(m => f""""$w":$m%.3f"""))
      .mkString("{", ",", "}")
    val onlyTag = only.map(m => s""""only":"$m",""").getOrElse("")
    s"""{"metric":"total","value":$total,"unit":"sec",$onlyTag"queries":$qs,"sf":"$sf"}"""
  }

  /** `SPARK_GRAFT_BENCH_ONLY`: `streaming` (the four streaming workloads)
    * or a comma-separated list of workload names. Returns the tag for the
    * stdout line and artifact name plus the selected names; None runs the
    * full suite. Unknown names are dropped with a warning, and a value
    * naming no known workload runs the full suite. The tag is rebuilt from
    * recognized names only, so no raw env bytes reach the JSON line or
    * the filesystem. */
  private[graft] def selection(only: Option[String]): Option[(String, Set[String])] =
    only.flatMap {
      case "streaming" => Some(("streaming", streamingPins.toSet))
      case list =>
        val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val (known, unknown) = names.partition(allWorkloads.contains)
        if (unknown.nonEmpty)
          warn("SPARK_GRAFT_BENCH_ONLY names unknown workload(s): " +
            unknown.toSeq.sorted.mkString(", "))
        if (known.isEmpty) {
          warn(s"SPARK_GRAFT_BENCH_ONLY=$list names no workload - running the full suite")
          None
        } else Some((known.toSeq.sorted.mkString(","), known))
    }

  /** Generate (once; a marker file records completion) the 10x corpus
    * under the bench work dir: documents and embeddings copied 10x with
    * each copy perturbed into a NEAR-dup of its original (so the dedup
    * pair graph densifies 10x, not just the row count), events copied 10x across disjoint
    * user-id ranges (10x keys, constant per-key history), the TPC-H
    * tables symlinked from the source sf dir (scaling them would break
    * the FK web). Testdata itself is read-only — everything lands in
    * [[benchDir]]. Same recipe as SCALE.md's empirical scaling probe. */
  private def ensure10xDir(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions._
    val dir = new java.io.File(benchDir,
      "x10-" + new java.io.File(sfDir).getName)
    // v2: id remap keeps copy 0 at the ORIGINAL id (copies c>=1 land at
    // id + c*(maxId+1)) so id-predicated query batches — ann-cosine-topk
    // and knn-classify select `vec_id < 20` — read the SAME logical
    // vectors at both scales against a 10x candidate set. The v1 scheme
    // (id*16+copy) silently narrowed those batches to near-dup copies of
    // ids 0-1. SCALE.md documents the invariant.
    // v3: events also scales 10x (10x USERS with identical per-user
    // histories — key count grows, per-key fold length stays constant:
    // the honest scale-up for keyed-state/sorted-fold operators), which
    // unlocks @10x rows for the events-based data-eng batch (r8 #7).
    val marker = new java.io.File(dir, "_SUCCESS_10X_V3")
    if (!marker.exists()) {
      dir.mkdirs()
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val maxDoc = docs.agg(max(col("doc_id"))).head().getLong(0)
      docs.withColumn("__copy", explode(sequence(lit(0), lit(9))))
        .withColumn("doc_id", col("doc_id") + col("__copy") * lit(maxDoc + 1L))
        .withColumn("text", when(col("__copy") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" benchcopy"), col("__copy"))))
        .withColumn("n_chars",
          length(col("text")).cast(docs.schema("n_chars").dataType))
        .drop("__copy")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0)
      emb.withColumn("__copy", explode(sequence(lit(0), lit(9))))
        .withColumn("vec_id", col("vec_id") + col("__copy") * lit(maxVec + 1L))
        // pure scaling keeps the sign bucket and cosine(copy, orig) = 1:
        // copies are exact near-dups in vector space
        .withColumn("embedding", transform(col("embedding"),
          x => (x * (lit(1.0f) + col("__copy").cast("float") / lit(1000.0f)))
            .cast("float")))
        .drop("__copy")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      // events: 10x users, each copy cohort identical to the original —
      // event ids and user ids remapped disjointly (copy 0 = original),
      // ts/type/value untouched so every per-user readout at 10x is the
      // base answer replicated across 10x the key space
      val evLink = java.nio.file.Paths.get(dir.toString, "events.parquet")
      if (java.nio.file.Files.isSymbolicLink(evLink))
        java.nio.file.Files.delete(evLink) // v2 dirs symlinked events
      val ev = Tables.load(spark, sfDir, "events")
      val Array(maxEv, maxUser) = ev
        .agg(max(col("event_id")), max(col("user_id"))).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      ev.withColumn("__copy", explode(sequence(lit(0), lit(9))))
        .withColumn("event_id", col("event_id") + col("__copy") * lit(maxEv + 1L))
        .withColumn("user_id", col("user_id") + col("__copy") * lit(maxUser + 1L))
        .drop("__copy")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem")) {
        val link = java.nio.file.Paths.get(dir.toString, s"$t.parquet")
        if (!java.nio.file.Files.exists(link))
          java.nio.file.Files.createSymbolicLink(link,
            java.nio.file.Paths.get(s"$sfDir/$t.parquet"))
      }
      marker.createNewFile()
    }
    dir.toString
  }

  /** Rows and on-disk bytes (every file under the table's path, following
    * the 10x corpus's symlinks) of the five source tables in `dir`. */
  private def tableInputs(spark: SparkSession, dir: String): Map[String, Input] =
    sourceTables.map(_._1).map { t =>
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/$t.parquet"),
        java.nio.file.FileVisitOption.FOLLOW_LINKS)
      val bytes = try files.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).map(java.nio.file.Files.size).sum
      finally files.close()
      t -> Input(Tables.load(spark, dir, t).count(), bytes)
    }.toMap

  private lazy val drainWatchdogS: Long =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_WATCHDOG_S", "120").toLong
  /** Run `q.processAllAvailable()` under a watchdog: on timeout the query
    * is stopped and the sample discarded (callers catch and drop) — a
    * wedged drain must not hang the suite before it prints its line. */
  private def watchdogDrain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val ex = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "bench-drain-watchdog"); t.setDaemon(true); t
    })
    val f = ex.submit(new Runnable { def run(): Unit = q.processAllAvailable() })
    try f.get(drainWatchdogS, java.util.concurrent.TimeUnit.SECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        warn(s"drain watchdog fired (${drainWatchdogS}s) - stopping query")
        try q.stop() catch { case _: Throwable => () }
        throw new RuntimeException(s"streaming drain exceeded ${drainWatchdogS}s")
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    } finally ex.shutdownNow()
  }

  private val ckptSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Fresh per-query checkpoint dir under benchDir; the whole ckpt tree
    * is wiped at suite start so stale state never leaks across runs. */
  private def ckptDir(name: String): String =
    s"$benchDir/ckpt/$name-${ckptSeq.incrementAndGet()}"

  def main(args: Array[String]): Unit = {
    // total wall-clock budget: the driver kills an overlong run and loses
    // the whole artifact, so the suite stops measuring once the budget is
    // spent and emits what it has (the rest is listed as `skipped`)
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "2700").toLong
    val deadlineNs = System.nanoTime() + budgetS * 1000000000L
    try {
      val ck = new java.io.File(benchDir, "ckpt")
      if (ck.exists()) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ck.toPath).iterator().asScala.toSeq
          .sortBy(-_.getNameCount).foreach(p => p.toFile.delete())
      }
    } catch { case NonFatal(_) => () }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = selection(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // transformWithState stages (live fk join) require the RocksDB store
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // changelog checkpointing: per-batch deltas instead of full RocksDB
      // snapshot uploads (the production setting; cuts commit latency)
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val suite = new Suite(spark, sfDir,
      only.map(_._2.contains _).getOrElse((_: String) => true), deadlineNs)
    // idle-path micro-batch latency first, before any heavy work leaves a
    // GC backlog behind; a failure here must never cost the artifact
    val lat =
      try latencyPercentiles(spark)
      catch { case NonFatal(e) =>
        warn(s"latency probe crashed: $e"); Map.empty[String, Double] }
    val samples = suite.base() ++ suite.custom() ++ suite.x10() ++ suite.streaming()

    val qs = samples.map(s => s""""${s.wl}":${s.median}""").mkString("{", ",", "}")
    val rs = samples.map(s => s""""${s.wl}":${(s.in.rows / s.median).round}""")
      .mkString("{", ",", "}")
    val ns = samples.map(s => s""""${s.wl}":${s.outRows}""").mkString("{", ",", "}")
    val mb = samples.filter(_.in.bytes > 0)
      .map(s => f""""${s.wl}":${s.in.bytes / 1e6 / s.median}%.2f""").mkString("{", ",", "}")
    val stats = samples.map { s =>
      f""""${s.wl}":{"median":${s.median}%.4f,"min":${s.min}%.4f,"max":${s.max}%.4f,"n":${s.n}}"""
    }.mkString("{", ",", "}")
    // headline total stays the BASE-scale suite (comparable across
    // rounds); the 10x re-runs report separately
    val total = samples.filterNot(_.wl.endsWith("@10x")).map(_.median).sum
    val total10 = samples.filter(_.wl.endsWith("@10x")).map(_.median).sum
    def pcts(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => f""""$k":$v%.1f""" }.mkString("{", ",", "}")
    val streamLat = suite.streamLat.toSeq.sortBy(_._1)
      .map { case (wl, ps) => s""""$wl":${pcts(ps)}""" }.mkString("{", ",", "}")
    def names(xs: Iterable[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      f"""{"metric":"total","value":$total,"unit":"sec","total_10x":$total10,"queries":$qs,"rec_sec":$rs,"mb_sec":$mb,"rows":$ns,"stats":$stats,"runs_per_workload":$benchRuns,"cpus":"$cpus","latency_ms":${pcts(lat)},"stream_latency_ms":$streamLat,"stream_records":${suite.streamRecords},"contrastive_recall_10x":${suite.contrastive._1}%.4f,"contrastive_nprobe_10x":${suite.contrastive._2},"semdedup_agreement_10x":${suite.semdedupProd._1}%.4f,"semdedup_k_10x":${suite.semdedupProd._2},"budget_s":$budgetS,"budget_exceeded":${!suite.budgetOk},"skipped":${names(suite.skipped)},"failed":${names(suite.failed)},"sf":"$sfDir"}"""
    // a filtered run must never overwrite the full artifact; long
    // workload lists are shortened to stay within NAME_MAX
    def fileSafe(m: String): String = {
      val s = m.map(c => if (c.isLetterOrDigit || "@,._-".contains(c)) c else '-')
      if (s.length <= 80) s
      else s.take(48) + "-" + java.lang.Integer.toHexString(s.hashCode)
    }
    val artifactFile =
      only.map(o => s"BENCH.only-${fileSafe(o._1)}.json").getOrElse("BENCH.json")
    val w = new java.io.PrintWriter(artifactFile)
    try w.write(json + "\n") finally w.close()
    spark.stop()
    println(stdoutLine(total, only.map(_._1),
      samples.map(s => s.wl -> s.median).toMap, sfDir))
  }

  /** One bench run over `sfDir`: every workload `selected` admits, in
    * suite order, until the wall-clock deadline. */
  private final class Suite(spark: SparkSession, sfDir: String,
      selected: String => Boolean, deadlineNs: Long) {
    /** Selected workloads reached after the budget ran out. */
    val skipped = scala.collection.mutable.LinkedHashSet.empty[String]
    /** Selected workloads whose setup or every timed run threw. */
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // every persisted bench artifact (codebooks, exact-pair audit, near-dup
    // index, tuned nProbe) is keyed by the sf it was built from — a smoke
    // run at another sf must never satisfy this run's marker checks
    private val sfTag = new java.io.File(sfDir).getName
    private val inputs = tableInputs(spark, sfDir)
    private def input(wl: String): Input = inputs(sourceTable(wl))
    // built once: `SparkEntry.queries` merges the catalogs on every call,
    // which must not land inside a timed run
    private val catalog = SparkEntry.queries
    /** (recall, nProbe) of the production contrastive miner at 10x. */
    var contrastive: (Double, Int) = (-1.0, -1)
    /** (keep/drop agreement vs the oracle config, k) of semdedup-prod@10x. */
    var semdedupProd: (Double, Int) = (-1.0, -1)
    /** Per-streaming-workload micro-batch latency percentiles (ms). */
    var streamLat: Map[String, Map[String, Double]] = Map.empty

    // the reference's canonical streaming scale is 10M records
    // (tests/kafkatest/benchmarks/streams/streams_simple_benchmark_test.py:48
    // num_records = 10000000); we replay the events table enough times to
    // clear SPARK_GRAFT_STREAM_RECORDS (default 1M) so rec/sec amortizes
    // per-batch overhead instead of measuring micro-batch startup
    private val events = inputs("events")
    private val streamCycles = math.max(1L, math.ceil(
      sys.env.getOrElse("SPARK_GRAFT_STREAM_RECORDS", "1000000").toDouble /
        events.rows).toLong).toInt
    val streamRecords: Long = events.rows * streamCycles

    def budgetOk: Boolean = System.nanoTime() < deadlineNs

    /** True to measure `wl`: selected, and reached within the budget
      * (else recorded as skipped). */
    private def want(wl: String): Boolean =
      selected(wl) && (budgetOk || { skipped += wl; false })

    /** One untimed warm-up of `once` (it pays codegen and JIT outside the
      * samples), then `benchRuns` timed runs; None when every run threw. */
    private def measure(wl: String, in: Input, outRows: => Long)(once: => Unit)
        : Option[Sample] = {
      try once catch { case NonFatal(e) => warn(s"$wl warm-up failed: $e") }
      val secs = (1 to benchRuns).flatMap { _ =>
        val t0 = System.nanoTime()
        try { once; Some((System.nanoTime() - t0) / 1e9) }
        catch { case NonFatal(e) => warn(s"$wl: $e"); None }
      }
      if (secs.isEmpty) { failed += wl; None }
      else Some(Sample(wl, secs, in,
        try outRows catch { case NonFatal(e) => warn(s"$wl count: $e"); -1L }))
    }

    /** Measure `wl` when wanted: each run rebuilds `df` and writes every
      * column to the `noop` sink; the row count comes from one untimed
      * `count()`. */
    private def timed(wl: String, in: Input)(df: => DataFrame): Option[Sample] =
      if (!want(wl)) None
      else measure(wl, in, df.count())(df.write.format("noop").mode("overwrite").save())

    /** Workloads that share one setup (a trained codebook, a persisted
      * corpus): `run` executes only when one of `wls` is selected and the
      * budget is left, and a setup failure marks every selected one
      * failed. */
    private def section(wls: String*)(run: => Seq[Sample]): Seq[Sample] = {
      val wanted = wls.filter(selected)
      if (wanted.isEmpty) Nil
      else if (!budgetOk) { skipped ++= wanted; Nil }
      else try run catch { case NonFatal(e) =>
        warn(s"${wanted.mkString(",")} setup: $e"); failed ++= wanted; Nil }
    }

    /** Persisted under benchDir on first use: `build` writes `path`
      * (marked by Spark's `_SUCCESS`) only when it is missing. */
    private def persisted(path: String)(build: => DataFrame): String = {
      if (!new java.io.File(s"$path/_SUCCESS").exists())
        build.write.mode("overwrite").parquet(path)
      path
    }

    /** The catalog workloads at base scale. */
    def base(): Seq[Sample] = workloads.flatMap { case (wl, q) =>
      timed(wl, input(wl))(catalog(q)(spark, sfDir))
    }

    def custom(): Seq[Sample] = {
      import org.apache.spark.sql.functions.{col, lit, md5}
      import graft.functions.{ProductQuantizer, VectorIndex}
      // consumeproduce: the read->write roundtrip (SimpleBenchmark's
      // workload with a produce side) — scan events, write parquet
      val out = s"$benchDir/consumeproduce-$sfTag"
      val consumeProduce =
        if (!want("consumeproduce")) None
        else measure("consumeproduce", input("consumeproduce"), events.rows) {
          Tables.load(spark, sfDir, "events").write.mode("overwrite").parquet(out)
        }

      // suppress-ordered: the ordered suppress buffer's adversarial fold —
      // 80k SAME-timestamp md5-randomized keys into one buffer, so every
      // insert lands mid-buffer via the serialized-key-bytes tie-break
      // (ts-increasing arrivals append in O(1) and measure nothing).
      // Deterministic input (spark.range + md5), output is empty by design
      // (nothing evicts) — the work IS the buffer maintenance.
      val nKeys = 80000L
      val suppressOrdered = timed("suppress-ordered", Input(nKeys, 0L)) {
        val builder = new graft.api.GraftStreams(spark)
        import spark.implicits._
        val df = spark.range(nKeys).select(
          md5(col("id").cast("string")).as("k"), lit("v").as("v"),
          lit(1000000000L).cast("timestamp").as("ts"))
        graft.streaming.StatefulOps.suppressUntilTimeLimitOrdered(
          builder.stream[String, String](df, col("k"), col("v"), col("ts")),
          delayMs = Long.MaxValue / 4, maxRecordsPerBuffer = nKeys + 1,
          numBuffers = 1).toDF("k", "v")
      }

      // ann-ivf / ann-ivf-search / ann-pq / ann-ivf-pq-serve: the
      // production serving shapes. The codebooks train ONCE (the IVF one
      // on a deterministic 1-in-4 id-hash sample) and persist under
      // benchDir — training is an index-build cost, not a query cost.
      // `ann-ivf` times loadCodebook + search (the cold job-startup
      // shape); `ann-ivf-search` times search with the codebook already in
      // memory (steady-state serving).
      val ann = section("ann-ivf", "ann-ivf-search", "ann-pq", "ann-ivf-pq-serve") {
        val emb = Tables.load(spark, sfDir, "embeddings")
          .repartition(spark.sparkContext.defaultParallelism)
        val cbPath = s"$benchDir/ivf-codebook-$sfTag"
        if (!new java.io.File(s"$cbPath/_SUCCESS").exists())
          VectorIndex.saveCodebook(spark, VectorIndex.train(emb, "vec_id",
            "embedding", k = 16, iters = 2, sampleOneIn = 4), cbPath)
        val cb = VectorIndex.loadCodebook(spark, cbPath)
        val pqPath = s"$benchDir/pq-codebook-$sfTag"
        if (!new java.io.File(s"$pqPath/_SUCCESS").exists())
          ProductQuantizer.saveCodebook(spark, ProductQuantizer.train(emb, "vec_id",
            "embedding", m = 8, ksub = 16, iters = 2), pqPath)
        val queries = emb.filter(col("vec_id") < 20)
        Seq(
          timed("ann-ivf", input("ann-ivf")) {
            VectorIndex.search(emb, queries, "vec_id", "embedding",
              VectorIndex.loadCodebook(spark, cbPath), nProbe = 4, topK = 10)
          },
          timed("ann-ivf-search", input("ann-ivf-search")) {
            VectorIndex.search(emb, queries, "vec_id", "embedding", cb,
              nProbe = 4, topK = 10)
          },
          // load the persisted codebook + ADC full-scan search
          timed("ann-pq", input("ann-pq")) {
            ProductQuantizer.search(emb, queries, "vec_id", "embedding",
              ProductQuantizer.loadCodebook(spark, pqPath), topK = 10)
          },
          // the billion-scale serving composition: cell-prune +
          // compressed-domain ADC, zero training in the path
          timed("ann-ivf-pq-serve", input("ann-ivf-pq-serve")) {
            ProductQuantizer.searchWithCells(emb, queries, "vec_id", "embedding",
              VectorIndex.loadCodebook(spark, cbPath),
              ProductQuantizer.loadCodebook(spark, pqPath), nProbe = 4, topK = 10)
          }).flatten
      }

      // dedup-index-probe: the incremental near-dup serving shape. The
      // accepted-corpus MinHash index (doc_id % 4 != 0) builds ONCE and
      // persists — an index-build cost, paid when a batch is accepted, not
      // when the next one is probed. The timed path is what a daily crawl
      // pays: band the batch, load the index, one combined bucket shuffle,
      // in-bucket pairing + signature rescore.
      val indexProbe = section("dedup-index-probe") {
        import graft.operators.NearDupIndex
        val docs = Tables.load(spark, sfDir, "documents")
          .repartition(spark.sparkContext.defaultParallelism)
        val idxPath = persisted(s"$benchDir/neardup-index-$sfTag") {
          NearDupIndex.build(docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text")
        }
        timed("dedup-index-probe", input("dedup-index-probe")) {
          NearDupIndex.probe(spark.read.parquet(idxPath),
            NearDupIndex.build(docs.filter(col("doc_id") % 4 === 0), "doc_id", "text"))
        }.toSeq
      }

      consumeProduce.toSeq ++ suppressOrdered ++ ann ++ indexProbe ++
        imageDedupServe("image-dedup-serve", sfDir, sfTag, input("image-dedup-serve"))
    }

    /** image-dedup-serve: the aHash signature is an ingest-time artifact
      * computed once per asset, so the signature table persists per bench
      * dir and the timed path is what a dedup pass re-runs: banding + 2..50
      * bucket cut + Hamming rescore + connected-component closure (not the
      * synthetic PNG render chain that generates the corpus). */
    private def imageDedupServe(wl: String, dataDir: String, tag: String,
        in: Input): Seq[Sample] = section(wl) {
      val sig = persisted(s"$benchDir/ahash-sig-$tag") {
        graft.queries.LlmPipeline.imageAhash(spark, dataDir)
      }
      timed(wl, in) {
        graft.operators.ConnectedComponents.run(
          graft.queries.LlmPipeline.ahashPairsFrom(spark.read.parquet(sig)),
          "doc_a", "doc_b")
      }.toSeq
    }

    /** Media serve entries: decode+analysis over the PERSISTED synthetic
      * media corpus — at scale the media bytes are ingest artifacts in the
      * object store, so the serve number excludes synthesis. The base
      * audio-vad / video-scenecut / multimodal-audio entries keep the
      * codec-included end-to-end measurement per modality. */
    private def mediaServe(wl: String, kind: String, serve: DataFrame => DataFrame,
        dataDir: String, tag: String, in: Input): Seq[Sample] = section(wl) {
      val media = persisted(s"$benchDir/media-$kind-$tag") {
        graft.queries.LlmPipeline.mediaCorpus(spark, dataDir, kind)
      }
      timed(wl, in)(serve(spark.read.parquet(media))).toSeq
    }

    /** 10x-scale re-run of the noisiest workloads: at sf0.1 the dedup/ANN
      * suite finishes in 0.5-2.5 s with ±20 % cross-process noise, so a
      * 1.5x median move is unreadable. The 10x corpus (generated once,
      * persisted under benchDir) pushes each into the multi-second range.
      * REGRESSION RULE for these workloads: a real regression moves the
      * MEDIAN *and* the MIN at 10x. */
    def x10(): Seq[Sample] = section(allWorkloads.filter(_.endsWith("@10x")): _*) {
      val dir10 = ensure10xDir(spark, sfDir)
      val tag10 = s"10x-$sfTag"
      val inputs10 = tableInputs(spark, dir10)
      def input10(wl: String): Input = inputs10(sourceTable(wl.stripSuffix("@10x")))
      val byWl = workloads.toMap
      val generic = x10Workloads.flatMap { wl =>
        timed(s"$wl@10x", input10(wl))(catalog(byWl(wl))(spark, dir10))
      }
      val media = Seq(
        ("audio-vad-serve@10x", "vad-wav", graft.queries.LlmPipeline.audioVadServe _),
        ("video-scenecut-serve@10x", "frames", graft.queries.LlmPipeline.videoScenecutServe _),
        ("multimodal-audio-serve@10x", "plain-wav", graft.queries.LlmPipeline.audioEnergyServe _))
        .flatMap { case (wl, kind, serve) =>
          mediaServe(wl, kind, serve, dir10, tag10, input10(wl)) }
      generic ++
        contrastive10(dir10, input10("contrastive-self@10x")) ++
        semdedupProd10(dir10, input10("semdedup-prod@10x")) ++
        imageDedupServe("image-dedup-serve@10x", dir10, tag10,
          input10("image-dedup-serve@10x")) ++ media
    }

    /** contrastive-self@10x: the PRODUCTION mining config, not the
      * base-scale oracle-exact one. nProbe = k (the base entry's setting,
      * kept only so the brute-force SQL oracle is exact) would degenerate
      * to a ~400M-pair all-pairs join here. k = 160 with assignR = 2
      * multi-assignment from the round-8 knee study (BASELINE.md); nProbe
      * is tuned once (UNTIMED, cached) to the smallest width whose
      * recall@1 against the exact hardest pairs clears 0.9. The `noop`
      * write materializes every pair's `sim`. */
    private def contrastive10(dir10: String, in: Input) = section("contrastive-self@10x") {
      import org.apache.spark.sql.functions.{avg, col, when}
      import graft.functions.VectorIndex
      val emb10 = spark.read.parquet(s"$dir10/embeddings.parquet")
        .repartition(spark.sparkContext.defaultParallelism)
      val k10 = 160
      val cbPath = s"$benchDir/contrastive-cb-10x-k160r2-$sfTag"
      if (!new java.io.File(s"$cbPath/_SUCCESS").exists())
        VectorIndex.saveCodebook(spark, VectorIndex.train(emb10, "vec_id",
          "embedding", k = k10, iters = 3, sampleOneIn = 2), cbPath)
      val cb10 = VectorIndex.loadCodebook(spark, cbPath)
      // recall@1 audit set (UNTIMED): exact hardest pairs, nProbe = k —
      // a quadratic audit cost paid at index-build cadence, never per query
      val exactPath = persisted(s"$benchDir/contrastive-exact-10x-$sfTag") {
        VectorIndex.minePairs(emb10, "vec_id", "embedding", "label", cb10, nProbe = k10)
      }
      def mine(np: Int): DataFrame = VectorIndex.minePairs(emb10, "vec_id",
        "embedding", "label", cb10, nProbe = np, assignR = 2)
      // a production pair is a hit when its sim ties-or-beats the exact
      // hardest sim for that (query, pair_type)
      def recallAt(np: Int): Double =
        spark.read.parquet(exactPath)
          .select(col("query_id"), col("pair_type"), col("sim").as("exact_sim"))
          .join(mine(np).select(col("query_id"), col("pair_type"), col("sim")),
            Seq("query_id", "pair_type"), "left")
          .agg(avg(when(col("sim") >= col("exact_sim"), 1.0).otherwise(0.0)))
          .head().getDouble(0)
      val tune = new java.io.File(s"$benchDir/contrastive-nprobe-10x-k160r2-$sfTag.txt")
      val (np, recall) =
        if (tune.exists()) {
          val Array(n, r) = new String(java.nio.file.Files.readAllBytes(tune.toPath))
            .trim.split(",")
          (n.toInt, r.toDouble)
        } else {
          val swept = Seq(12, 16, 20, 24, 32).iterator.map(n => (n, recallAt(n)))
            .find(_._2 >= 0.9).getOrElse((k10, 1.0))
          java.nio.file.Files.write(tune.toPath, s"${swept._1},${swept._2}".getBytes)
          swept
        }
      contrastive = (recall, np)
      timed("contrastive-self@10x", in)(mine(np)).toSeq
    }

    /** semdedup-prod@10x: the PRODUCTION SemDeDup config at 10x — the
      * float VectorIndex codebook + cosine path with k scaled ∝ N (the
      * oracle twin runs k=8 at base N, so 10x data trains k=80), vs the
      * fixed-k=8 oracle-parity config that semdedup@10x keeps timing.
      * tau = 0.35 is the float twin of the integer oracle threshold
      * (400·dot² >= 49·na·nb ⇔ cos >= 7/20). The keep/drop agreement vs the
      * oracle-config result is audited UNTIMED and cached per bench dir. */
    private def semdedupProd10(dir10: String, in: Input) = section("semdedup-prod@10x") {
      import org.apache.spark.sql.functions.{avg, col, lit, when}
      import graft.functions.{SemDedup, VectorIndex}
      val emb10 = spark.read.parquet(s"$dir10/embeddings.parquet")
        .repartition(spark.sparkContext.defaultParallelism)
      val kProd = 80
      val tau = 0.35
      val cbPath = s"$benchDir/semdedup-cb-10x-k$kProd-$sfTag"
      if (!new java.io.File(s"$cbPath/_SUCCESS").exists())
        VectorIndex.saveCodebook(spark, VectorIndex.train(emb10, "vec_id",
          "embedding", k = kProd, iters = 3, sampleOneIn = 2), cbPath)
      val cb = VectorIndex.loadCodebook(spark, cbPath)
      val agreePath = new java.io.File(s"$benchDir/semdedup-agree-10x-k$kProd-$sfTag.txt")
      val agree =
        if (agreePath.exists())
          new String(java.nio.file.Files.readAllBytes(agreePath.toPath)).trim.toDouble
        else {
          val oracleKept = catalog("q_semdedup_keep")(spark, dir10)
            .select(col("vec_id")).withColumn("o", lit(1))
          val prodKept = SemDedup.keep(emb10, "vec_id", "embedding", cb, tau)
            .select(col("vec_id")).withColumn("p", lit(1))
          val a = emb10.select(col("vec_id"))
            .join(oracleKept, Seq("vec_id"), "left")
            .join(prodKept, Seq("vec_id"), "left")
            .agg(avg(when(col("o").isNull === col("p").isNull, 1.0).otherwise(0.0)))
            .head().getDouble(0)
          java.nio.file.Files.write(agreePath.toPath, f"$a%.6f".getBytes)
          a
        }
      semdedupProd = (agree, kProd)
      timed("semdedup-prod@10x", in) {
        SemDedup.pairs(emb10, "vec_id", "embedding", cb, tau)
      }.toSeq
    }

    /** True streaming-mode throughput: the events table replayed through a
      * running Structured Streaming query (the Yahoo topology, a live
      * stream-table join, keyed state and a windowed store). This is the
      * apples-to-apples number against the reference's continuously-running
      * Streams workloads; the batch workloads measure the analytic engine. */
    def streaming(): Seq[Sample] = section(streamingPins: _*) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val cycles = streamCycles
      // state fan-out sized for the stream's key cardinality, not the batch
      // engine's width (deployment tuning, like the latency probe)
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val rows = Tables.load(spark, sfDir, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
          .as[(Long, String, java.sql.Timestamp)]
          .collect()
        val seq = scala.collection.immutable.ArraySeq.unsafeWrapArray(rows)

        // Each replay builds a FRESH query (fresh state/checkpoint), warms it
        // with a tiny batch, times one saturated flood of `cycles` copies of
        // the table, and returns (replay seconds, per-micro-batch latencies
        // in ms). rec/sec comes from the flood; latency percentiles come
        // from a separate PACED pass (the first run only) — the replay
        // volume re-fed in ~40 bounded chunks, each drained before the next
        // is offered, so every chunk is one steady-state-sized micro-batch.
        def replay[A](mem: MemoryStream[A], q: StreamingQuery, data: Seq[A],
            paced: Boolean): (Double, Seq[Double]) =
          try {
            // chunks run over the WHOLE replay, crossing cycle boundaries:
            // each addData becomes one MemoryStream partition, so one chunk
            // per cycle would split a small table's flood (sf0.001: 1,000
            // cycles) into 1,000 tiny partitions
            def chunks(size: Long): Iterator[Seq[A]] =
              Iterator.continually(data).take(cycles).flatten.grouped(size.toInt)
            mem.addData(data.take(100))
            watchdogDrain(q)
            val t0 = System.nanoTime()
            chunks(50000).foreach(mem.addData(_))
            watchdogDrain(q)
            val secs = (System.nanoTime() - t0) / 1e9
            val floodEnd = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
            if (!paced) (secs, Seq.empty)
            else {
              chunks(math.max(1L, data.size.toLong * cycles / 40L))
                .foreach { ch => mem.addData(ch); watchdogDrain(q) }
              (secs, batchLatencies(q, floodEnd))
            }
          } finally q.stop()

        def start(df: DataFrame, name: String, mode: OutputMode): StreamingQuery =
          df.writeStream.format("noop").queryName(s"bench_$name")
            .option("checkpointLocation", ckptDir(name)).outputMode(mode).start()

        // yahoo-streaming: filter, re-key, tumbling windowed count
        def yahooOnce(paced: Boolean): (Double, Seq[Double]) = {
          val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
          val counts = mem.toDF().toDF("user_id", "event_type", "ts")
            .filter(col("event_type") === "view")
            .groupBy(window(col("ts"), "1 hour"), col("user_id") % 25)
            .agg(count(lit(1)))
          replay(mem, start(counts, "yahoo", OutputMode.Update), seq, paced)
        }

        // live KStream⋈KTable enrichment: every event looks up the table's
        // current value for its user; the table changelog streams too
        // (stream-side-only emission through flatMapGroupsWithState)
        def stJoinOnce(paced: Boolean): (Double, Seq[Double]) = {
          val sMem = MemoryStream[(Long, Long, java.sql.Timestamp)]
          val tMem = MemoryStream[(Long, Long, java.sql.Timestamp)]
          val b = graft.api.GraftStreams(spark)
          val joined = b.stream[Long, Long](sMem.toDF(), col("_1"), col("_2"), col("_3"))
            .joinTable(b.table[Long, Long](tMem.toDF(), col("_1"), col("_2"), col("_3")))(_ + _)
          val q = start(joined.toDF, "stjoin", OutputMode.Append)
          tMem.addData(rows.map(e => (e._1, e._1, e._3)).distinctBy(_._1))
          replay(sMem, q, seq.map(e => (e._1, e._1 * 2, e._3)), paced)
        }

        // state-store: per-record get+update through keyed state (the
        // SimpleBenchmark statestore workload — processStreamWithStateStore
        // does one get and one put per record)
        def stateStoreOnce(paced: Boolean): (Double, Seq[Double]) = {
          val kvMem = MemoryStream[(Long, Double, java.sql.Timestamp)]
          val kvStream = graft.api.GraftStreams(spark)
            .stream[Long, Double](kvMem.toDF(), col("_1"), col("_2"), col("_3"))
          val stateful = graft.streaming.StatefulOps
            .flatTransformWithState[Long, Double, Double, (Long, Double)](kvStream) {
              (key, vs, state) =>
                var acc = state.getOption.getOrElse(0.0) // get
                vs.foreach { case (v, _) => acc += v }
                state.update(acc) // put
                Iterator.single((key, acc))
            }
          replay(kvMem, start(stateful.toDF(), "statestore", OutputMode.Append),
            seq.map(e => (e._1, 1.0, e._3)), paced)
        }

        // window-store: per-record put into (key, window) state — the
        // windowed-count topology running in true streaming update mode
        // (the batch twin is the `windowed-count` workload)
        def windowStoreOnce(paced: Boolean): (Double, Seq[Double]) = {
          val wMem = MemoryStream[(Long, String, java.sql.Timestamp)]
          val windowed = wMem.toDF().toDF("user_id", "event_type", "ts")
            .groupBy(window(col("ts"), "1 hour"), col("user_id"))
            .agg(count(lit(1)))
          replay(wMem, start(windowed, "windowstore", OutputMode.Update), seq, paced)
        }

        def pct(xs: Seq[Double], p: Double): Double = {
          val s = xs.sorted
          if (s.isEmpty) -1.0 else s(math.min(s.size - 1, (p * s.size).toInt))
        }
        val in = Input(streamRecords, inputs("events").bytes * cycles)
        def sample(wl: String)(once: Boolean => (Double, Seq[Double])): Option[Sample] =
          if (!want(wl)) None
          else {
            val runs = (1 to benchRuns).flatMap { i =>
              try Some(once(i == 1))
              catch { case NonFatal(e) => warn(s"$wl: $e"); None }
            }
            if (runs.isEmpty) { failed += wl; None }
            else {
              val lat = runs.flatMap(_._2)
              streamLat += wl -> Map("p50" -> pct(lat, 0.50),
                "p95" -> pct(lat, 0.95), "p99" -> pct(lat, 0.99))
              Some(Sample(wl, runs.map(_._1), in, streamRecords))
            }
          }

        Seq(sample("yahoo-streaming")(yahooOnce),
          sample("stream-table-join-live")(stJoinOnce),
          sample("state-store")(stateStoreOnce),
          sample("window-store")(windowStoreOnce)).flatten
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }

  /** End-to-end micro-batch latency percentiles — the `EndToEndLatency`
    * analogue (`core/.../EndToEndLatency.scala:159-163` prints
    * p50/p95/p99): time from records entering the source to the stateful
    * topology's results being visible in the sink, over repeated small
    * batches of a keyed count topology. */
  private def latencyPercentiles(spark: SparkSession): Map[String, Double] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // latency-sensitive streams run few state partitions (per-batch task
    // overhead dominates at small batch sizes); restore the throughput
    // setting afterwards
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val mem = MemoryStream[(Long, Double)]
      val counts = mem.toDF().toDF("k", "v")
        .groupBy(col("k") % 64).agg(count(lit(1)), sum(col("v")))
      // this probe doubles as the suite's memory-sink correctness check
      // (the timed streaming workloads all write to `noop` since r11):
      // small bounded output, rows asserted > 0 after the replay
      val q = counts.writeStream.format("memory").queryName("bench_latency")
        .option("checkpointLocation", ckptDir("latency"))
        .outputMode(OutputMode.Update).start()
      val durations = try {
        (1 to 30).map { round =>
          val batch = (0 until 1000).map(i => ((round * 1000 + i).toLong, i.toDouble))
          val t0 = System.nanoTime()
          mem.addData(batch)
          watchdogDrain(q)
          (System.nanoTime() - t0) / 1e6
        }.drop(5).sorted // drop warm-up rounds
      } finally q.stop()
      val sunk = spark.sql("SELECT count(*) FROM bench_latency").head().getLong(0)
      if (sunk <= 0) System.err.println(
        "[bench] WARNING: memory-sink probe produced zero rows")
      def pct(p: Double) = durations(math.min(durations.size - 1,
        (p * durations.size).toInt))
      Map("p50" -> pct(0.50), "p95" -> pct(0.95), "p99" -> pct(0.99))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] latency probe failed: $e")
        Map("p50" -> -1.0, "p95" -> -1.0, "p99" -> -1.0)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  /** Per-micro-batch `triggerExecution` durations (ms) for batches after
    * `afterBatch` (the warm-up batch) — the series behind BENCH.json's
    * per-workload `stream_latency_ms` percentiles. `recentProgress`
    * retains the last `spark.sql.streaming.numRecentProgressUpdates`
    * (default 100) batches: percentiles describe the replay's TAIL, which
    * is the steady state. */
  private def batchLatencies(q: org.apache.spark.sql.streaming.StreamingQuery,
      afterBatch: Long): Seq[Double] =
    q.recentProgress.toSeq
      // data-carrying triggers only: the paced drain interleaves no-data
      // watermark batches whose ~ms durations would fake the percentiles
      .filter(p => p.batchId > afterBatch && p.numInputRows > 0)
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble))

}
