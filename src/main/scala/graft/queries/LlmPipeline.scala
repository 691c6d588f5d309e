package graft.queries

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.Tables.load
import graft.functions.{DedupFunctions => D, TextFunctions => T, VectorFunctions => V}

/** Training-data pipeline operators over `documents` / `embeddings`:
  * dedup (exact, n-gram Jaccard, MinHash+LSH, SimHash), similarity search
  * (brute-force cosine top-k, LSH-bucketed), and text analysis (tokens,
  * quality, language ID, fingerprints).
  *
  * Scale notes baked into the shapes:
  *   - Near-dup candidate generation is an equi-join on shingle / band /
  *     bucket keys — never an O(n^2) cross join. At 100 TB the candidate
  *     join shuffles on a compact key and AQE handles skewed shingles
  *     (stopword-heavy shingles would need a frequency cut, noted inline).
  *   - All hashes route through md5 so DuckDB reproduces them exactly.
  */
object LlmPipeline extends Catalog {

  /** Spreads `df` over `defaultParallelism` partitions with a round-robin
    * shuffle when its parquet scan is both few-file and many-row, and
    * returns it unchanged otherwise:
    *   - read from at least `defaultParallelism` files: not spread. Each
    *     file is at least one split and Spark's split planner sizes
    *     splits to about one per core, so the scan already runs a task
    *     per core and the spread would only shuffle every row once more.
    *   - fewer files holding at most [[SpreadMinRows]] rows (their parquet
    *     footers' row counts, read on the driver): not spread. Its
    *     per-row kernels cost less than the job, stage and tasks the
    *     shuffle adds.
    *   - fewer files holding more rows: spread. A file of a few MB is
    *     one row group, read by one task, and its per-row-heavy stages
    *     (md5 shingling, dot products) would otherwise run on one core.
    *   - an input that is not a parquet file scan (a `LogicalRDD`, say):
    *     spread, since its rows are unknown.
    * Rows, not bytes, measure the per-row work: the same rows can
    * compress 3x better in one corpus than in another. */
  private[graft] def spread(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession
    val n = s.sparkContext.defaultParallelism
    val keep = graft.Tables.parquetFiles(df.queryExecution.analyzed).exists(files =>
      files.size >= n || graft.Tables.parquetRows(s, files, SpreadMinRows) <= SpreadMinRows)
    if (keep) df else df.repartition(n)
  }

  /** The most rows a few-file input may hold and still skip [[spread]]'s
    * shuffle. Measured with `graft.Bench` on one-file `documents` tables
    * of 1,500 to 20,000 rows (4 cores, minhash, simhash, components and
    * BM25 queries, two alternating passes): without the spread their
    * summed medians were even at 1,500 and 3,000 rows, where the shuffle
    * only adds CPU, and 7%, 27% and 44% slower at 5,000, 10,000 and
    * 20,000. */
  private[graft] val SpreadMinRows = 4096L

  /** DuckDB fragment: whitespace tokens of normalized text (mirror of
    * TextFunctions.tokens∘normalizeText). */
  private val SqlTokens =
    "string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '\\s+')"

  /** DuckDB fragment: md5-derived 60-bit hash of a string expr (mirror of
    * TextFunctions.md5Long). */
  private def sqlMd5Long(e: String) =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** DuckDB fragment: UNSIGNED 64-bit FNV-1a over a hex-encoded byte
    * string (as produced by `hex(encode(col))`), returned as HUGEINT in
    * [0, 2^64) — the bit-exact mirror of `plans.HashKernels.fnv64` (one
    * xor-multiply fold per byte, multiply in HUGEINT mod 2^64). Taking
    * the PRE-HEXED column (materialized once in a prior CTE) keeps the
    * per-byte lambda O(1) instead of re-encoding the string per byte.
    * The validated recipe behind the r10 rows-only-to-full-oracle
    * promotions (q_fingerprint_rolling, q_dedup_*_native). */
  private def sqlFnvFromHex(hx: String) =
    s"""list_reduce(
       |      list_prepend(14695981039346656037::HUGEINT,
       |        list_transform(range(1, len($hx)//2 + 1),
       |          i -> CAST(CAST('0x' || substr($hx, 2*i-1, 2) AS INTEGER) AS HUGEINT))),
       |      (a, b) -> (CAST(xor(CAST(a AS UBIGINT), CAST(b AS UBIGINT)) AS HUGEINT)
       |                 * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)""".stripMargin

  /** DuckDB fragment: reinterpret an unsigned HUGEINT in [0, 2^64) as the
    * two's-complement signed BIGINT Spark's Long arithmetic produces. */
  private def sqlU64Signed(u: String) =
    s"""CAST(CASE WHEN $u >= 9223372036854775808::HUGEINT
       |     THEN $u - 18446744073709551616::HUGEINT ELSE $u END AS BIGINT)""".stripMargin

  /** DuckDB fragment: distinct 3-word shingles of normalized text (mirror
    * of DedupFunctions.wordShingles(_, 3)). */
  private val SqlShingles3 =
    s"""CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
       |     ELSE list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                         for i in range(1, len(ws) - 1)]) END""".stripMargin

  // ---------------------------------------------------------------- dedup

  // -- exact dedup: 64-bit fingerprint of normalized text, keep min id.
  q("q_dedup_exact",
    """SELECT substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) AS fp,
      |  min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1""") { (s, dir) =>
    load(s, dir, "documents")
      .groupBy(T.fingerprintHex(col("text")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
  }

  // -- T5-style span corruption: each token masks independently with
  //    P=15% decided by md5(doc_id|pos) — deterministic, reproducible,
  //    and oracle-exact (the same md5 arithmetic on both engines). Emits
  //    the corrupted text and the extraction targets. Scale shape: a
  //    PURE MAP — per-doc lambda pipeline (sequence/zip_with/filter), no
  //    explode, no shuffle anywhere.
  q("q_span_mask",
    s"""WITH t AS (SELECT doc_id, $SqlTokens AS toks FROM documents),
       |p AS (SELECT doc_id, toks, unnest(range(len(toks))) AS pos
       |      FROM t WHERE len(toks) > 0),
       |m AS (
       |  SELECT doc_id, pos, toks[pos + 1] AS tok,
       |    (${sqlMd5Long("doc_id || '|' || pos")} % 100) < 15 AS masked
       |  FROM p)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       |  string_agg(CASE WHEN masked THEN '<X>' ELSE tok END, ' ' ORDER BY pos)
       |    AS masked_text,
       |  coalesce(string_agg(CASE WHEN masked THEN tok END, ' ' ORDER BY pos), '')
       |    AS targets
       |FROM m GROUP BY doc_id""") { (s, dir) =>
    spread(load(s, dir, "documents"))
      .withColumn("toks", T.tokens(col("text")))
      .filter(size(col("toks")) > 0)
      .withColumn("flags",
        transform(sequence(lit(0), size(col("toks")) - 1), i =>
          T.md5Long(concat(col("doc_id").cast("string"), lit("|"),
            i.cast("string"))) % 100 < 15))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        expr("cast(size(filter(flags, x -> x)) as bigint)").as("n_masked"),
        expr("array_join(zip_with(toks, flags, (t, f) -> if(f, '<X>', t)), ' ')")
          .as("masked_text"),
        expr("""array_join(filter(zip_with(toks, flags, (t, f) -> if(f, t, null)),
          |x -> x is not null), ' ')""".stripMargin).as("targets"))
  }

  // -- deterministic corpus shuffle — the "globally shuffle the corpus
  //    before training" step: every doc gets a pseudo-random but
  //    REPRODUCIBLE position (md5 of the salted id — reshuffling = new
  //    salt). Scale shape: NO single-partition global sort — range
  //    partition on the shuffle key, sort within partitions, then
  //    per-partition offsets via zipWithIndex (partition boundaries don't
  //    change the global order), same machinery as q_sequence_packing.
  q("q_corpus_shuffle",
    s"""SELECT row_number() OVER (
       |    ORDER BY ${sqlMd5Long("'shuf-0|' || CAST(doc_id AS VARCHAR)")}, doc_id)
       |  - 1 AS pos, doc_id, source
       |FROM documents""") { (s, dir) =>
    val keyed = load(s, dir, "documents")
      .select(T.md5Long(concat(lit("shuf-0|"), col("doc_id").cast("string"))).as("k"),
        col("doc_id"), col("source"))
    val sorted = keyed
      .repartitionByRange(s.sparkContext.defaultParallelism, col("k"), col("doc_id"))
      .sortWithinPartitions("k", "doc_id")
    val numbered = s.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (row, i) => Row.fromSeq(i +: row.toSeq) },
      StructType(StructField("pos", LongType, nullable = false) +: sorted.schema.fields))
    numbered.select("pos", "doc_id", "source")
  }

  // -- STREAMING exact dedup — the incremental twin of q_dedup_exact: a
  //    crawl stream deduped AS IT ARRIVES. Per-fingerprint (keep_id,
  //    n_copies) is an update-mode streaming aggregation; its state is
  //    the fingerprint table itself (the inherent floor for exact dedup —
  //    the reference's picture too: a compacted keep-first KTable).
  //    Update-mode emissions reconcile WITHOUT a timestamp because both
  //    gauges are monotone per key: keep_id only falls (min), n_copies
  //    only rises (count) — so the final view is min/max over emissions,
  //    batch-split-proof. Oracle = the batch GROUP BY.
  q("q_dedup_exact_live",
    """SELECT substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) AS fp,
      |  min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1""") { (s, dir) =>
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val raw = s.read.parquet(s"$dir/documents.parquet")
    val docs = s.readStream.schema(raw.schema).parquet(s"$dir/documents.parq*")
    val name = s"ddl_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    docs.groupBy(T.fingerprintHex(col("text")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    s.table(name).groupBy("fp")
      .agg(min("keep_id").as("keep_id"), max("n_copies").as("n_copies"))
  }

  // -- STREAMING decontamination — train docs flow as a stream, the eval
  //    set's fingerprints are the STATIC side of a stream-static LEFT
  //    ANTI join (broadcast at this cardinality): contaminated docs drop
  //    in-flight with NO streaming state at all — the right shape for
  //    "filter the crawl against the benchmark" at 100 TB, where the eval
  //    set is tiny and the train side never needs to buffer.
  q("q_decontaminate_exact_live",
    """WITH fp AS (
      |  SELECT doc_id,
      |    substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) AS f
      |  FROM documents)
      |SELECT d.doc_id FROM fp d
      |WHERE d.doc_id % 20 <> 0
      |  AND d.f NOT IN (SELECT f FROM fp WHERE doc_id % 20 = 0)""") { (s, dir) =>
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val raw = s.read.parquet(s"$dir/documents.parquet")
    val evalFps = raw.filter(col("doc_id") % 20 === 0)
      .select(T.fingerprintHex(col("text")).as("f")).distinct()
    val train = s.readStream.schema(raw.schema).parquet(s"$dir/documents.parq*")
      .filter(col("doc_id") % 20 =!= 0)
      .select(col("doc_id"), T.fingerprintHex(col("text")).as("f"))
    val name = s"dcl_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    train.join(broadcast(evalFps), Seq("f"), "left_anti")
      .select("doc_id")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    s.table(name)
  }

  // -- n-gram Jaccard near-dup pairs, inverted-index style with a
  //    doc-frequency cut: shingles shared by >50 docs (stop-shingles) are
  //    dropped BEFORE pair generation, bounding every bucket's O(n^2) pair
  //    fan-out; remaining buckets equi-join on shingle, count shared
  //    shingles = |A∩B|, then |A∪B| = |A|+|B|-|A∩B| over the kept-shingle
  //    space (the cut is stated identically in the oracle).
  q("q_dedup_ngram_jaccard",
    s"""WITH docs AS (SELECT doc_id, $SqlTokens AS ws FROM documents),
       |sh AS (SELECT doc_id, unnest($SqlShingles3) AS s FROM docs),
       |kept AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50),
       |ksh AS (SELECT doc_id, s FROM sh JOIN kept USING (s)),
       |sized AS (SELECT doc_id, count(*) AS n_sh FROM ksh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM ksh a JOIN ksh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
       |FROM pairs
       |JOIN sized sa ON sa.doc_id = doc_a
       |JOIN sized sb ON sb.doc_id = doc_b
       |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) > 0.5""") { (s, dir) =>
    // doc-frequency cut BEFORE pair generation (mirrored verbatim in the
    // oracle's HAVING): stop-shingles shared by >50 docs would otherwise
    // make O(|bucket|^2) pair blowups inside single tasks at corpus scale
    val sh = spread(load(s, dir, "documents"))
      .select(col("doc_id"), explode(D.wordShingles(col("text"), 3)).as("s"))
    val kept = sh.groupBy("s").agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) <= 50)
      // reused by sized (twice, via the sa/sb aliases) and pairs — the
      // planner shares none of it (r15: 6 parquet scans in the before
      // plan); the lazy checkpoint computes the shingle pipeline once
      .localCheckpoint(false)
    val sized = kept.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // shingle -> bucket of doc_ids -> in-bucket ordered pairs;
    // |A∩B| = how many shingle-buckets contain the pair
    val pairs = kept.filter(size(col("ids")) > 1)
      .select(explode(D.orderedPairs(col("ids"))).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    val jac = col("n_inter").cast("double") /
      (col("sa.n_sh") + col("sb.n_sh") - col("n_inter"))
    // per-doc sizes join UNHINTED: `sized` is one row PER DOCUMENT, so a
    // forced broadcast dies at corpus scale (r9 verdict) — the equi-key
    // join lets AQE broadcast when actually small, shuffle-hash otherwise
    pairs
      .join(sized.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sized.as("sb"), col("sb.doc_id") === col("doc_b"))
      .filter(jac > 0.5)
      .select(col("doc_a"), col("doc_b"), round(jac, 6).as("jaccard"))
  }

  // -- character 4-gram Jaccard near-dups with a doc-frequency cut: char
  //    shingles shared by too many docs (stop-grams) are dropped BEFORE
  //    pair generation — the skew-bounding technique stated exactly in the
  //    oracle, so results stay hash-exact while the hot buckets vanish.
  q("q_dedup_char_ngram", {
    val nt = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
    s"""WITH docs AS (SELECT doc_id, $nt AS nt FROM documents),
       |sh AS (SELECT doc_id, unnest(
       |    CASE WHEN len(nt) < 4 THEN [nt]
       |         ELSE list_distinct([nt[i:i+3] for i in range(1, len(nt) - 2)]) END) AS s
       |  FROM docs),
       |kept AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50),
       |ksh AS (SELECT doc_id, s FROM sh JOIN kept USING (s)),
       |sized AS (SELECT doc_id, count(*) AS n_sh FROM ksh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM ksh a JOIN ksh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
       |FROM pairs
       |JOIN sized sa ON sa.doc_id = doc_a
       |JOIN sized sb ON sb.doc_id = doc_b
       |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) > 0.6""".stripMargin
  }) { (s, dir) =>
    val sh = spread(load(s, dir, "documents"))
      .select(col("doc_id"), explode(D.charShingles(col("text"), 4)).as("s"))
    val kept = sh.groupBy("s").agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) <= 50)
      // reused by sized (twice, via the sa/sb aliases) and pairs — the
      // planner shares none of it (r15: 6 parquet scans in the before
      // plan); the lazy checkpoint computes the shingle pipeline once
      .localCheckpoint(false)
    val sized = kept.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = kept.filter(size(col("ids")) > 1)
      .select(explode(D.orderedPairs(col("ids"))).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    val jac = col("n_inter").cast("double") /
      (col("sa.n_sh") + col("sb.n_sh") - col("n_inter"))
    // unhinted per-doc size join (corpus-proportional side; AQE decides)
    pairs
      .join(sized.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sized.as("sb"), col("sb.doc_id") === col("doc_b"))
      .filter(jac > 0.6)
      .select(col("doc_a"), col("doc_b"), round(jac, 6).as("jaccard"))
  }

  // -- asymmetric containment near-dups (Broder's containment coefficient,
  //    "On the resemblance and containment of documents", SEQUENCES '97):
  //    |A∩B|/|A| and |A∩B|/|B| over the kept-shingle space. Catches the
  //    pairs symmetric Jaccard structurally MISSES — a short doc embedded
  //    in a much longer one has high containment but low resemblance
  //    (quote-inclusion, boilerplate-wrapped copies), which is why
  //    dedup stacks run both. Same inverted-index + doc-frequency-cut
  //    shape as q_dedup_ngram_jaccard: the df cut bounds bucket fan-out
  //    BEFORE pair generation, |A∩B| falls out of one groupBy over
  //    in-bucket ordered pairs, and the per-doc sizes ride a broadcast
  //    join — identical 100 TB story, different final coefficient.
  q("q_dedup_containment",
    s"""WITH docs AS (SELECT doc_id, $SqlTokens AS ws FROM documents),
       |sh AS (SELECT doc_id, unnest($SqlShingles3) AS s FROM docs),
       |kept AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50),
       |ksh AS (SELECT doc_id, s FROM sh JOIN kept USING (s)),
       |sized AS (SELECT doc_id, count(*) AS n_sh FROM ksh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM ksh a JOIN ksh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  round(CAST(n_inter AS DOUBLE) / sa.n_sh, 6) AS cont_a,
       |  round(CAST(n_inter AS DOUBLE) / sb.n_sh, 6) AS cont_b
       |FROM pairs
       |JOIN sized sa ON sa.doc_id = doc_a
       |JOIN sized sb ON sb.doc_id = doc_b
       |WHERE greatest(CAST(n_inter AS DOUBLE) / sa.n_sh,
       |               CAST(n_inter AS DOUBLE) / sb.n_sh) >= 0.8""") { (s, dir) =>
    val sh = spread(load(s, dir, "documents"))
      .select(col("doc_id"), explode(D.wordShingles(col("text"), 3)).as("s"))
    val kept = sh.groupBy("s").agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) <= 50)
      // reused by sized (twice, via the sa/sb aliases) and pairs — the
      // planner shares none of it (r15: 6 parquet scans in the before
      // plan); the lazy checkpoint computes the shingle pipeline once
      .localCheckpoint(false)
    val sized = kept.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = kept.filter(size(col("ids")) > 1)
      .select(explode(D.orderedPairs(col("ids"))).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    val contA = col("n_inter").cast("double") / col("sa.n_sh")
    val contB = col("n_inter").cast("double") / col("sb.n_sh")
    // unhinted per-doc size join (corpus-proportional side; AQE decides)
    pairs
      .join(sized.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sized.as("sb"), col("sb.doc_id") === col("doc_b"))
      .filter(greatest(contA, contB) >= 0.8)
      .select(col("doc_a"), col("doc_b"),
        round(contA, 6).as("cont_a"), round(contB, 6).as("cont_b"))
  }

  // -- budgeted quality-threshold calibration (the FineWeb/DCLM "keep the
  //    top-X% of TOKENS by classifier score" curation step,
  //    arXiv:2406.17557 §3.2): given a per-doc integer quality score
  //    (alpha-token ratio in micro units — cheap, deterministic), find
  //    the MAXIMUM threshold bucket whose kept-token mass still meets a
  //    50%-of-corpus token budget, and report the achieved selection.
  //    Scale shape: ONE corpus scan folds each doc to (bucket, tokens);
  //    everything after — the cumulative sweep, the budget pick — runs
  //    on the BOUNDED ≤1001-row score histogram (the equi-depth
  //    discipline: windows only over bounded aggregates). Output is one
  //    row; the operator costs a scan regardless of corpus size.
  q("q_quality_budget_threshold",
    s"""WITH d AS (SELECT doc_id, $SqlTokens AS ws FROM documents),
       |sc AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tok,
       |         CAST(len(list_filter(ws, w -> regexp_full_match(w, '[a-z]+')))
       |              * 1000000 // len(ws) AS BIGINT) AS score_micro
       |       FROM d WHERE len(ws) > 0),
       |h AS (SELECT score_micro // 1000 AS bucket,
       |        CAST(count(*) AS BIGINT) AS n_docs,
       |        CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |      FROM sc GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM h),
       |cum AS (SELECT bucket, n_docs, n_tokens,
       |          CAST(sum(n_tokens) OVER (ORDER BY bucket DESC
       |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS kept_tokens,
       |          CAST(sum(n_docs) OVER (ORDER BY bucket DESC
       |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS kept_docs
       |        FROM h),
       |pick AS (SELECT cum.*, tot.total_tokens FROM cum CROSS JOIN tot
       |         WHERE kept_tokens >= total_tokens // 2
       |         ORDER BY bucket DESC LIMIT 1)
       |SELECT CAST(bucket AS BIGINT) AS threshold_bucket, kept_docs,
       |  kept_tokens, total_tokens,
       |  CAST(kept_tokens * 1000000 // total_tokens AS BIGINT) AS kept_ppm
       |FROM pick""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val sc = spread(load(s, dir, "documents"))
      .select(D.bindOnce(T.tokens(col("text"))) { ws =>
        struct(size(ws).cast("long").as("n_tok"),
          size(filter(ws, w => w.rlike("^[a-z]+$"))).cast("long").as("n_alpha"))
      }.as("t"))
      .filter(col("t.n_tok") > 0L)
      .select(col("t.n_tok").as("n_tok"),
        expr("t.n_alpha * 1000000 div t.n_tok").as("score_micro"))
    val h = sc.groupBy(expr("score_micro div 1000").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .localCheckpoint() // bounded <=1001 rows: windows ride this, not docs
    // the unpartitioned cumulative window sees ONLY the bounded histogram
    val w = Window.orderBy(col("bucket").desc).rowsBetween(Window.unboundedPreceding, 0)
    val cum = h.select(col("bucket"), col("n_docs"), col("n_tokens"),
      sum("n_tokens").over(w).as("kept_tokens"),
      sum("n_docs").over(w).as("kept_docs"))
    val tot = h.agg(sum("n_tokens").as("total_tokens"))
    cum.crossJoin(broadcast(tot)) // 1-row total
      .filter(col("kept_tokens") >= expr("total_tokens div 2"))
      .orderBy(col("bucket").desc).limit(1)
      .select(col("bucket").cast("long").as("threshold_bucket"),
        col("kept_docs"), col("kept_tokens"), col("total_tokens"),
        expr("kept_tokens * 1000000 div total_tokens").as("kept_ppm"))
  }

  // -- prefix-filtered set-similarity join (PPJoin's candidate stage —
  //    Xiao et al., WWW 2008 "Efficient Similarity Joins for Near
  //    Duplicate Detection"): the THIRD candidate-generation family next
  //    to LSH banding and the df-cut inverted index, and the only EXACT
  //    one — if J(A,B) >= t, the two prefixes under one global token
  //    order must intersect, so bucketing ONLY the prefixes finds every
  //    qualifying pair while posting |prefix| << |set| tokens per doc.
  //    Global order = rarest-token-first (df asc, token asc), prefix
  //    length = m - ceil(t·m) + 1 with t = 0.7 as the exact integer
  //    (7m+9) div 10. Scale shape: the df join is an equi-join on the
  //    token (AQE decides — vocab-sized side, never hinted); the per-doc
  //    prefix comes from a sort of THAT DOC's token set inside one
  //    aggregation buffer (sort_array over collect_list — no corpus
  //    window); buckets carry the 2..50 skew cut mirrored in the oracle;
  //    survivors verify by exact Jaccard.
  q("q_dedup_prefix_filter",
    s"""WITH d0 AS (SELECT doc_id, $SqlTokens AS ws FROM documents),
       |tk AS (SELECT DISTINCT doc_id, unnest(ws) AS w FROM d0),
       |dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tk GROUP BY w),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM tk GROUP BY doc_id),
       |ord AS (SELECT t.doc_id, t.w, s.m,
       |          row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.w)
       |            AS rk
       |        FROM tk t JOIN dfreq d USING (w) JOIN sz s USING (doc_id)),
       |pref AS (SELECT doc_id, w FROM ord
       |         WHERE rk <= m - ((7 * m + 9) // 10) + 1),
       |bkt AS (SELECT w FROM pref GROUP BY w HAVING count(*) BETWEEN 2 AND 50),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM pref a
       |         JOIN bkt USING (w)
       |         JOIN pref b ON b.w = a.w AND a.doc_id < b.doc_id),
       |inter AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS ni
       |          FROM cand c
       |          JOIN tk x ON x.doc_id = c.doc_a
       |          JOIN tk y ON y.doc_id = c.doc_b AND y.w = x.w
       |          GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, i.ni AS n_inter,
       |  CAST(ni * 1000000 // (sa.m + sb.m - ni) AS BIGINT) AS jaccard_micro
       |FROM inter i
       |JOIN sz sa ON sa.doc_id = i.doc_a
       |JOIN sz sb ON sb.doc_id = i.doc_b
       |WHERE ni * 1000000 // (sa.m + sb.m - ni) >= 700000""") { (s, dir) =>
    val tk = spread(load(s, dir, "documents"))
      .select(col("doc_id"), explode(array_distinct(T.tokens(col("text"))))
        .as("w"))
    val dfreq = tk.groupBy("w").agg(count(lit(1)).as("df"))
    val sz = tk.groupBy("doc_id").agg(count(lit(1)).as("m"))
    // per-doc prefix: sort THIS doc's tokens by the global (df, w) order
    // inside one agg buffer (doc-bounded), slice the prefix — no window
    val pref = tk.join(dfreq, "w") // vocab-sized side, unhinted (AQE)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("w")))).as("os"))
      .select(col("doc_id"),
        expr("slice(os, 1, cast(size(os) - ((7 * size(os) + 9) div 10) + 1 as int))")
          .as("ps"))
      .select(col("doc_id"), explode(col("ps")).as("p"))
      .select(col("doc_id"), col("p.w").as("w"))
    val cand = pref.groupBy("w")
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, 50))
      .select(explode(D.orderedPairs(col("ids"))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
    val inter = cand
      .join(tk.select(col("doc_id").as("doc_a"), col("w")), "doc_a")
      .join(tk.select(col("doc_id").as("doc_b"), col("w")), Seq("doc_b", "w"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sz.as("sa"), col("sa.doc_id") === col("doc_a")) // per-doc sizes:
      .join(sz.as("sb"), col("sb.doc_id") === col("doc_b")) // unhinted (AQE)
      .withColumn("jaccard_micro",
        expr("n_inter * 1000000 div (sa.m + sb.m - n_inter)"))
      .filter(col("jaccard_micro") >= 700000L)
      .select("doc_a", "doc_b", "n_inter", "jaccard_micro")
  }

  /** DuckDB CTE chain producing MinHash+LSH candidate pairs — shared by
    * q_dedup_minhash_lsh (emits the pairs) and q_dedup_components (closes
    * them into dedup groups). */
  private val SqlMinhashPairCtes =
    s"""docs AS (SELECT doc_id, $SqlTokens AS ws FROM documents),
       |sh AS (SELECT doc_id, unnest($SqlShingles3) AS shingle FROM docs),
       |h AS (SELECT doc_id, ${sqlMd5Long("shingle")} % 2147483647 AS hv FROM sh),
       |mh AS (
       |  SELECT doc_id, i, min((hv * (2*i + 1) + 12345 + 7919*i) % 2147483647) AS mv
       |  FROM h CROSS JOIN (SELECT unnest(range(16)) AS i)
       |  GROUP BY doc_id, i),
       |sig AS (SELECT doc_id, list(mv ORDER BY i) AS sig FROM mh GROUP BY doc_id),
       |bandkeys AS (
       |  SELECT doc_id, bd,
       |    ${sqlMd5Long("array_to_string(sig[bd*4 + 1 : bd*4 + 4], ',')")} AS bandhash
       |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS bd)),
       |small AS (
       |  SELECT bd, bandhash FROM bandkeys GROUP BY bd, bandhash
       |  HAVING count(*) BETWEEN 2 AND 50),
       |kb AS (SELECT bandkeys.* FROM bandkeys JOIN small USING (bd, bandhash))""".stripMargin

  private val SqlMinhashPairSelect =
    """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |FROM kb a
      |JOIN kb b ON a.bd = b.bd AND a.bandhash = b.bandhash
      |  AND a.doc_id < b.doc_id""".stripMargin

  /** Spark side of the same candidate-pair generation: the codegen'd
    * projection computes each document's band keys, and the bucket
    * pairing ([[D.bucketPairs]], the oracle's 2..50 bucket cap included)
    * runs on RDDs. A null doc_id never pairs. Every scan of the result
    * reads the same RDD and so reuses its shuffles: a consumer that reads
    * the pairs several times generates them once, without a checkpoint. */
  private def minhashPairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    s.createDataFrame(minhashPairRdd(s, dir).map { case (a, b) => Row(a, b) }, PairSchema)

  /** The (doc_a, doc_b) pairs of [[minhashPairs]] as the kernel's RDD:
    * the connected-components closures read them without a row encoding
    * round trip. */
  private def minhashPairRdd(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val members = spread(load(s, dir, "documents"))
      .select(col("doc_id").cast("long"),
        explode(D.bandKeys(D.minhashSignature(col("text"), 16), 4, 4)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bandhash"))
      .queryExecution.toRdd
      // bandhash is an md5 of a (never null) concat_ws
      .flatMap { r =>
        if (r.isNullAt(0)) None else Some(((r.getInt(1), r.getLong(2)), (r.getLong(0), ())))
      }
    D.bucketPairs(members) { case ((a, _), (b, _)) => Some((a, b)) }
  }

  private val PairSchema = StructType(Seq(
    StructField("doc_a", LongType, nullable = false),
    StructField("doc_b", LongType, nullable = false)))

  // -- MinHash + LSH banding: k=16 signature, 4 bands x 4 rows; candidate
  //    pairs share at least one band hash. Equi-join on (band, bandhash).
  q("q_dedup_minhash_lsh",
    s"WITH $SqlMinhashPairCtes\n$SqlMinhashPairSelect")(minhashPairs)

  // -- priority dedup keep — cross-source dedup where each duplicate
  //    group keeps the doc from the PREFERRED source (min (source,
  //    doc_id)), not the min id: the C4/Dolma-style "prefer the curated
  //    source over the crawl copy" rule. Same pair graph and closure as
  //    q_dedup_keep; only representative selection changes — a min_by
  //    per group, still one partial-agg'd shuffle.
  q("q_dedup_priority_keep",
    s"""WITH RECURSIVE $SqlMinhashPairCtes,
       |pairs AS ($SqlMinhashPairSelect),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
       |reach(n, m) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
       |  UNION
       |  SELECT s.b, r.m FROM reach r JOIN sym s ON s.a = r.n),
       |comp AS (SELECT n, min(m) AS label FROM reach GROUP BY n),
       |ranked AS (
       |  SELECT c.label, d.doc_id,
       |    row_number() OVER (PARTITION BY c.label ORDER BY d.source, d.doc_id) AS rn
       |  FROM comp c JOIN documents d ON d.doc_id = c.n),
       |losers AS (SELECT doc_id FROM ranked WHERE rn > 1)
       |SELECT d.doc_id, d.source FROM documents d
       |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id)""") { (s, dir) =>
    import graft.operators.ConnectedComponents
    val docs = load(s, dir, "documents").select(col("doc_id"), col("source"))
    val members = ConnectedComponents.runEdges(s, minhashPairRdd(s, dir))
      .join(docs, col("n") === col("doc_id"))
    val winners = members.groupBy("label")
      .agg(min_by(col("n"), struct(col("source"), col("n"))).as("win"))
    val losers = members.join(winners, "label")
      .filter(col("n") =!= col("win"))
      .select(col("n").as("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti").select("doc_id", "source")
  }

  // -- dedup-group closure: connected components over the MinHash pair
  //    graph (A~B, B~C => one group even though A,C never paired), with
  //    the minimum doc id as the canonical representative to keep. The
  //    Spark side closes a graph of at most 65,536 messages with one
  //    union-find pass; a larger one it contracts per partition chunk,
  //    then contracts the graph of local roots the same way until it
  //    fits one chunk. The oracle closes the same graph with a recursive
  //    CTE.
  q("q_dedup_components",
    s"""WITH RECURSIVE $SqlMinhashPairCtes,
       |pairs AS ($SqlMinhashPairSelect),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
       |reach(n, m) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
       |  UNION
       |  SELECT s.b, r.m FROM reach r JOIN sym s ON s.a = r.n)
       |SELECT n AS doc_id, min(m) AS component,
       |  CAST(n = min(m) AS INT) AS is_canonical
       |FROM reach GROUP BY n""") { (s, dir) =>
    import graft.operators.ConnectedComponents
    ConnectedComponents.runEdges(s, minhashPairRdd(s, dir))
      .select(col("n").as("doc_id"), col("label").as("component"),
        (col("n") === col("label")).cast("int").as("is_canonical"))
  }

  // -- apply the closure: the cleaned corpus — drop every non-canonical
  //    member of a near-dup group, keep everything else. One anti join of
  //    the corpus against the (tiny) non-canonical id set; at 100 TB the
  //    loser list is a fraction of the dup mass, broadcast it.
  q("q_dedup_keep",
    s"""WITH RECURSIVE $SqlMinhashPairCtes,
       |pairs AS ($SqlMinhashPairSelect),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
       |reach(n, m) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
       |  UNION
       |  SELECT s.b, r.m FROM reach r JOIN sym s ON s.a = r.n),
       |losers AS (
       |  SELECT n AS doc_id FROM reach GROUP BY n HAVING n <> min(m))
       |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
       |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id)""") { (s, dir) =>
    import graft.operators.ConnectedComponents
    val losers = ConnectedComponents.runEdges(s, minhashPairRdd(s, dir))
      .filter(col("n") =!= col("label"))
      .select(col("n").as("doc_id"))
    // losers is one row per DUPLICATE doc — web crawls run 30-50% dup
    // mass, so it scales with the corpus: no broadcast hint (the anti
    // join stays an equi-key hash join; AQE broadcasts iff truly small)
    load(s, dir, "documents")
      .join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_chars")
  }

  // -- dedup-group size histogram: how many near-dup clusters exist at
  //    each size — the first chart a dedup run's report shows (a heavy
  //    tail here means template/boilerplate families; Lee et al.,
  //    arXiv:2107.06499 §4 reports exactly this distribution). Chains on
  //    the q_dedup_components closure: per-component size is one count
  //    over the (dup-docs-only) membership table, the histogram a second
  //    count over component rows — both shuffles are FRACTIONS of the
  //    dup mass, nothing corpus-sized moves. Singleton docs never enter
  //    the pair graph, so sizes start at 2 by construction.
  q("q_dedup_cluster_sizes",
    s"""WITH RECURSIVE $SqlMinhashPairCtes,
       |pairs AS ($SqlMinhashPairSelect),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
       |reach(n, m) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
       |  UNION
       |  SELECT s.b, r.m FROM reach r JOIN sym s ON s.a = r.n),
       |comp AS (SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n),
       |sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
       |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(cluster_size * count(*) AS BIGINT) AS docs_in_size,
       |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS removable
       |FROM sizes GROUP BY cluster_size""") { (s, dir) =>
    import graft.operators.ConnectedComponents
    ConnectedComponents.runEdges(s, minhashPairRdd(s, dir))
      .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("docs_in_size"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("removable"))
  }

  // -- MinHash estimator accuracy report: for every LSH candidate pair,
  //    the signature-agreement estimate (matches/16 — Broder's unbiased
  //    Jaccard estimator) against the EXACT shingle-set Jaccard, with
  //    the absolute error — the sketch-validation readout that justifies
  //    a chosen signature width (error concentrates as 1/√k; k=16 here,
  //    so ±0.125 at one sigma). Everything is md5-deterministic, so both
  //    the estimate AND the truth are oracle-exact — a sketch-accuracy
  //    query with a bit-exact oracle. Shape: the pair set is band-cut
  //    bounded; signatures join on the pair ids; the exact intersection
  //    is two shingle equi-joins restricted to pair docs — nothing
  //    corpus-quadratic.
  q("q_minhash_estimate",
    s"""WITH $SqlMinhashPairCtes,
       |pairs AS ($SqlMinhashPairSelect),
       |est AS (
       |  SELECT p.doc_a, p.doc_b,
       |    len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i])) AS matches
       |  FROM pairs p
       |  JOIN sig a ON a.doc_id = p.doc_a
       |  JOIN sig b ON b.doc_id = p.doc_b),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, count(*) AS ninter
       |  FROM pairs p
       |  JOIN sh a2 ON a2.doc_id = p.doc_a
       |  JOIN sh b2 ON b2.doc_id = p.doc_b AND b2.shingle = a2.shingle
       |  GROUP BY 1, 2)
       |SELECT e.doc_a, e.doc_b,
       |  CAST(e.matches AS BIGINT) AS matches,
       |  e.matches / 16.0 AS est_jaccard,
       |  CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter) AS exact_jaccard,
       |  round(abs(e.matches / 16.0 -
       |    CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter)), 6) AS abs_err
       |FROM est e
       |JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
       |JOIN sizes sa ON sa.doc_id = e.doc_a
       |JOIN sizes sb ON sb.doc_id = e.doc_b""") { (s, dir) =>
    val pairs = minhashPairs(s, dir)
    val sigs = spread(load(s, dir, "documents"))
      .select(col("doc_id"), D.minhashSignature(col("text"), 16).as("sig"))
    val sh = spread(load(s, dir, "documents"))
      .select(col("doc_id"), explode(D.wordShingles(col("text"), 3)).as("shingle"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val est = pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), _ + _).as("matches"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ninter"))
    val exact = col("ninter").cast("double") /
      (col("sa.n") + col("sb.n") - col("ninter"))
    est.join(inter, Seq("doc_a", "doc_b"))
      .join(sizes.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sizes.as("sb"), col("sb.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("matches"),
        (col("matches") / 16.0).as("est_jaccard"),
        exact.as("exact_jaccard"),
        round(abs(col("matches") / 16.0 - exact), 6).as("abs_err"))
  }

  // -- native-Expression MinHash+LSH (codegen'd one-pass shingle hashing
  //    via graft.plans.ShingleHashes + FNV-folded band keys): same LSH
  //    structure as q_dedup_minhash_lsh but on the cheap non-crypto hash
  //    path — the production-perf variant. FULL oracle since r10: the
  //    band key is an FNV-1a fold over (band, 4 signature lanes) in
  //    plain Long arithmetic (replacing r9's xxhash64, whose internal
  //    row hashing no second engine replays), so the ENTIRE pipeline —
  //    shingle FNV, 16 affine permutations, band fold, 2..50 bucket cut,
  //    in-bucket pairing — mirrors in DuckDB integer-for-integer.
  q("q_dedup_minhash_native",
    s"""WITH docs AS (SELECT doc_id, $SqlTokens AS ws FROM documents),
       |sh AS (SELECT doc_id, unnest($SqlShingles3) AS shingle FROM docs),
       |hx AS (SELECT doc_id, hex(encode(shingle)) AS hs FROM sh),
       |hu AS (SELECT doc_id, ${sqlFnvFromHex("hs")} AS hu FROM hx),
       |h AS (SELECT doc_id, ${sqlU64Signed("hu")} AS h FROM hu),
       |p AS (SELECT doc_id, ((h % 2147483647) + 2147483647) % 2147483647 AS hp
       |      FROM h),
       |mh AS (SELECT doc_id, i,
       |         min((hp * (2*i + 1) + 12345 + 7919*i) % 2147483647) AS mv
       |       FROM p CROSS JOIN (SELECT unnest(range(16)) AS i)
       |       GROUP BY doc_id, i),
       |sig AS (SELECT doc_id, list(mv ORDER BY i) AS sig FROM mh GROUP BY doc_id),
       |bandkeys AS (
       |  SELECT doc_id, bd,
       |    list_reduce(
       |      list_prepend(
       |        CAST(xor(14695981039346656037::UBIGINT, CAST(bd AS UBIGINT))
       |             AS HUGEINT),
       |        list_transform(sig[bd*4 + 1 : bd*4 + 4], v -> CAST(v AS HUGEINT))),
       |      (a, b) -> (CAST(xor(CAST(a AS UBIGINT), CAST(b AS UBIGINT)) AS HUGEINT)
       |                 * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)
       |      AS bandhash
       |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS bd)),
       |small AS (
       |  SELECT bd, bandhash FROM bandkeys GROUP BY bd, bandhash
       |  HAVING count(*) BETWEEN 2 AND 50),
       |kb AS (SELECT bandkeys.* FROM bandkeys JOIN small USING (bd, bandhash))
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM kb a JOIN kb b
       |  ON a.bd = b.bd AND a.bandhash = b.bandhash AND a.doc_id < b.doc_id""") {
    (s, dir) =>
    import graft.plans.NativeHash
    val P = 2147483647L
    val sigs = spread(load(s, dir, "documents"))
      .select(col("doc_id"),
        D.bindOnce(NativeHash.shingleHashes(col("text"), 3)) { hs =>
          transform(sequence(lit(0), lit(15)), i =>
            array_min(transform(hs, h =>
              (pmod(h, lit(P)) * (i * 2 + 1) + (lit(12345L) + lit(7919L) * i)) % P)))
        }.as("sig"))
    sigs
      .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("band"), col("sig"))
      .select(col("doc_id"), col("band"),
        // FNV-1a fold over the band's 4 signature lanes, seeded by the
        // band id — a codegen'd Expression because the fold MUST wrap
        // mod 2^64 (ANSI-mode Column `*` throws on Long overflow); the
        // oracle replays it as a HUGEINT-mod-2^64 list_reduce
        NativeHash.fnvFoldLongs(expr("slice(sig, band*4 + 1, 4)"),
          col("band").cast("long")).as("bandhash"))
      .groupBy("band", "bandhash")
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, 50))
      .select(explode(D.orderedPairs(col("ids"))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
  }

  // -- SimHash fingerprint per document (60 bits; near-dups differ in few
  //    bits — pairing by hamming distance is done off the fingerprint).
  q("q_dedup_simhash",
    s"""WITH t AS (SELECT doc_id, unnest($SqlTokens) AS tok FROM documents),
       |h AS (SELECT doc_id, ${sqlMd5Long("tok")} AS hv FROM t),
       |bits AS (
       |  SELECT doc_id, b,
       |    CASE WHEN sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
       |         THEN CAST(1 AS BIGINT) << b ELSE 0 END AS bitval
       |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS b)
       |  GROUP BY doc_id, b)
       |SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS simhash
       |FROM bits GROUP BY doc_id""") { (s, dir) =>
    spread(load(s, dir, "documents"))
      .select(col("doc_id"), D.simhash64(col("text")).as("simhash"))
  }

  // -- SimHash near-dup PAIRS: band the 60-bit fingerprint into 4x15-bit
  //    chunks (pigeonhole: any pair within hamming 3 shares a chunk),
  //    bucket on (band, chunk), rescore candidates by exact hamming
  //    distance — the banding is mirrored in the oracle, so results stay
  //    hash-exact while pair generation never goes all-pairs.
  /** Banded SimHash pairing shared by the md5 (oracle) and native-FNV
    * twins: 4x15-bit chunks, the 2..50 bucket cap mirroring the oracle's
    * HAVING (a hot chunk — e.g. the fingerprint mass of near-empty docs —
    * must not fan out O(n^2) pairs in one task; exact-dup groups that
    * large belong to q_dedup_exact), fingerprints riding the buckets
    * ([[D.bucketPairs]]), hamming <= 5 rescore. One body so the twins
    * cannot silently diverge. A null doc_id never pairs. */
  private def simhashBandPairs(fps: org.apache.spark.sql.DataFrame) = {
    val members = fps.select(col("doc_id").cast("long"), col("h")).queryExecution.toRdd
      .flatMap { r =>
        // a null h could only pair inside the null bucket, where the
        // hamming filter drops every pair: skip it (getLong reads it as 0)
        if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
        else {
          val (id, h) = (r.getLong(0), r.getLong(1))
          Iterator.tabulate(4)(band => ((band, (h >> (band * 15)) & 32767L), (id, h)))
        }
      }
    val pairs = D.bucketPairs(members) { case ((a, ha), (b, hb)) =>
      val ham = java.lang.Long.bitCount(ha ^ hb)
      if (ham <= 5) Some(Row(a, b, ham)) else None
    }
    fps.sparkSession.createDataFrame(pairs, SimhashPairSchema)
  }

  private val SimhashPairSchema = StructType(Seq(
    StructField("doc_a", LongType, nullable = false),
    StructField("doc_b", LongType, nullable = false),
    StructField("hamming", IntegerType, nullable = false)))

  q("q_dedup_simhash_pairs",
    s"""WITH t AS (SELECT doc_id, unnest($SqlTokens) AS tok FROM documents),
       |h AS (SELECT doc_id, ${sqlMd5Long("tok")} AS hv FROM t),
       |bits AS (
       |  SELECT doc_id, b,
       |    CASE WHEN sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
       |         THEN CAST(1 AS BIGINT) << b ELSE 0 END AS bitval
       |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS b)
       |  GROUP BY doc_id, b),
       |fp AS (SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS h
       |       FROM bits GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, (h >> (b * 15)) & 32767 AS chunk, b AS band
       |  FROM fp CROSS JOIN (SELECT unnest(range(4)) AS b)),
       |small AS (
       |  SELECT band, chunk FROM bands GROUP BY band, chunk
       |  HAVING count(*) BETWEEN 2 AND 50),
       |kb AS (SELECT bands.* FROM bands JOIN small USING (band, chunk)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM kb a JOIN kb b
       |    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, bit_count(xor(fa.h, fb.h)) AS hamming
       |FROM pairs
       |JOIN fp fa ON fa.doc_id = doc_a
       |JOIN fp fb ON fb.doc_id = doc_b
       |WHERE bit_count(xor(fa.h, fb.h)) <= 5""") { (s, dir) =>
    simhashBandPairs(spread(load(s, dir, "documents"))
      .select(col("doc_id"), D.simhash64(col("text")).as("h")))
  }

  // -- STREAMING SimHash near-dup twin — "dedup the crawl as it arrives".
  //    Docs replay as a stream; per-(band, chunk) MapState buckets emit a
  //    qualifying pair the moment its second member arrives, a cross-band
  //    once-only stage mirrors the batch `.distinct()`
  //    (streaming/StreamingNearDup.scala; cross-batch arrival + overflow
  //    semantics pinned by StreamingNearDupSpec). One replay batch hits
  //    the exact batch bucket cut, so the oracle is the batch
  //    q_dedup_simhash_pairs SQL.
  q("q_dedup_simhash_live",
    s"""WITH t AS (SELECT doc_id, unnest($SqlTokens) AS tok FROM documents),
       |h AS (SELECT doc_id, ${sqlMd5Long("tok")} AS hv FROM t),
       |bits AS (
       |  SELECT doc_id, b,
       |    CASE WHEN sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
       |         THEN CAST(1 AS BIGINT) << b ELSE 0 END AS bitval
       |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS b)
       |  GROUP BY doc_id, b),
       |fp AS (SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS h
       |       FROM bits GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, (h >> (b * 15)) & 32767 AS chunk, b AS band
       |  FROM fp CROSS JOIN (SELECT unnest(range(4)) AS b)),
       |small AS (
       |  SELECT band, chunk FROM bands GROUP BY band, chunk
       |  HAVING count(*) BETWEEN 2 AND 50),
       |kb AS (SELECT bands.* FROM bands JOIN small USING (band, chunk)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM kb a JOIN kb b
       |    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, bit_count(xor(fa.h, fb.h)) AS hamming
       |FROM pairs
       |JOIN fp fa ON fa.doc_id = doc_a
       |JOIN fp fb ON fb.doc_id = doc_b
       |WHERE bit_count(xor(fa.h, fb.h)) <= 5""") { (s, dir) =>
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import s.implicits._
    val raw = s.read.parquet(s"$dir/documents.parquet")
    val docs = s.readStream.schema(raw.schema).parquet(s"$dir/documents.parq*")
    val ks = graft.api.GraftStreams(s).stream[Long, Long](docs,
      col("doc_id"), D.simhash64(col("text")), expr("timestamp_micros(doc_id)"))
    val name = s"dsl_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    graft.streaming.StreamingNearDup.simhashPairs(ks)
      .toDF("doc_a", "doc_b", "hamming", "ts")
      .select("doc_a", "doc_b", "hamming")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    s.table(name)
  }

  // -- STREAMING MinHash-LSH twin — the other live near-dup family: the
  //    crawl's MinHash signatures band into per-(band, bandhash) MapState
  //    buckets; docs meeting in a bucket emit a candidate pair the moment
  //    the second member arrives (streaming/StreamingNearDup.minhashPairs;
  //    cross-batch arrival pinned by StreamingNearDupSpec). One replay
  //    batch hits the exact batch bucket cut, so the oracle is the batch
  //    q_dedup_minhash_lsh SQL.
  q("q_dedup_minhash_live",
    s"WITH $SqlMinhashPairCtes\n$SqlMinhashPairSelect") { (s, dir) =>
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import s.implicits._
    val raw = s.read.parquet(s"$dir/documents.parquet")
    val docs = s.readStream.schema(raw.schema).parquet(s"$dir/documents.parq*")
    val ks = graft.api.GraftStreams(s).stream[Long, Seq[Long]](docs,
      col("doc_id"),
      D.minhashSignature(col("text"), 16),
      expr("timestamp_micros(doc_id)"))
    val name = s"dsl_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    graft.streaming.StreamingNearDup.minhashPairs(ks)
      .toDF("doc_a", "doc_b", "ts")
      .select("doc_a", "doc_b")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    s.table(name)
  }

  // -- native-hash SimHash pairing twin (one-pass codegen'd kernel, FNV
  //    family): same 4x15-bit banding + hamming rescoring as
  //    q_dedup_simhash_pairs. FULL oracle since r10 — the per-token FNV
  //    is a pure integer byte fold DuckDB replays exactly (sqlFnvFromHex),
  //    so the whole vote/band/rescore pipeline shares the md5 twin's SQL
  //    with only the hash CTE swapped. CrossCheckSpec additionally pins
  //    overlap with the md5 twin.
  q("q_dedup_simhash_native",
    s"""WITH t AS (SELECT doc_id, unnest($SqlTokens) AS tok FROM documents),
       |hx AS (SELECT doc_id, hex(encode(tok)) AS hs FROM t),
       |hu AS (SELECT doc_id, ${sqlFnvFromHex("hs")} AS hu FROM hx),
       |h AS (SELECT doc_id, ${sqlU64Signed("hu")} AS hv FROM hu),
       |bits AS (
       |  SELECT doc_id, b,
       |    CASE WHEN sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
       |         THEN CAST(1 AS BIGINT) << b ELSE 0 END AS bitval
       |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS b)
       |  GROUP BY doc_id, b),
       |fp AS (SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS h
       |       FROM bits GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, (h >> (b * 15)) & 32767 AS chunk, b AS band
       |  FROM fp CROSS JOIN (SELECT unnest(range(4)) AS b)),
       |small AS (
       |  SELECT band, chunk FROM bands GROUP BY band, chunk
       |  HAVING count(*) BETWEEN 2 AND 50),
       |kb AS (SELECT bands.* FROM bands JOIN small USING (band, chunk)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM kb a JOIN kb b
       |    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, bit_count(xor(fa.h, fb.h)) AS hamming
       |FROM pairs
       |JOIN fp fa ON fa.doc_id = doc_a
       |JOIN fp fb ON fb.doc_id = doc_b
       |WHERE bit_count(xor(fa.h, fb.h)) <= 5""") { (s, dir) =>
    import graft.plans.NativeHash
    simhashBandPairs(spread(load(s, dir, "documents"))
      .select(col("doc_id"), NativeHash.simhash64Native(col("text")).as("h")))
  }

  // ------------------------------------------------- pipeline operators

  // -- batch as-of join (operators.AsOfJoin): each click picks up the
  //    latest purchase cents at or before its event time — union +
  //    windowed last_value, ONE shuffle, no range-join pair explosion.
  //    Same semantics as the live streaming join (q_stream_table_join_live)
  //    replayed over history; same oracle shape.
  q("q_asof_join",
    """WITH u AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN event_type = 'purchase'
      |         THEN CAST(round(value * 100) AS BIGINT) END AS cents
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |f AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    last_value(CASE WHEN event_type = 'purchase' THEN struct_pack(c := cents) END
      |               IGNORE NULLS) OVER (
      |      PARTITION BY user_id
      |      ORDER BY ts, CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END
      |      ROWS UNBOUNDED PRECEDING) AS cur
      |  FROM u)
      |SELECT user_id, event_id AS click_id, cur.c AS purchase_cents
      |FROM f WHERE event_type = 'click' AND cur.c IS NOT NULL""") { (s, dir) =>
    import graft.operators.AsOfJoin
    val ev = load(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        round(col("value") * 100).cast("long").as("purchase_cents"))
    AsOfJoin.backward(clicks, purchases, key = "user_id",
        leftTs = "ts", rightTs = "p_ts", payload = Seq("purchase_cents"))
      .filter(col("purchase_cents").isNotNull)
      .select("user_id", "click_id", "purchase_cents")
  }

  // -- forward as-of join: each click picks up the NEXT purchase at or
  //    after its event time (conversion attribution) — mirrored window
  //    direction, same single-shuffle shape.
  q("q_asof_join_forward",
    """WITH u AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN event_type = 'purchase'
      |         THEN CAST(round(value * 100) AS BIGINT) END AS cents
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |f AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    first_value(CASE WHEN event_type = 'purchase' THEN struct_pack(c := cents) END
      |                IGNORE NULLS) OVER (
      |      PARTITION BY user_id
      |      ORDER BY ts, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
      |  FROM u)
      |SELECT user_id, event_id AS click_id, nxt.c AS conversion_cents
      |FROM f WHERE event_type = 'click' AND nxt.c IS NOT NULL""") { (s, dir) =>
    import graft.operators.AsOfJoin
    val ev = load(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        round(col("value") * 100).cast("long").as("conversion_cents"))
    AsOfJoin.forward(clicks, purchases, key = "user_id",
        leftTs = "ts", rightTs = "p_ts", payload = Seq("conversion_cents"))
      .filter(col("conversion_cents").isNotNull)
      .select("user_id", "click_id", "conversion_cents")
  }

  // -- deterministic stratified sampling (functions.Sampling): keep/drop
  //    decided by a salted md5 of the row id, so the sample is identical
  //    across runs, partitionings, and engines (the oracle draws the SAME
  //    rows); per-language rates downweight over-represented strata.
  q("q_sample_stratified",
    """SELECT doc_id, lang FROM documents
      |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'corpus-v1'), 1, 15) AS BIGINT)
      |        % 1000000 <
      |      CAST((CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.1
      |                      ELSE 0.25 END) * 1000000 AS BIGINT)""") { (s, dir) =>
    import graft.functions.Sampling
    val rate = when(col("lang") === "en", 0.5)
      .when(col("lang") === "zh", 0.1)
      .otherwise(0.25)
    load(s, dir, "documents")
      .filter(Sampling.keep(col("doc_id"), "corpus-v1", rate))
      .select("doc_id", "lang")
  }

  // -- per-source duplication rate: what fraction of each source's docs
  //    are exact-dup copies (doc count minus distinct fingerprints) —
  //    the per-feed health number a crawl operator watches to catch a
  //    misbehaving source before it floods the corpus. Two partial-agg'd
  //    shuffles on compact keys ((source, fp) then source); BIGINT
  //    counts, one correctly-rounded divide.
  q("q_dup_rate_by_source",
    """WITH f AS (
      |  SELECT source,
      |    substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) AS fp
      |  FROM documents),
      |g AS (SELECT source, fp, count(*) AS c FROM f GROUP BY source, fp)
      |SELECT source,
      |  CAST(sum(c) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_distinct,
      |  CAST(sum(c) - count(*) AS BIGINT) AS n_dups,
      |  round(CAST(sum(c) - count(*) AS DOUBLE) / sum(c), 6) AS dup_rate
      |FROM g GROUP BY source""") { (s, dir) =>
    load(s, dir, "documents")
      .groupBy(col("source"), T.fingerprintHex(col("text")).as("fp"))
      .agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (sum("c") - count(lit(1))).as("n_dups"),
        round((sum("c") - count(lit(1))).cast("double") / sum("c"), 6)
          .as("dup_rate"))
  }

  // -- per-stratum inspection sample: the k-docs-per-(source,lang)
  //    eyeball sample every curation change ships for review — rank by
  //    salted hash within the stratum (deterministic: same docs every
  //    run, every engine; a fresh salt redraws) and keep the top 2.
  //    One stratum-keyed rank window; at scale the window input is the
  //    full corpus but the rank is a per-stratum top-k — for huge
  //    strata the TopK bounded-buffer operator replaces the window
  //    (same output, no full sort), the documented swap.
  q("q_inspection_sample",
    """WITH h AS (
      |  SELECT doc_id, source, lang, n_chars,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'inspect-v1'), 1, 15) AS BIGINT) AS hv
      |  FROM documents),
      |r AS (SELECT *, row_number() OVER (
      |        PARTITION BY source, lang ORDER BY hv, doc_id) AS rk
      |      FROM h)
      |SELECT doc_id, source, lang, n_chars, CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= 2""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val hv = T.md5Long(concat(col("doc_id").cast("string"), lit("inspect-v1")))
    val w = Window.partitionBy("source", "lang").orderBy(col("hv"), col("doc_id"))
    load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        hv.as("hv"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 2)
      .select("doc_id", "source", "lang", "n_chars", "rk")
  }

  // -- LIVE per-stratum inspection sample — a BOTTOM-K (min-wise)
  //    reservoir over the stream: per (source, lang), state is the k=2
  //    docs with smallest salted hash seen so far (a deterministic,
  //    mergeable reservoir — bottom-k by hash is the classic distinct-
  //    preserving stream sampler, and unlike a random reservoir its
  //    final content is ORDER-INDEPENDENT, so after full replay the
  //    state equals the batch q_inspection_sample draw exactly and the
  //    batch oracle applies). Constant state per stratum (k rows + one
  //    counter); emissions reconcile by the strictly-monotone n_seen,
  //    the family's standard contract.
  q("q_inspection_sample_live",
    """WITH h AS (
      |  SELECT doc_id, source, lang, n_chars,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'inspect-v1'), 1, 15) AS BIGINT) AS hv
      |  FROM documents),
      |r AS (SELECT *, row_number() OVER (
      |        PARTITION BY source, lang ORDER BY hv, doc_id) AS rk
      |      FROM h)
      |SELECT doc_id, source, lang, n_chars, CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= 2""") { (s, dir) =>
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.api.GraftStreams
    import s.implicits._
    val raw = s.read.parquet(s"$dir/documents.parquet")
    val docs = s.readStream.schema(raw.schema).parquet(s"$dir/documents.parq*")
      .withColumn("hv",
        T.md5Long(concat(col("doc_id").cast("string"), lit("inspect-v1"))))
    val stream = GraftStreams(s).stream[String, (Long, Long, Long, String)](
      docs,
      concat(col("source"), lit(" "), col("lang")),
      struct(col("doc_id").as("_1"), col("n_chars").as("_2"),
        col("hv").as("_3"), col("source").as("_4")),
      expr("timestamp_micros(doc_id)"))
    val updates = graft.streaming.StatefulOps
      .flatTransformWithState[String, (Long, Long, Long, String),
        (Long, Seq[(Long, Long, Long)]),
        (String, Long, Long, Long, Long, Long)](stream) { (skey, rows, state) =>
        var (nSeen, buf) = state.getOption.getOrElse((0L, Seq.empty[(Long, Long, Long)]))
        rows.foreach { case ((docId, nChars, hv, _), _) =>
          nSeen += 1L
          // bottom-2 by (hv, doc_id): insert + re-sort + cut — k is tiny
          buf = ((buf :+ ((hv, docId, nChars))).sortBy(e => (e._1, e._2))).take(2)
        }
        state.update((nSeen, buf))
        buf.zipWithIndex.iterator.map { case ((hv, docId, nChars), i) =>
          (skey, nSeen, docId, nChars, i + 1L, hv)
        }
      }
    val name = s"isl_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    updates.toDF("skey", "n_seen", "doc_id", "n_chars", "rk", "hv")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    // window-max instead of a self-join: the memory view exposes the
    // same attribute ids on both sides and Catalyst rejects the join
    s.table(name)
      .withColumn("mx", max(col("n_seen")).over(Window.partitionBy("skey")))
      .filter(col("n_seen") === col("mx"))
      .select(col("doc_id"),
        substring_index(col("skey"), " ", 1).as("source"),
        substring_index(col("skey"), " ", -1).as("lang"),
        col("n_chars"), col("rk"))
  }

  // -- n-gram novelty score: the fraction of a doc's trigram OCCURRENCES
  //    whose trigram appears nowhere else in the corpus (corpus count =
  //    the doc's own count) — high novelty marks unique long-tail text,
  //    low novelty marks boilerplate/template mass; the complement of
  //    q_lm_score's familiarity mass and the per-doc readout behind
  //    dedup-rate dashboards. Integer-exact: the novelty bit compares
  //    two BIGINT counts, the rate is one correctly-rounded divide.
  //    Same two-shuffle shape as q_lm_score (trigram count join).
  q("q_novelty_score",
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |p AS (SELECT doc_id, toks, unnest(range(len(toks) - 2)) AS pos
      |      FROM t WHERE len(toks) >= 3),
      |g AS (SELECT doc_id,
      |        toks[pos + 1] || ' ' || toks[pos + 2] || ' ' || toks[pos + 3] AS trigram
      |      FROM p),
      |c AS (SELECT trigram, count(*) AS cnt FROM g GROUP BY trigram),
      |d AS (SELECT doc_id, trigram, count(*) AS own FROM g GROUP BY 1, 2)
      |SELECT d.doc_id,
      |  CAST(sum(d.own) AS BIGINT) AS n_tri,
      |  CAST(sum(CASE WHEN c.cnt = d.own THEN d.own ELSE 0 END) AS BIGINT) AS n_novel,
      |  round(CAST(sum(CASE WHEN c.cnt = d.own THEN d.own ELSE 0 END) AS DOUBLE) /
      |        sum(d.own), 6) AS novelty
      |FROM d JOIN c USING (trigram)
      |GROUP BY d.doc_id""") { (s, dir) =>
    val g = spread(load(s, dir, "documents"))
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
        .as("trigram"))
    val own = g.groupBy("doc_id", "trigram").agg(count(lit(1)).as("own"))
    val corpus = g.groupBy("trigram").agg(count(lit(1)).as("cnt"))
    own.join(corpus, "trigram")
      .groupBy("doc_id")
      .agg(sum("own").as("n_tri"),
        sum(when(col("cnt") === col("own"), col("own")).otherwise(0L)).as("n_novel"),
        round(sum(when(col("cnt") === col("own"), col("own")).otherwise(0L))
          .cast("double") / sum("own"), 6).as("novelty"))
  }

  // -- deterministic train/val/test split: salted-hash bucket in [0,100)
  //    through cumulative 80/10/10 cuts — the holdout-carving step every
  //    training run needs, with the reproducibility contract of
  //    q_sample_stratified (same row → same split on any cluster, any
  //    partitioning, any re-run; the oracle draws the SAME assignment).
  //    Cumulative cuts mean a later re-cut that grows train only moves
  //    rows OUT of val/test boundaries adjacent to it — test rows never
  //    silently migrate into train. Map-only, zero shuffle at any scale.
  q("q_train_val_split",
    """WITH b AS (
      |  SELECT doc_id, lang,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split-v1'), 1, 15) AS BIGINT)
      |      % 100 AS bucket
      |  FROM documents)
      |SELECT doc_id, lang, bucket,
      |  CASE WHEN bucket < 80 THEN 'train'
      |       WHEN bucket < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM b""") { (s, dir) =>
    import graft.functions.Sampling
    load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        Sampling.bucket100(col("doc_id"), "split-v1").as("bucket"),
        Sampling.splitAssign(col("doc_id"), "split-v1",
          Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split"))
  }

  // -- LEAKAGE-SAFE train/val/test split (r11): q_train_val_split hashes
  //    each doc independently, which leaks near-duplicates across the
  //    split boundary — a val paraphrase of a train doc inflates every
  //    eval (the Lee et al. arXiv:2107.06499 §6.2 dedup-test-leakage
  //    problem, applied to one's own split). This variant buckets the
  //    NEAR-DUP CLUSTER label (MinHash-LSH pairs closed by connected
  //    components; singletons = own id), so an entire duplicate family
  //    lands on one side by construction. Scale shape: the pair graph +
  //    closure are the q_dedup_components machinery (dup-mass-sized,
  //    never all-pairs); the corpus joins the membership table once
  //    (left join — membership is the dup mass, AQE broadcasts iff
  //    small) and the hash assignment is map-only.
  q("q_split_leakage_safe",
    s"""WITH RECURSIVE $SqlMinhashPairCtes,
       |pairs AS ($SqlMinhashPairSelect),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
       |reach(n, m) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
       |  UNION
       |  SELECT s.b, r.m FROM reach r JOIN sym s ON s.a = r.n),
       |comp AS (SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n),
       |lab AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster
       |        FROM documents d LEFT JOIN comp c USING (doc_id)),
       |b AS (SELECT doc_id, cluster,
       |        ${sqlMd5Long("CAST(cluster AS VARCHAR) || 'split-v1'")} % 100 AS bucket
       |      FROM lab)
       |SELECT doc_id, cluster, bucket,
       |  CASE WHEN bucket < 80 THEN 'train'
       |       WHEN bucket < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM b""") { (s, dir) =>
    import graft.functions.Sampling
    import graft.operators.ConnectedComponents
    val comp = ConnectedComponents.runEdges(s, minhashPairRdd(s, dir))
      .select(col("n").as("doc_id"), col("label").as("comp_label"))
    load(s, dir, "documents").select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp_label"), col("doc_id")).as("cluster"))
      .select(col("doc_id"), col("cluster"),
        Sampling.bucket100(col("cluster"), "split-v1").as("bucket"),
        Sampling.splitAssign(col("cluster"), "split-v1",
          Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split"))
  }

  // -- C4-style cleanup composite: quality-score filter -> predicted-
  //    English filter -> exact dedup keep-min-id. The end-to-end corpus
  //    construction pass, built from the oracle-proven fragments.
  q("q_pipeline_c4", {
    val scoreSql = T.LangMarkers.map { case (lang, ms) =>
      val list = ms.map(m => s"'$m'").mkString("[", ",", "]")
      s"len(list_filter(ltoks, x -> list_contains($list, x))) AS s_$lang"
    }.mkString(",\n  ")
    val langs = T.LangMarkers.map(_._1)
    val mx = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val caseChain = langs.map(l => s"WHEN s_$l = mx THEN '$l'").mkString(" ")
    s"""WITH t AS (SELECT doc_id, text,
       |  list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS toks,
       |  list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0) AS ltoks
       |  FROM documents),
       |q AS (SELECT doc_id, text, ltoks, round(
       |  least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4 +
       |  greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
       |    ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0) * 0.3 +
       |  least((CASE WHEN len(ltoks) = 0 THEN 0.0
       |    ELSE CAST(len(list_filter(ltoks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE) / len(ltoks) END) * 5.0, 1.0) * 0.3
       |, 6) AS quality FROM t),
       |s AS (SELECT doc_id, text, quality, $scoreSql FROM q WHERE quality > 0.55),
       |m AS (SELECT *, $mx AS mx FROM s),
       |l AS (SELECT doc_id, text, quality FROM m
       |  WHERE NOT length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) < length(text)
       |    AND mx > 0 AND (CASE $caseChain ELSE 'und' END) = 'en')
       |SELECT substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16) AS fp,
       |  min(doc_id) AS keep_id, count(*) AS n_copies,
       |  max(quality) AS max_quality
       |FROM l GROUP BY 1""".stripMargin
  }) { (s, dir) =>
    // quality and language ID share ONE text-stats pass — the same
    // arithmetic as the public column functions, so the oracle is
    // untouched. The stats ride a one-element explode: pushed below a
    // Project, the filter would inline the kernel once per field it reads
    // (a Filter has no common-subexpression elimination)
    load(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        explode(array(T.textStats(col("text")))).as("st"))
      .select(col("doc_id"), col("text"),
        T.qualityScoreOf(col("text"), col("st")).as("quality"),
        T.langIdOf(col("st")).as("lang"))
      .filter(col("quality") > 0.55 && col("lang") === "en")
      .groupBy(T.fingerprintHex(col("text")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
        max(col("quality")).as("max_quality"))
  }

  // -- token blocklist filter — the C4 "bad words" stage (Raffel et al.,
  //    arXiv:1910.10683 §2.2 drop any page with a word on a blocklist)
  //    that q_pipeline_c4's composite omits: per doc, count blocklisted
  //    token OCCURRENCES, list the distinct terms hit, and emit the
  //    keep/drop bit. Pure codegen'd column expressions over ONE
  //    tokenization pass (bindOnce) — a map-only filter that rides the
  //    scan, zero shuffle at any scale. This literal-array shape is for
  //    list sizes up to a few thousand (C4's list is ~400/language); a
  //    100k-term list flips to the same broadcast semi-join shape as
  //    q_decontaminate (token-explode ⋈ broadcast terms), noted here so
  //    the cutover is a documented decision, not a rediscovery.
  q("q_blocklist_filter", {
    val list = T.BlocklistTerms.map(t => s"'$t'").mkString("[", ",", "]")
    s"""WITH t AS (SELECT doc_id, $SqlTokens AS ltoks FROM documents),
       |h AS (SELECT doc_id,
       |  len(list_filter(ltoks, x -> list_contains($list, x))) AS n_hits,
       |  coalesce(array_to_string(list_sort(list_distinct(
       |    list_filter(ltoks, x -> list_contains($list, x)))), ','), '') AS hit_terms
       |  FROM t)
       |SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits, hit_terms,
       |  CAST(CASE WHEN n_hits = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM h""".stripMargin
  }) { (s, dir) =>
    load(s, dir, "documents")
      .select(col("doc_id"), D.bindOnce(T.tokens(lower(col("text")))) { lts =>
        val hits = filter(lts, t => t.isin(T.BlocklistTerms: _*))
        struct(
          size(hits).cast("long").as("n_hits"),
          array_join(array_sort(array_distinct(hits)), ",").as("hit_terms"))
      }.as("h"))
      .select(col("doc_id"), col("h.n_hits").as("n_hits"),
        col("h.hit_terms").as("hit_terms"),
        when(col("h.n_hits") === 0, 1L).otherwise(0L).as("keep"))
  }

  // -- document chunking: split each doc into fixed-size token windows
  //    (the pre-tokenization step of sequence packing); 1→N explode with
  //    chunk index, exact-mirrored via list slicing.
  q("q_text_chunking",
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, toks,
      |    CAST(ceil(len(toks) / 50.0) AS INT) AS n_chunks
      |  FROM t WHERE len(toks) > 0),
      |p AS (SELECT doc_id, toks, unnest(range(n_chunks)) AS ci FROM c)
      |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
      |  array_to_string(toks[ci * 50 + 1 : ci * 50 + 50], ' ') AS chunk,
      |  len(toks[ci * 50 + 1 : ci * 50 + 50]) AS chunk_tokens
      |FROM p""") { (s, dir) =>
    val toks = T.tokens(col("text"))
    load(s, dir, "documents")
      .select(col("doc_id"), D.bindOnce(toks) { ts =>
        transform(sequence(lit(0), ceil(size(ts) / 50.0).cast("int") - 1), i =>
          struct(i.as("chunk_idx"),
            array_join(slice(ts, i * 50 + 1, lit(50)), " ").as("chunk"),
            size(slice(ts, i * 50 + 1, lit(50))).as("chunk_tokens")))
      }.as("chunks"))
      .filter(size(col("chunks")) > 0)
      .select(col("doc_id"), explode(col("chunks")).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.chunk"), col("c.chunk_tokens"))
  }

  // -- OVERLAPPING chunking (stride < size — the RAG-retrieval variant of
  //    q_text_chunking): 50-token windows every 25 tokens, so each chunk
  //    shares half its tokens with the next and no boundary sentence is
  //    ever split away from its context. Same pure 1→N per-doc map shape.
  q("q_text_chunking_overlap",
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, toks,
      |    CAST(ceil(greatest(len(toks) - 25, 1) / 25.0) AS INT) AS n_chunks
      |  FROM t WHERE len(toks) > 0),
      |p AS (SELECT doc_id, toks, unnest(range(n_chunks)) AS ci FROM c)
      |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
      |  array_to_string(toks[ci * 25 + 1 : ci * 25 + 50], ' ') AS chunk,
      |  len(toks[ci * 25 + 1 : ci * 25 + 50]) AS chunk_tokens
      |FROM p""") { (s, dir) =>
    val toks = T.tokens(col("text"))
    load(s, dir, "documents")
      .select(col("doc_id"), D.bindOnce(toks) { ts =>
        transform(
          sequence(lit(0),
            ceil(greatest(size(ts) - 25, lit(1)) / 25.0).cast("int") - 1),
          i => struct(i.as("chunk_idx"),
            array_join(slice(ts, i * 25 + 1, lit(50)), " ").as("chunk"),
            size(slice(ts, i * 25 + 1, lit(50))).as("chunk_tokens")))
      }.as("chunks"))
      .filter(size(col("chunks")) > 0)
      .select(col("doc_id"), explode(col("chunks")).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.chunk"), col("c.chunk_tokens"))
  }

  // -- sequence packing: chunks concatenate into fixed-count packs in a
  //    deterministic global order (doc_id, chunk_idx) — the "pack short
  //    sequences together" step of training-data prep. The global
  //    row_number is a range-partitioned sort at scale; packs of 4 chunks
  //    ≈ 200 tokens.
  q("q_sequence_packing",
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, toks, CAST(ceil(len(toks) / 50.0) AS INT) AS n_chunks
      |  FROM t WHERE len(toks) > 0),
      |p AS (SELECT doc_id, toks, unnest(range(n_chunks)) AS chunk_idx FROM c),
      |chunks AS (
      |  SELECT doc_id, chunk_idx,
      |    array_to_string(toks[chunk_idx * 50 + 1 : chunk_idx * 50 + 50], ' ') AS chunk,
      |    len(toks[chunk_idx * 50 + 1 : chunk_idx * 50 + 50]) AS chunk_tokens
      |  FROM p),
      |numbered AS (
      |  SELECT *, row_number() OVER (ORDER BY doc_id, chunk_idx) - 1 AS rn
      |  FROM chunks)
      |SELECT CAST(rn // 4 AS BIGINT) AS pack_id,
      |  string_agg(chunk, ' ' ORDER BY rn) AS packed,
      |  CAST(sum(chunk_tokens) AS BIGINT) AS pack_tokens,
      |  count(*) AS n_chunks
      |FROM numbered GROUP BY 1""") { (s, dir) =>
    val chunks = queries("q_text_chunking")(s, dir)
    // global contiguous numbering WITHOUT a single-partition window: range
    // partition on the order key, sort within partitions, zipWithIndex
    // (per-partition offsets) — parallel and deterministic (partition
    // boundaries don't change the global order)
    val sorted = chunks
      .repartitionByRange(s.sparkContext.defaultParallelism,
        col("doc_id"), col("chunk_idx"))
      .sortWithinPartitions("doc_id", "chunk_idx")
    val numbered = s.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (row, i) => Row.fromSeq(row.toSeq :+ i) },
      StructType(sorted.schema.fields :+ StructField("rn", LongType, nullable = false)))
    numbered
      .groupBy((col("rn") / 4).cast("long").as("pack_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("rn"), col("chunk")))),
          x => x.getField("chunk")), " ").as("packed"),
        sum(col("chunk_tokens")).as("pack_tokens"),
        count(lit(1)).as("n_chunks"))
  }

  // -- capacity-based next-fit packing (the T5/GPT-NeoX "fill the context
  //    window, overflow opens a new sequence" recipe) — the variable-
  //    length complement of q_sequence_packing's fixed-count packs.
  //    Global greedy packing is inherently sequential, so the scale shape
  //    is SHARDED next-fit (graft.functions.Packing): pack within
  //    64-doc shards (bounded cells by construction), bins keyed
  //    (shard, bin) — embarrassingly parallel, one groupBy shuffle, the
  //    per-shard fold one codegen'd `aggregate` over a sorted array.
  //    Oracle: the same fold as a per-shard recursive CTE stepping
  //    rank-by-rank (depth <= 64, breadth = all shards at once).
  q("q_pack_nextfit",
    """WITH RECURSIVE tk AS (
      |  SELECT doc_id, doc_id // 64 AS shard, CAST(len(toks) AS BIGINT) AS n_tok
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(trim(text), '\s+'),
      |                      x -> len(x) > 0) AS toks
      |        FROM documents)
      |  WHERE len(toks) > 0),
      |r AS (SELECT doc_id, shard, n_tok,
      |        row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      |      FROM tk),
      |f AS (
      |  SELECT shard, rn, doc_id, n_tok, CAST(0 AS BIGINT) AS bin, n_tok AS run
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT r.shard, r.rn, r.doc_id, r.n_tok,
      |    CASE WHEN f.run + r.n_tok > 256 THEN f.bin + 1 ELSE f.bin END,
      |    CASE WHEN f.run + r.n_tok > 256 THEN r.n_tok ELSE f.run + r.n_tok END
      |  FROM f JOIN r ON r.shard = f.shard AND r.rn = f.rn + 1)
      |SELECT shard, doc_id, n_tok, bin FROM f""") { (s, dir) =>
    val toks = T.tokens(col("text"))
    graft.functions.Packing.packNextFit(
      spread(load(s, dir, "documents"))
        .select(col("doc_id"), size(toks).cast("long").as("n_tok"))
        .filter(col("n_tok") > 0),
      "doc_id", "n_tok", capacity = 256L, shardSize = 64L)
  }

  // -- repetition ratio (C4's repeated-lines signal): distinct lines /
  //    lines and distinct tokens / tokens — high repetition marks
  //    boilerplate and crawler loops.
  q("q_text_repetition",
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, chr(10)), x -> len(trim(x)) > 0) AS lines,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN len(lines) = 0 THEN 1.0
      |       ELSE CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines) END AS line_uniq,
      |  CASE WHEN len(toks) = 0 THEN 1.0
      |       ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END AS token_uniq
      |FROM t""") { (s, dir) =>
    val lines = filter(split(col("text"), "\n"), x => length(trim(x)) > 0)
    val toks = T.tokens(col("text"))
    def uniqRatio(arr: org.apache.spark.sql.Column) =
      when(size(arr) === 0, 1.0)
        .otherwise(size(array_distinct(arr)).cast("double") / size(arr))
    load(s, dir, "documents").select(
      col("doc_id"),
      uniqRatio(lines).as("line_uniq"),
      uniqRatio(toks).as("token_uniq"))
  }

  // ------------------------------------------------------ text analysis

  // -- per-document stats: chars, tokens, subwords, punct/upper ratios.
  q("q_text_stats",
    """SELECT doc_id,
      |  length(text) AS n_chars,
      |  len(list_filter(string_split_regex(trim(text), '\s+'), t -> len(t) > 0)) AS n_tokens,
      |  len(regexp_extract_all(text, '[a-zA-Z0-9]+')) + len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS n_subwords,
      |  CASE WHEN length(text) = 0 THEN 0.0
      |       ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
      |  CASE WHEN length(text) = 0 THEN 0.0
      |       ELSE CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) / length(text) END AS upper_ratio
      |FROM documents""") { (s, dir) =>
    load(s, dir, "documents").select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      T.tokenCount(col("text")).as("n_tokens"),
      T.subwordCount(col("text")).as("n_subwords"),
      T.punctRatio(col("text")).as("punct_ratio"),
      T.upperRatio(col("text")).as("upper_ratio"))
  }

  // -- composite quality score (mirrored arithmetic, rounded to 6dp).
  q("q_text_quality",
    s"""WITH t AS (SELECT doc_id, text,
       |  list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS toks,
       |  list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0) AS ltoks
       |  FROM documents)
       |SELECT doc_id, round(
       |  least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4 +
       |  greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
       |    ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0) * 0.3 +
       |  least((CASE WHEN len(ltoks) = 0 THEN 0.0
       |    ELSE CAST(len(list_filter(ltoks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE) / len(ltoks) END) * 5.0, 1.0) * 0.3
       |, 6) AS quality
       |FROM t""") { (s, dir) =>
    load(s, dir, "documents")
      .select(col("doc_id"), T.qualityScore(col("text")).as("quality"))
  }

  // -- token-shape stats: mean token length + stopword density (the
  //    remaining quality-feature columns, oracled standalone).
  q("q_text_token_shape",
    """WITH t AS (SELECT doc_id,
      |  list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks,
      |  list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0) AS ltoks
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN len(toks) = 0 THEN 0.0
      |       ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) END AS mean_token_len,
      |  CASE WHEN len(ltoks) = 0 THEN 0.0
      |       ELSE CAST(len(list_filter(ltoks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE) / len(ltoks) END AS stopword_ratio
      |FROM t""") { (s, dir) =>
    load(s, dir, "documents").select(
      col("doc_id"),
      T.meanTokenLen(col("text")).as("mean_token_len"),
      T.stopwordRatio(col("text")).as("stopword_ratio"))
  }

  // -- Gopher document-quality rules (arXiv:2112.11446 A1.1): per-row
  //    column expressions, zero shuffle — each rule plus the combined
  //    pass flag, so the filter is a plain WHERE passes at any scale.
  q("q_quality_gopher",
    """WITH t AS (SELECT doc_id, text,
      |  list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks,
      |  list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0) AS ltoks,
      |  list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> len(l) > 0) AS ls,
      |  CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
      |    + (length(text) - length(replace(text, '...', ''))) / 3.0
      |    + (length(text) - length(replace(text, '…', ''))) AS syms
      |  FROM documents),
      |r AS (SELECT doc_id, len(toks) AS n_words,
      |  CASE WHEN len(toks)=0 THEN 0.0 ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)/len(toks) END AS mwl,
      |  CASE WHEN len(toks)=0 THEN 0.0 ELSE syms/len(toks) END AS sr,
      |  CASE WHEN len(ls)=0 THEN 0.0 ELSE CAST(len(list_filter(ls, l -> regexp_matches(l, '^[-*•]'))) AS DOUBLE)/len(ls) END AS bf,
      |  CASE WHEN len(ls)=0 THEN 0.0 ELSE CAST(len(list_filter(ls, l -> regexp_matches(l, '(\.\.\.|…)$'))) AS DOUBLE)/len(ls) END AS ef,
      |  CASE WHEN len(toks)=0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)/len(toks) END AS af,
      |  len(list_filter(['the','be','to','of','and','that','have','with'], w -> list_contains(ltoks, w))) AS stop_hits
      |  FROM t)
      |SELECT doc_id, n_words, round(mwl,6) AS mean_word_len, round(sr,6) AS symbol_ratio,
      |  round(bf,6) AS bullet_frac, round(ef,6) AS ellipsis_frac, round(af,6) AS alpha_frac,
      |  stop_hits,
      |  (n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0 AND sr < 0.1
      |   AND bf <= 0.9 AND ef <= 0.3 AND af >= 0.8 AND stop_hits >= 2) AS passes
      |FROM r""".stripMargin) { (s, dir) =>
    val d = spread(load(s, dir, "documents")).select(
      col("doc_id"),
      T.tokenCount(col("text")).as("n_words"),
      T.meanTokenLen(col("text")).as("mwl"),
      T.symbolToWordRatio(col("text")).as("sr"),
      T.bulletLineFrac(col("text")).as("bf"),
      T.ellipsisLineFrac(col("text")).as("ef"),
      T.alphaWordFrac(col("text")).as("af"),
      T.gopherStopwordHits(col("text")).as("stop_hits"))
    d.select(
      col("doc_id"), col("n_words"),
      round(col("mwl"), 6).as("mean_word_len"),
      round(col("sr"), 6).as("symbol_ratio"),
      round(col("bf"), 6).as("bullet_frac"),
      round(col("ef"), 6).as("ellipsis_frac"),
      round(col("af"), 6).as("alpha_frac"),
      col("stop_hits"),
      (col("n_words").between(50, 100000) && col("mwl").between(3.0, 10.0) &&
        col("sr") < 0.1 && col("bf") <= 0.9 && col("ef") <= 0.3 &&
        col("af") >= 0.8 && col("stop_hits") >= 2).as("passes"))
  }

  // -- Gopher repetition rules (A1.2 subset): duplicate-line fractions
  //    plus top-bigram / duplicate-5-gram COVERAGE fractions — true ≤1
  //    character-coverage measures (token-char basis) so the paper's
  //    0.20/0.15 thresholds apply as published (the earlier
  //    occurrence-mass form could exceed 1 and over-filtered). Both
  //    n-gram passes are sort-based O(g log g) per row plus an
  //    O(tokens×n) coverage sweep; the oracle mirrors the same value
  //    with DuckDB's O(g²) list comprehensions (fine at oracle scale).
  q("q_quality_gopher_rep",
    """WITH t AS (SELECT doc_id, text,
      |  list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks,
      |  list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> len(l) > 0) AS ls
      |  FROM documents),
      |g AS (SELECT doc_id, text, toks, ls,
      |  CASE WHEN len(toks) < 2 THEN [] ELSE [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))] END AS g2,
      |  CASE WHEN len(toks) < 5 THEN []
      |       ELSE [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]
      |             for i in range(1, len(toks) - 3)] END AS g5
      |  FROM t),
      |s AS (SELECT doc_id, text, toks, ls, g2, g5,
      |  list_sum(list_transform(toks, x -> len(x))) AS tokmass,
      |  CASE WHEN len(g2)=0 THEN '' ELSE
      |    list_sort(list_filter(list_distinct(g2), y -> len(list_filter(g2, x -> x = y)) =
      |      list_max(list_transform(list_distinct(g2), y2 -> len(list_filter(g2, x -> x = y2))))))[1] END AS topg,
      |  CASE WHEN len(g5)=0 THEN [] ELSE
      |    [len(list_filter(g5, x -> x = g5[i])) >= 2 for i in range(1, len(g5)+1)] END AS df
      |  FROM g),
      |r AS (SELECT doc_id,
      |  CASE WHEN len(ls)=0 THEN 0.0 ELSE CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE)/len(ls) END AS dlf,
      |  CASE WHEN len(ls)=0 THEN 0.0
      |       ELSE CAST(list_sum(list_transform(ls, l -> len(l))) - list_sum(list_transform(list_distinct(ls), l -> len(l))) AS DOUBLE)
      |            / list_sum(list_transform(ls, l -> len(l))) END AS dlcf,
      |  CASE WHEN len(toks)=0 OR len(g2)=0 THEN 0.0
      |       ELSE CAST(list_sum([CASE WHEN len(list_filter(range(greatest(p-1,1), least(p, len(g2))+1), i -> g2[i] = topg)) > 0
      |                           THEN len(toks[p]) ELSE 0 END for p in range(1, len(toks)+1)]) AS DOUBLE) / tokmass END AS tbf,
      |  CASE WHEN len(toks)=0 OR len(g5)=0 THEN 0.0
      |       ELSE CAST(list_sum([CASE WHEN len(list_filter(range(greatest(p-4,1), least(p, len(g5))+1), i -> df[i])) > 0
      |                           THEN len(toks[p]) ELSE 0 END for p in range(1, len(toks)+1)]) AS DOUBLE) / tokmass END AS d5f
      |  FROM s)
      |SELECT doc_id, round(dlf,6) AS dup_line_frac, round(dlcf,6) AS dup_line_char_frac,
      |  round(tbf,6) AS top_bigram_char_frac, round(d5f,6) AS dup_5gram_char_frac,
      |  (dlf <= 0.30 AND dlcf <= 0.20 AND tbf <= 0.20 AND d5f <= 0.15) AS rep_passes
      |FROM r""".stripMargin) { (s, dir) =>
    val d = spread(load(s, dir, "documents")).select(
      col("doc_id"),
      T.dupLineFrac(col("text")).as("dlf"),
      T.dupLineCharFrac(col("text")).as("dlcf"),
      T.topNgramCoverageFrac(col("text"), 2).as("tbf"),
      T.dupNgramCoverageFrac(col("text"), 5).as("d5f"))
    d.select(
      col("doc_id"),
      round(col("dlf"), 6).as("dup_line_frac"),
      round(col("dlcf"), 6).as("dup_line_char_frac"),
      round(col("tbf"), 6).as("top_bigram_char_frac"),
      round(col("d5f"), 6).as("dup_5gram_char_frac"),
      (col("dlf") <= 0.30 && col("dlcf") <= 0.20 &&
        col("tbf") <= 0.20 && col("d5f") <= 0.15).as("rep_passes"))
  }

  // -- curation funnel: the composed C4+Gopher keep-decision — language
  //    gate, exact dedup, Gopher repetition rules, Gopher quality rules —
  //    reported as per-stage attrition counts (the report a pipeline
  //    operator reads first). Stage order is attribution only (each stage
  //    ANDs onto the previous, so the final keep-set is order-independent);
  //    exact dedup sits right after the language gate because it is the
  //    cheapest volume cut and dedups over the docs still in play
  //    (min-over-survivors window, mirrored in the oracle). Scale shape:
  //    every rule is a codegen'd per-row column expression; the only
  //    shuffle is the fingerprint window for dedup-keep, then one
  //    partial-agg'd global count — the same one-shuffle cost as
  //    q_dedup_exact regardless of corpus size, and the output is five
  //    rows.
  q("q_curation_funnel", {
    val scoreSql = T.LangMarkers.map { case (lang, ms) =>
      val list = ms.map(m => s"'$m'").mkString("[", ",", "]")
      s"len(list_filter(ltoks, x -> list_contains($list, x))) AS s_$lang"
    }.mkString(",\n  ")
    val langs = T.LangMarkers.map(_._1)
    val mx = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val caseChain = langs.map(l => s"WHEN s_$l = mx THEN '$l'").mkString(" ")
    s"""WITH cf AS (SELECT doc_id, text,
       |  list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS toks,
       |  list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0) AS ltoks,
       |  list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> len(l) > 0) AS ls,
       |  CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
       |    + (length(text) - length(replace(text, '...', ''))) / 3.0
       |    + (length(text) - length(replace(text, '…', ''))) AS syms
       |  FROM documents),
       |cfl AS (SELECT doc_id, text, $scoreSql FROM cf),
       |cflm AS (SELECT *, $mx AS mx FROM cfl),
       |cflang AS (SELECT doc_id,
       |  ((CASE WHEN length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) < length(text) THEN 'zh'
       |         WHEN mx = 0 THEN 'und' $caseChain ELSE 'und' END) = 'en') AS lang_ok
       |  FROM cflm),
       |cfq AS (SELECT doc_id,
       |  (len(toks) BETWEEN 50 AND 100000
       |   AND (CASE WHEN len(toks)=0 THEN 0.0 ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)/len(toks) END) BETWEEN 3.0 AND 10.0
       |   AND (CASE WHEN len(toks)=0 THEN 0.0 ELSE syms/len(toks) END) < 0.1
       |   AND (CASE WHEN len(ls)=0 THEN 0.0 ELSE CAST(len(list_filter(ls, l -> regexp_matches(l, '^[-*•]'))) AS DOUBLE)/len(ls) END) <= 0.9
       |   AND (CASE WHEN len(ls)=0 THEN 0.0 ELSE CAST(len(list_filter(ls, l -> regexp_matches(l, '(\\.\\.\\.|…)$$'))) AS DOUBLE)/len(ls) END) <= 0.3
       |   AND (CASE WHEN len(toks)=0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)/len(toks) END) >= 0.8
       |   AND len(list_filter(['the','be','to','of','and','that','have','with'], w -> list_contains(ltoks, w))) >= 2) AS q_ok
       |  FROM cf),
       |cfg AS (SELECT doc_id, toks, ls,
       |  CASE WHEN len(toks) < 2 THEN [] ELSE [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))] END AS g2,
       |  CASE WHEN len(toks) < 5 THEN []
       |       ELSE [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]
       |             for i in range(1, len(toks) - 3)] END AS g5
       |  FROM cf),
       |cfs AS (SELECT doc_id, toks, ls, g2, g5,
       |  list_sum(list_transform(toks, x -> len(x))) AS tokmass,
       |  CASE WHEN len(g2)=0 THEN '' ELSE
       |    list_sort(list_filter(list_distinct(g2), y -> len(list_filter(g2, x -> x = y)) =
       |      list_max(list_transform(list_distinct(g2), y2 -> len(list_filter(g2, x -> x = y2))))))[1] END AS topg,
       |  CASE WHEN len(g5)=0 THEN [] ELSE
       |    [len(list_filter(g5, x -> x = g5[i])) >= 2 for i in range(1, len(g5)+1)] END AS df
       |  FROM cfg),
       |cfr AS (SELECT doc_id,
       |  ((CASE WHEN len(ls)=0 THEN 0.0 ELSE CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE)/len(ls) END) <= 0.30
       |   AND (CASE WHEN len(ls)=0 THEN 0.0
       |        ELSE CAST(list_sum(list_transform(ls, l -> len(l))) - list_sum(list_transform(list_distinct(ls), l -> len(l))) AS DOUBLE)
       |             / list_sum(list_transform(ls, l -> len(l))) END) <= 0.20
       |   AND (CASE WHEN len(toks)=0 OR len(g2)=0 THEN 0.0
       |        ELSE CAST(list_sum([CASE WHEN len(list_filter(range(greatest(p-1,1), least(p, len(g2))+1), i -> g2[i] = topg)) > 0
       |                            THEN len(toks[p]) ELSE 0 END for p in range(1, len(toks)+1)]) AS DOUBLE) / tokmass END) <= 0.20
       |   AND (CASE WHEN len(toks)=0 OR len(g5)=0 THEN 0.0
       |        ELSE CAST(list_sum([CASE WHEN len(list_filter(range(greatest(p-4,1), least(p, len(g5))+1), i -> df[i])) > 0
       |                            THEN len(toks[p]) ELSE 0 END for p in range(1, len(toks)+1)]) AS DOUBLE) / tokmass END) <= 0.15) AS rep_ok
       |  FROM cfs),
       |cfx AS (SELECT p.doc_id,
       |  substr(md5(regexp_replace(lower(trim(p.text)), '\\s+', ' ', 'g')), 1, 16) AS fp,
       |  l.lang_ok, q.q_ok, r.rep_ok
       |  FROM cf p
       |  JOIN cflang l USING (doc_id) JOIN cfq q USING (doc_id) JOIN cfr r USING (doc_id)),
       |cfk AS (SELECT *,
       |  (lang_ok AND doc_id = min(CASE WHEN lang_ok THEN doc_id END) OVER (PARTITION BY fp)) AS keep
       |  FROM cfx),
       |cfa AS (SELECT count(*) AS c0,
       |  CAST(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS c2,
       |  CAST(sum(CASE WHEN keep AND rep_ok THEN 1 ELSE 0 END) AS BIGINT) AS c3,
       |  CAST(sum(CASE WHEN keep AND rep_ok AND q_ok THEN 1 ELSE 0 END) AS BIGINT) AS c4
       |  FROM cfk)
       |SELECT CAST(stage AS BIGINT) AS stage, rule, docs_in, docs_kept,
       |  docs_in - docs_kept AS docs_dropped
       |FROM (
       |  SELECT 1 AS stage, 'total' AS rule, c0 AS docs_in, c0 AS docs_kept FROM cfa
       |  UNION ALL SELECT 2, 'lang_en', c0, c1 FROM cfa
       |  UNION ALL SELECT 3, 'dedup_exact', c1, c2 FROM cfa
       |  UNION ALL SELECT 4, 'gopher_repetition', c2, c3 FROM cfa
       |  UNION ALL SELECT 5, 'gopher_quality', c3, c4 FROM cfa)"""
  }) { (s, dir) =>
    val flags = spread(load(s, dir, "documents")).select(
      col("doc_id"),
      T.fingerprintHex(col("text")).as("fp"),
      (T.langId(col("text")) === "en").as("lang_ok"),
      (T.tokenCount(col("text")).between(50, 100000) &&
        T.meanTokenLen(col("text")).between(3.0, 10.0) &&
        T.symbolToWordRatio(col("text")) < 0.1 &&
        T.bulletLineFrac(col("text")) <= 0.9 &&
        T.ellipsisLineFrac(col("text")) <= 0.3 &&
        T.alphaWordFrac(col("text")) >= 0.8 &&
        T.gopherStopwordHits(col("text")) >= 2).as("q_ok"),
      (T.dupLineFrac(col("text")) <= 0.30 &&
        T.dupLineCharFrac(col("text")) <= 0.20 &&
        T.topNgramCoverageFrac(col("text"), 2) <= 0.20 &&
        T.dupNgramCoverageFrac(col("text"), 5) <= 0.15).as("rep_ok"))
    val marked = flags
      .withColumn("keep", col("lang_ok") && col("doc_id") ===
        min(when(col("lang_ok"), col("doc_id"))).over(Window.partitionBy("fp")))
    val a = marked.agg(
      count(lit(1)).as("c0"),
      sum(when(col("lang_ok"), 1L).otherwise(0L)).as("c1"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("c2"),
      sum(when(col("keep") && col("rep_ok"), 1L).otherwise(0L)).as("c3"),
      sum(when(col("keep") && col("rep_ok") && col("q_ok"), 1L).otherwise(0L)).as("c4"))
    a.select(explode(array(
        struct(lit(1L).as("stage"), lit("total").as("rule"),
          col("c0").as("docs_in"), col("c0").as("docs_kept")),
        struct(lit(2L).as("stage"), lit("lang_en").as("rule"),
          col("c0").as("docs_in"), col("c1").as("docs_kept")),
        struct(lit(3L).as("stage"), lit("dedup_exact").as("rule"),
          col("c1").as("docs_in"), col("c2").as("docs_kept")),
        struct(lit(4L).as("stage"), lit("gopher_repetition").as("rule"),
          col("c2").as("docs_in"), col("c3").as("docs_kept")),
        struct(lit(5L).as("stage"), lit("gopher_quality").as("rule"),
          col("c3").as("docs_in"), col("c4").as("docs_kept")))).as("s"))
      .select(col("s.stage").as("stage"), col("s.rule").as("rule"),
        col("s.docs_in").as("docs_in"), col("s.docs_kept").as("docs_kept"),
        (col("s.docs_in") - col("s.docs_kept")).as("docs_dropped"))
  }

  // -- heuristic language ID (marker-word argmax; CJK => zh).
  q("q_lang_id", {
    val scoreSql = T.LangMarkers.map { case (lang, ms) =>
      val list = ms.map(m => s"'$m'").mkString("[", ",", "]")
      s"len(list_filter(ltoks, x -> list_contains($list, x))) AS s_$lang"
    }.mkString(",\n  ")
    val langs = T.LangMarkers.map(_._1)
    val mx = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val caseChain = langs.map(l => s"WHEN s_$l = mx THEN '$l'").mkString(" ")
    s"""WITH t AS (SELECT doc_id, text,
       |  list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0) AS ltoks
       |  FROM documents),
       |s AS (SELECT doc_id, text, $scoreSql FROM t),
       |m AS (SELECT *, $mx AS mx FROM s)
       |SELECT doc_id,
       |  CASE WHEN length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) < length(text) THEN 'zh'
       |       WHEN mx = 0 THEN 'und'
       |       $caseChain ELSE 'und' END AS lang_pred
       |FROM m""".stripMargin
  }) { (s, dir) =>
    load(s, dir, "documents")
      .select(col("doc_id"), T.langId(col("text")).as("lang_pred"))
  }

  // -- embedding-cosine near-dup pairs: sign-bucket LSH candidates, exact
  //    cosine rescoring above a tight threshold — the vector-space member
  //    of the dedup family (brute-force-free, scale path). Obeys the
  //    family rules like the text members: buckets cut to 2..50 BEFORE
  //    pairing (a hot orthant on a correlated corpus cannot fan out
  //    O(n²) vector pairs in one task — at that density the 12-bit
  //    bucket is too coarse to mean "near-dup" anyway) and the vectors
  //    ride the buckets as structs through ONE groupBy instead of a
  //    payload-duplicating self-join.
  private val SqlEmbeddingPairs: String = {
    val bits = (0 until 12).map(i =>
      s"CASE WHEN embedding[${i + 1}] >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""WITH b AS (SELECT vec_id, embedding, $bits AS bucket FROM embeddings),
       |small AS (
       |  SELECT bucket FROM b GROUP BY bucket HAVING count(*) BETWEEN 2 AND 50),
       |kb AS (SELECT b.* FROM b JOIN small USING (bucket)),
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
       |    round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b2.embedding AS DOUBLE[])) /
       |      (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
       |       sqrt(list_dot_product(CAST(b2.embedding AS DOUBLE[]), CAST(b2.embedding AS DOUBLE[])))), 4) AS sim
       |  FROM kb a JOIN kb b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
       |SELECT vec_a, vec_b, sim FROM pairs WHERE sim > 0.2""".stripMargin
  }

  q("q_dedup_embedding", SqlEmbeddingPairs) { (s, dir) =>
    spread(load(s, dir, "embeddings"))
      .withColumn("bucket", V.signBucket(col("embedding"), 0 until 12))
      .groupBy("bucket")
      .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("ms"))
      .filter(size(col("ms")).between(2, 50))
      .select(explode(D.orderedPairs(col("ms"))).as("p"))
      .select(col("p.a.vec_id").as("vec_a"), col("p.b.vec_id").as("vec_b"),
        round(V.cosine(col("p.a.embedding"), col("p.b.embedding")), 4).as("sim"))
      .filter(col("sim") > 0.2)
  }

  // -- STREAMING embedding near-dup twin — the vector-space member of the
  //    live dedup family (same banded-LSH lineage as q_dedup_minhash_live):
  //    vectors replay as a stream, land in per-sign-bucket MapState, and a
  //    qualifying pair emits the moment its second member arrives; the
  //    exact cosine rescore runs downstream on the SAME codegen'd kernel
  //    as the batch query (streaming/StreamingNearDup.embeddingPairs;
  //    cross-batch arrival + overflow + retention pinned by
  //    StreamingNearDupSpec). One replay batch hits the exact batch
  //    bucket cut, so the oracle is the batch q_dedup_embedding SQL.
  q("q_dedup_embedding_live", SqlEmbeddingPairs) { (s, dir) =>
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import s.implicits._
    val raw = s.read.parquet(s"$dir/embeddings.parquet")
    val vecs = s.readStream.schema(raw.schema).parquet(s"$dir/embeddings.parq*")
    val ks = graft.api.GraftStreams(s).stream[Long, Seq[Float]](vecs,
      col("vec_id"), col("embedding"), expr("timestamp_micros(vec_id)"))
    val name = s"dsl_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    graft.streaming.StreamingNearDup.embeddingPairs(ks)
      .select("vec_a", "vec_b", "sim")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    s.table(name)
  }

  // -- rolling-hash document fingerprint on the native codegen'd FNV
  //    path. FULL oracle since r10: FNV-1a is a pure 64-bit integer fold
  //    over the normalized UTF-8 bytes, so DuckDB replays it bit-exactly
  //    with a per-byte list_reduce in HUGEINT-mod-2^64 arithmetic
  //    (sqlFnvFromHex — the LcTable "no transcendental at query time"
  //    discipline applied to a hash kernel).
  q("q_fingerprint_rolling",
    s"""WITH d AS (SELECT doc_id,
       |  hex(encode(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS hs
       |  FROM documents),
       |u AS (SELECT doc_id, ${sqlFnvFromHex("hs")} AS hu FROM d)
       |SELECT doc_id, ${sqlU64Signed("hu")} AS fp64 FROM u""") { (s, dir) =>
    import graft.plans.NativeHash
    load(s, dir, "documents").select(
      col("doc_id"),
      NativeHash.fnv64(T.normalizeText(col("text"))).as("fp64"))
  }

  // ------------------------------------------------------- multimodal

  /** Synthetic media corpus: documents' bytes wrapped in real container
    * magic numbers by doc_id — jpeg/png/wav/mp4 — so modality sniffing,
    * metadata, and the stubbed decode pipeline run over a binary column
    * exactly as they would over crawled media. */
  private def mediaBytes(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val jpeg = Array(0xFF, 0xD8, 0xFF).map(_.toByte)
    val png = Array(0x89, 0x50, 0x4E, 0x47).map(_.toByte)
    val wav = "RIFF".getBytes("UTF-8")
    val mp4 = Array[Byte](0x00, 0x00, 0x00, 0x18) ++ "ftyp".getBytes("UTF-8")
    load(s, dir, "documents").select(
      col("doc_id"),
      concat(
        when(col("doc_id") % 4 === 0, lit(jpeg))
          .when(col("doc_id") % 4 === 1, lit(png))
          .when(col("doc_id") % 4 === 2, lit(wav))
          .otherwise(lit(mp4)),
        encode(col("text"), "UTF-8")).as("media"))
  }

  // -- modality sniffing + metadata over the binary column (columnar, no
  //    decode; fully oracle-checked).
  q("q_multimodal_meta",
    """SELECT doc_id,
      |  CASE WHEN starts_with(lower(hex(media)), 'ffd8ff') THEN 'image/jpeg'
      |       WHEN starts_with(lower(hex(media)), '89504e47') THEN 'image/png'
      |       WHEN starts_with(lower(hex(media)), '52494646') THEN 'audio/wav'
      |       WHEN starts_with(lower(hex(media)), '000000186674797') THEN 'video/mp4'
      |       ELSE 'application/octet-stream' END AS kind,
      |  octet_length(media) AS n_bytes,
      |  md5(hex(media)) AS fp
      |FROM (
      |  SELECT doc_id,
      |    (CASE doc_id % 4 WHEN 0 THEN '\xFF\xD8\xFF'::BLOB
      |                     WHEN 1 THEN '\x89\x50\x4E\x47'::BLOB
      |                     WHEN 2 THEN 'RIFF'::BLOB
      |                     ELSE '\x00\x00\x00\x18ftyp'::BLOB END) || encode(text) AS media
      |  FROM documents)""") { (s, dir) =>
    import graft.multimodal.MediaFunctions
    mediaBytes(s, dir).select(
      col("doc_id"),
      MediaFunctions.sniffKind(col("media")).as("kind"),
      MediaFunctions.byteLength(col("media")).as("n_bytes"),
      md5(hex(col("media"))).as("fp"))
  }

  // -- stubbed decode/feature pipeline (partition-wise batch processing,
  //    1→N frame sampling for video). The stub decode is md5-over-hex
  //    arithmetic (Multimodal.scala decodeBytes), so DuckDB mirrors it
  //    exactly: frame bytes = media || single frame-index byte, f0 =
  //    (first_md5_byte - 128) / 128 — a power-of-two quotient, bit-exact
  //    in float and double.
  q("q_multimodal_features",
    """WITH media AS (
      |  SELECT doc_id,
      |    (CASE doc_id % 4 WHEN 0 THEN '\xFF\xD8\xFF'::BLOB
      |                     WHEN 1 THEN '\x89\x50\x4E\x47'::BLOB
      |                     WHEN 2 THEN 'RIFF'::BLOB
      |                     ELSE '\x00\x00\x00\x18ftyp'::BLOB END) || encode(text) AS media
      |  FROM documents),
      |typed AS (
      |  SELECT doc_id, media,
      |    CASE WHEN starts_with(lower(hex(media)), 'ffd8ff') THEN 'image/jpeg'
      |         WHEN starts_with(lower(hex(media)), '89504e47') THEN 'image/png'
      |         WHEN starts_with(lower(hex(media)), '52494646') THEN 'audio/wav'
      |         WHEN starts_with(lower(hex(media)), '000000186674797') THEN 'video/mp4'
      |         ELSE 'application/octet-stream' END AS kind
      |  FROM media),
      |framed AS (
      |  SELECT doc_id, media, kind,
      |    CASE WHEN kind = 'video/mp4' THEN 1 + octet_length(media) % 10
      |         ELSE 1 END AS n_frames
      |  FROM typed),
      |idx AS (SELECT CAST(range AS INT) AS frame_index FROM range(10)),
      |frames AS (
      |  SELECT doc_id, media, kind, frame_index
      |  FROM framed JOIN idx ON frame_index < n_frames),
      |feat AS (
      |  SELECT doc_id AS mediaId, kind, frame_index AS frameIndex,
      |    CAST(frame_index AS BIGINT) * 1000 AS frameTsMs,
      |    CAST('0x' || substr(md5(hex(media ||
      |      (CASE frame_index WHEN 0 THEN '\x00'::BLOB WHEN 1 THEN '\x01'::BLOB
      |            WHEN 2 THEN '\x02'::BLOB WHEN 3 THEN '\x03'::BLOB
      |            WHEN 4 THEN '\x04'::BLOB WHEN 5 THEN '\x05'::BLOB
      |            WHEN 6 THEN '\x06'::BLOB WHEN 7 THEN '\x07'::BLOB
      |            WHEN 8 THEN '\x08'::BLOB ELSE '\x09'::BLOB END))), 1, 2)
      |      AS INT) AS h0
      |  FROM frames)
      |SELECT mediaId, kind, frameIndex, frameTsMs,
      |  CAST(h0 - 128 AS DOUBLE) / 128.0 AS f0
      |FROM feat""") { (s, dir) =>
    import graft.multimodal.MediaStubs
    val records = MediaStubs.toMediaRecords(spread(mediaBytes(s, dir)), "doc_id", "media")
    MediaStubs.extractFeatures(records, dim = 8, frameEveryMs = 1000L)
      .toDF()
      .select(col("mediaId"), col("kind"), col("frameIndex"), col("frameTsMs"),
        element_at(col("features"), 1).cast("double").as("f0"))
  }

  // -- REAL image codec round-trip (javax.imageio, JDK-only): encode a
  //    deterministic PNG per doc in-pipeline, then decode width/height/
  //    format back FROM THE BYTES through the JDK's registered
  //    ImageReader (a real container-header parse, not a lookup). The
  //    oracle mirrors the dimensions arithmetically — the decoder must
  //    recover exactly what was encoded or the hash mismatches. Scale
  //    shape: pure partition-wise 1→1 map, zero shuffle; a production
  //    job reads image bytes from its object store instead of encoding.
  q("q_multimodal_real_meta",
    """SELECT doc_id, 'png' AS format,
      |  CAST(8 + doc_id % 32 AS INT) AS width,
      |  CAST(8 + doc_id % 24 AS INT) AS height
      |FROM documents""") { (s, dir) =>
    import graft.multimodal.MediaCodec
    import s.implicits._
    spread(load(s, dir, "documents").select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val bytes = MediaCodec.encodePng((8 + id % 32).toInt, (8 + id % 24).toInt, id)
          val (w, h, fmt) = MediaCodec.imageMeta(bytes).getOrElse(
            sys.error(s"JDK reader rejected its own png for doc $id"))
          (id, fmt, w, h)
        }
      }.toDF("doc_id", "format", "width", "height")
  }

  // ---------------------------------------------------- similarity search

  // -- brute-force cosine top-10 for a query batch (vec_id < 20) against
  //    the full corpus: corpus streams, query batch broadcast — one scan
  //    regardless of corpus size; rank by rounded sim with id tie-break.
  q("q_ann_cosine_topk",
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
      |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
      |sims AS (
      |  SELECT query_id, neighbor_id,
      |    round(list_dot_product(CAST(qe AS DOUBLE[]), CAST(ce AS DOUBLE[])) /
      |      (sqrt(list_dot_product(CAST(qe AS DOUBLE[]), CAST(qe AS DOUBLE[]))) *
      |       sqrt(list_dot_product(CAST(ce AS DOUBLE[]), CAST(ce AS DOUBLE[])))), 4) AS sim
      |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM sims)
      |SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 10""") { (s, dir) =>
    val emb = load(s, dir, "embeddings")
    val qs = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val corpus = spread(emb).select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val sims = corpus.join(broadcast(qs), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(V.cosine(col("qe"), col("ce")), 4).as("sim"))
    // bounded-buffer top-k, not a rank window: each task keeps <=10 per
    // query, partials merge exactly (same output as row_number())
    graft.operators.TopK.perGroup(sims, "query_id", "neighbor_id", "sim",
      k = 10, ascending = false)
  }

  // -- kNN label propagation: auto-label an unlabeled query batch by
  //    majority vote of its 5 nearest labeled neighbors (cosine) — the
  //    "grow a seed label set over the corpus" step of semi-supervised
  //    training-data curation. Same scan shape as q_ann_cosine_topk
  //    (corpus streams once vs broadcast query batch, bounded top-k, no
  //    rank window); the vote is a partial-agg'd count over <= 5 rows per
  //    query and the winner an arg-max via max_by (votes desc, then
  //    smallest label — a total order, so both engines pick the same
  //    label).
  q("q_knn_classify",
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
      |c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label
      |      FROM embeddings WHERE vec_id >= 20),
      |sims AS (
      |  SELECT query_id, neighbor_id, label,
      |    round(list_dot_product(CAST(qe AS DOUBLE[]), CAST(ce AS DOUBLE[])) /
      |      (sqrt(list_dot_product(CAST(qe AS DOUBLE[]), CAST(qe AS DOUBLE[]))) *
      |       sqrt(list_dot_product(CAST(ce AS DOUBLE[]), CAST(ce AS DOUBLE[])))), 4) AS sim
      |  FROM q CROSS JOIN c),
      |ranked AS (
      |  SELECT query_id, label, sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM sims),
      |votes AS (
      |  SELECT query_id, label, count(*) AS votes FROM ranked WHERE rank <= 5 GROUP BY 1, 2),
      |best AS (
      |  SELECT query_id, label, votes,
      |    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS r
      |  FROM votes)
      |SELECT query_id, CAST(label AS BIGINT) AS pred_label, votes
      |FROM best WHERE r = 1""") { (s, dir) =>
    val emb = load(s, dir, "embeddings")
    val qs = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val corpus = spread(emb.filter(col("vec_id") >= 20))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("label"))
    val sims = corpus.join(broadcast(qs))
      .select(col("query_id"), col("neighbor_id"), col("label"),
        round(V.cosine(col("qe"), col("ce")), 4).as("sim"))
    val top = graft.operators.TopK.perGroupWithPayload(
      sims, "query_id", "neighbor_id", "sim", "label", k = 5, ascending = false)
    top.groupBy(col("query_id"), col("label").cast("long").as("pred_label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy("query_id")
      .agg(max_by(
        struct(col("pred_label"), col("votes")),
        struct(col("votes"), (lit(0L) - col("pred_label")).as("nl"))).as("w"))
      .select(col("query_id"), col("w.pred_label"), col("w.votes"))
  }

  // -- label-noise detection by kNN disagreement (the Confident-Learning
  //    curation pass, Northcutt et al., arXiv:1911.00068; kNN-agreement
  //    form as in arXiv:2004.12289): every vector gets the majority label
  //    of its 5 nearest neighbors, and rows whose OWN label disagrees are
  //    flagged for relabel/drop review. Self-search runs on the IVF cell
  //    equi-join (no broadcast of the corpus, no O(n²) task); nProbe = k
  //    makes it exhaustive here so the brute-force oracle applies — at
  //    100 TB nProbe shrinks and the same query becomes approximate
  //    (the q_ann_ivf adjudication). Downstream of the bounded n×5 edge
  //    list everything is equi-joins and two tiny query-keyed aggs.
  q("q_label_noise",
    """WITH s AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS n_label,
      |    round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
      |      (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 4) AS sim
      |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
      |  FROM s),
      |v AS (SELECT query_id, n_label, count(*) AS votes
      |      FROM r WHERE rn <= 5 GROUP BY 1, 2),
      |b AS (SELECT query_id, n_label, votes, row_number() OVER (
      |        PARTITION BY query_id ORDER BY votes DESC, n_label) AS r2
      |      FROM v)
      |SELECT b.query_id, CAST(e.label AS BIGINT) AS own_label,
      |  CAST(b.n_label AS BIGINT) AS pred_label, b.votes,
      |  CAST(CASE WHEN e.label <> b.n_label THEN 1 ELSE 0 END AS BIGINT) AS noisy
      |FROM b JOIN embeddings e ON e.vec_id = b.query_id
      |WHERE r2 = 1""") { (s, dir) =>
    import graft.functions.VectorIndex
    val emb = spread(load(s, dir, "embeddings"))
    val k = 8
    val nn = VectorIndex.trainAndSearchSelf(emb, "vec_id", "embedding", k = k,
      iters = 2, nProbe = k, topK = 5)
    val labels = emb.select(col("vec_id"), col("label"))
    nn.join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), "neighbor_id")
      .groupBy(col("query_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy("query_id")
      .agg(max_by(
        struct(col("n_label"), col("votes")),
        struct(col("votes"), (lit(0L) - col("n_label")).as("nl"))).as("w"))
      .select(col("query_id"), col("w.n_label").as("pred_label"),
        col("w.votes").as("votes"))
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("own_label")), "query_id")
      .select(col("query_id"), col("own_label").cast("long").as("own_label"),
        col("pred_label").cast("long").as("pred_label"), col("votes"),
        when(col("own_label") =!= col("pred_label"), 1L).otherwise(0L)
          .as("noisy"))
  }

  // -- IVF ANN (the other scale path): k-means cells + nProbe search.
  //    FULL ORACLE since r11 via the integer-grid Lloyd recipe
  //    (q_kmeans_clusters' k=8 coarse quantizer re-founded on the micro
  //    grid): centroids, cell assignment, query-side cell ranking and the
  //    in-cell exact distances are all BIGINT arithmetic, so the whole
  //    serve path — rank cells once per query, probe the nProbe=2
  //    closest, exact top-10 within the probed cells — is bit-exact in
  //    DuckDB. The float production twin (VectorIndex.train/search, the
  //    shape the bench serves) stays recall-pinned by VectorIndexSpec.
  //    Scale shape: queries broadcast (bounded batch), candidates =
  //    nProbe/k of the corpus per query via the cell equi-join (never
  //    all-pairs), top-k is the bounded-buffer fold (no rank window).
  q("q_ann_ivf",
    s"""WITH $KmeansOracleCtes,
       |pr AS (SELECT vec_id AS query_id, cl AS cell,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS crank
       |       FROM d2 WHERE vec_id < 20),
       |probed AS (SELECT query_id, cell FROM pr WHERE crank <= 2),
       |cand AS (SELECT p.query_id, g2.vec_id AS neighbor_id
       |         FROM probed p JOIN g2 ON g2.cluster = p.cell
       |         WHERE g2.vec_id <> p.query_id),
       |dist AS (SELECT c.query_id, c.neighbor_id,
       |           CAST(sum((qa.x - xa.x) * (qa.x - xa.x)) AS BIGINT) AS d
       |         FROM cand c
       |         JOIN xm qa ON qa.vec_id = c.query_id
       |         JOIN xm xa ON xa.vec_id = c.neighbor_id AND xa.pos = qa.pos
       |         GROUP BY c.query_id, c.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, CAST(d AS DOUBLE) AS sq_dist,
       |        row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
       |      FROM dist)
       |SELECT query_id, neighbor_id, sq_dist, rank FROM r WHERE rank <= 10""") { (s, dir) =>
    ivfIntTopK(microGrid(s, dir), k = 8, nProbe = 2, topK = 10)
      .withColumnRenamed("d", "sq_dist")
  }

  /** The integer-grid IVF serve path shared by q_ann_ivf and
    * q_ivf_recall_eval: train the k-cell coarse quantizer, rank cells
    * ONCE per query (packed d*k+cl keys, sorted, first nProbe), probe
    * via the cell equi-join, exact integer top-k via the bounded fold.
    * Emits (query_id, neighbor_id, d, rank). */
  private def ivfIntTopK(xm: org.apache.spark.sql.DataFrame, k: Int,
      nProbe: Int, topK: Int): org.apache.spark.sql.DataFrame = {
    val cents = kmeansIntCentroids(xm, k)
    val assigned = xm.select(col("vec_id"), col("xm"),
      (kmAssignKey(cents, k) % k).as("cell"))
    val packed = array(cents.map { case (cid, cm) =>
      graft.plans.NativeVector.sqDistI64(col("xm"), typedLit(cm)) *
        lit(k.toLong) + lit(cid)
    }: _*)
    val probed = xm.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("xm").as("qm"),
        explode(slice(array_sort(packed), 1, nProbe)).as("pk"))
      .select(col("query_id"), col("qm"), (col("pk") % k).as("cell"))
    val cand = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.plans.NativeVector.sqDistI64(col("qm"), col("xm")).as("d"))
    graft.operators.TopK.perGroup(cand, "query_id", "neighbor_id", "d",
      k = topK, ascending = true)
  }

  // -- IVF recall evaluation (r11, the "measure, don't guess" readout):
  //    recall@10 of the nProbe=2 integer IVF serve path against the
  //    EXACT integer top-10 per query — the knob-tuning evidence an ANN
  //    operator owner reads before committing a probe width (the
  //    q_lsh_pr_eval discipline applied to IVF, and fully oracle-exact
  //    because both sides live on the micro grid). Scale shape: exact
  //    side is one corpus scan against the broadcast query batch with a
  //    bounded top-k fold — an audit cost paid at index-build cadence,
  //    never per query (the contrastive exact-pairs pattern).
  q("q_ivf_recall_eval",
    s"""WITH $KmeansOracleCtes,
       |pr AS (SELECT vec_id AS query_id, cl AS cell,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS crank
       |       FROM d2 WHERE vec_id < 20),
       |probed AS (SELECT query_id, cell FROM pr WHERE crank <= 2),
       |cand AS (SELECT p.query_id, g2.vec_id AS neighbor_id
       |         FROM probed p JOIN g2 ON g2.cluster = p.cell
       |         WHERE g2.vec_id <> p.query_id),
       |dist AS (SELECT c.query_id, c.neighbor_id,
       |           CAST(sum((qa.x - xa.x) * (qa.x - xa.x)) AS BIGINT) AS d
       |         FROM cand c
       |         JOIN xm qa ON qa.vec_id = c.query_id
       |         JOIN xm xa ON xa.vec_id = c.neighbor_id AND xa.pos = qa.pos
       |         GROUP BY c.query_id, c.neighbor_id),
       |approx AS (SELECT query_id, neighbor_id FROM (
       |             SELECT query_id, neighbor_id,
       |               row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
       |             FROM dist) WHERE rank <= 10),
       |bd AS (SELECT qa.vec_id AS query_id, xa.vec_id AS neighbor_id,
       |         CAST(sum((qa.x - xa.x) * (qa.x - xa.x)) AS BIGINT) AS d
       |       FROM xm qa JOIN xm xa ON xa.pos = qa.pos AND xa.vec_id <> qa.vec_id
       |       WHERE qa.vec_id < 20
       |       GROUP BY qa.vec_id, xa.vec_id),
       |exact AS (SELECT query_id, neighbor_id FROM (
       |            SELECT query_id, neighbor_id,
       |              row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
       |            FROM bd) WHERE rank <= 10),
       |hits AS (SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
       |         FROM approx a JOIN exact e
       |           ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |         GROUP BY a.query_id)
       |SELECT q.query_id, coalesce(h.n_hits, 0) AS n_hits,
       |  CAST(coalesce(h.n_hits, 0) * 100000 AS BIGINT) AS recall_micro
       |FROM (SELECT DISTINCT query_id FROM exact) q
       |LEFT JOIN hits h USING (query_id)""") { (s, dir) =>
    val xm = microGrid(s, dir)
    val approx = ivfIntTopK(xm, k = 8, nProbe = 2, topK = 10)
      .select("query_id", "neighbor_id")
    val queries = xm.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("xm").as("qm"))
    val exactD = xm.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.plans.NativeVector.sqDistI64(col("qm"), col("xm")).as("d"))
    val exact = graft.operators.TopK.perGroup(exactD, "query_id",
      "neighbor_id", "d", k = 10, ascending = true)
      .select("query_id", "neighbor_id")
    val hits = approx.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    queries.select("query_id").join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) * 100000).cast("long").as("recall_micro"))
  }

  // -- SemDeDup (arXiv:2303.09540): semantic near-dup pairs within
  //    k-means cells, cosine rescored, then the kept corpus after
  //    dropping non-representatives. FULL ORACLE since r11: cells come
  //    from the k=8 integer coarse quantizer (KmeansOracleCtes) and the
  //    cosine threshold compares WITHOUT a sqrt — cos >= 0.35 = 7/20 ⟺
  //    dot > 0 ∧ 400·dot² >= 49·na·nb, all integer (dot/na/nb are
  //    BIGINT; the squares ride HUGEINT in DuckDB and DECIMAL(38,0) in
  //    Spark — both exact at ≤ 32 digits). The float production twin
  //    (SemDedup.pairs/keep over VectorIndex codebooks) stays
  //    precision/recall-pinned by SemDedupSpec. Scale shape unchanged:
  //    candidates from the cell equi-join (never all-pairs), threshold
  //    is a codegen'd per-pair kernel, grouping is pointer-jump closure.
  private lazy val SqlSemdedupPairCtes: String =
    """na AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS nv FROM xm GROUP BY vec_id),
      |spr AS (SELECT ca.vec_id AS id_a, cb.vec_id AS id_b, ca.cluster AS cell
      |        FROM g2 ca JOIN g2 cb ON ca.cluster = cb.cluster AND ca.vec_id < cb.vec_id),
      |sdt AS (SELECT spr.id_a, spr.id_b, spr.cell,
      |          CAST(sum(xa.x * xb.x) AS BIGINT) AS dot
      |        FROM spr JOIN xm xa ON xa.vec_id = spr.id_a
      |                 JOIN xm xb ON xb.vec_id = spr.id_b AND xb.pos = xa.pos
      |        GROUP BY spr.id_a, spr.id_b, spr.cell),
      |spairs AS (SELECT cell, id_a, id_b, dot
      |           FROM sdt JOIN na a2 ON a2.vec_id = sdt.id_a
      |                    JOIN na b2 ON b2.vec_id = sdt.id_b
      |           WHERE dot > 0
      |             AND 400 * (CAST(dot AS HUGEINT) * dot)
      |                 >= 49 * (CAST(a2.nv AS HUGEINT) * b2.nv))""".stripMargin

  /** Spark side of [[SqlSemdedupPairCtes]]: (cell, id_a, id_b, dot). */
  private def semdedupIntPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val k = 8
    val xm = microGrid(s, dir)
    val cents = kmeansIntCentroids(xm, k)
    val cells = xm.select(col("vec_id"), col("xm"),
        (kmAssignKey(cents, k) % k).as("cell"))
      .withColumn("nv", graft.plans.NativeVector.dotI64(col("xm"), col("xm")))
      .localCheckpoint()
    val a = cells.select(col("cell"), col("vec_id").as("id_a"),
      col("xm").as("xa"), col("nv").as("na"))
    val b = cells.select(col("cell"), col("vec_id").as("id_b"),
      col("xm").as("xb"), col("nv").as("nb"))
    a.join(b, "cell").filter(col("id_a") < col("id_b"))
      // r15 per-pair kernels (guide §1.2): the interpreted
      // zip_with+aggregate dot and the four-decimal-cast threshold ran
      // per CANDIDATE PAIR (~N²/k rows — the workload's wall);
      // NativeVector.dotI64 is the codegen'd bit-identical fold and
      // intCosGE the exact 128-bit integer compare of
      // 400·dot² >= 49·na·nb (same rows out, same dot values)
      .withColumn("dot", graft.plans.NativeVector.dotI64(col("xa"), col("xb")))
      .filter(col("dot") > 0 &&
        graft.plans.NativeVector.intCosGE(col("dot"), col("na"), col("nb"), 400, 49))
      .select(col("cell"), col("id_a"), col("id_b"), col("dot"))
  }

  q("q_semdedup_pairs",
    s"""WITH $KmeansOracleCtes,
       |$SqlSemdedupPairCtes
       |SELECT cell, id_a, id_b, dot FROM spairs""") { (s, dir) =>
    semdedupIntPairs(s, dir)
  }

  // keep: drop every non-representative (representative = min id per
  // duplicate group; closure via ConnectedComponents on the Spark side, a
  // recursive min-label CTE on the oracle side — the pair graph is
  // dup-mass-sized, so the closure input is bounded).
  q("q_semdedup_keep",
    s"""WITH RECURSIVE $KmeansOracleCtes,
       |$SqlSemdedupPairCtes,
       |edges AS (SELECT id_a AS a, id_b AS b FROM spairs
       |          UNION ALL SELECT id_b, id_a FROM spairs),
       |cc AS (SELECT a AS node, a AS lbl FROM edges
       |       UNION
       |       SELECT e.b AS node, cc.lbl FROM cc JOIN edges e ON e.a = cc.node),
       |comp AS (SELECT node, min(lbl) AS lbl FROM cc GROUP BY node),
       |drops AS (SELECT node FROM comp WHERE node <> lbl)
       |SELECT vec_id, label FROM embeddings
       |WHERE vec_id NOT IN (SELECT node FROM drops)""") { (s, dir) =>
    val pairs = semdedupIntPairs(s, dir)
    val comps = graft.operators.ConnectedComponents.run(pairs, "id_a", "id_b")
    val drops = comps.filter(col("n") =!= col("label"))
      .select(col("n").as("vec_id"))
    load(s, dir, "embeddings").join(drops, Seq("vec_id"), "left_anti")
      .select("vec_id", "label")
  }

  // -- PQ/ADC search: compressed-domain top-k (m=8 codes per vector, 32x
  //    smaller corpus; per-pair distance = 8 table adds). FULL ORACLE
  //    since r11: sub-quantizers train on the integer micro grid (the
  //    q_kmeans_clusters Lloyd recipe per subspace — PqOracleCtes), so
  //    codes, the per-query ADC tables and the summed ADC distances are
  //    all BIGINT and bit-exact in DuckDB. The float production twin
  //    (ProductQuantizer.train/search, the shape the bench serves) stays
  //    recall-pinned by ProductQuantizerSpec. Scale shape: the codebook
  //    is 1024 longs (broadcast literals), the corpus is touched once to
  //    encode and once to scan codes; per-candidate cost = m adds
  //    against the 2560-row broadcast ADC table; top-k is the bounded
  //    fold.
  q("q_ann_pq",
    s"""WITH $MicroGridCte,
       |$PqOracleCtes,
       |cd AS (SELECT a.query_id, c.vec_id AS neighbor_id,
       |         CAST(sum(a.d) AS BIGINT) AS d
       |       FROM codes c JOIN adc a ON a.sub = c.sub AND a.cl = c.code
       |       WHERE c.vec_id <> a.query_id
       |       GROUP BY a.query_id, c.vec_id),
       |r AS (SELECT query_id, neighbor_id, CAST(d AS DOUBLE) AS adc_dist,
       |        row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
       |      FROM cd)
       |SELECT query_id, neighbor_id, adc_dist, rank FROM r WHERE rank <= 10""") { (s, dir) =>
    val m = 8; val ksub = 16; val dsub = 8
    val xm = microGrid(s, dir)
    val subv = subGrid(xm, m, dsub).localCheckpoint()
    val cents = pqIntCentroids(subv, m, ksub)
    val codes = subv.select(col("vec_id"), col("sub"),
      (pqAssignExpr(cents, m, ksub) % ksub).as("code"))
    val centsDf = s.createDataFrame(
      cents.toSeq.map { case ((su, cl), cm) => (su, cl, cm.toSeq) })
      .toDF("csub", "cl", "cm")
    val adc = subv.filter(col("vec_id") < 20)
      .join(broadcast(centsDf), col("sub") === col("csub"))
      .select(col("vec_id").as("query_id"), col("sub").as("asub"), col("cl"),
        graft.plans.NativeVector.sqDistI64(col("sv"), col("cm")).as("ad"))
    val cd = codes
      .join(broadcast(adc),
        col("sub") === col("asub") && col("code") === col("cl"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum("ad").as("adc_dist"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adc_dist"))
    graft.operators.TopK.perGroup(cd, "query_id", "neighbor_id", "adc_dist",
      k = 10, ascending = true)
  }

  // -- LSH-bucketed ANN (the scale path): bucket by the sign pattern of
  //    the first 12 components; exact cosine only within the bucket.
  q("q_ann_lsh_bucket", {
    val bits = (0 until 12).map(i =>
      s"CASE WHEN embedding[${i + 1}] >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""WITH b AS (SELECT vec_id, embedding, $bits AS bucket FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM b WHERE vec_id < 20),
       |sims AS (
       |  SELECT query_id, c.vec_id AS neighbor_id,
       |    round(list_dot_product(CAST(qe AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
       |      (sqrt(list_dot_product(CAST(qe AS DOUBLE[]), CAST(qe AS DOUBLE[]))) *
       |       sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 4) AS sim
       |  FROM q JOIN b c USING (bucket) WHERE c.vec_id <> query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM sims)
       |SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 5""".stripMargin
  }) { (s, dir) =>
    val emb = spread(load(s, dir, "embeddings"))
      .withColumn("bucket", V.signBucket(col("embedding"), 0 until 12))
    val qs = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("bucket"))
    val sims = emb.join(broadcast(qs), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(V.cosine(col("qe"), col("embedding")), 4).as("sim"))
    graft.operators.TopK.perGroup(sims, "query_id", "neighbor_id", "sim",
      k = 5, ascending = false)
  }

  // -- contrastive pair mining — training-data prep for embedding
  //    models: per query, the best POSITIVE (same label, highest cosine)
  //    and the HARDEST NEGATIVE (different label, highest cosine — the
  //    pairs that actually move a contrastive loss). One corpus scan
  //    against the broadcast query batch; the per-(query, pair-type)
  //    top-1 is the bounded TopK buffer over a composite group key, so
  //    no candidate list ever lands in one task.
  q("q_contrastive_pairs",
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qe, label AS ql
      |  FROM embeddings WHERE vec_id < 50),
      |s AS (
      |  SELECT query_id, c.vec_id AS neighbor_id,
      |    CASE WHEN c.label = ql THEN 'pos' ELSE 'neg' END AS pair_type,
      |    round(list_dot_product(CAST(qe AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
      |      (sqrt(list_dot_product(CAST(qe AS DOUBLE[]), CAST(qe AS DOUBLE[]))) *
      |       sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 4) AS sim
      |  FROM q JOIN embeddings c ON c.vec_id <> query_id),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY query_id, pair_type ORDER BY sim DESC, neighbor_id) AS rn
      |  FROM s)
      |SELECT query_id, pair_type, neighbor_id, sim FROM r WHERE rn = 1""") { (s, dir) =>
    val emb = load(s, dir, "embeddings")
    val qs = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("ql"))
    val scored = spread(emb).join(broadcast(qs), col("query_id") =!= col("vec_id"))
      .select(
        // composite (query, same-label?) group key for the bounded top-1
        (col("query_id") * 2 +
          when(col("label") === col("ql"), 1).otherwise(0)).as("grp"),
        col("vec_id").as("neighbor_id"),
        when(col("label") === col("ql"), lit("pos")).otherwise(lit("neg"))
          .as("pair_type"),
        round(V.cosine(col("qe"), col("embedding")), 4).as("sim"))
    graft.operators.TopK.perGroupWithPayload(scored, "grp", "neighbor_id", "sim",
        "pair_type", k = 1, ascending = false)
      .select(expr("CAST(grp DIV 2 AS BIGINT)").as("query_id"), col("pair_type"),
        col("neighbor_id"), col("sim"))
  }

  // -- corpus-scale contrastive mining twin: queries = THE WHOLE CORPUS.
  //    The broadcast-query-batch shape above would OOM here (broadcasting
  //    the corpus to itself); this path routes every vector to its IVF
  //    cells in one shuffle and scores each cell's probes against its
  //    postings in a per-cell kernel — no broadcast, no collect, no
  //    pair join (VectorIndex.trainAndMinePairs: training and mining
  //    share one read of the corpus). Run with nProbe = k the
  //    cell routing is EXACT (each pair meets once, in the corpus
  //    vector's cell), so the brute-force SQL self-join mirrors it
  //    bit-for-bit; production uses nProbe << k (recall
  //    pinned by VectorIndexSpec) and trains/persists the codebook once.
  q("q_contrastive_pairs_self",
    """WITH s AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CASE WHEN c.label = q.label THEN 'pos' ELSE 'neg' END AS pair_type,
      |    round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
      |      (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 4) AS sim
      |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY query_id, pair_type ORDER BY sim DESC, neighbor_id) AS rn
      |  FROM s)
      |SELECT query_id, pair_type, neighbor_id, sim FROM r WHERE rn = 1""") { (s, dir) =>
    import graft.functions.VectorIndex
    val emb = spread(load(s, dir, "embeddings"))
    val k = 8
    VectorIndex.trainAndMinePairs(emb, "vec_id", "embedding", "label", k = k,
      iters = 2, nProbe = k)
  }

  // -- L2 normalization (unit vectors): the preprocessing step that turns
  //    cosine into a plain dot product downstream. Norm accumulates in
  //    double left-to-right (the native kernel's order); per-dim output so
  //    the oracle checks every value.
  q("q_embed_normalize",
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |idx AS (SELECT CAST(range AS INT) AS dim FROM range(4096))
      |SELECT vec_id, dim,
      |  CASE WHEN nrm = 0 THEN 0.0
      |       ELSE round(CAST(embedding[dim + 1] AS DOUBLE) / nrm, 6) END AS xn
      |FROM e JOIN idx ON dim < len(embedding)""") { (s, dir) =>
    spread(load(s, dir, "embeddings"))
      .withColumn("nrm", sqrt(V.dotProduct(col("embedding"), col("embedding"))))
      .select(col("vec_id"), col("nrm"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        when(col("nrm") === 0.0, 0.0)
          .otherwise(round(col("x").cast("double") / col("nrm"), 6)).as("xn"))
  }

  // -- int8 symmetric quantization (per-vector max-abs scale): the memory
  //    compression step for ANN at corpus scale (4x smaller vectors, SIMD
  //    int dot products). Emitted per-dimension so the oracle checks every
  //    quantized value; `scale` is the dequantization step. Rounding is
  //    floor(x+0.5) stated explicitly on both sides (identical IEEE double
  //    ops => bit-exact, no engine round() semantics involved).
  q("q_embed_quantize",
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS maxabs
      |  FROM embeddings),
      |idx AS (SELECT CAST(range AS INT) AS dim FROM range(4096))
      |SELECT vec_id, dim,
      |  CASE WHEN maxabs = 0 THEN 0
      |       ELSE CAST(floor(CAST(embedding[dim + 1] AS DOUBLE) * (127.0 / maxabs) + 0.5) AS INT)
      |  END AS q,
      |  CASE WHEN maxabs = 0 THEN 0.0 ELSE maxabs / 127.0 END AS scale
      |FROM e JOIN idx ON dim < len(embedding)""") { (s, dir) =>
    spread(load(s, dir, "embeddings"))
      .withColumn("maxabs",
        array_max(transform(col("embedding"), x => abs(x))).cast("double"))
      .select(col("vec_id"), col("maxabs"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(
        col("vec_id"), col("dim"),
        when(col("maxabs") === 0.0, lit(0))
          .otherwise(floor(col("x").cast("double") * (lit(127.0) / col("maxabs")) + 0.5)
            .cast("int")).as("q"),
        when(col("maxabs") === 0.0, lit(0.0))
          .otherwise(col("maxabs") / lit(127.0)).as("scale"))
  }

  // -- TF-IDF top terms: each doc's 3 most characteristic tokens. The
  //    idf is the RATIONAL form tf * N/df (no log) — monotone-equivalent
  //    for ranking and bit-exact across engines, where ln() is not
  //    guaranteed correctly-rounded everywhere. One shuffle for tf, one
  //    for df, a token-keyed join, per-doc top-3 (window, no global
  //    sort); the 1-row corpus count rides a broadcast cross join (no
  //    driver sync).
  q("q_tfidf_topterms",
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, token,
      |    round(CAST(tf AS DOUBLE) * n_docs / df, 6) AS score
      |  FROM tf JOIN df USING (token) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, token, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
      |  FROM scored)
      |SELECT doc_id, token, score, rnk FROM ranked WHERE rnk <= 3""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val tok = spread(load(s, dir, "documents"))
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("token"))
      // consumed by several branches with zero plan sharing (r15
      // before-plan: up to 10 parquet scans) — tokenize once
      .localCheckpoint(false)
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tok.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val n = load(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf").cast("double") * col("n_docs") / col("df"), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("doc_id", "token", "score", "rnk")
  }

  // -- vocabulary build + token-id mapping: rank tokens by corpus
  //    frequency (tie-break lexicographic), cap the vocab, map every
  //    token occurrence to its id (-1 = OOV) — the tokenize-for-training
  //    step. The vocab is capped so the global rank window runs over at
  //    most vocabSize rows (broadcastable at any corpus scale); the
  //    corpus side maps through one broadcast join, no shuffle.
  q("q_vocab_token_ids",
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |idx AS (SELECT CAST(range AS INT) AS pos FROM range(4096)),
      |tok AS (
      |  SELECT doc_id, pos, toks[pos + 1] AS token
      |  FROM t JOIN idx ON pos < len(toks)),
      |v AS (SELECT token, count(*) AS freq FROM tok GROUP BY token
      |      ORDER BY freq DESC, token LIMIT 1000),
      |ranked AS (
      |  SELECT token, freq,
      |    row_number() OVER (ORDER BY freq DESC, token) - 1 AS tid
      |  FROM v)
      |SELECT tok.doc_id, tok.pos, tok.token,
      |  CAST(coalesce(ranked.tid, -1) AS BIGINT) AS tid
      |FROM tok LEFT JOIN ranked ON tok.token = ranked.token
      |WHERE tok.doc_id % 5 = 0""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val tok = spread(load(s, dir, "documents"))
      .select(col("doc_id"), posexplode(T.tokens(col("text"))).as(Seq("pos", "token")))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(1000)
      .withColumn("tid",
        (row_number().over(Window.orderBy(col("freq").desc, col("token"))) - 1)
          .cast("long"))
    tok.filter(col("doc_id") % 5 === 0)
      .join(broadcast(vocab.select("token", "tid")), Seq("token"), "left")
      .select(col("doc_id"), col("pos"), col("token"),
        coalesce(col("tid"), lit(-1L)).as("tid"))
  }

  // -- BPE vocabulary induction, first merge iteration (Sennrich et al.,
  //    arXiv:1508.07909): count adjacent character-pair occurrences
  //    weighted by word frequency and rank the merge candidates — the
  //    step a BPE trainer repeats after applying each winning merge.
  //    Scale shape: the pair space collapses onto the DISTINCT word
  //    list first (one partial-agg'd shuffle — the corpus never explodes
  //    to character pairs), pairs aggregate over <= |vocab| * avg_len
  //    rows, and the top-20 is a TakeOrderedAndProject, no global sort.
  q("q_bpe_pair_counts",
    s"""WITH t AS (SELECT unnest($SqlTokens) AS w FROM documents),
       |wf AS (SELECT w, count(*) AS f FROM t GROUP BY w),
       |p AS (
       |  SELECT substr(w, CAST(i AS INT), 2) AS pair, f
       |  FROM wf, unnest(range(1, len(w))) AS u(i)),
       |agg AS (SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM p GROUP BY pair)
       |SELECT pair, cnt FROM agg ORDER BY cnt DESC, pair LIMIT 20""") { (s, dir) =>
    val wf = spread(load(s, dir, "documents"))
      .select(explode(T.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    wf.select(explode(
        when(length(col("w")) >= 2,
          expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .otherwise(array())).as("pair"), col("f"))
      .groupBy("pair").agg(sum(col("f")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(20)
  }

  /** BPE merge rounds N — a config knob, not a constant: the trainer loop
    * and the oracle unroll to the same N (`-Dgraft.bpe.mergeRounds=k`,
    * default 10). Per-round cost is linear in DISTINCT words and the plan
    * stays constant-size (`localCheckpoint` per round), so vocab-scale N
    * is bounded by driver round-trips only — see SCALE.md. */
  private val BpeMergeRounds: Int =
    sys.props.get("graft.bpe.mergeRounds").map(_.trim.toInt).filter(_ >= 1).getOrElse(10)

  // -- iterative BPE trainer (Sennrich et al., arXiv:1508.07909 §3): the
  //    count-pairs -> pick-winner -> apply-merge loop, run N rounds (see
  //    [[BpeMergeRounds]], default 10) over the frequency-weighted
  //    DISTINCT word list (q_bpe_pair_counts is one body of this loop).
  //    Emits the top-5 merge candidates per round; rank 1 is the merge
  //    applied before the next round, so rounds 2..N
  //    count pairs over multi-character symbols. Words travel as symbol
  //    strings (symbols joined by single spaces — symbols never contain
  //    whitespace, tokens are split on it); a merge of (a, b) is a greedy
  //    left-to-right fold that appends b with NO separator when the
  //    accumulated string's last symbol is exactly a — the same
  //    non-overlapping left-to-right semantics as the paper's regex
  //    replace, expressed as Spark `aggregate` and mirrored exactly by
  //    DuckDB `list_reduce` (the merged symbol a||b can never re-match a
  //    within the same round, so single-pass is safe). Scale shape: the
  //    pair space collapses onto the DISTINCT word list before any
  //    per-character work (one partial-agg'd shuffle per round, the corpus
  //    is tokenized once), each round's top-5 is a TakeOrderedAndProject,
  //    the driver holds five scalars per round (never word data), and
  //    `localCheckpoint` truncates lineage per round exactly like the CC
  //    operator — the plan does not grow with merge count.
  q("q_bpe_merges", {
    val n = BpeMergeRounds
    val chain = ((1 until n).flatMap(k =>
      Seq(sqlBpeRankRound(k), sqlBpeApplyWinner(k))) :+ sqlBpeRankRound(n))
      .mkString(",\n")
    val union = (1 to n).map(k => s"SELECT * FROM t$k WHERE rnk <= 5")
      .mkString("\n      UNION ALL ")
    s"""WITH t AS (SELECT unnest($SqlTokens) AS w FROM documents),
       |wf AS (SELECT w, count(*) AS f FROM t GROUP BY w),
       |w0 AS (SELECT array_to_string(string_split(w, ''), ' ') AS sw, f FROM wf),
       |$chain
       |SELECT iter, CAST(rnk AS BIGINT) AS rnk, pair, cnt
       |FROM ($union)"""
  }) { (s, dir) =>
    import org.apache.spark.sql.DataFrame
    val n = BpeMergeRounds
    var words: DataFrame = bpeWords(s, dir)
    // 5 rows; the checkpoint truncates this round's lineage
    def top5(k: Int): DataFrame = bpeTop5(words, k).localCheckpoint()
    val tops = (1 to n).map { k =>
      val t = top5(k)
      if (k < n) {
        // the round's winner: one 5-row-checkpointed lookup, two scalars;
        // an empty round (fully merged corpus) skips the merge — the
        // oracle's LEFT JOIN ON TRUE fold is the identity the same way
        t.filter(col("rnk") === 1).collect().headOption.foreach { row =>
          val Array(a, b) = row.getAs[String]("pair").split(" ", 2)
          words = words
            .select(T.bpeMerge(col("sw"), a, b).as("sw"), col("f"))
            .localCheckpoint()
        }
      }
      t
    }
    tops.reduce(_ union _).select("iter", "rnk", "pair", "cnt")
  }

  /** One BPE round's ranked top-5 pair table, PRE-checkpoint — the
    * unpartitioned ranking window rides on a 5-row Limit, never the pair
    * table. Package-private so PlanSpec pins that bound explicitly. */
  private[graft] def bpeTop5(words: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    val w = Window.orderBy(col("cnt").desc, col("pair"))
    words
      .select(explode(T.bpePairs(col("sw"))).as("pair"), col("f"))
      .groupBy("pair").agg(sum(col("f")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(5)
      .select(lit(k.toLong).as("iter"), col("pair"), col("cnt"),
        row_number().over(w).cast("long").as("rnk"))
  }

  /** Shared BPE word table: distinct corpus words with frequency, each as
    * its initial one-symbol-per-character string. Checkpointed — both the
    * trainer loop and the encoder iterate from here without re-tokenizing. */
  private[graft] def bpeWords(s: org.apache.spark.sql.SparkSession, dir: String) =
    spread(load(s, dir, "documents"))
      .select(explode(T.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(col("w"), T.bpeInit(col("w")).as("sw"), col("f"))
      .localCheckpoint()

  /** One unrolled TRAINER round for the DuckDB oracle: p$k counts
    * adjacent pairs over w${k-1}, t$k ranks every candidate (rnk 1 = the
    * round's merge). Shared by q_bpe_merges (char) and q_bpe_byte_merges
    * (byte) so the two trainers cannot drift. */
  private def sqlBpeRankRound(k: Int): String =
    s"""p$k AS (
       |  SELECT s[i] || ' ' || s[i+1] AS pair, CAST(sum(f) AS BIGINT) AS cnt
       |  FROM (SELECT string_split(sw, ' ') AS s, f FROM w${k - 1}),
       |       unnest(range(1, len(s))) AS u(i)
       |  GROUP BY pair),
       |t$k AS (
       |  SELECT CAST($k AS BIGINT) AS iter, pair, cnt,
       |    row_number() OVER (ORDER BY cnt DESC, pair) AS rnk
       |  FROM p$k)"""

  /** Apply t$k's rank-1 merge to w${k-1} — the trainer's between-round
    * step, the same greedy fold as the Spark side. LEFT JOIN ON TRUE
    * (not CROSS JOIN): when a round has NO pairs left (every word fully
    * merged before the configured round count), m$k is empty and a cross
    * join would empty the corpus — with the left join m.a/m.b are NULL,
    * the CASE falls to its ELSE branch, and the fold is the identity,
    * matching the Spark loop's skip-on-no-winner. */
  private def sqlBpeApplyWinner(k: Int): String =
    s"""w$k AS (
       |  SELECT list_reduce(string_split(sw, ' '), (acc, x) ->
       |      CASE WHEN (acc = m.a OR ends_with(acc, ' ' || m.a)) AND x = m.b
       |           THEN acc || x ELSE acc || ' ' || x END) AS sw, f
       |  FROM w${k - 1} LEFT JOIN (
       |    SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b
       |    FROM t$k WHERE rnk = 1) m ON TRUE)"""

  /** One unrolled BPE replay round for the DuckDB oracle: p$k counts
    * adjacent pairs over w${k-1}, m$k picks the (count desc, pair asc)
    * winner, w$k applies it with the greedy list_reduce fold. Shared by
    * the char-level (q_bpe_encode) and byte-level (q_bpe_byte_*) oracles
    * so the two families cannot drift in fold semantics. */
  private def sqlBpeReplayRound(k: Int): String =
    s"""p$k AS (
       |  SELECT s[i] || ' ' || s[i+1] AS pair, CAST(sum(f) AS BIGINT) AS cnt
       |  FROM (SELECT string_split(sw, ' ') AS s, f FROM w${k - 1}),
       |       unnest(range(1, len(s))) AS u(i)
       |  GROUP BY pair),
       |m$k AS (
       |  SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b
       |  FROM p$k ORDER BY cnt DESC, pair LIMIT 1),
       |w$k AS (
       |  SELECT w, list_reduce(string_split(sw, ' '), (acc, x) ->
       |      CASE WHEN (acc = m.a OR ends_with(acc, ' ' || m.a)) AND x = m.b
       |           THEN acc || x ELSE acc || ' ' || x END) AS sw, f
       |  FROM w${k - 1} LEFT JOIN m$k AS m ON TRUE)"""

  /** Replay `rounds` BPE merge rounds over a (w, sw, f) symbol table:
    * per round, ONE partial-agg'd pair-count shuffle, a 1-row
    * TakeOrderedAndProject winner (two driver scalars — never word
    * data), the greedy fold applied distributedly, and a localCheckpoint
    * truncating the round's lineage so the plan stays constant-size.
    * Shared by the char-level encoder and the byte-level family. */
  private def bpeReplay(words0: org.apache.spark.sql.DataFrame,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    var words = words0
    var exhausted = false
    for (_ <- 1 to rounds if !exhausted) {
      // same winner rule as the trainer: top pair by (count desc, pair);
      // a round with NO pairs left (fully merged corpus before the
      // configured round count) ends the replay — merging is monotone,
      // so no later round can produce a pair either, and the oracle's
      // LEFT JOIN ON TRUE fold degrades to the identity the same way
      // (r13 ADVICE: the remaining rounds were paying a full pair-count
      // shuffle each just to observe the same empty winner)
      val top = words
        .select(explode(T.bpePairs(col("sw"))).as("pair"), col("f"))
        .groupBy("pair").agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .collect().headOption
      top match {
        case Some(row) =>
          val Array(a, b) = row.getAs[String]("pair").split(" ", 2)
          words = words
            .select(col("w"), T.bpeMerge(col("sw"), a, b).as("sw"), col("f"))
            .localCheckpoint()
        case None => exhausted = true
      }
    }
    words
  }

  /** DuckDB fragment: the byte-level pre-tokenizer regex as a SQL string
    * literal (TextFunctions.BytePretokenRe, apostrophe doubled). */
  private val SqlBytePretokenRe: String =
    "'" + T.BytePretokenRe.replace("'", "''") + "'"

  /** DuckDB fragment: pre-token -> initial hex-pair symbol string
    * (mirror of TextFunctions.byteInit; hex() is uppercase in both
    * engines, encode() is UTF-8 in both). */
  private val SqlByteInit: String =
    "trim(regexp_replace(hex(encode(w)), '(..)', '\\1 ', 'g'))"

  /** Shared byte-BPE pre-token table: distinct GPT-2-style pre-tokens
    * with frequency, each as its initial one-symbol-per-BYTE hex string.
    * Checkpointed — the trainer replay and both byte queries iterate from
    * here without re-pre-tokenizing the corpus. */
  private[graft] def bpeBytePretokens(s: org.apache.spark.sql.SparkSession, dir: String) =
    spread(load(s, dir, "documents"))
      .select(explode(T.bytePretokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(col("w"), T.byteInit(col("w")).as("sw"), col("f"))
      .localCheckpoint()

  // -- BPE encoder: apply the trainer's first N learned merges (same
  //    [[BpeMergeRounds]] config as the trainer) to segment
  //    every distinct corpus word (the tokenize-with-the-learned-vocab
  //    half of the tokenizer; q_bpe_merges is the training half). Output:
  //    each word's segmentation and symbol count, plus the corpus token
  //    total it implies (f * n_symbols aggregates to the corpus-level
  //    fertility a tokenizer build reports). Scale shape: identical to one
  //    trainer round — the corpus collapses onto DISTINCT words first, the
  //    N winners ride as driver scalars (the trainer's top-1 loop re-run),
  //    and encoding the full corpus is then a broadcast word->segmentation
  //    join at any scale; here the word table IS the output domain. The
  //    oracle unrolls the same N winner-selection+merge rounds and encodes
  //    with the same list_reduce fold.
  q("q_bpe_encode", {
    val n = BpeMergeRounds
    s"""WITH t AS (SELECT unnest($SqlTokens) AS w FROM documents),
       |wf AS (SELECT w, count(*) AS f FROM t GROUP BY w),
       |w0 AS (SELECT w, array_to_string(string_split(w, ''), ' ') AS sw, f FROM wf),
       |${(1 to n).map(sqlBpeReplayRound).mkString(",\n")}
       |SELECT w, sw AS segmentation,
       |  CAST(len(string_split(sw, ' ')) AS BIGINT) AS n_symbols,
       |  CAST(f AS BIGINT) AS f,
       |  CAST(f * len(string_split(sw, ' ')) AS BIGINT) AS corpus_symbols
       |FROM w$n"""
  }) { (s, dir) =>
    val words = bpeReplay(bpeWords(s, dir), BpeMergeRounds)
    words.select(col("w"), col("sw").as("segmentation"),
      size(split(col("sw"), " ")).cast("long").as("n_symbols"),
      col("f"),
      (col("f") * size(split(col("sw"), " "))).as("corpus_symbols"))
  }

  // -- BYTE-level BPE encoder (Radford et al. 2019, GPT-2 `encoder.py`;
  //    the tiktoken family — the tokenizer real LLM corpora are processed
  //    with): GPT-2-regex pre-tokenization over RAW text (contractions,
  //    space-prefixed letter/digit/punct runs, whitespace runs — the
  //    common Java/RE2 subset, deviations documented at
  //    TextFunctions.BytePretokenRe), a 256-token BYTE alphabet (UTF-8
  //    bytes as hex-pair symbols — GPT-2's bytes_to_unicode with hex
  //    glyphs), and the same (count desc, pair asc) merge replay as
  //    q_bpe_encode over the distinct PRE-TOKEN table. Byte-level means
  //    total coverage: every pre-token encodes (no [UNK] path exists),
  //    and concatenating a segmentation's symbols reproduces the exact
  //    UTF-8 bytes. Scale shape: identical to the char family — the
  //    corpus collapses onto distinct pre-tokens first, each round is one
  //    partial-agg'd shuffle + a 1-row TakeOrderedAndProject, the driver
  //    holds two hex scalars per round, localCheckpoint keeps the plan
  //    constant-size; encoding a full corpus is then a pre-token ->
  //    segmentation equi-join (unhinted, AQE decides — see
  //    q_bpe_byte_stats).
  q("q_bpe_byte_encode", {
    val n = BpeMergeRounds
    s"""WITH pt AS (
       |  SELECT unnest(regexp_extract_all(text, $SqlBytePretokenRe, 0)) AS w
       |  FROM documents),
       |wf AS (SELECT w, count(*) AS f FROM pt GROUP BY w),
       |w0 AS (SELECT w, $SqlByteInit AS sw, f FROM wf),
       |${(1 to n).map(sqlBpeReplayRound).mkString(",\n")}
       |SELECT w, sw AS segmentation,
       |  CAST(len(string_split(sw, ' ')) AS BIGINT) AS n_symbols,
       |  CAST(f AS BIGINT) AS f,
       |  CAST(f * len(string_split(sw, ' ')) AS BIGINT) AS corpus_symbols
       |FROM w$n"""
  }) { (s, dir) =>
    val words = bpeReplay(bpeBytePretokens(s, dir), BpeMergeRounds)
    words.select(col("w"), col("sw").as("segmentation"),
      size(split(col("sw"), " ")).cast("long").as("n_symbols"),
      col("f"),
      (col("f") * size(split(col("sw"), " "))).as("corpus_symbols"))
  }

  // -- byte-BPE fertility / coverage report (the oov twin): encode the
  //    corpus with the learned byte-level vocab and report, per source,
  //    the numbers a tokenizer build signs off on — tokens per pre-token
  //    (fertility), bytes per token (compression), single-token rate, and
  //    the OOV count, which byte-level BPE makes structurally zero (the
  //    contrast with q_wordpiece_oov's whole-word [UNK]s) but is COMPUTED
  //    here (left join miss count), not asserted. Scale shape: the
  //    dictionary is the distinct pre-token table (not driver-bounded at
  //    corpus scale), so the corpus-side join is an unhinted equi-join on
  //    the pre-token — AQE broadcasts it at moderate corpora and falls
  //    back to shuffle beyond; per-source sums partial-agg to |sources|
  //    rows.
  q("q_bpe_byte_stats", {
    val n = BpeMergeRounds
    s"""WITH pt AS (
       |  SELECT unnest(regexp_extract_all(text, $SqlBytePretokenRe, 0)) AS w
       |  FROM documents),
       |wf AS (SELECT w, count(*) AS f FROM pt GROUP BY w),
       |w0 AS (SELECT w, $SqlByteInit AS sw, f FROM wf),
       |${(1 to n).map(sqlBpeReplayRound).mkString(",\n")},
       |enc AS (SELECT w, CAST(len(string_split(sw, ' ')) AS BIGINT) AS n_sym FROM w$n),
       |ps AS (
       |  SELECT source, unnest(regexp_extract_all(text, $SqlBytePretokenRe, 0)) AS w
       |  FROM documents)
       |SELECT ps.source,
       |  CAST(count(*) AS BIGINT) AS n_pretokens,
       |  CAST(sum(octet_length(encode(ps.w))) AS BIGINT) AS n_bytes,
       |  CAST(sum(e.n_sym) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN e.n_sym = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_single,
       |  CAST(sum(CASE WHEN e.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  round(CAST(sum(e.n_sym) AS DOUBLE) / count(*), 6) AS fertility,
       |  round(CAST(sum(octet_length(encode(ps.w))) AS DOUBLE) / sum(e.n_sym), 6)
       |    AS bytes_per_token
       |FROM ps LEFT JOIN enc e ON ps.w = e.w
       |GROUP BY ps.source"""
  }) { (s, dir) =>
    val enc = bpeReplay(bpeBytePretokens(s, dir), BpeMergeRounds)
      .select(col("w"), size(split(col("sw"), " ")).cast("long").as("n_sym"))
    val ps = spread(load(s, dir, "documents"))
      .select(col("source"), explode(T.bytePretokens(col("text"))).as("w"))
    ps.join(enc, Seq("w"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_pretokens"),
        sum(octet_length(col("w"))).as("n_bytes"),
        sum(col("n_sym")).as("n_tokens"),
        sum(when(col("n_sym") === 1, 1L).otherwise(0L)).as("n_single"),
        sum(when(col("n_sym").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_pretokens"), col("n_bytes"),
        col("n_tokens"), col("n_single"), col("n_oov"),
        round(col("n_tokens").cast("double") / col("n_pretokens"), 6)
          .as("fertility"),
        round(col("n_bytes").cast("double") / col("n_tokens"), 6)
          .as("bytes_per_token"))
  }

  // -- byte-BPE trainer merge table (the merges.txt artifact a GPT-2
  //    tokenizer build exports): the same count-pairs -> pick-winner ->
  //    apply loop as q_bpe_merges, run over the byte-level pre-token
  //    table — top-5 ranked candidates per round, rank 1 being the merge
  //    applied before the next round. Identical scale shape to the char
  //    trainer (one partial-agg'd shuffle per round, 5-row TakeOrdered,
  //    localCheckpoint-bounded plan, the driver holds five scalars).
  q("q_bpe_byte_merges", {
    val n = BpeMergeRounds
    val chain = ((1 until n).flatMap(k =>
      Seq(sqlBpeRankRound(k), sqlBpeApplyWinner(k))) :+ sqlBpeRankRound(n))
      .mkString(",\n")
    val union = (1 to n).map(k => s"SELECT * FROM t$k WHERE rnk <= 5")
      .mkString("\n      UNION ALL ")
    s"""WITH pt AS (
       |  SELECT unnest(regexp_extract_all(text, $SqlBytePretokenRe, 0)) AS w
       |  FROM documents),
       |wf AS (SELECT w, count(*) AS f FROM pt GROUP BY w),
       |w0 AS (SELECT $SqlByteInit AS sw, f FROM wf),
       |$chain
       |SELECT iter, CAST(rnk AS BIGINT) AS rnk, pair, cnt
       |FROM ($union)"""
  }) { (s, dir) =>
    import org.apache.spark.sql.DataFrame
    val n = BpeMergeRounds
    var words: DataFrame = bpeBytePretokens(s, dir).select("sw", "f")
    val tops = (1 to n).map { k =>
      // 5 rows; the checkpoint truncates this round's lineage
      val t = bpeTop5(words, k).localCheckpoint()
      if (k < n) {
        // empty round (fully merged corpus) skips the merge, like the
        // oracle's LEFT JOIN ON TRUE identity fold
        t.filter(col("rnk") === 1).collect().headOption.foreach { row =>
          val Array(a, b) = row.getAs[String]("pair").split(" ", 2)
          words = words
            .select(T.bpeMerge(col("sw"), a, b).as("sw"), col("f"))
            .localCheckpoint()
        }
      }
      t
    }
    tops.reduce(_ union _).select("iter", "rnk", "pair", "cnt")
  }

  // -- byte-BPE input-ids export (the doc-level token-id artifact an LLM
  //    training pipeline materializes; byte twin of q_vocab_token_ids):
  //    every byte-level token of a doc slice as (doc_id, pre-token pos,
  //    symbol pos, token, id). The id table is the FINAL symbol vocab —
  //    distinct symbols across the trained segmentations, ranked by
  //    (corpus count desc, symbol) — which is bounded BY CONSTRUCTION at
  //    256 byte values + one new symbol per merge round, so the ranking
  //    window rides a ≤(256+N)-row aggregate and the id join broadcasts
  //    legitimately at any corpus size. The doc->segmentation step is the
  //    unhinted distinct-pre-token equi-join (AQE decides); positions are
  //    carried as the (pt_pos, sym_pos) pair so no per-doc window is
  //    needed to order tokens.
  q("q_bpe_byte_token_ids", {
    val n = BpeMergeRounds
    s"""WITH pt AS (
       |  SELECT unnest(regexp_extract_all(text, $SqlBytePretokenRe, 0)) AS w
       |  FROM documents),
       |wf AS (SELECT w, count(*) AS f FROM pt GROUP BY w),
       |w0 AS (SELECT w, $SqlByteInit AS sw, f FROM wf),
       |${(1 to n).map(sqlBpeReplayRound).mkString(",\n")},
       |sym AS (
       |  SELECT sym, CAST(sum(f) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split(sw, ' ')) AS sym, f FROM w$n)
       |  GROUP BY sym),
       |vocab AS (
       |  SELECT sym AS token,
       |    CAST(row_number() OVER (ORDER BY cnt DESC, sym) AS BIGINT) AS tid
       |  FROM sym),
       |d AS (
       |  SELECT doc_id, regexp_extract_all(text, $SqlBytePretokenRe, 0) AS pts
       |  FROM documents WHERE doc_id % 5 = 0),
       |dp AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pt_pos, pts[i + 1] AS w
       |  FROM d, unnest(range(len(pts))) AS u(i)),
       |dj AS (
       |  SELECT dp.doc_id, dp.pt_pos, string_split(e.sw, ' ') AS syms
       |  FROM dp JOIN w$n e ON dp.w = e.w),
       |ds AS (
       |  SELECT doc_id, pt_pos, CAST(j AS BIGINT) AS sym_pos, syms[j + 1] AS token
       |  FROM dj, unnest(range(len(syms))) AS v(j))
       |SELECT ds.doc_id, ds.pt_pos, ds.sym_pos, ds.token, v.tid
       |FROM ds JOIN vocab v ON ds.token = v.token"""
  }) { (s, dir) =>
    val dict = bpeReplay(bpeBytePretokens(s, dir), BpeMergeRounds)
    val wv = Window.orderBy(col("cnt").desc, col("sym"))
    val vocab = dict
      .select(explode(split(col("sw"), " ")).as("sym"), col("f"))
      .groupBy("sym").agg(sum("f").as("cnt"))
      .select(col("sym").as("token"),
        row_number().over(wv).cast("long").as("tid"))
    spread(load(s, dir, "documents"))
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        posexplode(T.bytePretokens(col("text"))).as(Seq("pt_pos", "w")))
      .join(dict.select("w", "sw"), Seq("w"))
      .select(col("doc_id"), col("pt_pos").cast("long").as("pt_pos"),
        posexplode(split(col("sw"), " ")).as(Seq("sym_pos", "token")))
      .join(broadcast(vocab), Seq("token"))
      .select(col("doc_id"), col("pt_pos"), col("sym_pos").cast("long").as("sym_pos"),
        col("token"), col("tid"))
  }

  // -- DSIR-style data selection (arXiv:2302.03169): importance-weight
  //    every raw doc by how target-like its hashed-unigram bag is
  //    (target = the 'en' slice), keep docs whose weight clears the
  //    raw average. The paper's log-likelihood ratio over hashed n-gram
  //    buckets is re-expressed as an exact integer mass ratio (same
  //    trick as the trigram LM): num/den are BIGINT products, so the
  //    selection bit is integer-exact and the reported score is one
  //    correctly-rounded divide — no float sums anywhere. Scale shape:
  //    the bucket tables are <= 256 rows (broadcast), the per-doc sums
  //    are partial-agg'd, one shuffle on doc_id; the explode is the
  //    same 1->N tokenization every text op pays.
  q("q_dsir_weights",
    s"""WITH t AS (SELECT doc_id, lang, unnest($SqlTokens) AS tok FROM documents),
       |h AS (SELECT doc_id, lang, ${sqlMd5Long("tok")} % 256 AS b FROM t),
       |ct AS (SELECT b, count(*) AS c_t FROM h WHERE lang = 'en' GROUP BY b),
       |cr AS (SELECT b, count(*) AS c_r FROM h GROUP BY b),
       |tot AS (
       |  SELECT (SELECT CAST(sum(c_t) AS BIGINT) FROM ct) AS t_tot,
       |         (SELECT CAST(sum(c_r) AS BIGINT) FROM cr) AS r_tot),
       |m AS (
       |  SELECT h.doc_id, count(*) AS n_toks,
       |    CAST(sum(coalesce(ct.c_t, 0)) AS BIGINT) AS t_mass,
       |    CAST(sum(cr.c_r) AS BIGINT) AS r_mass
       |  FROM h LEFT JOIN ct USING (b) JOIN cr USING (b)
       |  GROUP BY h.doc_id)
       |SELECT doc_id, n_toks, t_mass, r_mass,
       |  round(CAST((t_mass + 1) * (r_tot + 256) AS DOUBLE) /
       |        CAST((r_mass + 1) * (t_tot + 256) AS DOUBLE), 6) AS score,
       |  CAST(CASE WHEN (t_mass + 1) * (r_tot + 256) > (r_mass + 1) * (t_tot + 256)
       |            THEN 1 ELSE 0 END AS BIGINT) AS selected
       |FROM m CROSS JOIN tot""") { (s, dir) =>
    val h = spread(load(s, dir, "documents"))
      .select(col("doc_id"), col("lang"), explode(T.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("lang"), (T.md5Long(col("tok")) % 256).as("b"))
    val ct = h.filter(col("lang") === "en").groupBy("b").agg(count(lit(1)).as("c_t"))
    val cr = h.groupBy("b").agg(count(lit(1)).as("c_r"))
    val tot = ct.agg(sum("c_t").as("t_tot")).crossJoin(cr.agg(sum("c_r").as("r_tot")))
    val num = (col("t_mass") + 1) * (col("r_tot") + 256)
    val den = (col("r_mass") + 1) * (col("t_tot") + 256)
    h.join(broadcast(ct), Seq("b"), "left")
      .join(broadcast(cr), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(coalesce(col("c_t"), lit(0L))).as("t_mass"),
        sum(col("c_r")).as("r_mass"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_toks"), col("t_mass"), col("r_mass"),
        round(num.cast("double") / den.cast("double"), 6).as("score"),
        when(num > den, 1L).otherwise(0L).as("selected"))
  }

  // -- DoReMi-flavored domain reweighting (Xie et al., arXiv:2305.10429):
  //    domains whose text the reference model finds HARDER get upweighted.
  //    The proxy/reference loss gap is re-expressed with the count-LM
  //    loss proxy (q_lm_score's integer trigram mass: rarer text = lower
  //    mass = higher loss), so a domain's excess loss over the corpus
  //    average becomes the exact BIGINT sign/magnitude
  //      excess_num = M_tot·N_s − M_s·N_tot
  //    (positive ⟺ domain s's average trigram mass is below the corpus
  //    average ⟺ upweight) — no float sums anywhere; the reported excess
  //    is one correctly-rounded divide. Shape: the trigram join is the
  //    q_lm_score pipeline; per-source sums partial-agg to |sources|
  //    rows; totals ride one broadcast. 100 TB note: the BIGINT products
  //    bound the corpus at ~10^9 trigram mass × 10^9 occurrences —
  //    beyond that the same formula routes through DECIMAL(38,0).
  q("q_domain_excess",
    """WITH t AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |p AS (SELECT doc_id, source, toks, unnest(range(len(toks) - 2)) AS pos
      |      FROM t WHERE len(toks) >= 3),
      |g AS (SELECT doc_id, source,
      |        toks[pos + 1] || ' ' || toks[pos + 2] || ' ' || toks[pos + 3] AS trigram
      |      FROM p),
      |c AS (SELECT trigram, count(*) AS cnt FROM g GROUP BY trigram),
      |j AS (SELECT g.doc_id, g.source, c.cnt FROM g JOIN c USING (trigram)),
      |s AS (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |        CAST(count(*) AS BIGINT) AS n_tri, CAST(sum(cnt) AS BIGINT) AS mass
      |      FROM j GROUP BY source),
      |tot AS (SELECT CAST(sum(n_tri) AS BIGINT) AS n_tot,
      |               CAST(sum(mass) AS BIGINT) AS m_tot FROM s)
      |SELECT source, n_docs, n_tri, mass,
      |  m_tot * n_tri - mass * n_tot AS excess_num,
      |  round(CAST(m_tot * n_tri - mass * n_tot AS DOUBLE) /
      |        CAST(n_tot * n_tri AS DOUBLE), 6) AS excess,
      |  CAST(CASE WHEN m_tot * n_tri - mass * n_tot > 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS upweight
      |FROM s CROSS JOIN tot""") { (s, dir) =>
    val g = spread(load(s, dir, "documents"))
      .select(col("doc_id"), col("source"), T.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
        .as("trigram"))
    val counts = g.groupBy("trigram").agg(count(lit(1)).as("cnt"))
    val perSource = g.join(counts, "trigram")
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tri"), sum("cnt").as("mass"))
    val tot = perSource.agg(sum("n_tri").as("n_tot"), sum("mass").as("m_tot"))
    val num = col("m_tot") * col("n_tri") - col("mass") * col("n_tot")
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tri"), col("mass"),
        num.as("excess_num"),
        round(num.cast("double") /
          (col("n_tot") * col("n_tri")).cast("double"), 6).as("excess"),
        when(num > 0, 1L).otherwise(0L).as("upweight"))
  }

  // -- WordPiece encoder (Wu et al., arXiv:1609.08144 §4.1; BERT,
  //    arXiv:1810.04805): greedy longest-match-first segmentation with
  //    "##" continuations and whole-word [UNK] on any miss, against a
  //    frequency-ranked substring vocabulary (top-200 length-2..6 pieces
  //    by corpus frequency + the full character alphabet — a
  //    deterministic, oracle-mirrorable stand-in for likelihood-based
  //    WordPiece training; the ENCODER loop is the faithful part).
  //    Complements q_bpe_encode: BPE segments by replaying learned
  //    merges, WordPiece by maximal munch against a vocab — the two
  //    subword families a tokenizer build chooses between. Scale shape:
  //    the corpus collapses onto DISTINCT words first (the BPE-family
  //    invariant), vocab induction is one partial-agg'd shuffle + a
  //    TakeOrderedAndProject, the vocab rides to executors as a
  //    task-binary reference object (bounded: 200 pieces + alphabet),
  //    and the matching loop is a codegen'd native expression
  //    (plans.WordPieceEncode, O(len × maxPieceLen) set probes per
  //    word) — encoding a 100 TB corpus is then a linear map over
  //    distinct words + a broadcast word->segmentation join. The oracle
  //    mirrors the greedy loop as a recursive CTE (one row per consumed
  //    piece) over the identical vocab.
  q("q_wordpiece_encode",
    s"""WITH RECURSIVE
       |t AS (SELECT unnest($SqlTokens) AS w FROM documents),
       |wf AS (SELECT w, count(*) AS f FROM t GROUP BY w),
       |sub AS (
       |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece, f
       |  FROM wf, unnest(range(1, len(w)+1)) u(i), unnest([2,3,4,5,6]) v(l)
       |  WHERE i + l - 1 <= len(w)),
       |vf AS (SELECT piece, CAST(sum(f) AS BIGINT) AS pf FROM sub GROUP BY piece),
       |top AS (SELECT piece FROM vf ORDER BY pf DESC, piece LIMIT 200),
       |chars AS (SELECT DISTINCT substr(w, CAST(i AS INT), 1) AS piece
       |          FROM wf, unnest(range(1, len(w)+1)) u(i)),
       |voc AS (SELECT list(piece) AS v FROM (SELECT piece FROM top UNION SELECT piece FROM chars)),
       |seg AS (
       |  SELECT w, f, 1 AS pos, CAST('' AS VARCHAR) AS toks FROM wf
       |  UNION ALL
       |  SELECT w, f,
       |    CAST(CASE WHEN best = 0 THEN len(w) + 1 ELSE pos + best END AS INT),
       |    CASE WHEN best = 0 THEN '[UNK]'
       |         WHEN toks = '' THEN substr(w, pos, CAST(best AS INT))
       |         ELSE toks || ' ##' || substr(w, pos, CAST(best AS INT)) END
       |  FROM (
       |    SELECT s.w, s.f, s.pos, s.toks,
       |      coalesce(list_max(list_filter([1,2,3,4,5,6],
       |        l -> s.pos + l - 1 <= len(s.w) AND list_contains(voc.v, substr(s.w, s.pos, CAST(l AS INT))))), 0) AS best
       |    FROM seg s CROSS JOIN voc
       |    WHERE s.pos <= len(s.w)) x)
       |SELECT w, toks AS segmentation,
       |  CAST(len(string_split(toks, ' ')) AS BIGINT) AS n_pieces,
       |  CAST(f AS BIGINT) AS f,
       |  CAST(f * len(string_split(toks, ' ')) AS BIGINT) AS corpus_pieces
       |FROM seg WHERE pos > len(w)""") { (s, dir) =>
    val wf = spread(load(s, dir, "documents"))
      .select(explode(T.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .localCheckpoint() // vocab induction + encode both read it; tiny
    val lens = array((2 to 6).map(lit): _*)
    val pieceArr = flatten(transform(sequence(lit(1), length(col("w"))), i =>
      filter(transform(lens, l =>
        when(i + l - 1 <= length(col("w")), col("w").substr(i, l))),
        p => p.isNotNull)))
    val top = wf.select(explode(pieceArr).as("piece"), col("f"))
      .groupBy("piece").agg(sum("f").as("pf"))
      .orderBy(col("pf").desc, col("piece")).limit(200)
      .select("piece")
    val chars = wf.select(explode(transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))).as("piece")).distinct()
    // bounded by contract: <= 200 pieces + the corpus character alphabet
    val vocab = top.union(chars).distinct().collect().map(_.getString(0)).toSeq
    wf.select(col("w"),
        graft.plans.WordPiece.encode(col("w"), vocab).as("segmentation"),
        col("f"))
      .select(col("w"), col("segmentation"),
        size(split(col("segmentation"), " ")).cast("long").as("n_pieces"),
        col("f"),
        (col("f") * size(split(col("segmentation"), " "))).as("corpus_pieces"))
  }

  // -- WordPiece in the BERT vocab convention (bert-base `vocab.txt`;
  //    arXiv:1810.04805): continuation pieces are DISTINCT vocab entries
  //    spelled with the "##" prefix, matched only word-interior — a vocab
  //    can admit `ing` word-initially while rejecting `##ing` mid-word,
  //    which changes segmentations vs q_wordpiece_encode's
  //    position-independent mode (kept as the default). Vocab induction
  //    is position-keyed to match: word-initial substrings count under
  //    their raw spelling, interior substrings under their "##" key;
  //    the alphabet enters in BOTH forms for coverage. Same scale shape
  //    as q_wordpiece_encode (distinct-word collapse, bounded vocab as a
  //    task-binary reference, codegen'd matching loop).
  q("q_wordpiece_bert",
    s"""WITH RECURSIVE
       |t AS (SELECT unnest($SqlTokens) AS w FROM documents),
       |wf AS (SELECT w, count(*) AS f FROM t GROUP BY w),
       |sub AS (
       |  SELECT CASE WHEN i = 1 THEN substr(w, CAST(i AS INT), CAST(l AS INT))
       |         ELSE '##' || substr(w, CAST(i AS INT), CAST(l AS INT)) END AS piece, f
       |  FROM wf, unnest(range(1, len(w)+1)) u(i), unnest([2,3,4,5,6]) v(l)
       |  WHERE i + l - 1 <= len(w)),
       |vf AS (SELECT piece, CAST(sum(f) AS BIGINT) AS pf FROM sub GROUP BY piece),
       |top AS (SELECT piece FROM vf ORDER BY pf DESC, piece LIMIT 200),
       |chars AS (SELECT DISTINCT substr(w, CAST(i AS INT), 1) AS piece
       |          FROM wf, unnest(range(1, len(w)+1)) u(i)),
       |voc AS (SELECT list(piece) AS v FROM (
       |  SELECT piece FROM top UNION SELECT piece FROM chars
       |  UNION SELECT '##' || piece FROM chars)),
       |seg AS (
       |  SELECT w, f, 1 AS pos, CAST('' AS VARCHAR) AS toks FROM wf
       |  UNION ALL
       |  SELECT w, f,
       |    CAST(CASE WHEN best = 0 THEN len(w) + 1 ELSE pos + best END AS INT),
       |    CASE WHEN best = 0 THEN '[UNK]'
       |         WHEN toks = '' THEN substr(w, pos, CAST(best AS INT))
       |         ELSE toks || ' ##' || substr(w, pos, CAST(best AS INT)) END
       |  FROM (
       |    SELECT s.w, s.f, s.pos, s.toks,
       |      coalesce(list_max(list_filter([1,2,3,4,5,6],
       |        l -> s.pos + l - 1 <= len(s.w) AND list_contains(voc.v,
       |          CASE WHEN s.pos = 1 THEN substr(s.w, s.pos, CAST(l AS INT))
       |               ELSE '##' || substr(s.w, s.pos, CAST(l AS INT)) END))), 0) AS best
       |    FROM seg s CROSS JOIN voc
       |    WHERE s.pos <= len(s.w)) x)
       |SELECT w, toks AS segmentation,
       |  CAST(len(string_split(toks, ' ')) AS BIGINT) AS n_pieces,
       |  CAST(f AS BIGINT) AS f
       |FROM seg WHERE pos > len(w)""") { (s, dir) =>
    val wf = spread(load(s, dir, "documents"))
      .select(explode(T.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .localCheckpoint() // vocab induction + encode both read it; tiny
    val lens = array((2 to 6).map(lit): _*)
    // position-keyed candidates: interior substrings carry their ## key
    val pieceArr = flatten(transform(sequence(lit(1), length(col("w"))), i =>
      filter(transform(lens, l =>
        when(i + l - 1 <= length(col("w")),
          when(i === 1, col("w").substr(i, l))
            .otherwise(concat(lit("##"), col("w").substr(i, l))))),
        p => p.isNotNull)))
    val top = wf.select(explode(pieceArr).as("piece"), col("f"))
      .groupBy("piece").agg(sum("f").as("pf"))
      .orderBy(col("pf").desc, col("piece")).limit(200)
      .select("piece")
    val chars = wf.select(explode(transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))).as("piece")).distinct()
    // bounded by contract: <= 200 pieces + the alphabet in both forms
    val vocab = top.union(chars)
      .union(chars.select(concat(lit("##"), col("piece")).as("piece")))
      .distinct().collect().map(_.getString(0)).toSeq
    wf.select(col("w"),
        graft.plans.WordPiece.encode(col("w"), vocab, bertContinuations = true)
          .as("segmentation"),
        col("f"))
      .select(col("w"), col("segmentation"),
        size(split(col("segmentation"), " ")).cast("long").as("n_pieces"),
        col("f"))
  }

  // -- tokenizer fertility by domain: pieces-per-token under the
  //    q_wordpiece_encode tokenizer, reported per (source, lang) — the
  //    readout a tokenizer build ships (high-fertility domains tokenize
  //    badly and blow the training token budget; the multilingual
  //    motivation in arXiv:2103.06874 §1). This query IS the documented
  //    scale path of the encoder made concrete: the corpus collapses to
  //    DISTINCT words, each word encodes ONCE (codegen'd native
  //    expression), and the full corpus then re-tokenizes via a
  //    BROADCAST word->n_pieces join — at 100 TB the distinct-word
  //    table is tens of MB against a corpus-sized token stream, so the
  //    only shuffle is the final tiny (source, lang) aggregation.
  q("q_wordpiece_fertility",
    s"""WITH RECURSIVE
       |d AS (SELECT doc_id, source, lang, unnest($SqlTokens) AS w FROM documents),
       |wf AS (SELECT w, count(*) AS f FROM d GROUP BY w),
       |sub AS (
       |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece, f
       |  FROM wf, unnest(range(1, len(w)+1)) u(i), unnest([2,3,4,5,6]) v(l)
       |  WHERE i + l - 1 <= len(w)),
       |vf AS (SELECT piece, CAST(sum(f) AS BIGINT) AS pf FROM sub GROUP BY piece),
       |top AS (SELECT piece FROM vf ORDER BY pf DESC, piece LIMIT 200),
       |chars AS (SELECT DISTINCT substr(w, CAST(i AS INT), 1) AS piece
       |          FROM wf, unnest(range(1, len(w)+1)) u(i)),
       |voc AS (SELECT list(piece) AS v FROM (SELECT piece FROM top UNION SELECT piece FROM chars)),
       |seg AS (
       |  SELECT w, 1 AS pos, CAST('' AS VARCHAR) AS toks FROM wf
       |  UNION ALL
       |  SELECT w,
       |    CAST(CASE WHEN best = 0 THEN len(w) + 1 ELSE pos + best END AS INT),
       |    CASE WHEN best = 0 THEN '[UNK]'
       |         WHEN toks = '' THEN substr(w, pos, CAST(best AS INT))
       |         ELSE toks || ' ##' || substr(w, pos, CAST(best AS INT)) END
       |  FROM (
       |    SELECT s.w, s.pos, s.toks,
       |      coalesce(list_max(list_filter([1,2,3,4,5,6],
       |        l -> s.pos + l - 1 <= len(s.w) AND list_contains(voc.v, substr(s.w, s.pos, CAST(l AS INT))))), 0) AS best
       |    FROM seg s CROSS JOIN voc
       |    WHERE s.pos <= len(s.w)) x),
       |np AS (SELECT w, len(string_split(toks, ' ')) AS n_pieces
       |       FROM seg WHERE pos > len(w))
       |SELECT d.source, d.lang,
       |  CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(np.n_pieces) AS BIGINT) AS n_pieces,
       |  round(CAST(sum(np.n_pieces) AS DOUBLE) / count(*), 6) AS fertility
       |FROM d JOIN np USING (w)
       |GROUP BY d.source, d.lang""") { (s, dir) =>
    val toks = spread(load(s, dir, "documents"))
      .select(col("doc_id"), col("source"), col("lang"),
        explode(T.tokens(col("text"))).as("w"))
    val wf = toks.groupBy("w").agg(count(lit(1)).as("f")).localCheckpoint()
    val lens = array((2 to 6).map(lit): _*)
    val pieceArr = flatten(transform(sequence(lit(1), length(col("w"))), i =>
      filter(transform(lens, l =>
        when(i + l - 1 <= length(col("w")), col("w").substr(i, l))),
        p => p.isNotNull)))
    val top = wf.select(explode(pieceArr).as("piece"), col("f"))
      .groupBy("piece").agg(sum("f").as("pf"))
      .orderBy(col("pf").desc, col("piece")).limit(200)
      .select("piece")
    val chars = wf.select(explode(transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))).as("piece")).distinct()
    val vocab = top.union(chars).distinct().collect().map(_.getString(0)).toSeq
    val np = wf.select(col("w"),
      size(split(graft.plans.WordPiece.encode(col("w"), vocab), " "))
        .as("n_pieces"))
    toks.join(broadcast(np), "w")
      .groupBy("source", "lang")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(col("n_pieces")).as("n_pieces"),
        round(sum(col("n_pieces")).cast("double") / count(lit(1)), 6)
          .as("fertility"))
  }

  // -- tokenizer generalization report: induce the WordPiece vocab on
  //    the TRAIN split only, encode the VAL split, report per-language
  //    OOV rate and fertility — the honest version of
  //    q_wordpiece_fertility (training the vocab on the text it will
  //    tokenize understates both numbers; a held-out report is what a
  //    tokenizer build actually ships). Composes q_train_val_split's
  //    hash-split (same salt, so the splits agree across queries) with
  //    the q_wordpiece_encode machinery; VAL words with characters never
  //    seen in train hit the [UNK] path, which this report is the first
  //    query to exercise end-to-end. Scale shape unchanged: distinct
  //    val words encode once, the val token stream re-tokenizes via a
  //    broadcast join, one tiny lang-keyed agg.
  q("q_wordpiece_oov",
    s"""WITH RECURSIVE
       |sp AS (SELECT doc_id, lang, text,
       |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split-v1'), 1, 15) AS BIGINT)
       |    % 100 AS bucket
       |  FROM documents),
       |trn AS (SELECT unnest($SqlTokens) AS w FROM sp WHERE bucket < 80),
       |twf AS (SELECT w, count(*) AS f FROM trn GROUP BY w),
       |sub AS (
       |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece, f
       |  FROM twf, unnest(range(1, len(w)+1)) u(i), unnest([2,3,4,5,6]) v(l)
       |  WHERE i + l - 1 <= len(w)),
       |vf AS (SELECT piece, CAST(sum(f) AS BIGINT) AS pf FROM sub GROUP BY piece),
       |top AS (SELECT piece FROM vf ORDER BY pf DESC, piece LIMIT 200),
       |chars AS (SELECT DISTINCT substr(w, CAST(i AS INT), 1) AS piece
       |          FROM twf, unnest(range(1, len(w)+1)) u(i)),
       |voc AS (SELECT list(piece) AS v FROM (SELECT piece FROM top UNION SELECT piece FROM chars)),
       |vd AS (SELECT doc_id, lang, unnest($SqlTokens) AS w
       |       FROM sp WHERE bucket >= 80 AND bucket < 90),
       |vwf AS (SELECT w FROM vd GROUP BY w),
       |seg AS (
       |  SELECT w, 1 AS pos, CAST('' AS VARCHAR) AS toks FROM vwf
       |  UNION ALL
       |  SELECT w,
       |    CAST(CASE WHEN best = 0 THEN len(w) + 1 ELSE pos + best END AS INT),
       |    CASE WHEN best = 0 THEN '[UNK]'
       |         WHEN toks = '' THEN substr(w, pos, CAST(best AS INT))
       |         ELSE toks || ' ##' || substr(w, pos, CAST(best AS INT)) END
       |  FROM (
       |    SELECT s.w, s.pos, s.toks,
       |      coalesce(list_max(list_filter([1,2,3,4,5,6],
       |        l -> s.pos + l - 1 <= len(s.w) AND list_contains(voc.v, substr(s.w, s.pos, CAST(l AS INT))))), 0) AS best
       |    FROM seg s CROSS JOIN voc
       |    WHERE s.pos <= len(s.w)) x),
       |np AS (SELECT w, toks,
       |         CASE WHEN toks = '[UNK]' THEN 1 ELSE 0 END AS is_unk,
       |         len(string_split(toks, ' ')) AS n_pieces
       |       FROM seg WHERE pos > len(w))
       |SELECT vd.lang,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(np.is_unk) AS BIGINT) AS n_unk,
       |  round(CAST(sum(np.is_unk) AS DOUBLE) / count(*), 6) AS unk_rate,
       |  CAST(sum(np.n_pieces) AS BIGINT) AS n_pieces,
       |  round(CAST(sum(np.n_pieces) AS DOUBLE) / count(*), 6) AS fertility
       |FROM vd JOIN np USING (w)
       |GROUP BY vd.lang""") { (s, dir) =>
    import graft.functions.Sampling
    val docs = spread(load(s, dir, "documents"))
      .withColumn("bucket", Sampling.bucket100(col("doc_id"), "split-v1"))
    val trainWf = docs.filter(col("bucket") < 80)
      .select(explode(T.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f")).localCheckpoint()
    val lens = array((2 to 6).map(lit): _*)
    val pieceArr = flatten(transform(sequence(lit(1), length(col("w"))), i =>
      filter(transform(lens, l =>
        when(i + l - 1 <= length(col("w")), col("w").substr(i, l))),
        p => p.isNotNull)))
    val top = trainWf.select(explode(pieceArr).as("piece"), col("f"))
      .groupBy("piece").agg(sum("f").as("pf"))
      .orderBy(col("pf").desc, col("piece")).limit(200)
      .select("piece")
    val chars = trainWf.select(explode(transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))).as("piece")).distinct()
    val vocab = top.union(chars).distinct().collect().map(_.getString(0)).toSeq
    val valToks = docs.filter(col("bucket") >= 80 && col("bucket") < 90)
      .select(col("lang"), explode(T.tokens(col("text"))).as("w"))
    val np = valToks.select("w").distinct()
      .select(col("w"),
        graft.plans.WordPiece.encode(col("w"), vocab).as("toks"))
      .select(col("w"),
        when(col("toks") === "[UNK]", 1L).otherwise(0L).as("is_unk"),
        size(split(col("toks"), " ")).cast("long").as("n_pieces"))
    valToks.join(broadcast(np), "w")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("is_unk")).as("n_unk"),
        round(sum(col("is_unk")).cast("double") / count(lit(1)), 6).as("unk_rate"),
        sum(col("n_pieces")).as("n_pieces"),
        round(sum(col("n_pieces")).cast("double") / count(lit(1)), 6).as("fertility"))
  }

  // -- Unigram-LM tokenizer (Kudo, arXiv:1804.10959), completing the
  //    subword triad: BPE replays learned merges, WordPiece maximal-
  //    munches a vocab, Unigram Viterbi-segments under per-piece
  //    log-probs. Training is hard (Viterbi) EM over the distinct-word
  //    table — each round ONE distributed segment+count pass with the
  //    bounded vocab collected to the driver (the BPE-trainer contract).
  //    FULL ORACLE since r11: the catalog entry runs UnigramIntLm — the
  //    same EM loop on FIXED-POINT log2 scores (exponent = bit length,
  //    mantissa from a data-independent 1024-entry LUT interpolated into
  //    both engines), so seeding, every Viterbi pass (strict-improvement
  //    / longest-first tie-break mirrored by a packed (score*8+len)
  //    argmax), the piece counts and the alphabet-floored M-steps are
  //    bit-exact in DuckDB. The 3 unrolled rounds generate ~70 CTEs
  //    (per-round: score table, 8 DP layers, 8 backpointer-walk layers,
  //    count + floor) — honest recomputation from the parquet, nothing
  //    precomputed. The float trainer (natural-log) remains the
  //    production twin, spec-pinned by UnigramLmSpec.

  /** `ilog2` as SQL over the `lut` CTE (exact UnigramIntLm.ilog2 mirror). */
  private def sqlIlog2(c: String): String = {
    val b = s"(length(bin($c)) - 1)"
    s"($b * 65536 + (SELECT lv FROM lut WHERE i = (((($c) * 1024) >> $b) - 1024)))"
  }

  private def unigramScoreCte(r: Int, vtab: String): String =
    s"""t$r AS (SELECT CAST(sum(c) AS BIGINT) AS tc FROM $vtab),
       |s$r AS MATERIALIZED (SELECT piece,
       |  CAST(${sqlIlog2("c")} - (SELECT ${sqlIlog2("tc")} FROM t$r) AS BIGINT) AS s
       |  FROM $vtab)""".stripMargin

  /** One Viterbi pass under `s$r`: 8 DP layers (packed (score, len)
    * argmax per end position — longest-last-piece-on-tie, the
    * UnigramKernel contract), backpointer walk, per-piece counts. */
  private def unigramDpCtes(r: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += s"d${r}_0 AS (SELECT w, CAST(0 AS BIGINT) AS score FROM ws)"
    for (j <- 1 to 8) {
      val cands = (1 to math.min(6, j)).map { l =>
        val i = j - l
        s"SELECT d.w, (d.score + s.s + (1::BIGINT << 40)) * 8 + $l AS pk " +
          s"FROM d${r}_$i d JOIN ws USING (w) " +
          s"JOIN s$r s ON s.piece = substr(d.w, ${i + 1}, $l) WHERE ws.len >= $j"
      }
      parts += s"d${r}_${j}raw AS (SELECT w, max(pk) AS pk FROM (${cands.mkString(" UNION ALL ")}) GROUP BY w)"
      parts += s"d${r}_$j AS MATERIALIZED (SELECT w, pk // 8 - (1::BIGINT << 40) AS score, CAST(pk % 8 AS BIGINT) AS bp FROM d${r}_${j}raw)"
    }
    parts += s"dall$r AS MATERIALIZED (${(1 to 8).map(j => s"SELECT w, $j AS pos, bp FROM d${r}_$j").mkString(" UNION ALL ")})"
    parts += s"walk${r}_0 AS (SELECT w, len AS pos FROM ws)"
    for (k <- 1 to 8)
      parts += s"walk${r}_$k AS (SELECT wk.w, wk.pos - da.bp AS pos, " +
        s"substr(wk.w, CAST(wk.pos - da.bp + 1 AS INT), CAST(da.bp AS INT)) AS piece, wk.pos - da.bp + 1 AS start " +
        s"FROM walk${r}_${k - 1} wk JOIN dall$r da ON da.w = wk.w AND da.pos = wk.pos WHERE wk.pos > 0)"
    parts += s"pieces$r AS (${(1 to 8).map(k => s"SELECT w, piece, start FROM walk${r}_$k").mkString(" UNION ALL ")})"
    parts += s"cnt$r AS (SELECT piece, CAST(sum(f) AS BIGINT) AS c FROM pieces$r JOIN ws USING (w) GROUP BY piece)"
    parts.result().mkString(",\n")
  }

  /** M-step: counted pieces kept, alphabet floored at one use. */
  private def unigramMstepCte(r: Int): String =
    s"""v${r + 1} AS MATERIALIZED (SELECT piece, CAST(max(c) AS BIGINT) AS c FROM (
       |  SELECT piece, c FROM cnt$r UNION ALL SELECT piece, 1 AS c FROM alpha)
       |  GROUP BY piece)""".stripMargin

  // ------------------------------------------------ soft-EM mirror (r12)
  // The forward-backward E-step of UnigramIntLm.trainSoft, CTE-for-CTE:
  // logadd rides lut_la (delta quantized to the 2^-6 grid — see the
  // Scaladoc's table-domain analysis), posterior occurrence weights ride
  // lut_e2 in 2^-20 units, expected counts are BIGINT sums. Quantized
  // logadd is commutative but NOT associative, so every chain nests in
  // the kernel's exact longest-first fold order via lateral column
  // aliases (m5..m1).

  /** NULL-propagating fixed-point logadd over two column aliases. */
  private def sqlLogAdd(a: String, b: String): String =
    s"CASE WHEN $a IS NULL THEN $b WHEN $b IS NULL THEN $a ELSE " +
      s"greatest($a, $b) + (SELECT lv FROM lut_la WHERE i = " +
      s"least((greatest($a, $b) - least($a, $b)) >> 10, 1151)) END"

  /** Longest-first logadd fold over candidate columns c{lmax}..c1,
    * realized as NESTED subselects (DuckDB rejects lateral-alias
    * references to expressions containing subqueries, and the lut_la
    * lookup is one): each level consumes one candidate, carries the
    * rest plus `passthrough` columns, final alias `a`. */
  private def sqlLaNest(lmax: Int, inner: String,
      passthrough: Seq[String] = Seq("w")): String = {
    val pt = passthrough.mkString(", ")
    if (lmax == 1) s"SELECT $pt, c1 AS a FROM ($inner)"
    else {
      var cur = inner
      var prev = s"c$lmax"
      for (k <- lmax - 1 to 1 by -1) {
        val alias = if (k == 1) "a" else s"m$k"
        val keep = (1 until k).map(i => s"c$i")
        val cols = (passthrough ++ keep).mkString(", ")
        cur = s"SELECT $cols, ${sqlLogAdd(prev, s"c$k")} AS $alias FROM ($cur)"
        prev = s"m$k"
      }
      cur
    }
  }

  /** Forward lattice: alpha(j) per end position, 8 unrolled layers. */
  private def unigramFwdCtes(r: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += s"fw${r}_0 AS (SELECT w, CAST(0 AS BIGINT) AS a FROM ws)"
    for (j <- 1 to 8) {
      val lmax = math.min(6, j)
      val cands = (1 to lmax).map { l =>
        s"CASE WHEN p$l.a IS NULL OR q$l.s IS NULL THEN NULL ELSE p$l.a + q$l.s END AS c$l"
      }
      val joins = (1 to lmax).map { l =>
        val i = j - l
        s"LEFT JOIN fw${r}_$i p$l ON p$l.w = ws.w " +
          s"LEFT JOIN s$r q$l ON q$l.piece = substr(ws.w, ${i + 1}, $l)"
      }
      val inner = s"""SELECT ws.w, ${cands.mkString(",\n      ")}
        FROM ws ${joins.mkString("\n        ")}
        WHERE ws.len >= $j"""
      parts += s"fw${r}_$j AS MATERIALIZED (${sqlLaNest(lmax, inner)})"
    }
    parts.result().mkString(",\n")
  }

  /** Backward lattice: beta(i), layers i = 7..0 (base beta(len) = 0). */
  private def unigramBwdCtes(r: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += s"bw${r}_8 AS (SELECT w, CAST(0 AS BIGINT) AS a FROM ws WHERE len = 8)"
    for (i <- 7 to 0 by -1) {
      val lmax = math.min(6, 8 - i)
      val cands = (1 to lmax).map { l =>
        s"CASE WHEN p$l.a IS NULL OR q$l.s IS NULL THEN NULL ELSE q$l.s + p$l.a END AS c$l"
      }
      val joins = (1 to lmax).map { l =>
        s"LEFT JOIN bw${r}_${i + l} p$l ON p$l.w = ws.w " +
          s"LEFT JOIN s$r q$l ON q$l.piece = substr(ws.w, ${i + 1}, $l)"
      }
      val inner = s"""SELECT ws.w, ws.len, ${cands.mkString(",\n      ")}
        FROM ws ${joins.mkString("\n        ")}
        WHERE ws.len >= $i"""
      parts += s"bw${r}_$i AS MATERIALIZED (SELECT w, " +
        s"CASE WHEN len = $i THEN CAST(0 AS BIGINT) ELSE a END AS a FROM (" +
        sqlLaNest(lmax, inner, Seq("w", "len")) + "))"
    }
    parts.result().mkString(",\n")
  }

  /** logZ per word + posterior expected counts in 2^-20 units: one
    * branch per (start, len) occurrence slot, deficit clamped at 0
    * (LUT rounding can nudge a path past the quantized total). */
  private def unigramSoftCntCtes(r: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += s"z$r AS MATERIALIZED (${(1 to 8).map(j =>
      s"SELECT f.w, f.a FROM fw${r}_$j f JOIN ws ON ws.w = f.w AND ws.len = $j")
      .mkString(" UNION ALL ")})"
    val branches = for (l <- 1 to 6; i <- 0 to 8 - l) yield
      s"""SELECT ws.f, q.piece, greatest(0, z.a - (fi.a + q.s + bb.a)) AS d
         FROM ws JOIN fw${r}_$i fi ON fi.w = ws.w
         JOIN bw${r}_${i + l} bb ON bb.w = ws.w
         JOIN s$r q ON q.piece = substr(ws.w, ${i + 1}, $l)
         JOIN z$r z ON z.w = ws.w
         WHERE fi.a IS NOT NULL AND bb.a IS NOT NULL AND z.a IS NOT NULL"""
    parts += s"occ$r AS (${branches.mkString(" UNION ALL ")})"
    parts += s"cnt$r AS (SELECT piece, CAST(sum(f * (CASE WHEN (d >> 16) > 20 " +
      s"THEN 0 ELSE (SELECT ev FROM lut_e2 WHERE i = (d % 65536) >> 6) >> (d >> 16) END)) " +
      s"AS BIGINT) AS c FROM occ$r GROUP BY piece)"
    parts.result().mkString(",\n")
  }

  /** Soft M-step: keep expected count >= one use (2^20), alphabet
    * floored at one use — UnigramLm's soft semantics, integer grid. */
  private def unigramSoftMstepCte(r: Int): String =
    s"""v${r + 1} AS MATERIALIZED (SELECT piece, CAST(max(c) AS BIGINT) AS c FROM (
       |  SELECT piece, c FROM cnt$r UNION ALL SELECT piece, CAST(1048576 AS BIGINT) AS c FROM alpha)
       |  GROUP BY piece HAVING max(c) >= 1048576)""".stripMargin

  /** Soft-EM oracle chain: seed + 3 forward-backward rounds to s4. */
  private lazy val UnigramSoftOracleBase: String = {
    val la = graft.functions.UnigramIntLm.LogAddLut.mkString(",")
    val e2 = graft.functions.UnigramIntLm.Exp2Lut.mkString(",")
    val rounds = (1 to 3).map { r =>
      s"""${unigramScoreCte(r, s"v$r")},
         |${unigramFwdCtes(r)},
         |${unigramBwdCtes(r)},
         |${unigramSoftCntCtes(r)},
         |${unigramSoftMstepCte(r)}""".stripMargin
    }.mkString(",\n")
    s"""lut_la AS MATERIALIZED (SELECT CAST(unnest(range(1152)) AS BIGINT) AS i,
       |  unnest([$la]) AS lv),
       |lut_e2 AS MATERIALIZED (SELECT CAST(unnest(range(1024)) AS BIGINT) AS i,
       |  unnest([$e2]) AS ev),
       |$UnigramSeedCtes,
       |$rounds,
       |${unigramScoreCte(4, "v4")}""".stripMargin
  }

  /** LUT + word table + seed + 3 EM rounds, ending at the trained model
    * `s4(piece, s)`. Shared by q_unigram_train and q_unigram_encode.
    * The DP/walk unrolls cover words up to 8 code points — the verified
    * maximum over the driver's correctness corpora (sf0.01 AND sf0.1
    * both max at 8; the Spark side's kernel handles any length, so only
    * the ORACLE depends on this bound). */
  /** Shared seeding: ilog2 LUT, distinct-word table, top-400 + alphabet
    * candidate counts (v1) — the common prefix of the hard and soft
    * oracle chains. */
  private lazy val UnigramSeedCtes: String = {
    val lut = graft.functions.UnigramIntLm.Log2Lut.mkString(",")
    s"""lut AS MATERIALIZED (SELECT CAST(unnest(range(1024)) AS BIGINT) AS i,
       |  unnest([$lut]) AS lv),
       |ws0 AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
       |  SELECT unnest(string_split(lower(trim(text)), ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |ws AS MATERIALIZED (SELECT w, f, CAST(len(w) AS INT) AS len FROM ws0),
       |sub AS (SELECT piece, CAST(sum(f) AS BIGINT) AS pf FROM (
       |  SELECT unnest(flatten(list_transform(range(1, len(w)+1), i ->
       |    list_filter(list_transform([2,3,4,5,6], l ->
       |      CASE WHEN i + l - 1 <= len(w) THEN substr(w, CAST(i AS INT), l) END),
       |      p -> p IS NOT NULL)))) AS piece, f
       |  FROM ws) GROUP BY piece),
       |top AS (SELECT piece, pf FROM sub ORDER BY pf DESC, piece LIMIT 400),
       |chars AS MATERIALIZED (SELECT piece, CAST(sum(f) AS BIGINT) AS pf FROM (
       |  SELECT unnest(list_transform(range(1, len(w)+1),
       |    i -> substr(w, CAST(i AS INT), 1))) AS piece, f
       |  FROM ws) GROUP BY piece),
       |alpha AS (SELECT DISTINCT piece FROM chars),
       |v1 AS MATERIALIZED (SELECT piece, CAST(max(pf) AS BIGINT) AS c FROM
       |  (SELECT piece, pf FROM top UNION ALL SELECT piece, pf FROM chars)
       |  GROUP BY piece)""".stripMargin
  }

  private lazy val UnigramOracleBase: String =
    s"""$UnigramSeedCtes,
       |${unigramScoreCte(1, "v1")},
       |${unigramDpCtes(1)},
       |${unigramMstepCte(1)},
       |${unigramScoreCte(2, "v2")},
       |${unigramDpCtes(2)},
       |${unigramMstepCte(2)},
       |${unigramScoreCte(3, "v3")},
       |${unigramDpCtes(3)},
       |${unigramMstepCte(3)},
       |${unigramScoreCte(4, "v4")}""".stripMargin

  q("q_unigram_train",
    s"""WITH $UnigramOracleBase
       |SELECT piece, s AS logprob_fp FROM s4""") { (s, dir) =>
    val wf = spread(load(s, dir, "documents"))
      .select(explode(T.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f")).localCheckpoint()
    val model = graft.functions.UnigramIntLm.train(wf, rounds = 3)
    import s.implicits._
    model.toSeq.sortBy(_._1).toDF("piece", "logprob_fp")
  }

  // -- soft-EM twin of q_unigram_train: the paper's exact E-step
  //    (forward-backward posterior expected counts over the lattice)
  //    instead of hard Viterbi counts. FULL ORACLE since r12 — the LAST
  //    rows-only entry promoted by re-founding the soft E-step on the
  //    fixed-point grid (UnigramIntLm.trainSoft / UnigramIntKernel
  //    .marginalsFp): logsumexp via the lut_la delta table, posterior
  //    weights via the lut_e2 exp2 table in 2^-20 count units, expected
  //    counts BIGINT sums, M-step keep/floor at one expected use. The
  //    oracle unrolls 3 forward-backward rounds CTE-for-CTE, nesting
  //    every logadd in the kernel's longest-first fold order (quantized
  //    logadd does not associate). The FLOAT soft trainer (UnigramLm
  //    soft=true) remains the production twin, pinned by UnigramLmSpec
  //    (logZ>=Viterbi, brute-force logsumexp agreement, objective
  //    dominance, partition-independence).
  q("q_unigram_train_soft",
    s"""WITH $UnigramSoftOracleBase
       |SELECT piece, s AS logprob_fp FROM s4""") { (s, dir) =>
    val wf = spread(load(s, dir, "documents"))
      .select(explode(T.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f")).localCheckpoint()
    val model = graft.functions.UnigramIntLm.trainSoft(wf, rounds = 3)
    import s.implicits._
    model.toSeq.sortBy(_._1).toDF("piece", "logprob_fp")
  }

  // -- encode under the trained integer model: FULL ORACLE since r11 —
  //    one more mirrored Viterbi pass (round-4 DP + backpointer walk)
  //    under s4, segmentation re-assembled by string_agg over the
  //    walk's start positions.
  q("q_unigram_encode",
    s"""WITH $UnigramOracleBase,
       |${unigramDpCtes(4)},
       |enc AS (SELECT w, string_agg(piece, ' ' ORDER BY start) AS segmentation,
       |          CAST(count(*) AS BIGINT) AS n_pieces
       |        FROM pieces4 GROUP BY w)
       |SELECT ws.w, enc.segmentation, enc.n_pieces, ws.f,
       |  CAST(ws.f * enc.n_pieces AS BIGINT) AS corpus_pieces
       |FROM enc JOIN ws USING (w)""") { (s, dir) =>
    val wf = spread(load(s, dir, "documents"))
      .select(explode(T.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f")).localCheckpoint()
    val model = graft.functions.UnigramIntLm.train(wf, rounds = 3)
    val sd = model.map { case (p, x) => p -> x.toDouble }
    wf.select(col("w"),
        graft.plans.Unigram.segment(col("w"), sd).as("segmentation"),
        col("f"))
      .select(col("w"), col("segmentation"),
        size(split(col("segmentation"), " ")).cast("long").as("n_pieces"),
        col("f"),
        (col("f") * size(split(col("segmentation"), " "))).as("corpus_pieces"))
  }

  // -- span-level exact-substring dedup: every duplicated 8-token span
  //    with its (doc, position) occurrences — the "cut the repeated
  //    passage itself" building block (suffix-array dedup's output,
  //    shaped as an inverted index). One shuffle on the 60-bit span hash;
  //    occurrences ride through the bucket as structs (no join-back) and
  //    the 2..50 bucket band bounds fan-out exactly as in the oracle.
  /** Repeated-span occurrences shared by the md5 (oracle) and native-FNV
    * twins: 8-token spans, one shuffle on the span hash, occurrences
    * riding the buckets as structs, 2..50 band + >= 2 distinct docs. One
    * body so the twins cannot silently diverge. */
  private def spanOccurrences(s: org.apache.spark.sql.SparkSession, dir: String,
      spanHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
    val occ = spread(load(s, dir, "documents"))
      // bindOnce: tokenize once per row, not once per lambda element
      // (CollapseProject would inline the tokenizer into the transform)
      .select(col("doc_id"), D.bindOnce(T.tokens(col("text"))) { ts =>
        when(size(ts) >= 8,
          transform(sequence(lit(0), size(ts) - 8),
            i => array_join(slice(ts, i + 1, lit(8)), " ")))
          .otherwise(array().cast("array<string>"))
      }.as("spans"))
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
      .select(col("doc_id"), col("pos"), col("span"), spanHash(col("span")).as("span_hash"))
    occ.groupBy("span_hash")
      .agg(collect_list(struct(col("doc_id"), col("pos"), col("span"))).as("os"))
      .filter(size(col("os")).between(2, 50) &&
        size(array_distinct(transform(col("os"), _.getField("doc_id")))) >= 2)
      .select(col("span_hash"), size(col("os")).cast("long").as("n_occ"),
        explode(col("os")).as("o"))
      .select(col("span_hash"), col("o.doc_id"), col("o.pos"), col("o.span"), col("n_occ"))
  }

  q("q_dedup_spans",
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |idx AS (SELECT CAST(range AS INT) AS pos FROM range(1000)),
       |s AS (
       |  SELECT doc_id, pos,
       |    array_to_string(toks[pos + 1 : pos + 8], ' ') AS span
       |  FROM t JOIN idx ON pos <= len(toks) - 8),
       |h AS (SELECT doc_id, pos, span, ${sqlMd5Long("span")} AS span_hash FROM s),
       |g AS (
       |  SELECT span_hash, count(*) AS n_occ FROM h GROUP BY span_hash
       |  HAVING count(*) BETWEEN 2 AND 50 AND count(DISTINCT doc_id) >= 2)
       |SELECT h.span_hash, h.doc_id, h.pos, h.span, g.n_occ
       |FROM h JOIN g USING (span_hash)""") { (s, dir) =>
    spanOccurrences(s, dir, T.md5Long)
  }

  // -- native span dedup twin: fnv64 instead of md5 on the span hash (the
  //    production fast path — same spans, same buckets). FULL oracle
  //    since r10 (the md5 oracle SQL with the hash CTE swapped for the
  //    byte-fold FNV mirror); CrossCheckSpec additionally pins its
  //    (doc,pos) population to the md5 twin.
  q("q_dedup_spans_native",
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |idx AS (SELECT CAST(range AS INT) AS pos FROM range(1000)),
       |s AS (
       |  SELECT doc_id, pos,
       |    array_to_string(toks[pos + 1 : pos + 8], ' ') AS span
       |  FROM t JOIN idx ON pos <= len(toks) - 8),
       |h0 AS (SELECT doc_id, pos, span, hex(encode(span)) AS hs FROM s),
       |h1 AS (SELECT doc_id, pos, span, ${sqlFnvFromHex("hs")} AS hu FROM h0),
       |h AS (SELECT doc_id, pos, span, ${sqlU64Signed("hu")} AS span_hash FROM h1),
       |g AS (
       |  SELECT span_hash, count(*) AS n_occ FROM h GROUP BY span_hash
       |  HAVING count(*) BETWEEN 2 AND 50 AND count(DISTINCT doc_id) >= 2)
       |SELECT h.span_hash, h.doc_id, h.pos, h.span, g.n_occ
       |FROM h JOIN g USING (span_hash)""") { (s, dir) =>
    import graft.plans.NativeHash
    spanOccurrences(s, dir, NativeHash.fnv64)
  }

  // -- eval-set decontamination: flag training docs whose 3-gram shingles
  //    overlap an eval/benchmark subset too heavily (the train/test-leak
  //    check every training corpus needs). The eval shingle set is tiny
  //    relative to the corpus (benchmarks are ~1e6 n-grams) so it
  //    broadcasts; the train side streams through one broadcast join and
  //    one hash agg — no corpus shuffle at 100 TB. Shingles travel as
  //    60-bit md5 hashes (compact broadcast keys), exact on both sides.
  private val SqlDecontaminate =
    s"""WITH docs AS (SELECT doc_id, $SqlTokens AS ws FROM documents),
       |sh AS (SELECT doc_id, ${sqlMd5Long(s"unnest($SqlShingles3)")} AS hv FROM docs),
       |ev AS (SELECT DISTINCT hv FROM sh WHERE doc_id % 20 = 0),
       |tr AS (SELECT doc_id, hv FROM sh WHERE doc_id % 20 <> 0),
       |j AS (
       |  SELECT tr.doc_id, count(*) AS n_sh,
       |    CAST(sum(CASE WHEN ev.hv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
       |  FROM tr LEFT JOIN ev ON tr.hv = ev.hv
       |  GROUP BY tr.doc_id)
       |SELECT doc_id, n_sh, n_overlap,
       |  round(CAST(n_overlap AS DOUBLE) / n_sh, 6) AS overlap_ratio,
       |  CAST(CASE WHEN CAST(n_overlap AS DOUBLE) / n_sh > 0.8 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
       |FROM j""".stripMargin

  /** (doc_id, hv) rows: one 60-bit hash per distinct 3-shingle per doc. */
  private def shingleHashRows(s: org.apache.spark.sql.SparkSession, dir: String) =
    spread(load(s, dir, "documents"))
      .select(col("doc_id"), explode(D.wordShingles(col("text"), 3)).as("sval"))
      .select(col("doc_id"), T.md5Long(col("sval")).as("hv"))

  private def decontaminateReport(j: org.apache.spark.sql.DataFrame) = {
    val ratio = col("n_overlap").cast("double") / col("n_sh")
    j.select(col("doc_id"), col("n_sh"), col("n_overlap"),
      round(ratio, 6).as("overlap_ratio"),
      when(ratio > 0.8, 1L).otherwise(0L).as("contaminated"))
  }

  q("q_decontaminate", SqlDecontaminate) { (s, dir) =>
    val sh = shingleHashRows(s, dir)
    val ev = sh.filter(col("doc_id") % 20 === 0)
      .select("hv").distinct().withColumn("hit", lit(1L))
    decontaminateReport(
      sh.filter(col("doc_id") % 20 =!= 0)
        .join(broadcast(ev), Seq("hv"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"),
          coalesce(sum(col("hit")), lit(0L)).as("n_overlap")))
  }

  // -- the same decontamination for eval sets too big to broadcast as an
  //    exact hash set: a distributed-built Bloom filter (no false
  //    negatives) prefilters the train side, so only the ~overlapping
  //    fraction reaches the exact shuffle join; false positives die in
  //    the join, keeping the result — and the oracle — identical to
  //    q_decontaminate. Costs one extra train scan (the cheap n_sh
  //    count); saves shuffling ~95% of a 100 TB train side.
  q("q_decontaminate_bloom", SqlDecontaminate) { (s, dir) =>
    import graft.plans.GraftBloom
    val sh = shingleHashRows(s, dir)
    val ev = sh.filter(col("doc_id") % 20 === 0).select("hv").distinct()
    val bloom = GraftBloom.build(ev, "hv", numBits = 1 << 18, k = 3)
    val counts = sh.filter(col("doc_id") % 20 =!= 0)
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val overlaps = sh.filter(col("doc_id") % 20 =!= 0)
      .filter(GraftBloom.mightContainCol(col("hv"), bloom, 3))
      .join(ev, Seq("hv"), "left_semi") // exact: kills bloom false positives
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    decontaminateReport(
      counts.join(overlaps, Seq("doc_id"), "left")
        .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L))))
  }

  // -- PII scrubbing: redact emails / IPv4s / phone numbers and count the
  //    matches per pass. The synthetic corpus carries no natural PII, so
  //    both engines append the SAME deterministic contact tail built from
  //    doc_id — the operator under test is the redaction (pattern parity
  //    across Java regex and RE2, global replace, pass ordering), a pure
  //    per-row map that pushes no shuffle at any scale.
  q("q_pii_redact", {
    val synth =
      """text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |  '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' ||
        |  CASE WHEN doc_id % 3 = 0
        |       THEN ' cc admin' || CAST(doc_id % 5 AS VARCHAR) || '@ex.org' ELSE '' END ||
        |  ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) ||
        |  CASE WHEN doc_id % 2 = 0
        |       THEN ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"""
        .stripMargin
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"
    val phone = "\\b[0-9]{3}-[0-9]{4}\\b"
    s"""WITH t AS (SELECT doc_id, $synth AS synth FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(synth, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(synth, '$ip')) AS BIGINT) AS n_ips,
       |  CAST(len(regexp_extract_all(synth, '$phone')) AS BIGINT) AS n_phones,
       |  regexp_replace(regexp_replace(regexp_replace(synth,
       |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$phone', '<PHONE>', 'g') AS redacted
       |FROM t""".stripMargin
  }) { (s, dir) =>
    val id = col("doc_id")
    val synth = concat(
      col("text"), lit(" contact user"), id.cast("string"),
      lit("@mail"), (id % 7).cast("string"), lit(".example.com"),
      when(id % 3 === 0,
        concat(lit(" cc admin"), (id % 5).cast("string"), lit("@ex.org")))
        .otherwise(""),
      lit(" ip 10."), (id % 256).cast("string"), lit(".0."), (id % 100).cast("string"),
      when(id % 2 === 0,
        concat(lit(" tel 555-"), lpad((id % 10000).cast("string"), 4, "0")))
        .otherwise(""))
    load(s, dir, "documents")
      .withColumn("synth", synth)
      .select(id,
        T.piiCount(col("synth"), T.EmailRe).as("n_emails"),
        T.piiCount(col("synth"), T.Ipv4Re).as("n_ips"),
        T.piiCount(col("synth"), T.PhoneRe).as("n_phones"),
        T.redactPii(col("synth")).as("redacted"))
  }

  // -- checksum-validated PII: candidate card-number runs (13-19 digits)
  //    must pass the Luhn check (ISO/IEC 7812) before redaction — the
  //    precision upgrade over q_pii_redact's pattern-only matching (a
  //    16-digit order id shouldn't be scrubbed; a valid PAN must be).
  //    The corpus carries no PII, so card numbers are SYNTHESIZED
  //    deterministically per doc — one Luhn-VALID number (check digit
  //    computed by the same arithmetic being tested) and, on every third
  //    doc, a near-miss with the check digit off by one that the
  //    validator must reject. All integer arithmetic (digit folds, check
  //    digits) is engine-exact; redaction is a fold replacing each
  //    VALIDATED candidate, mirrored by DuckDB list_reduce. Map-only,
  //    zero shuffle at any scale.
  q("q_pii_luhn", {
    // Luhn fold over digit string c (reversed position i doubles when
    // i % 2 = parity) — the SQL mirror of TextFunctions.luhnSum
    def luhn(c: String, parity: Int) = {
      val d = s"CAST(substr($c, len($c) - CAST(i AS INT) + 1, 1) AS INT)"
      s"""list_sum([CASE WHEN i % 2 = $parity THEN
         |  CASE WHEN 2*$d > 9 THEN 2*$d - 9 ELSE 2*$d END
         |  ELSE $d END for i in range(1, len($c)+1)])""".stripMargin
    }
    s"""WITH b AS (
       |  SELECT doc_id, text,
       |    '4' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 14, '0') AS base
       |  FROM documents),
       |s AS (SELECT doc_id, text, base,
       |  (10 - ${luhn("base", 1)} % 10) % 10 AS chk FROM b),
       |t AS (SELECT doc_id,
       |  text || ' card ' || base || CAST(chk AS VARCHAR) ||
       |  CASE WHEN doc_id % 3 = 0
       |       THEN ' alt ' || base || CAST((chk + 1) % 10 AS VARCHAR)
       |       ELSE '' END AS synth
       |  FROM s),
       |c AS (SELECT doc_id,
       |  unnest(regexp_extract_all(synth, '\\b[0-9]{13,19}\\b')) AS cand FROM t),
       |v AS (SELECT doc_id, cand, ${luhn("cand", 0)} AS tot FROM c),
       |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates,
       |        CAST(count(*) FILTER (WHERE tot % 10 = 0) AS BIGINT) AS n_valid,
       |        list(cand ORDER BY cand) FILTER (WHERE tot % 10 = 0) AS valids
       |      FROM v GROUP BY doc_id)
       |SELECT t.doc_id, coalesce(a.n_candidates, 0) AS n_candidates,
       |  coalesce(a.n_valid, 0) AS n_valid,
       |  list_reduce(list_prepend(t.synth, coalesce(a.valids, [])),
       |    (acc, x) -> replace(acc, x, '<CARD>')) AS redacted
       |FROM t LEFT JOIN a USING (doc_id)"""
  }) { (s, dir) =>
    val id = col("doc_id")
    val base = concat(lit("4"), lpad((id % 100000000).cast("string"), 14, "0"))
    val synth = D.bindOnce(base) { b =>
      D.bindOnce(T.luhnCheckDigit(b)) { chk =>
        concat(col("text"), lit(" card "), b, chk.cast("string"),
          when(id % 3 === 0,
            concat(lit(" alt "), b, ((chk + 1) % 10).cast("string")))
            .otherwise(""))
      }
    }
    load(s, dir, "documents")
      .withColumn("synth", synth)
      .withColumn("cands",
        regexp_extract_all(col("synth"), lit("\\b[0-9]{13,19}\\b"), lit(0)))
      .withColumn("valids",
        sort_array(filter(col("cands"), c => T.luhnValid(c))))
      .select(id,
        size(col("cands")).cast("long").as("n_candidates"),
        size(col("valids")).cast("long").as("n_valid"),
        aggregate(col("valids"), col("synth"),
          (acc, x) => replace(acc, x, lit("<CARD>"))).as("redacted"))
  }

  // -- corpus quality report: per (source, lang) doc counts, token mass,
  //    distinct fingerprints, and exact-dup counts — the observability
  //    readout a pipeline run ships with. One hash aggregation (the
  //    distinct count is a partial-merging HLL-free exact count over the
  //    64-bit fingerprint space).
  q("q_corpus_report",
    """SELECT source, lang, count(*) AS n_docs,
      |  CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0))) AS BIGINT) AS total_tokens,
      |  count(DISTINCT substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16)) AS n_unique,
      |  count(*) - count(DISTINCT substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16)) AS n_dups
      |FROM documents GROUP BY source, lang""") { (s, dir) =>
    load(s, dir, "documents")
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(T.tokenCount(col("text")).cast("long")).as("total_tokens"),
        countDistinct(T.fingerprintHex(col("text"))).as("n_unique"),
        (count(lit(1)) - countDistinct(T.fingerprintHex(col("text")))).as("n_dups"))
  }

  // -- epoch-weighted corpus mixing: per-source weights may exceed 1
  //    (quality sources repeat across epochs), so each document emits
  //    floor(w) copies plus a deterministically-sampled extra for the
  //    fractional part — the standard "data mixture" materialization.
  //    Shape at scale: pure per-row generator (sequence + explode), no
  //    shuffle, no join; the copy index rides along so downstream packing
  //    sees distinct rows.
  // -- mixture token budget — the "how much of each source, and what
  //    upsample factor reaches a uniform mix" planning report that
  //    precedes any weighted sampling run. All counts are exact BIGINTs;
  //    the two ratios are each ONE IEEE divide of identical integer
  //    operands in both engines (correctly rounded — see oracle rules),
  //    so the report hash-matches. Shape: one partial-agg'd groupBy over
  //    the corpus, then a scalar broadcast of (total, n_sources) — the
  //    cross join is a 1-row side.
  q("q_mixture_budget",
    s"""WITH t AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len($SqlTokens)) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |tot AS (
       |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total, count(*) AS n_sources
       |  FROM t)
       |SELECT source, n_docs, n_tokens,
       |  CAST(n_tokens AS DOUBLE) / total AS token_share,
       |  CAST(total AS DOUBLE) / (n_sources * n_tokens) AS uniform_upsample
       |FROM t CROSS JOIN tot""") { (s, dir) =>
    val t = load(s, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(T.tokens(col("text")))).cast("long").as("n_tokens"))
    val tot = t.agg(sum("n_tokens").cast("long").as("total"),
      count(lit(1)).as("n_sources"))
    t.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("total")).as("token_share"),
        (col("total").cast("double") / (col("n_sources") * col("n_tokens")))
          .as("uniform_upsample"))
  }

  q("q_mixture_upsample",
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 2 ELSE 0 END AS BIGINT)
      |    + CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix-v1'), 1, 15) AS BIGINT) % 1000000 <
      |            CAST((CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 0.25 ELSE 0.4 END) * 1000000 AS BIGINT)
      |      THEN 1 ELSE 0 END AS n_copies
      |  FROM documents)
      |SELECT doc_id, unnest(generate_series(1, n_copies)) AS copy
      |FROM t WHERE n_copies >= 1""") { (s, dir) =>
    import graft.functions.Sampling
    val idx = substring(col("source"), 4, 10).cast("int")
    val w = when(idx % 2 === 0, 2.25).otherwise(0.4)
    load(s, dir, "documents")
      .withColumn("n_copies",
        floor(w) + Sampling.keep(col("doc_id"), "mix-v1", w - floor(w)).cast("long"))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), explode(sequence(lit(1L), col("n_copies"))).as("copy"))
  }

  // -- n-gram language-model count table: corpus-wide trigram frequencies,
  //    the build step for count-based LM scoring / contamination checks.
  //    Shape at scale: trigram expansion is a per-row generator (no join),
  //    the count is one hash agg with map-side partials, and the top-k is
  //    TakeOrderedAndProject — no global sort. Ties break on the trigram
  //    text so the result set is deterministic.
  q("q_ngram_lm_counts",
    """WITH t AS (
      |  SELECT list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |p AS (
      |  SELECT toks, unnest(range(len(toks) - 2)) AS pos
      |  FROM t WHERE len(toks) >= 3),
      |g AS (
      |  SELECT toks[pos + 1] || ' ' || toks[pos + 2] || ' ' || toks[pos + 3] AS trigram
      |  FROM p)
      |SELECT trigram, count(*) AS cnt FROM g GROUP BY trigram
      |ORDER BY cnt DESC, trigram LIMIT 100""") { (s, dir) =>
    spread(load(s, dir, "documents"))
      .select(T.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
        .as("trigram"))
      .groupBy("trigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("trigram"))
      .limit(100)
  }

  // -- Count-LM document scoring: each document scored against the corpus
  //    trigram table built by the q_ngram_lm_counts stage — the "score
  //    docs by corpus LM, filter the tail" step of a perplexity-style
  //    quality filter, with exact integer arithmetic (trigram mass, not
  //    log-prob floats) so the oracle is bit-exact; avg = INT/INT in one
  //    correctly-rounded IEEE divide, identical in both engines. Shape:
  //    explode trigrams, count (one shuffle), join doc-trigrams to counts
  //    on the compact trigram key (second shuffle), re-agg per doc.
  q("q_lm_score",
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, toks, unnest(range(len(toks) - 2)) AS pos
      |  FROM t WHERE len(toks) >= 3),
      |g AS (
      |  SELECT doc_id, toks[pos + 1] || ' ' || toks[pos + 2] || ' ' || toks[pos + 3] AS trigram
      |  FROM p),
      |c AS (SELECT trigram, count(*) AS cnt FROM g GROUP BY trigram)
      |SELECT doc_id, count(*) AS n_tri, CAST(sum(cnt) AS BIGINT) AS mass,
      |  CAST(CAST(sum(cnt) AS DOUBLE) / count(*) AS DOUBLE) AS avg_cnt
      |FROM g JOIN c USING (trigram) GROUP BY doc_id""") { (s, dir) =>
    val g = spread(load(s, dir, "documents"))
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
        .as("trigram"))
    val counts = g.groupBy("trigram").agg(count(lit(1)).as("cnt"))
    g.join(counts, "trigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"), sum("cnt").as("mass"),
        (sum("cnt").cast("double") / count(lit(1))).as("avg_cnt"))
  }

  // -- line-level boilerplate cleaning (RefinedWeb-style line-wise
  //    correction, arXiv:2306.01116 §3.1.3): drop nav / cookie-banner /
  //    bullet-only / mostly-uppercase lines, rebuild the doc, and flag
  //    docs that lose half their content for whole-doc removal. Pure
  //    codegen'd column expressions — a map-only pass that rides the
  //    scan; zero shuffle at any scale. (The synthetic corpus is
  //    single-line lowercase prose, so the oracle here checks expression
  //    parity; the rule boundaries themselves are pinned by
  //    LineFilterSpec on hand-built lines.)
  q("q_line_filter", {
    val markers = T.BoilerplateMarkers
      .map(m => s"contains(lower(l), '$m')").mkString(" OR ")
    s"""WITH d AS (SELECT doc_id,
       |  list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
       |              l -> len(l) > 0) AS ls
       |  FROM documents),
       |k AS (SELECT doc_id, ls,
       |  list_filter(ls, l -> len(l) >= 5
       |    AND CAST(len(regexp_replace(l, '[^A-Z]', '', 'g')) AS DOUBLE) / len(l) <= 0.6
       |    AND NOT ($markers)
       |    AND NOT regexp_matches(l, '^[-*•0-9.\\s]+$$')) AS kept
       |  FROM d),
       |m AS (SELECT doc_id, len(ls) AS n_lines, len(kept) AS n_kept,
       |  coalesce(list_sum(list_transform(ls, l -> len(l))), 0) AS chars_in,
       |  coalesce(list_sum(list_transform(kept, l -> len(l))), 0) AS chars_kept,
       |  array_to_string(kept, chr(10)) AS clean_text
       |  FROM k)
       |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
       |  CAST(n_kept AS BIGINT) AS n_kept,
       |  CAST(chars_in AS BIGINT) AS chars_in,
       |  CAST(chars_kept AS BIGINT) AS chars_kept,
       |  CASE WHEN chars_in = 0 THEN 0.0
       |       ELSE round(CAST(chars_kept AS DOUBLE) / chars_in, 6) END AS keep_frac,
       |  CASE WHEN chars_in = 0 THEN FALSE
       |       ELSE 2 * chars_kept >= chars_in END AS doc_kept,
       |  clean_text
       |FROM m"""
  }) { (s, dir) =>
    val charsOf = (c: org.apache.spark.sql.Column) =>
      aggregate(c, lit(0L), (a, l) => a + length(l))
    spread(load(s, dir, "documents"))
      .select(col("doc_id"), T.docLines(col("text")).as("ls"))
      .withColumn("kept", filter(col("ls"), l => T.lineKeep(l)))
      .select(
        col("doc_id"),
        size(col("ls")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        charsOf(col("ls")).as("chars_in"),
        charsOf(col("kept")).as("chars_kept"),
        array_join(col("kept"), "\n").as("clean_text"))
      .withColumn("keep_frac", when(col("chars_in") === 0, lit(0.0))
        .otherwise(round(col("chars_kept").cast("double") / col("chars_in"), 6)))
      .withColumn("doc_kept", when(col("chars_in") === 0, lit(false))
        .otherwise(col("chars_kept") * 2 >= col("chars_in")))
  }

  // -- within-doc repetition removal: drop every repeat of a line after
  //    its first occurrence (order-preserving line dedup — the cheap
  //    within-page cleanup that precedes corpus-level dedup). Map-only,
  //    zero shuffle; per-row cost is O(lines^2) string compares bounded
  //    by lines-per-doc, not corpus size.
  q("q_repetition_remove",
    """WITH d AS (SELECT doc_id,
      |  list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
      |              l -> len(l) > 0) AS ls
      |  FROM documents),
      |k AS (SELECT doc_id, ls,
      |  list_filter(ls, (l, i) -> list_position(ls, l) = i) AS kept
      |  FROM d)
      |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
      |  CAST(len(kept) AS BIGINT) AS n_kept,
      |  CAST(coalesce(list_sum(list_transform(ls, l -> len(l))), 0)
      |    - coalesce(list_sum(list_transform(kept, l -> len(l))), 0) AS BIGINT)
      |    AS chars_removed,
      |  array_to_string(kept, chr(10)) AS clean_text
      |FROM k""") { (s, dir) =>
    val charsOf = (c: org.apache.spark.sql.Column) =>
      aggregate(c, lit(0L), (a, l) => a + length(l))
    spread(load(s, dir, "documents"))
      .select(col("doc_id"), T.docLines(col("text")).as("ls"))
      // keep a line only at its FIRST occurrence: array_position returns
      // the 1-based index of the first match, the filter index is 0-based
      .withColumn("kept",
        filter(col("ls"), (l, i) => array_position(col("ls"), l) === i + 1))
      .select(col("doc_id"),
        size(col("ls")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        (charsOf(col("ls")) - charsOf(col("kept"))).as("chars_removed"),
        array_join(col("kept"), "\n").as("clean_text"))
  }

  // -- embedding-based quality classifier (the FineWeb-Edu shape,
  //    arXiv:2406.17557 §3.2: a small linear probe over embeddings gates
  //    documents): logistic regression trained by deterministic
  //    fixed-point distributed gradient descent (LinearModel.scala — long
  //    integer gradient sums, so the learned weights are bit-identical
  //    for ANY partitioning), then every vector scored map-side against
  //    the broadcast weights. Rows-only: the sigmoid's exp() is not
  //    mirrorable across engines; LinearModelSpec pins determinism and
  //    accuracy on separable data.
  /** One unrolled micro-grid logistic GD step (oracle mirror of
    * LinearModel.trainLogisticMicro): margins from w{k-1}, table sigmoid,
    * per-dim gradient sums, truncated-division update with lr = 1/2. */
  private def sqlLogitStep(k: Int): String = {
    val p = k - 1
    s"""m$k AS (SELECT e.vec_id, e.y, e.xq,
       |  w$p.b + CAST(list_sum(list_transform(range(len(e.xq)),
       |      d -> w$p.w[d+1] * e.xq[d+1])) // 1000000 AS BIGINT) AS mm
       |  FROM e CROSS JOIN w$p),
       |r$k AS (SELECT vec_id, y, xq,
       |  CAST(sig.t[CAST((least(greatest(mm, -8192000), 8191999) + 8192000)
       |                  // 4000 AS INT) + 1] - y * 1000000 AS BIGINT) AS err
       |  FROM m$k CROSS JOIN sig),
       |gd$k AS (SELECT CAST(dd.d AS INT) AS d,
       |    CAST(sum((r.err * r.xq[dd.d + 1]) // 1000000) AS BIGINT) AS g
       |  FROM r$k r CROSS JOIN
       |    (SELECT unnest(range((SELECT len(xq) FROM e LIMIT 1))) AS d) dd
       |  GROUP BY dd.d),
       |gb$k AS (SELECT CAST(sum(err) AS BIGINT) AS gb FROM r$k),
       |w$k AS (SELECT
       |  (SELECT w$p.b - gb$k.gb // (2 * n.n) FROM w$p CROSS JOIN gb$k CROSS JOIN n) AS b,
       |  (SELECT list(wd ORDER BY d) FROM (
       |     SELECT gd$k.d AS d, wp.wd - gd$k.g // (2 * n.n) AS wd
       |     FROM gd$k CROSS JOIN n
       |     JOIN (SELECT CAST(unnest(range(len(w))) AS INT) AS d, unnest(w) AS wd
       |           FROM w$p) wp USING (d))) AS w)""".stripMargin
  }

  // -- embedding-gated quality classifier (the FineWeb-Edu shape,
  //    arXiv:2406.17557 §3.2: a linear probe over frozen embeddings
  //    gates documents). FULL oracle since r10: training moved onto the
  //    1e-6 integer grid end to end (LinearModel.trainLogisticMicro —
  //    quantized inputs, BIGINT weights, 4096-cell table sigmoid
  //    interpolated into both engines, truncated-division updates), so
  //    3 GD iterations unroll as DuckDB CTEs exactly like q_embed_pca's
  //    power steps. Scale shape unchanged: one linear scan + one
  //    partial-agg'd shuffle of dim+1 longs per iteration; scoring is
  //    map-only.
  q("q_quality_classifier", {
    val steps = (1 to 3).map(sqlLogitStep).mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |    CASE WHEN label = 0 THEN CAST(1 AS BIGINT) ELSE 0 END AS y,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xq
       |  FROM embeddings),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |sig AS (SELECT [${graft.functions.LinearModel.SigTable.mkString(", ")}] AS t),
       |w0 AS (SELECT CAST(0 AS BIGINT) AS b,
       |  list_transform(range((SELECT len(xq) FROM e LIMIT 1)),
       |    d -> CAST(0 AS BIGINT)) AS w),
       |$steps,
       |mf AS (SELECT e.vec_id, e.label,
       |  w3.b + CAST(list_sum(list_transform(range(len(e.xq)),
       |      d -> w3.w[d+1] * e.xq[d+1])) // 1000000 AS BIGINT) AS mm
       |  FROM e CROSS JOIN w3)
       |SELECT vec_id, label,
       |  CAST(sig.t[CAST((least(greatest(mm, -8192000), 8191999) + 8192000)
       |                  // 4000 AS INT) + 1] AS BIGINT) AS score_micro,
       |  sig.t[CAST((least(greatest(mm, -8192000), 8191999) + 8192000)
       |             // 4000 AS INT) + 1] >= 500000 AS pred
       |FROM mf CROSS JOIN sig""".stripMargin
  }) { (s, dir) =>
    import graft.functions.LinearModel
    val emb = spread(load(s, dir, "embeddings"))
      .withColumn("y", (col("label") === 0).cast("long"))
    val model = LinearModel.trainLogisticMicro(emb, "embedding", "y", iters = 3)
    LinearModel.scoreMicro(emb, "embedding", model)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("score_micro"), col("pred"))
  }

  // -- IVF+PQ serving path: prune to nProbe inverted-file cells, score
  //    survivors by compressed-domain ADC distance — the standard
  //    billion-scale ANN composition (cells bound the candidate scan,
  //    codes bound per-candidate cost to m table adds). FULL ORACLE
  //    since r11: the k=8 integer coarse quantizer (KmeansOracleCtes)
  //    prunes candidates to the nProbe=2 closest cells per query and the
  //    integer PQ chain (PqOracleCtes) scores the survivors in the
  //    compressed domain — every stage BIGINT, bit-exact in DuckDB. The
  //    float production twin (searchWithCells, the bench serving shape)
  //    stays pinned by ProductQuantizerSpec.
  q("q_ann_ivf_pq",
    s"""WITH $KmeansOracleCtes,
       |$PqOracleCtes,
       |pr AS (SELECT vec_id AS query_id, cl AS cell,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS crank
       |       FROM d2 WHERE vec_id < 20),
       |probed AS (SELECT query_id, cell FROM pr WHERE crank <= 2),
       |cand AS (SELECT p.query_id, g2.vec_id AS neighbor_id
       |         FROM probed p JOIN g2 ON g2.cluster = p.cell
       |         WHERE g2.vec_id <> p.query_id),
       |cd AS (SELECT ca.query_id, ca.neighbor_id, CAST(sum(a.d) AS BIGINT) AS d
       |       FROM cand ca
       |       JOIN codes c ON c.vec_id = ca.neighbor_id
       |       JOIN adc a ON a.query_id = ca.query_id
       |         AND a.sub = c.sub AND a.cl = c.code
       |       GROUP BY ca.query_id, ca.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, CAST(d AS DOUBLE) AS adc_dist,
       |        row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
       |      FROM cd)
       |SELECT query_id, neighbor_id, adc_dist, rank FROM r WHERE rank <= 10""") { (s, dir) =>
    val k = 8; val nProbe = 2; val m = 8; val ksub = 16; val dsub = 8
    val xm = microGrid(s, dir)
    // coarse quantizer: cells + query-side cell ranking (the q_ann_ivf path)
    val cents = kmeansIntCentroids(xm, k)
    val assigned = xm.select(col("vec_id"), (kmAssignKey(cents, k) % k).as("cell"))
    val packed = array(cents.map { case (cid, cm) =>
      graft.plans.NativeVector.sqDistI64(col("xm"), typedLit(cm)) *
        lit(k.toLong) + lit(cid)
    }: _*)
    val probed = xm.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"),
        explode(slice(array_sort(packed), 1, nProbe)).as("pk"))
      .select(col("query_id"), (col("pk") % k).as("cell"))
    val cand = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    // PQ compressed domain: codes + per-query ADC tables (the q_ann_pq path)
    val subv = subGrid(xm, m, dsub).localCheckpoint()
    val pq = pqIntCentroids(subv, m, ksub)
    val codes = subv.select(col("vec_id"), col("sub"),
      (pqAssignExpr(pq, m, ksub) % ksub).as("code"))
    val centsDf = s.createDataFrame(
      pq.toSeq.map { case ((su, cl), cm) => (su, cl, cm.toSeq) })
      .toDF("csub", "cl", "cm")
    val adc = subv.filter(col("vec_id") < 20)
      .join(broadcast(centsDf), col("sub") === col("csub"))
      .select(col("vec_id").as("aquery_id"), col("sub").as("asub"), col("cl"),
        graft.plans.NativeVector.sqDistI64(col("sv"), col("cm")).as("ad"))
    val cd = cand
      .join(codes, col("neighbor_id") === codes("vec_id"))
      .join(broadcast(adc),
        col("query_id") === col("aquery_id") &&
          col("sub") === col("asub") && col("code") === col("cl"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum("ad").as("adc_dist"))
    graft.operators.TopK.perGroup(cd, "query_id", "neighbor_id", "adc_dist",
      k = 10, ascending = true)
  }

  // -- corpus-level exact line dedup (the RefinedWeb/C4 repeated-line
  //    rule, arXiv:2306.01116 §3.1.4): a line whose trimmed text occurs
  //    3+ times ACROSS the corpus is boilerplate — remove every copy
  //    from every document (complementing q_repetition_remove's
  //    within-doc pass). Shape: explode lines → count by 60-bit line
  //    hash (one partial-agg'd shuffle) → join exploded lines against
  //    the banned set on the compact hash (frequent-line sets are
  //    heavy-hitter-sized, AQE broadcasts them at moderate scale) →
  //    re-agg per doc. Order is preserved by sorting the kept (pos,
  //    line) structs — no window over the corpus.
  q("q_line_dedup_corpus",
    """WITH d AS (SELECT doc_id,
      |  list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
      |              l -> len(l) > 0) AS ls
      |  FROM documents),
      |e AS (SELECT doc_id, pos, ls[pos + 1] AS l
      |      FROM (SELECT doc_id, ls, unnest(range(len(ls))) AS pos FROM d)),
      |h AS (SELECT doc_id, pos, l,
      |        CAST('0x' || substr(md5(l), 1, 15) AS BIGINT) AS lh FROM e),
      |b AS (SELECT lh FROM h GROUP BY lh HAVING count(*) >= 3),
      |f AS (SELECT h.doc_id, h.pos, h.l, (b.lh IS NOT NULL) AS ban
      |      FROM h LEFT JOIN b ON h.lh = b.lh)
      |SELECT doc_id, count(*) AS n_lines,
      |  CAST(sum(CASE WHEN NOT ban THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(coalesce(sum(CASE WHEN ban THEN len(l) END), 0) AS BIGINT)
      |    AS chars_removed,
      |  coalesce(string_agg(CASE WHEN NOT ban THEN l END, chr(10) ORDER BY pos), '')
      |    AS clean_text,
      |  CAST(sum(CASE WHEN NOT ban THEN 1 ELSE 0 END) AS BIGINT) > 0 AS doc_kept
      |FROM f GROUP BY doc_id""") { (s, dir) =>
    val ex = spread(load(s, dir, "documents"))
      .select(col("doc_id"), posexplode(T.docLines(col("text"))).as(Seq("pos", "l")))
      .withColumn("lh", T.md5Long(col("l")))
    val banned = ex.groupBy("lh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 3).select(col("lh"), lit(true).as("ban"))
    ex.join(banned, Seq("lh"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("ban").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("ban").isNotNull, length(col("l")).cast("long")).otherwise(0L))
          .as("chars_removed"),
        array_join(
          transform(
            array_sort(collect_list(when(col("ban").isNull,
              struct(col("pos"), col("l"))))),
            x => x("l")),
          "\n").as("clean_text"))
      .withColumn("doc_kept", col("n_kept") > 0)
  }

  // -- CCNet-style perplexity buckets (arXiv:1911.00359 §4.3: split each
  //    language's documents into head/middle/tail by LM-score terciles).
  //    The LM score is q_lm_score's integer trigram mass per trigram,
  //    quantized onto a HARD-BOUNDED grid (×1000, capped at 1e6) so the
  //    tercile thresholds come from a per-language HISTOGRAM, not a sort
  //    of the corpus: the cumulative window runs over ≤ 1e6+1 distinct
  //    quantized scores per language regardless of corpus size — the
  //    100 TB-exact way to take quantiles. All arithmetic is BIGINT, so
  //    the discrete-quantile thresholds are oracle-exact.
  q("q_perplexity_buckets",
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |p AS (SELECT doc_id, lang, toks, unnest(range(len(toks) - 2)) AS pos
      |      FROM t WHERE len(toks) >= 3),
      |g AS (SELECT doc_id, lang,
      |        toks[pos + 1] || ' ' || toks[pos + 2] || ' ' || toks[pos + 3] AS trigram
      |      FROM p),
      |c AS (SELECT trigram, count(*) AS cnt FROM g GROUP BY trigram),
      |ds AS (SELECT doc_id, lang, count(*) AS n_tri,
      |         CAST(sum(cnt) AS BIGINT) AS mass
      |       FROM g JOIN c USING (trigram) GROUP BY doc_id, lang),
      |sq AS (SELECT doc_id, lang,
      |         CAST(least(mass * 1000 // n_tri, 1000000) AS BIGINT) AS score_q
      |       FROM ds),
      |hist AS (SELECT lang, score_q, count(*) AS nd FROM sq GROUP BY lang, score_q),
      |cum AS (SELECT lang, score_q,
      |          sum(nd) OVER (PARTITION BY lang ORDER BY score_q
      |                        ROWS UNBOUNDED PRECEDING) AS cum
      |        FROM hist),
      |tot AS (SELECT lang, count(*) AS n FROM sq GROUP BY lang),
      |thr AS (SELECT lang,
      |          min(CASE WHEN cum * 3 >= n THEN score_q END) AS t1,
      |          min(CASE WHEN cum * 3 >= 2 * n THEN score_q END) AS t2
      |        FROM cum JOIN tot USING (lang) GROUP BY lang)
      |SELECT s.doc_id, s.lang, s.score_q,
      |  CASE WHEN s.score_q >= t.t2 THEN 'head'
      |       WHEN s.score_q >= t.t1 THEN 'middle'
      |       ELSE 'tail' END AS bucket
      |FROM sq s JOIN thr t USING (lang)""") { (s, dir) =>
    val g = spread(load(s, dir, "documents"))
      .select(col("doc_id"), col("lang"), T.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
        .as("trigram"))
    val counts = g.groupBy("trigram").agg(count(lit(1)).as("cnt"))
    val scores = g.join(counts, "trigram")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tri"), sum("cnt").as("mass"))
      .select(col("doc_id"), col("lang"),
        least(expr("mass * 1000 div n_tri"), lit(1000000L)).as("score_q"))
      // one row per doc, consumed by the histogram branch AND the final
      // select — the planner shared none of it (r15 before-plan: 12
      // parquet scans, the trigram explode evaluated 6x); the lazy
      // checkpoint computes the scoring pipeline once
      .localCheckpoint(false)
    val hist = scores.groupBy("lang", "score_q").agg(count(lit(1)).as("nd"))
    val tot = hist.groupBy("lang").agg(sum("nd").as("n"))
    val cumW = Window.partitionBy("lang").orderBy("score_q")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist.withColumn("cum", sum("nd").over(cumW))
      .join(tot, "lang")
      .groupBy("lang")
      .agg(
        min(when(col("cum") * 3 >= col("n"), col("score_q"))).as("t1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("score_q"))).as("t2"))
    scores.join(broadcast(thr), "lang")
      .select(col("doc_id"), col("lang"), col("score_q"),
        when(col("score_q") >= col("t2"), "head")
          .when(col("score_q") >= col("t1"), "middle")
          .otherwise("tail").as("bucket"))
  }

  // -- UniMax language-balanced sampling budgets (arXiv:2304.09151):
  //    allocate a total token budget across languages by water-filling —
  //    every language gets the uniform share λ unless its corpus (times
  //    the epoch cap) is smaller, in which case it saturates and the
  //    surplus redistributes. Closed form over the per-language table:
  //    sort by capacity; a language saturates iff cap·(remaining langs)
  //    + smaller-caps prefix ≤ B (monotone in the sort, so "saturated"
  //    is a prefix); λ = (B − saturated mass) DIV (unsaturated count).
  //    Scale shape: ONE shuffle (per-language token sums, partial-agg'd);
  //    the window + water-fill run over the language table — bounded by
  //    the number of languages, never the corpus — and the 1-row budget
  //    scalar broadcasts back. All-BIGINT, so the allocation is
  //    oracle-exact (the sub-λ integer remainder stays unallocated, a
  //    documented ≤ L-token slack). Budget here: half the corpus token
  //    mass, epoch cap 3.
  q("q_mixture_unimax",
    """WITH lt AS (
      |  SELECT lang, CAST(sum(len(string_split_regex(
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'))) AS BIGINT)
      |    AS n_tokens
      |  FROM documents GROUP BY lang),
      |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) // 2 AS b,
      |               count(*) AS l FROM lt),
      |o AS (SELECT lang, n_tokens, n_tokens * 3 AS cap,
      |        row_number() OVER (ORDER BY n_tokens * 3, lang) AS rn,
      |        sum(n_tokens * 3) OVER (ORDER BY n_tokens * 3, lang
      |          ROWS UNBOUNDED PRECEDING) AS prefix
      |      FROM lt),
      |c AS (SELECT o.*, t.b, t.l,
      |        (cap * (l - rn + 1) + (prefix - cap) <= b) AS sat
      |      FROM o CROSS JOIN tot t),
      |k AS (SELECT coalesce(sum(CASE WHEN sat THEN 1 ELSE 0 END), 0) AS ks,
      |        coalesce(max(CASE WHEN sat THEN prefix END), 0) AS pk
      |      FROM c)
      |SELECT c.lang, c.n_tokens, c.cap,
      |  CAST(CASE WHEN c.sat THEN c.cap
      |       ELSE (c.b - k.pk) // (c.l - k.ks) END AS BIGINT) AS alloc_tokens,
      |  c.sat AS saturated
      |FROM c CROSS JOIN k""") { (s, dir) =>
    val lt = spread(load(s, dir, "documents"))
      .groupBy("lang")
      .agg(sum(size(T.tokens(col("text"))).cast("long")).as("n_tokens"))
    val tot = lt.agg(expr("sum(n_tokens) div 2").as("b"),
      count(lit(1)).as("l"))
    val ordW = Window.orderBy(col("cap"), col("lang"))
    val o = lt.withColumn("cap", col("n_tokens") * 3)
      .withColumn("rn", row_number().over(ordW))
      .withColumn("prefix", sum("cap").over(
        ordW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val c = o.crossJoin(broadcast(tot))
      .withColumn("sat",
        col("cap") * (col("l") - col("rn") + 1) + (col("prefix") - col("cap"))
          <= col("b"))
    val k = c.agg(
      coalesce(sum(when(col("sat"), 1L).otherwise(0L)), lit(0L)).as("ks"),
      coalesce(max(when(col("sat"), col("prefix"))), lit(0L)).as("pk"))
    c.crossJoin(broadcast(k))
      .select(col("lang"), col("n_tokens"), col("cap"),
        when(col("sat"), col("cap"))
          .otherwise(expr("(b - pk) div (l - ks)")).cast("long")
          .as("alloc_tokens"),
        col("sat").as("saturated"))
  }

  // -- incremental near-dup: probe a "new batch" (doc_id % 4 = 0 — the
  //    day's crawl) against the MinHash/LSH index of the already-accepted
  //    corpus (operators.NearDupIndex; build once + persist, probe per
  //    batch — you never re-pair the whole corpus). The 2..50 occupancy
  //    cut applies to the COMBINED bucket, so the oracle is the full
  //    family's banded CTE chain restricted to cross-split pairs, plus a
  //    signature-component rescore (est Jaccard = matching minhash
  //    components / 16, dup at ≥ 8/16).
  q("q_dedup_minhash_incremental",
    s"""WITH $SqlMinhashPairCtes,
       |pr AS (
       |  SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS idx_id
       |  FROM kb a JOIN kb b ON a.bd = b.bd AND a.bandhash = b.bandhash
       |  WHERE a.doc_id % 4 != 0 AND b.doc_id % 4 = 0),
       |j AS (
       |  SELECT pr.new_id, pr.idx_id, sn.sig AS nsig, si.sig AS isig
       |  FROM pr
       |  JOIN sig sn ON sn.doc_id = pr.new_id
       |  JOIN sig si ON si.doc_id = pr.idx_id),
       |m AS (
       |  SELECT new_id, idx_id,
       |    CAST(len(list_filter(range(16), i -> nsig[i + 1] = isig[i + 1]))
       |      AS BIGINT) AS n_match
       |  FROM j)
       |SELECT new_id, idx_id, n_match,
       |  CAST(n_match AS DOUBLE) / 16 AS est_jaccard,
       |  n_match * 2 >= 16 AS is_dup
       |FROM m""") { (s, dir) =>
    import graft.operators.NearDupIndex
    val docs = spread(load(s, dir, "documents"))
    val index = NearDupIndex.build(docs.filter(col("doc_id") % 4 =!= 0),
      "doc_id", "text")
    val batch = NearDupIndex.build(docs.filter(col("doc_id") % 4 === 0),
      "doc_id", "text")
    NearDupIndex.probe(index, batch)
  }

  // -- temperature / alpha-sampling mixture (the mT5 rule,
  //    arXiv:2010.11934 §3.1: sample language l with p_l ∝ |D_l|^α so
  //    low-resource languages upsample; α = 0.5 here). All-BIGINT exact:
  //    the weight is the INTEGER square root of the scaled token count —
  //    floor(sqrt(n·10^6)) is bit-identical on both engines because IEEE
  //    sqrt is correctly rounded and n·10^6 ≤ 2^52 keeps the double
  //    exact (at per-language counts beyond ~4·10^9 tokens drop the
  //    scale factor; the unscaled isqrt's relative error ≤ 1/(2√n) is
  //    already sub-ppm there). Shares are single-divide parts-per-million
  //    — no order-dependent double summation anywhere. Scale shape: ONE
  //    partial-agg'd shuffle to the per-language table, a broadcast
  //    1-row total, map-side ratios.
  q("q_mixture_temperature",
    s"""WITH lt AS (
       |  SELECT lang, count(*) AS n_docs,
       |    CAST(sum(len($SqlTokens)) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY lang),
       |w AS (SELECT lang, n_docs, n_tokens,
       |  CAST(floor(sqrt(CAST(n_tokens * 1000000 AS DOUBLE))) AS BIGINT) AS w
       |  FROM lt),
       |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
       |             CAST(sum(n_tokens) AS BIGINT) AS tt FROM w)
       |SELECT w.lang, w.n_docs, w.n_tokens,
       |  n_tokens * 1000000 // t.tt AS raw_ppm,
       |  w.w * 1000000 // t.tw AS alpha_ppm
       |FROM w CROSS JOIN t""") { (s, dir) =>
    val lt = spread(load(s, dir, "documents"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(T.tokens(col("text"))).cast("long")).as("n_tokens"))
    val wdf = lt.withColumn("w",
      floor(sqrt((col("n_tokens") * 1000000L).cast("double"))).cast("long"))
    val tot = wdf.agg(sum("w").as("tw"), sum("n_tokens").as("tt"))
    wdf.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        expr("n_tokens * 1000000 div tt").as("raw_ppm"),
        expr("w * 1000000 div tw").as("alpha_ppm"))
  }

  // -- mixture EPOCH/REPEAT planner (r11): given the temperature-mixture
  //    weights and a token budget, how many PASSES over each source does
  //    the training run make — the table a data-mixture owner actually
  //    ships to the loader. Composes q_mixture_temperature's alpha=0.5
  //    weights: target_s = B·w_s/Σw; epochs = target/tokens (micro),
  //    capped at 4 epochs (repeating data beyond ~4 passes stops paying
  //    — the arXiv:2305.16264 repetition knee), with the capped
  //    sources' unmet budget reported as underfill. ALL-INTEGER (ppm /
  //    micro-epoch fractions via div), so the plan is bit-exact
  //    cross-engine. Scale shape: one partial-agg'd scan to per-source
  //    token counts; everything after is |sources|-bounded arithmetic
  //    on a broadcast total.
  q("q_mixture_epochs",
    s"""WITH lt AS (
       |  SELECT lang, CAST(sum(len($SqlTokens)) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY lang),
       |w AS (SELECT lang, n_tokens,
       |  CAST(floor(sqrt(CAST(n_tokens * 1000000 AS DOUBLE))) AS BIGINT) AS w
       |  FROM lt),
       |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
       |p AS (SELECT w.lang, w.n_tokens,
       |        w.w * 1000000 // t.tw AS alpha_ppm,
       |        CAST(10000000 AS BIGINT) * w.w // t.tw AS target_tokens
       |      FROM w CROSS JOIN t),
       |e AS (SELECT lang, n_tokens, alpha_ppm, target_tokens,
       |        target_tokens * 1000000 // n_tokens AS epochs_micro,
       |        least(target_tokens * 1000000 // n_tokens,
       |              CAST(4000000 AS BIGINT)) AS epochs_capped_micro
       |      FROM p)
       |SELECT lang, n_tokens, alpha_ppm, target_tokens, epochs_micro,
       |  epochs_capped_micro,
       |  n_tokens * epochs_capped_micro // 1000000 AS realized_tokens,
       |  target_tokens - n_tokens * epochs_capped_micro // 1000000
       |    AS underfill_tokens
       |FROM e""") { (s, dir) =>
    val lt = spread(load(s, dir, "documents"))
      .groupBy("lang")
      .agg(sum(size(T.tokens(col("text"))).cast("long")).as("n_tokens"))
    val wdf = lt.withColumn("w",
      floor(sqrt((col("n_tokens") * 1000000L).cast("double"))).cast("long"))
    val tot = wdf.agg(sum("w").as("tw"))
    wdf.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_tokens"),
        expr("w * 1000000 div tw").as("alpha_ppm"),
        expr("cast(10000000 as bigint) * w div tw").as("target_tokens"))
      .select(col("lang"), col("n_tokens"), col("alpha_ppm"),
        col("target_tokens"),
        expr("target_tokens * 1000000 div n_tokens").as("epochs_micro"),
        least(expr("target_tokens * 1000000 div n_tokens"),
          lit(4000000L)).as("epochs_capped_micro"))
      .select(col("lang"), col("n_tokens"), col("alpha_ppm"),
        col("target_tokens"), col("epochs_micro"), col("epochs_capped_micro"),
        expr("n_tokens * epochs_capped_micro div 1000000")
          .as("realized_tokens"),
        (col("target_tokens") -
          expr("n_tokens * epochs_capped_micro div 1000000"))
          .as("underfill_tokens"))
  }

  // -- corpus length-distribution report: exact per-source discrete
  //    quantiles of n_chars (p25/50/75/90 = the sorted element at index
  //    ⌊(n−1)·p⌋ — integer selection, no float interpolation, so the
  //    oracle matches bit-for-bit). Scale shape: one shuffle to
  //    co-locate each source, a per-source sort window (sources are the
  //    partition key — each sorts independently; a skewed mega-source
  //    would switch to the approx_percentile sketch, the documented
  //    100 TB default — this exact variant is its oracle-able twin),
  //    then one partial-agg'd fold to 1 row per source.
  q("q_length_quantiles",
    """WITH o AS (
      |  SELECT source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) - 1 AS rn,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM documents)
      |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  max(CASE WHEN rn = (n - 1) * 25 // 100 THEN n_chars END) AS p25,
      |  max(CASE WHEN rn = (n - 1) * 50 // 100 THEN n_chars END) AS p50,
      |  max(CASE WHEN rn = (n - 1) * 75 // 100 THEN n_chars END) AS p75,
      |  max(CASE WHEN rn = (n - 1) * 90 // 100 THEN n_chars END) AS p90
      |FROM o GROUP BY source""") { (s, dir) =>
    val byLen = Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
    val o = spread(load(s, dir, "documents"))
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rn", row_number().over(byLen).cast("long") - 1L)
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
    def pick(p: Int) =
      max(when(col("rn") === expr(s"(n - 1) * $p div 100"), col("n_chars")))
    o.groupBy("source").agg(
      max("n").as("n_docs"), sum("n_chars").as("sum_chars"),
      pick(25).as("p25"), pick(50).as("p50"), pick(75).as("p75"),
      pick(90).as("p90"))
  }

  // -- ExactSubstr-style span REMOVAL (arXiv:2107.06499 §4.1: cut every
  //    occurrence of a corpus-duplicated token span out of every doc) —
  //    the apply step over q_dedup_spans' finder: a token survives iff no
  //    flagged 8-token span covers it. Composition: the same banded
  //    2..50-occurrence span family feeds a per-doc hit-position list
  //    (ONE extra shuffle, keyed by doc_id), the cleanup itself is a
  //    per-row lambda. The coverage test is O(tokens × flagged-spans per
  //    doc) — flagged spans are bounded by the occupancy cut and fully
  //    duplicated docs die earlier in the funnel (exact dedup), so the
  //    per-row cost stays linear in practice.
  q("q_dedup_spans_remove",
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |idx AS (SELECT CAST(range AS INT) AS pos FROM range(1000)),
       |sp AS (
       |  SELECT doc_id, pos,
       |    ${sqlMd5Long("array_to_string(toks[pos + 1 : pos + 8], ' ')")} AS span_hash
       |  FROM t JOIN idx ON pos <= len(toks) - 8),
       |g AS (
       |  SELECT span_hash FROM sp GROUP BY span_hash
       |  HAVING count(*) BETWEEN 2 AND 50 AND count(DISTINCT doc_id) >= 2),
       |hits AS (
       |  SELECT doc_id, list(pos) AS ps
       |  FROM sp JOIN g USING (span_hash) GROUP BY doc_id),
       |k AS (
       |  SELECT t.doc_id, toks,
       |    CASE WHEN ps IS NULL THEN toks
       |         ELSE list_filter(toks, (tok, i) ->
       |           len(list_filter(ps, p -> i - 1 BETWEEN p AND p + 7)) = 0)
       |    END AS kept
       |  FROM t LEFT JOIN hits ON t.doc_id = hits.doc_id)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
       |  coalesce(array_to_string(kept, ' '), '') AS clean_text
       |FROM k""") { (s, dir) =>
    val hits = spanOccurrences(s, dir, T.md5Long)
      .groupBy("doc_id").agg(collect_list(col("pos")).as("ps"))
    spread(load(s, dir, "documents"))
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("ps").isNull, col("toks")).otherwise(
          filter(col("toks"), (_, i) =>
            !exists(col("ps"), p => i >= p && i <= p + 7))))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  // -- corpus snapshot diff (the dataset-versioning audit every managed
  //    corpus needs: what did this week's crawl ADD, REMOVE, or CHANGE
  //    versus the released snapshot?): full outer join of the two
  //    snapshots on doc_id, status decided by presence + fingerprint
  //    equality. Snapshots simulated from one table (old = id % 7 != 0,
  //    new = id % 5 != 0 with every 11th doc's text revised) — the
  //    operator itself is the join/compare shape. ONE co-partitioned
  //    shuffle on doc_id; fingerprints are the 64-bit md5 prefix, so
  //    "changed" never compares full text bytes across the join.
  q("q_corpus_diff",
    """WITH old AS (
      |  SELECT doc_id, substr(md5(text), 1, 16) AS fp
      |  FROM documents WHERE doc_id % 7 <> 0),
      |new AS (
      |  SELECT doc_id, substr(md5(CASE WHEN doc_id % 11 = 0
      |    THEN text || ' rev2' ELSE text END), 1, 16) AS fp
      |  FROM documents WHERE doc_id % 5 <> 0)
      |SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
      |  CASE WHEN old.doc_id IS NULL THEN 'added'
      |       WHEN new.doc_id IS NULL THEN 'removed'
      |       WHEN old.fp = new.fp THEN 'unchanged'
      |       ELSE 'changed' END AS status
      |FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id""") { (s, dir) =>
    val docs = spread(load(s, dir, "documents"))
    val old = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id").as("old_id"), substring(md5(col("text")), 1, 16).as("old_fp"))
    val neu = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("new_id"),
        substring(md5(when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text"))), 1, 16)
          .as("new_fp"))
    old.join(neu, col("old_id") === col("new_id"), "full_outer")
      .select(coalesce(col("old_id"), col("new_id")).as("doc_id"),
        when(col("old_id").isNull, "added")
          .when(col("new_id").isNull, "removed")
          .when(col("old_fp") === col("new_fp"), "unchanged")
          .otherwise("changed").as("status"))
  }

  // -- token-budget sequence packing (the pretraining reality: fixed
  //    2048-token training sequences that CROSS document boundaries —
  //    complementing q_sequence_packing's fixed-chunk-count packs): each
  //    doc's pack is its exclusive token-prefix DIV budget, its offset
  //    the prefix MOD budget. The global prefix sum runs through
  //    operators.PrefixSum — range partition + per-partition totals +
  //    offset map, never a single-task window (the oracle's unpartitioned
  //    OVER clause is the semantic spec, not the plan). Composes with
  //    q_corpus_shuffle: a production run orders by the shuffled
  //    position; doc_id order keeps the oracle simple here.
  q("q_pack_token_budget",
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, n_tokens,
      |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      |  FROM t)
      |SELECT doc_id, n_tokens, CAST(prefix // 2048 AS BIGINT) AS pack_id,
      |  CAST(prefix % 2048 AS BIGINT) AS pack_offset,
      |  (prefix % 2048) + n_tokens > 2048 AS crosses_boundary
      |FROM o""") { (s, dir) =>
    import graft.operators.PrefixSum
    val t = spread(load(s, dir, "documents"))
      .select(col("doc_id"), size(T.tokens(col("text"))).cast("long").as("n_tokens"))
    PrefixSum.exclusive(t, Seq("doc_id"), "n_tokens", "prefix")
      .select(col("doc_id"), col("n_tokens"),
        expr("prefix div 2048").as("pack_id"),
        (col("prefix") % 2048).as("pack_offset"),
        ((col("prefix") % 2048) + col("n_tokens") > 2048).as("crosses_boundary"))
  }

  // -- export shard manifest (the dataset-delivery step: the corpus cut
  //    into fixed-token shards — 10k here, 100M+ in production — with
  //    per-shard doc/token counts and a CONTENT fingerprint: what the
  //    consumer verifies a delivered dataset against, checksum-file
  //    style): shard = exclusive token prefix DIV the shard budget over
  //    the same PrefixSum spine as
  //    q_pack_token_budget; the fingerprint is the BIT-XOR of per-doc
  //    60-bit text hashes — order-insensitive and overflow-free, so it is
  //    stable under any re-partitioning of the shard write and exact on
  //    both engines.
  q("q_export_manifest",
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |      x -> len(x) > 0)) AS BIGINT) AS n_tokens,
       |    ${sqlMd5Long("text")} AS h
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, n_tokens, h,
       |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
       |  FROM t)
       |SELECT CAST(prefix // 10000 AS BIGINT) AS shard_id,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  bit_xor(h) AS content_fp
       |FROM o GROUP BY 1""") { (s, dir) =>
    import graft.operators.PrefixSum
    val t = spread(load(s, dir, "documents"))
      .select(col("doc_id"), size(T.tokens(col("text"))).cast("long").as("n_tokens"),
        T.md5Long(col("text")).as("h"))
    PrefixSum.exclusive(t, Seq("doc_id"), "n_tokens", "prefix")
      .groupBy(expr("prefix div 10000").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        expr("bit_xor(h)").as("content_fp"))
  }

  // -- Kneser-Ney smoothed bigram LM table (Kneser & Ney 1995; the
  //    interpolated form, discount d = 3/4) — the model-build step behind
  //    a KenLM/CCNet-style perplexity filter, upgraded from the raw
  //    count table (q_ngram_lm_counts): p(w|v) = max(c(vw)−d,0)/c(v) +
  //    d·N1+(v·)/c(v) · N1+(·w)/N1+(··). ALL-INTEGER: with d = 3/4 the
  //    whole expression cross-multiplies to
  //      p_micro = (max(4c−3,0)·N1+(··) + 3·N1+(v·)·N1+(·w))·10⁶
  //                DIV (4·c(v)·N1+(··))
  //    — exact BIGINT on both engines (safe while c·N1+(··) ≲ 2·10¹²;
  //    beyond that double scoring is the documented default). Per-context
  //    sums of p_micro stay ≤ 10⁶ (floor rounding) with the residual
  //    mass allocated to unseen words — pinned by CurationOpsSpec.
  //    Shape: three partial-agg'd shuffles over the bigram table (c_vw,
  //    context totals, continuation counts) + one broadcast scalar; the
  //    top-100 is TakeOrderedAndProject, never a global sort.
  q("q_ngram_lm_kn",
    """WITH t AS (
      |  SELECT list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |p AS (
      |  SELECT toks, unnest(range(len(toks) - 1)) AS pos
      |  FROM t WHERE len(toks) >= 2),
      |g AS (SELECT toks[pos + 1] AS v, toks[pos + 2] AS w FROM p),
      |cvw AS (SELECT v, w, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY v, w),
      |cv AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv,
      |         CAST(count(*) AS BIGINT) AS n1v FROM cvw GROUP BY v),
      |cw AS (SELECT w, CAST(count(*) AS BIGINT) AS n1w FROM cvw GROUP BY w),
      |na AS (SELECT CAST(count(*) AS BIGINT) AS n1a FROM cvw)
      |SELECT v || ' ' || w AS bigram, c AS cnt,
      |  ((CASE WHEN 4 * c - 3 > 0 THEN 4 * c - 3 ELSE 0 END) * n1a
      |    + 3 * n1v * n1w) * 1000000 // (4 * cv * n1a) AS p_micro
      |FROM cvw JOIN cv USING (v) JOIN cw USING (w) CROSS JOIN na
      |ORDER BY cnt DESC, bigram LIMIT 100""") { (s, dir) =>
    val g = spread(load(s, dir, "documents"))
      .select(T.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS v, toks[i+1] AS w))"))
        .as("b"))
      .select(col("b.v"), col("b.w"))
    val cvw = g.groupBy("v", "w").agg(count(lit(1)).as("c"))
    val cv = cvw.groupBy("v").agg(sum("c").as("cv"), count(lit(1)).as("n1v"))
    val cw = cvw.groupBy("w").agg(count(lit(1)).as("n1w"))
    val na = cvw.agg(count(lit(1)).as("n1a"))
    cvw.join(cv, "v").join(cw, "w").crossJoin(broadcast(na))
      .select(concat_ws(" ", col("v"), col("w")).as("bigram"),
        col("c").as("cnt"),
        expr("""((CASE WHEN 4 * c - 3 > 0 THEN 4 * c - 3 ELSE 0 END) * n1a
                 + 3 * n1v * n1w) * 1000000 div (4 * cv * n1a)""").as("p_micro"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(100)
  }

  // -- Unicode canonicalization (the pre-tokenization normalize pass a
  //    multilingual corpus needs: composed vs decomposed accents must
  //    fingerprint identically): NFC composition + diacritic strip as
  //    codegen'd custom Expressions (plans/UnicodeNorm.scala — Spark has
  //    no built-in; JDK java.text.Normalizer, semantics matched to
  //    DuckDB's utf8proc twins nfc_normalize/strip_accents, which the
  //    oracle calls directly). Pure map, zero shuffle; the ASCII fast
  //    path returns the input buffer untouched.
  q("q_text_normalize",
    """SELECT doc_id, nfc_normalize(text) AS norm_text,
      |  strip_accents(lower(nfc_normalize(text))) AS folded_text,
      |  strip_accents(lower(nfc_normalize(text))) <> text AS changed
      |FROM documents""") { (s, dir) =>
    import graft.plans.UnicodeNorm
    spread(load(s, dir, "documents"))
      .select(col("doc_id"),
        UnicodeNorm.nfcNormalize(col("text")).as("norm_text"),
        UnicodeNorm.stripAccents(lower(UnicodeNorm.nfcNormalize(col("text"))))
          .as("folded_text"),
        (UnicodeNorm.stripAccents(lower(UnicodeNorm.nfcNormalize(col("text"))))
          =!= col("text")).as("changed"))
  }

  // ------------------------------------------- text -> vector -> retrieval

  /** DuckDB fragment: signed feature-hashed bag-of-words (Weinberger et
    * al. 2009) — dim = h%64, sign = bit 6 of the same 60-bit md5 hash;
    * (doc_id, dim, weight) rows with zero weights dropped. Mirror of the
    * Spark side of q_embed_hashed. */
  private val SqlHashedBow =
    s"""ht AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |hh AS (SELECT doc_id, ${sqlMd5Long("unnest(toks)")} AS h FROM ht),
       |hv AS (
       |  SELECT doc_id, CAST(h % 64 AS INT) AS dim,
       |    CAST(sum(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS weight
       |  FROM hh GROUP BY doc_id, dim
       |  HAVING sum(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END) <> 0)""".stripMargin

  /** Spark twin of [[SqlHashedBow]]: (doc_id, dim, weight) — the shared
    * [[graft.functions.FeatureHash]] kernel (also the live-index path,
    * RetrievalIndexSpec). */
  private def hashedBow(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.functions.FeatureHash.bowRows(
      spread(load(s, dir, "documents")), "doc_id", "text")

  // -- feature-hashed document embeddings (hashing trick, Weinberger et
  //    al. ICML'09): each token hashes to one of 64 dims with a ±1 sign
  //    from the same hash — the self-contained text→vector step that
  //    feeds retrieval/dedup WITHOUT a model. Emitted as sparse
  //    (doc_id, dim, weight) rows — the storage shape an inverted index
  //    wants, and trivially oracle-able. Scale: pure map + one
  //    partial-agg'd shuffle on (doc_id, dim); 64 dims bound the output
  //    to 64·N rows.
  q("q_embed_hashed",
    s"""WITH $SqlHashedBow
       |SELECT doc_id, dim, weight FROM hv""") { (s, dir) =>
    hashedBow(s, dir)
  }

  // -- sparse inverted-index retrieval: cosine top-3 neighbors for a
  //    query batch (doc_id % 100 = 7, capped to the first 500 ids so the
  //    batch is INVARIANT under the 10x bench corpus — copies land at
  //    id + c*(maxId+1) >= 5000 and must not widen the query set) over
  //    the hashed-BoW vectors, with
  //    the dot product computed by an equi-join ON DIM — the
  //    inverted-index/sparse-retrieval shape: only dimensions the two
  //    vectors SHARE ever pair (a posting-list merge), never a dense
  //    scan. Integer dots/norms, one double divide, round 4 — ranking is
  //    engine-exact. Scale: query side broadcasts; the corpus posting
  //    list shuffles once on dim; top-k via the bounded buffer.
  private val SqlRagRetrieval =
    s"""WITH $SqlHashedBow,
       |n2 AS (SELECT doc_id, CAST(sum(weight * weight) AS BIGINT) AS nrm FROM hv GROUP BY doc_id),
       |qv AS (SELECT doc_id AS query_id, dim, weight FROM hv
       |       WHERE doc_id % 100 = 7 AND doc_id < 500),
       |dot AS (
       |  SELECT qv.query_id, hv.doc_id, CAST(sum(qv.weight * hv.weight) AS BIGINT) AS dp
       |  FROM qv JOIN hv ON qv.dim = hv.dim AND qv.query_id <> hv.doc_id
       |  GROUP BY qv.query_id, hv.doc_id),
       |sims AS (
       |  SELECT query_id, dot.doc_id,
       |    round(CAST(dp AS DOUBLE) / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))), 4) AS sim
       |  FROM dot JOIN n2 a ON a.doc_id = query_id JOIN n2 b ON b.doc_id = dot.doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank
       |  FROM sims)
       |SELECT query_id, doc_id, sim, rank FROM ranked WHERE rank <= 3""".stripMargin

  private val ragQueryPredicate = col("doc_id") % 100 === 7 && col("doc_id") < 500

  q("q_rag_retrieval", SqlRagRetrieval) { (s, dir) =>
    import graft.functions.FeatureHash
    val hv = hashedBow(s, dir).cache()
    val n2 = FeatureHash.norms(hv, "doc_id")
    FeatureHash.topK(hv, n2, hv.filter(ragQueryPredicate),
      n2.filter(ragQueryPredicate), "doc_id", k = 3)
  }

  // -- LIVE retrieval index: documents arrive as a stream; each
  //    micro-batch packs its hashed-BoW posting vectors and UPSERTS them
  //    through the crash-safe bucketed view (KTable semantics — a
  //    re-crawled doc replaces its postings); serving then reads the
  //    accumulated view. Hash-equal to the batch rebuild (same oracle as
  //    q_rag_retrieval) — the "index the crawl as it lands, query any
  //    time" shape; RetrievalIndexSpec additionally pins the re-crawl
  //    replacement path across batches.
  q("q_rag_retrieval_live", SqlRagRetrieval) { (s, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    import graft.functions.FeatureHash
    import graft.sources.UpsertView
    val raw = s.read.parquet(s"$dir/documents.parquet")
    val path = java.nio.file.Files
      .createTempDirectory("raglive").toString + "/view"
    val docs = s.readStream.schema(raw.schema).parquet(s"$dir/documents.parq*")
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val packed = FeatureHash
          .pack(FeatureHash.bowRows(batch, "doc_id", "text"), "doc_id")
          .select(col("doc_id"),
            struct(col("postings"), col("nrm")).as("value"),
            lit(new java.sql.Timestamp(id)).as("ts"))
        UpsertView.merge(packed, path, numBuckets = 8, "doc_id", "value", "ts")
        ()
    }.trigger(Trigger.AvailableNow()).start().awaitTermination()
    val packed = s.read.parquet(path)
      .select(col("doc_id"), col("value.postings").as("postings"),
        col("value.nrm").as("nrm"))
    val (rows, norms) = FeatureHash.unpack(packed, "doc_id")
    FeatureHash.topK(rows, norms, rows.filter(ragQueryPredicate),
      norms.filter(ragQueryPredicate), "doc_id", k = 3)
  }

  // -- BM25 full-text search (Robertson/Sparck-Jones, k1=1.2 b=0.75)
  //    over the corpus, ALL-INTEGER: the idf is the log-free odds form
  //    (2(N−df)+1)/(2df+1) (the same no-log discipline as
  //    q_tfidf_topterms), the length normalization quantizes dl/avgdl to
  //    per-mille (dlnorm = dl·N·1000 DIV Σdl), and each term's score is
  //    cross-multiplied into exact integer MICRO-points:
  //      s = 22000·tf·(2N−2df+1)·10⁶ DIV ((10000·tf+3000+9·dlnorm)·(2df+1))
  //    so the per-doc sum is an exact BIGINT and the ranking has no
  //    float summation anywhere (safe while tf·N ≲ 4·10⁸; past the BIGINT
  //    bound the query fails with an overflow error instead of wrapping,
  //    and double scoring is the documented escape).
  //    Queries: each doc_id < 5 queries with its distinct ≥6-char terms.
  //    Scale: functions.Bm25 — the query terms ride the task closures;
  //    two map-only passes over the spread corpus (n, Σdl, df; then tf,
  //    scores and a bounded top-5 per query and partition), then an
  //    exact merge of the ≤ queries × 5 × partitions collected rows.
  q("q_bm25_search",
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
       |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
       |df AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS tl FROM dl),
       |qt AS (
       |  SELECT doc_id AS query_id, token FROM (SELECT DISTINCT doc_id, token FROM tok)
       |  WHERE doc_id < 5 AND len(token) >= 6),
       |hit AS (
       |  SELECT qt.query_id, tf.doc_id, tf.token, tf.tf
       |  FROM qt JOIN tf ON qt.token = tf.token AND tf.doc_id <> qt.query_id),
       |sc AS (
       |  SELECT hit.query_id, hit.doc_id,
       |    (22000 * tf * (2 * t2.n - 2 * df.df + 1) * 1000000)
       |      // ((10000 * tf + 3000 + 9 * (d.dl * t2.n * 1000 // t2.tl)) * (2 * df.df + 1))
       |      AS s
       |  FROM hit
       |  JOIN df ON df.token = hit.token
       |  JOIN dl d ON d.doc_id = hit.doc_id
       |  CROSS JOIN tot t2),
       |agg AS (
       |  SELECT query_id, doc_id, CAST(sum(s) AS BIGINT) AS score_micro
       |  FROM sc GROUP BY query_id, doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, score_micro,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rank
       |  FROM agg)
       |SELECT query_id, doc_id, score_micro, rank FROM ranked WHERE rank <= 5""") { (s, dir) =>
    graft.functions.Bm25.topK(spread(load(s, dir, "documents")),
      load(s, dir, "documents").filter(col("doc_id") < 5), k = 5)
  }

  // -- REAL image resize round-trip: encode the deterministic PNG per
  //    doc, decode the raster through the JDK codec, nearest-neighbor
  //    resample to 16×16 (integer floor sampling — bit-deterministic,
  //    unlike Graphics2D interpolation), re-encode, decode AGAIN and
  //    checksum the result. Because the test pattern and the sampling
  //    grid are both integer arithmetic, the oracle reproduces the
  //    post-resize checksum arithmetically — the decode→resize→encode→
  //    decode chain must be pixel-exact end to end or the hash
  //    mismatches. Scale shape: pure partition-wise 1→1 map, zero
  //    shuffle (production reads bytes from the object store).
  q("q_multimodal_resize",
    """SELECT doc_id, 'png' AS format, CAST(16 AS INT) AS width,
      |  CAST(16 AS INT) AS height,
      |  CAST(list_sum(flatten([[
      |      (doc_id + ((x * (8 + doc_id % 32)) // 16) * 31
      |              + ((y * (8 + doc_id % 24)) // 16) * 17) & 255
      |      for x in range(16)] for y in range(16)])) AS BIGINT) AS checksum
      |FROM documents""") { (s, dir) =>
    import graft.multimodal.MediaCodec
    import s.implicits._
    spread(load(s, dir, "documents").select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val bytes =
            MediaCodec.encodePng((8 + id % 32).toInt, (8 + id % 24).toInt, id)
          val resized = MediaCodec.resizeNearest(bytes, 16, 16).getOrElse(
            sys.error(s"JDK reader rejected its own png for doc $id"))
          val (w, h, fmt) = MediaCodec.imageMeta(resized).getOrElse(
            sys.error(s"JDK reader rejected the resized png for doc $id"))
          val cs = MediaCodec.rasterChecksum(resized).getOrElse(
            sys.error(s"resized png failed raster decode for doc $id"))
          (id, fmt, w, h, cs)
        }
      }.toDF("doc_id", "format", "width", "height", "checksum")
  }

  /** DuckDB CTE pair computing the exact integer sqrt of `$fromCte.s`
    * (HUGEINT): floor(sqrt(double)) seed, then a ±2 CASE correction —
    * the double seed is always within 2 of the true isqrt at these
    * magnitudes, so the CASE lands on the exact greatest n with n² ≤ s
    * (mirror of PowerIteration.isqrt). */
  private def sqlIsqrt(name: String, fromCte: String): String =
    s"""${name}_c0 AS (SELECT s,
       |  CAST(floor(sqrt(CAST(s AS DOUBLE))) AS BIGINT) AS c0 FROM $fromCte),
       |$name AS (SELECT CASE
       |    WHEN CAST(c0 + 2 AS HUGEINT) * (c0 + 2) <= s THEN c0 + 2
       |    WHEN CAST(c0 + 1 AS HUGEINT) * (c0 + 1) <= s THEN c0 + 1
       |    WHEN CAST(c0 AS HUGEINT) * c0 <= s THEN c0
       |    WHEN CAST(c0 - 1 AS HUGEINT) * (c0 - 1) <= s THEN c0 - 1
       |    ELSE c0 - 2 END AS nrm FROM ${name}_c0)""".stripMargin

  /** DuckDB CTEs for one power-iteration round on the micro grid:
    * v_{k-1} → d_k (per-row dot) → r_k (Cv micro) → v_k (renormalized).
    * Identical truncated-integer arithmetic to PowerIteration. */
  private def sqlPowerStep(k: Int): String =
    s"""d$k AS (SELECT x.vec_id, CAST(sum(x.xm * v.vm) // 1000000 AS BIGINT) AS dm
       |  FROM xm x JOIN v${k - 1} v USING (pos) GROUP BY x.vec_id),
       |r$k AS (SELECT x.pos, CAST(sum((x.xm * d.dm) // 1000000) AS BIGINT) AS raw
       |  FROM xm x JOIN d$k d USING (vec_id) GROUP BY x.pos),
       |n${k}s AS (SELECT CAST(sum(CAST(raw AS HUGEINT) * raw) AS HUGEINT) AS s FROM r$k),
       |${sqlIsqrt(s"n$k", s"n${k}s")},
       |v$k AS (SELECT pos, CAST(CAST(raw AS HUGEINT) * 1000000 // nrm AS BIGINT) AS vm
       |  FROM r$k CROSS JOIN n$k)""".stripMargin

  // -- top principal component of the embedding corpus by distributed
  //    power iteration (functions.PowerIteration) — the whitening/drift
  //    diagnostic before indexing. ALL-INTEGER (promoted from rows-only
  //    this round): every step lives on the 1e-6 micro grid as BIGINT —
  //    the once-quantized corpus xm, the per-row dot products, the Cv
  //    sums, AND the between-iteration renormalization (exact integer
  //    sqrt + truncated division) — so the 4-round loop unrolls as
  //    DuckDB CTEs bit-exactly, the q_pagerank_dupgraph recipe.
  //    Planted-direction recovery / Rayleigh dominance / partitioning
  //    bit-equality stay pinned by PowerIterationSpec. Per iteration:
  //    one codegen'd dot-product map + one (pos, BIGINT micro-sum) agg —
  //    dim rows to the driver, linear in the corpus.
  q("q_embed_pca", {
    val steps = (1 to 4).map(sqlPowerStep).mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |xm AS (SELECT vec_id, CAST(unnest(range(len(embedding))) AS INT) AS pos,
       |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xm
       |       FROM e),
       |d0s AS (SELECT CAST(len(embedding) AS HUGEINT) * 1000000 * 1000000 AS s
       |        FROM e LIMIT 1),
       |${sqlIsqrt("d0", "d0s")},
       |v0 AS (SELECT pos, CAST(CAST(1000000000000 AS HUGEINT) // nrm AS BIGINT) AS vm
       |       FROM (SELECT DISTINCT pos FROM xm) CROSS JOIN d0),
       |$steps,
       |lam AS (SELECT CAST(sum(CAST(r.raw AS HUGEINT) * v.vm) // 1000000 AS BIGINT) AS l
       |        FROM r4 r JOIN v3 v USING (pos)),
       |tr AS (SELECT CAST(sum(n2) AS BIGINT) AS t FROM
       |       (SELECT vec_id, CAST(sum(x.xm * x.xm) // 1000000 AS BIGINT) AS n2
       |        FROM xm x GROUP BY vec_id)),
       |ratio AS (SELECT CASE WHEN t = 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST(CAST(l AS HUGEINT) * 1000000 // t AS BIGINT) END AS em
       |  FROM lam CROSS JOIN tr),
       |piv AS (SELECT CASE WHEN vm < 0 THEN -1 ELSE 1 END AS sgn
       |        FROM v4 ORDER BY abs(vm) DESC, pos LIMIT 1)
       |SELECT pos, CAST(vm * sgn AS BIGINT) AS loading_micro, em AS explained_micro
       |FROM v4 CROSS JOIN piv CROSS JOIN ratio"""
  }) { (s, dir) =>
    import graft.functions.PowerIteration
    val emb = spread(load(s, dir, "embeddings"))
    val (vm, ratioMicro) =
      PowerIteration.topComponentMicro(emb, "embedding", iters = 4)
    import s.implicits._
    vm.toSeq.zipWithIndex
      .map { case (m, i) => (i, m, ratioMicro) }
      .toDF("pos", "loading_micro", "explained_micro")
  }

  // -- Count-Min sketch heavy hitters: the bounded-memory frequency
  //    summary (operators.CountMinSketch — depth×width BIGINT cells at
  //    ANY corpus size) probed with the exact top-20 words; the readout
  //    shows the classic one-sided error (estimate >= exact, overestimate
  //    bounded by collisions). The md5 hash family makes the sketch —
  //    and so the estimates — bit-reproducible in DuckDB; mergeability /
  //    partitioning-independence are pinned by CountMinSketchSpec.
  q("q_heavy_hitters_cms", {
    def h(r: String, e: String) =
      s"CAST('0x' || substr(md5($r || ':' || $e), 1, 15) AS BIGINT) % 512"
    s"""WITH t AS (SELECT unnest($SqlTokens) AS w FROM documents),
       |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY w),
       |top AS (SELECT w, c FROM wc ORDER BY c DESC, w LIMIT 20),
       |r AS (SELECT CAST(unnest([0,1,2,3]) AS VARCHAR) AS r),
       |cells AS (
       |  SELECT r.r, ${h("r.r", "wc.w")} AS bucket, CAST(sum(c) AS BIGINT) AS cnt
       |  FROM wc CROSS JOIN r GROUP BY 1, 2),
       |est AS (
       |  SELECT top.w, top.c, min(cells.cnt) AS est
       |  FROM top CROSS JOIN r
       |  JOIN cells ON cells.r = r.r AND cells.bucket = ${h("r.r", "top.w")}
       |  GROUP BY top.w, top.c)
       |SELECT w, c AS exact_count, CAST(est AS BIGINT) AS cms_estimate,
       |  CAST(est - c AS BIGINT) AS overestimate
       |FROM est"""
  }) { (s, dir) =>
    import graft.operators.CountMinSketch
    val toks = spread(load(s, dir, "documents"))
      .select(explode(T.tokens(col("text"))).as("w"))
    val sketch = CountMinSketch.build(toks, "w", width = 512, depth = 4)
    val top = toks.groupBy("w").agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("w")).limit(20)
    CountMinSketch.estimate(sketch, top, "w", width = 512, depth = 4)
      .select(col("w"), col("exact_count"), col("cms_estimate"),
        (col("cms_estimate") - col("exact_count")).as("overestimate"))
  }

  // -- LIVE sketch maintenance — the streaming shape: the corpus replays
  //    through a running query whose ONLY state is the d×w cell table
  //    (update-mode counts keyed by (r, bucket) — bounded forever, the
  //    sketch point of sketches); the final cells must equal the batch
  //    build, so the estimates match the same oracle.
  q("q_heavy_hitters_cms_live", {
    def h(r: String, e: String) =
      s"CAST('0x' || substr(md5($r || ':' || $e), 1, 15) AS BIGINT) % 512"
    s"""WITH t AS (SELECT unnest($SqlTokens) AS w FROM documents),
       |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY w),
       |top AS (SELECT w, c FROM wc ORDER BY c DESC, w LIMIT 20),
       |r AS (SELECT CAST(unnest([0,1,2,3]) AS VARCHAR) AS r),
       |cells AS (
       |  SELECT r.r, ${h("r.r", "wc.w")} AS bucket, CAST(sum(c) AS BIGINT) AS cnt
       |  FROM wc CROSS JOIN r GROUP BY 1, 2),
       |est AS (
       |  SELECT top.w, top.c, min(cells.cnt) AS est
       |  FROM top CROSS JOIN r
       |  JOIN cells ON cells.r = r.r AND cells.bucket = ${h("r.r", "top.w")}
       |  GROUP BY top.w, top.c)
       |SELECT w, c AS exact_count, CAST(est AS BIGINT) AS cms_estimate,
       |  CAST(est - c AS BIGINT) AS overestimate
       |FROM est"""
  }) { (s, dir) =>
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/documents.parquet")
    val docs = s.readStream.schema(raw.schema).parquet(s"$dir/documents.parq*")
    val cells = graft.operators.CountMinSketch.build(
      docs.select(explode(T.tokens(col("text"))).as("w")), "w",
      width = 512, depth = 4)
    val name = s"cms_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    cells.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val sketch = s.table(name)
    val toks = spread(load(s, dir, "documents"))
      .select(explode(T.tokens(col("text"))).as("w"))
    val top = toks.groupBy("w").agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("w")).limit(20)
    graft.operators.CountMinSketch.estimate(sketch, top, "w",
        width = 512, depth = 4)
      .select(col("w"), col("exact_count"), col("cms_estimate"),
        (col("cms_estimate") - col("exact_count")).as("overestimate"))
  }

  /** DuckDB CTE mirror of the HLL register/estimate algebra, shared by
    * the batch and live twins (identical final state by construction). */
  private val SqlHllQuery: String =
    s"""WITH t AS (SELECT source, unnest($SqlTokens) AS w FROM documents),
       |h AS (SELECT source, w, ${sqlMd5Long("w")} AS h FROM t),
       |r AS (SELECT source, h % 64 AS j,
       |        max(CASE WHEN h // 64 = 0 THEN 55
       |            ELSE 55 - length(bin(h // 64)) END) AS mj
       |      FROM h GROUP BY source, h % 64),
       |s AS (SELECT source,
       |        CAST(sum(CASE WHEN mj <= 30 THEN CAST(1 AS BIGINT) << (30 - mj)
       |                 ELSE 0 END) AS BIGINT) AS sp,
       |        count(*) AS np
       |      FROM r GROUP BY source),
       |e AS (SELECT source, (64 - np) * 1073741824 + sp AS s2,
       |        CAST(64 - np AS BIGINT) AS nz FROM s),
       |raw AS (SELECT source, nz,
       |        CAST(${graft.operators.HyperLogLog.AlphaNum} // (s2 * 1000) AS BIGINT) AS re FROM e),
       |x AS (SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS n_exact
       |      FROM t GROUP BY source)
       |SELECT x.source, x.n_exact,
       |  CAST(CASE WHEN nz > 0 AND re <= ${graft.operators.HyperLogLog.LcThreshold}
       |       THEN list_extract([${graft.operators.HyperLogLog.LcTable.mkString(", ")}],
       |                         CAST(nz AS INT))
       |       ELSE re END AS BIGINT) AS hll_estimate,
       |  nz AS n_zero_registers
       |FROM x JOIN raw USING (source)""".stripMargin

  // -- HyperLogLog distinct words per source (operators.HyperLogLog —
  //    64 BIGINT registers per group at ANY corpus size) read out against
  //    the exact distinct count. The md5 hash family and the all-integer
  //    register/estimate algebra (rho via length(bin), harmonic sum in
  //    2^-30 units, one truncated division) make the sketch — and the
  //    estimate — bit-reproducible in DuckDB, unlike Spark's built-in
  //    approx_count_distinct whose register layout is engine-private.
  //    Mergeability / partitioning-independence are pinned by
  //    HyperLogLogSpec. Scale: one (source, register) hash agg, then a
  //    |sources|·64-row fold — the corpus is touched once.
  q("q_hll_distinct", SqlHllQuery) { (s, dir) =>
    import graft.operators.HyperLogLog
    val toks = spread(load(s, dir, "documents"))
      .select(col("source"), explode(T.tokens(col("text"))).as("w"))
    val regs = HyperLogLog.registers(toks, "w", Seq("source"))
    val exact = toks.groupBy("source")
      .agg(countDistinct(col("w")).as("n_exact"))
    exact.join(HyperLogLog.estimate(regs, Seq("source")), Seq("source"))
      .select(col("source"), col("n_exact"), col("hll_estimate"),
        col("n_zero_registers"))
  }

  // -- WINDOWED HLL: distinct users per 1-hour tumbling window through
  //    the same bit-reproducible register algebra — sketch COMPOSED with
  //    event-time windowing, the "unique visitors per hour at any
  //    cardinality" report. Scale shape: state is |windows|·64 BIGINT
  //    registers regardless of user cardinality (exact countDistinct
  //    would shuffle every (window, user) pair; the registers
  //    partial-agg map-side). The exact count rides along at oracle
  //    scale as the accuracy readout.
  /** Oracle shared by the windowed-HLL batch and live twins (identical
    * final registers by construction). */
  private val SqlHllWindowed: String = {
    import graft.operators.HyperLogLog.{AlphaNum, LcTable, LcThreshold}
    s"""WITH t AS (SELECT ts - to_microseconds(epoch_us(ts) % 3600000000)
       |             AS window_start,
       |           CAST(user_id AS VARCHAR) AS w
       |      FROM events),
       |h AS (SELECT window_start, w, ${sqlMd5Long("w")} AS h FROM t),
       |r AS (SELECT window_start, h % 64 AS j,
       |        max(CASE WHEN h // 64 = 0 THEN 55
       |            ELSE 55 - length(bin(h // 64)) END) AS mj
       |      FROM h GROUP BY window_start, h % 64),
       |s AS (SELECT window_start,
       |        CAST(sum(CASE WHEN mj <= 30 THEN CAST(1 AS BIGINT) << (30 - mj)
       |                 ELSE 0 END) AS BIGINT) AS sp,
       |        count(*) AS np
       |      FROM r GROUP BY window_start),
       |e AS (SELECT window_start, (64 - np) * 1073741824 + sp AS s2,
       |        CAST(64 - np AS BIGINT) AS nz FROM s),
       |raw AS (SELECT window_start, nz,
       |        CAST($AlphaNum // (s2 * 1000) AS BIGINT) AS re FROM e),
       |x AS (SELECT window_start, CAST(count(DISTINCT w) AS BIGINT) AS n_exact
       |      FROM t GROUP BY window_start)
       |SELECT x.window_start, x.n_exact,
       |  CAST(CASE WHEN nz > 0 AND re <= $LcThreshold
       |       THEN list_extract([${LcTable.mkString(", ")}], CAST(nz AS INT))
       |       ELSE re END AS BIGINT) AS hll_estimate,
       |  nz AS n_zero_registers
       |FROM x JOIN raw USING (window_start)""".stripMargin
  }

  q("q_hll_windowed", SqlHllWindowed) { (s, dir) =>
    import graft.operators.HyperLogLog
    val items = load(s, dir, "events")
      .select(window(col("ts"), "1 hour")("start").as("window_start"),
        col("user_id").cast("string").as("w"))
    val regs = HyperLogLog.registers(items, "w", Seq("window_start"))
    val exact = items.groupBy("window_start")
      .agg(countDistinct(col("w")).as("n_exact"))
    exact.join(HyperLogLog.estimate(regs, Seq("window_start")),
        Seq("window_start"))
      .select(col("window_start"), col("n_exact"), col("hll_estimate"),
        col("n_zero_registers"))
  }

  // -- LIVE register maintenance — the streaming shape: the corpus
  //    replays through a running query whose ONLY state is the
  //    (source, register) max table (update mode — bounded at
  //    |sources|·64 rows forever, the sketch point); the final registers
  //    must equal the batch build, so the estimates match the same
  //    oracle (the q_heavy_hitters_cms_live pattern for cardinality).
  q("q_hll_distinct_live", SqlHllQuery) { (s, dir) =>
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.operators.HyperLogLog
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/documents.parquet")
    val docs = s.readStream.schema(raw.schema).parquet(s"$dir/documents.parq*")
    val regs = HyperLogLog.registers(
      docs.select(col("source"), explode(T.tokens(col("text"))).as("w")),
      "w", Seq("source"))
    val name = s"hll_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    regs.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val finalRegs = s.table(name)
    val toks = spread(load(s, dir, "documents"))
      .select(col("source"), explode(T.tokens(col("text"))).as("w"))
    val exact = toks.groupBy("source")
      .agg(countDistinct(col("w")).as("n_exact"))
    exact.join(HyperLogLog.estimate(finalRegs, Seq("source")), Seq("source"))
      .select(col("source"), col("n_exact"), col("hll_estimate"),
        col("n_zero_registers"))
  }

  // -- LIVE windowed-HLL maintenance: events replay through a running
  //    query whose ONLY state is the (window, register) max table
  //    (complete mode — |windows|·64 rows forever); the final registers
  //    must equal the batch build, so the per-window estimates match the
  //    batch oracle verbatim (the q_hll_distinct_live pattern composed
  //    with event-time windowing).
  q("q_hll_windowed_live", SqlHllWindowed) { (s, dir) =>
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.operators.HyperLogLog
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/events.parquet")
    val ev = s.readStream.schema(raw.schema).parquet(s"$dir/events.parq*")
      .transform(graft.Tables.tsNormalized)
    val regs = HyperLogLog.registers(
      ev.select(window(col("ts"), "1 hour")("start").as("window_start"),
        col("user_id").cast("string").as("w")),
      "w", Seq("window_start"))
    val name = s"hllw_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    regs.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val finalRegs = s.table(name)
    val items = load(s, dir, "events")
      .select(window(col("ts"), "1 hour")("start").as("window_start"),
        col("user_id").cast("string").as("w"))
    val exact = items.groupBy("window_start")
      .agg(countDistinct(col("w")).as("n_exact"))
    exact.join(HyperLogLog.estimate(finalRegs, Seq("window_start")),
        Seq("window_start"))
      .select(col("window_start"), col("n_exact"), col("hll_estimate"),
        col("n_zero_registers"))
  }

  // -- PageRank over the near-dup graph (3 iterations, damping 0.85):
  //    centrality of each document inside its duplicate neighborhood —
  //    the "which copy is the hub" signal a cluster-representative picker
  //    can use instead of min-id. ALL-INTEGER: ranks live in 1e6 micro
  //    units, the damped share is (r·17 DIV 20) DIV deg — identical
  //    floor arithmetic on both engines, so the oracle (the same three
  //    steps unrolled as CTEs over the shared MinHash pair CTEs) is
  //    bit-exact. Scale shape: per iteration ONE edge-list equi-join +
  //    partial-agg'd sum (the textbook distributed PageRank); each round
  //    localCheckpoints so the loop's plan does not grow (the BPE/CC
  //    discipline); driver holds only the node count.
  q("q_pagerank_dupgraph", {
    def step(prev: String, out: String) =
      s"""s_$out AS (
         |  SELECT sym.b AS n, CAST(sum((($prev.r * 17) // 20) // $prev.d) AS BIGINT) AS m
         |  FROM sym JOIN $prev ON sym.a = $prev.n GROUP BY sym.b),
         |$out AS (
         |  SELECT deg.n, deg.d,
         |    CAST(150000 // nn.nN AS BIGINT) + coalesce(s_$out.m, 0) AS r
         |  FROM deg CROSS JOIN nn LEFT JOIN s_$out ON s_$out.n = deg.n)"""
    s"""WITH $SqlMinhashPairCtes,
       |pairs AS ($SqlMinhashPairSelect),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
       |deg AS (SELECT a AS n, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY a),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS nN FROM deg),
       |r0 AS (SELECT deg.n, deg.d, CAST(1000000 // nn.nN AS BIGINT) AS r
       |       FROM deg CROSS JOIN nn),
       |${step("r0", "r1")},
       |${step("r1", "r2")},
       |${step("r2", "r3")}
       |SELECT n AS doc_id, d AS degree, r AS rank_micro FROM r3"""
  }) { (s, dir) =>
    val pairs = minhashPairs(s, dir)
    val sym = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionByName(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .localCheckpoint()
    val deg = sym.groupBy(col("a").as("n")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    val nN = deg.count() // bounded by contract: graph node count
    var r = deg.select(col("n"), col("d"), lit(1000000L / nN).as("r"))
    for (_ <- 1 to 3) {
      val contrib = sym.join(r, sym("a") === r("n"))
        .select(col("b").as("n2"), expr("((r * 17) div 20) div d").as("sh"))
        .groupBy("n2").agg(sum("sh").as("m"))
      r = deg.join(contrib, deg("n") === contrib("n2"), "left")
        .select(deg("n"), deg("d"),
          (lit(150000L / nN) + coalesce(col("m"), lit(0L))).as("r"))
        // lazy (r15): lineage truncation is what the loop needs; eager
        // materialization cost 3 extra jobs for a 3-step fixed iteration
        .localCheckpoint(false)
    }
    r.select(col("n").as("doc_id"), col("d").as("degree"),
      col("r").as("rank_micro"))
  }

  // -- REAL audio decode (JDK javax.sound.sampled — WAV is a JDK codec
  //    like PNG is for imageio): synthesize a deterministic PCM16 signal
  //    per doc, encode a real RIFF/WAVE container, then the pipeline does
  //    a REAL header parse (sample rate / channels / frame count from the
  //    actual RIFF chunks) + REAL PCM decode, and reports per-window
  //    absolute-amplitude energy. PCM is lossless, so the oracle mirrors
  //    the signal arithmetically — the encode→decode chain must be
  //    sample-exact end to end or the hash mismatches (the
  //    q_multimodal_resize discipline, extended to audio). Map-only: one
  //    partition-wise 1→8 expansion, zero shuffle before the final agg.
  /** Per-doc synthetic PCM16 WAV, plain-signal recipe (q_multimodal_audio). */
  private[graft] def plainWavBytes(id: Long): Array[Byte] = {
    val n = (800 + (id % 5) * 80).toInt
    val samples = Array.tabulate(n)(i =>
      ((id * 131L + i * 17L) % 4096L - 2048L).toShort)
    graft.multimodal.MediaCodec.encodeWavPcm16(8000, samples)
  }

  /** Decode+analyze half of q_multimodal_audio: real RIFF parse + PCM
    * decode + 8-window energy — the work a 100 TB pass re-runs per asset
    * (synthesis is the corpus, not the operator). */
  private[graft] def audioEnergyRows(id: Long,
      wav: Array[Byte]): Iterator[(Long, Long, Long, Long, Long)] = {
    import graft.multimodal.MediaCodec
    // one JDK codec pass (r15): meta and samples from the same
    // AudioInputStream — the old audioMeta+decodePcm16 pair paid the
    // AudioSystem provider scan and RIFF parse twice per asset
    // r16 (ADVICE r15 low): format rejections carry the decoded fields
    // (channel count etc.) instead of collapsing into "reader rejected"
    val (sr, ch, frames, decoded) = MediaCodec.decodePcm16WithMeta(wav) match {
      case Right(v) => v
      case Left(why) => sys.error(s"JDK audio decode failed for doc $id: $why")
    }
    require(ch == 1, s"doc $id decoded $ch channels")
    val winLen = decoded.length / 8
    (0 until 8).iterator.map { w =>
      var sum = 0L
      var i = w * winLen
      while (i < (w + 1) * winLen) { sum += math.abs(decoded(i).toLong); i += 1 }
      (id, sr.toLong, frames, w.toLong, sum)
    }
  }

  q("q_multimodal_audio",
    """WITH p AS (SELECT doc_id, 800 + (doc_id % 5) * 80 AS n FROM documents),
      |s AS (SELECT doc_id, n, unnest(range(n)) AS i FROM p),
      |v AS (SELECT doc_id, n, i,
      |        abs((doc_id * 131 + i * 17) % 4096 - 2048) AS a
      |      FROM s)
      |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
      |  CAST(n AS BIGINT) AS n_frames,
      |  CAST(i // (n // 8) AS BIGINT) AS win,
      |  CAST(sum(a) AS BIGINT) AS abs_sum
      |FROM v GROUP BY doc_id, n, i // (n // 8)""") { (s, dir) =>
    import s.implicits._
    spread(load(s, dir, "documents").select(col("doc_id"))).as[Long]
      .mapPartitions(_.flatMap(id => audioEnergyRows(id, plainWavBytes(id))))
      .toDF("doc_id", "sample_rate", "n_frames", "win", "abs_sum")
  }

  // -- frame-container "video" path: real PNG frames in a length-prefixed
  //    container (the JDK has no demuxer, so the FRAMING is ours; every
  //    frame inside decodes through the REAL imageio path). The pipeline
  //    parses the container, samples every 2nd frame (the frame-sample
  //    step of a vision-pipeline ingest), raster-decodes each sampled
  //    frame for real, and reports the per-frame checksum the oracle
  //    mirrors arithmetically. 1→frames/2 partition-wise expansion, zero
  //    shuffle.
  q("q_multimodal_video_frames",
    """WITH p AS (SELECT doc_id, 4 + doc_id % 4 AS nf, 8 + doc_id % 8 AS w
      |           FROM documents),
      |f AS (SELECT doc_id, nf, w, unnest(range(nf)) AS fi FROM p),
      |sampled AS (SELECT * FROM f WHERE fi % 2 = 0),
      |px AS (SELECT doc_id, nf, fi, w, unnest(range(w)) AS x FROM sampled),
      |pxy AS (SELECT doc_id, nf, fi, x,
      |          unnest(range(8)) AS y FROM px)
      |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
      |  CAST(fi AS BIGINT) AS frame_idx,
      |  CAST(sum((doc_id * 7 + fi * 131 + x * 31 + y * 17) & 255) AS BIGINT)
      |    AS checksum
      |FROM pxy GROUP BY doc_id, nf, fi""") { (s, dir) =>
    import graft.multimodal.MediaCodec
    import s.implicits._
    spread(load(s, dir, "documents").select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val nf = (4 + id % 4).toInt
          val w = (8 + id % 8).toInt
          val container = MediaCodec.encodeFrameContainer(
            (0 until nf).map(f => MediaCodec.encodePng(w, 8, id * 7L + f * 131L)))
          val frames = MediaCodec.decodeFrameContainer(container).getOrElse(
            sys.error(s"container parse failed for doc $id"))
          require(frames.length == nf, s"doc $id: torn container")
          frames.zipWithIndex.iterator
            .filter(_._2 % 2 == 0) // frame sampling
            .map { case (png, fi) =>
              val cs = MediaCodec.rasterChecksum(png).getOrElse(
                sys.error(s"JDK reader rejected frame $fi of doc $id"))
              (id, nf.toLong, fi.toLong, cs)
            }
        }
      }.toDF("doc_id", "n_frames", "frame_idx", "checksum")
  }

  // -- audio silence/clipping analysis (VAD-shaped): the synth PCM now
  //    carries silent 50-sample blocks (every 4th block, phase by doc)
  //    and scattered clipped samples; the pipeline does the REAL
  //    encode→RIFF parse→PCM decode chain (q_multimodal_audio) and then
  //    scans the DECODED samples imperatively for clip counts and
  //    maximal silence runs — the pre-ASR gate (drop dead air, flag
  //    clipped takes) an audio intake runs. The oracle mirrors the
  //    signal arithmetically and the runs via gaps-and-islands; decode
  //    must be sample-exact or run lengths shift. Map-only, per-doc
  //    aggregates, zero shuffle.
  q("q_audio_vad",
    """WITH p AS (SELECT doc_id, 800 + (doc_id % 5) * 80 AS n FROM documents),
      |sidx AS (SELECT doc_id, n, unnest(range(n)) AS i FROM p),
      |v AS (SELECT doc_id, n, i,
      |        CASE WHEN ((i // 50) + doc_id) % 4 = 0 THEN 0
      |             WHEN (doc_id * 31 + i * 7) % 23 = 0 THEN
      |               CASE WHEN i % 2 = 0 THEN 2047 ELSE -2048 END
      |             ELSE (doc_id * 131 + i * 17) % 4096 - 2048 END AS s
      |      FROM sidx),
      |base AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS n_samples,
      |           CAST(count(*) FILTER (WHERE s = 2047 OR s = -2048) AS BIGINT)
      |             AS n_clipped,
      |           CAST(count(*) FILTER (WHERE s = 0) AS BIGINT) AS n_silent
      |         FROM v GROUP BY doc_id),
      |z AS (SELECT doc_id, i,
      |        i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      |      FROM v WHERE s = 0),
      |runs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len
      |         FROM z GROUP BY doc_id, grp),
      |rr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_silent_runs,
      |         CAST(max(len) AS BIGINT) AS longest_silent_run
      |       FROM runs GROUP BY doc_id)
      |SELECT b.doc_id, b.n_samples, b.n_clipped, b.n_silent,
      |  coalesce(rr.n_silent_runs, 0) AS n_silent_runs,
      |  coalesce(rr.longest_silent_run, 0) AS longest_silent_run
      |FROM base b LEFT JOIN rr USING (doc_id)""") { (s, dir) =>
    import s.implicits._
    spread(load(s, dir, "documents").select(col("doc_id"))).as[Long]
      .mapPartitions(_.map(id => vadRow(id, vadWavBytes(id))))
      .toDF("doc_id", "n_samples", "n_clipped", "n_silent",
        "n_silent_runs", "longest_silent_run")
  }

  /** Per-doc synthetic PCM16 WAV, VAD-signal recipe (silent 50-sample
    * blocks every 4th block, scattered clipped samples). */
  private[graft] def vadWavBytes(id: Long): Array[Byte] = {
    val n = (800 + (id % 5) * 80).toInt
    val samples = Array.tabulate(n) { i =>
      if (((i / 50) + id) % 4 == 0) 0.toShort
      else if ((id * 31L + i * 7L) % 23L == 0L)
        (if (i % 2 == 0) 2047 else -2048).toShort
      else ((id * 131L + i * 17L) % 4096L - 2048L).toShort
    }
    graft.multimodal.MediaCodec.encodeWavPcm16(8000, samples)
  }

  /** Decode+analyze half of q_audio_vad: real PCM decode + clip count +
    * silence-run scan over the DECODED samples. */
  private[graft] def vadRow(id: Long,
      wav: Array[Byte]): (Long, Long, Long, Long, Long, Long) = {
    val decoded = graft.multimodal.MediaCodec.decodePcm16(wav).getOrElse(
      sys.error(s"wav failed PCM decode for doc $id"))
    var (nClip, nSil, runs, longest, cur) = (0L, 0L, 0L, 0L, 0L)
    decoded.foreach { v =>
      if (v == 2047 || v == -2048) nClip += 1
      if (v == 0) {
        nSil += 1; cur += 1
        if (cur == 1L) runs += 1
        if (cur > longest) longest = cur
      } else cur = 0L
    }
    (id, decoded.length.toLong, nClip, nSil, runs, longest)
  }

  // -- video scene-cut detection over the frame container: per-doc frame
  //    seeds advance by 1 (smooth) and jump by +199 every 3rd frame (a
  //    cut), so consecutive REAL-decoded rasters differ by ~1 gray level
  //    within a scene and by ~90 across a cut. The pipeline demuxes the
  //    container, decodes EVERY frame through imageio, computes
  //    |Δgray| sums between consecutive frames (MediaCodec.rasterAbsDiff)
  //    and thresholds at 40·pixels — the shot-boundary pass a video
  //    intake runs before frame sampling. Oracle mirrors the pixel
  //    arithmetic; the decode chain must be pixel-exact end to end.
  //    1→(frames-1) partition-wise expansion, zero shuffle.
  q("q_video_scenecut",
    """WITH p AS (SELECT doc_id, 4 + doc_id % 4 AS nf, 8 + doc_id % 8 AS w
      |           FROM documents),
      |f AS (SELECT doc_id, nf, w, unnest(range(1, nf)) AS fi FROM p),
      |px AS (SELECT doc_id, nf, w, fi, unnest(range(w)) AS x FROM f),
      |pxy AS (SELECT doc_id, nf, w, fi, x, unnest(range(8)) AS y FROM px),
      |d AS (SELECT doc_id, nf, fi, w,
      |        CAST(sum(abs(
      |          ((doc_id * 7 + fi + (fi // 3) * 199 + x * 31 + y * 17) & 255) -
      |          ((doc_id * 7 + (fi - 1) + ((fi - 1) // 3) * 199 + x * 31 + y * 17) & 255)
      |        )) AS BIGINT) AS diff_sum
      |      FROM pxy GROUP BY doc_id, nf, fi, w)
      |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
      |  CAST(fi AS BIGINT) AS frame_idx, diff_sum,
      |  diff_sum > 40 * w * 8 AS is_cut
      |FROM d""") { (s, dir) =>
    import s.implicits._
    spread(load(s, dir, "documents").select(col("doc_id"))).as[Long]
      .mapPartitions(_.flatMap(id => scenecutRows(id, scenecutContainerBytes(id))))
      .toDF("doc_id", "n_frames", "frame_idx", "diff_sum", "is_cut")
  }

  /** Per-doc synthetic frame container, scene-cut recipe: frame seeds
    * advance by 1 within a scene and jump +199 every 3rd frame. */
  private[graft] def scenecutContainerBytes(id: Long): Array[Byte] = {
    import graft.multimodal.MediaCodec
    val nf = (4 + id % 4).toInt
    val w = (8 + id % 8).toInt
    def seed(f: Int): Long = id * 7L + f + (f / 3) * 199L
    MediaCodec.encodeFrameContainer(
      (0 until nf).map(f => MediaCodec.encodePng(w, 8, seed(f))))
  }

  /** Decode+analyze half of q_video_scenecut: demux + per-frame imageio
    * decode + consecutive |Δgray| threshold. Frame width derives from the
    * decoded raster via the doc-id recipe (threshold is 40·pixels). */
  private[graft] def scenecutRows(id: Long,
      container: Array[Byte]): Iterator[(Long, Long, Long, Long, Boolean)] = {
    import graft.multimodal.MediaCodec
    val frames = MediaCodec.decodeFrameContainer(container).getOrElse(
      sys.error(s"container parse failed for doc $id"))
    val nf = frames.length
    val w = (8 + id % 8).toInt
    (1 until nf).iterator.map { fi =>
      val diff = MediaCodec.rasterAbsDiff(frames(fi - 1), frames(fi))
        .getOrElse(sys.error(s"frame decode failed for doc $id/$fi"))
      (id, nf.toLong, fi.toLong, diff, diff > 40L * w * 8)
    }
  }

  // --------------- bench-serve surface: persisted media corpora --------

  /** (doc_id, media) corpus for the bench serve entries, one kind per
    * modality recipe. At 100 TB the media bytes are ingest-time artifacts
    * in the object store — Bench persists these ONCE per bench dir
    * (marker-guarded, the PQ-codebook pattern) so the @10x serve entries
    * time decode+analysis rather than PNG/WAV synthesis (r9 verdict: the
    * synth chain was ~half the @10x media wall). */
  def mediaCorpus(s: org.apache.spark.sql.SparkSession, dir: String,
      kind: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val ids = spread(load(s, dir, "documents").select(col("doc_id"))).as[Long]
    (kind match {
      case "vad-wav" => ids.mapPartitions(_.map(id => (id, vadWavBytes(id))))
      case "plain-wav" => ids.mapPartitions(_.map(id => (id, plainWavBytes(id))))
      case "frames" =>
        ids.mapPartitions(_.map(id => (id, scenecutContainerBytes(id))))
      case other => sys.error(s"unknown media corpus kind: $other")
    }).toDF("doc_id", "media")
  }

  /** q_audio_vad's decode+analysis over a persisted (doc_id, media) corpus. */
  def audioVadServe(media: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, m) => vadRow(id, m) })
      .toDF("doc_id", "n_samples", "n_clipped", "n_silent",
        "n_silent_runs", "longest_silent_run")
  }

  /** q_multimodal_audio's decode+analysis over a persisted corpus. */
  def audioEnergyServe(media: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, m) => audioEnergyRows(id, m) })
      .toDF("doc_id", "sample_rate", "n_frames", "win", "abs_sum")
  }

  /** q_video_scenecut's demux+decode+analysis over a persisted corpus. */
  def videoScenecutServe(media: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, m) => scenecutRows(id, m) })
      .toDF("doc_id", "n_frames", "frame_idx", "diff_sum", "is_cut")
  }

  // -- source-pair shingle overlap: the |sources|×|sources| corpus
  //    similarity matrix over DISTINCT (source, 3-shingle) sets — the
  //    "which feeds are restatements of each other" readout that decides
  //    whether two crawls should share one dedup budget. Scale shape:
  //    the per-shingle pair fan-out is bounded by |sources|² (a contract
  //    constant, ~20², never corpus-sized), and the distinct collapse
  //    happens BEFORE the pair join; Jaccard is an integer micro-ratio.
  q("q_source_overlap",
    s"""WITH docs AS (SELECT source, $SqlTokens AS ws FROM documents),
       |sh AS (SELECT DISTINCT source, unnest($SqlShingles3) AS s FROM docs),
       |cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT p.source_a, p.source_b, p.n_shared,
       |  CAST(p.n_shared * 1000000 // (ca.n + cb.n - p.n_shared) AS BIGINT)
       |    AS jaccard_micro
       |FROM pairs p
       |JOIN cnt ca ON ca.source = p.source_a
       |JOIN cnt cb ON cb.source = p.source_b""") { (s, dir) =>
    val sh = spread(load(s, dir, "documents"))
      .select(col("source"), explode(D.wordShingles(col("text"), 3)).as("s"))
      .distinct()
      // consumed 3x (cnt + both self-join sides) with zero plan sharing
      // (r15 before-plan: 8 parquet scans) — checkpoint once
      .localCheckpoint(false)
    val cnt = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val a = sh.toDF("source_a", "s")
    val b = sh.toDF("source_b", "s")
    a.join(b, a("s") === b("s") && col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
      .join(broadcast(cnt.toDF("source_a", "na")), "source_a")
      .join(broadcast(cnt.toDF("source_b", "nb")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        expr("n_shared * 1000000 div (na + nb - n_shared)").as("jaccard_micro"))
  }

  // -- language-ID confusion matrix: the n-gram heuristic's predictions
  //    (q_lang_id) against the corpus's labeled lang column — the
  //    eval-harness readout that decides whether the cheap classifier is
  //    good enough to route documents. Per (true, pred) cell: count and
  //    the row share in integer micro units. One hash agg over the
  //    codegen'd scorer, |langs|² output rows.
  q("q_langid_confusion", {
    val scoreSql = T.LangMarkers.map { case (lang, ms) =>
      val list = ms.map(m => s"'$m'").mkString("[", ",", "]")
      s"len(list_filter(ltoks, x -> list_contains($list, x))) AS s_$lang"
    }.mkString(",\n  ")
    val langs = T.LangMarkers.map(_._1)
    val mx = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val caseChain = langs.map(l => s"WHEN s_$l = mx THEN '$l'").mkString(" ")
    s"""WITH t AS (SELECT doc_id, lang, text,
       |  list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0) AS ltoks
       |  FROM documents),
       |s AS (SELECT doc_id, lang, text, $scoreSql FROM t),
       |m AS (SELECT *, $mx AS mx FROM s),
       |lp AS (SELECT doc_id, lang AS lang_true,
       |  CASE WHEN length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) < length(text) THEN 'zh'
       |       WHEN mx = 0 THEN 'und'
       |       $caseChain ELSE 'und' END AS lang_pred
       |  FROM m),
       |c AS (SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n
       |      FROM lp GROUP BY 1, 2),
       |tot AS (SELECT lang_true, CAST(sum(n) AS BIGINT) AS row_n
       |        FROM c GROUP BY lang_true)
       |SELECT c.lang_true, c.lang_pred, c.n,
       |  CAST(c.n * 1000000 // tot.row_n AS BIGINT) AS row_share_micro
       |FROM c JOIN tot USING (lang_true)""".stripMargin
  }) { (s, dir) =>
    val c = load(s, dir, "documents")
      .groupBy(col("lang").as("lang_true"),
        T.langId(col("text")).as("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // |langs|² rows; totals fold this, not the corpus
    val tot = c.groupBy("lang_true").agg(sum("n").as("row_n"))
    c.join(broadcast(tot), "lang_true")
      .select(col("lang_true"), col("lang_pred"), col("n"),
        expr("n * 1000000 div row_n").as("row_share_micro"))
  }

  /** Shared aHash pipeline: every doc renders a REAL PNG (docs in groups
    * of 5 share a base image — same size, each copy uniformly
    * brightness-shifted: the near-dup structure; groups differ in SIZE,
    * so the 8×8 nearest-resize samples a different lattice per group and
    * distinct bases hash apart), then the REAL imageio chain runs
    * resize-to-8×8 → gray decode → integer mean → 64 above-mean bits,
    * split into two 32-bit halves (no sign-bit arithmetic anywhere). */
  def imageAhash(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import graft.multimodal.MediaCodec
    import s.implicits._
    spread(load(s, dir, "documents").select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val grp = id / 5
          val seed = grp * 37L + id % 5
          val png = MediaCodec.encodePng((9 + grp % 9).toInt, (9 + grp % 7).toInt, seed)
          val small = MediaCodec.resizeNearest(png, 8, 8).getOrElse(
            sys.error(s"JDK reader rejected its own png for doc $id"))
          val g = MediaCodec.rasterGray(small).getOrElse(
            sys.error(s"resized png failed raster decode for doc $id"))
          require(g.length == 64, s"doc $id: ${g.length} pixels")
          val mean = g.map(_.toLong).sum / 64L
          var (lo, hi) = (0L, 0L)
          var i = 0
          while (i < 64) {
            if (g(i) > mean) {
              if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
            }
            i += 1
          }
          (id, hi, lo)
        }
      }.toDF("doc_id", "ahash_hi", "ahash_lo")
  }

  /** DuckDB CTEs mirroring [[imageAhash]] arithmetically: the dest→src
    * nearest map is (x·w)//8 (the q_multimodal_resize contract), the
    * mean is a truncated integer, and the two hash halves are sums of
    * distinct powers of two below 2³² — no sign bit on either engine. */
  private val SqlAhashCtes: String =
    """g AS (SELECT doc_id, (doc_id // 5) * 37 + doc_id % 5 AS seed,
      |        9 + (doc_id // 5) % 9 AS w, 9 + (doc_id // 5) % 7 AS h
      |      FROM documents),
      |px AS (SELECT doc_id, seed, w, h, unnest(range(8)) AS x FROM g),
      |pxy AS (SELECT doc_id, seed, w, h, x, unnest(range(8)) AS y FROM px),
      |v AS (SELECT doc_id, x, y,
      |        (seed + ((x * w) // 8) * 31 + ((y * h) // 8) * 17) & 255 AS p
      |      FROM pxy),
      |mn AS (SELECT doc_id, CAST(sum(p) // 64 AS BIGINT) AS mean
      |       FROM v GROUP BY doc_id),
      |b AS (SELECT v.doc_id,
      |        CAST(sum(CASE WHEN p > mean AND y >= 4
      |          THEN CAST(1 AS BIGINT) << (y * 8 + x - 32) ELSE 0 END) AS BIGINT)
      |          AS ahash_hi,
      |        CAST(sum(CASE WHEN p > mean AND y < 4
      |          THEN CAST(1 AS BIGINT) << (y * 8 + x) ELSE 0 END) AS BIGINT)
      |          AS ahash_lo
      |      FROM v JOIN mn USING (doc_id) GROUP BY v.doc_id)""".stripMargin

  // -- image perceptual hash (aHash): REAL render → REAL nearest resize
  //    → REAL gray decode → above-mean bit signature, the cheap
  //    image-dedup fingerprint a multimodal intake computes per asset.
  //    The whole chain is pixel-exact (the q_multimodal_resize
  //    discipline), so the oracle reproduces the 64-bit signature
  //    arithmetically. Map-only, zero shuffle.
  q("q_image_ahash",
    s"""WITH $SqlAhashCtes
       |SELECT doc_id, ahash_hi, ahash_lo FROM b""") { (s, dir) =>
    imageAhash(s, dir)
  }

  /** aHash band CTEs shared by the pair and components queries (extends
    * [[SqlAhashCtes]]; `apairs` = the Hamming-rescored near-dup pairs). */
  private val SqlAhashPairCtes: String =
    s"""$SqlAhashCtes,
       |bands AS (SELECT doc_id, ahash_hi, ahash_lo,
       |            unnest(range(4)) AS band FROM b),
       |bv AS (SELECT doc_id, ahash_hi, ahash_lo, band,
       |         CASE WHEN band < 2 THEN (ahash_lo >> (band * 16)) & 65535
       |              ELSE (ahash_hi >> ((band - 2) * 16)) & 65535 END AS v
       |       FROM bands),
       |small AS (SELECT band, v FROM bv GROUP BY band, v
       |          HAVING count(*) BETWEEN 2 AND 50),
       |kb AS (SELECT bv.* FROM bv JOIN small USING (band, v)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
       |           a.ahash_hi AS hi_a, a.ahash_lo AS lo_a,
       |           b2.ahash_hi AS hi_b, b2.ahash_lo AS lo_b
       |         FROM kb a JOIN kb b2
       |           ON a.band = b2.band AND a.v = b2.v AND a.doc_id < b2.doc_id),
       |apairs AS (
       |  SELECT doc_a, doc_b,
       |    CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS BIGINT)
       |      AS hamming
       |  FROM cand
       |  WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 6)"""
      .stripMargin

  // -- aHash near-dup pairs: 16-bit bands of the signature bucket-join
  //    candidates (the MinHash-LSH shape on image signatures), buckets
  //    cut to 2..50 BEFORE pairing (the dedup-family rule — an all-zero
  //    band is a hot bucket, exactly the skew the cut exists for), then
  //    exact Hamming rescore ≤ 6 via bit_count(xor). Brightness-shifted
  //    copies of a base image land within the threshold; bases rendered
  //    on a different sampling lattice mostly hash apart (aHash is the
  //    cheap coarse filter, not the verifier — exactly its production
  //    role). One bucket shuffle, no all-pairs anywhere.
  q("q_image_ahash_dedup",
    s"""WITH $SqlAhashPairCtes
       |SELECT doc_a, doc_b, hamming FROM apairs""") { (s, dir) =>
    imageAhashPairs(s, dir)
  }

  /** Spark twin of `apairs` (shared by the pair and components queries). */
  private def imageAhashPairs(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    ahashPairsFrom(imageAhash(s, dir))

  /** Banding + 2..50 bucket cut + Hamming-rescore pairing over an
    * ALREADY-COMPUTED signature table (doc_id, ahash_hi, ahash_lo) — the
    * work a dedup pass re-runs when signatures are an ingest-time
    * artifact (the bench's image-dedup-serve shape; at 100 TB the codec
    * chain runs once per asset at intake, never per dedup pass). */
  def ahashPairsFrom(ah: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // r15: one-pass bucket-collect pairing (the minhashPairs /
    // erFuzzyPairs shape). The old count-filter + keyed-rows self-join
    // planned with zero exchange reuse, so the signature input — at base
    // scale the whole PNG encode→resize→decode chain — was recomputed up
    // to 8x per query (plans/r15/q_image_ahash_dedup_before.txt: 8
    // parquet scans). Signatures now ride the buckets (SCALE rule #3);
    // buckets, pairs, distinct and the Hamming rescore are row-identical.
    val bands = ah.select(col("doc_id"), col("ahash_hi"), col("ahash_lo"),
        explode(array((0 until 4).map(lit): _*)).as("band"))
      .withColumn("v", expr(
        """CASE WHEN band < 2 THEN shiftright(ahash_lo, band * 16) & 65535
          |ELSE shiftright(ahash_hi, (band - 2) * 16) & 65535 END""".stripMargin))
    // r16 (ADVICE r15 medium): pre-count bucket size with a window over
    // the same (band, v) shuffle so a degenerate constant band (e.g. an
    // all-black-image flood hashing to 0) is dropped BEFORE building an
    // unbounded collect_list buffer — WindowExec buffers spill; hash-agg
    // list buffers do not. Buckets/pairs row-identical to the old
    // post-collect size filter.
    val wBand = org.apache.spark.sql.expressions.Window.partitionBy("band", "v")
    bands.withColumn("__n", count(lit(1)).over(wBand))
      .filter(col("__n").between(2, 50))
      .groupBy("band", "v")
      .agg(collect_list(
        struct(col("doc_id"), col("ahash_hi"), col("ahash_lo"))).as("ms"))
      .select(explode(D.orderedPairs(col("ms"))).as("p"))
      .filter(col("p.a.doc_id") < col("p.b.doc_id"))
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        col("p.a.ahash_hi").as("hi_a"), col("p.a.ahash_lo").as("lo_a"),
        col("p.b.ahash_hi").as("hi_b"), col("p.b.ahash_lo").as("lo_b"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        expr("cast(bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b) as bigint)")
          .as("hamming"))
      .filter(col("hamming") <= 6)
  }

  // -- image dedup clusters end-to-end: connected components over the
  //    aHash near-dup pair graph (the q_dedup_components closure applied
  //    to the image modality) — which assets are copies of one base, and
  //    which copy is canonical. Same distributed label-propagation
  //    operator, same recursive-CTE oracle; composition is the point:
  //    every dedup family member (text shingles, embeddings, images)
  //    feeds the one closure operator.
  q("q_image_dedup_components",
    s"""WITH RECURSIVE $SqlAhashPairCtes,
       |sym AS (SELECT doc_a AS a2, doc_b AS b2 FROM apairs
       |        UNION ALL SELECT doc_b AS a2, doc_a AS b2 FROM apairs),
       |reach(n, m) AS (
       |  SELECT a2, a2 FROM (SELECT DISTINCT a2 FROM sym)
       |  UNION
       |  SELECT s.b2, r.m FROM reach r JOIN sym s ON s.a2 = r.n)
       |SELECT n AS doc_id, min(m) AS component,
       |  CAST(n = min(m) AS INT) AS is_canonical
       |FROM reach GROUP BY n""") { (s, dir) =>
    import graft.operators.ConnectedComponents
    ConnectedComponents.run(imageAhashPairs(s, dir), "doc_a", "doc_b")
      .select(col("n").as("doc_id"), col("label").as("component"),
        (col("n") === col("label")).cast("int").as("is_canonical"))
  }

  // -- audio resample (decimate by 2): the REAL codec chain TWICE —
  //    synth → encode 8 kHz RIFF → real decode → drop every other sample
  //    → RE-encode a real 4 kHz RIFF → real header re-parse + re-decode
  //    → energy readout. The sample-rate conversion every audio intake
  //    runs before feature extraction; both containers are real and both
  //    decodes must be sample-exact or the oracle hash breaks. Map-only,
  //    zero shuffle before the final agg.
  q("q_audio_resample",
    """WITH p AS (SELECT doc_id, 800 + (doc_id % 5) * 80 AS n FROM documents),
      |s AS (SELECT doc_id, n, unnest(range(n)) AS i FROM p),
      |v AS (SELECT doc_id, n, i,
      |        abs((doc_id * 131 + i * 17) % 4096 - 2048) AS a
      |      FROM s WHERE i % 2 = 0)
      |SELECT doc_id, CAST(4000 AS BIGINT) AS sample_rate,
      |  CAST(n // 2 AS BIGINT) AS n_frames,
      |  CAST(sum(a) AS BIGINT) AS abs_sum
      |FROM v GROUP BY doc_id, n""") { (s, dir) =>
    import graft.multimodal.MediaCodec
    import s.implicits._
    spread(load(s, dir, "documents").select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (800 + (id % 5) * 80).toInt
          val samples = Array.tabulate(n)(i =>
            ((id * 131L + i * 17L) % 4096L - 2048L).toShort)
          val wav8k = MediaCodec.encodeWavPcm16(8000, samples)
          val decoded = MediaCodec.decodePcm16(wav8k).getOrElse(
            sys.error(s"8k wav failed PCM decode for doc $id"))
          val half = Array.tabulate(decoded.length / 2)(j => decoded(2 * j))
          val wav4k = MediaCodec.encodeWavPcm16(4000, half)
          val (sr, _, frames) = MediaCodec.audioMeta(wav4k).getOrElse(
            sys.error(s"JDK audio reader rejected the 4k wav for doc $id"))
          val out = MediaCodec.decodePcm16(wav4k).getOrElse(
            sys.error(s"4k wav failed PCM decode for doc $id"))
          var sum = 0L
          out.foreach(v => sum += math.abs(v.toLong))
          (id, sr.toLong, frames, sum)
        }
      }.toDF("doc_id", "sample_rate", "n_frames", "abs_sum")
  }

  // -- per-label embedding drift report: micro-quantized centroid and
  //    mean absolute deviation per (label, position) — the embedding-QA
  //    readout (a drifting centroid = encoder change; exploding
  //    deviation = collapsed or noisy dimensions). ALL-INTEGER on the
  //    once-quantized grid (sum DIV n, |xm − centroid| DIV n), so the
  //    oracle is bit-exact. Scale shape: two hash aggs over the corpus
  //    (centroid pass, then deviation against the broadcast
  //    |labels|·dim centroid table) — at real scale the quantized
  //    corpus would checkpoint between the passes.
  q("q_embed_drift",
    """WITH xm AS (SELECT label,
      |    CAST(unnest(range(len(embedding))) AS INT) AS pos,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xm
      |  FROM embeddings),
      |c AS (SELECT label, pos, CAST(sum(xm) AS BIGINT) AS s,
      |        CAST(count(*) AS BIGINT) AS n FROM xm GROUP BY label, pos),
      |ct AS (SELECT label, pos, n, CAST(s // n AS BIGINT) AS centroid_micro
      |       FROM c),
      |d AS (SELECT x.label, x.pos,
      |        CAST(sum(abs(x.xm - ct.centroid_micro)) AS BIGINT) AS sd
      |      FROM xm x JOIN ct ON ct.label = x.label AND ct.pos = x.pos
      |      GROUP BY x.label, x.pos)
      |SELECT ct.label, ct.pos, ct.n AS n_vecs, ct.centroid_micro,
      |  CAST(d.sd // ct.n AS BIGINT) AS mean_abs_dev_micro
      |FROM ct JOIN d USING (label, pos)""") { (s, dir) =>
    val xm = spread(load(s, dir, "embeddings"))
      .select(col("label"),
        posexplode(transform(col("embedding"),
          x => round(x.cast("double") * lit(1e6)).cast("long")))
          .as(Seq("pos", "xm")))
    val ct = xm.groupBy("label", "pos")
      .agg(sum("xm").as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"), col("n"),
        expr("s div n").as("centroid_micro"))
    val dev = xm
      .join(broadcast(ct.select("label", "pos", "centroid_micro")),
        Seq("label", "pos"))
      .groupBy("label", "pos")
      .agg(sum(abs(col("xm") - col("centroid_micro"))).as("sd"))
    ct.join(dev, Seq("label", "pos"))
      .select(col("label"), col("pos"), col("n").as("n_vecs"),
        col("centroid_micro"), expr("sd div n").as("mean_abs_dev_micro"))
  }

  // ------------------------------------------------- corpus lexicon stats

  // -- type/token statistics per source — the Zipf/Heaps diagnostics a
  //    corpus intake ships: vocabulary size, hapax legomena share (high
  //    hapax = noisy OCR / gibberish; low = templated spam), type-token
  //    ratio, and the top-word mass. Ratios are BIGINT micro-fractions
  //    (integer DIV), engine-exact. Scale shape: ONE (source, word)
  //    hash agg (partial-agg'd, linear) feeding a |sources|-row rollup —
  //    no second corpus pass, no window.
  q("q_type_token_stats",
    s"""WITH t AS (SELECT source, unnest($SqlTokens) AS w FROM documents),
       |wc AS (SELECT source, w, count(*) AS c FROM t GROUP BY source, w),
       |s AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       |        CAST(count(*) AS BIGINT) AS n_types,
       |        CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
       |        CAST(max(c) AS BIGINT) AS top_count
       |      FROM wc GROUP BY source)
       |SELECT source, n_tokens, n_types, n_hapax,
       |  CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_micro,
       |  CAST(n_hapax * 1000000 // n_types AS BIGINT) AS hapax_micro,
       |  CAST(top_count * 1000000 // n_tokens AS BIGINT) AS top_share_micro
       |FROM s""") { (s, dir) =>
    val wc = spread(load(s, dir, "documents"))
      .select(col("source"), explode(T.tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    wc.groupBy("source")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        max("c").as("top_count"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("n_types * 1000000 div n_tokens").as("ttr_micro"),
        expr("n_hapax * 1000000 div n_types").as("hapax_micro"),
        expr("top_count * 1000000 div n_tokens").as("top_share_micro"))
  }

  // -- vocabulary growth curve (Heaps' law readout): the corpus in 20
  //    fixed doc-id buckets; per bucket, tokens added and NEW types (words
  //    whose first occurrence falls in that bucket), plus running totals.
  //    A flattening curve says the corpus stops contributing vocabulary —
  //    the "is more of this source worth ingesting" signal. Bucket count
  //    is FIXED (id-range scaled), so the cumulative window is a bounded
  //    20-row fold at any corpus size; the heavy step is one distinct
  //    (word -> first bucket) hash agg.
  q("q_vocab_growth",
    s"""WITH m AS (SELECT max(doc_id) + 1 AS n FROM documents),
       |t AS (SELECT CAST(doc_id * 20 // m.n AS BIGINT) AS bucket,
       |        unnest($SqlTokens) AS w
       |      FROM documents CROSS JOIN m),
       |tk AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
       |       FROM t GROUP BY bucket),
       |fw AS (SELECT w, CAST(min(bucket) AS BIGINT) AS b0 FROM t GROUP BY w),
       |nt AS (SELECT b0 AS bucket, CAST(count(*) AS BIGINT) AS new_types
       |       FROM fw GROUP BY b0)
       |SELECT tk.bucket, tk.n_tokens, coalesce(nt.new_types, 0) AS new_types,
       |  CAST(sum(tk.n_tokens) OVER (ORDER BY tk.bucket) AS BIGINT) AS cum_tokens,
       |  CAST(sum(coalesce(nt.new_types, 0)) OVER (ORDER BY tk.bucket) AS BIGINT)
       |    AS cum_types
       |FROM tk LEFT JOIN nt ON tk.bucket = nt.bucket""") { (s, dir) =>
    val docs = spread(load(s, dir, "documents"))
    val n = docs.agg((max(col("doc_id")) + 1L).as("n"))
    val t = docs.crossJoin(broadcast(n))
      .select(expr("doc_id * 20 div n").as("bucket"),
        explode(T.tokens(col("text"))).as("w"))
    val tk = t.groupBy("bucket").agg(count(lit(1)).as("n_tokens"))
    val nt = t.groupBy("w").agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_types"))
    // bounded window by contract: exactly 20 bucket rows at any scale
    val w20 = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tk.join(nt, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_tokens", sum("n_tokens").over(w20))
      .withColumn("cum_types", sum("new_types").over(w20))
  }

  // -- per-document character diversity: distinct characters and the
  //    Gini-Simpson index over the (non-whitespace) character
  //    distribution — the cheap gibberish/keyboard-mash detector (near-0
  //    diversity = one repeated char; natural text sits in a band).
  //    Integer-exact core (sum of squared counts); the single final
  //    division is one double op, bit-identical across engines.
  //    eff_alphabet = n²/Σc² (inverse Simpson) as an integer micro-free
  //    readout. Scale: one (doc, char) hash agg — alphabet-bounded fanout
  //    per doc, linear.
  q("q_char_diversity",
    """WITH c AS (
      |  SELECT doc_id,
      |    unnest(string_split(regexp_replace(lower(trim(text)), '\s', '', 'g'), '')) AS ch
      |  FROM documents),
      |cc AS (SELECT doc_id, ch, count(*) AS c FROM c GROUP BY doc_id, ch),
      |s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
      |        CAST(count(*) AS BIGINT) AS n_distinct,
      |        CAST(sum(c * c) AS BIGINT) AS c2
      |      FROM cc GROUP BY doc_id)
      |SELECT doc_id, n_chars, n_distinct,
      |  round(1.0 - CAST(c2 AS DOUBLE) / (CAST(n_chars AS DOUBLE) * n_chars), 6)
      |    AS diversity,
      |  CAST(n_chars * n_chars // c2 AS BIGINT) AS eff_alphabet
      |FROM s""") { (s, dir) =>
    val cc = spread(load(s, dir, "documents"))
      .select(col("doc_id"),
        explode(split(regexp_replace(lower(trim(col("text"))), "\\s", ""), ""))
          .as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    cc.groupBy("doc_id")
      .agg(sum("c").as("n_chars"), count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).as("c2"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct"),
        round(lit(1.0) - col("c2").cast("double") /
          (col("n_chars").cast("double") * col("n_chars")), 6).as("diversity"),
        expr("n_chars * n_chars div c2").as("eff_alphabet"))
  }

  // -- token-length histogram in power-of-two buckets per source: the
  //    length profile a mixture plan reads (truncation waste vs packing
  //    fragmentation). The bucket is length(bin(n)) = floor(log2 n)+1 —
  //    STRING-exact on both engines, where floor(log2(x)) through doubles
  //    misbuckets exact powers of two (log2(8) rounds below 3). Map-only
  //    + a tiny (source, bucket) agg.
  q("q_length_histogram",
    s"""WITH t AS (SELECT source, CAST(len($SqlTokens) AS BIGINT) AS n
       |           FROM documents)
       |SELECT source, CAST(length(bin(n)) AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(min(n) AS BIGINT) AS min_tokens,
       |  CAST(max(n) AS BIGINT) AS max_tokens,
       |  CAST(sum(n) AS BIGINT) AS sum_tokens
       |FROM t WHERE n > 0
       |GROUP BY source, bucket""") { (s, dir) =>
    spread(load(s, dir, "documents"))
      .select(col("source"), size(T.tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
      .groupBy(col("source"), length(bin(col("n"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), min("n").as("min_tokens"),
        max("n").as("max_tokens"), sum("n").as("sum_tokens"))
  }

  // -- contamination REPORT per source: the corpus-governance rollup of
  //    q_decontaminate (which flags per-doc) — per train source, shingle
  //    mass, eval-overlapping mass, contaminated-doc count, and overlap
  //    ppm. Same broadcast-eval-set shape (the eval side is benchmark-
  //    sized, the 100 TB train side never shuffles); the rollup rides the
  //    per-doc agg's output, |sources| rows.
  q("q_contamination_report",
    s"""WITH docs AS (SELECT doc_id, source, $SqlTokens AS ws FROM documents),
       |sh AS (SELECT doc_id, source,
       |         ${sqlMd5Long(s"unnest($SqlShingles3)")} AS hv FROM docs),
       |ev AS (SELECT DISTINCT hv FROM sh WHERE doc_id % 20 = 0),
       |j AS (
       |  SELECT tr.source, tr.doc_id, count(*) AS n_sh,
       |    CAST(sum(CASE WHEN ev.hv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_overlap
       |  FROM (SELECT * FROM sh WHERE doc_id % 20 <> 0) tr
       |  LEFT JOIN ev ON tr.hv = ev.hv
       |  GROUP BY tr.source, tr.doc_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_sh) AS BIGINT) AS n_shingles,
       |  CAST(sum(n_overlap) AS BIGINT) AS n_overlapping,
       |  CAST(count(*) FILTER (WHERE CAST(n_overlap AS DOUBLE) / n_sh > 0.8)
       |    AS BIGINT) AS n_contaminated,
       |  CAST(sum(n_overlap) * 1000000 // sum(n_sh) AS BIGINT) AS overlap_ppm
       |FROM j GROUP BY source""") { (s, dir) =>
    val sh = spread(load(s, dir, "documents"))
      .select(col("doc_id"), col("source"),
        explode(D.wordShingles(col("text"), 3)).as("sval"))
      .select(col("doc_id"), col("source"), T.md5Long(col("sval")).as("hv"))
    val ev = sh.filter(col("doc_id") % 20 === 0)
      .select("hv").distinct().withColumn("hit", lit(1L))
    val perDoc = sh.filter(col("doc_id") % 20 =!= 0)
      .join(broadcast(ev), Seq("hv"), "left")
      .groupBy("source", "doc_id")
      .agg(count(lit(1)).as("n_sh"),
        coalesce(sum(col("hit")), lit(0L)).as("n_overlap"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_sh").as("n_shingles"),
        sum("n_overlap").as("n_overlapping"),
        sum(when(col("n_overlap").cast("double") / col("n_sh") > 0.8, 1L)
          .otherwise(0L)).as("n_contaminated"),
        expr("sum(n_overlap) * 1000000 div sum(n_sh)").as("overlap_ppm"))
  }

  // ------------------------------------------------- clustering / graph QA

  // -- k-means topic clustering over embeddings (k=8, 2 Lloyd rounds,
  //    seeded from the first k vectors) — the corpus-bucketing step a
  //    mixture designer runs before per-topic sampling. ALL-INTEGER on
  //    the once-quantized micro grid: distances are BIGINT sums of
  //    squared micro diffs, the argmin ties break to the lowest cluster
  //    id via the packed key d*8+cluster, and centroid updates are
  //    sum DIV n — so the whole unrolled loop is bit-exact in DuckDB
  //    (the q_pagerank_dupgraph / q_embed_pca integer-loop recipe applied
  //    to Lloyd's algorithm; the float production twin is
  //    functions/VectorIndex.train, spec-pinned for recall). Scale shape:
  //    assignment is a map-only codegen'd least-of-k over BROADCAST
  //    centroid literals (no join, no explode — the corpus is touched
  //    once per round); the update is one (cluster, pos) partial-agg'd
  //    shuffle of k·dim cells; the driver holds k·dim longs (bounded by
  //    contract, the codebook rule). localCheckpoint per round keeps the
  //    plan constant.
  /** Shared oracle CTE chain for the 2-round integer Lloyd loop, ending
    * at `g2(vec_id, cluster, sq_dist)` — reused by q_kmeans_clusters, the
    * purity evaluation, and (r11) the IVF ANN serving oracle, which also
    * reads `d2` (every vector's distance to every round-2 centroid — the
    * query-side cell ranking) and `xm` (the micro-grid vectors — the
    * exact in-cell distances). Lazy: q_ann_ivf registers earlier in the
    * constructor than this val's declaration. */
  /** `xm(vec_id, pos, x)`: the once-quantized micro grid — the shared
    * prefix of every integer-exact vector oracle. */
  private lazy val MicroGridCte: String =
    """xm AS (SELECT vec_id,
      |    CAST(unnest(range(len(embedding))) AS INT) AS pos,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS x
      |  FROM embeddings)""".stripMargin

  /** Integer-grid PQ chain (r11): m=8 subspaces of 8 dims, ksub=16
    * sub-centroids per subspace via the SAME 2-round integer Lloyd loop
    * (seed = first-16 sub-vectors, update = sum DIV n, argmin ties to
    * the lowest code via the packed d*16+code key). Ends at
    * `codes(vec_id, sub, code)` (the compressed corpus) and
    * `adc(query_id, sub, cl, d)` (each query's distance table to every
    * sub-centroid — `pd2` restricted to the query batch). All BIGINT, so
    * PQ/ADC search is bit-exact cross-engine. Assumes `xm` in scope. */
  private lazy val PqOracleCtes: String = {
    def assign(c: String, d: String, sres: String) =
      s"""$d AS (SELECT s.vec_id, s.sub, $c.cl,
         |  CAST(sum((s.x - $c.cm) * (s.x - $c.cm)) AS BIGINT) AS d
         |  FROM sub s JOIN $c ON $c.sub = s.sub AND $c.spos = s.spos
         |  GROUP BY s.vec_id, s.sub, $c.cl),
         |$sres AS (SELECT vec_id, sub, min(d * 16 + cl) AS mk
         |          FROM $d GROUP BY vec_id, sub)"""
    s"""sub AS (SELECT vec_id, pos // 8 AS sub, pos % 8 AS spos, x FROM xm),
       |p1 AS (SELECT CAST(vec_id AS BIGINT) AS cl, sub, spos, x AS cm
       |       FROM sub WHERE vec_id < 16),
       |${assign("p1", "pd1", "ps1")},
       |pg1 AS (SELECT vec_id, sub, mk % 16 AS cl FROM ps1),
       |p2 AS (SELECT pg1.cl, s.sub, s.spos,
       |         CAST(sum(s.x) // count(*) AS BIGINT) AS cm
       |       FROM sub s JOIN pg1 ON pg1.vec_id = s.vec_id AND pg1.sub = s.sub
       |       GROUP BY pg1.cl, s.sub, s.spos),
       |${assign("p2", "pd2", "ps2")},
       |codes AS (SELECT vec_id, sub, CAST(mk % 16 AS BIGINT) AS code FROM ps2),
       |adc AS (SELECT vec_id AS query_id, sub, cl, d FROM pd2 WHERE vec_id < 20)""".stripMargin
  }

  private lazy val KmeansOracleCtes: String = {
    def assign(c: String, d: String, sres: String) =
      s"""$d AS (SELECT xm.vec_id, $c.cl,
         |  CAST(sum((xm.x - $c.cm) * (xm.x - $c.cm)) AS BIGINT) AS d
         |  FROM xm JOIN $c ON $c.pos = xm.pos GROUP BY xm.vec_id, $c.cl),
         |$sres AS (SELECT vec_id, min(d * 8 + cl) AS mk FROM $d GROUP BY vec_id)"""
    s"""$MicroGridCte,
       |c1 AS (SELECT CAST(vec_id AS BIGINT) AS cl, pos, x AS cm
       |       FROM xm WHERE vec_id < 8),
       |${assign("c1", "d1", "s1")},
       |g1 AS (SELECT vec_id, mk % 8 AS cl FROM s1),
       |c2 AS (SELECT g1.cl, xm.pos, CAST(sum(xm.x) // count(*) AS BIGINT) AS cm
       |       FROM xm JOIN g1 USING (vec_id) GROUP BY g1.cl, xm.pos),
       |${assign("c2", "d2", "s2")},
       |g2 AS (SELECT vec_id, CAST(mk % 8 AS BIGINT) AS cluster,
       |         CAST(mk // 8 AS BIGINT) AS sq_dist FROM s2)""".stripMargin
  }

  /** Micro-grid quantized embeddings: (vec_id, xm BIGINT[]) — the shared
    * integer lattice every cross-engine-exact vector twin computes on. */
  private def microGrid(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    spread(load(s, dir, "embeddings"))
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * lit(1e6)).cast("long")).as("xm"))
      .localCheckpoint() // quantized once; reused by every round

  /** Packed integer argmin key over broadcast centroid literals:
    * d*k + cluster (d <= 64 * (2^21)^2 << 2^60/k, so the pack cannot
    * overflow; min == lexicographic (d, cluster)). Map-only codegen'd
    * least-of-k — no join, no explode. */
  private def kmAssignKey(cents: Array[(Long, Array[Long])], k: Int) =
    least(cents.map {
      case (cid, cm) =>
        // codegen'd integer sqdist kernel (r15) — bit-identical to the
        // interpreted zip_with+aggregate fold it replaces
        graft.plans.NativeVector.sqDistI64(col("xm"), typedLit(cm)) *
          lit(k.toLong) + lit(cid)
    }: _*)

  /** One integer-Lloyd update round from the first-k seed: the round-2
    * centroids (`c2` in [[KmeansOracleCtes]]) — k·dim longs, bounded by
    * contract (the codebook rule). */
  private def kmeansIntCentroids(xm: org.apache.spark.sql.DataFrame,
      k: Int): Array[(Long, Array[Long])] = {
    var cents: Array[(Long, Array[Long])] = xm.filter(col("vec_id") < k)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    for (_ <- 1 to 1) { // round 1 ends in the c2 update; round 2 assigns
      val g = xm.select(col("vec_id"), col("xm"),
        (kmAssignKey(cents, k) % k).as("cl"))
      cents = g.select(col("cl"), posexplode(col("xm")).as(Seq("pos", "x")))
        .groupBy("cl", "pos").agg(expr("sum(x) div count(1)").as("cm"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1).toArray
        .map { case (cl, rows) =>
          (cl, rows.sortBy(_._2).map(_._3).toArray)
        }.sortBy(_._1)
    }
    cents
  }

  /** Per-subspace view of the micro grid: (vec_id, sub, sv BIGINT[dsub])
    * — the PQ twin of [[microGrid]] (m slices per vector). */
  private def subGrid(xm: org.apache.spark.sql.DataFrame, m: Int,
      dsub: Int): org.apache.spark.sql.DataFrame =
    xm.select(col("vec_id"), posexplode(
        array((0 until m).map(su => slice(col("xm"), su * dsub + 1, dsub)): _*))
      .as(Seq("sub", "sv")))

  /** Packed per-subspace argmin over the surviving sub-centroids: a CASE
    * chain on `sub`, each arm a codegen'd least-of-ksub (the
    * [[kmAssignKey]] recipe per subspace; packs cannot overflow —
    * per-sub d <= 8 * (4e6)^2 ~ 2^47, * 16 << 2^63). */
  private def pqAssignExpr(cents: Map[(Int, Long), Array[Long]], m: Int,
      ksub: Int): org.apache.spark.sql.Column =
    (0 until m).foldLeft(lit(Long.MaxValue)) { (acc, su) =>
      val packs = (0 until ksub).flatMap { cl =>
        cents.get((su, cl.toLong)).map { cm =>
          graft.plans.NativeVector.sqDistI64(col("sv"), typedLit(cm)) *
            lit(ksub.toLong) + lit(cl.toLong)
        }
      }
      when(col("sub") === su, least(packs: _*)).otherwise(acc)
    }

  /** The 2-round integer PQ codebook (`p2` in [[PqOracleCtes]]):
    * (sub, code) -> dsub longs — m*ksub*dsub = 1024 longs, bounded by
    * contract (the codebook rule). Seed = the first-ksub sub-vectors;
    * update = per-(sub, code, spos) sum DIV n; empty codes drop out
    * (mirrored by the oracle's join-absence). */
  private def pqIntCentroids(subv: org.apache.spark.sql.DataFrame, m: Int,
      ksub: Int): Map[(Int, Long), Array[Long]] = {
    var cents: Map[(Int, Long), Array[Long]] =
      subv.filter(col("vec_id") < ksub).collect()
        .map(r => ((r.getInt(1), r.getLong(0)), r.getSeq[Long](2).toArray))
        .toMap
    for (_ <- 1 to 1) {
      val g = subv.select(col("vec_id"), col("sub"), col("sv"),
        (pqAssignExpr(cents, m, ksub) % ksub).as("cl"))
      cents = g
        .select(col("sub"), col("cl"), posexplode(col("sv")).as(Seq("spos", "x")))
        .groupBy("sub", "cl", "spos").agg(expr("sum(x) div count(1)").as("cm"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .groupBy(t => (t._1, t._2))
        .map { case (k2, rows) => (k2, rows.sortBy(_._3).map(_._4).toArray) }
    }
    cents
  }

  /** Spark side of the shared Lloyd loop: (vec_id, cluster, sq_dist). */
  private def kmeansAssignments(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val k = 8
    val xm = microGrid(s, dir)
    val cents = kmeansIntCentroids(xm, k)
    xm.select(col("vec_id"), kmAssignKey(cents, k).as("mk"))
      .select(col("vec_id"), (col("mk") % k).as("cluster"),
        expr(s"mk div $k").as("sq_dist"))
  }

  q("q_kmeans_clusters",
    s"""WITH $KmeansOracleCtes,
       |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_n
       |       FROM g2 GROUP BY cluster)
       |SELECT vec_id, cluster, sq_dist, cluster_n FROM g2 JOIN sz USING (cluster)""") { (s, dir) =>
    val fin = kmeansAssignments(s, dir)
    val sz = fin.groupBy("cluster").agg(count(lit(1)).as("cluster_n"))
    fin.join(broadcast(sz), Seq("cluster"))
      .select("vec_id", "cluster", "sq_dist", "cluster_n")
  }

  // -- cluster purity evaluation: how well the unsupervised topic
  //    clusters recover the labeled classes — the quality gate a mixture
  //    designer reads before trusting k-means buckets for sampling. Per
  //    cluster: size, majority label (ties to the LOWEST label via ONE
  //    packed argmax key, engine-exact), majority mass, purity micro;
  //    corpus-weighted purity broadcast onto every row. Scale shape: the
  //    label join is by vec_id on the assignment table; everything after
  //    is k-bounded aggregation.
  q("q_cluster_purity",
    s"""WITH $KmeansOracleCtes,
       |lab AS (SELECT g2.cluster, e.label
       |        FROM g2 JOIN embeddings e USING (vec_id)),
       |lc AS (SELECT cluster, label, CAST(count(*) AS BIGINT) AS cnt
       |       FROM lab GROUP BY cluster, label),
       |top AS (SELECT cluster, max(cnt * 1024 + (1023 - label)) AS pk,
       |          CAST(sum(cnt) AS BIGINT) AS cluster_n
       |        FROM lc GROUP BY cluster),
       |per AS (SELECT cluster, cluster_n,
       |          CAST(1023 - pk % 1024 AS BIGINT) AS top_label,
       |          CAST(pk // 1024 AS BIGINT) AS top_n
       |        FROM top),
       |tot AS (SELECT CAST(sum(top_n) * 1000000 // sum(cluster_n) AS BIGINT)
       |          AS overall_purity_micro FROM per)
       |SELECT cluster, cluster_n, top_label, top_n,
       |  CAST(top_n * 1000000 // cluster_n AS BIGINT) AS purity_micro,
       |  tot.overall_purity_micro
       |FROM per CROSS JOIN tot""") { (s, dir) =>
    val lab = kmeansAssignments(s, dir)
      .join(load(s, dir, "embeddings").select("vec_id", "label"), "vec_id")
      .groupBy("cluster", "label").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // k x |labels| rows; both rollups fold this
    val per = lab
      .groupBy("cluster")
      .agg(max(col("cnt") * 1024 + (lit(1023) - col("label"))).as("pk"),
        sum("cnt").as("cluster_n"))
      .select(col("cluster"), col("cluster_n"),
        (lit(1023) - col("pk") % 1024).cast("long").as("top_label"),
        expr("pk div 1024").as("top_n"))
      .localCheckpoint()
    val tot = per.agg(
      expr("sum(top_n) * 1000000 div sum(cluster_n)")
        .as("overall_purity_micro"))
    per.crossJoin(broadcast(tot))
      .select(col("cluster"), col("cluster_n"), col("top_label"),
        col("top_n"),
        expr("top_n * 1000000 div cluster_n").as("purity_micro"),
        col("overall_purity_micro"))
  }

  // -- LSH design evaluation: precision/recall of the MinHash-LSH
  //    candidate pairs against exact kept-shingle Jaccard, at four
  //    thresholds — the "are 4 bands x 4 rows right for this corpus"
  //    readout a dedup operator consults before committing a banding
  //    scheme (the S-curve, measured instead of assumed). Jaccard is an
  //    integer micro-fraction and every cell is a BIGINT count, so the
  //    report is engine-exact. Scale shape: truth and candidates are the
  //    existing bucket-cut pair generators (never all-pairs); the
  //    threshold table is 4 broadcast rows; everything after pair
  //    generation is partial-agg'd counting.
  q("q_lsh_pr_eval",
    s"""WITH $SqlMinhashPairCtes,
       |cand AS ($SqlMinhashPairSelect),
       |keptsh AS (SELECT shingle FROM sh GROUP BY shingle
       |           HAVING count(*) <= 50),
       |ksh AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keptsh USING (shingle)),
       |sized AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
       |          FROM ksh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |            CAST(count(*) AS BIGINT) AS ni
       |          FROM ksh a JOIN ksh b
       |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |tj AS (SELECT doc_a, doc_b,
       |         CAST(ni * 1000000 // (sa.n_sh + sb.n_sh - ni) AS BIGINT) AS jm
       |       FROM inter JOIN sized sa ON sa.doc_id = doc_a
       |       JOIN sized sb ON sb.doc_id = doc_b),
       |cj AS (SELECT c.doc_a, c.doc_b, coalesce(tj.jm, 0) AS jm
       |       FROM cand c LEFT JOIN tj USING (doc_a, doc_b)),
       |th AS (SELECT CAST(unnest([500000, 600000, 700000, 800000]) AS BIGINT)
       |         AS threshold_micro),
       |tr AS (SELECT threshold_micro, CAST(count(tj.doc_a) AS BIGINT) AS n_truth
       |       FROM th LEFT JOIN tj ON tj.jm >= th.threshold_micro
       |       GROUP BY threshold_micro),
       |tp AS (SELECT threshold_micro, CAST(count(cj.doc_a) AS BIGINT) AS tp
       |       FROM th LEFT JOIN cj ON cj.jm >= th.threshold_micro
       |       GROUP BY threshold_micro),
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand)
       |SELECT tr.threshold_micro, tr.n_truth, nc.n_cand, tp.tp,
       |  CAST(nc.n_cand - tp.tp AS BIGINT) AS n_fp,
       |  CAST(tr.n_truth - tp.tp AS BIGINT) AS n_fn,
       |  CAST(CASE WHEN nc.n_cand > 0 THEN tp.tp * 1000000 // nc.n_cand
       |       ELSE 0 END AS BIGINT) AS precision_micro,
       |  CAST(CASE WHEN tr.n_truth > 0 THEN tp.tp * 1000000 // tr.n_truth
       |       ELSE 0 END AS BIGINT) AS recall_micro
       |FROM tr JOIN tp USING (threshold_micro) CROSS JOIN nc""") { (s, dir) =>
    import s.implicits._
    // the candidate side hashes text straight into signatures (the
    // md5_minhash kernel); only the exact-Jaccard truth side builds
    // shingle strings, in one pass
    val cand = minhashPairs(s, dir)
    // exact kept-shingle Jaccard in integer micro units (the
    // q_dedup_ngram_jaccard shape, unthresholded)
    val sh = spread(load(s, dir, "documents"))
      .select(col("doc_id"), explode(D.wordShingles(col("text"), 3)).as("s"))
    val kept = sh.groupBy("s").agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) <= 50).localCheckpoint()
    val sized = kept.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val tj = kept.filter(size(col("ids")) > 1)
      .select(explode(D.orderedPairs(col("ids"))).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("ni"))
      // unhinted per-doc size join (corpus-proportional side; AQE decides)
      .join(sized.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sized.as("sb"), col("sb.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("ni * 1000000 div (sa.n_sh + sb.n_sh - ni)").as("jm"))
      .localCheckpoint()
    val cj = cand.join(tj, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), coalesce(col("jm"), lit(0L)).as("jm"))
    val th = Seq(500000L, 600000L, 700000L, 800000L).toDF("threshold_micro")
    val tr = broadcast(th).join(tj, col("jm") >= col("threshold_micro"), "left")
      .groupBy("threshold_micro").agg(count(col("doc_a")).as("n_truth"))
    val tp = broadcast(th).join(cj, col("jm") >= col("threshold_micro"), "left")
      .groupBy("threshold_micro").agg(count(col("doc_a")).as("tp"))
    val nc = cand.agg(count(lit(1)).as("n_cand"))
    tr.join(tp, Seq("threshold_micro")).crossJoin(broadcast(nc))
      .select(col("threshold_micro"), col("n_truth"), col("n_cand"), col("tp"),
        (col("n_cand") - col("tp")).as("n_fp"),
        (col("n_truth") - col("tp")).as("n_fn"),
        when(col("n_cand") > 0, expr("tp * 1000000 div n_cand"))
          .otherwise(0L).as("precision_micro"),
        when(col("n_truth") > 0, expr("tp * 1000000 div n_truth"))
          .otherwise(0L).as("recall_micro"))
  }

  // -- dup-graph triangle census: per-node degree, triangle count, and
  //    local clustering coefficient over the MinHash pair graph — dense
  //    triangle neighborhoods are template farms / mirror rings (one
  //    shared band is circumstantial; a closed triangle is structure), so
  //    this is the "is this dup cluster a clique or a chain" signal the
  //    representative picker pairs with q_pagerank_dupgraph. Triangles
  //    enumerate once on the a<b<c ordered edge list (each triangle
  //    counted exactly once, the compact-forward scheme) — two equi-joins
  //    on node keys, never an open wedge explosion past the bucket-cut
  //    degree bound; the coefficient is an integer micro-fraction.
  q("q_graph_triangles",
    s"""WITH $SqlMinhashPairCtes,
       |pairs AS ($SqlMinhashPairSelect),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
       |deg AS (SELECT a AS n, CAST(count(*) AS BIGINT) AS degree
       |        FROM sym GROUP BY a),
       |tri AS (SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
       |        FROM pairs e1
       |        JOIN pairs e2 ON e2.doc_a = e1.doc_b
       |        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
       |tn AS (SELECT n, CAST(count(*) AS BIGINT) AS n_triangles FROM
       |         (SELECT unnest([a, b, c]) AS n FROM tri) GROUP BY n)
       |SELECT deg.n AS doc_id, deg.degree,
       |  coalesce(tn.n_triangles, 0) AS n_triangles,
       |  CAST(CASE WHEN deg.degree >= 2 THEN
       |    coalesce(tn.n_triangles, 0) * 2000000 // (deg.degree * (deg.degree - 1))
       |    ELSE 0 END AS BIGINT) AS clustering_micro
       |FROM deg LEFT JOIN tn ON tn.n = deg.n""") { (s, dir) =>
    val pairs = minhashPairs(s, dir)
    val sym = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionByName(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
    val deg = sym.groupBy(col("a").as("n")).agg(count(lit(1)).as("degree"))
    val tri = pairs.as("e1")
      .join(pairs.as("e2"), col("e2.doc_a") === col("e1.doc_b"))
      .join(pairs.as("e3"), col("e3.doc_a") === col("e1.doc_a") &&
        col("e3.doc_b") === col("e2.doc_b"))
      .select(col("e1.doc_a").as("a"), col("e1.doc_b").as("b"),
        col("e2.doc_b").as("c"))
    val tn = tri.select(explode(array(col("a"), col("b"), col("c"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_triangles"))
    deg.join(tn, Seq("n"), "left")
      .select(col("n").as("doc_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          expr("coalesce(n_triangles, 0) * 2000000 div (degree * (degree - 1))"))
          .otherwise(0L).as("clustering_micro"))
  }

  // -- dup-graph degree distribution: the log₂ histogram of node degrees
  //    plus the isolated-doc count — the first diagnostic a dedup
  //    operator reads off the pair graph (a power-law tail means mirror
  //    farms; a fat head means boilerplate bands leaking through the
  //    bucket cut). Bucket = bitlength(degree) via length(bin(n)), the
  //    q_skew_report idiom — integer on both engines. Scale shape: the
  //    histogram is one hash agg over the degree table; the totals side
  //    is a broadcast 1-row cross join; isolated docs = corpus count
  //    minus connected count, never an anti-join over the corpus.
  q("q_graph_degree_dist",
    s"""WITH $SqlMinhashPairCtes,
       |pairs AS ($SqlMinhashPairSelect),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
       |deg AS (SELECT a AS n, CAST(count(*) AS BIGINT) AS degree
       |        FROM sym GROUP BY a),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_connected,
       |        CAST(sum(degree) AS BIGINT) AS sum_degree_all,
       |        CAST(max(degree) AS BIGINT) AS max_degree FROM deg),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |dh AS (SELECT CAST(length(bin(degree)) AS BIGINT) AS bucket,
       |        CAST(count(*) AS BIGINT) AS n_nodes,
       |        CAST(sum(degree) AS BIGINT) AS sum_degree
       |      FROM deg GROUP BY 1)
       |SELECT dh.bucket, dh.n_nodes, dh.sum_degree, t.n_connected, t.max_degree,
       |  nd.n_docs - t.n_connected AS n_isolated
       |FROM dh CROSS JOIN t CROSS JOIN nd""") { (s, dir) =>
    val pairs = minhashPairs(s, dir)
    val deg = pairs
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionByName(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .groupBy(col("a").as("n")).agg(count(lit(1)).as("degree"))
      .localCheckpoint() // degree table computed once for both sides
    val t = deg.agg(count(lit(1)).as("n_connected"),
      sum("degree").as("sum_degree_all"), max("degree").as("max_degree"))
    val nd = load(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
    deg.groupBy(length(bin(col("degree"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_nodes"), sum("degree").as("sum_degree"))
      .crossJoin(broadcast(t)).crossJoin(broadcast(nd))
      .select(col("bucket"), col("n_nodes"), col("sum_degree"),
        col("n_connected"), col("max_degree"),
        (col("n_docs") - col("n_connected")).as("n_isolated"))
  }

  // -- PMI collocations: the top-100 bigrams by pointwise lift
  //    p(ab)/(p(a)p(b)) — the multi-word-expression miner a tokenizer
  //    designer runs before freezing a vocab (collocations that should
  //    be single tokens). All-integer: the three probabilities quantize
  //    to micro units FIRST, then lift = p_ab*1e9 div (p_a*p_b) in
  //    milli units — every intermediate is <= 1e15 REGARDLESS of corpus
  //    size (the micro-unit normalization bounds the operands, so the
  //    arithmetic never outgrows BIGINT at 100 TB). Scale shape: bigrams
  //    explode map-side into a partial-agg'd count; the unigram lexicon
  //    is vocabulary-bounded and broadcast to both sides of the bigram
  //    join; totals are broadcast 1-row cross joins; top-100 is
  //    TakeOrderedAndProject, never a global sort.
  q("q_pmi_collocations",
    s"""WITH t AS (SELECT doc_id, $SqlTokens AS ws FROM documents),
       |uni AS (SELECT unnest(ws) AS w FROM t),
       |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w),
       |nu AS (SELECT CAST(count(*) AS BIGINT) AS n_uni FROM uni),
       |ix AS (SELECT ws, unnest(range(len(ws) - 1)) AS i FROM t),
       |bi AS (SELECT ws[i + 1] AS wa, ws[i + 2] AS wb FROM ix),
       |bc AS (SELECT wa, wb, CAST(count(*) AS BIGINT) AS c_ab
       |       FROM bi GROUP BY wa, wb),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bi FROM bi),
       |p AS (SELECT bc.wa, bc.wb, bc.c_ab,
       |        CAST(bc.c_ab * 1000000 // nb.n_bi AS BIGINT) AS p_ab_micro,
       |        CAST(ua.c * 1000000 // nu.n_uni AS BIGINT) AS p_a_micro,
       |        CAST(ub.c * 1000000 // nu.n_uni AS BIGINT) AS p_b_micro
       |      FROM bc JOIN uc ua ON ua.w = bc.wa
       |      JOIN uc ub ON ub.w = bc.wb
       |      CROSS JOIN nu CROSS JOIN nb)
       |SELECT wa, wb, c_ab,
       |  CAST(p_ab_micro * 1000000000 // (p_a_micro * p_b_micro) AS BIGINT)
       |    AS lift_milli
       |FROM p
       |WHERE c_ab >= 5 AND p_a_micro > 0 AND p_b_micro > 0
       |ORDER BY lift_milli DESC, wa, wb LIMIT 100""") { (s, dir) =>
    val toks = load(s, dir, "documents")
      .select(T.tokens(col("text")).as("ws"))
      .localCheckpoint() // tokenized once for unigram + bigram sides
    val uni = toks.select(explode(col("ws")).as("w"))
    val uc = uni.groupBy("w").agg(count(lit(1)).as("c"))
      .localCheckpoint() // vocabulary-bounded lexicon, broadcast below
    val nu = uni.agg(count(lit(1)).as("n_uni"))
    val bi = toks.filter(size(col("ws")) >= 2)
      .select(expr("""explode(transform(sequence(0, size(ws) - 2),
        i -> struct(ws[i] AS wa, ws[i + 1] AS wb))) AS p"""))
      .select(col("p.wa"), col("p.wb"))
      .localCheckpoint() // bigram stream feeds both the count and total
    val bc = bi.groupBy("wa", "wb").agg(count(lit(1)).as("c_ab"))
    val nb = bi.agg(count(lit(1)).as("n_bi"))
    bc.join(broadcast(uc.select(col("w").as("wa"), col("c").as("ca"))), "wa")
      .join(broadcast(uc.select(col("w").as("wb"), col("c").as("cb"))), "wb")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .select(col("wa"), col("wb"), col("c_ab"),
        expr("c_ab * 1000000 div n_bi").as("p_ab_micro"),
        expr("ca * 1000000 div n_uni").as("p_a_micro"),
        expr("cb * 1000000 div n_uni").as("p_b_micro"))
      .filter(col("c_ab") >= 5 && col("p_a_micro") > 0 && col("p_b_micro") > 0)
      .select(col("wa"), col("wb"), col("c_ab"),
        expr("p_ab_micro * 1000000000 div (p_a_micro * p_b_micro)")
          .as("lift_milli"))
      .orderBy(col("lift_milli").desc, col("wa"), col("wb"))
      .limit(100)
  }

  // -- Johnson-Lindenstrauss random sign projection 64 -> 16: the
  //    dimensionality-reduction step an ANN pipeline runs before
  //    indexing when the embedding dim is too wide to bucket directly.
  //    The projection matrix is DERIVED, not stored: r(i,j) = sign from
  //    md5(i_j) — any executor (and the oracle) regenerates it
  //    bit-identically, the Achlioptas-style database-friendly JL
  //    construction. All-integer: micro-quantized inputs, sign values in
  //    {-1, +1}, L1 mass report as a truncated micro ratio. Scale shape:
  //    the 1024-cell matrix broadcasts; the corpus shuffles ONCE on
  //    (vec_id, j) for the partial-agg'd dot products; the L1 sides fold
  //    the same exploded stream.
  q("q_random_projection",
    s"""WITH xm AS (SELECT vec_id,
       |    CAST(unnest(range(len(embedding))) AS BIGINT) AS i,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS x
       |  FROM embeddings),
       |rm AS (SELECT i, j,
       |    (${sqlMd5Long("CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)")} % 2) * 2 - 1 AS r
       |  FROM (SELECT unnest(range(64)) AS i)
       |  CROSS JOIN (SELECT unnest(range(16)) AS j)),
       |proj AS (SELECT vec_id, j, CAST(sum(x * r) AS BIGINT) AS p
       |         FROM xm JOIN rm USING (i) GROUP BY vec_id, j),
       |l1 AS (SELECT vec_id, CAST(sum(abs(x)) AS BIGINT) AS l1_orig
       |       FROM xm GROUP BY vec_id),
       |pl AS (SELECT vec_id, CAST(sum(abs(p)) AS BIGINT) AS l1_proj
       |       FROM proj GROUP BY vec_id)
       |SELECT vec_id, l1_orig, l1_proj,
       |  CAST(l1_proj * 250000 // l1_orig AS BIGINT) AS ratio_q_micro
       |FROM l1 JOIN pl USING (vec_id)""") { (s, dir) =>
    val xm = spread(load(s, dir, "embeddings"))
      .select(col("vec_id"),
        posexplode(transform(col("embedding"),
          x => round(x.cast("double") * lit(1e6)).cast("long")))
          .as(Seq("i", "x")))
      .localCheckpoint() // exploded once; feeds proj + the L1 fold
    val rm = s.range(64).select(col("id").as("i"))
      .crossJoin(s.range(16).select(col("id").as("j")))
      .select(col("i"), col("j"),
        (T.md5Long(concat(col("i").cast("string"), lit("_"),
          col("j").cast("string"))) % 2 * 2 - 1).as("r"))
    val proj = xm.join(broadcast(rm), "i")
      .groupBy("vec_id", "j").agg(sum(col("x") * col("r")).as("p"))
    val l1 = xm.groupBy("vec_id").agg(sum(abs(col("x"))).as("l1_orig"))
    val pl = proj.groupBy("vec_id").agg(sum(abs(col("p"))).as("l1_proj"))
    l1.join(pl, "vec_id")
      .select(col("vec_id"), col("l1_orig"), col("l1_proj"),
        expr("l1_proj * 250000 div l1_orig").as("ratio_q_micro"))
  }

  // -- winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
  //    MOSS scheme): 8-char-gram md5 hashes, rightmost-minimum selection
  //    per 4-gram window, then cross-doc shared-fingerprint pairs — the
  //    position-robust overlap detector (guarantees every ≥11-char shared
  //    run yields a shared fingerprint, unlike fixed-stride sampling).
  //    The window argmin rides ONE packed BIGINT key (hash·2^21 +
  //    (2^21-1-pos)), so min == (hash asc, pos desc) and the selection is
  //    bit-exact in DuckDB; positions wrap at 2^21 chars (upstream
  //    chunking bounds docs far below that — q_text_chunking is the
  //    feeder). Scale shape: the window is PARTITIONED per doc (bounded
  //    by doc length); pair generation reuses the dedup-family bucket cut
  //    (2..50) on the fingerprint hash — never all-pairs.
  q("q_winnowing_overlap",
    s"""WITH docs AS (SELECT doc_id,
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
       |  FROM documents),
       |g AS (SELECT doc_id, CAST(unnest(range(len(nt) - 7)) AS BIGINT) AS pos, nt
       |      FROM docs WHERE len(nt) >= 8),
       |h AS (SELECT doc_id, pos,
       |        ${sqlMd5Long("substr(nt, CAST(pos AS INT) + 1, 8)")}
       |          % 1099511627776 AS hv
       |      FROM g),
       |cmb AS (SELECT doc_id, pos,
       |          hv * 2097152 + (2097151 - pos % 2097152) AS ck FROM h),
       |wm AS (SELECT doc_id, pos, min(ck) OVER (PARTITION BY doc_id
       |         ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mk
       |       FROM cmb),
       |sel AS (SELECT DISTINCT doc_id, CAST(mk // 2097152 AS BIGINT) AS fh,
       |          CAST(2097151 - mk % 2097152 AS BIGINT) AS fpos
       |        FROM wm WHERE pos >= 3),
       |df AS (SELECT DISTINCT doc_id, fh FROM sel),
       |dfc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
       |        FROM df GROUP BY doc_id),
       |keptf AS (SELECT fh FROM df GROUP BY fh
       |          HAVING count(*) BETWEEN 2 AND 50),
       |kdf AS (SELECT df.* FROM df JOIN keptf USING (fh)),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |        CAST(count(*) AS BIGINT) AS n_shared
       |      FROM kdf a JOIN kdf b ON a.fh = b.fh AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_shared,
       |  CAST(n_shared * 1000000 // least(fa.n_fp, fb.n_fp) AS BIGINT)
       |    AS overlap_micro
       |FROM p JOIN dfc fa ON fa.doc_id = doc_a
       |JOIN dfc fb ON fb.doc_id = doc_b
       |WHERE n_shared * 1000000 // least(fa.n_fp, fb.n_fp) >= 300000""") { (s, dir) =>
    val docs = spread(load(s, dir, "documents"))
      .select(col("doc_id"), T.normalizeText(col("text")).as("nt"))
      .filter(length(col("nt")) >= 8)
    val h = docs
      .select(col("doc_id"), col("nt"),
        explode(sequence(lit(0L), length(col("nt")).cast("long") - 8L))
          .as("pos"))
      .select(col("doc_id"), col("pos"),
        (T.md5Long(expr("substring(nt, cast(pos as int) + 1, 8)"))
          % 1099511627776L).as("hv"))
    val w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-3, 0)
    val sel = h
      .select(col("doc_id"), col("pos"),
        (col("hv") * 2097152L + (lit(2097151L) - col("pos") % 2097152L))
          .as("ck"))
      .select(col("doc_id"), col("pos"), min(col("ck")).over(w).as("mk"))
      .filter(col("pos") >= 3)
      .select(col("doc_id"), expr("mk div 2097152").as("fh"),
        (lit(2097151L) - col("mk") % 2097152L).as("fpos"))
      .distinct()
    val df = sel.select("doc_id", "fh").distinct().localCheckpoint()
    val dfc = df.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val pairs = df.groupBy("fh").agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, 50))
      .select(explode(D.orderedPairs(col("ids"))).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    // unhinted per-doc fingerprint-count join (corpus-proportional side —
    // same r9-verdict pattern as the dedup sized tables; AQE decides)
    pairs
      .join(dfc.as("fa"), col("fa.doc_id") === col("doc_a"))
      .join(dfc.as("fb"), col("fb.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        expr("n_shared * 1000000 div least(fa.n_fp, fb.n_fp)")
          .as("overlap_micro"))
      // report bar: ≥30% containment of the smaller fingerprint set —
      // below that the shared mass is boilerplate grams, not overlap
      .filter(col("overlap_micro") >= 300000)
  }

  // -- LIVE lexicon stats — the continuously-maintained twin of
  //    q_type_token_stats: the corpus replays through a running query
  //    whose state is the (source, word) count table (the exact lexicon —
  //    vocabulary-bounded at any corpus size; the cardinality-sketch twin
  //    for unbounded key spaces is q_hll_distinct_live), and the
  //    type/token/hapax rollup rides the final register table in batch.
  //    Final report must hash-equal the batch oracle.
  q("q_type_token_stats_live",
    s"""WITH t AS (SELECT source, unnest($SqlTokens) AS w FROM documents),
       |wc AS (SELECT source, w, count(*) AS c FROM t GROUP BY source, w),
       |s AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       |        CAST(count(*) AS BIGINT) AS n_types,
       |        CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
       |        CAST(max(c) AS BIGINT) AS top_count
       |      FROM wc GROUP BY source)
       |SELECT source, n_tokens, n_types, n_hapax,
       |  CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_micro,
       |  CAST(n_hapax * 1000000 // n_types AS BIGINT) AS hapax_micro,
       |  CAST(top_count * 1000000 // n_tokens AS BIGINT) AS top_share_micro
       |FROM s""") { (s, dir) =>
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/documents.parquet")
    val docs = s.readStream.schema(raw.schema).parquet(s"$dir/documents.parq*")
    val wc = docs
      .select(col("source"), explode(T.tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val name = s"ttl_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    wc.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    s.table(name).groupBy("source")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        max("c").as("top_count"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("n_types * 1000000 div n_tokens").as("ttr_micro"),
        expr("n_hapax * 1000000 div n_types").as("hapax_micro"),
        expr("top_count * 1000000 div n_tokens").as("top_share_micro"))
  }

  // ======================================================= KMV sketches

  /** DuckDB mirror of the KMV bottom-k summary (operators.KMinValues)
    * over the per-source 3-word shingle sets (the q_source_overlap
    * universe — ~1.1–1.5k distinct per source, well past k, so the
    * estimator branch is really exercised): distinct 50-bit md5 hashes
    * per source, k = 256 smallest kept. Shared by the distinct /
    * set-ops / live queries. */
  private val SqlKmvSketch: String =
    s"""d0 AS (SELECT source, $SqlTokens AS ws FROM documents),
       |t AS (SELECT source, unnest($SqlShingles3) AS w FROM d0),
       |dh AS (SELECT DISTINCT source, ${sqlMd5Long("w")} // 1024 AS h FROM t),
       |kr AS (SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY h) AS rank
       |       FROM dh),
       |sk AS (SELECT * FROM kr WHERE rank <= ${graft.operators.KMinValues.K})""".stripMargin

  /** (k−1) · HashSpace — the KMV estimator numerator, computed from the
    * SAME constants the sketch uses (r9 ADVICE: a hardcoded 255·2^50
    * would silently go stale if K changed) and interpolated into both
    * oracle SQL strings. */
  private val KmvEstNum: Long =
    (graft.operators.KMinValues.K - 1).toLong * graft.operators.KMinValues.HashSpace

  /** Oracle shared by the batch and live KMV-distinct twins (identical
    * final state by construction). */
  private val SqlKmvQuery: String =
    s"""WITH $SqlKmvSketch,
       |est AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sketch,
       |          max(CASE WHEN rank = ${graft.operators.KMinValues.K} THEN h END) AS hk
       |        FROM sk GROUP BY source),
       |x AS (SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS n_exact
       |      FROM t GROUP BY source)
       |SELECT x.source, x.n_exact, est.n_sketch,
       |  CAST(CASE WHEN est.n_sketch < ${graft.operators.KMinValues.K} THEN est.n_sketch
       |       ELSE ${KmvEstNum} // est.hk END AS BIGINT) AS kmv_estimate
       |FROM x JOIN est USING (source)""".stripMargin

  // -- KMV (bottom-k) distinct 3-shingles per source, read out against
  //    the exact count — the SECOND sketch family for cardinality
  //    (operators.KMinValues): where q_hll_distinct's registers only
  //    estimate one set's size, the KMV summary is a bottom-k SAMPLE of
  //    the hashed key space, so two sources' sketches also answer
  //    union/intersection/Jaccard (q_kmv_set_ops). Engine-exact: 50-bit
  //    md5 hashes and one truncated division, mirrored bit-for-bit in
  //    DuckDB. Scale: ONE partial-agg'd shuffle — the bounded buffer
  //    dedups on insert, so map tasks emit ≤ k longs per group and the
  //    whole summary is |sources| · k rows (KMinValuesSpec pins
  //    mergeability + partitioning-independence).
  q("q_kmv_distinct", SqlKmvQuery) { (s, dir) =>
    import graft.operators.KMinValues
    val toks = spread(load(s, dir, "documents"))
      .select(col("source"), explode(D.wordShingles(col("text"), 3)).as("w"))
      // consumed by the sketch AND the exact twin — shingle once (r15)
      .localCheckpoint(false)
    val est = KMinValues.estimate(KMinValues.sketch(toks, "w", "source"), "source")
    toks.groupBy("source").agg(countDistinct(col("w")).as("n_exact"))
      .join(est, "source")
      .select(col("source"), col("n_exact"), col("n_sketch"), col("kmv_estimate"))
  }

  // -- KMV set algebra between sources — the query register sketches
  //    CANNOT answer: |A ∪ B|, |A ∩ B| and Jaccard for every source pair
  //    from the k-row summaries ALONE (S_k(A ∪ B) = S_k(S(A) ∪ S(B)),
  //    Beyer et al., SIGMOD 2007 §4). This is q_source_overlap's answer
  //    at 100 TB: the exact version joins the full shingle sets; this one
  //    touches the corpus once to build |sources|·k summaries and every
  //    pair estimate after that is sketch-local (the per-pair rank window
  //    is bounded at 2k = 512 rows by construction). All-integer:
  //    jaccard_micro = 1e6·n_common div |union sketch|,
  //    intersect_est = n_common·union_est div |union sketch|.
  /** Oracle shared by the batch and live KMV set-ops twins (identical
    * final sketch state by construction). */
  private val SqlKmvSetOps: String =
    s"""WITH $SqlKmvSketch,
       |ps AS (SELECT a.source AS source_a, b.source AS source_b
       |       FROM (SELECT DISTINCT source FROM sk) a
       |       JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
       |uh AS (SELECT p.source_a, p.source_b, s.h
       |       FROM ps p JOIN sk s ON s.source IN (p.source_a, p.source_b)
       |       GROUP BY 1, 2, 3),
       |ur AS (SELECT source_a, source_b, h,
       |         row_number() OVER (PARTITION BY source_a, source_b ORDER BY h)
       |           AS rk
       |       FROM uh),
       |us AS (SELECT * FROM ur WHERE rk <= ${graft.operators.KMinValues.K}),
       |ua AS (SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_u,
       |         max(CASE WHEN rk = ${graft.operators.KMinValues.K} THEN h END) AS hk
       |       FROM us GROUP BY 1, 2),
       |ue AS (SELECT source_a, source_b, n_u,
       |         CAST(CASE WHEN n_u < ${graft.operators.KMinValues.K} THEN n_u
       |              ELSE ${KmvEstNum} // hk END AS BIGINT) AS union_est
       |       FROM ua),
       |cm AS (SELECT u.source_a, u.source_b, CAST(count(*) AS BIGINT) AS nc
       |       FROM us u
       |       JOIN sk x ON x.source = u.source_a AND x.h = u.h
       |       JOIN sk y ON y.source = u.source_b AND y.h = u.h
       |       GROUP BY 1, 2)
       |SELECT ue.source_a, ue.source_b, ue.union_est,
       |  CAST(coalesce(cm.nc, 0) AS BIGINT) AS n_common,
       |  CAST(coalesce(cm.nc, 0) * 1000000 // ue.n_u AS BIGINT) AS jaccard_micro,
       |  CAST(coalesce(cm.nc, 0) * ue.union_est // ue.n_u AS BIGINT)
       |    AS intersect_est
       |FROM ue LEFT JOIN cm USING (source_a, source_b)""".stripMargin

  q("q_kmv_set_ops", SqlKmvSetOps) { (s, dir) =>
    import graft.operators.KMinValues
    val toks = spread(load(s, dir, "documents"))
      .select(col("source"), explode(D.wordShingles(col("text"), 3)).as("w"))
    // |sources|·k rows; the corpus pass runs ONCE, everything below is
    // sketch-local (localCheckpoint cuts the reused lineage)
    kmvSetOpsFrom(KMinValues.sketch(toks, "w", "source").localCheckpoint())
  }

  /** Pairwise set algebra over an ALREADY-BUILT KMV summary table
    * (source, h, rank) — shared by the batch and live twins: union
    * sketch per source pair (S_k(A ∪ B) = S_k(S(A) ∪ S(B))), union /
    * intersection / Jaccard estimates, all sketch-local (the per-pair
    * rank window sees ≤ 2k rows by construction). */
  private def kmvSetOpsFrom(sk: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.KMinValues
    val srcs = sk.select("source").distinct()
    val ps = srcs.toDF("source_a")
      .join(srcs.toDF("source_b"), col("source_a") < col("source_b"))
    val skA = sk.select(col("source").as("source_a"), col("h"))
    val skB = sk.select(col("source").as("source_b"), col("h"))
    val uh = ps.join(skA, "source_a").select("source_a", "source_b", "h")
      .unionByName(ps.join(skB, "source_b").select("source_a", "source_b", "h"))
      .distinct()
    // bounded window: ≤ 2k = 512 rows per (source_a, source_b) partition
    val us = uh
      .withColumn("rk", row_number().over(
        Window.partitionBy("source_a", "source_b").orderBy("h")))
      .filter(col("rk") <= KMinValues.K)
      .localCheckpoint()
    val ue = us.groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_u"),
        max(when(col("rk") === KMinValues.K, col("h"))).as("hk"))
      .select(col("source_a"), col("source_b"), col("n_u"),
        when(col("n_u") < KMinValues.K, col("n_u"))
          .otherwise(expr(s"${(KMinValues.K - 1).toLong * KMinValues.HashSpace} div hk"))
          .as("union_est"))
    val cm = us.join(skA, Seq("source_a", "h")).join(skB, Seq("source_b", "h"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("nc"))
    ue.join(cm, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("union_est"),
        coalesce(col("nc"), lit(0L)).as("n_common"),
        expr("coalesce(nc, 0) * 1000000 div n_u").as("jaccard_micro"),
        expr("coalesce(nc, 0) * union_est div n_u").as("intersect_est"))
  }

  // -- LIVE KMV maintenance — the streaming shape: the bounded buffer IS
  //    the state (≤ k longs per source, forever), maintained by the same
  //    typed aggregation in complete mode; the final state must equal the
  //    batch sketch, so the estimate matches the same oracle (the
  //    q_hll_distinct_live pattern for the bottom-k family).
  q("q_kmv_distinct_live", SqlKmvQuery) { (s, dir) =>
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.operators.KMinValues
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/documents.parquet")
    val docs = s.readStream.schema(raw.schema).parquet(s"$dir/documents.parq*")
    val state = KMinValues.sketchState(
      docs.select(col("source"), explode(D.wordShingles(col("text"), 3)).as("w")),
      "w", "source")
    val name = s"kmv_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    state.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val est = KMinValues.estimate(
      KMinValues.fromState(s.table(name), "source"), "source")
    val toks = spread(load(s, dir, "documents"))
      .select(col("source"), explode(D.wordShingles(col("text"), 3)).as("w"))
    toks.groupBy("source").agg(countDistinct(col("w")).as("n_exact"))
      .join(est, "source")
      .select(col("source"), col("n_exact"), col("n_sketch"), col("kmv_estimate"))
  }

  // -- LIVE KMV set algebra — what streaming sketch maintenance BUYS: the
  //    bounded per-source buffers accumulate in complete mode, and every
  //    pairwise union/intersection/Jaccard estimate is then computed from
  //    the ≤ k-row summaries ALONE, never re-reading the stream. Final
  //    state equals the batch sketch, so it shares the batch oracle.
  q("q_kmv_set_ops_live", SqlKmvSetOps) { (s, dir) =>
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.operators.KMinValues
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/documents.parquet")
    val docs = s.readStream.schema(raw.schema).parquet(s"$dir/documents.parq*")
    val state = KMinValues.sketchState(
      docs.select(col("source"), explode(D.wordShingles(col("text"), 3)).as("w")),
      "w", "source")
    val name = s"kmvso_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    state.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    kmvSetOpsFrom(
      KMinValues.fromState(s.table(name), "source").localCheckpoint())
  }

  // ==================================================== entity resolution

  /** DuckDB CTEs shared by the ER pair and entity queries: multi-pass
    * token-prefix blocking (keys = tokens 1–5 and 6–10 — the second pass
    * catches variants whose edits land in the head, and a cross-pass
    * match catches 5-token shifts), 2..50 bucket cut, candidate pairs,
    * Levenshtein rescore on the 80-char normalized title, edge at
    * distance ≤ 20. */
  private val SqlErPairCtes: String =
    s"""t AS (SELECT doc_id, $SqlTokens AS ws,
       |        substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
       |               1, 80) AS title
       |      FROM documents),
       |k AS (SELECT doc_id, title, array_to_string(ws[1:5], ' ') AS bk FROM t
       |      UNION ALL
       |      SELECT doc_id, title, array_to_string(ws[6:10], ' ') AS bk FROM t),
       |bc AS (SELECT bk FROM k GROUP BY bk HAVING count(*) BETWEEN 2 AND 50),
       |cp AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |         a.title AS ta, c.title AS tb
       |       FROM k a JOIN k c ON a.bk = c.bk AND a.doc_id < c.doc_id
       |       WHERE a.bk IN (SELECT bk FROM bc))""".stripMargin

  private val SqlErPairSelect: String =
    """SELECT doc_a, doc_b, CAST(levenshtein(ta, tb) AS BIGINT) AS lev
      |FROM cp WHERE levenshtein(ta, tb) <= 20""".stripMargin

  // -- entity resolution, candidate stage: the CHARACTER-level fuzzy
  //    matcher the token-set dedup family doesn't cover — classic ER
  //    blocking (Christen, "Data Matching" 2012: multi-pass canopy keys,
  //    never all-pairs) + pairwise edit distance. Spark's codegen'd
  //    levenshtein and DuckDB's agree exactly (same DP recurrence), so
  //    the rescore is oracle-exact. Scale shape: the blocking join is the
  //    MinHash-LSH bucket shape — equi-join on compact keys, buckets cut
  //    to 2..50 BEFORE pairing, O(Σ bucket²) pairs, never O(n²); the
  //    Levenshtein DP (80×80 cells max) runs only on survivors.
  q("q_er_fuzzy_pairs",
    s"""WITH $SqlErPairCtes
       |$SqlErPairSelect""") { (s, dir) =>
    erFuzzyPairs(s, dir)
  }

  /** Spark twin of the ER candidate CTEs (shared by pairs + entities).
    *
    * r15 rewrite (guide §2.4/§1.2): the old shape — two-branch union for
    * the blocking keys, a count-filtered key table, then a SELF-JOIN of
    * the keyed rows against it — planned with ZERO exchange reuse: the
    * committed before-plan (plans/r15/q_er_fuzzy_pairs_before.txt) shows
    * 8 parquet scans of `documents`, i.e. the tokenize+normalize pipeline
    * ran up to 8x per query. This is now the one-pass bucket shape the
    * MinHash family already uses (minhashPairs): ONE scan, blocking keys
    * exploded from one array, ONE groupBy(bk) collecting (doc_id, title)
    * structs — titles ride the buckets (SCALE rule #3) — the 2..50 cut
    * BEFORE pairing, in-bucket ordered pairs, then the same distinct +
    * Levenshtein rescore. Output is row-identical (same buckets, same
    * pairs, same filter); the shared DuckDB CTE chain is untouched. */
  private def erFuzzyPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val k = spread(load(s, dir, "documents"))
      .select(col("doc_id"), D.bindOnce(T.tokens(col("text"))) { ws =>
          array(array_join(slice(ws, 1, 5), " "),
            array_join(slice(ws, 6, 5), " "))
        }.as("bks"),
        substring(T.normalizeText(col("text")), 1, 80).as("title"))
      .select(col("doc_id"), col("title"), explode(col("bks")).as("bk"))
    // r16 (ADVICE r15 medium): bound the collect_list buffer — a
    // degenerate hot blocking key (all-empty texts share bk "") would
    // otherwise build an unbounded (id, title) struct buffer before the
    // 2..50 cut discards it, an executor-OOM hazard at scale. The bucket
    // size is pre-counted with a window over the SAME (bk) shuffle
    // (WindowExec buffers in a spillable row array — no OOM; the groupBy
    // below reuses the exchange), so oversized keys are dropped BEFORE
    // any row rides an aggregation buffer. Counts ROWS like the old bc
    // CTE — a doc whose two block keys coincide counts twice, as before;
    // buckets/pairs are row-identical to the post-collect size filter.
    val wBk = org.apache.spark.sql.expressions.Window.partitionBy("bk")
    k.withColumn("__n", count(lit(1)).over(wBk))
      .filter(col("__n").between(2, 50))
      .groupBy("bk")
      .agg(collect_list(struct(col("doc_id"), col("title"))).as("ms"))
      .select(explode(D.orderedPairs(col("ms"))).as("p"))
      // strict < drops the self-pair of a doc bucketed twice (old join
      // predicate doc_a < doc_b)
      .filter(col("p.a.doc_id") < col("p.b.doc_id"))
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        col("p.a.title").as("ta"), col("p.b.title").as("tb"))
      // provably-safe prune BEFORE the distinct (r16, VERDICT r15 #2):
      // lev(ta,tb) >= |len(ta)-len(tb)|, so a length gap > 20 can never
      // survive the <= 20 filter — dropping those pairs here narrows the
      // title-wide distinct exchange and skips their DP entirely
      .filter(abs(length(col("ta")) - length(col("tb"))) <= 20)
      // distinct FIRST, Levenshtein once per surviving pair: the DP is
      // ~6400 cell ops per 80-char pair and pairs are duplicated across
      // the two blocking passes, so rescoring pre-distinct costs ~2x the
      // dominant kernel for a narrower exchange — measured SLOWER at 10x
      // (A/B 9.9 s -> 16 s); the title-wide distinct is the cheaper side
      .distinct()
      // banded DP (r15): the 3-arg levenshtein runs O(len·threshold)
      // instead of O(len²) and returns -1 above the threshold — exact
      // (identical distances) for every pair the <= 20 filter keeps.
      // r16: equal titles short-circuit to 0 before the DP —
      // lev(x, x) = 0 exactly, and near-dup corpora make equal 80-char
      // title prefixes the COMMON case, so most pairs skip the ~80x41
      // band entirely for one memcmp
      .withColumn("lev",
        when(col("ta") === col("tb"), lit(0L))
          .otherwise(levenshtein(col("ta"), col("tb"), 20).cast("long")))
      .filter(col("lev") >= 0)
      .select("doc_a", "doc_b", "lev")
  }

  // -- entity resolution, cluster stage: transitive closure over the
  //    fuzzy-match edges (the ONE shared ConnectedComponents operator —
  //    text, embedding, image and now record modalities all close through
  //    it), rolled up per entity: member count and how many sources the
  //    entity spans (the cross-source linkage ER exists to find).
  q("q_er_entities",
    s"""WITH RECURSIVE $SqlErPairCtes,
       |pairs AS ($SqlErPairSelect),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
       |reach(n, m) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
       |  UNION
       |  SELECT s.b, r.m FROM reach r JOIN sym s ON s.a = r.n),
       |comp AS (SELECT n, min(m) AS entity FROM reach GROUP BY n)
       |SELECT c.entity, CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources
       |FROM comp c JOIN documents d ON d.doc_id = c.n
       |GROUP BY c.entity""") { (s, dir) =>
    import graft.operators.ConnectedComponents
    val docs = load(s, dir, "documents").select(col("doc_id"), col("source"))
    ConnectedComponents.run(erFuzzyPairs(s, dir), "doc_a", "doc_b")
      .join(docs, col("n") === col("doc_id"))
      .groupBy(col("label").as("entity"))
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("source")).as("n_sources"))
  }

  // -- entity resolution, survivorship stage ("golden record" — Christen
  //    2012 ch.6; the MDM step after matching+clustering): per resolved
  //    entity, elect the canonical record (longest text wins, smallest
  //    doc_id breaks ties — a deterministic survivorship rule) and the
  //    majority lang (count, then lang desc). Scale shape: the membership
  //    table is dup-mass-sized (never corpus-sized); both elections are
  //    partial-aggregable arg-max folds over it (max_by with a composite
  //    order struct — the q_ktable_latest_per_key discipline), so a hot
  //    entity folds map-side instead of rank-sorting in one task. The
  //    oracle mirrors the elections as rank windows over the same bounded
  //    membership.
  q("q_er_golden_record",
    s"""WITH RECURSIVE $SqlErPairCtes,
       |pairs AS ($SqlErPairSelect),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
       |reach(n, m) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
       |  UNION
       |  SELECT s.b, r.m FROM reach r JOIN sym s ON s.a = r.n),
       |comp AS (SELECT n, min(m) AS entity FROM reach GROUP BY n),
       |mem AS (SELECT c.entity, d.doc_id, d.lang, d.n_chars
       |        FROM comp c JOIN documents d ON d.doc_id = c.n),
       |sz AS (SELECT entity, CAST(count(*) AS BIGINT) AS n_members
       |       FROM mem GROUP BY entity),
       |canon AS (SELECT entity, doc_id, n_chars,
       |            row_number() OVER (PARTITION BY entity
       |                               ORDER BY n_chars DESC, doc_id ASC) AS rn
       |          FROM mem),
       |lc AS (SELECT entity, lang, CAST(count(*) AS BIGINT) AS ln
       |       FROM mem GROUP BY 1, 2),
       |lt AS (SELECT entity, lang, ln,
       |         row_number() OVER (PARTITION BY entity
       |                            ORDER BY ln DESC, lang DESC) AS rn
       |       FROM lc)
       |SELECT sz.entity, sz.n_members,
       |  c.doc_id AS canon_doc_id, CAST(c.n_chars AS BIGINT) AS canon_n_chars,
       |  lt.lang AS top_lang, lt.ln AS top_lang_n
       |FROM sz
       |JOIN canon c ON c.entity = sz.entity AND c.rn = 1
       |JOIN lt ON lt.entity = sz.entity AND lt.rn = 1""") { (s, dir) =>
    import graft.operators.ConnectedComponents
    val docs = load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val mem = ConnectedComponents.run(erFuzzyPairs(s, dir), "doc_a", "doc_b")
      .join(docs, col("n") === col("doc_id"))
      .select(col("label").as("entity"), col("doc_id"), col("lang"),
        col("n_chars"))
      .localCheckpoint() // membership reused by both elections
    val canon = mem.groupBy("entity")
      .agg(count(lit(1)).as("n_members"),
        max_by(struct(col("doc_id"), col("n_chars")),
          struct(col("n_chars"), (col("doc_id") * -1L).as("nid"))).as("c"))
    val top = mem.groupBy("entity", "lang")
      .agg(count(lit(1)).as("ln"))
      .groupBy("entity")
      .agg(max_by(struct(col("lang"), col("ln")),
        struct(col("ln"), col("lang"))).as("t"))
    canon.join(top, "entity")
      .select(col("entity"), col("n_members"),
        col("c.doc_id").as("canon_doc_id"),
        col("c.n_chars").cast("long").as("canon_n_chars"),
        col("t.lang").as("top_lang"), col("t.ln").as("top_lang_n"))
  }

  // ================================================= bounded top-k select

  // -- top-5 words per source by corpus frequency through the bounded
  //    [[graft.operators.GroupTopK]] aggregation — the scale-correct form of
  //    the `row_number OVER (PARTITION BY source ORDER BY n DESC)` idiom
  //    when the per-group item universe (a source's vocabulary) is NOT
  //    bounded: a window sort would shuffle every (source, word, n) row
  //    into one partition per source; the aggregator reduces each map
  //    task's slice to a 5-entry buffer BEFORE the exchange (top-k
  //    distributes over union), so per-group network cost is
  //    #partitions·k rows. The oracle mirrors the exact ordering contract
  //    (n DESC, word ASC) with the window it replaces.
  q("q_topk_per_source",
    s"""WITH d0 AS (SELECT source, $SqlTokens AS ws FROM documents),
       |t AS (SELECT source, unnest(ws) AS w FROM d0),
       |c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS n
       |      FROM t GROUP BY 1, 2),
       |r AS (SELECT source, w, n,
       |        CAST(row_number() OVER (PARTITION BY source
       |                                ORDER BY n DESC, w) AS BIGINT) AS rank
       |      FROM c)
       |SELECT source, rank, w AS word, n FROM r WHERE rank <= 5""") { (s, dir) =>
    import graft.operators.GroupTopK
    val counts = spread(load(s, dir, "documents"))
      .select(col("source"), explode(T.tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("n"))
    GroupTopK.topK(counts, "source", "w", "n", 5)
      .select(col("source"), col("rank"), col("item").as("word"),
        col("score").as("n"))
  }

  // ------------------------------------------------- weighted sampling

  /** Oracle shared by the batch and live weighted-sample twins (identical
    * final state by construction): deterministic priority sampling — each
    * doc draws priority = md5-60bit(doc_id) div n_chars (bigger weight →
    * proportionally smaller priority → more likely in the bottom k; the
    * integer-grid stand-in for the Efraimidis–Spirakis u^(1/w) order
    * sample, seeded so both engines draw the SAME sample), 10 smallest
    * kept per source. */
  private val SqlWeightedSample: String =
    s"""WITH p AS (SELECT source, doc_id,
       |        ${sqlMd5Long("CAST(doc_id AS VARCHAR)")} // n_chars AS priority
       |      FROM documents WHERE n_chars > 0),
       |r AS (SELECT source, doc_id, priority,
       |        CAST(row_number() OVER (PARTITION BY source
       |               ORDER BY priority, CAST(doc_id AS VARCHAR)) AS BIGINT)
       |          AS rank
       |      FROM p)
       |SELECT source, rank, doc_id, priority FROM r WHERE rank <= 10""".stripMargin

  /** Spark twin of the weighted-priority table (shared batch + live). */
  private def weightedPriorities(df: org.apache.spark.sql.DataFrame) =
    df.filter(col("n_chars") > 0)
      .select(col("source"), col("doc_id"),
        expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) div n_chars")
          .as("priority"))

  // -- deterministic weighted sample (weight = n_chars): the
  //    length-proportional inspection draw a curation pass uses when
  //    uniform q_inspection_sample under-represents long documents.
  //    Selection = bottom-10 priorities per source through TopK
  //    smallest-first — same bounded-buffer shape, same oracle-exact
  //    (priority ASC, doc_id ASC) ordering contract.
  q("q_weighted_sample", SqlWeightedSample) { (s, dir) =>
    import graft.operators.GroupTopK
    GroupTopK.topK(weightedPriorities(spread(load(s, dir, "documents"))),
        "source", "doc_id", "priority", 10, smallestFirst = true)
      .select(col("source"), col("rank"),
        col("item").cast("long").as("doc_id"), col("score").as("priority"))
  }

  // -- LIVE weighted-sample maintenance — the streaming shape: the
  //    10-entry best-first buffer IS the state (bounded per source
  //    forever), maintained by the same typed aggregation in complete
  //    mode; the final state must equal the batch draw, so it shares the
  //    batch oracle (the q_kmv_distinct_live pattern).
  q("q_weighted_sample_live", SqlWeightedSample) { (s, dir) =>
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.operators.GroupTopK
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/documents.parquet")
    val docs = s.readStream.schema(raw.schema).parquet(s"$dir/documents.parq*")
    val state = GroupTopK.topKState(weightedPriorities(docs),
      "source", "doc_id", "priority", 10, smallestFirst = true)
    val name = s"ws_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    state.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    GroupTopK.fromState(s.table(name), "source")
      .select(col("source"), col("rank"),
        col("item").cast("long").as("doc_id"), col("score").as("priority"))
  }
}
