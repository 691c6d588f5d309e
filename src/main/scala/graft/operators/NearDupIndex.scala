package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{DedupFunctions => D}

/** Incremental near-duplicate detection: a persisted MinHash/LSH index of
  * the already-accepted corpus, probed by each newly arriving batch — the
  * batch analogue of the live `StreamingNearDup` twins, and the shape a
  * continuously-growing training corpus actually runs (you never re-pair
  * the whole corpus; you band-join the day's crawl against the index).
  *
  * Scale shape:
  *   - `build` is a pure map (shingle → signature → band keys): one row
  *     per (doc, band), written once and persisted as parquet. The index
  *     carries the signature as a payload so probe-time rescoring never
  *     joins back to the corpus text (dedup rule #3 in SCALE.md).
  *   - `probe` is ONE shuffle: index bands ∪ batch bands grouped by the
  *     compact (band, bandhash) key. The 2..50 occupancy cut applies to
  *     the COMBINED bucket (index + batch members), so a boilerplate
  *     band hash that floods the index can never fan out O(n·m) pairs in
  *     a task — identical semantics to the full-corpus family, mirrored
  *     verbatim in the q_dedup_minhash_incremental oracle.
  *   - The candidate verdict (estimated Jaccard = matching signature
  *     components / k) is computed from the signatures riding the bucket
  *     rows — no second pass, no text shuffle.
  */
object NearDupIndex {

  /** Banded MinHash index of a corpus: one row per (doc, band) with the
    * full signature as rescore payload. Persist this once; probe daily. */
  def build(docs: DataFrame, idCol: String, textCol: String,
            k: Int = 16, bands: Int = 4): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    docs
      .select(col(idCol).as("id"),
        D.minhashSignature(col(textCol), k).as("sig"))
      .select(col("id"), col("sig"),
        explode(D.bandKeys(col("sig"), bands, k / bands)).as("bk"))
      .select(col("id"), col("sig"),
        col("bk.band").as("band"), col("bk.bandhash").as("bandhash"))
  }

  /** Probe a new batch (same `build` layout) against an index. Emits one
    * row per candidate (new, indexed) pair: matching signature
    * components, the estimated Jaccard, and the ≥ half-components dup
    * verdict. Both inputs may be freshly built or loaded from parquet. */
  def probe(index: DataFrame, batch: DataFrame,
            k: Int = 16, maxBucket: Int = 50): DataFrame = {
    val tagged = index.withColumn("side", lit("i"))
      .unionByName(batch.withColumn("side", lit("b")))
    val member = struct(col("side"), col("id"), col("sig"))
    val buckets = tagged
      .groupBy("band", "bandhash")
      .agg(collect_list(member).as("ms"))
      // combined-occupancy cut, same band as the full-corpus family
      .filter(size(col("ms")).between(2, maxBucket))
    val idxSide = filter(col("ms"), m => m("side") === "i")
    val batSide = filter(col("ms"), m => m("side") === "b")
    val crossPairs = flatten(transform(batSide, bm =>
      transform(idxSide, im => struct(
        bm("id").as("new_id"), im("id").as("idx_id"),
        bm("sig").as("nsig"), im("sig").as("isig")))))
    buckets
      .select(explode(crossPairs).as("p"))
      .select(col("p.new_id"), col("p.idx_id"), col("p.nsig"), col("p.isig"))
      .distinct() // a pair sharing several bands reports once
      .select(col("new_id"), col("idx_id"),
        matchCount(col("nsig"), col("isig")).as("n_match"))
      .withColumn("est_jaccard", col("n_match").cast("double") / k)
      .withColumn("is_dup", col("n_match") * 2 >= k)
  }

  /** Matching components of two equal-length signatures. */
  private def matchCount(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
}
