package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deduplication primitives for document corpora at scale: shingling,
  * MinHash, SimHash, n-gram Jaccard.
  *
  * Design constraints:
  *   - Column expressions (codegen'd, distributed, no UDFs), except
  *     [[bucketPairs]], the RDD kernel that pairs LSH buckets.
  *   - Deterministic: hashes derive from md5 so the DuckDB oracle can
  *     reproduce them bit-for-bit (`CAST('0x'||substr(md5(s),1,15) AS
  *     BIGINT)` == Spark `conv(substring(md5(s),1,15),16,10)`).
  *   - LSH banding turns the O(n^2) pair space into a grouping on
  *     (band, band-hash) — one shuffle on a compact key, which is the
  *     100 TB-viable path (candidate pairs only, then exact rescoring).
  */
object DedupFunctions {
  import TextFunctions.{md5Long, normalizeText, tokens}

  /** Distinct word n-gram shingles of the normalized text.
    *
    * The token array is lambda-bound so it's computed once per row — a
    * subtree referenced inside a `transform` lambda is otherwise
    * re-evaluated per output element (one regex tokenization per shingle). */
  def wordShingles(c: Column, n: Int): Column =
    bindOnce(tokens(normalizeText(c))) { ts =>
      val count = size(ts) - (n - 1)
      array_distinct(
        when(count <= 0, array(concat_ws(" ", ts)))
          .otherwise(transform(sequence(lit(1), count), i =>
            concat_ws(" ", slice(ts, i, lit(n))))))
    }

  /** Distinct character k-gram shingles of the normalized text. */
  def charShingles(c: Column, k: Int): Column =
    bindOnce(normalizeText(c)) { s =>
      val count = length(s) - (k - 1)
      array_distinct(
        when(count <= 0, array(s))
          .otherwise(transform(sequence(lit(1), count), i => s.substr(i, lit(k)))))
    }

  /** Bind `c`'s value once and use it several times inside `f` — the
    * array-wrap lambda idiom. Catalyst's CollapseProject freely inlines
    * aliased expressions into every use site, so an expensive subtree
    * (md5 over every shingle) referenced k times would be *evaluated* k
    * times; a lambda variable is bound exactly once per row. */
  def bindOnce(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** MinHash signature of length k over the text's distinct word
    * 3-shingles (the [[wordShingles]] of `text`): per shingle
    * `h = md5Long(shingle) % (2^31 - 1)`, and row i is the min over h of
    * `(h * (2i + 1) + 12345 + 7919 i) % (2^31 - 1)`. One codegen'd pass
    * per row ([[graft.plans.HashKernels.md5MinHash]]); a null text gives
    * k nulls. */
  def minhashSignature(text: Column, k: Int): Column =
    graft.plans.NativeHash.md5MinHash(text, 3, k)

  /** LSH band key: hash of one band (contiguous rows of the signature).
    * Docs sharing any band key are candidate pairs. */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    bindOnce(signature) { sig =>
      array((0 until bands).map { b =>
        struct(
          lit(b).as("band"),
          md5Long(concat_ws(",",
            transform(slice(sig, b * rowsPerBand + 1, rowsPerBand), _.cast("string"))))
            .as("bandhash"))
      }: _*)
    }

  /** All ordered pairs (a < b) from a bucket's id list — candidate-pair
    * generation after grouping by band/shingle/bucket key. One pass over
    * the corpus + one shuffle on the bucket key, instead of a self-join
    * that recomputes the signature pipeline for both sides. Bucket size
    * is expected small; enormous buckets (stopword shingles) should be
    * doc-frequency-cut upstream. */
  def orderedPairs(ids: Column): Column =
    bindOnce(array_sort(ids)) { s =>
      flatten(transform(s, (x, i) =>
        transform(
          slice(s, i + 2, greatest(size(s) - i - 1, lit(0))),
          y => struct(x.as("a"), y.as("b")))))
    }

  /** Candidate pairs of LSH buckets, on RDDs: `members` holds one
    * ((band, key), (id, payload)) row per bucket membership. Each bucket
    * of 2 to [[MaxBucket]] members (the oracle's `HAVING count(*)
    * BETWEEN 2 AND 50`: an exact-dup flood sharing a bucket must not fan
    * out O(n²) pairs in one task) is sorted by id, and every two members
    * (a, b) with a before b are offered to `pair`; its results are
    * deduplicated across buckets. The payload (a fingerprint, say) rides
    * the bucket, so `pair` can rescore without a rejoin. Callers drop
    * rows with a null id or key before they get here: `getLong` reads a
    * null as 0. */
  def bucketPairs[K: ClassTag, P: ClassTag, T: ClassTag](members: RDD[(K, (Long, P))])(
      pair: ((Long, P), (Long, P)) => Option[T]): RDD[T] =
    members.groupByKey()
      .flatMap { case (_, bucket) =>
        val ms = bucket.toArray
        if (ms.length < 2 || ms.length > MaxBucket) Iterator.empty
        else {
          val sorted = ms.sortBy(_._1)
          Iterator.range(0, sorted.length).flatMap(i =>
            Iterator.range(i + 1, sorted.length).flatMap(j => pair(sorted(i), sorted(j))))
        }
      }
      .distinct()

  /** Largest bucket [[bucketPairs]] pairs. */
  private final val MaxBucket = 50

  /** Exact Jaccard similarity of two distinct-element array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0.0, lit(0.0)).otherwise(inter / uni)
  }

  /** 64-bit SimHash over the word multiset: for each bit position, sum +1/-1
    * according to the md5-derived hash bit of each token; the sign of the
    * sum is the fingerprint bit. Near-dups differ in few bits.
    *
    * Single-pass shape: one md5 per token, one fold producing the 60 vote
    * counters as an array, one weighted sum — not 60 folds over the token
    * hashes. */
  def simhash64(c: Column, bits: Int = 60): Column =
    // digest-direct one-pass kernel (r16) — bit-identical to the
    // interpreted fold it replaces (tokens(normalizeText) → md5Long per
    // token → zip_with vote → pack); equivalence pinned by
    // NativeHashSpec's kernel-vs-column property. The md5 hash family
    // (the oracle contract) is unchanged.
    graft.plans.NativeHash.md5SimHash64(c.cast("string"), bits)
}
