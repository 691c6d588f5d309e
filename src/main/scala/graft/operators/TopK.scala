package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.col

import graft.api.Rec

/** Exact per-group top-k WITHOUT a rank window. A
  * `Window.partitionBy(group)` ships every scored candidate of a group to
  * one task and sorts the lot — at ANN scale (candidates ≈ nProbe/k ×
  * corpus per query) that single task sorts billions of rows. This
  * bounded-buffer `Aggregator` instead partial-aggregates map-side: every
  * task reduces its slice of a group to ≤ k rows, the ≤ k-row partials
  * merge exactly (top-k merge is exact — the true top-k of a union is
  * contained in the union of per-part top-ks), and no task ever holds
  * more than k rows per group.
  *
  * Determinism contract (matches the rank-window + oracle semantics):
  * strict order by (score best-first, id ascending) — callers must round
  * scores BEFORE aggregating, same as before top-k ordering anywhere else
  * (see memory: oracle tie-breaks). Output ranks are 1-based in that
  * order, bit-identical to `row_number()` over the same ordering.
  */
object TopK {

  /** Strict "(scoreA, idA) ranks before (scoreB, idB)": score best-first,
    * then id asc. Matches Spark's SQL ordering exactly: NaN sorts as the
    * LARGEST double (java.lang.Double.compare) and -0.0 equals 0.0 (Spark
    * normalizes signed zeros before sorting) — a plain `!=`/`<` would
    * silently evict NaN rows the rank window ranks first. Unboxed so
    * per-candidate kernels can call it without allocating. */
  private[graft] def rankBefore(scoreA: Double, idA: Long, scoreB: Double, idB: Long,
      ascending: Boolean): Boolean = {
    val cmp = java.lang.Double.compare(scoreA + 0.0, scoreB + 0.0) // -0.0 + 0.0 == 0.0
    if (cmp != 0) { if (ascending) cmp < 0 else cmp > 0 }
    else idA < idB
  }

  /** Bounded top-k fold over (id, score) pairs; buffer = best-first
    * sorted Seq of at most k entries. O(k) insert keeps the hot path
    * allocation-light at small k (the ANN use: k ≤ 100). */
  private[graft] final class BoundedTopK(k: Int, ascending: Boolean)
      extends Aggregator[(Long, Long, Double), Seq[(Double, Long)], Seq[(Double, Long)]] {
    require(k > 0, s"top-k needs k > 0, got $k")

    private def before(a: (Double, Long), b: (Double, Long)): Boolean =
      rankBefore(a._1, a._2, b._1, b._2, ascending)

    def zero: Seq[(Double, Long)] = Vector.empty

    def reduce(buf: Seq[(Double, Long)], r: (Long, Long, Double)): Seq[(Double, Long)] = {
      val e = (r._3, r._2)
      if (buf.size >= k && before(buf.last, e)) buf // full and e loses to the worst kept
      else {
        val i = buf.indexWhere(x => before(e, x)) // insert position keeps buf sorted
        val at = if (i < 0) buf.size else i
        ((buf.take(at) :+ e) ++ buf.drop(at)).take(k)
      }
    }

    def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] = {
      // merge of two sorted runs, cut at k
      val out = Vector.newBuilder[(Double, Long)]
      var (i, j, n) = (0, 0, 0)
      while (n < k && (i < a.size || j < b.size)) {
        if (j >= b.size || (i < a.size && before(a(i), b(j)))) { out += a(i); i += 1 }
        else { out += b(j); j += 1 }
        n += 1
      }
      out.result()
    }

    def finish(buf: Seq[(Double, Long)]): Seq[(Double, Long)] = buf

    def bufferEncoder: Encoder[Seq[(Double, Long)]] =
      Rec.seqEnc(Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
    def outputEncoder: Encoder[Seq[(Double, Long)]] = bufferEncoder
  }

  /** [[BoundedTopK]] with a string payload riding each buffer entry
    * (SCALE rule #3: payloads ride the buckets — no rejoin against the
    * corpus to recover the winners' attributes). Ordering is identical:
    * (score best-first, id asc); the payload never participates. */
  private[graft] final class BoundedTopKPayload(k: Int, ascending: Boolean)
      extends Aggregator[(Long, Long, Double, String), Seq[(Double, Long, String)],
        Seq[(Double, Long, String)]] {
    require(k > 0, s"top-k needs k > 0, got $k")
    private def before(a: (Double, Long, String), b: (Double, Long, String)): Boolean =
      rankBefore(a._1, a._2, b._1, b._2, ascending)

    def zero: Seq[(Double, Long, String)] = Vector.empty

    def reduce(buf: Seq[(Double, Long, String)],
        r: (Long, Long, Double, String)): Seq[(Double, Long, String)] = {
      val e = (r._3, r._2, r._4)
      if (buf.size >= k && before(buf.last, e)) buf
      else {
        val i = buf.indexWhere(x => before(e, x))
        val at = if (i < 0) buf.size else i
        ((buf.take(at) :+ e) ++ buf.drop(at)).take(k)
      }
    }

    def merge(a: Seq[(Double, Long, String)],
        b: Seq[(Double, Long, String)]): Seq[(Double, Long, String)] = {
      val out = Vector.newBuilder[(Double, Long, String)]
      var (i, j, n) = (0, 0, 0)
      while (n < k && (i < a.size || j < b.size)) {
        if (j >= b.size || (i < a.size && before(a(i), b(j)))) { out += a(i); i += 1 }
        else { out += b(j); j += 1 }
        n += 1
      }
      out.result()
    }

    def finish(buf: Seq[(Double, Long, String)]): Seq[(Double, Long, String)] = buf

    def bufferEncoder: Encoder[Seq[(Double, Long, String)]] =
      Rec.seqEnc(Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong, Encoders.STRING))
    def outputEncoder: Encoder[Seq[(Double, Long, String)]] = bufferEncoder
  }

  /** INPUT CONTRACT (both perGroup variants): `groupCol`/`idCol` must be
    * integral (they ride the buffer as Long — a string id would silently
    * become NULL under the cast) and `scoreCol` numeric with NO null
    * scores (the non-nullable Double tuple encoder fails the job on one;
    * the rank window this replaces ordered nulls last instead — drop
    * null-score rows upstream if they can occur). Violations of the
    * column types fail fast here with a clear message. */
  private def checkContract(scored: DataFrame, groupCol: String,
      idCol: String, scoreCol: String): Unit = {
    for (c <- Seq(groupCol, idCol)) requireIntegral(scored, c, "TopK.perGroup")
    val tpe = scored.schema(scoreCol).dataType
    require(tpe.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"TopK.perGroup: score column '$scoreCol' must be numeric, " +
        s"got ${tpe.simpleString}")
  }

  /** Fail fast unless `df(c)` is byte/short/int/long: ids and keys ride
    * kernels as Long, and a cast of anything else would become NULL. */
  private[graft] def requireIntegral(df: DataFrame, c: String, who: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val tpe = df.schema(c).dataType
    require(Set[org.apache.spark.sql.types.DataType](
        ByteType, ShortType, IntegerType, LongType)(tpe),
      s"$who: column '$c' must be integral (byte/short/int/long), " +
        s"got ${tpe.simpleString} — a non-numeric id would cast to NULL")
  }

  /** Per-group exact top-k of `scored` by `scoreCol` (desc when
    * `ascending=false` — similarities; asc for distances), ties on
    * `idCol` asc; emits (groupCol, idCol, scoreCol, rank) with 1-based
    * ranks — the drop-in replacement for
    * `row_number().over(Window.partitionBy(groupCol))` + `rank <= k`.
    * See [[checkContract]] for the integral-id / non-null-score input
    * contract. */
  def perGroup(scored: DataFrame, groupCol: String, idCol: String,
      scoreCol: String, k: Int, ascending: Boolean): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    checkContract(scored, groupCol, idCol, scoreCol)
    val agg = new BoundedTopK(k, ascending).toColumn.name("topk")
    scored
      .select(col(groupCol).cast("long"), col(idCol).cast("long"),
        col(scoreCol).cast("double"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(agg)
      .flatMap { case (g, top) =>
        top.iterator.zipWithIndex.map { case ((score, id), i) => (g, id, score, i + 1) }
      }
      .toDF(groupCol, idCol, scoreCol, "rank")
  }

  /** [[perGroup]] carrying `payloadCol` (string) through the bounded
    * buffer — emits (groupCol, idCol, scoreCol, payloadCol, rank). */
  def perGroupWithPayload(scored: DataFrame, groupCol: String, idCol: String,
      scoreCol: String, payloadCol: String, k: Int, ascending: Boolean): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    checkContract(scored, groupCol, idCol, scoreCol)
    // descending only: under the negated-score trick an ascending NaN
    // would rank first instead of last (the one semantic the typed
    // buffer and this path would disagree on)
    if (k == 1 && !ascending) return top1WithPayload(scored, groupCol,
      idCol, scoreCol, payloadCol, ascending)
    val agg = new BoundedTopKPayload(k, ascending).toColumn.name("topk")
    scored
      .select(col(groupCol).cast("long"), col(idCol).cast("long"),
        col(scoreCol).cast("double"), col(payloadCol).cast("string"))
      .as[(Long, Long, Double, String)]
      .groupByKey(_._1)
      .agg(agg)
      .flatMap { case (g, top) =>
        top.iterator.zipWithIndex.map { case ((score, id, p), i) =>
          (g, id, score, p, i + 1)
        }
      }
      .toDF(groupCol, idCol, scoreCol, payloadCol, "rank")
  }

  /** k = 1 fast path (r15, guide §1.2): the per-(query, type) top-1 of
    * the corpus-scale mining join processes every CANDIDATE row through
    * the typed Aggregator — tuple encode/decode plus an object buffer
    * per row. A codegen'd `max(struct(...))` computes the identical
    * winner inside whole-stage codegen with map-side partial aggregation:
    *   - score component `score + 0.0` normalizes -0.0 to 0.0 before the
    *     struct comparison (interpreted double compare ranks -0.0 below
    *     0.0; BoundedTopK — like Spark's sort — treats them equal), and
    *     IEEE `x + 0.0 == x` for every other double including NaN, which
    *     the struct comparison ranks greatest exactly like
    *     java.lang.Double.compare in [[rankBefore]];
    *   - `~id` (bitwise NOT) is a total order-REVERSING bijection on
    *     longs (no MinValue overflow, unlike negation), so the max picks
    *     the SMALLEST id on score ties;
    *   - the original score and the payload ride the struct tail: they
    *     are only reached on full (score, id) ties, i.e. the same id,
    *     where both are identical by construction.
    * Emits the same (group, id, score, payload, rank=1) rows. */
  private def top1WithPayload(scored: DataFrame, groupCol: String,
      idCol: String, scoreCol: String, payloadCol: String,
      ascending: Boolean): DataFrame = {
    require(!ascending, "top1WithPayload serves the descending path only")
    val score = col(scoreCol).cast("double")
    val cmpScore = score + 0.0
    val key = org.apache.spark.sql.functions.struct(
      cmpScore.as("s"),
      org.apache.spark.sql.functions.bitwise_not(col(idCol).cast("long")).as("nid"),
      score.as("orig"),
      col(payloadCol).cast("string").as("p"))
    scored
      .groupBy(col(groupCol).cast("long").as(groupCol))
      .agg(org.apache.spark.sql.functions.max(key).as("m"))
      .select(col(groupCol),
        org.apache.spark.sql.functions.bitwise_not(col("m.nid")).as(idCol),
        col("m.orig").as(scoreCol), col("m.p").as(payloadCol),
        org.apache.spark.sql.functions.lit(1).as("rank"))
  }
}
