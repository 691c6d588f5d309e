package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** BM25 full-text top-k (Robertson/Sparck-Jones, k1 = 1.2, b = 0.75) in
  * exact integer arithmetic — the catalog's `q_bm25_search` scoring:
  *
  *  - idf is the log-free odds (2n − 2df + 1)/(2df + 1);
  *  - length normalization is per mille: dlnorm = dl·n·1000 div Σdl;
  *  - a term scores s = 22000·tf·(2n−2df+1)·10⁶ div
  *    ((10000·tf + 3000 + 9·dlnorm)·(2df + 1)) micro-points, and a
  *    (query, document) pair scores the sum over the query's terms.
  *
  * Every step is `Long` arithmetic through `Math.multiplyExact` /
  * `addExact`, so an overflow fails the job — as Spark's ANSI BIGINT
  * arithmetic does — instead of wrapping; the bound is tf·n ≲ 4·10⁸.
  * Ranking compares the exact `Long` scores: score descending, then
  * doc_id ascending.
  *
  * Two map-only passes over the tokenized corpus, after a small job that
  * collects the query terms:
  *  1. one `treeAggregate` counts n (every document, with or without
  *     tokens), Σdl and df of the query terms only;
  *  2. each partition counts tf of the query terms per document, scores
  *     the queries the document hits and keeps a bounded top-k per query;
  *     the ≤ queries × k × partitions survivors are collected and merged
  *     exactly.
  * No join, aggregate, window or checkpoint. Both inputs are read as
  * Spark's internal rows — no row deserializer — so a run compiles little
  * more than its two scan stages.
  */
object Bm25 {

  /** Shortest query term, in characters as Spark's `length` counts them
    * (code points). */
  val MinTermChars = 6

  private val Schema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("doc_id", LongType, nullable = false),
    StructField("score_micro", LongType, nullable = false),
    StructField("rank", IntegerType, nullable = false)))

  /** Top-`k` documents of `docs` for each query of `queries`, as
    * (query_id, doc_id, score_micro, rank) with 1-based ranks.
    *
    * Both frames have (doc_id, text); doc_id is integral and identifies a
    * document, and a query's id is its doc_id. Text is tokenized with
    * [[TextFunctions.tokens]]; a null text is a document without tokens.
    * A query's terms are the distinct tokens of its text with at least
    * [[MinTermChars]] characters — a query without one returns no rows. A
    * document is a candidate for a query when it contains one of the
    * query's terms and has a different id (so a query document never
    * ranks for itself); a candidate ranks even when its score is 0.
    *
    * Runs eagerly (a few small Spark jobs) and returns a local result.
    * Partition `docs` for parallelism; the query terms travel in the task
    * closures, so `queries` is a batch, not a corpus. */
  def topK(docs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    for (df <- Seq(docs, queries))
      graft.operators.TopK.requireIntegral(df, "doc_id", "Bm25")
    val spark = docs.sparkSession
    val batch = QueryBatch(queries
      .select(col("doc_id").cast("long"),
        filter(TextFunctions.tokens(col("text")), t => length(t) >= MinTermChars))
      .queryExecution.toRdd
      .flatMap { row =>
        if (row.isNullAt(0) || row.isNullAt(1)) Iterator.empty
        else {
          val (id, terms) = (row.getLong(0), row.getArray(1))
          Iterator.tabulate(terms.numElements())(i => (id, terms.getUTF8String(i).toString))
        }
      }
      .collect())
    if (batch.queryIds.isEmpty) return spark.createDataFrame(
      java.util.Collections.emptyList[Row](), Schema)

    val corpus = docs
      .select(col("doc_id").cast("long"), TextFunctions.tokens(col("text")))
      .queryExecution.toRdd
    val totals = corpus.treeAggregate(new Totals(batch.terms.length))(
      (t, row) => t.add(row, batch), (a, b) => a.merge(b))
    val survivors = corpus
      .mapPartitions { rows =>
        val scan = new Scan(batch, totals, k)
        rows.foreach(scan.add)
        scan.survivors
      }
      .collect()

    val rows = survivors.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, cands) =>
      cands.sortWith((a, b) => before(a._3, a._2, b._3, b._2)).take(k)
        .zipWithIndex.map { case ((_, id, s), i) => Row(batch.queryIds(q), id, s, i + 1) }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schema)
  }

  /** Strict "(sA, idA) ranks before (sB, idB)": score desc, then id asc. */
  private def before(sA: Long, idA: Long, sB: Long, idB: Long): Boolean =
    sA > sB || (sA == sB && idA < idB)

  /** The query batch: query ids ascending, their distinct terms, and for
    * each term the queries that contain it. Terms are looked up as
    * `UTF8String`s, straight from Spark's rows, in a map built once per
    * task. */
  private final case class QueryBatch(queryIds: Array[Long], terms: Array[String],
      termQueries: Array[Array[Int]]) {
    @transient private lazy val index = {
      val m = new java.util.HashMap[UTF8String, Integer](terms.length * 2)
      terms.indices.foreach(t => m.put(UTF8String.fromString(terms(t)), t))
      m
    }

    /** Index of `token` in `terms`, or -1. */
    def termOf(token: UTF8String): Int = {
      val t = index.get(token)
      if (t == null) -1 else t
    }
  }

  private object QueryBatch {
    def apply(pairs: Array[(Long, String)]): QueryBatch = {
      val queryIds = pairs.map(_._1).distinct.sorted
      val terms = pairs.map(_._2).distinct.sorted
      val slot = queryIds.zipWithIndex.toMap
      val byTerm = pairs.distinct.groupMap(_._2)(p => slot(p._1))
      QueryBatch(queryIds, terms, terms.map(t => byTerm(t).sorted))
    }
  }

  /** Pass-1 accumulator: documents, Σdl, and per query term the number of
    * documents containing it. */
  private final class Totals(nTerms: Int) extends Serializable {
    var n = 0L
    var tl = 0L
    val df = new Array[Long](nTerms)
    // the ordinal (n) of the last document that counted each term, so a
    // document counts a term once however often it repeats it
    private val lastDoc = Array.fill(nTerms)(-1L)

    def add(row: InternalRow, batch: QueryBatch): Totals = {
      if (!row.isNullAt(1)) {
        val toks = row.getArray(1)
        tl += toks.numElements()
        var i = 0
        while (i < toks.numElements()) {
          val t = batch.termOf(toks.getUTF8String(i))
          if (t >= 0 && lastDoc(t) != n) { lastDoc(t) = n; df(t) += 1 }
          i += 1
        }
      }
      n += 1
      this
    }

    def merge(o: Totals): Totals = {
      n += o.n
      tl += o.tl
      var t = 0
      while (t < df.length) { df(t) += o.df(t); t += 1 }
      this
    }
  }

  /** Pass-2 state of one partition: tf of the current document's query
    * terms, the current document's per-query scores, and a best-first
    * top-k per query (flat arrays, query q at q·k). */
  private final class Scan(batch: QueryBatch, totals: Totals, k: Int) {
    import Math.{addExact, multiplyExact, subtractExact}
    private val (n, tl) = (totals.n, totals.tl)
    // each term's idf numerator (2n − 2df + 1) and denominator (2df + 1)
    private val idfNum = totals.df.map(df =>
      addExact(subtractExact(multiplyExact(2L, n), multiplyExact(2L, df)), 1L))
    private val idfDen = totals.df.map(df => addExact(multiplyExact(2L, df), 1L))
    private val nQ = batch.queryIds.length
    private val tf = new Array[Long](batch.terms.length)
    private val touched = new Array[Int](batch.terms.length)
    private var nTouched = 0
    private val score = new Array[Long](nQ)
    private val hit = new Array[Boolean](nQ)
    private val hits = new Array[Int](nQ)
    private var nHits = 0
    private val keptS = new Array[Long](nQ * k)
    private val keptI = new Array[Long](nQ * k)
    private val size = new Array[Int](nQ)

    def add(row: InternalRow): Unit = {
      if (row.isNullAt(0) || row.isNullAt(1)) return
      val id = row.getLong(0)
      val toks = row.getArray(1)
      val dl = toks.numElements().toLong
      var i = 0
      while (i < dl) {
        val t = batch.termOf(toks.getUTF8String(i))
        if (t >= 0) {
          if (tf(t) == 0) { touched(nTouched) = t; nTouched += 1 }
          tf(t) += 1
        }
        i += 1
      }
      // scores (and dlnorm) are computed only for a term some other
      // query contains, so arithmetic fails exactly where the relational
      // plan's would: on a (query, document) hit
      var dlNorm = -1L
      var j = 0
      while (j < nTouched) {
        val t = touched(j)
        val qs = batch.termQueries(t)
        var s = -1L
        var m = 0
        while (m < qs.length) {
          val q = qs(m)
          if (batch.queryIds(q) != id) {
            if (s < 0) {
              if (dlNorm < 0) dlNorm = multiplyExact(multiplyExact(dl, n), 1000L) / tl
              s = termScore(tf(t), dlNorm, t)
            }
            if (!hit(q)) { hit(q) = true; score(q) = 0; hits(nHits) = q; nHits += 1 }
            score(q) = addExact(score(q), s)
          }
          m += 1
        }
        tf(t) = 0
        j += 1
      }
      nTouched = 0
      j = 0
      while (j < nHits) {
        val q = hits(j)
        offer(q, score(q), id)
        hit(q) = false
        j += 1
      }
      nHits = 0
    }

    private def termScore(tf: Long, dlNorm: Long, t: Int): Long =
      multiplyExact(multiplyExact(multiplyExact(22000L, tf), idfNum(t)), 1000000L) /
        multiplyExact(addExact(addExact(multiplyExact(10000L, tf), 3000L),
          multiplyExact(9L, dlNorm)), idfDen(t))

    private def offer(q: Int, s: Long, id: Long): Unit = {
      val base = q * k
      var at = size(q) // insertion point keeps the buffer best-first
      while (at > 0 && before(s, id, keptS(base + at - 1), keptI(base + at - 1))) at -= 1
      if (at < k) {
        var m = math.min(size(q), k - 1)
        while (m > at) {
          keptS(base + m) = keptS(base + m - 1); keptI(base + m) = keptI(base + m - 1); m -= 1
        }
        keptS(base + at) = s; keptI(base + at) = id
        if (size(q) < k) size(q) += 1
      }
    }

    /** (query slot, doc_id, score) of every kept entry. */
    def survivors: Iterator[(Int, Long, Long)] =
      Iterator.range(0, nQ).flatMap(q =>
        Iterator.range(0, size(q)).map(i => (q, keptI(q * k + i), keptS(q * k + i))))
  }
}
