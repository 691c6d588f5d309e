package graft.functions

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** IVF (inverted-file) index for approximate nearest-neighbor search — the
  * scale path beyond sign-bucket LSH: k-means cells, vectors assigned to
  * their nearest centroid, queries probing only the `nProbe` nearest
  * cells. At 100 TB the cell assignment is a map-side pass against a tiny
  * broadcast codebook and search touches `nProbe/k` of the corpus.
  *
  * Centroids initialize from the first k vectors by id and Lloyd
  * iterations average in double precision; only the order in which task
  * partials add up varies between runs — good enough for an index
  * (approximation quality is asserted by recall tests, not bit-equality).
  * For a given codebook, self search and mining results are
  * deterministic: every score is rounded and every tie goes to the
  * smaller id.
  *
  * Training and self search read the corpus into one RDD of rows. Each
  * read plans the corpus frame anew, so [[train]] followed by
  * [[minePairs]] scans it — and runs any shuffle in it — twice.
  * [[trainAndMinePairs]] and [[trainAndSearchSelf]] read it once and feed
  * that RDD to the initial `takeOrdered`, the Lloyd `treeAggregate`s and
  * the per-cell kernel; the later jobs reuse the shuffle output and skip
  * its stage. Their results are those of the two calls.
  */
object VectorIndex {

  final case class Codebook(centroids: Array[Array[Double]]) {
    /** Unbox the row's float array ONCE (r15, guide §1.2 "per-task
      * work"): `v(i)` through the generic `Seq[Float]` apply boxes every
      * element — at corpus-scale ranking that was k·dim boxed Floats per
      * row. ArraySeq.ofFloat exposes its backing primitive array
      * zero-copy; anything else pays one unboxed copy. */
    private def raw(v: Seq[Float]): Array[Float] = v match {
      case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
      case _ => v.toArray
    }

    def nearest(v: Seq[Float]): Int = nearest(raw(v))

    def nearest(a: Array[Float]): Int = {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < centroids.length) {
        val cent = centroids(c)
        var d = 0.0
        var i = 0
        while (i < cent.length) {
          val diff = cent(i) - a(i); d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

    def nearestN(v: Seq[Float], n: Int): Seq[Int] = nearestN(raw(v), n)

    /** Distances are precomputed into an array before the sort (r15):
      * `sortBy(f)` re-evaluates `f` on EVERY comparison (`Ordering.on`),
      * so the old form paid ~log2(k) full k·dim distance passes per row
      * instead of one. Result order is bit-identical: the sort is stable
      * and keys are the same doubles. */
    def nearestN(a: Array[Float], n: Int): Seq[Int] = {
      val d = new Array[Double](centroids.length)
      var c = 0
      while (c < centroids.length) {
        val cent = centroids(c)
        var s = 0.0
        var i = 0
        while (i < cent.length) { val diff = cent(i) - a(i); s += diff * diff; i += 1 }
        d(c) = s
        c += 1
      }
      centroids.indices.sortBy(i => d(i)).take(n)
    }
  }

  /** Train a k-cell codebook with `iters` Lloyd iterations. Ids must be
    * integral; a null id or vector fails the job. The initial centroids
    * are the k vectors with the smallest ids (`takeOrdered`). Centroids
    * are tiny (k × dim doubles) — they travel to executors in the task
    * closure. Each Lloyd step is ONE map-side pass: every task folds its
    * vectors into per-cell double sums and counts (k × dim + k), and a
    * `treeAggregate` adds the partials — no per-element explode, no
    * shuffle. A centroid is its cell's sum / count in double (the value
    * `avg` gives); an empty cell keeps its centroid. Partials are added
    * in task-completion order, so a centroid may differ from another
    * run in its last bits — the index contract is recall (asserted by
    * VectorIndexSpec), not bit-equality, and `nProbe = k` search is
    * independent of the centroids altogether.
    *
    * `sampleOneIn` > 1 trains on a DETERMINISTIC id-hash sample (keep a
    * vector iff `xxhash64(id) % sampleOneIn == 0`) — the documented
    * 100 TB default: k-means quality needs only a representative sample
    * (centroids are averages; a 1-in-N hash sample is unbiased), while
    * full-corpus Lloyd passes would dominate the index build. Recall
    * parity on sampled training is pinned by VectorIndexSpec. */
  def train(df: DataFrame, idCol: String, embCol: String, k: Int, iters: Int,
      sampleOneIn: Int = 1): Codebook = {
    require(sampleOneIn >= 1, s"sampleOneIn must be >= 1, got $sampleOneIn")
    val base =
      if (sampleOneIn == 1) df
      else df.filter(pmod(xxhash64(col(idCol)), lit(sampleOneIn)) === 0)
    trainOn(read(base, idCol, embCol, None), k, iters)
  }

  /** [[train]] over corpus rows already read. */
  private def trainOn(vectors: RDD[Vec], k: Int, iters: Int): Codebook = {
    var centroids: Array[Array[Double]] = vectors
      .takeOrdered(k)(Ordering.by[Vec, Long](_.id))
      .map(_.v.map(_.toDouble))
    require(centroids.length >= k,
      s"corpus sample has ${centroids.length} vectors; k=$k cells need at least that many")
    val dim = centroids(0).length
    for (_ <- 1 to iters) {
      val cb = Codebook(centroids)
      val (sums, counts) = vectors.treeAggregate(
          (new Array[Double](k * dim), new Array[Long](k)))(
        { case ((s, n), Vec(_, _, _, v)) =>
            require(v.length == dim, s"vector of dimension ${v.length}, codebook has $dim")
            val c = cb.nearest(v)
            var i = 0
            while (i < dim) { s(c * dim + i) += v(i); i += 1 }
            n(c) += 1
            (s, n)
        },
        { case ((s1, n1), (s2, n2)) =>
            var i = 0
            while (i < s1.length) { s1(i) += s2(i); i += 1 }
            i = 0
            while (i < k) { n1(i) += n2(i); i += 1 }
            (s1, n1)
        })
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c) // empty cell keeps its centroid
        else Array.tabulate(dim)(i => sums(c * dim + i) / counts(c))
      }
    }
    Codebook(centroids)
  }

  /** Persist a codebook as parquet (cell, pos, weight) so a trained index
    * is reusable across jobs — train once on a sample, assign/search many
    * times (at 100 TB retraining per query would dominate). */
  def saveCodebook(spark: SparkSession, cb: Codebook, path: String): Unit = {
    val rows = cb.centroids.zipWithIndex.flatMap { case (cent, c) =>
      cent.zipWithIndex.map { case (x, pos) => (c, pos, x) }
    }.toSeq
    spark.createDataFrame(rows).toDF("cell", "pos", "weight")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadCodebook(spark: SparkSession, path: String): Codebook = {
    val rows = spark.read.parquet(path).collect() // k x dim doubles — tiny
    val k = rows.map(_.getInt(0)).max + 1
    val dim = rows.map(_.getInt(1)).max + 1
    val cents = Array.fill(k)(new Array[Double](dim))
    rows.foreach(r => cents(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    Codebook(cents)
  }

  /** Add the IVF cell id column (map-side, broadcast codebook). */
  def assignCells(df: DataFrame, embCol: String, cb: Codebook): DataFrame = {
    val nearestUdf = udf((v: Seq[Float]) => cb.nearest(v))
    df.withColumn("__cell", nearestUdf(col(embCol)))
  }

  /** Top-k cosine neighbors for each query, probing nProbe cells. The
    * per-query cut is a bounded-buffer partial aggregation
    * ([[graft.operators.TopK]]) — a rank window here would sort a query's
    * whole candidate list (~nProbe/k × corpus) in one task. */
  def search(corpus: DataFrame, queries: DataFrame, idCol: String, embCol: String,
      cb: Codebook, nProbe: Int, topK: Int): DataFrame = {
    val probeUdf = udf((v: Seq[Float]) => cb.nearestN(v, nProbe))
    // per-vector norms hoisted out of the candidate stage (r15, bit-exact
    // via cosineFromNorms)
    val indexed = assignCells(corpus, embCol, cb)
      .select(col("__cell"), col(idCol).as("neighbor_id"), col(embCol).as("ce"),
        sqrt(VectorFunctions.dotProduct(col(embCol), col(embCol))).as("n_nrm"))
    val probed = queries
      .select(col(idCol).as("query_id"), col(embCol).as("qe"),
        sqrt(VectorFunctions.dotProduct(col(embCol), col(embCol))).as("q_nrm"))
      .withColumn("__cell", explode(probeUdf(col("qe"))))
    val sims = indexed.join(broadcast(probed), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(VectorFunctions.cosineFromNorms(
          VectorFunctions.dotProduct(col("qe"), col("ce")),
          col("q_nrm"), col("n_nrm")), 4).as("sim"))
    graft.operators.TopK.perGroup(sims, "query_id", "neighbor_id", "sim",
      topK, ascending = false)
  }

  /** Corpus-scale self search: EVERY corpus vector is also a query — the
    * shape of whole-corpus neighbor mining, where [[search]]'s broadcast
    * query batch would OOM (queries = corpus). Runs the fused per-cell
    * kernel ([[cellKernel]]): one pass ranks each vector's cells, one
    * shuffle routes postings and probes by cell, and each cell scores its
    * probes against its postings with a bounded top-`topK` per probe; the
    * per-cell winners merge per query through [[graft.operators.TopK]].
    * No broadcast, no collect, no pair rows — work per cell is
    * |cell| × (probes into it), so size k to the block budget as the
    * corpus grows. `nProbe = cb.centroids.length` degenerates to exact
    * all-pairs (every pair meets in the corpus vector's one cell), which
    * is the oracle-checkable configuration. Emits (query_id,
    * neighbor_id, sim, rank), `sim` = `round(cosine, 4)`, ties to the
    * smaller neighbor id — the same rows as [[search]] with
    * queries = corpus. */
  def searchSelf(corpus: DataFrame, idCol: String, embCol: String,
      cb: Codebook, nProbe: Int, topK: Int): DataFrame =
    searchSelfOn(corpus.sparkSession, read(corpus, idCol, embCol, None), cb, nProbe, topK)

  /** [[train]] then [[searchSelf]] from ONE read of the corpus: the
    * k-means passes and the per-cell kernel consume the same rows, so a
    * shuffle upstream of them (a repartition spreading a one-file scan)
    * runs once and the later jobs read its output. */
  def trainAndSearchSelf(corpus: DataFrame, idCol: String, embCol: String,
      k: Int, iters: Int, nProbe: Int, topK: Int): DataFrame = {
    val vectors = read(corpus, idCol, embCol, None)
    searchSelfOn(corpus.sparkSession, vectors, trainOn(vectors, k, iters), nProbe, topK)
  }

  private def searchSelfOn(spark: SparkSession, vectors: RDD[Vec], cb: Codebook,
      nProbe: Int, topK: Int): DataFrame = {
    val sims = cellKernel(vectors, mine = false, cb, nProbe, assignR = 1, topK = topK)
      .map { case (q, n, s, _) => Row(q, n, s) }
    graft.operators.TopK.perGroup(spark.createDataFrame(sims, SimSchema),
      "query_id", "neighbor_id", "sim", topK, ascending = false)
  }

  /** Contrastive pair mining over the WHOLE corpus: per vector, the
    * hardest positive (nearest same-label) and hardest negative (nearest
    * other-label; a null label is never "same") among its probed cells
    * — one row (query_id, pair_type, neighbor_id, sim) per (query,
    * pair_type). The fused per-cell kernel of [[searchSelf]] keeps a
    * top-1 per probe and pair type, and one `reduceByKey` on (query,
    * same label?) merges the per-cell winners with
    * [[graft.operators.TopK.rankBefore]]; a winner keeps its own sim
    * (a `-0.0` stays `-0.0`). `assignR` > 1 posts each vector in its
    * `assignR` nearest cells (IVF cell replication): a neighbor is met
    * when ANY of its cells is probed, so at fixed recall nProbe — the
    * probe fan-out nProbe·N — shrinks by roughly assignR× for an index
    * assignR× larger. A pair can then meet in several cells, harmless for
    * a top-1 (duplicates carry the identical sim). Ids and labels must be
    * integral; a null id or vector fails the job. */
  def minePairs(corpus: DataFrame, idCol: String, embCol: String,
      labelCol: String, cb: Codebook, nProbe: Int,
      assignR: Int = 1): DataFrame =
    mineOn(corpus.sparkSession, read(corpus, idCol, embCol, Some(labelCol)), cb,
      nProbe, assignR)

  /** [[train]] then [[minePairs]] from ONE read of the corpus, as
    * [[trainAndSearchSelf]]: the rows `takeOrdered`, the Lloyd
    * `treeAggregate`s and the per-cell kernel consume are the same. */
  def trainAndMinePairs(corpus: DataFrame, idCol: String, embCol: String,
      labelCol: String, k: Int, iters: Int, nProbe: Int): DataFrame = {
    val vectors = read(corpus, idCol, embCol, Some(labelCol))
    mineOn(corpus.sparkSession, vectors, trainOn(vectors, k, iters), nProbe, assignR = 1)
  }

  private def mineOn(spark: SparkSession, vectors: RDD[Vec], cb: Codebook,
      nProbe: Int, assignR: Int): DataFrame = {
    val winners = cellKernel(vectors, mine = true, cb, nProbe, assignR, topK = 1)
      .map { case (q, n, s, same) => ((q, same), (s, n)) }
      .reduceByKey { (a, b) =>
        if (graft.operators.TopK.rankBefore(b._1, b._2, a._1, a._2, false)) b else a
      }
      .map { case ((q, same), (s, n)) => Row(q, if (same) "pos" else "neg", n, s) }
    spark.createDataFrame(winners, MinedSchema)
  }

  private val SimSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))

  private val MinedSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("pair_type", StringType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))

  /** One corpus row: its id, its label (0 when `noLabel`) and its vector. */
  private final case class Vec(id: Long, label: Long, noLabel: Boolean, v: Array[Float])

  /** The corpus rows, read as Spark's internal rows — no row deserializer.
    * Ids and labels must be integral. A null id or vector fails the job
    * (neither can be placed in a cell); a null label is `noLabel`. */
  private def read(corpus: DataFrame, idCol: String, embCol: String,
      labelCol: Option[String]): RDD[Vec] = {
    (idCol +: labelCol.toSeq).foreach(
      graft.operators.TopK.requireIntegral(corpus, _, "VectorIndex"))
    val label = labelCol.map(c => col(c).cast("long")).getOrElse(lit(null).cast("long"))
    corpus
      .select(col(idCol).cast("long"), coalesce(label, lit(0L)), label.isNull,
        col(embCol))
      .queryExecution.toRdd
      .map { r =>
        require(!r.isNullAt(0), s"VectorIndex: null $idCol")
        require(!r.isNullAt(3), s"VectorIndex: null $embCol at $idCol ${r.getLong(0)}")
        Vec(r.getLong(0), r.getLong(1), r.getBoolean(2), r.getArray(3).toFloatArray())
      }
  }

  private final val Posting = 0
  private final val Probe = 1

  /** Sends cell `c` to partition `c % numPartitions`; keys are (cell, tag). */
  private[functions] final case class CellPartitioner(numPartitions: Int)
      extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[(Int, Int)]._1 % numPartitions
  }

  /** The fused self-search kernel behind [[searchSelf]] and
    * [[minePairs]]: per-cell candidates (query_id, neighbor_id, sim,
    * same), where `same` says the two labels are equal and non-null.
    *
    *  1. One pass over the corpus ranks each vector's cells ONCE
    *     (`nearestN`) and computes its norm once; the vector leaves as a
    *     posting row for each of its `assignR` nearest cells and a probe
    *     row for each of its `nProbe` nearest cells, keyed by (cell, tag).
    *  2. One shuffle (`repartitionAndSortWithinPartitions`): rows go to
    *     partition `cell % parts`, with `parts` = min(k, default
    *     parallelism), and sort by (cell, tag): a cell's postings arrive
    *     before its probes.
    *  3. [[CellScan]] holds the current cell's postings as primitive
    *     arrays and streams the probes against them, keeping a bounded
    *     top-`topK` per probe (or, with labels, a top-1 per probe and
    *     label relation).
    */
  private def cellKernel(vectors: RDD[Vec], mine: Boolean, cb: Codebook, nProbe: Int,
      assignR: Int, topK: Int): RDD[(Long, Long, Double, Boolean)] = {
    require(assignR >= 1, s"assignR must be >= 1, got $assignR")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val parts = math.min(cb.centroids.length, vectors.sparkContext.defaultParallelism)
    val nRank = math.max(nProbe, assignR)
    vectors
      .flatMap { x =>
        val cells = cb.nearestN(x.v, nRank)
        val posted = (x, math.sqrt(CellScan.dot(x.v, 0, x.v, 0, x.v.length)))
        cells.iterator.take(assignR).map(c => ((c, Posting), posted)) ++
          cells.iterator.take(nProbe).map(c => ((c, Probe), posted))
      }
      .repartitionAndSortWithinPartitions(CellPartitioner(parts))
      .mapPartitions { rows =>
        val scan = new CellScan(topK, mine)
        rows.flatMap { case ((cell, tag), (x, nrm)) =>
          if (tag == Posting) { scan.post(cell, x, nrm); Iterator.empty }
          else scan.probe(cell, x, nrm)
        }
      }
  }

  private object CellScan {
    /** `VectorKernels.dotF32`'s operation sequence: double products,
      * summed left to right. */
    def dot(a: Array[Float], ao: Int, b: Array[Float], bo: Int, n: Int): Double = {
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a(ao + i).toDouble * b(bo + i).toDouble; i += 1 }
      acc
    }

    /** Spark's `round(x, 4)` on a double, bit for bit: NaN and the
      * infinities pass through; anything else rounds HALF_UP on its
      * shortest decimal form. */
    def round4(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

    /** Rounding is monotone and moves a value by at most 0.5e-4, so a raw
      * score this far below a kept (rounded) score can neither beat it
      * nor tie it: it is skipped before the costly round. */
    val PruneMargin = 1e-4
  }

  /** Per-partition state of [[cellKernel]]: the current cell's postings as
    * primitive arrays (ids, labels, one flat float array, norms), grown by
    * doubling and reused from cell to cell, and the per-probe buffers.
    * Scores follow the catalog formula exactly —
    * `round(cosineFromNorms(dotF32(q, c), |q|, |c|), 4)` — and ranks
    * follow [[graft.operators.TopK.rankBefore]] (NaN largest, -0.0 =
    * 0.0, ties to the smaller id), so the per-query merge is
    * bit-identical to a rank window over all pairs. */
  private final class CellScan(topK: Int, mine: Boolean) {
    import CellScan._
    private var cell = -1
    private var n = 0
    private var dim = -1
    private var ids = new Array[Long](16)
    private var labels = new Array[Long](16)
    private var noLabels = new Array[Boolean](16)
    private var norms = new Array[Double](16)
    private var flat = new Array[Float](0)
    // search: best-first top-k of the current probe
    private val keptS = new Array[Double](topK)
    private val keptI = new Array[Long](topK)
    // mining: slot 0 = other label, slot 1 = same label
    private val bestS = new Array[Double](2)
    private val bestI = new Array[Long](2)
    private val has = new Array[Boolean](2)

    def post(c: Int, x: Vec, nrm: Double): Unit = {
      val v = x.v
      if (c != cell) { cell = c; n = 0 }
      if (dim < 0) { dim = v.length; flat = new Array[Float](ids.length * dim) }
      require(v.length == dim, s"vector of dimension ${v.length} among dimension $dim")
      if (n == ids.length) {
        val cap = 2 * n
        ids = java.util.Arrays.copyOf(ids, cap)
        labels = java.util.Arrays.copyOf(labels, cap)
        noLabels = java.util.Arrays.copyOf(noLabels, cap)
        norms = java.util.Arrays.copyOf(norms, cap)
        flat = java.util.Arrays.copyOf(flat, cap * dim)
      }
      ids(n) = x.id; labels(n) = x.label; noLabels(n) = x.noLabel; norms(n) = nrm
      System.arraycopy(v, 0, flat, n * dim, dim)
      n += 1
    }

    /** Score one probe against the current cell's postings; the probe's
      * candidates for the per-query merge. */
    def probe(c: Int, x: Vec, nrm: Double): Iterator[(Long, Long, Double, Boolean)] = {
      if (c != cell || n == 0) return Iterator.empty // a cell without postings
      val Vec(id, lbl, noLabel, v) = x
      require(v.length == dim, s"vector of dimension ${v.length} among dimension $dim")
      if (mine) {
        has(0) = false; has(1) = false
        var j = 0
        while (j < n) {
          if (ids(j) != id) {
            val slot = if (!noLabel && !noLabels(j) && labels(j) == lbl) 1 else 0
            val raw = cosine(v, nrm, j)
            if (!has(slot) || !(raw < bestS(slot) - PruneMargin)) {
              val s = round4(raw)
              if (!has(slot) ||
                  graft.operators.TopK.rankBefore(s, ids(j), bestS(slot), bestI(slot), false)) {
                bestS(slot) = s; bestI(slot) = ids(j); has(slot) = true
              }
            }
          }
          j += 1
        }
        Seq(0, 1).collect { case s if has(s) => (id, bestI(s), bestS(s), s == 1) }.iterator
      } else {
        var size = 0
        var j = 0
        while (j < n) {
          if (ids(j) != id) {
            val raw = cosine(v, nrm, j)
            if (size < topK || !(raw < keptS(topK - 1) - PruneMargin)) {
              val s = round4(raw)
              var at = size // insertion point keeps the buffer best-first
              while (at > 0 &&
                  graft.operators.TopK.rankBefore(s, ids(j), keptS(at - 1), keptI(at - 1), false))
                at -= 1
              if (at < topK) {
                var m = math.min(size, topK - 1)
                while (m > at) { keptS(m) = keptS(m - 1); keptI(m) = keptI(m - 1); m -= 1 }
                keptS(at) = s; keptI(at) = ids(j)
                if (size < topK) size += 1
              }
            }
          }
          j += 1
        }
        Array.tabulate(size)(i => (id, keptI(i), keptS(i), false)).iterator
      }
    }

    /** `cosineFromNorms`: 0.0 when either norm is zero. */
    private def cosine(q: Array[Float], qNrm: Double, j: Int): Double = {
      val denom = qNrm * norms(j)
      if (denom == 0.0) 0.0 else dot(q, 0, flat, j * dim, dim) / denom
    }
  }
}
