package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list by
  * iterated local contraction: union-find inside each partition, then the
  * same on the much smaller graph of the local roots, until no node has
  * two local roots.
  *
  * This is the closure step of a corpus dedup pipeline: the LSH / Jaccard /
  * SimHash stages produce near-duplicate PAIRS, but corpus construction
  * needs GROUPS with one canonical representative (transitive closure —
  * A~B and B~C must collapse to one kept doc even if A and C were never
  * paired directly). The reference's streams dedup topologies stop at
  * per-record dedup; this operator is what a training-data pipeline runs
  * on the pair output.
  *
  * Everything runs on pair RDDs, the GraphX/Pregel idiom: a round is pure
  * (Long, Long) message passing, so Catalyst would only add per-round
  * planning and AQE stage barriers. A round:
  *
  *  1. Each edge of the round's graph is two directed messages. They are
  *     partitioned by their key (~64k messages per task, capped by the
  *     session's shuffle-partition conf — the RDD loop has no AQE to
  *     coalesce tiny shuffles) and sorted by it, so a chunk of a
  *     partition holds every message of a range of its keys.
  *  2. Each chunk of at most 65,536 messages runs union-find (unions
  *     attach the larger root under the smaller, finds compress paths)
  *     and emits (node, local root) for every node it saw: the minimum
  *     node of the node's chunk-local component.
  *  3. One node-keyed shuffle gathers each node's distinct local roots.
  *     Its label for the round is the smallest; a node with several roots
  *     links them, and those root-to-root edges are the next round's
  *     graph.
  *
  * A round whose graph has at most 65,536 messages — one chunk — runs
  * none of that: the graph, coalesced into one partition without a
  * shuffle, goes through one union-find pass, which gives every node its
  * component's minimum, the final label. That round is the last, with no
  * shuffle, round checkpoint or count; it is the only round of the common
  * dedup pair graph.
  *
  * Labels compose: a node's label is its first-round root, mapped through
  * every later round that relabeled that root. When no node has two local
  * roots, each component's edges closed under one root, which is its
  * minimum, and the labels are final. Each round merges every component
  * of its chunks into one node, so the graph shrinks geometrically and
  * closes once it fits one chunk, whatever order the node ids take along
  * a chain. Non-convergence within `maxIter` rounds throws rather than
  * returning a partial closure — wrong groups are worse than a visible
  * failure. `RDD.localCheckpoint` truncates lineage each round, and the
  * driver holds only counts, never node data.
  */
object ConnectedComponents {

  /** Returns one row per node appearing in `edges`: (node, component)
    * where component is the minimum node id reachable from it. */
  def run(edges: DataFrame, srcCol: String, dstCol: String, maxIter: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    runEdges(spark,
      edges.select(col(srcCol).cast("long"), col(dstCol).cast("long")).as[(Long, Long)].rdd,
      maxIter)
  }

  /** [[run]] over an edge RDD, for callers whose pairs come from an RDD
    * kernel: no row encoding on the way in. Returns the columns
    * (n, label). */
  def runEdges(spark: SparkSession, edges: RDD[(Long, Long)], maxIter: Int = 20): DataFrame = {
    import spark.implicits._
    val shufflePartitions = spark.sessionState.conf.numShufflePartitions.toLong

    // (from, to) per direction; localCheckpoint cuts the upstream
    // pair-pipeline lineage out of every round
    var graph = edges.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
    graph.localCheckpoint()
    var messages = graph.count()
    var labels: RDD[(Long, Long)] = null // node -> label
    var round = 0
    while (messages > 0) {
      if (round == maxIter)
        throw new IllegalStateException(
          s"ConnectedComponents did not converge in $maxIter rounds " +
            "(nodes still have several local roots) — raise maxIter")
      val step =
        if (messages <= ChunkMessages) {
          // one chunk holds the whole graph: its union-find gives every
          // node its final label, so no shuffle, round checkpoint or count
          messages = 0
          graph.coalesce(1).mapPartitions(localRoots)
        } else {
          // scale-adaptive round width (guide §2: derive from input size,
          // never a local constant): ~64k messages per task
          val part = new HashPartitioner(math.max(1L, math.min(shufflePartitions,
            (messages + ChunkMessages - 1) / ChunkMessages)).toInt)
          // node -> its distinct local roots, ascending
          val roots = graph
            .repartitionAndSortWithinPartitions(part)
            .mapPartitions(localRoots)
            .groupByKey(part)
            .mapValues(_.toArray.distinct.sorted)
          roots.localCheckpoint()
          // many nodes can link the same two roots: drop repeats per task
          graph = roots.values.mapPartitions(_.flatMap(rs =>
            rs.iterator.drop(1).flatMap(r => Iterator((rs(0), r), (r, rs(0))))).distinct)
          graph.localCheckpoint() // the count below materializes both checkpoints
          messages = graph.count()
          roots.mapValues(_(0))
        }
      labels =
        if (labels == null) step
        else labels.map(_.swap).leftOuterJoin(step)
          .map { case (l, (n, next)) => (n, next.getOrElse(l)) }
      round += 1
    }
    (if (labels == null) spark.sparkContext.emptyRDD[(Long, Long)] else labels)
      .toDF("n", "label")
  }

  /** Messages per task: sizes the message partitions, and bounds a
    * task's union-find memory when the shuffle-partition cap leaves more
    * than this per partition. */
  private final val ChunkMessages = 65536

  /** Union-find over each chunk of a partition's (from, to) messages:
    * (node, root) for every node the chunk saw, root = the minimum node
    * of its chunk-local component. */
  private def localRoots(msgs: Iterator[(Long, Long)]): Iterator[(Long, Long)] =
    msgs.grouped(ChunkMessages).flatMap { chunk =>
      val ends = new Array[Long](2 * chunk.size)
      var e = 0
      chunk.foreach { case (a, b) => ends(e) = a; ends(e + 1) = b; e += 2 }
      // node index = rank among the chunk's distinct ids, so the smaller
      // index is the smaller id
      val nodes = ends.clone()
      java.util.Arrays.sort(nodes)
      var n = 0
      var i = 0
      while (i < nodes.length) {
        if (i == 0 || nodes(i) != nodes(n - 1)) { nodes(n) = nodes(i); n += 1 }
        i += 1
      }
      val parent = Array.tabulate(n)(identity)
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      i = 0
      while (i < ends.length) {
        val ra = find(java.util.Arrays.binarySearch(nodes, 0, n, ends(i)))
        val rb = find(java.util.Arrays.binarySearch(nodes, 0, n, ends(i + 1)))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        i += 2
      }
      Iterator.tabulate(n)(x => (nodes(x), nodes(find(x))))
    }
}
