package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list: one
  * local union-find pass, then iterated minimum-label propagation WITH
  * pointer jumping for the components that span partitions.
  *
  * This is the closure step of a corpus dedup pipeline: the LSH / Jaccard /
  * SimHash stages produce near-duplicate PAIRS, but corpus construction
  * needs GROUPS with one canonical representative (transitive closure —
  * A~B and B~C must collapse to one kept doc even if A and C were never
  * paired directly). The reference's streams dedup topologies stop at
  * per-record dedup; this operator is what a training-data pipeline runs
  * on the pair output.
  *
  * Messages: each edge becomes two directed messages, partitioned ONCE by
  * their key with one sticky HashPartitioner (~64k messages per task,
  * capped by the session's shuffle-partition conf — the RDD loop has no
  * AQE to coalesce tiny shuffles). Everything runs on pair RDDs, the
  * GraphX/Pregel idiom: the loop body is pure (Long, Long) message
  * passing, so Catalyst would only add per-round planning and AQE
  * stage barriers.
  *
  * Local contraction: each partition runs union-find over its messages
  * (unions attach the larger root under the smaller, finds compress
  * paths) in chunks of at most 65,536 messages, and emits
  * (node, local root, 1) for every node a chunk saw. One node-keyed
  * reduce keeps the min root and sums the seen-counts. A local root is
  * an edge endpoint of the node's component and never exceeds the node,
  * so these labels are valid starting labels for propagation. If no node
  * was seen by two chunks, every component's edges lay in one chunk, each
  * local root is its component's minimum, and the labels are final — the
  * common case for dedup pair graphs, which fit one partition.
  *
  * Propagation, only when some node was shared: each round a node first
  * adopts the minimum label among itself and its direct neighbors
  * (hashmin), then jumps to its label's label (path halving — labels are
  * node ids, so the lookup is a join on the label table and always
  * hits). On chains whose ids grow along the chain the jump doubles the
  * distance information travels each round, giving O(log diameter)
  * rounds (after the hash-to-min + pointer-jump scheme of Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014); a chain
  * whose ids are shuffled can still need rounds in proportion to its
  * length. Labels only decrease, so an unchanged label sum means a
  * fixpoint (= per-component minimum).
  * Non-convergence within `maxIter` throws rather than returning a
  * partial closure — wrong groups are worse than a visible failure. Per
  * round: one edge-sized co-partitioned join (narrow on the edge side),
  * one node-keyed min-combine shuffle, one node-keyed jump join;
  * `RDD.localCheckpoint` truncates lineage each round, and the driver
  * holds only scalars, never node data.
  */
object ConnectedComponents {

  /** Returns one row per node appearing in `edges`: (node, component)
    * where component is the minimum node id reachable from it. */
  def run(edges: DataFrame, srcCol: String, dstCol: String, maxIter: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // (from, to) per direction: label(from) is delivered to `to`.
    // Partitioned by the message key once; localCheckpoint cuts the
    // upstream pair-pipeline lineage out of every round.
    val symRaw = edges
      .select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .as[(Long, Long)].rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
    symRaw.localCheckpoint()
    // scale-adaptive round width (guide §2: derive from input size, never
    // a local constant): ~64k messages per task, capped by the session's
    // shuffle-partition conf — the RDD loop has no AQE to coalesce the
    // otherwise-fixed tiny per-round shuffles
    val nEdges = symRaw.count()
    val nParts = math.max(1L, math.min(
      spark.sessionState.conf.numShufflePartitions.toLong,
      (nEdges + ChunkMessages - 1) / ChunkMessages)).toInt
    val part = new HashPartitioner(nParts)
    val sym = symRaw.partitionBy(part)
    sym.localCheckpoint()

    // labels: (node, min local root) with the number of chunks that saw
    // the node; co-partitioned with sym. The aggregate is the job that
    // materializes the checkpoint.
    val seen = sym
      .mapPartitions(localRoots)
      .reduceByKey(part, (a: (Long, Int), b: (Long, Int)) =>
        (math.min(a._1, b._1), a._2 + b._2))
    seen.localCheckpoint()
    val (maxSeen, initSum) = seen.aggregate((0, BigInt(0)))(
      { case ((m, sum), (_, (root, c))) => (math.max(m, c), sum + root) },
      { case ((m1, s1), (m2, s2)) => (math.max(m1, m2), s1 + s2) })
    var labels = seen.mapValues(_._1)
    // every component closed inside one chunk: its local root is its min
    if (maxSeen <= 1) return labels.toDF("n", "label")

    // convergence scalar: labels are node ids, monotonically
    // non-increasing per node per round, so any change strictly
    // decreases the sum (BigInt — cannot overflow at any corpus scale);
    // the aggregate action is also what materializes each round's
    // localCheckpoint — ONE job per round
    def labelSum(rdd: org.apache.spark.rdd.RDD[(Long, Long)]): BigInt =
      rdd.aggregate(BigInt(0))((acc, kv) => acc + BigInt(kv._2), _ + _)
    var prevSum = initSum
    var held: org.apache.spark.rdd.RDD[_] = seen
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // hashmin: adopt the minimum label among self and direct neighbors
      // (sym side co-partitioned — narrow; self label rides as a message;
      // reduceByKey min combines map-side)
      val relaxed = (sym.join(labels, part)
        .map { case (_, (to, plabel)) => (to, plabel) } ++ labels)
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      // pointer jump (path halving): label <- label's label. Labels are
      // node ids by induction (init: a local root, an edge endpoint;
      // hashmin: min of node ids; jump: a label read from the table), so
      // the lookup always hits and monotonically decreases toward the
      // component minimum.
      val next = relaxed
        .map { case (n, l) => (l, n) }
        .leftOuterJoin(relaxed, part)
        .map { case (l, (n, ll)) => (n, math.min(l, ll.getOrElse(l))) }
        .partitionBy(part)
      next.localCheckpoint()
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      held.unpersist(false)
      held = next
      labels = next
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"ConnectedComponents did not converge in $maxIter rounds " +
          "(label sum still decreasing) — raise maxIter")
    labels.toDF("n", "label")
  }

  /** Messages per task: sizes the message partitions, and bounds a
    * task's union-find memory when the shuffle-partition cap leaves more
    * than this per partition. */
  private final val ChunkMessages = 65536

  /** Union-find over each chunk of a partition's (from, to) messages:
    * (node, (root, 1)) for every node the chunk saw, root = the minimum
    * node of its chunk-local component. */
  private def localRoots(msgs: Iterator[(Long, Long)]): Iterator[(Long, (Long, Int))] =
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
      Iterator.tabulate(n)(x => (nodes(x), (nodes(find(x)), 1)))
    }
}
