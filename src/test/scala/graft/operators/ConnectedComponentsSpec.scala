package graft.operators

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.tools.Jobs

/** ConnectedComponents vs a brute-force union-find over random graphs:
  * every node must be labeled with the minimum id of its component. */
class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Brute-force union-find (path compression only; fine at test sizes). */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // normalize: root of each set = min member (guaranteed by min-merge)
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def check(edges: Seq[(Long, Long)], clue: String): Unit = {
    val expect = unionFind(edges)
    val got = ConnectedComponents.run(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == expect, clue)
  }

  test("random sparse graphs match union-find") {
    val rnd = new Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(40)
      val edges = (1 to n).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter { case (a, b) => a != b }
      check(edges, s"trial $trial")
    }
  }

  test("a long path converges to the min endpoint (diameter stress)") {
    // path 0-1-2-...-15: worst-case diameter for propagation
    check((0L until 15L).map(i => (i, i + 1)), "path graph")
    // same path with ids reversed so the min label starts at the far end
    check((0L until 15L).map(i => (15L - i, 14L - i)), "reversed path")
  }

  test("disjoint cliques keep distinct components") {
    val cliques = Seq(Seq(1L, 2L, 3L, 4L), Seq(10L, 11L, 12L), Seq(20L, 21L))
    val edges = cliques.flatMap(c => for (a <- c; b <- c if a < b) yield (a, b))
    val got = ConnectedComponents.run(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(cliques.forall(c => c.forall(m => got(m) == c.min)))
    assert(got.values.toSet == Set(1L, 10L, 20L))
  }

  test("a 2000-node chain converges inside 20 rounds (pointer jumping)") {
    // diameter 2000 >> maxIter: plain hashmin would need ~2000 rounds
    // and (round-9 fix) must THROW rather than return a partial closure;
    // the chain fits one chunk, so the local union-find closes it in one
    // round. The sf0.1 image-aHash pair graph actually hit the old cap in
    // the round-9 bench probe.
    val edges = (0L until 1999L).map(i => (i, i + 1))
    val got = ConnectedComponents.run(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect()
    assert(got.length === 2000)
    assert(got.forall(_._2 == 0L), "every node must reach the min endpoint")
  }

  /** A 40,000-edge path plus 200 5-cliques: 84,000 directed messages,
    * above one task's 65,536-message budget, so the messages spread over
    * 2 partitions (by id parity) and components span them. The path
    * visits ids 0, 1, 3, 2, 4, 5, 7, 6, ...: every 1-3 edge joins two odd
    * ids and every 2-4 edge two even ids, so neither partition sees the
    * whole path and the local pass leaves the labels unfinished. */
  private lazy val spanning: Seq[(Long, Long)] = {
    val rnd = new Random(7)
    val ids = (0L until 40000L by 4L).flatMap(i => Seq(i, i + 1, i + 3, i + 2)) :+ 40000L
    val path = ids.sliding(2).map(p => (p(0), p(1))).toSeq
    val cliques = (0 until 200).flatMap { c =>
      val m = (0 until 5).map(j => 100000L + 7L * c + j)
      for (a <- m; b <- m if a < b) yield (b, a)
    }
    rnd.shuffle(path ++ cliques)
  }

  test("components spanning partitions close in the propagation loop") {
    check(spanning, "path + cliques over 2 partitions")
  }

  test("a 40,000-edge path over shuffled ids closes on 2 partitions") {
    // ids in random order along the path: min-label propagation with
    // pointer jumping needs rounds in proportion to the path length here
    // (it threw at maxIter); each contraction round merges every chunk's
    // pieces of the path, so a few rounds close it
    val ids = new Random(11).shuffle((0L to 40000L).toVector)
    val path = ids.sliding(2).map(p => (p(0), p(1))).toSeq
    assert(path.size == 40000) // 80,000 messages: 2 partitions of one chunk each
    check(path, "shuffled-id path over 2 partitions")
  }

  /** `edges` random edges (no self loops) among the ids 0 until 50,000. */
  private def randomGraph(edges: Int, seed: Int): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    Iterator.continually((rnd.nextInt(50000).toLong, rnd.nextInt(50000).toLong))
      .filter { case (a, b) => a != b }.take(edges).toSeq
  }

  test("a graph of exactly one chunk (65,536 messages) closes in the one-pass round") {
    val edges = randomGraph(32768, 3)
    check(edges, "65,536 messages, one chunk")
  }

  test("a graph one edge over the chunk (65,538 messages) closes through a full round") {
    val edges = randomGraph(32769, 5)
    check(edges, "65,538 messages, two message partitions")
  }

  test("a one-chunk graph starts only the sizing count and the result's job") {
    val edges = randomGraph(2000, 13)
    val (got, n) = Jobs.counted(spark) {
      ConnectedComponents.run(edges.toDF("src", "dst"), "src", "dst")
        .as[(Long, Long)].collect().toMap
    }
    assert(got == unionFind(edges))
    // no round shuffle, round count or checkpoint: one stage per job
    assert((n.jobs, n.stages) == ((2, 2)), n)
  }

  test("non-convergence within maxIter still throws") {
    // the first round leaves nodes with two local roots, so one round
    // cannot close the graph
    val e = intercept[IllegalStateException] {
      ConnectedComponents.run(spanning.toDF("src", "dst"), "src", "dst", maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge in 1 rounds"))
  }

  test("one partition over the message budget contracts in chunks") {
    // shuffle partitions = 1 caps the message partitions at 1, so the
    // 84,000 messages are contracted in two chunks and the nodes both
    // chunks saw are relabeled by a second round
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "1")
    try check(spanning, "path + cliques in one partition, two chunks")
    finally spark.conf.set(key, prior)
  }
}
