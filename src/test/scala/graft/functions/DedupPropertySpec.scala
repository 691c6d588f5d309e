package graft.functions

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property checks for the approximate-dedup machinery: MinHash signature
  * agreement must track true shingle-Jaccard similarity. Seeded. */
class DedupPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val vocab = ('a' to 'z').map(c => s"w$c")

  private def doc(rnd: Random, len: Int): Seq[String] =
    (1 to len).map(_ => vocab(rnd.nextInt(vocab.length)))

  /** Mutate a fraction of words — produces controlled near-duplicates. */
  private def mutate(rnd: Random, words: Seq[String], rate: Double): Seq[String] =
    words.map(w => if (rnd.nextDouble() < rate) vocab(rnd.nextInt(vocab.length)) else w)

  test("minhash signature agreement tracks true Jaccard across 30 random pairs") {
    val rnd = new Random(1234)
    val pairs = (1 to 30).map { i =>
      val base = doc(rnd, 40 + rnd.nextInt(60))
      val rate = rnd.nextDouble() * 0.5
      (i.toLong, base.mkString(" "), mutate(rnd, base, rate).mkString(" "))
    }
    val df = pairs.toDF("id", "a", "b")
    val rows = df.select(
        DedupFunctions.jaccard(
          DedupFunctions.wordShingles($"a", 3), DedupFunctions.wordShingles($"b", 3))
          .as("true_jac"),
        DedupFunctions.minhashSignature($"a", 16).as("sa"),
        DedupFunctions.minhashSignature($"b", 16).as("sb"))
      .collect()
    val (errs, n) = rows.foldLeft((0.0, 0)) { case ((e, c), r) =>
      val trueJac = r.getDouble(0)
      val sa = r.getSeq[Long](1)
      val sb = r.getSeq[Long](2)
      val est = sa.zip(sb).count { case (x, y) => x == y } / 16.0
      (e + math.abs(est - trueJac), c + 1)
    }
    // k=16 signature: expected |est - true| ~ sqrt(j(1-j)/16) <= 0.125;
    // mean abs error across 30 pairs comfortably below 0.15
    assert(errs / n < 0.15, s"mean abs err ${errs / n}")
  }

  test("identical docs always collide in LSH bands; unrelated docs rarely do") {
    val rnd = new Random(77)
    val docs = (1 to 20).map(i => (i.toLong, doc(rnd, 50).mkString(" ")))
    val withDup = docs ++ Seq((100L, docs.head._2)) // exact dup of doc 1
    val df = withDup.toDF("doc_id", "text")
    val sigs = df.select($"doc_id",
      DedupFunctions.minhashSignature($"text", 16).as("sig"))
    val bands = sigs.select($"doc_id", explode(DedupFunctions.bandKeys($"sig", 4, 4)).as("bk"))
      .select($"doc_id", $"bk.band", $"bk.bandhash")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byDoc = bands.groupBy(_._1)
    // exact duplicate: all 4 band keys equal
    assert(byDoc(1L).map(t => (t._2, t._3)).toSet === byDoc(100L).map(t => (t._2, t._3)).toSet)
    // unrelated random docs: few cross-band collisions
    val buckets = bands.filter(_._1 != 100L).groupBy(t => (t._2, t._3))
    val collisions = buckets.values.count(_.length > 1)
    assert(collisions <= 2, s"unexpected band collisions: $collisions")
  }

  test("simhash hamming distance grows with mutation rate (monotone in expectation)") {
    val rnd = new Random(31337)
    val base = doc(rnd, 80)
    val rates = Seq(0.0, 0.1, 0.4)
    val df = rates.zipWithIndex.map { case (r, i) =>
      (i.toLong, mutate(new Random(i + 1), base, r).mkString(" "))
    }.toDF("id", "text")
    val hs = df.select($"id", DedupFunctions.simhash64($"text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base0 = Seq((99L, base.mkString(" "))).toDF("id", "text")
      .select(DedupFunctions.simhash64($"text")).head().getLong(0)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(base0, hs(0L)) === 0) // rate 0 => identical fingerprint
    assert(ham(base0, hs(1L)) < ham(base0, hs(2L))) // more mutation => farther
  }

  test("bucketPairs: buckets of 2..50, id-ordered pairs, each pair once, payload rides") {
    // bucket (0, k) holds ids k*100 + 1 .. k*100 + k, offered in reverse;
    // bucket (1, k) repeats the first two members of bucket (0, k)
    val members = (1 to 52).flatMap { k =>
      val ids = (1 to k).map(i => k * 100L + i).reverse
      ids.map(id => ((0, k.toLong), (id, -id))) ++
        ids.takeRight(2).map(id => ((1, k.toLong), (id, -id)))
    }
    val got = DedupFunctions.bucketPairs(spark.sparkContext.parallelize(members, 3)) {
      case ((a, pa), (b, pb)) => if (pa == -a && pb == -b) Some((a, b)) else None
    }.collect()
    val want = (2 to 50).flatMap { k =>
      for (i <- 1 to k; j <- i + 1 to k) yield (k * 100L + i, k * 100L + j)
    } ++ Seq((5101L, 5102L), (5201L, 5202L)) // only the 2-member buckets of 51, 52
    assert(got.length === got.distinct.length)
    assert(got.sorted.toSeq === want.sorted)
  }
}
