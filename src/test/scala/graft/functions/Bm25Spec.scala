package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, Tables, TestSpark}

/** The BM25 kernel against the relational formulation of the same
  * scoring: the catalog query's former plan, ranked by `row_number` over
  * the exact BIGINT score as the DuckDB oracle ranks. */
class Bm25Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Queries are the documents with doc_id < 5, as in `q_bm25_search`. */
  private def reference(docs: DataFrame, k: Int): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tok.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val tot = docs.select(col("doc_id")).agg(count(lit(1)).as("n"))
      .crossJoin(tok.agg(count(lit(1)).as("tl")))
    val qt = tok.filter(col("doc_id") < 5 && length(col("token")) >= 6)
      .select(col("doc_id").as("query_id"), col("token").as("qtoken")).distinct()
    val hit = tf.join(broadcast(qt),
        col("qtoken") === col("token") && col("query_id") =!= col("doc_id"))
      .select(col("query_id"), col("doc_id"), col("token"), col("tf"))
    val sc = hit
      .join(dfreq, "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn("s", expr(
        """(22000 * tf * (2 * n - 2 * df + 1) * 1000000)
          | div ((10000 * tf + 3000 + 9 * ((dl * n * 1000) div tl)) * (2 * df + 1))""".stripMargin))
    sc.groupBy("query_id", "doc_id").agg(sum("s").as("score_micro"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score_micro").desc, col("doc_id"))))
      .filter(col("rank") <= k)
  }

  private def kernel(docs: DataFrame, k: Int): DataFrame =
    Bm25.topK(docs.repartition(4), docs.filter(col("doc_id") < 5), k)

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Int)] =
    df.select("query_id", "doc_id", "score_micro", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq.sorted

  private def docs(texts: (Long, String)*): DataFrame = {
    import spark.implicits._
    texts.toDF("doc_id", "text")
  }

  // U+1F600, one character to Spark, two UTF-16 units to the JVM
  private val emoji = "\uD83D\uDE00"
  private val tieIds = Seq(47L, 12L, 66L, 9L, 38L, 71L, 15L, 50L)

  /** Queries: 0 repeats a term; 1 has no term of 6+ characters; 2 has a
    * 6-character term with a non-BMP character and a 5-character one that
    * is 6 UTF-16 units long; 3's term occurs in three other documents, one
    * of them query 0; 4's term ties eight identical documents. Documents
    * 80-82 have no tokens. */
  private lazy val crafted = docs(Seq(
      0L -> "alphabet alphabet kernel12 gamma rarest",
      1L -> "short tiny words here",
      2L -> s"abcd${emoji}e abc${emoji}e",
      3L -> "rarest of all",
      4L -> "tiebreak",
      10L -> "alphabet alphabet alphabet x y",
      11L -> "alphabet kernel12",
      13L -> "kernel12 kernel12 a much longer document with many more words in it",
      14L -> "gamma alphabet",
      20L -> s"abc${emoji}e abc${emoji}e filler",
      21L -> s"abcd${emoji}e filler words",
      22L -> s"abcd${emoji}e abcd${emoji}e kernel12",
      30L -> "rarest thing",
      31L -> "the rarest rarest one",
      80L -> "",
      81L -> "   \t  ",
      82L -> null) ++
    tieIds.map(_ -> "tiebreak common words"): _*)

  test("crafted corpus: the kernel returns the reference's rows") {
    assert(rows(kernel(crafted, 5)) === rows(reference(crafted, 5)))
  }

  test("crafted corpus: ties, self-matches, empty documents, short queries") {
    val got = rows(kernel(crafted, 5))
    val byQuery = got.groupBy(_._1)
    // equal scores rank by the smaller doc_id
    assert(byQuery(4L).map(_._2) === tieIds.sorted.take(5))
    assert(byQuery(4L).map(_._3).distinct.size === 1)
    assert(byQuery(4L).map(_._4) === (1 to 5))
    // no query document ranks for itself, but may rank for another query
    assert(got.forall(r => r._1 != r._2))
    assert(byQuery(3L).exists(_._2 == 0L))
    // documents without tokens count in n but are never returned
    assert(got.forall(r => !Set(80L, 81L, 82L)(r._2)))
    // no term of 6+ characters: no rows
    assert(!byQuery.contains(1L))
    // "abc<U+1F600>e" is 5 characters: only "abcd<U+1F600>e" hits
    assert(spark.range(1).select(length(lit(s"abc${emoji}e")),
      length(lit(s"abcd${emoji}e"))).head().toSeq === Seq(5, 6))
    assert(byQuery(2L).map(_._2).toSet === Set(21L, 22L))
    // fewer hits than k
    assert(byQuery(3L).map(_._2).toSet === Set(0L, 30L, 31L))
    assert(byQuery(3L).map(_._4).sorted === (1 to 3))
  }

  test("crafted corpus: a term a query repeats is scored once") {
    // the same corpus (n, Σdl, df) but for query 0's repetition
    val once = docs(0L -> "alphabet kernel12 gamma x", 10L -> "alphabet alphabet alphabet x y",
      11L -> "alphabet kernel12", 14L -> "gamma alphabet")
    val twice = docs(0L -> "alphabet alphabet kernel12 gamma",
      10L -> "alphabet alphabet alphabet x y", 11L -> "alphabet kernel12",
      14L -> "gamma alphabet")
    assert(rows(kernel(twice, 5)) === rows(kernel(once, 5)))
    assert(rows(kernel(twice, 5)) === rows(reference(twice, 5)))
  }

  test("a hit whose score rounds to 0 still ranks") {
    // every document contains the term (idf numerator 1) and document 1
    // holds almost all tokens: its score is 22·10⁹ div ~2.6·10¹⁰ = 0
    val corpus = docs((0L -> "zeroscore") +:
      (1L -> ("zeroscore" + " pad" * 100000)) +:
      (2L until 1200L).map(_ -> "zeroscore"): _*)
    val got = rows(kernel(corpus, 1200))
    assert(got.find(_._2 == 1L).map(r => (r._3, r._4)) === Some((0L, 1199)))
    assert(got === rows(reference(corpus, 1200)))
  }

  test("a score beyond BIGINT fails the job instead of wrapping") {
    // n = 10002, df = 2, tf = 50000: 22000·tf·(2n−2df+1)·10⁶ ≈ 2.2·10¹⁹
    val corpus = docs(0L -> "bigterm", 1L -> Seq.fill(50000)("bigterm").mkString(" "))
      .union(spark.range(2, 10002).select(col("id").as("doc_id"),
        lit(null).cast("string").as("text")))
    for (run <- Seq(() => kernel(corpus, 5), () => reference(corpus, 5).collect())) {
      val e = intercept[Exception](run())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(t => String.valueOf(t.getMessage).contains("overflow")), e)
    }
  }

  test("sf0.001 documents: the catalog query returns the reference's rows") {
    val documents = Tables.load(spark, dir, "documents")
    assert(rows(SparkEntry.queries("q_bm25_search")(spark, dir)) ===
      rows(reference(documents, 5)))
  }
}
