package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Jobs

/** `Tables.load` reads the schema from a parquet footer on the driver: the
  * frame it returns has the schema and rows `spark.read.parquet` infers,
  * and building it starts no Spark job. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  /** Every row as JSON, in order. */
  private def digest(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(c => col(s"`$c`")): _*))).collect()
      .map(_.getString(0)).sorted.toSeq

  private def assertSameAsInferred(dir: String, name: String): Unit = {
    val got = Tables.load(spark, dir, name) // sets nanosAsLong for the reference
    val inferred = spark.read.parquet(s"$dir/$name.parquet")
    val want = if (name == "events") Tables.tsNormalized(inferred) else inferred
    assert(got.schema === want.schema, name)
    assert(digest(got) === digest(want), name)
  }

  /** A directory of Spark-written parquet under a fresh root, with nested
    * non-nullable types (array elements, map values, struct fields). */
  private def written(name: String, files: Int): String = {
    val root = java.nio.file.Files.createTempDirectory("tables").toString
    val rows = (1 to 40).map(i =>
      (i.toLong, Array(i.toFloat, -i.toFloat), Map(s"k$i" -> i), (i, s"s$i")))
    rows.toDF("id", "vec", "m", "st").repartition(files)
      .write.parquet(s"$root/$name.parquet")
    root
  }

  test("every test table loads with the inferred schema and rows") {
    Tables.all.foreach(assertSameAsInferred(sf, _))
  }

  test("Spark-written directories: one file (as the bench corpus) and several") {
    assertSameAsInferred(written("one", 1), "one")
    assertSameAsInferred(written("many", 3), "many")
  }

  test("load starts no Spark job") {
    val dirs = Tables.all.map(sf -> _) :+ (written("dir", 2) -> "dir")
    for ((dir, name) <- dirs) {
      val (_, n) = Jobs.counted(spark)(Tables.load(spark, dir, name))
      assert(n.jobs === 0, name)
    }
  }

  test("a missing table still throws") {
    intercept[Exception](Tables.load(spark, sf, "no_such_table"))
  }

  test("with mergeSchema on, the schema is Spark's merged schema") {
    val root = java.nio.file.Files.createTempDirectory("merged").toString
    val path = s"$root/t.parquet"
    Seq((1L, "a")).toDF("id", "a").write.parquet(s"$path/part=1")
    Seq((2L, 2.5)).toDF("id", "b").write.parquet(s"$path/part=2")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val got = Tables.load(spark, root, "t")
      val want = spark.read.parquet(path)
      assert(got.schema === want.schema)
      assert(Set("id", "a", "b", "part").subsetOf(got.columns.toSet), got.schema)
      assert(digest(got) === digest(want))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }
}
