package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** `LlmPipeline.spread` adds its round-robin shuffle only to a parquet
  * input read from fewer files than cores that holds more than
  * `SpreadMinRows` rows, or to an input whose rows are unknown. */
class SpreadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val cores = spark.sparkContext.defaultParallelism
  private val dir = "/root/testdata/sf0.001"

  /** The partition counts of the round-robin exchanges in `df`'s physical
    * plan (before adaptive execution rewrites it). */
  private def roundRobins(df: DataFrame): Seq[Int] =
    df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case RoundRobinPartitioning(n) => n }

  private def docs = Tables.load(spark, dir, "documents")

  /** A `documents` table of `rows` one-word rows written as `files`
    * parquet files under a fresh directory, loaded as the catalog does. */
  private def written(rows: Long, files: Int): DataFrame = {
    val out = Files.createTempDirectory("spread").toString
    spark.range(rows).selectExpr("id AS doc_id", "'word' AS text")
      .repartition(files).write.parquet(s"$out/documents.parquet")
    Tables.load(spark, out, "documents")
  }

  test("a one-file table of at most SpreadMinRows rows is not spread") {
    assert(docs.count() <= LlmPipeline.SpreadMinRows)
    assert(roundRobins(LlmPipeline.spread(docs)) === Nil)
  }

  test("a one-file table of more rows is spread over defaultParallelism, however small its file") {
    val df = written(LlmPipeline.SpreadMinRows + 1, files = 1)
    assert(df.inputFiles.length === 1)
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes <
      spark.sessionState.conf.filesOpenCostInBytes)
    assert(roundRobins(LlmPipeline.spread(df)) === Seq(cores))
    assert(roundRobins(LlmPipeline.spread(df.select("doc_id"))) === Seq(cores))
  }

  test("a table read from as many files as cores is not spread, however many rows it holds") {
    val df = written(4 * LlmPipeline.SpreadMinRows, files = cores)
    assert(df.inputFiles.length === cores)
    assert(roundRobins(LlmPipeline.spread(df)) === Nil)
  }

  test("an input of unknown rows (a LogicalRDD) is still spread") {
    val rdd = docs.select("doc_id").rdd
    val df = spark.createDataFrame(rdd, docs.select("doc_id").schema)
    assert(roundRobins(LlmPipeline.spread(df)) === Seq(cores))
  }
}
