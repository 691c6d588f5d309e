package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.api.{GraftStreams, Rec}
import graft.functions.TextFunctions

/** Live corpus ingest: the C4-style cleanup running as a STREAMING
  * topology — quality gate, PII redaction, fingerprint re-key, exact
  * dedup within the watermark — all column-expression stages (one
  * codegen'd project + the bounded dedup state). */
class StreamingIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("quality gate + PII redaction + dedup-within-grace, end to end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val b = GraftStreams(spark)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]

    val good =
      "the quick brown fox and the lazy dog share a den in the woods " +
        "and it is a fine den for a fox and a dog to share"
    val withPii = good + " write to fox@den.example.org for details"
    val junk = "!!! ??? !!! ???"

    // the quality gate reads its text stats through a one-element explode,
    // so `text_stats` runs once per row (a Filter has no common-
    // subexpression elimination; see StreamingIngestApp)
    val gated = mem.toDF()
      .select($"_1", $"_2", $"_3", explode(array(TextFunctions.textStats($"_2"))).as("st"))
      .filter(TextFunctions.qualityScoreOf($"_2", $"st") > 0.3)
    val ingested = b.stream[Long, String](gated, $"_1", $"_2", $"_3")
      .mapValuesExpr(TextFunctions.redactPii(col(Rec.ValueCol)))
      .selectKeyExpr[String](TextFunctions.fingerprintHex(col(Rec.ValueCol)))
      .dedupWithinGrace(Seq(Rec.KeyCol), graceMs = 60000)

    val q = ingested.toDF.writeStream.format("memory").queryName("ingest")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        (1L, withPii, ts(1000L)), // kept, email redacted
        (2L, junk, ts(1000L)), // dropped: quality gate
        (3L, good, ts(2000L))) // kept
      q.processAllAvailable()
      mem.addData((4L, withPii, ts(3000L))) // dropped: duplicate fingerprint
      q.processAllAvailable()

      val rows = spark.table("ingest")
        .select(col(Rec.KeyCol), col(Rec.ValueCol)).collect()
      assert(rows.length === 2, rows.mkString("; "))
      val byText = rows.map(r => r.getString(1)).toSet
      assert(byText.contains(good))
      assert(byText.exists(_.endsWith("write to <EMAIL> for details")))
      // keys are 16-hex-char fingerprints
      assert(rows.forall(_.getString(0).matches("[0-9a-f]{16}")))
    } finally q.stop()
  }
}
