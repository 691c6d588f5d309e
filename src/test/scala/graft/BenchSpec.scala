package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Pins `graft.Bench`'s stdout contract (the driver tail-parses its last
  * line) and the per-workload source table behind rec/sec and MB/sec. */
class BenchSpec extends AnyFunSuite {

  private def parse(line: String) = new ObjectMapper().readTree(line)
  private def keys(line: String): Seq[String] = parse(line).fieldNames().asScala.toSeq

  private val allMedians: Map[String, Double] =
    Bench.allWorkloads.zipWithIndex.map { case (w, i) => w -> (0.1 + i / 1000.0) }.toMap

  test("stdout line carries metric, value, unit, queries, sf in that order") {
    val line = Bench.stdoutLine(12.5, None, allMedians, "/data/sf0.1")
    assert(keys(line) === Seq("metric", "value", "unit", "queries", "sf"))
    val j = parse(line)
    assert(j.get("metric").asText === "total")
    assert(j.get("value").asDouble === 12.5)
    assert(j.get("unit").asText === "sec")
    assert(j.get("sf").asText === "/data/sf0.1")
    assert(!line.contains("\n"))
  }

  test("a filtered run tags its line with `only` between unit and queries") {
    val line = Bench.stdoutLine(1.0, Some("consume,yahoo"), allMedians, "sf")
    assert(keys(line) === Seq("metric", "value", "unit", "only", "queries", "sf"))
    assert(parse(line).get("only").asText === "consume,yahoo")
  }

  test("queries holds exactly the 11 parity workloads, in parity order, at 3 decimals") {
    assert(Bench.parityWorkloads.size === 11)
    assert(Bench.parityWorkloads.forall(w => Bench.workloads.exists(_._1 == w)))
    val line = Bench.stdoutLine(1.0, None, allMedians, "sf")
    val qs = parse(line).get("queries")
    assert(qs.fieldNames().asScala.toSeq === Bench.parityWorkloads)
    Bench.parityWorkloads.foreach { w =>
      assert(line.contains(f""""$w":${allMedians(w)}%.3f"""), w)
    }
  }

  test("a parity workload without a median is left out, not reported as zero") {
    val line = Bench.stdoutLine(1.0, None, allMedians - "yahoo" - "count", "sf")
    assert(parse(line).get("queries").fieldNames().asScala.toSeq ===
      Bench.parityWorkloads.filterNot(Set("yahoo", "count")))
    assert(parse(Bench.stdoutLine(0.0, None, Map.empty, "sf")).get("queries").size === 0)
  }

  test("every workload has an explicit source table, and no entry is stale") {
    val tables = Set("lineitem", "orders", "documents", "embeddings", "events")
    assert(Bench.sourceTables.map(_._1).toSet === tables)
    val listed = Bench.sourceTables.flatMap(_._2)
    assert(listed.diff(listed.distinct).isEmpty, "a workload listed under two tables")
    val measured = (Bench.workloads.map(_._1) ++ Bench.x10Workloads ++
      Bench.customWorkloads ++ Bench.streamingPins).map(_.stripSuffix("@10x")).toSet
    // suppress-ordered generates its input (spark.range); it reads no table
    val needTable = measured - "suppress-ordered"
    val missing = needTable -- Bench.sourceTable.keySet
    assert(missing.isEmpty, s"no source table for ${missing.toSeq.sorted.mkString(", ")}")
    val stale = Bench.sourceTable.keySet -- needTable
    assert(stale.isEmpty, s"source table for unknown workload(s) ${stale.toSeq.sorted}")
    assert(!Bench.sourceTable.contains("suppress-ordered"))
  }

  test("source tables follow the query's input, not a fallback") {
    val t = Bench.sourceTable
    assert(t("consume") === "lineitem")
    assert(t("table-agg") === "orders")
    assert(t("bm25-search") === "documents")
    assert(t("rag-retrieval") === "documents")
    assert(t("semdedup") === "embeddings")
    assert(t("contrastive-self") === "embeddings")
    assert(t("yahoo") === "events")
    assert(t("yahoo-streaming") === "events")
  }

  test("SPARK_GRAFT_BENCH_ONLY selects known workloads and tags them sorted") {
    assert(Bench.selection(None) === None)
    assert(Bench.selection(Some("streaming")) ===
      Some(("streaming", Bench.streamingPins.toSet)))
    assert(Bench.selection(Some("yahoo, consume,no-such-wl")) ===
      Some(("consume,yahoo", Set("consume", "yahoo"))))
    assert(Bench.selection(Some("contrastive-self@10x")).map(_._2) ===
      Some(Set("contrastive-self@10x")))
    // a name that is not an @10x workload is not one by suffix
    assert(Bench.selection(Some("consume@10x")) === None)
    assert(Bench.selection(Some("nothing-known")) === None)
  }
}
