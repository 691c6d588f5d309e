package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Round-15 measurement tool (guide §1): dump `.explain("formatted")` for
  * declared queries to files (the plan evidence under plans/r15/) and
  * time each query's writes of every row to the `noop` sink (a `count()`
  * would let Catalyst prune the operator under test): `cold` is the first
  * write of the frame the plan dump built, then `reps` timed rebuilds and
  * writes.
  *
  * Every query also prints its Janino compile count: the number of
  * classes its cold build and write compiled (the delta of Spark's
  * `CodegenMetrics.METRIC_COMPILATION_TIME`), `jobs=N`, the Spark
  * jobs that build and write started (a schema-inference or checkpoint
  * job in the build shows up here, not in the write's plan),
  * `stages=N`, the stages those jobs ran (a stage whose shuffle output
  * an earlier job already wrote is skipped, and not counted), and
  * `tasks=N`, the tasks those stages launched. Spark
  * caches compiled classes by (class loader, source) in 100 entries, and
  * in local mode each class costs two (driver and executor loader), so a
  * suite whose queries together compile more than about 50 classes
  * recompiles some on every run.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.tools.PlanDump <outDir> <q1,q2,...|all> [reps]"
  *
  * Not part of the bench contract — a developer tool; never caches
  * anything across runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "plans/r15"
    val qarg = if (args.length > 1) args(1) else "all"
    val reps = if (args.length > 2) args(2).toInt else 0
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val suffix = sys.env.getOrElse("PLANDUMP_SUFFIX", "")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val names: Seq[String] =
      if (qarg == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else qarg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    names.foreach { q =>
      graft.SparkEntry.queries.get(q) match {
        case None => System.err.println(s"[plandump] unknown query: $q")
        case Some(fn) =>
          try {
            spark.sparkContext.setJobDescription(s"plandump:$q")
            val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
            def noop(d: DataFrame): Unit = d.write.format("noop").mode("overwrite").save()
            val (cold, n) = Jobs.counted(spark) {
              val df = fn(spark, sfDir)
              val plan = df.queryExecution.explainString(
                ExplainMode.fromString("formatted"))
              java.nio.file.Files.write(
                java.nio.file.Paths.get(outDir, s"$q$suffix.txt"),
                plan.getBytes("UTF-8"))
              val t0 = System.nanoTime()
              noop(df)
              (System.nanoTime() - t0) / 1e9
            }
            val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
            if (reps > 0) {
              val times = (1 to reps).map { _ =>
                val t0 = System.nanoTime()
                noop(fn(spark, sfDir))
                (System.nanoTime() - t0) / 1e9
              }
              println(f"[plandump] $q%-36s compiles=$compiles%4d jobs=${n.jobs}%3d " +
                f"stages=${n.stages}%3d tasks=${n.tasks}%4d " +
                f"cold=$cold%7.3f " + times.map(t => f"$t%7.3f").mkString(" "))
            } else println(f"[plandump] $q%-36s compiles=$compiles%4d jobs=${n.jobs}%3d " +
              f"stages=${n.stages}%3d tasks=${n.tasks}%4d plan written")
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] $q FAILED: $e")
          }
      }
    }
    spark.stop()
  }
}
