package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs, and the stages and tasks they ran, that a block
  * of code starts. */
object Jobs {
  private val Tag = "graft.jobs.tag"

  /** Jobs started, stages submitted and the tasks those stages launched.
    * A job whose parent stage already ran (a shuffle another job wrote)
    * skips that stage: skipped stages are never submitted, so `stages`
    * and `tasks` count only stages that ran. */
  final case class Counts(jobs: Int, stages: Int, tasks: Int)

  /** `body`'s result and the jobs it started: jobs submitted from this
    * thread, or from threads that inherit its local properties
    * (broadcasts, adaptive stages), while it ran, with their stages and
    * tasks. */
  def counted[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    def tagged(p: java.util.Properties) = p != null && p.getProperty(Tag) == tag
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagged(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (tagged(e.properties)) {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks)
        }
    }
    sc.addSparkListener(listener)
    val outer = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, tag)
    try {
      val out = body
      GraftListenerBus.waitUntilEmpty(sc)
      (out, Counts(jobs.get, stages.get, tasks.get))
    } finally {
      sc.setLocalProperty(Tag, outer)
      sc.removeSparkListener(listener)
    }
  }
}
