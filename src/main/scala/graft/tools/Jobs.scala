package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs, and the stages they ran, that a block of code
  * starts. */
object Jobs {
  private val Tag = "graft.jobs.tag"

  /** Jobs started and stages submitted. A job whose parent stage already
    * ran (a shuffle another job wrote) skips that stage: skipped stages
    * are never submitted, so `stages` counts only stages that ran. */
  final case class Counts(jobs: Int, stages: Int)

  /** `body`'s result and the jobs it started: jobs submitted from this
    * thread, or from threads that inherit its local properties
    * (broadcasts, adaptive stages), while it ran, with their stages. */
  def counted[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    def tagged(p: java.util.Properties) = p != null && p.getProperty(Tag) == tag
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagged(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (tagged(e.properties)) stages.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val outer = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, tag)
    try {
      val out = body
      GraftListenerBus.waitUntilEmpty(sc)
      (out, Counts(jobs.get, stages.get))
    } finally {
      sc.setLocalProperty(Tag, outer)
      sc.removeSparkListener(listener)
    }
  }
}
