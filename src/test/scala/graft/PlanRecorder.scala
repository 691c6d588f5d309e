package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ReturnAnswer}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** The plans Spark plans while a query is built. A query that runs an RDD
  * kernel over `queryExecution.toRdd` plans its Catalyst stages during
  * the build, and its returned plan only reads the kernel's output, so a
  * plan audit of such a query checks the recorded plans. */
object PlanRecorder {

  /** Every logical plan, root or subtree, that a strategy was asked to
    * plan on the calling thread while `body` ran. */
  def logical(spark: SparkSession)(body: => Any): List[LogicalPlan] = {
    val planned = mutable.ArrayBuffer.empty[LogicalPlan]
    val builder = Thread.currentThread
    object Record extends SparkStrategy {
      def apply(plan: LogicalPlan): Seq[SparkPlan] = {
        if (Thread.currentThread eq builder) planned.synchronized(planned += plan)
        Nil
      }
    }
    spark.experimental.extraStrategies = Seq(Record)
    try body
    finally spark.experimental.extraStrategies = Nil
    planned.synchronized(planned.toList)
  }

  /** The physical plan of every plan [[logical]] records. */
  def physical(spark: SparkSession)(body: => Any): List[SparkPlan] =
    logical(spark)(body).map(p => spark.sessionState.planner.plan(ReturnAnswer(p)).next())
}
