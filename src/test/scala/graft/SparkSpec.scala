package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

/** Shared test base: one local session per suite, sf0.001 fixtures. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    graft.core.Graft.localSession("graft-test", cpus = 4)
  val sfDir = "/root/testdata/sf0.001"

  /** Every physical node in the plan, DESCENDING through AQE wrappers —
    * `AdaptiveSparkPlanExec` and `QueryStageExec` are leaf-like
    * (children = Nil), so a bare `plan.collect` on an AQE plan sees
    * nothing below the wrapper and absence assertions pass vacuously.
    * Plan-shape guards must match over this instead.
    */
  def allPlanNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val below = plan match {
      case a: AdaptiveSparkPlanExec => allPlanNodes(a.executedPlan)
      case s: QueryStageExec => allPlanNodes(s.plan)
      case _ => plan.children.flatMap(allPlanNodes)
    }
    plan +: below
  }

  /** Ids of the Spark jobs started under job group `group`, read from the
    * status tracker. Status events land asynchronously but in order, so a
    * fence job is run first and awaited: once it is visible, every job
    * started before it is too (an absence assertion cannot pass early).
    */
  def jobsInGroup(group: String): Seq[Int] = {
    val sc = spark.sparkContext
    val fence = s"fence-${System.nanoTime()}"
    sc.setJobGroup(fence, "status fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    org.scalatest.concurrent.Eventually.eventually(
      org.scalatest.concurrent.Eventually.timeout(
        org.scalatest.time.Span(10, org.scalatest.time.Seconds))) {
      assert(sc.statusTracker.getJobIdsForGroup(fence).nonEmpty)
    }
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }

  /** Number of Spark jobs `body` starts on this thread. */
  def jobsDuring(body: => Unit): Int = {
    val group = s"measured-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "measured")
    try body finally spark.sparkContext.clearJobGroup()
    jobsInGroup(group).size
  }

  /** All WindowExec nodes under the plan of `df`, through AQE. */
  def windowNodes(df: org.apache.spark.sql.DataFrame):
      Seq[org.apache.spark.sql.execution.window.WindowExec] =
    allPlanNodes(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
}
