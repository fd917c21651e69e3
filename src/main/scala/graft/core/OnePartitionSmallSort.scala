package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a total sort whose input fits one
  * advisory partition (`spark.sql.adaptive.advisoryPartitionSizeInBytes`)
  * shuffles into ONE partition instead of N range partitions.
  *
  * Why: Spark's `RangePartitioner` computes its bounds with a separate
  * sampling job that re-executes the sort's whole input pipeline (q05
  * re-scanned and re-filtered all of lineitem for it), even when AQE then
  * coalesces the few KB of output into one partition anyway. A one-
  * partition exchange needs no bounds, so it runs no sampling job, and the
  * result is still one totally ordered partition. Every graft query ends in
  * a total `orderBy`, so each small one drops a job.
  *
  * The size is the child's logical-plan estimate: runtime statistics once
  * AQE has materialized the stage below, static ones before that (the same
  * estimates the broadcast threshold trusts). Only exchanges that
  * `EnsureRequirements` inserted for a sort are touched: an explicit
  * `repartitionByRange` has its own shuffle origin and keeps its
  * partitions. Registered by [[GraftExtensions]].
  */
case class OnePartitionSmallSort(session: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = {
    val gate = session.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    plan.transformUp {
      case e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if child.logicalLink.exists(_.stats.sizeInBytes <= gate) =>
        e.copy(outputPartitioning = SinglePartition)
    }
  }
}
