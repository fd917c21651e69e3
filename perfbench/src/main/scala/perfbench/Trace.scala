package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's engine counters: a `SparkListener` for jobs, stages,
  * tasks, task time, shuffle and spill, a `QueryExecutionListener` for
  * analysis + optimisation + planning time (`QueryExecution.tracker`), and
  * the JVM's collector time. Counters only grow; callers take [[snapshot]]s
  * around the operations they attribute and subtract.
  */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks = new AtomicLong
  private val taskRunMs, taskCpuNs = new AtomicLong
  private val shuffleWrite, shuffleRead, spill = new AtomicLong
  private val planMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def addPlan(qe: QueryExecution): Unit =
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = addPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPlan(qe)

  /** Counter values once every event posted so far has been delivered. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> jobs.get.toDouble,
      "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.task_run_ms" -> taskRunMs.get.toDouble,
      "spark.task_cpu_ms" -> taskCpuNs.get / 1e6,
      "spark.shuffle_write_mb" -> shuffleWrite.get / mb,
      "spark.shuffle_read_mb" -> shuffleRead.get / mb,
      "spark.spill_mb" -> spill.get / mb,
      "jvm.gc_ms" -> gcMs.toDouble,
      "queries.plan_ms" -> planMs.get.toDouble)
  }
}

object Trace {
  def install(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  def diff(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before(k)) }
}
