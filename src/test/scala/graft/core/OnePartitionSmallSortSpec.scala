package graft.core

import graft.SparkSpec
import graft.queries.Queries
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

class OnePartitionSmallSortSpec extends SparkSpec {

  private val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** Every shuffle exchange of `df`'s plan, through AQE (the initial plan
    * if nothing has run, the final one after an action).
    */
  private def exchanges(df: Dataset[_]): Seq[ShuffleExchangeExec] =
    allPlanNodes(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec => e
    }

  /** Jobs of one noop write of `q`, with the advisory size set to `gate`. */
  private def noopJobs(q: String, gate: Long): Int = {
    spark.conf.set(advisory, gate.toString)
    try jobsDuring {
      Queries.all(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
    } finally spark.conf.unset(advisory)
  }

  test("a small sorted query runs no range-sampling job") {
    // a 1-byte advisory size closes the gate, so the sort keeps its range
    // exchange and RangePartitioner's bounds job; the default opens it.
    // One unmeasured run first: a table's first read in the JVM runs a
    // schema job of its own
    val open = 64L * 1024 * 1024
    val got = Seq("q05_filter", "q06_wordcount", "q13_tenant_group").map { q =>
      noopJobs(q, open)
      q -> (noopJobs(q, 1L), noopJobs(q, open))
    }.toMap
    info(s"(range-partitioned, one partition) jobs: $got")
    // q13: the aggregate's map stage, the sort's map stage (after the
    // sampling job when range-partitioned) and the write's result stage
    assert(got == Map(
      "q05_filter" -> (3, 2), "q06_wordcount" -> (4, 3),
      "q13_tenant_group" -> (4, 3)))
  }

  test("a sort whose static estimate exceeds the gate keeps its range partitions") {
    // ~80 GB by Range's static estimate (8 bytes a row); only planned
    val big = spark.range(0, 10L * 1000 * 1000 * 1000).orderBy(col("id").desc)
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ranges = exchanges(big).map(_.outputPartitioning).collect {
      case r: RangePartitioning => r.numPartitions
    }
    assert(ranges == Seq(n), s"expected one $n-way range exchange, got $ranges")
  }

  test("an explicit repartitionByRange keeps its partition count") {
    val parts = spark.range(0, 1000).repartitionByRange(3, col("id"))
      .rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(parts.length == 3 && parts.forall(_ > 0), parts.mkString(","))
  }

  test("a small sort returns the driver-sorted rows in one partition") {
    // 8 input partitions, keys with many ties, id as the tie-break
    val df = spark.range(0, 5000, 1, 8)
      .select(((col("id") * 7919) % 101).as("k"), col("id"))
      .orderBy(col("k").desc, col("id"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = (0L until 5000L).map(i => ((i * 7919) % 101, i))
      .sortBy { case (k, i) => (-k, i) }
    assert(got == want)
    val parts = exchanges(df).map(_.outputPartitioning)
    assert(parts == Seq(SinglePartition), s"sort exchanges: $parts")
  }
}
