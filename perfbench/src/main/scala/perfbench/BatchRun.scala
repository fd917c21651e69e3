package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch workloads: `graft.queries.Queries.all` functions over the
  * generated tables, each forced through a `noop` write the way
  * `graft.Bench` forces them.
  *
  * Set-up runs one untimed pass over the query list, which also writes
  * each query's result to parquet for the oracle check. The timed region
  * then runs a fixed number of whole rounds (every query
  * once, in list order): `--seconds` divided by the workload's reference
  * round time `roundS`. A run therefore times the same rounds, in the same
  * warm state, however fast the host is; on the reference host it lasts
  * about `--seconds`.
  */
object BatchRun {
  /** `family` maps a query to the `family.<name>_ms` layer it counts in. */
  final case class Workload(queries: Seq[String], roundS: Double,
                            family: Map[String, String] = Map.empty)

  /** kasper's relational operator inventory: scan, filter, word count,
    * join, anti join, last-write-wins, tenant grouping and tumbling windows.
    */
  val relOps = Workload(Seq(
    "q01_scan", "q05_filter", "q06_wordcount", "q07_join", "q09_anti", "q11_lww",
    "q13_tenant_group", "q23_window_tumbling"), roundS = 2.0)

  /** One query per iterative family: a `GraphOps` PageRank loop with its
    * checkpoint cadence, a `VectorOps` IVF index build and probe, and the
    * PPMI embedding rounds.
    */
  val iterAnn = Workload(Seq("q104_pagerank", "q67_ann_ivf_exact", "q248_ppmi_embeddings"),
    roundS = 12.0, family = Map(
      "q104_pagerank" -> "graph", "q67_ann_ivf_exact" -> "ann", "q248_ppmi_embeddings" -> "ppmi"))

  def rounds(w: Workload, seconds: Double): Int = math.max(1, math.round(seconds / w.roundS).toInt)

  private final class Timing {
    val total, build, exec = mutable.ArrayBuffer.empty[Double]
  }

  def run(spark: SparkSession, o: Main.Opts, w: Workload, trace: Option[Trace],
          report: mutable.Map[String, Any]): Unit = {
    val fns = w.queries.map(q => q -> graft.queries.Queries.all(q))
    val errors = mutable.LinkedHashMap.empty[String, String]

    /** One execution; returns (build ms, exec ms), or None if it threw. */
    def execute(name: String, fn: (SparkSession, String) => DataFrame,
                sink: DataFrame => Unit): Option[(Double, Double)] = {
      val t0 = System.nanoTime()
      val r = try {
        val df = fn(spark, o.data)
        val t1 = System.nanoTime()
        sink(df)
        Some(((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6))
      } catch {
        case e: Throwable =>
          errors.getOrElseUpdate(name, s"${e.getClass.getName}: ${e.getMessage}")
          None
      }
      // between queries, outside the timed window: nothing one query
      // cached or checkpointed carries over to the next
      graft.ops.ScaleOps.releaseAll(spark, blocking = true)
      r
    }
    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

    report("warm_ms") = Seq(fns.map { case (name, fn) =>
      execute(name, fn, _.write.mode("overwrite").parquet(s"${o.work}/out/$name"))
        .map { case (b, e) => b + e }.getOrElse(0.0)
    }.sum)

    val n = rounds(w, o.seconds)
    val timings = w.queries.map(_ -> new Timing).toMap
    val roundMs = mutable.ArrayBuffer.empty[Double]
    val failedBy = mutable.LinkedHashMap(w.queries.map(_ -> 0): _*)
    val before = trace.map(_.snapshot())
    val cpu0 = Main.threadCpu()
    val (gc0, jit0) = Main.gcJitMs()
    report("first_timed_ms") = System.currentTimeMillis()
    val start = System.nanoTime()
    for (_ <- 0 until n) {
      val r0 = System.nanoTime()
      for ((name, fn) <- fns) execute(name, fn, noop) match {
        case Some((b, e)) =>
          val t = timings(name)
          t.build += b; t.exec += e; t.total += b + e
        case None => failedBy(name) += 1
      }
      roundMs += (System.nanoTime() - r0) / 1e6
    }
    val wallS = (System.nanoTime() - start) / 1e9
    val cpuMs = Main.cpuBetween(cpu0, Main.threadCpu()) / 1e6
    val layers = trace.map(t => Trace.diff(t.snapshot(), before.get))
    val (gc1, jit1) = Main.gcJitMs()
    report("gc_jit_ms") = Seq(gc1 - gc0, jit1 - jit0)
    report("heap_live_mb") = Main.heapLiveMb()

    val ok = w.queries.filter(q => timings(q).total.nonEmpty)
    val med = ok.map(q => q -> Stats.median(timings(q).total.toSeq)).toMap
    val attempted = n * w.queries.size
    report("attempted") = attempted
    report("failed") = failedBy.values.sum
    report("failed_by_query") = failedBy
    report("rounds") = n
    report("round_ms") = roundMs
    report("errors") = errors
    report("oracle") = graft.SparkEntry.oracleSql.filter { case (k, _) => w.queries.contains(k) }
    report("per_query_median_ms") = med
    if (ok.nonEmpty) report("e2e") = Map(
      "op_p50_ms" -> Stats.gmean(med.values.toSeq),
      "events_per_s" -> (attempted - failedBy.values.sum) / wallS,
      "cpu_ms_per_op" -> cpuMs / attempted)
    layers.foreach { l =>
      def sumMed(qs: Seq[String], f: Timing => Seq[Double]) =
        qs.map(q => Stats.median(f(timings(q)))).sum
      val families = ok.groupBy(q => w.family.get(q)).collect {
        case (Some(f), qs) => s"family.${f}_ms" -> sumMed(qs, _.total.toSeq)
      }
      report("layers") = l.map { case (k, v) => k -> v / n } ++ families ++ Map(
        "queries.build_ms" -> sumMed(ok, _.build.toSeq),
        "queries.exec_ms" -> sumMed(ok, _.exec.toSeq))
    }
  }
}
