package graft

import org.apache.spark.sql.SparkSession

/** BENCH runner: every declared query against SPARK_GRAFT_SF_DIR, one
  * JSON line on stdout. Queries are forced through a noop sink (not
  * `count()`, which would let Catalyst prune away the very expressions
  * being measured).
  *
  * Methodology (recorded in BASELINE.md): THREE full passes over the
  * query list (SPARK_GRAFT_BENCH_PASSES overrides), per-query MINIMUM
  * reported, plus a per-query `spread` (max/min over the successful
  * passes AFTER the first) so a co-tenant burst polluting one pass is
  * visible from the artifact itself — round-10's driver run had one
  * query at [10.3 s, 40.1 s] that two passes couldn't adjudicate.
  * Pass 1 is EXCLUDED from spread (it still contributes to the min):
  * it absorbs all JIT/codegen warmup, so a pass-1-inclusive ratio read
  * 5–16 on sub-second queries and carried no signal (round-11 verdict
  * #2); over passes 2..N a spread > 2 is presumptively real divergence
  * or contention, not warmup. `spread` is null when no pass succeeded
  * or the minimum is 0 (ratio undefined) — never a numeric sentinel,
  * so a parser cannot mistake "all passes failed" for a measurement;
  * per-pass failures are recoverable from `passes_detail` (-1 entries).
  * The shared build box
  * gets transient CPU spikes from concurrent jobs (round-2's driver
  * artifact recorded two adjacent queries at 10–19× their quiet-box
  * times, gone on re-run); best-of-N measures the engine, not the
  * neighbor. The session cache is cleared between queries so each is
  * independent — nothing a previous query cached (e.g. an IVF index)
  * flatters or starves the next one.
  *
  * Long-session hygiene (round-10; the round-9 driver artifact showed
  * q56/q57 at 17–28× their fresh-JVM times after ~140 queries of
  * history): between queries the runner now (a) releases ScaleOps'
  * tracked caches and (b) unpersists EVERY still-persistent RDD —
  * `clearCache()` is catalog-level and never touches `localCheckpoint`
  * blocks, so each checkpoint-returning query leaked its blocks into
  * the block manager for the rest of the session; and the retained
  * plan references pinned shuffle/broadcast state the ContextCleaner
  * could then never reclaim. A periodic `System.gc()` (every 32
  * queries, outside the timed window) drives the reference-queue-based
  * ContextCleaner even when the big local heap would otherwise not GC
  * for the whole run. Set SPARK_GRAFT_BENCH_HYGIENE=off to reproduce
  * the legacy clearCache-only behavior (A/B attribution).
  *
  * Telemetry in the JSON line: per-query times for BOTH passes
  * (`passes_detail`), GC time/count deltas over the whole run
  * (`gc_sec`/`gc_count`) and per pass (`gc_sec_passes`), and the
  * maximum persistent-RDD count observed AFTER per-query cleanup
  * (`rdd_resident_max` — nonzero means something leaked past hygiene).
  * `jobs` holds each query's Spark job count per pass: every query runs
  * under its own job group, which a listener counts (pass 1 includes the
  * one-off schema job of each table's first read).
  * A failed run still times as -1; the full line's `errors` map records
  * each failing query's first error class and message (cut to 2,000
  * chars), so a -1 says why.
  */
object Bench {
  /** A JSON string literal. Escapes backslash, quote and ALL control
    * chars (<0x20): a tab or CR in oracle SQL or in an error
    * message would otherwise make a reader's json.load fail.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def gcStats(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val beans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val hygiene = !sys.env.get("SPARK_GRAFT_BENCH_HYGIENE").contains("off")
    val cpus = graft.core.Graft.defaultCpus
    val spark = graft.core.Graft.configure(
        SparkSession.builder().master(s"local[$cpus]").appName("graft-bench"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // per-query job counts: each query runs under its own job group, and
    // this listener counts the job starts of each group
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobStarts.merge(g, 1, (a: Integer, b: Integer) => a + b))
    })

    var ranCount = 0
    var rddResidentMax = 0
    var dirtySinceGc = false
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
            group: String): Double = {
      spark.sparkContext.setJobGroup(group, name)
      val t0 = System.nanoTime()
      val elapsed =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            errors.getOrElseUpdate(name, s"${e.getClass.getName}: ${e.getMessage}".take(2000))
            -1.0
        } finally spark.sparkContext.clearJobGroup()
      // cleanup OUTSIDE the timed window — hygiene cost must not be
      // charged to the query it follows. INCREMENTAL (round-11): the
      // full sweep + periodic GC runs only after queries that actually
      // left resident blocks or tracked caches behind — the blanket
      // per-query sweep taxed every sub-second query ~0.3–0.5 s of
      // session work that landed in the NEXT query's wall time
      // (round-10 verdict item #2).
      if (hygiene) {
        ranCount += 1
        val dirty = spark.sparkContext.getPersistentRDDs.nonEmpty ||
          graft.ops.ScaleOps.hasTracked
        if (dirty) {
          // blocking: the resident-RDD telemetry below is sampled right
          // after this, and async removal would transiently report
          // leaked blocks that aren't (round-10 advice)
          graft.ops.ScaleOps.releaseAll(spark, blocking = true)
          dirtySinceGc = true
        } else
          // cheap no-op guard for cached-but-never-materialized frames
          // (CacheManager entry, no RDD) so their plan trees don't pin
          spark.catalog.clearCache()
        // drive the GC-reference-queue ContextCleaner periodically —
        // but only when something was released since the last GC
        if (ranCount % 32 == 0 && dirtySinceGc) {
          System.gc(); dirtySinceGc = false
        }
        rddResidentMax = math.max(rddResidentMax,
          spark.sparkContext.getPersistentRDDs.size)
      } else spark.catalog.clearCache()
      elapsed
    }

    // one tiny warmup so JVM/codegen startup isn't charged to the first query
    run("warmup", (s, d) => graft.queries.Queries.q14_sort_distinct(s, d), "warmup")

    // optional query-name filter (dev use; the driver passes no args)
    val only = args.toSet
    val ordered = graft.queries.Queries.all.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
    val (gcT0, gcC0) = gcStats()
    var gcMark = gcT0
    val gcPass = scala.collection.mutable.ArrayBuffer.empty[Double]
    val nPasses = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(_.trim.toIntOption).filter(_ >= 1).getOrElse(3)
    val passes = (1 to nPasses).map { pass =>
      val p = ordered.map { case (name, fn) => name -> run(name, fn, s"$name/$pass") }
      val (t, _) = gcStats()
      gcPass += (t - gcMark) / 1e3
      gcMark = t
      p
    }
    val results = ordered.map { case (name, _) =>
      // min over the passes that succeeded; -1 only if every pass failed
      val ok = passes.map(_.find(_._1 == name).get._2).filter(_ >= 0)
      name -> (if (ok.nonEmpty) ok.min else -1.0)
    }
    val (gcT1, gcC1) = gcStats()
    // listener events arrive in order: once a fence job's start is seen,
    // every query's job starts before it were counted
    spark.sparkContext.setJobGroup("fence", "listener fence")
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.clearJobGroup()
    val fenceDeadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!jobStarts.containsKey("fence") && System.nanoTime() < fenceDeadline)
      Thread.sleep(10)
    val jobs = ordered.map { case (name, _) =>
      "\"" + name + "\":" + (1 to nPasses)
        .map(pass => jobStarts.getOrDefault(s"$name/$pass", 0)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val detail = ordered.map { case (name, _) =>
      "\"" + name + "\":" +
        passes.map(_.find(_._1 == name).get._2).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // per-query max/min over the successful WARM passes (2..N): >1.5–2
    // on a quiet box means the query itself diverges across executions;
    // on a loaded box it marks which minima a burst may still pollute.
    // null (not a sentinel) when no warm pass succeeded or min == 0 —
    // a pass-1-only success must NOT print 1.0 (the strongest-looking
    // stability signal) for a query with zero warm-pass signal; the
    // single-pass dev mode (nPasses=1) has no warm passes by
    // construction and reads all-null. passes_detail recovers the raw
    // per-pass -1 failure flags either way.
    val spread = ordered.map { case (name, _) =>
      val warm = passes.drop(1).map(_.find(_._1 == name).get._2).filter(_ >= 0)
      // rint, not %.3f — f-interpolation is locale-dependent (a comma
      // decimal separator would corrupt the JSON line)
      val s = if (warm.nonEmpty && warm.min > 0)
        (math.rint(warm.max / warm.min * 1000) / 1000).toString else "null"
      "\"" + name + "\":" + s
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val passTotals = passes.map(_.map(_._2).filter(_ >= 0).sum)
    // system load avg recorded so a load-skewed run is recognizable from
    // the artifact itself (round-1 adjudication had to re-run to tell)
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val pt = passTotals.mkString("[", ",", "]")
    val gp = gcPass.mkString("[", ",", "]")
    // The FULL result (per-query minima, per-pass detail, spread — the
    // same line this runner used to print) goes to a stable file: the
    // driver captures only a 2000-char stdout TAIL, and the one-line
    // JSON outgrew it at ~170 queries (~32 KB by round 12), so per-query
    // ground truth had been unparseable from stdout for four rounds
    // (round-15 verdict item #1). Nothing is dropped: every per-query
    // entry that ever appeared on stdout is in the file, byte-same
    // format. The stdout line keeps the contract keys (metric/value/
    // unit/sf + run health) and stays well under the tail window; a
    // tail parser reads totals from stdout and the per-query map from
    // `bench_result.json` next to the repo root (path also printed).
    val errs = errors.map { case (k, v) => jsonString(k) + ":" + jsonString(v) }
      .mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","load_avg":$loadAvg,"passes":$nPasses,"pass_totals":$pt,"passes_detail":$detail,"spread":$spread,"gc_sec":${(gcT1 - gcT0) / 1e3},"gc_count":${gcC1 - gcC0},"gc_sec_passes":$gp,"hygiene":$hygiene,"rdd_resident_max":$rddResidentMax,"jobs":$jobs,"errors":$errs}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    try {
      val w = new java.io.PrintWriter(new java.io.File(outPath), "UTF-8")
      try w.println(full) finally w.close()
    } catch { case _: Throwable => () } // unwritable dir: stdout still has it
    // old contract preserved: the full line (incl. the complete per-query
    // map — nothing removed or renamed) still prints FIRST, so any parser
    // reading whole stdout sees exactly the pre-r16 output...
    println(full)
    val slim = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"queries_file":"$outPath","load_avg":$loadAvg,"passes":$nPasses,"pass_totals":$pt,"gc_sec":${(gcT1 - gcT0) / 1e3},"gc_count":${gcC1 - gcC0},"gc_sec_passes":$gp,"hygiene":$hygiene,"rdd_resident_max":$rddResidentMax}"""
    // ...and the ≤1500-char summary prints LAST, inside any stdout tail
    // window, pointing at the full per-query file
    println(slim)
    spark.stop()
  }
}
