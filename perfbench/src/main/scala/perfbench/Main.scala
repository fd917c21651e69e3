package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, warm up, time whole rounds of a
  * workload's operations for `--seconds`, and write `report.json` into the
  * run's work directory. `run.py` launches this, checks the outputs the
  * run left behind and prints the result line.
  *
  * Arguments: `--workload <name> --work <dir> --data <dir> --seed <n>
  * --seconds <s> --trace <0|1>`.
  */
object Main {
  final case class Opts(workload: String, work: String, data: String, seed: Long,
                        seconds: Double, trace: Boolean)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("work"), kv.getOrElse("data", ""), kv("seed").toLong,
      kv("seconds").toDouble, kv.get("trace").contains("1"))
    val report = mutable.LinkedHashMap[String, Any]()
    val spark = session(o)
    try {
      val trace = if (o.trace) Some(Trace.install(spark)) else None
      o.workload match {
        case "rel-ops" => BatchRun.run(spark, o, BatchRun.relOps, trace, report)
        case "iter-ann" => BatchRun.run(spark, o, BatchRun.iterAnn, trace, report)
        case "topic-small" => TopicRun.run(spark, o, trace, report)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      report("rss_peak_mb") = rssPeakMb()
    } finally spark.stop()
    Json.write(new File(o.work, "report.json"), report)
  }

  /** `local[nproc]` with the engine's own configuration; every scratch
    * directory Spark would use is placed under the run's work directory.
    */
  def session(o: Opts): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.core.Graft.configure(
        SparkSession.builder().master(s"local[$cpus]").appName(s"perfbench-${o.workload}"), cpus)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"${o.work}/rdd-checkpoints")
    spark
  }

  /** CPU time so far of every live Java thread, by thread id. JIT compiler
    * and GC threads are not Java threads, so a difference of two of these
    * is the program's own CPU (driver and task threads) without the JVM's
    * compilation and collection work.
    */
  def threadCpu(): Map[Long, Long] = {
    val mx = ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }

  /** CPU nanoseconds between two [[threadCpu]] snapshots; a thread started
    * in between counts from zero.
    */
  def cpuBetween(a: Map[Long, Long], b: Map[Long, Long]): Long =
    b.map { case (id, t) => t - a.getOrElse(id, 0L) }.sum

  /** Collector time and JIT compiler time so far, in ms. */
  def gcJitMs(): (Double, Double) = {
    import scala.jdk.CollectionConverters._
    (ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)
  }

  /** Heap still in use after full collections, in MB. Spark's
    * `ContextCleaner` frees broadcasts, shuffles and checkpoints only once
    * a collection has found their handles unreachable, so one collection
    * leaves a timing-dependent share of them; three, with a pause for the
    * cleaner after each, leave what is really live.
    */
  def heapLiveMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def gmean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Minimal JSON writer for the report (numbers, strings, booleans, nested
  * maps and sequences).
  */
object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(f: File, v: Any): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(render(v)) finally w.close()
  }
}
