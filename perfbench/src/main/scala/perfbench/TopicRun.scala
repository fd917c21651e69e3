package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.streaming.{Message, OutMessage, StatefulOps, TopicProcessor, TopicProcessorConfig}

/** The topic workload: kasper's word-count topology (`StatefulOps.runningCount`
  * as the keyed state, the same transform as `Examples.wordCountTopology`)
  * driven through `TopicProcessor.runWith` by a `MemoryStream[Message]`.
  *
  * A closed loop with one producer: each batch is offered with `addData`
  * and the next one only after `processAllAvailable` returns, i.e. once
  * the batch's outputs are written and its offsets committed. The sink
  * writes every epoch to its own parquet directory, standing in for
  * kasper's acknowledged produce. `batchWait` is "0 seconds" so a batch is
  * timed, not the trigger's sleep.
  *
  * Each message is a part name, "<adjective> <noun>" drawn uniformly from
  * the two lists `gen.py` builds the `part` table's `p_name` from: the
  * input the repository's batch word count (`q06_wordcount`, KQ-6) counts.
  * The generator counts every word as it draws it, apart from the
  * program, and those counts are what the outputs are checked against.
  *
  * The timed region is a fixed number of batches, `--seconds` divided by
  * the reference batch time `BatchS`, so every run times the same batches
  * in the same warm state.
  */
object TopicRun {
  /** kasper's default BatchSize. */
  val BatchSize = 1000
  val WarmBatches = 10
  val BatchS = 0.4
  val Adjectives = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  val Nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")

  def timedBatches(seconds: Double): Int = math.max(1, math.round(seconds / BatchS).toInt)

  /** Seeded message source that keeps the true per-word counts. */
  final class Generator(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    val counts = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    var offered = 0L

    private def draw(words: Array[String]): String = {
      val w = words(rnd.nextInt(words.length))
      counts(w) += 1
      w
    }

    def batch(): Seq[Message] = Seq.fill(BatchSize) {
      val text = draw(Adjectives) + " " + draw(Nouns)
      val off = offered
      offered += 1
      Message("words", 0, off, off.toString.getBytes(UTF_8), text.getBytes(UTF_8),
        new java.sql.Timestamp(off))
    }

    def writeCounts(f: java.io.File): Unit = {
      val out = new java.io.PrintWriter(f, "UTF-8")
      try {
        out.println("word,count")
        for ((w, c) <- counts.toSeq.sorted) out.println(s"$w,$c")
      } finally out.close()
    }
  }

  /** `Examples.wordCountTopology`'s transform. */
  def wordCount(in: Dataset[Message]): Dataset[OutMessage] = {
    import in.sparkSession.implicits._
    val words = in.flatMap(m => new String(m.value, UTF_8).split(" ").filter(_.nonEmpty))
    StatefulOps.runningCount(words).map(kc =>
      OutMessage("word-counts", kc.key.getBytes(UTF_8), kc.count.toString.getBytes(UTF_8)))
  }

  /** Progress of every micro-batch, kept for the traced run's layers. */
  final class Progress extends StreamingQueryListener {
    val byBatch = new java.util.concurrent.ConcurrentHashMap[Long, QueryProgressEvent]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = byBatch.put(e.progress.batchId, e)
  }

  def run(spark: SparkSession, o: Main.Opts, trace: Option[Trace],
          report: mutable.Map[String, Any]): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val gen = new Generator(o.seed)
    val progress = trace.map { _ => val p = new Progress; spark.streams.addListener(p); p }
    val tp = new TopicProcessor(TopicProcessorConfig(name = s"perfbench-${o.workload}",
      inputTopics = Seq("words"), batchWait = "0 seconds", batchSize = BatchSize,
      checkpointDir = s"${o.work}/checkpoint"), wordCount)
    val input = MemoryStream[Message]
    val sinkMs = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val invocation = new AtomicInteger
    val query = tp.runWith(input.toDS()) { (df: DataFrame, epoch: Long) =>
      val t0 = System.nanoTime()
      df.write.parquet(s"${o.work}/sink/epoch=$epoch/inv=${invocation.getAndIncrement()}")
      sinkMs.put(epoch, (System.nanoTime() - t0) / 1e6)
    }
    try {
      def offer(b: Seq[Message]): Double = {
        val t0 = System.nanoTime()
        input.addData(b)
        query.processAllAvailable()
        (System.nanoTime() - t0) / 1e6
      }
      report("warm_ms") = Seq.fill(WarmBatches)(offer(gen.batch()))

      val firstTimed = gen.offered / BatchSize
      val lat = mutable.ArrayBuffer.empty[Double]
      var cpuNs = 0L
      val before = trace.map(_.snapshot())
      report("first_timed_ms") = System.currentTimeMillis()
      val (gc0, jit0) = Main.gcJitMs()
      for (_ <- 0 until timedBatches(o.seconds)) {
        val b = gen.batch()
        val c0 = Main.threadCpu()
        lat += offer(b)
        cpuNs += Main.cpuBetween(c0, Main.threadCpu())
      }
      val layers = trace.map(t => Trace.diff(t.snapshot(), before.get))
      val (gc1, jit1) = Main.gcJitMs()
      report("gc_jit_ms") = Seq(gc1 - gc0, jit1 - jit0)
      report("heap_live_mb") = Main.heapLiveMb()
      val n = lat.size
      val batches = (firstTimed until firstTimed + n).map(_.toLong)

      // kasper's incoming counter is fed from asynchronous progress events
      val deadline = System.nanoTime() + 30e9.toLong
      while (tp.listener.totalIncoming < gen.offered && System.nanoTime() < deadline)
        Thread.sleep(20)
      progress.foreach { p =>
        while (!batches.forall(p.byBatch.containsKey) && System.nanoTime() < deadline)
          Thread.sleep(20)
      }
      gen.writeCounts(new java.io.File(o.work, "expected_counts.csv"))

      report("attempted") = n
      report("failed") = 0
      report("rounds") = n
      report("round_ms") = lat
      report("batches_total") = gen.offered / BatchSize
      report("messages_total") = gen.offered
      report("metrics_incoming") = tp.listener.totalIncoming
      report("e2e") = Map(
        "op_p50_ms" -> Stats.median(lat.toSeq),
        "events_per_s" -> n.toDouble * BatchSize / (lat.sum / 1e3),
        "cpu_ms_per_op" -> cpuNs / 1e6 / n)
      for (l <- layers; p <- progress) {
        val ps = batches.flatMap(b => Option(p.byBatch.get(b))).map(_.progress)
        def mean(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
          if (ps.isEmpty) 0.0 else ps.map(f).sum / ps.size
        def dur(pr: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
          Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        val last = ps.lastOption.flatMap(_.stateOperators.headOption)
        report("layers") = l.map { case (k, v) => k -> v / n } ++ Map(
          "stream.plan_ms" -> mean(dur(_, "queryPlanning")),
          "stream.offsets_ms" -> mean(pr => dur(pr, "latestOffset") + dur(pr, "getBatch") +
            dur(pr, "walCommit")),
          "stream.commit_ms" -> mean(dur(_, "commitOffsets")),
          "stream.add_batch_ms" -> mean(dur(_, "addBatch")),
          "stream.state_commit_ms" -> mean(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
          "stream.state_update_ms" -> mean(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble),
          "stream.sink_ms" -> batches.map(b => sinkMs.getOrDefault(b, 0.0)).sum / n,
          "stream.jobs_per_batch" -> l("spark.jobs") / n,
          "stream.tasks_per_batch" -> l("spark.tasks") / n,
          "stream.state_rows" -> last.map(_.numRowsTotal.toDouble).getOrElse(0.0),
          "stream.state_mb" -> last.map(_.memoryUsedBytes / (1024.0 * 1024.0)).getOrElse(0.0),
          "metrics.incoming" -> tp.listener.totalIncoming.toDouble,
          "metrics.outgoing" -> tp.listener.totalOutgoing.toDouble)
      }
    } finally {
      query.stop()
    }
  }
}
