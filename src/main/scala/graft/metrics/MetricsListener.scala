package graft.metrics

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Streaming metrics bridge mirroring the reference's observability
  * surface (`topic_processor.go:133-135`, `partition_processor.go:89-103`):
  * incoming/outgoing message counts and a lag gauge per source, fed from
  * `StreamingQueryProgress` instead of hand-maintained counters. Export
  * to Prometheus is a sink concern (`spark.metrics` servlet); this class
  * keeps the counters queryable in-process for tests and the bench.
  *
  * Source offsets come in two shapes: plain numerals (rate, MemoryStream)
  * and JSON maps — Kafka's `{"topic":{"0":123}}` per-partition maps and
  * the file source's `{"logOffset":2}`. Both are parsed; the
  * per-topic-partition lag (kasper's messages-behind-high-water-mark,
  * `partition_processor.go:89-103`) is exposed via [[lagByPartition]],
  * with [[lagFor]] the summed gauge.
  */
/** @param provider instrument sink (noop by default — the in-process
  *                  LongAdder/lag surfaces below work regardless)
  * @param onlyQueryName when set, progress events from other streaming
  *                      queries in the session are ignored, so a
  *                      per-processor listener doesn't absorb sibling
  *                      topologies' counts
  */
final class GraftMetricsListener(provider: MetricsProvider = NoopMetricsProvider,
                                 onlyQueryName: Option[String] = None)
    extends StreamingQueryListener {
  val incoming = new LongAdder          // ≈ kasper incoming_message_count
  val outgoing = new LongAdder          // ≈ kasper outgoing_message_count
  private val lag = new ConcurrentHashMap[String, Long]()  // summed per source
  private val partitionLag = new ConcurrentHashMap[String, Map[String, Long]]()

  // the reference's three signature metrics, created through the
  // pluggable provider (`topic_processor.go:133-135`)
  private val incomingCounter = provider.newCounter("incoming_message_count",
    "Number of incoming messages received", "source")
  private val outgoingCounter = provider.newCounter("outgoing_message_count",
    "Number of outgoing messages sent", "sink")
  private val lagGauge = provider.newGauge("messages_behind_high_water_mark_count",
    "Number of messages remaining to consume on the topic/partition",
    "source", "topic_partition")
  private val batchSummary = provider.newSummary("batch_duration_ms",
    "Micro-batch wall time", "query")

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (onlyQueryName.exists(n => p.name == null || p.name != n)) return
    incoming.add(p.numInputRows)
    batchSummary.observe(p.batchDuration.toDouble,
      Option(p.name).getOrElse(p.id.toString))
    Option(p.sink).foreach { s =>
      // a foreachBatch sink reports -1; TopicProcessor observes its rows
      val rows =
        if (s.numOutputRows >= 0) Some(s.numOutputRows)
        else Option(p.observedMetrics)
          .flatMap(m => Option(m.get(GraftMetricsListener.OutgoingRowsMetric)))
          .map(_.getLong(0))
      rows.foreach { n =>
        outgoing.add(n)
        outgoingCounter.add(n.toDouble, s.description)
      }
    }
    p.sources.foreach { s =>
      if (s.numInputRows >= 0) incomingCounter.add(s.numInputRows.toDouble, s.description)
      (Option(s.latestOffset).flatMap(GraftMetricsListener.parseOffsets),
        Option(s.endOffset).flatMap(GraftMetricsListener.parseOffsets)) match {
        case (Some(latest), Some(end)) =>
          val perPart = latest.map { case (tp, lv) =>
            tp -> math.max(0L, lv - end.getOrElse(tp, 0L))
          }
          perPart.foreach { case (tp, l) => lagGauge.set(l.toDouble, s.description, tp) }
          partitionLag.put(s.description, perPart)
          lag.put(s.description, perPart.values.sum)
        case _ => ()
      }
    }
  }

  def lagFor(sourceDescription: String): Option[Long] = Option(lag.get(sourceDescription))
  def lagByPartition(sourceDescription: String): Option[Map[String, Long]] =
    Option(partitionLag.get(sourceDescription))
  def totalIncoming: Long = incoming.sum()
  def totalOutgoing: Long = outgoing.sum()
}

object GraftMetricsListener {
  private val mapper = new ObjectMapper()

  /** Observed-metric name of a streaming query's output row count, read
    * as the outgoing count when the sink reports none.
    */
  val OutgoingRowsMetric = "graft_outgoing_rows"

  /** Offset string → map of topic-partition (or field name) → offset.
    * Plain numerals yield a single `""` entry; Kafka JSON maps yield
    * `"topic-partition"` entries; flat JSON objects (file source's
    * `{"logOffset":2}`) yield one entry per numeric field. Non-offset
    * strings yield None.
    */
  private[metrics] def parseOffsets(s: String): Option[Map[String, Long]] =
    s.trim.toLongOption.map(v => Map("" -> v)).orElse {
      try {
        val node = mapper.readTree(s)
        if (node == null || !node.isObject) None
        else {
          val entries = node.fields().asScala.flatMap { e =>
            e.getValue match {
              case v: JsonNode if v.isObject =>
                v.fields().asScala.collect {
                  case p if p.getValue.canConvertToLong =>
                    s"${e.getKey}-${p.getKey}" -> p.getValue.asLong()
                }
              case v: JsonNode if v.canConvertToLong =>
                Iterator(e.getKey -> v.asLong())
              case _ => Iterator.empty
            }
          }.toMap
          if (entries.nonEmpty) Some(entries) else None
        }
      } catch { case _: Exception => None }
    }
}
