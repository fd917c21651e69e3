package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** A consumed message — the Kafka source's fixed schema, which is also
  * exactly the reference's message shape (`topic_processor.go:108`:
  * sarama's Topic/Partition/Offset/Key/Value + timestamp).
  */
case class Message(topic: String, partition: Int, offset: Long,
                   key: Array[Byte], value: Array[Byte],
                   timestamp: java.sql.Timestamp)

/** An outgoing message (`sender.go:12-20`: topic/key/value). */
case class OutMessage(topic: String, key: Array[Byte], value: Array[Byte])

/** Topology configuration mirroring the reference's `Config`
  * (`config.go:10-59`) with its defaults: BatchWaitDuration 5 s,
  * BatchSize 1000, consumer group `<prefix>-topic-processor-<name>`
  * (`config.go:31-33`), and a pluggable metrics provider defaulting to
  * noop (`config.go:25-26,49-51`).
  *
  * @param batchWait the fixed trigger interval
  *        (`Trigger.ProcessingTime(batchWait)`): a micro-batch starts
  *        every `batchWait` and never early. Unlike kasper, a full batch
  *        does not fire on size. With the default "5 seconds", a closed
  *        loop that adds 1,000 messages and waits for them with
  *        `processAllAvailable` measured 10 s per batch (100 msg/s): it
  *        waits for the batch's trigger and for the next, empty one.
  *        "0 seconds" starts the next batch as soon as the last one ends;
  *        the same loop then took ~0.4 s per batch.
  * @param batchSize caps the messages one Kafka trigger reads
  *        (`maxOffsetsPerTrigger`); it never makes a batch start.
  *        kasper's size-or-time double trigger maps onto the Kafka
  *        source's `minOffsetsPerTrigger` (= batchSize) plus
  *        `maxTriggerDelay` (= batchWait) under a short trigger interval;
  *        that wiring is not done here, since the Kafka connector is not
  *        on this build's classpath to test it.
  */
case class TopicProcessorConfig(
    name: String,
    inputTopics: Seq[String],
    brokers: Seq[String] = Nil,
    batchWait: String = "5 seconds",
    batchSize: Long = 1000,
    checkpointDir: String = "",
    metricsProvider: graft.metrics.MetricsProvider = graft.metrics.NoopMetricsProvider) {
  def groupId: String = s"graft-topic-processor-$name"
  def checkpoint: String =
    if (checkpointDir.nonEmpty) checkpointDir
    else s"${sys.props("java.io.tmpdir")}/graft-checkpoints/$groupId"
}

/** Migration facade: the reference's `NewTopicProcessor` + `RunLoop`
  * programming model (`topic_processor.go:115-145,190-238`) on
  * Structured Streaming.
  *
  * What changes for a kasper user:
  *  - `Process(msgs, sender)` (one partition, one thread) becomes a
  *    whole-stream `Dataset[Message] ⇒ Dataset[OutMessage]` transform —
  *    per-key state goes through [[StatefulOps]]/`flatMapGroupsWithState`
  *    instead of an external Store (`store.go`), and Spark owns
  *    partition assignment (no `InputPartitions` lists,
  *    `config.go:15-18`).
  *  - offsets/delivery: the checkpoint replaces `markOffsets`
  *    (`partition_processor.go:124-133`); the contract is the same
  *    at-least-once, produce-before-commit ordering (see [[SinkOps]]).
  *  - batching: kasper's loop fires a batch on BatchSize messages or
  *    BatchWaitDuration, whichever comes first
  *    (`topic_processor.go:200-232`). Here a batch fires only on time,
  *    every `batchWait` (`Trigger.ProcessingTime`), and `batchSize` only
  *    caps how much one Kafka trigger reads (`maxOffsetsPerTrigger`);
  *    see [[TopicProcessorConfig]] for the throughput this gives and the
  *    Kafka options that would restore the size trigger.
  *  - metrics: kasper's outgoing count is the number of rows the
  *    transform emits per batch, observed on its output (the
  *    `foreachBatch` sink itself reports no row count).
  */
final class TopicProcessor(
    val config: TopicProcessorConfig,
    process: Dataset[Message] => Dataset[OutMessage]) {

  /** The Kafka source wired the way kasper wires its consumer: explicit
    * topic list, resume from committed position, clamp out-of-range
    * offsets instead of failing (`partition_processor.go:41-44` ⇒
    * `failOnDataLoss=false`), bounded per-trigger reads.
    *
    * NOTE: requires the `spark-sql-kafka` connector on the classpath
    * (not shipped in this CI image — the zero-egress harness has no
    * brokers either). Everything downstream of the source is
    * connector-independent and covered through [[runWith]].
    */
  def kafkaSource(spark: SparkSession): Dataset[Message] = {
    import spark.implicits._
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", config.brokers.mkString(","))
      .option("subscribe", config.inputTopics.mkString(","))
      .option("startingOffsets", "earliest")
      .option("failOnDataLoss", "false")
      .option("maxOffsetsPerTrigger", config.batchSize.toString)
      .option("groupIdPrefix", config.groupId)
      .load()
      .select(col("topic"), col("partition"), col("offset"),
        col("key"), col("value"), col("timestamp"))
      .as[Message]
  }

  /** Kafka sink with kasper's recommended durability (`acks=all`,
    * `README.md:27`), batch-committed after produce like the reference's
    * send-then-mark (`topic_processor.go:249-258`).
    */
  def startOnKafka(spark: SparkSession): StreamingQuery =
    runWith(kafkaSource(spark)) { (batch, _) =>
      batch.selectExpr("topic", "key", "value")
        .write.format("kafka")
        .option("kafka.bootstrap.servers", config.brokers.mkString(","))
        .option("kafka.acks", "all")
        .save()
    }

  /** Run the topology against any source with any sink — the seam tests
    * use (MemoryStream in, memory/parquet out). Semantics identical to
    * [[startOnKafka]]: transform → foreachBatch sink → checkpoint commit.
    *
    * The transform's output carries a named row-count observation
    * ([[graft.metrics.GraftMetricsListener.OutgoingRowsMetric]]) that
    * [[listener]] reads as the outgoing count. It is an accumulator
    * updated as the sink evaluates the batch, so it adds no job, and a
    * sink that evaluates an unpersisted batch twice can count it twice.
    */
  def runWith(source: Dataset[Message])
             (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    registerMetrics(source.sparkSession)
    val out = process(source).toDF()
      .observe(graft.metrics.GraftMetricsListener.OutgoingRowsMetric, count(lit(1)))
    out.writeStream
      .queryName(config.groupId)
      .option("checkpointLocation", config.checkpoint)
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime(config.batchWait))
      .foreachBatch(sink)
      .start()
  }

  /** The listener feeding kasper's signature metrics through the
    * configured provider (`topic_processor.go:122-135`); registered once
    * per processor on first start (regardless of provider — the
    * in-process counters work without one) and scoped to THIS topology's
    * query name so sibling processors in the session are not absorbed.
    * Queryable via [[listener]].
    */
  lazy val listener = new graft.metrics.GraftMetricsListener(
    config.metricsProvider, onlyQueryName = Some(config.groupId))
  private val metricsRegistered = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def registerMetrics(spark: SparkSession): Unit =
    if (metricsRegistered.compareAndSet(false, true))
      spark.streams.addListener(listener)
}
