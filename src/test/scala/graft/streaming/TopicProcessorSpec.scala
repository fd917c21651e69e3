package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class TopicProcessorSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def msg(topic: String, k: String, v: String, off: Long) =
    Message(topic, 0, off, k.getBytes(UTF_8), v.getBytes(UTF_8),
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))

  test("kasper-style topology: hello-world transform through the facade") {
    withTempDir("graft_hello_ckpt") { ckpt =>
      // the reference's producer example: value -> "Hello " + value
      // (examples/producer_example.go:33-38)
      val tp = new TopicProcessor(
        TopicProcessorConfig(
          name = s"hello-${System.nanoTime()}",
          inputTopics = Seq("hello"), checkpointDir = ckpt.toString),
        in => {
          import in.sparkSession.implicits._
          in.map(m => OutMessage("world", m.key,
            ("Hello " + new String(m.value, UTF_8)).getBytes(UTF_8)))
        })

      assert(tp.config.groupId.startsWith("graft-topic-processor-hello-"))

      val collected = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val in = MemoryStream[Message]
      val q = tp.runWith(in.toDS()) { (batch, _) =>
        collected ++= batch.collect().map(r =>
          (new String(r.getAs[Array[Byte]]("key"), UTF_8),
            new String(r.getAs[Array[Byte]]("value"), UTF_8)))
      }
      in.addData(msg("hello", "k1", "alice", 0), msg("hello", "k2", "bob", 1))
      q.processAllAvailable()
      in.addData(msg("hello", "k3", "carol", 2))
      q.processAllAvailable()
      q.stop()

      assert(collected.toSet == Set(
        ("k1", "Hello alice"), ("k2", "Hello bob"), ("k3", "Hello carol")))
    }
  }

  test("multi-topic fan-in with per-topic dispatch (KQ-12 + processor dispatch)") {
    withTempDir("graft_fanin_ckpt") { ckpt =>
      // the reference's multi-topic example + topic dispatch
      // (examples/multiple_input_topics_example.go, topic_processor_test.go:84-92)
      val tp = new TopicProcessor(
        TopicProcessorConfig(
          name = s"fanin-${System.nanoTime()}",
          inputTopics = Seq("t1", "t2"), checkpointDir = ckpt.toString),
        in => {
          import in.sparkSession.implicits._
          in.map { m =>
            val tag = if (m.topic == "t1") "one" else "two"
            OutMessage("out", m.key, s"$tag:${new String(m.value, UTF_8)}".getBytes(UTF_8))
          }
        })
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      val in = MemoryStream[Message]
      val q = tp.runWith(in.toDS()) { (batch, _) =>
        seen ++= batch.collect().map(r => new String(r.getAs[Array[Byte]]("value"), UTF_8))
      }
      in.addData(msg("t1", "a", "x", 0), msg("t2", "b", "y", 0))
      q.processAllAvailable()
      q.stop()
      assert(seen.toSet == Set("one:x", "two:y"))
    }
  }

  test("configured metrics provider receives counts from the running topology") {
    withTempDir("graft_metrics_ckpt") { ckpt =>
      val prov = new graft.metrics.InProcessMetricsProvider("tp-metrics-test")
      val tp = new TopicProcessor(
        TopicProcessorConfig(
          name = s"metrics-${System.nanoTime()}",
          inputTopics = Seq("hello"),
          metricsProvider = prov, checkpointDir = ckpt.toString),
        in => {
          import in.sparkSession.implicits._
          in.map(m => OutMessage("world", m.key, m.value))
        })
      val in = MemoryStream[Message]
      val q = tp.runWith(in.toDS()) { (batch, _) => batch.collect(); () }
      in.addData(msg("hello", "k", "v", 0), msg("hello", "k2", "v2", 1))
      q.processAllAvailable()
      q.stop(); q.awaitTermination()
      spark.streams.removeListener(tp.listener)
      // listener events are async; totals land after the progress event drains
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(org.scalatest.time.Span(10,
          org.scalatest.time.Seconds))) {
        assert(tp.listener.totalIncoming >= 2)
      }
      val text = prov.renderPrometheusText()
      assert(text.contains("incoming_message_count"))
      assert(text.contains("""job="tp-metrics-test""""))
    }
  }

  test("per-processor listener counts only its own topology's progress (regression)") {
    withTempDir("graft_scoped_ckpt") { ckpt =>
      // in-process counters must work with the DEFAULT (noop) provider, and
      // a sibling query in the session must not inflate them
      val tp = new TopicProcessor(
        TopicProcessorConfig(name = s"scoped-${System.nanoTime()}", inputTopics = Seq("hello"),
          checkpointDir = ckpt.toString),
        in => { import in.sparkSession.implicits._; in.map(m => OutMessage("o", m.key, m.value)) })
      val in = MemoryStream[Message]
      val q = tp.runWith(in.toDS()) { (batch, _) => batch.collect(); () }
      // sibling query with many more rows
      val sibling = MemoryStream[String]
      val sq = sibling.toDS().writeStream.format("memory")
        .queryName(s"sibling_${System.nanoTime()}").start()
      sibling.addData((1 to 50).map(_.toString): _*)
      in.addData(msg("hello", "k", "v", 0), msg("hello", "k2", "v2", 1))
      q.processAllAvailable(); sq.processAllAvailable()
      q.stop(); sq.stop()
      spark.streams.removeListener(tp.listener)
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(org.scalatest.time.Span(10,
          org.scalatest.time.Seconds))) {
        assert(tp.listener.totalIncoming >= 2, "default-provider counters must still work")
      }
      assert(tp.listener.totalIncoming < 50, "sibling query's 50 rows must not be absorbed")
    }
  }

  test("outgoing count through runWith equals the rows a foreachBatch sink received") {
    withTempDir("graft_wc_out_ckpt") { ckpt =>
      // kasper's outgoing_message_count: the foreachBatch sink reports -1
      // output rows, so the count comes from the observation on the
      // transform's output — and must not cost a job per batch
      val lines = Seq(Seq("a b a", "c"), Seq("b d", "e e a"), Seq("f"))
      def feed(in: MemoryStream[Message],
               q: org.apache.spark.sql.streaming.StreamingQuery): Double = {
        var off = 0L
        lines.foreach { batch =>
          in.addData(batch.map { v => off += 1; msg("words", "k", v, off) }: _*)
          q.processAllAvailable()
        }
        q.stop(); q.awaitTermination()
        // no-data batches run no jobs; divide by the batches that ran
        jobsInGroup(q.runId.toString).size.toDouble / (q.lastProgress.batchId + 1)
      }
      val received = new java.util.concurrent.atomic.AtomicLong
      val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
        (batch, _) => received.addAndGet(batch.collect().length.toLong)

      val tp = new TopicProcessor(
        TopicProcessorConfig(name = s"wc-out-${System.nanoTime()}",
          inputTopics = Seq("words"), batchWait = "0 seconds",
          checkpointDir = ckpt.toString),
        graft.examples.Examples.wordCount)
      val in = MemoryStream[Message]
      val observedJobs = feed(in, tp.runWith(in.toDS())(sink))
      spark.streams.removeListener(tp.listener)
      // updated words per batch: {a,b,c} + {b,d,e,a} + {f}
      assert(received.get == 8)
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(org.scalatest.time.Span(10,
          org.scalatest.time.Seconds))) {
        assert(tp.listener.totalOutgoing == received.get)
      }

      // the same topology wired as runWith was before the observation
      val plainJobs = withTempDir("graft-wc-plain") { plainCkpt =>
        val in2 = MemoryStream[Message]
        val plain = graft.examples.Examples.wordCount(in2.toDS()).toDF().writeStream
          .option("checkpointLocation", plainCkpt.toString)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
          .foreachBatch(sink).start()
        feed(in2, plain)
      }
      assert(plainJobs > 0)
      assert(observedJobs <= plainJobs,
        s"jobs per batch rose with the observation: $observedJobs vs $plainJobs")
    }
  }

  test("checkpoint directory records committed epochs (offset-commit analog)") {
    withTempDir("graft_ckpt_ckpt") { ckpt =>
      val name = s"ckpt-${System.nanoTime()}"
      val tp = new TopicProcessor(
        TopicProcessorConfig(name = name, inputTopics = Seq("hello"),
          checkpointDir = ckpt.toString),
        in => {
          import in.sparkSession.implicits._
          in.map(m => OutMessage("out", m.key, m.value))
        })
      val in = MemoryStream[Message]
      val q = tp.runWith(in.toDS()) { (_, _) => () }
      in.addData(msg("hello", "k", "v", 0))
      q.processAllAvailable()
      q.stop()
      assert(new java.io.File(s"${tp.config.checkpoint}/commits").list().nonEmpty)
      // without checkpointDir the location derives from the group id
      assert(tp.config.copy(checkpointDir = "").checkpoint ==
        s"${sys.props("java.io.tmpdir")}/graft-checkpoints/${tp.config.groupId}")
    }
  }
}
