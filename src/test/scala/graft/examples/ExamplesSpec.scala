package graft.examples

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import graft.streaming.Message
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class ExamplesSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def msg(v: String, off: Long) =
    Message("words", 0, off, Array[Byte](), v.getBytes(UTF_8),
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))

  test("word-count topology: running counts across batches like the reference") {
    withTempDir("graft_wc_ckpt") { ckpt =>
      val tp = Examples.wordCountTopology(s"wc-${System.nanoTime()}", ckpt.toString)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val in = MemoryStream[Message]
      val q = tp.runWith(in.toDS()) { (batch, _) =>
        out ++= batch.collect().map(r =>
          (new String(r.getAs[Array[Byte]]("key"), UTF_8),
            new String(r.getAs[Array[Byte]]("value"), UTF_8)))
      }
      in.addData(msg("hello world hello", 0)); q.processAllAvailable()
      in.addData(msg("world of words", 1)); q.processAllAvailable()
      q.stop()
      // final running count per word (reference: ASCII int store values)
      val last = out.groupBy(_._1).map { case (k, vs) => k -> vs.last._2.toLong }
      assert(last == Map("hello" -> 2L, "world" -> 2L, "of" -> 1L, "words" -> 1L))
      assert(out.contains(("hello", "2")), "counts emitted as ASCII ints like the reference")
    }
  }

  test("multi-topic topology preserves message provenance like the reference printf") {
    withTempDir("graft_mt_ckpt") { ckpt =>
      val tp = Examples.multiTopicTopology(s"mt-${System.nanoTime()}", ckpt.toString)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val in = MemoryStream[Message]
      val q = tp.runWith(in.toDS()) { (batch, _) =>
        out ++= batch.collect().map(r => new String(r.getAs[Array[Byte]]("value"), UTF_8))
      }
      in.addData(
        Message("hello", 0, 7, "k1".getBytes(UTF_8), "v1".getBytes(UTF_8),
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        Message("world", 1, 3, "k2".getBytes(UTF_8), "v2".getBytes(UTF_8),
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      q.processAllAvailable()
      q.stop()
      assert(out.toSet == Set(
        "Got message: key='k1', value='v1' at offset='7' (topic='hello', partition='0')",
        "Got message: key='k2', value='v2' at offset='3' (topic='world', partition='1')"))
    }
  }

  test("topology runs from a streaming file source (beyond MemoryStream)") {
    withTempDir("graft_filesrc") { tmp =>
      val dir = tmp.toString
      // seed one file so the schema exists before the stream starts
      Seq(msg("alpha beta", 0)).toDS().write.parquet(s"$dir/in")
      val src = spark.readStream
        .schema(Seq.empty[Message].toDS().schema)
        .parquet(s"$dir/in").as[Message]
      val tp = Examples.wordCountTopology(s"wcf-${System.nanoTime()}", s"$dir/ckpt")
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val q = tp.runWith(src) { (batch, _) =>
        out ++= batch.collect().map(r => new String(r.getAs[Array[Byte]]("key"), UTF_8))
      }
      q.processAllAvailable()
      Seq(msg("beta gamma", 1)).toDS().write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      q.stop()
      assert(out.toSet == Set("alpha", "beta", "gamma"))
      assert(out.count(_ == "beta") == 2, "beta counted in both files")
    }
  }
}
