package graft.core

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The harness tables' schema cache: a single-file table's schema is
  * inferred once per file identity (path, length, mtime) and inference
  * confs, so later `Tables` builds start no Spark job, and a rewritten
  * file or a directory is inferred again.
  */
class TablesSpec extends SparkSpec {

  private def withTempDir(body: Path => Unit): Unit = {
    val d = Files.createTempDirectory("graft-tables")
    try body(d) finally Graft.removeRecursively(d)
  }

  /** Write one parquet file directly (no Spark job, no part directory). */
  private def writeParquet(file: Path, schema: String, rows: Seq[Seq[(String, Any)]]): Unit = {
    val mt = MessageTypeParser.parseMessageType(schema)
    val groups = new SimpleGroupFactory(mt)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withType(mt).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.foreach {
        case (k, v: Long) => g.append(k, v)
        case (k, v: Int) => g.append(k, v)
        case (k, v: Double) => g.append(k, v)
        case (k, v: String) => g.append(k, v)
        case (k, v) => throw new IllegalArgumentException(s"$k: unsupported $v")
      }
      w.write(g)
    } finally w.close()
  }

  test("a cached schema builds lineitem, q01 and q07 without starting a Spark job") {
    def build(): Unit = {
      Tables(spark, sfDir).lineitem
      graft.queries.Queries.q01_scan(spark, sfDir)
      graft.queries.Queries.q07_join(spark, sfDir)
      ()
    }
    // q01's events read sets nanosAsLong session-wide, and that conf is
    // part of the key: lineitem, read before it, is cached under both
    build(); build()
    assert(jobsDuring(build()) == 0)
  }

  test("a file rewritten at the same path is read with its new schema") {
    withTempDir { d =>
      val f = d.resolve("t.parquet")
      writeParquet(f, "message t { required int64 id; required binary a (STRING); }",
        Seq(Seq("id" -> 1L, "a" -> "x")))
      val v1 = Tables.read(spark, f.toString)
      assert(v1.schema.fieldNames.toSeq == Seq("id", "a"))
      assert(v1.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "x")))
      assert(jobsDuring(Tables.read(spark, f.toString)) == 0, "second read must hit the cache")

      writeParquet(f, "message t { required int64 id; required double b; required int32 c; }",
        Seq(Seq("id" -> 2L, "b" -> 0.5, "c" -> 7), Seq("id" -> 3L, "b" -> 1.5, "c" -> 8)))
      var v2: DataFrame = null
      assert(jobsDuring { v2 = Tables.read(spark, f.toString) } >= 1,
        "a rewritten file must be inferred again")
      assert(v2.schema.fieldNames.toSeq == Seq("id", "b", "c"))
      assert(v2.orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq ==
        Seq((2L, 0.5, 7), (3L, 1.5, 8)))
    }
  }

  test("a directory table is inferred on every read, never cached") {
    withTempDir { d =>
      spark.range(3).toDF("r_regionkey").write.parquet(s"$d/region.parquet")
      for (_ <- 1 to 2)
        assert(jobsDuring { Tables(spark, d.toString).region; () } >= 1)
      assert(Tables(spark, d.toString).region.count() == 3)
    }
  }

  test("events reads identically with and without a cached schema (micros and nanos ts)") {
    /** The read before the cache: plain inference plus the same ts adaptation. */
    def uncached(dir: Path): DataFrame = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/events.parquet")
      if (raw.schema("ts").dataType == LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw
    }
    withTempDir { micros =>
      withTempDir { nanos =>
        // fresh paths, so the first Tables read below is a miss
        Files.copy(Paths.get(s"$sfDir/events.parquet"), micros.resolve("events.parquet"))
        writeParquet(nanos.resolve("events.parquet"),
          "message events { required int64 event_id; " +
            "required int64 ts (TIMESTAMP(NANOS,false)); required double value; }",
          Seq(Seq("event_id" -> 1L, "ts" -> 1700000000123456789L, "value" -> 1.5),
            Seq("event_id" -> 2L, "ts" -> 1700000001000000999L, "value" -> -2.0)))
        for (dir <- Seq(micros, nanos)) {
          val expected = uncached(dir)
          val want = expected.orderBy("event_id").collect().toSeq
          var cold: DataFrame = null
          assert(jobsDuring { cold = Tables(spark, dir.toString).events } >= 1,
            s"$dir: first read must infer")
          var warm: DataFrame = null
          assert(jobsDuring { warm = Tables(spark, dir.toString).events } == 0,
            s"$dir: second read must hit the cache")
          for (df <- Seq(cold, warm)) {
            assert(df.schema == expected.schema)
            assert(df.orderBy("event_id").collect().toSeq == want)
          }
        }
        val ts = Tables(spark, nanos.toString).events.orderBy("event_id")
        assert(ts.schema("ts").dataType == TimestampType)
        assert(ts.selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq ==
          Seq(1700000000123456L, 1700000001000000L))
      }
    }
  }
}
