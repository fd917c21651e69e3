package graft.streaming

import graft.SparkSpec
import graft.text.TextSearch
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private var n = 0
  private def nextName(): String = { n += 1; s"graft_stream_$n" }

  test("runningCount accumulates across micro-batches (KQ-6 streaming)") {
    val in = MemoryStream[String]
    val q = StatefulOps.runningCount(in.toDS())
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Update()).start()
    in.addData("a", "b", "a"); q.processAllAvailable()
    in.addData("a", "c"); q.processAllAvailable()
    val m = spark.table("wc").as[(String, Long)].collect()
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    q.stop()
    assert(m == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
  }

  test("stateful topology resumes from checkpoint: state survives restart, committed batches stay committed") {
    // the kasper recovery story (RunLoop restart after Close/crash picks
    // up from the committed offsets with the store intact), on Spark's
    // checkpoint: a stateful word-count stopped and RESTARTED from the
    // same checkpoint must (1) keep its running counts — state recovery
    // — and (2) not re-emit batches whose offsets were committed —
    // produce-before-commit. foreachBatch sink: memory-format queries
    // refuse checkpoint recovery by design.
    import StatefulOps.KeyCount
    withTempDir("graft_restart") { tmp =>
      val ckpt = tmp.toString
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
      val in = MemoryStream[String]
      def start() = StatefulOps.runningCount(in.toDS())
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[KeyCount], bid: Long) =>
          val rows = df.collect()
          buf.synchronized { rows.foreach(k => buf += ((bid, k.key, k.count))) }
          ()
        }.start()
      val q1 = start()
      in.addData("a", "a", "b"); q1.processAllAvailable(); q1.stop()
      val afterFirst = buf.toList
      assert(afterFirst.map { case (_, k, c) => (k, c) }.toSet ==
        Set(("a", 2L), ("b", 1L)))
      val q2 = start()
      in.addData("a", "b", "b"); q2.processAllAvailable(); q2.stop()
      val newRows = buf.toList.drop(afterFirst.size)
      assert(newRows.map { case (_, k, c) => (k, c) }.toSet ==
        Set(("a", 3L), ("b", 3L)),
        s"restart lost state or re-emitted committed data: $newRows")
      assert(newRows.map(_._1).forall(bid => bid > afterFirst.map(_._1).max),
        "batch ids must continue past the committed epoch after restart")
    }
  }

  test("latestByKey keeps the newest value per key across batches (KQ-11 streaming)") {
    val in = MemoryStream[StatefulOps.Keyed[String]]
    val q = StatefulOps.latestByKey(in.toDS())
      .writeStream.format("memory").queryName("lww").outputMode(OutputMode.Update()).start()
    in.addData(StatefulOps.Keyed("u1", 10L, "old"), StatefulOps.Keyed("u2", 5L, "x"))
    q.processAllAvailable()
    in.addData(StatefulOps.Keyed("u1", 20L, "new"), StatefulOps.Keyed("u1", 15L, "stale"))
    q.processAllAvailable()
    val rows = spark.table("lww").as[StatefulOps.Keyed[String]].collect()
    q.stop()
    val last = rows.groupBy(_.key).map { case (k, vs) => k -> vs.maxBy(_.ts).value }
    assert(last == Map("u1" -> "new", "u2" -> "x"))
  }

  test("budgetGate admits greedily per domain across batches, never over budget") {
    import StatefulOps.{BudgetDoc, Admitted}
    val in = MemoryStream[BudgetDoc]
    val q = StatefulOps.budgetGate(in.toDS(), budget = 100L)
      .writeStream.format("memory").queryName(nextName()).outputMode(OutputMode.Update()).start()
    val name = q.name
    // batch 1: a: 60 in (cum 60), 50 skipped (110), 30 in (90); b: 90 in
    in.addData(BudgetDoc("a", 1, 60), BudgetDoc("a", 2, 50),
      BudgetDoc("a", 3, 30), BudgetDoc("b", 5, 90))
    q.processAllAvailable()
    // batch 2: a: 20 skipped (110), 10 in (exactly 100); b: 20 skipped
    in.addData(BudgetDoc("a", 4, 20), BudgetDoc("a", 6, 10), BudgetDoc("b", 7, 20))
    q.processAllAvailable()
    val rows = spark.table(name).as[Admitted].collect()
    q.stop()
    assert(rows.map(r => r.id -> r.cumTokens).toMap ==
      Map(1L -> 60L, 3L -> 90L, 5L -> 90L, 6L -> 100L))
    assert(rows.groupBy(_.domain).values.forall(_.map(_.tokens).sum <= 100L))
  }

  test("scd2Gate converges to the batch scd2 output under an upsert sink") {
    import StatefulOps.{Scd2Event, Scd2Row}
    val in = MemoryStream[Scd2Event]
    val q = StatefulOps.scd2Gate(in.toDS())
      .writeStream.format("memory").queryName(nextName()).outputMode(OutputMode.Update()).start()
    val name = q.name
    // batch 1: k1 a@10, a@20 (collapse), b@30; k2 x@5
    in.addData(Scd2Event(1, 10, "a"), Scd2Event(1, 20, "a"),
      Scd2Event(1, 30, "b"), Scd2Event(2, 5, "x"))
    q.processAllAvailable()
    // batch 2: k1 returns to a@40 (closes b); k2 stays x@50 (collapse)
    in.addData(Scd2Event(1, 40, "a"), Scd2Event(2, 50, "x"))
    q.processAllAvailable()
    val rows = spark.table(name).as[Scd2Row].collect()
    q.stop()
    // upsert semantics: last emission per (key, validFrom) wins
    val upserted = rows.zipWithIndex
      .groupBy { case (r, _) => (r.key, r.validFrom) }
      .map { case (_, vs) => vs.maxBy(_._2)._1 }.toSet
    val df = Seq((1L, 10L, "a"), (1L, 20L, "a"), (1L, 30L, "b"),
      (2L, 5L, "x"), (1L, 40L, "a"), (2L, 50L, "x")).toDF("key", "ts", "attr")
    val batch = graft.ops.RelOps.scd2(df.withColumn("eid", $"ts"), "key", "ts", "eid", "attr")
      .select("key", "attr", "valid_from", "valid_to")
      .as[(Long, String, Long, Option[Long])].collect()
      .map { case (k, a, f, t) => Scd2Row(k, a, f, t) }.toSet
    assert(upserted == batch)
  }

  test("transitionGate emits cross-batch bigrams; counts converge to the batch matrix") {
    import StatefulOps.{TransEvent, Transition}
    val in = MemoryStream[TransEvent]
    val q = StatefulOps.transitionGate(in.toDS())
      .writeStream.format("memory").queryName(nextName())
      .outputMode(OutputMode.Append()).start()
    val name = q.name
    // batch 1 (out of ts order inside the batch): u1 a→b; u2 a alone
    in.addData(TransEvent(1, "b", 20L, 2), TransEvent(1, "a", 10L, 1),
      TransEvent(2, "a", 5L, 3))
    q.processAllAvailable()
    // batch 2: u1 b→a (boundary bigram from stored state); u2 a→c
    in.addData(TransEvent(1, "a", 30L, 4), TransEvent(2, "c", 15L, 5))
    q.processAllAvailable()
    val got = spark.table(name).as[Transition].collect()
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    q.stop()
    val events = Seq((1L, "a", 10L, 1L), (1L, "b", 20L, 2L), (2L, "a", 5L, 3L),
      (1L, "a", 30L, 4L), (2L, "c", 15L, 5L))
      .map { case (u, e, t, i) =>
        (u, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(t)), i, e) }
      .toDF("user_id", "ts", "event_id", "event_type")
    val batch = graft.ops.RelOps.transitionCounts(events,
        "user_id", "ts", "event_id", "event_type")
      .as[(String, String, Long, Double)].collect()
      .map(r => Transition(r._1, r._2) -> r._3).toMap
    assert(got == batch,
      s"streaming transition counts $got must equal batch $batch")
  }

  test("funnelGate tracks per-user stages across batches, equals the batch funnel") {
    import StatefulOps.{FunnelEvent, FunnelProgress}
    val steps = Seq("view", "click", "purchase")
    val in = MemoryStream[FunnelEvent]
    val q = StatefulOps.funnelGate(in.toDS(), steps, within = 100L)
      .writeStream.format("memory").queryName(nextName()).outputMode(OutputMode.Update()).start()
    val name = q.name
    // batch 1 (deliberately out of ts order within the batch): u1 views
    // then clicks; u2 clicks BEFORE viewing; u3 views
    in.addData(FunnelEvent(1, "click", 150), FunnelEvent(1, "view", 100),
      FunnelEvent(2, "click", 90), FunnelEvent(2, "view", 100),
      FunnelEvent(3, "view", 100))
    q.processAllAvailable()
    // batch 2: u1 purchases in window; u3 clicks too late; u2 clicks in window
    in.addData(FunnelEvent(1, "purchase", 200), FunnelEvent(3, "click", 201),
      FunnelEvent(2, "click", 120))
    q.processAllAvailable()
    val rows = spark.table(name).as[FunnelProgress].collect()
    q.stop()
    val finalStage = rows.groupBy(_.uid).map { case (u, vs) => u -> vs.map(_.stage).max }
    assert(finalStage == Map(1L -> 3, 2L -> 2, 3L -> 1))
    // the same events through the batch funnel give the same drop-off counts
    val allEvents = Seq(
      (1L, "click", 150L), (1L, "view", 100L), (2L, "click", 90L),
      (2L, "view", 100L), (3L, "view", 100L), (1L, "purchase", 200L),
      (3L, "click", 201L), (2L, "click", 120L)).toDF("uid", "etype", "ts")
    val batch = graft.ops.RelOps.funnel(
        allEvents, "uid", "etype", "ts", steps, lit(100L))
      .orderBy("step").as[(Long, String, Long)].collect().toSeq
    assert(batch == Seq((1L, "view", 3L), (2L, "click", 2L), (3L, "purchase", 1L)))
    // cross-check: streaming stage counts imply the same funnel table
    val streamCounts = (1 to 3).map(s => finalStage.values.count(_ >= s).toLong)
    assert(streamCounts == batch.map(_._3))
  }

  test("fictionsJoin: emit-suppression + re-emit on character arrival (KQ-8)") {
    val heroA = Character("c1", "Hero A", "http://w/a")
    val heroB = Character("c2", "Hero B", "http://w/b")
    val heroC = Character("c3", "Hero C", "http://w/c")
    val duo = Fiction("f1", "movie", "The Duo", Seq("c1", "c2"))
    val solo = Fiction("f2", "book", "Solo", Seq("c3"))
    val ghost = Fiction("f3", "movie", "Ghost", Seq("c1", "c9")) // c9 never arrives

    val in = MemoryStream[JoinInput]
    val q = StatefulOps.fictionsJoin(in.toDS())
      .writeStream.format("memory").queryName(nextName()).outputMode(OutputMode.Update()).start()
    val name = q.name

    // batch 1: fiction before its characters → suppressed
    in.addData(JoinInput(0, None, Some(duo)), JoinInput(0, Some(heroA), None))
    q.processAllAvailable()
    assert(spark.table(name).as[FictionAndCharacters].collect().isEmpty)

    // batch 2: second character arrives → duo re-emitted complete
    in.addData(JoinInput(0, Some(heroB), None), JoinInput(0, None, Some(solo)),
      JoinInput(0, None, Some(ghost)))
    q.processAllAvailable()
    val out = spark.table(name).as[FictionAndCharacters].collect()

    // batch 3: character update re-emits affected fictions with new data
    in.addData(JoinInput(0, Some(heroA.copy(name = "Hero A2")), None))
    q.processAllAvailable()
    val out3 = spark.table(name).as[FictionAndCharacters].collect()
    q.stop()

    assert(out.map(_.id).toSet == Set("f1"), "only complete fictions emit — solo incomplete? ")
    val duoOut = out.find(_.id == "f1").get
    assert(duoOut.characters == Seq(heroA, heroB), "characters ordered by characterIds")
    assert(!out.exists(_.id == "f3"), "fiction with missing character is suppressed")
    val reEmitted = out3.filter(_.id == "f1").map(_.characters.head.name)
    assert(reEmitted.contains("Hero A2"), "character update must re-emit affected fictions")
  }

  test("fictionsJoin emits fiction whose characters all exist at arrival") {
    val in = MemoryStream[JoinInput]
    val q = StatefulOps.fictionsJoin(in.toDS())
      .writeStream.format("memory").queryName(nextName()).outputMode(OutputMode.Update()).start()
    in.addData(JoinInput(0, Some(Character("c3", "C", "u")), None))
    q.processAllAvailable()
    in.addData(JoinInput(0, None, Some(Fiction("f2", "book", "Solo", Seq("c3")))))
    q.processAllAvailable()
    val got = spark.table(q.name).as[FictionAndCharacters].collect()
    q.stop()
    assert(got.map(_.id).toSeq == Seq("f2"))
  }

  test("fictionsJoin scales horizontally: per-partition state, co-located entities join independently") {
    // kasper's co-partitioning contract: each fiction shares a partition
    // with all its characters; state is then bounded per partition
    val in = MemoryStream[JoinInput]
    val q = StatefulOps.fictionsJoin(in.toDS())
      .writeStream.format("memory").queryName(nextName()).outputMode(OutputMode.Update()).start()
    val perPartition = (0 until 4).flatMap { p =>
      Seq(
        JoinInput(p, Some(Character(s"c$p", s"Hero $p", s"http://w/$p")), None),
        JoinInput(p, None, Some(Fiction(s"f$p", "movie", s"Film $p", Seq(s"c$p")))))
    }
    in.addData(perPartition)
    q.processAllAvailable()
    val got = spark.table(q.name).as[FictionAndCharacters].collect()
    q.stop()
    assert(got.map(_.id).toSet == (0 until 4).map(p => s"f$p").toSet)
    assert(got.forall(f => f.characters.map(_.id) == Seq(s"c${f.id.drop(1)}")))
    // cross-partition references do NOT resolve — the documented contract
    val in2 = MemoryStream[JoinInput]
    val q2 = StatefulOps.fictionsJoin(in2.toDS())
      .writeStream.format("memory").queryName(nextName()).outputMode(OutputMode.Update()).start()
    in2.addData(
      JoinInput(0, Some(Character("cx", "X", "u")), None),
      JoinInput(1, None, Some(Fiction("fx", "movie", "X", Seq("cx")))))
    q2.processAllAvailable()
    val got2 = spark.table(q2.name).count()
    q2.stop()
    assert(got2 == 0, "fiction on partition 1 cannot see a character stored on partition 0")
  }

  test("tumbling window + watermark streaming smoke (KQ-23/24)") {
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = in.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"))
      .agg(count("*").as("n"))
    val q = agg.writeStream.format("memory").queryName(nextName())
      .outputMode(OutputMode.Update()).start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    in.addData((t(0), 1L), (t(1), 2L), (t(6), 3L))
    q.processAllAvailable()
    val rows = spark.table(q.name).select("n").as[Long].collect()
    q.stop()
    assert(rows.sorted.toSeq == Seq(1L, 2L))
  }

  test("hopping window streaming: each event lands in size/slide windows (q121 form)") {
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = in.toDF().toDF("ts", "v")
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "20 minutes", "10 minutes"))
      .agg(count("*").as("n"))
    val q = agg.writeStream.format("memory").queryName(nextName())
      .outputMode(OutputMode.Complete()).start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    in.addData((t(5), 1L), (t(15), 2L))
    q.processAllAvailable()
    val rows = spark.table(q.name)
      .select($"window.start".cast("string"), $"n").as[(String, Long)].collect().toMap
    q.stop()
    // 10:05 → [09:50,10:10) + [10:00,10:20); 10:15 → [10:00,10:20) + [10:10,10:30)
    assert(rows == Map(
      "2024-01-01 09:50:00" -> 1L,
      "2024-01-01 10:00:00" -> 2L,
      "2024-01-01 10:10:00" -> 1L))
  }

  test("session window streaming smoke (KQ-25)") {
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val agg = in.toDF().toDF("ts", "user")
      .withWatermark("ts", "1 hour")
      .groupBy(session_window($"ts", "30 minutes"), $"user")
      .agg(count("*").as("n"))
    val q = agg.writeStream.format("memory").queryName(nextName())
      .outputMode(OutputMode.Complete()).start()
    def t(h: Int, min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")
    in.addData((t(10, 0), "u"), (t(10, 10), "u"), (t(12, 0), "u"))
    q.processAllAvailable()
    val rows = spark.table(q.name).select("n").as[Long].collect()
    q.stop()
    assert(rows.sorted.toSeq == Seq(1L, 2L), "two sessions: gap > 30min splits")
  }

  test("streaming session attribution: first-touch tag + conversion flag per session window") {
    // q142's attribution computed DECLARATIVELY on a stream: session
    // windows + min_by first event + conditional conversion sums —
    // no custom state, the whole rail rides native streaming aggregation
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, String, Double)]
    val agg = in.toDF().toDF("ts", "user_id", "event_id", "etype", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(min_by($"etype", struct($"ts", $"event_id")).as("first_touch"),
        sum(when($"etype" === "purchase", 1L).otherwise(0L)).as("n_purch"),
        sum(when($"etype" === "purchase", $"value")).as("conv_value"))
    val q = agg.writeStream.format("memory").queryName(nextName())
      .outputMode(OutputMode.Complete()).start()
    def t(h: Int, min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")
    in.addData(
      (t(10, 0), 1L, 1L, "view", 0.0), (t(10, 10), 1L, 2L, "purchase", 10.0),
      (t(11, 0), 1L, 3L, "click", 0.0),   // > 30 min gap → session 2
      (t(9, 0), 2L, 4L, "click", 0.0), (t(9, 5), 2L, 5L, "purchase", 7.0))
    q.processAllAvailable()
    val rows = spark.table(q.name)
      .select($"user_id", $"first_touch", $"n_purch", $"conv_value")
      .as[(Long, String, Long, Option[Double])].collect().toSet
    q.stop()
    assert(rows == Set(
      (1L, "view", 1L, Some(10.0)), (1L, "click", 0L, None),
      (2L, "click", 1L, Some(7.0))), s"got $rows")
  }

  test("streaming session paths: opening sequences assemble declaratively per session window") {
    // RelOps.sessionPaths' discovery rail on a stream: session windows +
    // order-deterministic prefix assembly (array_sort over (ts, id, type)
    // structs — collect_list order never leaks) — no custom state
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, String)]
    val agg = in.toDF().toDF("ts", "user_id", "event_id", "etype")
      .withWatermark("ts", "1 hour")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(array_sort(collect_list(struct($"ts", $"event_id", $"etype"))).as("evs"))
      .select($"user_id",
        concat_ws(">", transform(slice($"evs", 1, 3), e => e("etype"))).as("path"))
    val q = agg.writeStream.format("memory").queryName(nextName())
      .outputMode(OutputMode.Complete()).start()
    def t(h: Int, min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")
    in.addData( // deliberately out of event-time order within the batch
      (t(10, 10), 1L, 3L, "buy"), (t(10, 0), 1L, 1L, "view"),
      (t(10, 5), 1L, 2L, "click"), (t(10, 15), 1L, 4L, "extra"),
      (t(12, 0), 1L, 5L, "view"), (t(12, 1), 1L, 6L, "click"),
      (t(9, 0), 2L, 7L, "view"))
    q.processAllAvailable()
    val rows = spark.table(q.name).as[(Long, String)].collect().toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    q.stop()
    assert(rows == Map(
      (1L, "view>click>buy") -> 1, (1L, "view>click") -> 1,
      (2L, "view") -> 1), s"got $rows")
  }

  test("streaming index maintenance: foreachBatch appends keep full-probe search exact") {
    // the 100 TB ingest shape: a base index absorbs micro-batch appends
    // via IvfIndex.append (assign-only, no retrain); at FULL probe the
    // streamed index must search identically to a from-scratch rebuild
    // over the union (centroids differ, but full probe scans every cell)
    import graft.functions.VectorOps
    val e = graft.core.Tables(spark, sfDir).embeddings
      .select($"vec_id", $"embedding")
    var idx = VectorOps.IvfIndex.build(
      e.filter($"vec_id" < 100), "vec_id", "embedding", c = 4)
    val in = MemoryStream[(Long, Array[Float])]
    val q = in.toDS().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        idx = idx.append(batch, "vec_id", "embedding")
      }
      .start()
    def rows(lo: Long, hi: Long) = e.filter($"vec_id" >= lo && $"vec_id" < hi)
      .as[(Long, Array[Float])].collect().toSeq
    in.addData(rows(100, 120): _*); q.processAllAvailable()
    in.addData(rows(120, 140): _*); q.processAllAvailable()
    q.stop()
    assert(idx.size == 140)
    val probes = e.filter($"vec_id" < 3)
    val got = idx.search(probes, "vec_id", "embedding", k = 5, nprobe = 4)
      .select($"qid", $"id", $"cos").as[(Long, Long, Double)].collect().toSet
    val rebuilt = VectorOps.IvfIndex.build(
      e.filter($"vec_id" < 140), "vec_id", "embedding", c = 4)
    val want = rebuilt.search(probes, "vec_id", "embedding", k = 5, nprobe = 4)
      .select($"qid", $"id", $"cos").as[(Long, Long, Double)].collect().toSet
    idx.close(); rebuilt.close()
    assert(got == want, s"streamed-index search diverged:\n$got\nvs\n$want")
  }

  test("IvfMaintainer: streamed drift raises occupancy CV, the monitor reports it, rebalance restores it") {
    // crafted geometry: 40 base vectors split evenly over four axis
    // directions (ids 0–3 ARE the directions, so the four seed cells
    // are the four axes and occupancy starts uniform, CV ≈ 0); every
    // streamed vector points near (2, 1) — max-cosine against the
    // (1,0) axis — so the ingest piles into ONE cell and the per-batch
    // health log must show the CV climbing until the trigger fires an
    // in-loop rebalance that re-splits the hot cell
    import graft.functions.VectorOps
    val base = (0 until 40).map { i =>
      val scale = 1.0 + i * 0.001 // cosine-invariant
      val d = i % 4 match {
        case 0 => Seq(scale, 0.0); case 1 => Seq(0.0, scale)
        case 2 => Seq(-scale, 0.0); case _ => Seq(0.0, -scale)
      }
      (i.toLong, d)
    }.toDF("vec_id", "embedding")
    val m = new IvfMaintainer(
      VectorOps.IvfIndex.build(base, "vec_id", "embedding", c = 4),
      "vec_id", "embedding", cvTrigger = 0.7, maxOverFactor = 1.5,
      trainCap = 0)
    val in = MemoryStream[(Long, Seq[Double])]
    val q = in.toDS().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        m.ingest(bid, batch)
      }
      .start()
    def driftRows(lo: Int, hi: Int) = (lo until hi).map(i =>
      (100L + i, Seq(2.0, 1.0 + 0.01 * i)))
    // counts after batch 1: (30,10,10,10) → CV ≈ 0.577 (visible, under
    // the 0.7 trigger); after batch 2: (50,10,10,10) → CV ≈ 0.866 →
    // the trigger fires and the 50-row cell re-splits
    in.addData(driftRows(0, 20): _*); q.processAllAvailable()
    in.addData(driftRows(20, 40): _*); q.processAllAvailable()
    q.stop()
    val log = m.occupancyLog(spark)
      .select($"batch", $"action", $"cv").as[(Long, String, Double)].collect()
    def cvOf(action: String, batch: Long): Double =
      log.collectFirst { case (b, a, cv) if a == action && b == batch => cv }.get
    assert(cvOf("built", -1L) < 0.1, s"base occupancy must start uniform: ${log.toSeq}")
    assert(cvOf("appended", 0L) > 0.4 && cvOf("appended", 0L) < 0.7,
      s"drift must be VISIBLE in the log before the trigger fires: ${log.toSeq}")
    assert(cvOf("appended", 1L) > 0.7, s"second batch must cross the trigger: ${log.toSeq}")
    assert(cvOf("rebalanced", 1L) < cvOf("appended", 1L),
      s"in-loop rebalance must restore occupancy: ${log.toSeq}")
    // the rebalanced index is still a partition of every ingested id
    assert(m.index.size == 80)
    assert(m.index.assigned.select("id").distinct().count() == 80)
    m.close()
  }

  test("IvfMaintainer resumes from a saved index: restarted loop equals the uninterrupted one") {
    // the maintenance-loop restart story (the tws gates' checkpoint
    // recovery, for the index loop): ingest batch 0, save the index,
    // 'restart' by loading into a fresh maintainer, ingest batch 1 —
    // the final index must equal the uninterrupted two-batch run's
    // (every lifecycle op is deterministic)
    import graft.functions.VectorOps
    def baseDf = (0 until 40).map { i =>
      val scale = 1.0 + i * 0.001
      val d = i % 4 match {
        case 0 => Seq(scale, 0.0); case 1 => Seq(0.0, scale)
        case 2 => Seq(-scale, 0.0); case _ => Seq(0.0, -scale)
      }
      (i.toLong, d)
    }.toDF("vec_id", "embedding")
    def driftRows(lo: Int, hi: Int) = (lo until hi).map(i =>
      (100L + i, Seq(2.0, 1.0 + 0.01 * i))).toDF("vec_id", "embedding")
    def run(m: IvfMaintainer, batches: Seq[(Long, org.apache.spark.sql.DataFrame)]): Unit =
      batches.foreach { case (bid, df) => m.ingest(bid, df) }

    // uninterrupted reference run
    val full = new IvfMaintainer(
      VectorOps.IvfIndex.build(baseDf, "vec_id", "embedding", c = 4),
      "vec_id", "embedding", cvTrigger = 0.7, maxOverFactor = 1.5, trainCap = 0)
    run(full, Seq(0L -> driftRows(0, 20), 1L -> driftRows(20, 40)))
    val want = full.index.assigned.select("cid", "id")
      .as[(Long, Long)].collect().toSet

    // interrupted run: batch 0, save, 'restart' from disk, batch 1
    val m1 = new IvfMaintainer(
      VectorOps.IvfIndex.build(baseDf, "vec_id", "embedding", c = 4),
      "vec_id", "embedding", cvTrigger = 0.7, maxOverFactor = 1.5, trainCap = 0)
    run(m1, Seq(0L -> driftRows(0, 20)))
    withTempDir("graft_ivf_resume") { tmp =>
      val dir = tmp.toString
      m1.index.save(dir)
      m1.close()
      val m2 = new IvfMaintainer(
        VectorOps.IvfIndex.load(spark, dir),
        "vec_id", "embedding", cvTrigger = 0.7, maxOverFactor = 1.5, trainCap = 0)
      run(m2, Seq(1L -> driftRows(20, 40)))
      val got = m2.index.assigned.select("cid", "id")
        .as[(Long, Long)].collect().toSet
      // the resumed run rebalanced on batch 1 exactly like the
      // uninterrupted one (same trigger arithmetic over the same state)
      assert(m2.occupancyLog(spark).filter($"action" === "rebalanced").count() == 1)
      assert(got == want,
        s"resumed index diverged from the uninterrupted run:\n$got\nvs\n$want")
      full.close(); m2.close()
    }
  }

  test("IvfPqMaintainer: quantized rung recommends a rebuild when streamed drift crosses the trigger") {
    // same crafted geometry as the IvfMaintainer spec — but the
    // IVF+PQ rung has no in-place rebalance (per-cell residual books
    // pin the cell boundaries), so the monitor's trigger action is a
    // RECOMMENDATION row, and the index keeps absorbing appends
    import graft.functions.VectorOps
    val base = (0 until 40).map { i =>
      val scale = 1.0 + i * 0.001
      val d = i % 4 match {
        case 0 => Seq(scale, 0.0); case 1 => Seq(0.0, scale)
        case 2 => Seq(-scale, 0.0); case _ => Seq(0.0, -scale)
      }
      (i.toLong, d)
    }.toDF("vec_id", "embedding")
    val m = new IvfPqMaintainer(
      VectorOps.IvfPqIndex.build(base, "vec_id", "embedding",
        c = 4, m = 2, k = 4),
      "vec_id", "embedding", cvTrigger = 0.7)
    val in = MemoryStream[(Long, Seq[Double])]
    val q = in.toDS().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        m.ingest(bid, batch)
      }
      .start()
    def driftRows(lo: Int, hi: Int) = (lo until hi).map(i =>
      (100L + i, Seq(2.0, 1.0 + 0.01 * i)))
    in.addData(driftRows(0, 20): _*); q.processAllAvailable()
    in.addData(driftRows(20, 40): _*); q.processAllAvailable()
    q.stop()
    val log = m.occupancyLog(spark)
      .select($"batch", $"action", $"cv").as[(Long, String, Double)].collect()
    def cvOf(action: String, batch: Long): Double =
      log.collectFirst { case (b, a, cv) if a == action && b == batch => cv }.get
    assert(cvOf("built", -1L) < 0.1, s"base occupancy must start uniform: ${log.toSeq}")
    assert(cvOf("appended", 1L) > cvOf("appended", 0L),
      s"drift must RISE across cycles in the log: ${log.toSeq}")
    assert(log.exists { case (b, a, _) => a == "rebuild_recommended" && b == 1L },
      s"the quantized rung must recommend a rebuild past the trigger: ${log.toSeq}")
    assert(!log.exists(_._2 == "rebalanced"),
      "the quantized rung must never claim an in-place rebalance")
    // the index kept absorbing the stream (codes are a partition of ids)
    assert(m.index.codes.select("id").distinct().count() == 80)
    m.close()
  }

  test("maintainer ingest is idempotent across restart: replayed batch skipped, watermark persisted") {
    // foreachBatch is at-least-once: after a failure + checkpoint
    // restart the last uncommitted micro-batch is RE-DELIVERED with its
    // original id. A maintainer resumed via save/load must skip it
    // (visible in the log) instead of tripping append's fresh-id
    // contract on rows it already ingested — then continue on fresh data
    import graft.functions.VectorOps
    def baseDf = (0 until 40).map { i =>
      val scale = 1.0 + i * 0.001
      val d = i % 4 match {
        case 0 => Seq(scale, 0.0); case 1 => Seq(0.0, scale)
        case 2 => Seq(-scale, 0.0); case _ => Seq(0.0, -scale)
      }
      (i.toLong, d)
    }.toDF("vec_id", "embedding")
    def rows(lo: Int, hi: Int) = (lo until hi).map(i =>
      (100L + i, Seq(2.0, 1.0 + 0.01 * i))).toDF("vec_id", "embedding")

    val m1 = new IvfMaintainer(
      VectorOps.IvfIndex.build(baseDf, "vec_id", "embedding", c = 4),
      "vec_id", "embedding")
    m1.ingest(0L, rows(0, 20))
    withTempDir("graft_ivf_replay") { tmp =>
      val dir = tmp.toString
      m1.save(dir)
      m1.close()
      val m2 = IvfMaintainer.load(spark, dir, "vec_id", "embedding")
      m2.ingest(0L, rows(0, 20)) // the at-least-once replay — must be a no-op
      m2.ingest(1L, rows(20, 40))
      val log = m2.occupancyLog(spark)
        .select($"batch", $"action", $"total").as[(Long, String, Long)].collect()
      assert(log.contains((0L, "replay_skipped", 60L)),
        s"replayed batch must be a telemetry-visible no-op: ${log.toSeq}")
      assert(m2.index.size == 80, "fresh batch after the replay must still ingest")
      assert(m2.index.assigned.select("id").distinct().count() == 80)
      m2.close()

      // same contract on the quantized rung, WITHOUT a session boundary
      // (the in-memory watermark path)
      val pq = new IvfPqMaintainer(
        VectorOps.IvfPqIndex.build(baseDf, "vec_id", "embedding", c = 4, m = 2, k = 4),
        "vec_id", "embedding")
      pq.ingest(0L, rows(0, 20))
      pq.ingest(0L, rows(0, 20)) // replay
      pq.ingest(1L, rows(20, 40))
      assert(pq.occupancyLog(spark).filter($"action" === "replay_skipped").count() == 1)
      assert(pq.index.codes.select("id").distinct().count() == 80)
      pq.close()

      // batch-id SEQUENCE RESET is NOT a replay: a loop resumed with a
      // NEW checkpoint dir restarts batch ids at 0 over genuinely fresh
      // data — the watermark alone would drop it; the id-overlap ground
      // truth must let it ingest
      // (dir holds m1's state: base 40 + batch 0's 20 rows, watermark 0)
      val m3 = IvfMaintainer.load(spark, dir, "vec_id", "embedding")
      m3.ingest(0L, rows(40, 50)) // id 0 <= watermark 0, but ids are fresh
      assert(m3.occupancyLog(spark).filter($"action" === "replay_skipped").count() == 0,
        "fresh data under a reset batch-id sequence must not be dropped")
      assert(m3.index.size == 70)
      m3.close()
    }
  }

  test("IvfPqMaintainer.rebuildFrom consumes the recommendation: drift -> rebuild -> CV restored, loop resumes via save/load") {
    // the full quantized-rung lifecycle the plain-IVF loop closes with
    // in-loop rebalance: streamed drift piles into one cell, the
    // monitor recommends, the scheduled job (here: the test) pays the
    // rebuild from the raw corpus it owns — occupancy CV must drop and
    // search must equal a fresh build over the same corpus; then the
    // rebuilt loop survives a save/load boundary and keeps ingesting
    import graft.functions.VectorOps
    // ids INTERLEAVE (base even, drift odd): build's seeds are the c
    // lowest ids, so a re-seeded rebuild must be able to see drift
    // members — an all-low-id base would hand every seed to the axes
    // (duplicated directions → dead cells) and no rebuild could split
    // the drifted region
    def baseDf = (0 until 40).map { i =>
      val scale = 1.0 + i * 0.001
      val d = i % 4 match {
        case 0 => Seq(scale, 0.0); case 1 => Seq(0.0, scale)
        case 2 => Seq(-scale, 0.0); case _ => Seq(0.0, -scale)
      }
      (2L * i, d)
    }.toDF("vec_id", "embedding")
    // drift = a WIDE fan around the (1,0) axis (±40°): every vector's
    // max-cosine cell is still the (1,0) one (within 45° of it), so the
    // trigger math matches the monitor spec — but unlike a point-mass
    // cluster the fan is genuinely re-partitionable, so a rebuild can
    // restore occupancy (no k-means can balance 40 identical vectors)
    def driftRows(lo: Int, hi: Int) = (lo until hi).map { i =>
      val th = math.toRadians(-40.0 + 2.0 * i)
      (2L * i + 1, Seq(2.0 * math.cos(th), 2.0 * math.sin(th)))
    }.toDF("vec_id", "embedding")
    val m = new IvfPqMaintainer(
      VectorOps.IvfPqIndex.build(baseDf, "vec_id", "embedding", c = 4, m = 2, k = 4),
      "vec_id", "embedding", cvTrigger = 0.7)
    m.ingest(0L, driftRows(0, 20))
    m.ingest(1L, driftRows(20, 40))
    // the raw corpus the scheduled job owns = base ∪ everything ingested.
    // Rebuild RE-SIZES to c=8 (the corpus doubled) with a few Lloyd
    // rounds: at the original c=4 re-seeding reproduces the same four
    // cells — re-sizing is the realistic scheduled-job action, and
    // exactly the lever append/rebalance cannot pull on this rung
    val raw = baseDf.unionAll(driftRows(0, 40))
    m.rebuildFrom(raw, c = 8, ivfIters = 4)
    val log = m.occupancyLog(spark)
      .select($"batch", $"action", $"cv").as[(Long, String, Double)].collect()
    def cvOf(action: String, batch: Long): Double =
      log.collectFirst { case (b, a, cv) if a == action && b == batch => cv }.get
    assert(log.exists { case (b, a, _) => a == "rebuild_recommended" && b == 1L },
      s"drift must recommend before the job acts: ${log.toSeq}")
    assert(cvOf("rebuilt", 1L) < cvOf("appended", 1L),
      s"the rebuild must restore occupancy uniformity: ${log.toSeq}")
    // the rebuilt index IS a fresh build over the owned corpus: same
    // deterministic construction → identical search results
    val fresh = VectorOps.IvfPqIndex.build(raw, "vec_id", "embedding",
      c = 8, m = 2, k = 4, ivfIters = 4)
    val probes = baseDf.filter($"vec_id" < 3)
    val got = m.index.search(probes, "vec_id", "embedding", kTop = 5, nprobe = 4)
      .collect().toSet
    val want = fresh.search(probes, "vec_id", "embedding", kTop = 5, nprobe = 4)
      .collect().toSet
    fresh.close()
    assert(got == want, s"rebuilt index search diverged:\n$got\nvs\n$want")
    // the loop resumes across a session boundary: save, load, ingest on
    withTempDir("graft_pq_rebuild") { tmp =>
      val dir = tmp.toString
      m.save(dir)
      m.close()
      val m2 = IvfPqMaintainer.load(spark, dir, raw.unionAll(driftRows(40, 50)),
        "vec_id", "embedding", cvTrigger = 0.7)
      m2.ingest(1L, driftRows(20, 40)) // the post-restart replay — skipped
      m2.ingest(2L, driftRows(40, 50))
      assert(m2.occupancyLog(spark).filter($"action" === "replay_skipped").count() == 1)
      assert(m2.index.codes.select("id").distinct().count() == 90)
      m2.close()
    }
  }

  test("at-least-once foreachBatch sink writes batches before commit (KQ-2 streaming)") {
    withTempDir("graft_sink_test") { tmp =>
      val dir = tmp.toString
      val in = MemoryStream[String]
      val counts = StatefulOps.runningCount(in.toDS()).toDF()
      val q = SinkOps.atLeastOnce(counts, s"$dir/ckpt", "1 second") { (batch, epoch) =>
        batch.write.mode("append").parquet(s"$dir/out")
      }.outputMode(OutputMode.Update()).start()
      in.addData("x", "y", "x")
      q.processAllAvailable()
      q.stop()
      val back = spark.read.parquet(s"$dir/out").as[(String, Long)].collect().toMap
      assert(back == Map("x" -> 2L, "y" -> 1L))
      assert(new java.io.File(s"$dir/ckpt/commits").list().nonEmpty,
        "checkpoint must record the committed epoch (kasper markOffsets analog)")
    }
  }

  test("IVF index absorbs a vector stream via foreachBatch append (ingest without retrain)") {
    import graft.functions.VectorOps
    val e = graft.core.Tables(spark, sfDir).embeddings
    val base = e.filter($"vec_id" < 100)
    var idx = VectorOps.IvfIndex.build(base, "vec_id", "embedding", c = 8)
    assert(idx.size == 100)
    val streamed = e.filter($"vec_id" >= 100 && $"vec_id" < 200)
      .select($"vec_id",
        org.apache.spark.sql.functions.transform($"embedding", _.cast("double")).as("emb"))
      .as[(Long, Seq[Double])].collect()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = in.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        idx = idx.append(b, "vec_id", "embedding")
      }
      .outputMode(OutputMode.Append()).start()
    in.addData(streamed.take(50).toSeq); q.processAllAvailable()
    in.addData(streamed.drop(50).toSeq); q.processAllAvailable()
    q.stop()
    assert(idx.size == 200, s"append lost rows: ${idx.size}")
    // full probe: streamed vectors are searchable, exact top-k over union
    val got = idx.search(e.filter($"vec_id" === 150), "vec_id", "embedding",
        k = 200, nprobe = 8)
      .select("id").as[Long].collect().toSet
    assert(got == ((0L until 200L).toSet - 150L),
      "full-probe search must see every built and streamed vector")
    idx.close()
  }

  test("DedupGroupMaintainer labels converge to the batch nearDupGroups result") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
      (4L, "completely different words nothing shared here at all today friends"),
      (5L, "another unrelated text with its own tokens and nothing else"))
    val in = MemoryStream[(Long, String)]
    val m = new DedupGroupMaintainer("text", "doc_id", threshold = 0.5)
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) => m.ingest(b) }
      .outputMode(OutputMode.Append()).start()
    // dup pairs cross batch boundaries: (1,2) discovered when 2 arrives,
    // 3 then bridges into the existing {1,2} group (relabel path)
    in.addData(docs(0), docs(3)); q.processAllAvailable()
    in.addData(docs(1), docs(4)); q.processAllAvailable()
    val mid = m.labels(spark).as[(Long, Long, Boolean)].collect().toSet
    assert(mid == Set((1L, 1L, true), (2L, 1L, false), (4L, 4L, true), (5L, 5L, true)),
      s"after two batches: $mid")
    in.addData(docs(2)); q.processAllAvailable()
    q.stop()
    val got = m.labels(spark).as[(Long, Long, Boolean)].collect().toSet
    val batch = graft.dedup.Dedup
      .nearDupGroups(docs.toDF("doc_id", "text"), "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == batch, s"incremental $got != batch $batch")
    assert(got.contains((3L, 1L, false)), "late near-dup must fold into the old group")
    m.close()
  }

  test("multi-band DedupGroupMaintainer converges to the batch nearDupGroupsMultiBand result") {
    // the streaming sibling of q226's large-radius rung: same multi-band
    // union (16x4 ∪ 32x2 at t=0.3) as candidate discovery, incremental
    // over batches — final labels must equal the batch composition on
    // the same radius corpus (prefix variants land in their full doc's
    // group at 0.3, across batch boundaries)
    val d = graft.queries.Queries.radiusCorpus(graft.core.Tables(spark, sfDir).documents)
      .as[(Long, String)].collect().sortBy(_._1)
    val in = MemoryStream[(Long, String)]
    val m = new DedupGroupMaintainer("text", "doc_id", numHashes = 64,
      bandings = Seq(16, 32), threshold = 0.3)
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) => m.ingest(b) }
      .outputMode(OutputMode.Append()).start()
    // split so most (full doc, prefix variant) pairs cross the batch
    // boundary: originals first, prefix variants (+1e6 ids) second
    val (full, pfx) = d.partition(_._1 < 1000000L)
    in.addData(full.toIndexedSeq: _*); q.processAllAvailable()
    in.addData(pfx.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    val got = m.labels(spark).as[(Long, Long, Boolean)].collect().toSet
    m.close()
    val batch = graft.dedup.Dedup.nearDupGroupsMultiBand(
        graft.queries.Queries.radiusCorpus(graft.core.Tables(spark, sfDir).documents),
        "text", "doc_id", numHashes = 64, bandings = Seq(16, 32), threshold = 0.3)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == batch,
      s"incremental diverged from batch: only-inc=${(got -- batch).take(5)} " +
        s"only-batch=${(batch -- got).take(5)}")
    // the radius actually exercised: some prefix variant joined its
    // full doc's group (keep=false on a +1e6 id)
    assert(got.exists { case (id, _, keep) => id >= 1000000L && !keep },
      "a prefix variant must have folded into its full doc's group")
  }

  test("PostingsMaintainer: stream-appended index's integer BM25 equals the batch rebuild") {
    val d = graft.core.Tables(spark, sfDir).documents.select("doc_id", "text")
    val terms = Seq("hash", "join", "spark") // the q164 query
    val m = new PostingsMaintainer("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) => m.ingest(id, b) }
      .outputMode(OutputMode.Append()).start()
    val rows = d.as[(Long, String)].collect().sortBy(_._1)
    rows.grouped((rows.length + 2) / 3).foreach { slice =>
      in.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = m.search(terms, k = 10).as[(Long, Long)].collect().toSeq
    val batch = TextSearch.bm25IntTopK(d, "doc_id", "text", terms, k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(streamed == batch,
      s"index-backed search diverged: streamed=$streamed batch=$batch")
    // telemetry: one appended row per micro-batch, gauges strictly grow
    val tel = m.telemetry(spark)
      .filter($"action" === "appended")
      .select("n_docs").as[Long].collect().toSeq
    assert(tel.size == 3 && tel == tel.sorted && tel.last == rows.length,
      s"appended gauges: $tel")
    m.close()
  }

  test("PostingsMaintainer: whole-batch replay skipped idempotently, partial overlap under a fresh id fails loudly") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta beta delta"),
      (3L, "gamma delta epsilon"))
    val m = new PostingsMaintainer("doc_id", "text")
    m.ingest(0L, docs.take(2).toDF("doc_id", "text"))
    val before = m.search(Seq("beta"), k = 5).as[(Long, Long)].collect().toSeq
    // whole-batch replay (foreachBatch at-least-once): telemetry-visible no-op
    m.ingest(0L, docs.take(2).toDF("doc_id", "text"))
    val after = m.search(Seq("beta"), k = 5).as[(Long, Long)].collect().toSeq
    assert(after == before, "replayed batch must not change the index")
    val acts = m.telemetry(spark).select("action").as[String].collect().toSeq
    assert(acts == Seq("built", "appended", "replay_skipped"), s"actions: $acts")
    // doc 2 re-sent under a FRESH batch id: fresh-id contract violation
    val ex = intercept[IllegalArgumentException] {
      m.ingest(1L, docs.drop(1).toDF("doc_id", "text"))
    }
    assert(ex.getMessage.contains("fresh"), ex.getMessage)
    // a genuinely fresh batch still ingests after the failed one
    m.ingest(2L, docs.drop(2).toDF("doc_id", "text"))
    assert(m.search(Seq("epsilon"), k = 5).as[(Long, Long)].collect()
      .map(_._1).toSeq == Seq(3L), "post-failure ingest must work")
    m.close()
  }

  test("PostingsMaintainer save/load: restarted loop skips the replayed batch and equals the uninterrupted one") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta beta delta"),
      (3L, "gamma delta epsilon"), (4L, "alpha epsilon zeta"))
    def frame(ids: Long*) = docs.filter(d => ids.contains(d._1)).toDF("doc_id", "text")
    withTempDir("graft_postings") { tmp =>
      val dir = tmp.toString
      // uninterrupted reference
      val full = new PostingsMaintainer("doc_id", "text")
      full.ingest(0L, frame(1L, 2L)); full.ingest(1L, frame(3L)); full.ingest(2L, frame(4L))
      val want = full.search(Seq("alpha", "delta"), k = 5)
        .as[(Long, Long)].collect().toSeq
      full.close()
      // crash after batch 1, save, reload, foreachBatch re-delivers batch 1
      val m1 = new PostingsMaintainer("doc_id", "text")
      m1.ingest(0L, frame(1L, 2L)); m1.ingest(1L, frame(3L))
      m1.save(dir, buckets = 8)
      m1.close()
      val m2 = PostingsMaintainer.load(spark, dir, "doc_id", "text")
      m2.ingest(1L, frame(3L)) // at-least-once replay with its pre-crash id
      m2.ingest(2L, frame(4L))
      val got = m2.search(Seq("alpha", "delta"), k = 5)
        .as[(Long, Long)].collect().toSeq
      assert(got == want, s"restarted $got != uninterrupted $want")
      val acts = m2.telemetry(spark).select("action").as[String].collect().toSeq
      assert(acts == Seq("built", "loaded", "replay_skipped", "appended"),
        s"actions: $acts")
      // the saved postings use the bucket-partitioned pruning layout
      val buckets = new java.io.File(s"$dir/postings").listFiles()
        .filter(_.getName.startsWith("bucket=")).map(_.getName).toSeq
      assert(buckets.nonEmpty, "postings must save bucket-partitioned")
      m2.close()
    }
  }

  test("CooccurMaintainer: stream-folded pairs equal batch skipGramPairs; replay skipped; partial overlap fails") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val walks = graft.ops.GraphOps.hashWalks(edges, "src", "dst",
      steps = 3, walksPerNode = 2).cache()
    val batch = graft.ops.GraphOps.skipGramPairs(walks, 2)
      .as[(Long, Long, Long)].collect().toSet
    val m = new CooccurMaintainer(window = 2)
    // one start per micro-batch: every cross-start statistic must fold
    // additively across batch boundaries
    m.ingest(0L, walks.filter($"start" === 1L))
    m.ingest(1L, walks.filter($"start" === 2L))
    m.ingest(2L, walks.filter($"start" === 3L))
    val streamed = m.pairs(spark).as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch,
      s"only-stream=${(streamed -- batch).take(5)} only-batch=${(batch -- streamed).take(5)}")
    // whole-batch replay: telemetry-visible no-op
    m.ingest(2L, walks.filter($"start" === 3L))
    assert(m.pairs(spark).as[(Long, Long, Long)].collect().toSet == batch)
    val acts = m.telemetry(spark).select("action").as[String].collect().toSeq
    assert(acts == Seq("built", "appended", "appended", "appended",
      "replay_skipped"), s"actions: $acts")
    // already-ingested start under a FRESH batch id: contract violation
    val ex = intercept[IllegalArgumentException] {
      m.ingest(3L, walks.filter($"start" === 1L))
    }
    assert(ex.getMessage.contains("fresh"), ex.getMessage)
    m.close()
    walks.unpersist(blocking = false)
    graft.ops.ScaleOps.release()
    spark.catalog.clearCache()
  }

  test("cdcGateTws maintains the batch cdcApply image at every prefix (RocksDB)") {
    import StatefulOps.{CdcOp, CdcImage}
    val batches = Seq(
      Seq(CdcOp("a", 1, "I", "a1"), CdcOp("b", 2, "I", "b1")),
      Seq(CdcOp("a", 5, "U", "a2"), CdcOp("c", 3, "I", "c1"),
        CdcOp("b", 4, "D", "")),
      Seq(CdcOp("a", 4, "U", "late-ignored"), // older seq than state: no-op
        CdcOp("b", 6, "I", "b2")))            // delete-then-reinsert
    withRocksDbStateStore {
      val in = MemoryStream[CdcOp]
      val table = scala.collection.mutable.Map.empty[String, (Long, String)]
      val q = StatefulOps.cdcGateTws(in.toDS())
        .writeStream.outputMode(OutputMode.Update())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[CdcImage], _: Long) =>
          b.collect().foreach { img =>
            if (img.deleted) table.remove(img.key)
            else table.put(img.key, (img.seq, img.payload))
          }
        }
        .start()
      var seen = Seq.empty[CdcOp]
      batches.foreach { batch =>
        in.addData(batch: _*); q.processAllAvailable()
        seen ++= batch
        // batch ground truth: cdcApply over an empty snapshot
        val snapshot = Seq.empty[(String, Long, String)].toDF("key", "seq", "payload")
        val ops = seen.map(o => (o.key, o.seq, o.payload, o.op))
          .toDF("key", "seq", "payload", "op")
        val expected = graft.ops.RelOps.cdcApply(snapshot, ops, Seq("key"),
            "op", Seq(col("seq")))
          .as[(String, Long, String)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        assert(table.toMap == expected,
          s"after ${seen.size} ops: stream $table != batch $expected")
      }
      q.stop()
      // final image: late op ignored, b re-inserted
      assert(table.toMap == Map("a" -> ((5L, "a2")), "b" -> ((6L, "b2")),
        "c" -> ((3L, "c1"))))
    }
  }

  test("streaming word-count upserts into a LIVE RedisStore (the reference word_count example, end-to-end)") {
    // kasper's canonical topology (`examples/word_count_example.go:30-67`):
    // stateful running count whose per-batch output upserts into a real
    // store — here over an actual RESP socket, with the standard
    // connector discipline (connection opened per batch, closed after;
    // the upsert is one pipelined putAll). At-least-once replays
    // re-upsert the same counts — idempotent by construction (LWW).
    val srv = new TestServers.RespTestServer
    try {
      val in = MemoryStream[String]
      val q = StatefulOps.runningCount(in.toDS())
        .writeStream.outputMode(OutputMode.Update())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StatefulOps.KeyCount], _: Long) =>
          val rows = batch.collect() // word-cardinality-sized
          val store = new RedisStore("127.0.0.1", srv.port, "wordcount")
          try store.putAll(rows.map(kc =>
            kc.key -> kc.count.toString.getBytes("UTF-8")).toMap)
          finally store.close()
        }
        .start()
      in.addData("a", "b", "a"); q.processAllAvailable()
      in.addData("a", "c"); q.processAllAvailable()
      q.stop()
      val got = srv.contents.map { case (k, v) => k -> new String(v, "UTF-8") }
      assert(got == Map("wordcount/a" -> "3", "wordcount/b" -> "1",
        "wordcount/c" -> "1"), s"store contents: $got")
    } finally srv.close()
  }

  test("streaming floor guardrail: >=10k rows/s sustained at ~1s triggers (the reference envelope)") {
    // the reference's design point (`README.md:16-17`): >10k msg/s per
    // instance at ~1s latency. Asserted EVERY suite run at the design
    // rate itself — the 50k+ headline stays a bench number (box-noise
    // sensitive), but a real regression below the envelope fails CI.
    // Median trigger (not max) bounds latency: a single GC/co-tenant
    // stall must not flake the floor.
    val (tput, _, medianTriggerMs) = graft.StreamBench.measure(spark, rate = 10000, secs = 10)
    assert(tput >= 10000.0,
      f"sustained $tput%.0f rows/s is below the 10k envelope")
    assert(medianTriggerMs <= 1000L,
      s"median trigger $medianTriggerMs ms exceeds the ~1s design latency")
  }

  test("DedupGroupMaintainer snapshots across a two-group bridge batch equal batch nearDupGroups") {
    // two exact-dup groups {1,2}=X and {7,8}=Y, an unrelated singleton,
    // and a BRIDGE doc 9 = X ++ Y arriving last: jaccard(X,Z) =
    // jaccard(Y,Z) = 6/14 ≈ 0.43 ≥ the 0.4 threshold while
    // jaccard(X,Y) = 0 — so batch 3 must MERGE two already-labeled
    // groups (the relabel-both-sides path), not just extend one.
    // bands=32 (rows=2) keeps LSH detection of the 0.43 pairs
    // deterministic-reliable; verification is exact either way.
    val X = "alpha beta gamma delta epsilon zeta eta theta"
    val Y = "kappa lambda mu nu xi omicron pi rho"
    val Z = X + " " + Y
    val batches = Seq(
      Seq((1L, X), (7L, Y), (4L, "totally different content nothing shared anywhere today")),
      Seq((2L, X), (8L, Y)),
      Seq((9L, Z)))
    val m = new DedupGroupMaintainer("text", "doc_id", bandings = Seq(32), threshold = 0.4)
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) => m.ingest(b) }
      .outputMode(OutputMode.Append()).start()
    val snaps = batches.map { b =>
      in.addData(b: _*); q.processAllAvailable()
      m.labels(spark).as[(Long, Long, Boolean)].collect().toSet
    }
    q.stop()
    m.close()
    // no pair yet: three singletons
    assert(snaps(0) == Set((1L, 1L, true), (7L, 7L, true), (4L, 4L, true)),
      s"first-batch labels: ${snaps(0)}")
    // before the bridge: two separate groups
    assert(snaps(1) == Set((1L, 1L, true), (2L, 1L, false),
      (7L, 7L, true), (8L, 7L, false), (4L, 4L, true)),
      s"pre-bridge labels: ${snaps(1)}")
    // the bridge batch merges BOTH prior groups (and 9) under min id 1
    assert(snaps(2) == Set((1L, 1L, true), (2L, 1L, false),
      (7L, 1L, false), (8L, 1L, false), (9L, 1L, false), (4L, 4L, true)),
      s"post-bridge labels: ${snaps(2)}")
    // and the incremental result equals the one-shot batch computation
    val batch = graft.dedup.Dedup.nearDupGroups(
        batches.flatten.toDF("doc_id", "text"), "text", "doc_id",
        bands = 32, threshold = 0.4)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(snaps(2) == batch, s"incremental ${snaps(2)} != batch $batch")
  }

  test("declarative stream-stream inner join with watermarks (KQ-8 streaming alt)") {
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val lhs = MemoryStream[(String, java.sql.Timestamp)]
    val rhs = MemoryStream[(String, java.sql.Timestamp)]
    val l = lhs.toDF().toDF("k", "lts").withWatermark("lts", "1 hour")
    val r = rhs.toDF().toDF("rk", "rts").withWatermark("rts", "1 hour")
    val joined = l.join(r,
      $"k" === $"rk" && $"rts" >= $"lts" - expr("interval 10 minutes") &&
        $"rts" <= $"lts" + expr("interval 10 minutes"))
    val q = joined.writeStream.format("memory").queryName(nextName())
      .outputMode(OutputMode.Append()).start()
    lhs.addData(("a", t(0)), ("b", t(0)))
    rhs.addData(("a", t(5)), ("b", t(30))) // b outside the ±10 min band
    q.processAllAvailable()
    val rows = spark.table(q.name).select("k").as[String].collect().toSeq
    q.stop()
    assert(rows == Seq("a"), "only the in-band pair joins")
  }

  test("stream-stream LEFT OUTER join null-extends once the watermark closes the band") {
    def t(h: Int, min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")
    val lhs = MemoryStream[(String, java.sql.Timestamp)]
    val rhs = MemoryStream[(String, java.sql.Timestamp)]
    val l = lhs.toDF().toDF("k", "lts").withWatermark("lts", "5 minutes")
    val r = rhs.toDF().toDF("rk", "rts").withWatermark("rts", "5 minutes")
    val joined = l.join(r,
      $"k" === $"rk" && $"rts" >= $"lts" && $"rts" <= $"lts" + expr("interval 10 minutes"),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName(nextName())
      .outputMode(OutputMode.Append()).start()
    lhs.addData(("a", t(10, 0)), ("m", t(10, 0))) // m never gets a match
    rhs.addData(("a", t(10, 5)))
    q.processAllAvailable()
    // push both watermarks far past m's band so its null row finalizes
    lhs.addData(("zz", t(12, 0))); rhs.addData(("zz", t(12, 0)))
    q.processAllAvailable()
    lhs.addData(("zz2", t(13, 0))); rhs.addData(("zz2", t(13, 0)))
    q.processAllAvailable()
    val rows = spark.table(q.name).select($"k", $"rk").as[(String, Option[String])]
      .collect().toMap
    q.stop()
    assert(rows("a").contains("a"), "matched pair must join")
    assert(rows.contains("m") && rows("m").isEmpty,
      s"unmatched left row must null-extend after the watermark, got $rows")
  }

  test("idempotent parquet sink: replayed epoch does not duplicate output") {
    withTempDir("graft_idem") { tmp =>
      val dir = tmp.toString
      val in = MemoryStream[String]
      val counts = StatefulOps.runningCount(in.toDS()).toDF()
      val q = SinkOps.toParquetIdempotent(counts, s"$dir/out", s"$dir/ckpt")
        .outputMode(OutputMode.Update()).start()
      in.addData("x", "y")
      q.processAllAvailable()
      q.stop()
      val once = spark.read.parquet(s"$dir/out").count()
      // simulate the crash-replay window: re-write the batch of the epoch
      // that actually produced the rows
      val written = spark.read.parquet(s"$dir/out")
      val epoch = written.agg(max("__epoch")).head().get(0).toString.toLong
      val replay = written.filter(col("__epoch") === epoch).drop("__epoch")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      replay.withColumn("__epoch", lit(epoch))
        .write.mode("overwrite").partitionBy("__epoch").parquet(s"$dir/out")
      val after = spark.read.parquet(s"$dir/out").count()
      assert(after == once, "replaying an epoch must overwrite, not append")
    }
  }

  test("runningCount on the RocksDB state store (A10/A11 scale path)") {
    withRocksDbStateStore {
      val in = MemoryStream[String]
      val q = StatefulOps.runningCount(in.toDS())
        .writeStream.format("memory").queryName(nextName())
        .outputMode(OutputMode.Update()).start()
      in.addData("r", "r", "s"); q.processAllAvailable()
      in.addData("r"); q.processAllAvailable()
      val m = spark.table(q.name).as[(String, Long)].collect()
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      q.stop()
      assert(m == Map("r" -> 3L, "s" -> 1L))
    }
  }

  test("dedupStream with no key columns dedups whole rows") {
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val q = StatefulOps.dedupStream(in.toDF().toDF("ts", "v"), "ts", "10 minutes")
      .writeStream.format("memory").queryName(nextName())
      .outputMode(OutputMode.Append()).start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    in.addData((t0, "a"), (t0, "a"), (t0, "b"))
    q.processAllAvailable()
    val n = spark.table(q.name).count()
    q.stop()
    assert(n == 2)
  }

  test("dedupStream drops duplicate keys across batches within the watermark") {
    val in = MemoryStream[(java.sql.Timestamp, String, String)]
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val q = StatefulOps.dedupStream(in.toDF().toDF("ts", "doc_hash", "payload"),
        "ts", "10 minutes", "doc_hash")
      .writeStream.format("memory").queryName(nextName())
      .outputMode(OutputMode.Append()).start()
    in.addData((t(0), "h1", "first"), (t(1), "h1", "dup-in-batch"), (t(2), "h2", "other"))
    q.processAllAvailable()
    in.addData((t(3), "h1", "dup-next-batch"))
    q.processAllAvailable()
    val got = spark.table(q.name).select("doc_hash", "payload")
      .as[(String, String)].collect().toSet
    q.stop()
    assert(got == Set(("h1", "first"), ("h2", "other")))
  }

  test("bulkWrite summarizes per-record failures with the reference's capped format") {
    // static holder: task closures are serialized even in local mode, so
    // a captured local queue would be mutated on deserialized copies
    BulkWriteProbe.sink.clear()
    val sink = BulkWriteProbe.sink
    val rows = (1 to 100).map(i => s"rec$i").toDS()
    // every 10th record is poison → 10 failures, only 5 reasons + tail
    val err = intercept[RuntimeException] {
      SinkOps.bulkWrite(rows, identity[String]) { r =>
        if (r.stripPrefix("rec").toInt % 10 == 0) sys.error(s"mapping conflict for $r")
        else BulkWriteProbe.sink.add(r)
      }
    }
    assert(err.getMessage.contains("failed for 10 requests"))
    assert(err.getMessage.linesIterator.count(_.startsWith("id = rec")) == 5)
    assert(err.getMessage.contains("(omitted 5 more errors)"))
    assert(sink.size == 90, "non-poison records are all written (at-least-once replay covers the rest)")
    // clean batch: no exception
    SinkOps.bulkWrite(Seq("a", "b").toDS(), identity[String])(_ => ())
  }

  test("scd2Gate emits the pinned closed and open rows per batch on the RocksDB state store") {
    import StatefulOps.{Scd2Event, Scd2Row}
    withRocksDbStateStore {
      val in = MemoryStream[Scd2Event]
      val q = StatefulOps.scd2Gate(in.toDS())
        .writeStream.format("memory").queryName(nextName())
        .outputMode(OutputMode.Update()).start()
      def rows(): Seq[Scd2Row] = spark.table(q.name).as[Scd2Row].collect().toSeq
        .sortBy(r => (r.key, r.validFrom, r.validTo.getOrElse(Long.MaxValue)))
      // batch 1: k1 a@10, a@20 (collapse), b@30 closes a; k2 opens x@5
      in.addData(Scd2Event(1, 10, "a"), Scd2Event(1, 20, "a"),
        Scd2Event(1, 30, "b"), Scd2Event(2, 5, "x"))
      q.processAllAvailable()
      assert(rows() == Seq(Scd2Row(1, "a", 10, Some(30)), Scd2Row(1, "b", 30, None),
        Scd2Row(2, "x", 5, None)))
      // batch 2: k1 returns to a@40 (closes b); k2 re-emits its open x@5
      in.addData(Scd2Event(1, 40, "a"), Scd2Event(2, 50, "x"))
      q.processAllAvailable()
      val all = rows()
      q.stop()
      assert(all == Seq(Scd2Row(1, "a", 10, Some(30)), Scd2Row(1, "b", 30, Some(40)),
        Scd2Row(1, "b", 30, None), Scd2Row(1, "a", 40, None),
        Scd2Row(2, "x", 5, None), Scd2Row(2, "x", 5, None)))
    }
  }

  test("budgetGate admits the pinned cumTokens on the RocksDB state store") {
    import StatefulOps.{BudgetDoc, Admitted}
    withRocksDbStateStore {
      val in = MemoryStream[BudgetDoc]
      val q = StatefulOps.budgetGate(in.toDS(), budget = 100L)
        .writeStream.format("memory").queryName(nextName())
        .outputMode(OutputMode.Update()).start()
      in.addData(BudgetDoc("a", 1, 60), BudgetDoc("a", 2, 50),
        BudgetDoc("a", 3, 30), BudgetDoc("b", 5, 90))
      q.processAllAvailable()
      in.addData(BudgetDoc("a", 4, 20), BudgetDoc("a", 6, 10), BudgetDoc("b", 7, 20))
      q.processAllAvailable()
      val rows = spark.table(q.name).as[Admitted].collect().toSeq
      q.stop()
      assert(rows.map(r => r.id -> r.cumTokens).toMap ==
        Map(1L -> 60L, 3L -> 90L, 5L -> 90L, 6L -> 100L))
    }
  }

  test("transitionGate bigram counts on the RocksDB state store") {
    import StatefulOps.{TransEvent, Transition}
    withRocksDbStateStore {
      val in = MemoryStream[TransEvent]
      val q = StatefulOps.transitionGate(in.toDS())
        .writeStream.format("memory").queryName(nextName())
        .outputMode(OutputMode.Append()).start()
      in.addData(TransEvent(1, "b", 20L, 2), TransEvent(1, "a", 10L, 1),
        TransEvent(2, "a", 5L, 3))
      q.processAllAvailable()
      in.addData(TransEvent(1, "a", 30L, 4), TransEvent(2, "c", 15L, 5))
      q.processAllAvailable()
      val counts = spark.table(q.name).as[Transition].collect()
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      q.stop()
      assert(counts == Map(Transition("a", "b") -> 1L, Transition("b", "a") -> 1L,
        Transition("a", "c") -> 1L))
    }
  }

  test("funnelGate stages per user on the RocksDB state store") {
    import StatefulOps.{FunnelEvent, FunnelProgress}
    val steps = Seq("view", "click", "purchase")
    withRocksDbStateStore {
      val in = MemoryStream[FunnelEvent]
      val q = StatefulOps.funnelGate(in.toDS(), steps, within = 100L)
        .writeStream.format("memory").queryName(nextName())
        .outputMode(OutputMode.Update()).start()
      in.addData(FunnelEvent(1, "click", 20L), FunnelEvent(1, "view", 10L),
        FunnelEvent(2, "view", 5L), FunnelEvent(3, "click", 7L))
      q.processAllAvailable()
      in.addData(FunnelEvent(1, "purchase", 90L), FunnelEvent(2, "click", 300L),
        FunnelEvent(3, "view", 10L))
      q.processAllAvailable()
      val rows = spark.table(q.name).as[FunnelProgress].collect().toSeq
        .sortBy(p => (p.uid, p.stage))
      q.stop()
      // u1 completes the funnel (view@10 → click@20 → purchase@90);
      // u2's click at 300 misses the 100-tick window; u3's view can't
      // follow a click
      assert(rows == Seq(FunnelProgress(1, 2, 20L), FunnelProgress(1, 3, 90L),
        FunnelProgress(2, 1, 5L), FunnelProgress(3, 1, 10L)))
    }
  }

  test("linearAttributionGateTws: causal-prefix credits aggregate to the batch q228 table (RocksDB)") {
    import StatefulOps.{AttrEvent, ChannelCredit}
    val M = 60L * 1000000L // one minute in micro-ticks
    // u1: the q228 flooring scenario (2 views + 1 click + purchase
    // 1.000001), then a touch-only later session; u2: 2 clicks +
    // purchase 2.5; u3: its purchase opens a NEW session 40 min after
    // the only touch — nothing to credit on either rail
    val batch1 = Seq(
      AttrEvent(1, 0, 1, "view", 0.0), AttrEvent(1, 1 * M, 2, "click", 0.0),
      AttrEvent(2, 0, 6, "click", 0.0))
    val batch2 = Seq(
      AttrEvent(1, 2 * M, 3, "view", 0.0),
      AttrEvent(1, 3 * M, 4, "purchase", 1.000001),
      AttrEvent(1, 120 * M, 5, "view", 0.0),
      AttrEvent(2, 5 * M, 7, "click", 0.0),
      AttrEvent(2, 6 * M, 8, "purchase", 2.5),
      AttrEvent(3, 0, 9, "view", 0.0),
      AttrEvent(3, 40 * M, 10, "purchase", 5.0))
    withRocksDbStateStore {
      val in = MemoryStream[AttrEvent]
      val q = StatefulOps.linearAttributionGateTws(in.toDS(), "purchase",
          gapTicks = 30 * M)
        .writeStream.format("memory").queryName(nextName())
        .outputMode(OutputMode.Append()).start()
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()
      val credits = spark.table(q.name).as[ChannelCredit].collect().toSeq
      q.stop()
      // roll emissions up to the batch table's shape
      val agg = credits.groupBy(_.channel).map { case (ch, rs) =>
        ch -> (rs.map(_.nTouches).sum, rs.size.toLong,
          rs.map(_.creditMicro).sum)
      }
      val ev = (batch1 ++ batch2).toDF()
        .select(col("uid").as("user_id"),
          timestamp_micros(col("ts")).as("ts"), col("tie").as("event_id"),
          col("etype").as("event_type"), col("value"))
      val expected = graft.ops.RelOps.linearAttribution(ev, "user_id", "ts",
          "event_id", "event_type", "value", convType = "purchase")
        .select("channel", "n_touches", "n_session_credits", "credit_micro")
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      assert(agg == expected, s"streaming $agg != batch $expected")
      // the exact q228 numbers, pinned
      assert(agg("view") == (2L, 1L, 666667L), s"view: $agg")
      assert(agg("click") == (3L, 2L, 333333L + 2500000L), s"click: $agg")
      spark.catalog.clearCache()
    }
  }

  test("latestByKey winners per batch on the RocksDB state store, a ts tie going to the later element") {
    import StatefulOps.Keyed
    withRocksDbStateStore {
      val in = MemoryStream[Keyed[String]]
      val q = StatefulOps.latestByKey(in.toDS())
        .writeStream.format("memory").queryName(nextName())
        .outputMode(OutputMode.Update()).start()
      in.addData(Keyed("u1", 10L, "old"), Keyed("u2", 5L, "x"))
      q.processAllAvailable()
      in.addData(Keyed("u1", 20L, "new"), Keyed("u1", 15L, "stale"),
        Keyed("u2", 5L, "tie-later")) // ts tie → later element in batch order wins
      q.processAllAvailable()
      val rows = spark.table(q.name).as[Keyed[String]].collect().toSeq
        .sortBy(k => (k.key, k.ts, k.value))
      q.stop()
      assert(rows == Seq(Keyed("u1", 10L, "old"), Keyed("u1", 20L, "new"),
        Keyed("u2", 5L, "tie-later"), Keyed("u2", 5L, "x")))
      val last = rows.groupBy(_.key).map { case (k, vs) => k -> vs.maxBy(_.ts).value }
      assert(last == Map("u1" -> "new", "u2" -> "tie-later"))
    }
  }

  test("chunkDedupGate: first-seen chunks pass, replays suppressed, batch winners match chunkDedup") {
    import StatefulOps.ChunkRow
    withRocksDbStateStore {
      val in = MemoryStream[ChunkRow]
      val q = StatefulOps.chunkDedupGate(in.toDS())
        .writeStream.format("memory").queryName(nextName())
        .outputMode(OutputMode.Append()).start()
      // batch 1: doc 1's chunks, plus a within-batch duplicate from doc 2
      in.addData(ChunkRow(1L, 0L, "a b c"), ChunkRow(1L, 1L, "d e f"),
        ChunkRow(2L, 0L, "a b c"))
      q.processAllAvailable()
      // batch 2: doc 3 replays both of doc 1's chunks and adds a new one
      in.addData(ChunkRow(3L, 0L, "a b c"), ChunkRow(3L, 1L, "d e f"),
        ChunkRow(3L, 2L, "x y z"))
      q.processAllAvailable()
      val got = spark.table(q.name).as[ChunkRow].collect().toSet
      q.stop()
      assert(got == Set(ChunkRow(1L, 0L, "a b c"), ChunkRow(1L, 1L, "d e f"),
        ChunkRow(3L, 2L, "x y z")))
      // emission set == the batch chunkDedup winners over the same rows
      // (batches arrived in id order, so first-seen == min (id, idx))
      val docs = Seq((1L, "a b c d e f"), (2L, "a b c"), (3L, "a b c d e f x y z"))
        .toDF("doc_id", "text")
      val batchWinners = graft.ops.CorpusOps
        .chunkDedup(docs, "doc_id", "text", chunkSize = 3)
        .filter(length($"clean_text") > 0)
        .as[(Long, Long, String)].collect()
        .flatMap { case (id, _, txt) => txt.split(" ").grouped(3).map(_.mkString(" ")).map(id -> _) }
        .toSet
      assert(got.map(c => c.id -> c.chunkText) == batchWinners)
    }
  }

  test("MessageCodec: envelope round-trip, corrupt lines dropped, replay reorders by (partition, offset)") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val msgs = Seq(
      ("t", 1, 5L, "k5", """{"a":5}"""),
      ("t", 0, 2L, "k2", """{"a":2}"""),
      ("t", 0, 1L, "k1", """{"a":1}"""))
      .toDF("topic", "partition", "offset", "key", "value")
    val lines = MessageCodec.encode(msgs)
    // decode is the inverse of encode
    val decoded = MessageCodec.decode(lines)
      .as[(String, Int, Long, String, String)].collect().toSet
    assert(decoded == Set(("t", 1, 5L, "k5", """{"a":5}"""),
      ("t", 0, 2L, "k2", """{"a":2}"""), ("t", 0, 1L, "k1", """{"a":1}""")))
    // a poison line never kills the replay; order is (partition, offset)
    val withCorrupt = lines.unionAll(Seq("definitely not json {{{").toDF("line"))
    val replayed = MessageCodec.replay(withCorrupt,
        StructType(Seq(StructField("a", LongType))))
      .select($"a", $"partition", $"offset").as[(Long, Int, Long)].collect().toSeq
    assert(replayed == Seq((1L, 0, 1L), (2L, 0, 2L), (5L, 1, 5L)))
  }

  test("chunkDedupGate state survives a checkpointed restart (transformWithState + RocksDB recovery)") {
    // the recovery story for the transformWithState API: a chunk seen
    // before the restart must still be suppressed after it — the
    // ValueState row comes back from the RocksDB checkpoint, not from
    // reprocessing
    import StatefulOps.ChunkRow
    withTempDir("graft_tws_restart") { tmp =>
      val ckpt = tmp.toString
      val buf = scala.collection.mutable.ArrayBuffer.empty[ChunkRow]
      withRocksDbStateStore {
        val in = MemoryStream[ChunkRow]
        def start() = StatefulOps.chunkDedupGate(in.toDS())
          .writeStream.outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.Dataset[ChunkRow], _: Long) =>
            val rows = df.collect()
            buf.synchronized { buf ++= rows }
            ()
          }.start()
        val q1 = start()
        in.addData(ChunkRow(1L, 0L, "a b c")); q1.processAllAvailable(); q1.stop()
        assert(buf.toList == List(ChunkRow(1L, 0L, "a b c")))
        val q2 = start()
        in.addData(ChunkRow(2L, 0L, "a b c"), ChunkRow(2L, 1L, "n e w"))
        q2.processAllAvailable(); q2.stop()
        assert(buf.toList.drop(1) == List(ChunkRow(2L, 1L, "n e w")),
          s"recovered state failed to suppress the replayed chunk: $buf")
      }
    }
  }

  test("metrics listener observes incoming rows (A16)") {
    val listener = new graft.metrics.GraftMetricsListener
    spark.streams.addListener(listener)
    val in = MemoryStream[String]
    val q = in.toDS().writeStream.format("memory").queryName(nextName()).start()
    in.addData("a", "b", "c")
    q.processAllAvailable()
    q.stop()
    spark.streams.removeListener(listener)
    assert(listener.totalIncoming >= 3)
  }
}

/** JVM-static sink for the bulkWrite test (survives closure serialization
  * in local mode).
  */
object BulkWriteProbe {
  val sink = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
