package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  test("writeShards: deterministic shard dirs, lossless roundtrip, stable re-run") {
    val docs = graft.core.Tables(spark, sfDir).documents
    withTempDir("graft_shards") { tmp =>
      val dir = tmp.toString
      graft.ops.CorpusOps.writeShards(docs, "doc_id", nShards = 4, dir)
      val dirs = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("shard=")).map(_.getName).sorted.toSeq
      assert(dirs == Seq("shard=0", "shard=1", "shard=2", "shard=3"))
      val back = spark.read.parquet(dir)
      assert(back.count() == docs.count())
      assert(back.select("doc_id").except(docs.select("doc_id")).count() == 0)
      // membership is a pure function of the id: a re-written export is
      // byte-for-byte the same layout (retry safety)
      val before = back.select($"doc_id", $"shard".cast("long"))
        .as[(Long, Long)].collect().toMap
      graft.ops.CorpusOps.writeShards(docs, "doc_id", nShards = 4, dir)
      val after = spark.read.parquet(dir).select($"doc_id", $"shard".cast("long"))
        .as[(Long, Long)].collect().toMap
      assert(before == after)
    }
  }

  test("repetitionStats flags repeated bigrams and the top-gram share") {
    val docs = Seq(
      (1L, "a b a b a b"),   // bigrams: "a b"×3, "b a"×2 → all 5 duplicated
      (2L, "w x y z"),       // 3 distinct bigrams, none duplicated
      (3L, "solo")           // < 2 tokens → dropped
    ).toDF("doc_id", "text")
    val got = CorpusOps.repetitionStats(docs, "doc_id", "text", n = 2)
      .orderBy("id").collect()
    assert(got.length == 2)
    assert(got(0).getLong(1) == 5L && got(0).getDouble(2) == 1.0)
    assert(got(0).getDouble(3) == 3.0 / 5.0)
    assert(got(1).getLong(1) == 3L && got(1).getDouble(2) == 0.0)
  }

  test("fused ngramRunStats kernel is bit-equal to the interpreted-HOF formulation") {
    // the pre-kernel pipeline: gram strings → per-gram xxhash64 →
    // array_sort → run stats; the fused kernel must reproduce every
    // stat exactly (hash families differ, equality structure doesn't)
    import graft.text.TextFunctions
    val t = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), TextFunctions.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val hof = t.select(col("id"),
        transform(sequence(lit(0), size(col("t")) - 2),
          i => concat_ws(" ", slice(col("t"), i + 1, lit(2)))).as("gs"))
      .select(col("id"), array_sort(transform(col("gs"), g => xxhash64(g))).as("hs"))
      .select(col("id"), graft.functions.HashKernels.sortedRunStats(col("hs")).as("st"))
      .select(col("id"), col("st.total"), col("st.dup"), col("st.top"))
    val fused = t.select(col("id"),
        graft.functions.HashKernels.ngramRunStats(
          graft.functions.HashKernels.arrayXxHash64(col("t")), 2).as("st"))
      .select(col("id"), col("st.total"), col("st.dup"), col("st.top"))
    assert(fused.count() > 0)
    assert(fused.exceptAll(hof).count() == 0 && hof.exceptAll(fused).count() == 0)
  }

  test("ngramRunStats edge cases: short inputs, n=1, set-form consistency") {
    import graft.functions.HashKernels
    val rows = Seq(
      (1L, Seq.empty[Long]),
      (2L, Seq(7L)),
      (3L, Seq(7L, 7L, 7L))
    ).toDF("id", "th")
    val got = rows.select(col("id"),
        HashKernels.ngramRunStats(col("th"), 2).as("st"))
      .orderBy("id").select("st.total", "st.dup", "st.top")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got(0) == ((0L, 0L, 0L)) && got(1) == ((0L, 0L, 0L)))
    assert(got(2) == ((2L, 2L, 2L))) // grams (7,7)×2 → one duplicated run
    // n=1: token multiset stats; distinct set form has one entry per run
    val both = rows.filter(col("id") === 3L).select(
      HashKernels.ngramRunStats(col("th"), 1).as("st"),
      size(HashKernels.ngramSetHashes(col("th"), 1)).as("nset")).head()
    assert(both.getStruct(0).getLong(0) == 3L && both.getInt(1) == 1)
  }

  test("decontaminate counts shared shingles against the held-out set only") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps"),  // shares "the quick brown fox" + "quick brown fox jumps"
      (11L, "completely different words here"),
      (12L, "short doc")                    // whole-text fallback, no match
    ).toDF("doc_id", "text")
    val held = Seq((1L, "the quick brown fox jumps over")).toDF("doc_id", "text")
    val got = CorpusOps.decontaminate(corpus, held, "doc_id", "text", n = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 2L))
  }

  test("decontamBloomExact equals plain decontaminate at ANY fpp (invariance, q179's contract)") {
    val d = graft.core.Tables(spark, sfDir).documents
    val corpus = d.filter($"doc_id" >= 50)
    val held = d.filter($"doc_id" < 50)
    val exact = CorpusOps.decontaminate(corpus, held, "doc_id", "text", n = 4)
      .as[(Long, Long)].collect().toMap
    assert(exact.nonEmpty, "fixture should contain contaminated docs")
    // fpp 0.5: the bloom lets roughly half of ALL grams through, so the
    // residual join does real false-positive removal — and the result
    // must STILL be byte-equal to the plain form
    for (fpp <- Seq(0.5, 1e-4)) {
      val got = CorpusOps.decontamBloomExact(corpus, held, "doc_id", "text",
          n = 4, fpp = fpp)
        .as[(Long, Long)].collect().toMap
      spark.catalog.clearCache()
      assert(got == exact, s"fpp=$fpp diverged: " +
        s"missing=${(exact.keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- exact.keySet).take(3)}")
    }
  }

  test("chunkDedup: first occurrence wins, reassembly ordered, all-lost docs come back empty") {
    val docs = Seq(
      (1L, "a b c d e f"),      // both chunks win (first occurrence)
      (2L, "a b c x y z"),      // "a b c" loses to doc 1; "x y z" survives
      (3L, "d e f"),            // single chunk loses to doc 1's chunk 1
      (4L, "p q"),              // short tail chunk, unique — survives
      (5L, "m n o m n o")       // within-doc repeat: idx 0 wins, idx 1 loses
    ).toDF("doc_id", "text")
    val got = CorpusOps.chunkDedup(docs, "doc_id", "text", chunkSize = 3)
      .orderBy("id").as[(Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, "a b c d e f"),
      (2L, 1L, "x y z"),
      (3L, 0L, ""),
      (4L, 1L, "p q"),
      (5L, 1L, "m n o")))
  }

  test("coverageSelect: hand-checked greedy, tie to lower id, stops when coverage is exhausted") {
    val docs = Seq(
      (1L, "a b c d"),  // 4 distinct unigrams — round-1 winner
      (2L, "a b c"),    // fully covered after round 1 → gain 0, never emitted
      (3L, "e f g"),    // round-2 winner (gain 3)
      (4L, "d e")       // fully covered after round 2 → selection stops
    ).toDF("doc_id", "text")
    val got = CorpusOps.coverageSelect(docs, "doc_id", "text", n = 1, k = 5)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    spark.catalog.clearCache()
    assert(got == Seq((1L, 1L, 4L), (2L, 3L, 3L)),
      s"greedy trace mismatch: $got")
    // equal marginal gain resolves to the lower doc id
    val tied = Seq((21L, "s t"), (20L, "s t"), (22L, "u")).toDF("doc_id", "text")
    val t2 = CorpusOps.coverageSelect(tied, "doc_id", "text", n = 1, k = 2)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    spark.catalog.clearCache()
    assert(t2 == Seq((1L, 20L, 2L), (2L, 22L, 1L)), s"tie-break mismatch: $t2")
  }

  test("coverageSelect: constant jobs per round (driver-held covered set, no growing lineage)") {
    // the O(k) contract: round r must NOT re-execute rounds 1..r−1's
    // unions — each round is the argmax job + the winner-gram fetch
    // (plus the round-1 cache materialization), so 6 rounds stay well
    // under the old O(k²) recompute's job count
    val docs = (1L to 40L)
      .map(i => (i, (0 until 6).map(j => s"w${(i * 7 + j * 11) % 83}").mkString(" ")))
      .toDF("doc_id", "text")
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    val got = CorpusOps.coverageSelect(docs, "doc_id", "text", n = 1, k = 6)
      .collect()
    val jobs = tracker.getJobIdsForGroup(null).length - before
    spark.catalog.clearCache()
    assert(got.length == 6, s"expected 6 rounds, got ${got.length}")
    // a small constant per round (argmax + winner fetch + AQE/broadcast
    // bookkeeping jobs) — the bound is the REGRESSION guard against a
    // per-round growing lineage re-planning prior rounds
    assert(jobs <= 36, s"expected a constant ~4-5 jobs per round for 6 rounds, ran $jobs")
    // int ids are welcome (the id column casts up front)
    val intIds = Seq((1, "a b"), (2, "c")).toDF("doc_id", "text")
      .withColumn("doc_id", $"doc_id".cast("int"))
    val viaInt = CorpusOps.coverageSelect(intIds, "doc_id", "text", n = 1, k = 2)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    spark.catalog.clearCache()
    assert(viaInt == Seq((1L, 1L, 2L), (2L, 2L, 1L)), s"int-id run: $viaInt")
  }

  test("decontamBloom: zero false negatives vs the exact hashed-gram join; FP rate bounded") {
    val d = graft.core.Tables(spark, sfDir).documents
    val corpus = d.filter($"doc_id" >= 50)
    val held = d.filter($"doc_id" < 50)
    val got = CorpusOps.decontamBloom(corpus, held, "doc_id", "text", n = 4)
      .select($"id", $"n_grams", $"n_flagged").as[(Long, Long, Long)].collect()
    // exact ground truth over the SAME hashed-gram family the bloom indexes
    import graft.functions.HashKernels
    import graft.text.TextFunctions
    def grams(df: org.apache.spark.sql.DataFrame) = df.select($"doc_id".as("id"),
      explode(HashKernels.ngramSetHashes(
        HashKernels.arrayXxHash64(TextFunctions.tokens($"text")), 4)).as("g"))
    val heldG = grams(held).select("g").distinct()
    val exact = grams(corpus).join(heldG, "g")
      .groupBy("id").agg(count("*").as("n")).as[(Long, Long)].collect().toMap
    val flagged = got.filter(_._3 > 0).map(_._1).toSet
    assert(exact.keySet.subsetOf(flagged),
      s"bloom missed exactly-contaminated docs: ${(exact.keySet -- flagged).take(5)}")
    // per-doc hits can only over-count: n_flagged >= exact shared grams
    got.foreach { case (id, _, nf) =>
      assert(nf >= exact.getOrElse(id, 0L), s"doc $id under-counted") }
    // false-positive budget: at fpp 1e-6 over ~1e5 corpus gram probes,
    // expected extra flags ≈ 0; allow a generous slack of 1% of docs
    val fpDocs = flagged -- exact.keySet
    assert(fpDocs.size <= math.max(1, got.length / 100),
      s"bloom over-flagged ${fpDocs.size} of ${got.length} docs")
  }

  test("weightedSample: deterministic, zero weights excluded, heavy rows favored") {
    val rows = (1L to 200L).map(i => (i, 1L)).toDF("id", "w")
      .unionAll(Seq((500L, 5000L), (501L, 0L)).toDF("id", "w"))
    val pick = CorpusOps.weightedSample(rows, "id", $"w", k = 20)
      .select("id").as[Long].collect().toSeq
    val again = CorpusOps.weightedSample(rows, "id", $"w", k = 20)
      .select("id").as[Long].collect().toSeq
    assert(pick == again, "re-runs must be byte-identical")
    assert(!pick.contains(501L), "zero-weight rows never win a ticket")
    assert(pick.contains(500L),
      "a 5000-ticket row among 200 single-ticket rows belongs in the top 20")
    // maxWeight caps the per-row ticket loop, not correctness
    val capped = CorpusOps.weightedSample(rows, "id", $"w", k = 20, maxWeight = 10)
      .select("id").as[Long].collect().toSeq
    assert(capped.nonEmpty && !capped.contains(501L))
    // k > |positive-weight rows|: zero/NULL-weight rows must NOT back-fill
    val tiny = Seq((1L, Some(5L)), (2L, Some(0L)), (3L, None), (4L, Some(2L)))
      .toDF("id", "w")
    val kept = CorpusOps.weightedSample(tiny, "id", $"w", k = 10)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L), s"weighted-out rows leaked: $kept")
  }

  test("repeatMix: whole epochs exact, fractional part deterministic, <=0 drops") {
    val rows = (1L to 1000L).map(i => (i, "d")).toDF("id", "grp")
    // factor 2.25: every row gets 2 copies, ~25% get a third
    val out = CorpusOps.repeatMix(rows, "id", lit(22500L))
      .groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(out.size == 1000 && out.values.forall(c => c == 2 || c == 3))
    val extra = out.values.count(_ == 3)
    assert(extra > 150 && extra < 350, s"fractional quarter off: $extra/1000")
    // epochs are 1..copies with no gaps
    val epochs = CorpusOps.repeatMix(rows.limit(1), "id", lit(22500L))
      .select("epoch").as[Long].collect().sorted
    assert(epochs.head == 1L && epochs.toSeq == (1L to epochs.length))
    // deterministic + factor 0 drops everything
    val a = CorpusOps.repeatMix(rows, "id", lit(2500L)).count()
    val b = CorpusOps.repeatMix(rows, "id", lit(2500L)).count()
    assert(a == b && a > 150 && a < 350, s"25% downsample off: $a")
    assert(CorpusOps.repeatMix(rows, "id", lit(0L)).count() == 0)
  }

  test("budgetFill: inclusive prefix cut per stratum, priority order, oversized dropped") {
    val rows = Seq(
      (1L, "a", 50L), (2L, "a", 30L), (3L, "a", 30L), (4L, "a", 10L),
      (5L, "b", 200L), (6L, "b", 90L)).toDF("id", "grp", "tok")
    val got = CorpusOps.budgetFill(rows, "grp", "id", $"tok", $"tok", budget = 100L)
      .select("id", "cum_tokens").as[(Long, Long)].collect().toMap
    // a: 50(cum 50) + 30(80) + 30(110 > 100 → out) … id2 before id3 by tie-break
    assert(got == Map(1L -> 50L, 2L -> 80L, 6L -> 90L), s"got $got")
    // negative token counts are rejected, not allowed to un-break the prefix
    val neg = Seq((1L, "a", 90L), (2L, "a", 60L), (3L, "a", -80L), (4L, "a", 20L))
      .toDF("id", "grp", "tok")
    val got2 = CorpusOps.budgetFill(neg, "grp", "id", $"tok", $"tok", budget = 100L)
      .select("id").as[Long].collect().toSet
    assert(got2 == Set(1L), s"negative-token row corrupted the prefix cut: $got2")
  }

  test("stratifiedSample is deterministic, capped at k, and within-stratum") {
    val df = (0L until 100L).map(i => (i, s"s${i % 3}")).toDF("id", "grp")
    val a = CorpusOps.stratifiedSample(df, "grp", "id", k = 5).orderBy("grp", "id").collect()
    val b = CorpusOps.stratifiedSample(df, "grp", "id", k = 5).orderBy("grp", "id").collect()
    assert(a.sameElements(b))
    assert(a.length == 15)
    assert(a.groupBy(_.getString(1)).forall(_._2.length == 5))
  }

  test("temperatureMix keeps ceil(scale*sqrt(n)) per stratum, capped at n") {
    val df = ((0L until 100L).map(i => (i, "big")) ++ (100L until 104L).map(i => (i, "tiny")))
      .toDF("id", "grp")
    val got = CorpusOps.temperatureMix(df, "grp", "id", scale = 2.0)
      .groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(got("big") == 20L)  // ceil(2*sqrt(100))
    assert(got("tiny") == 4L)  // capped at |s|
  }

  test("packSequencesGlobal equals the naive global window; bins span shards") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq(
      (1L, "a", 300L), (2L, "a", 300L),   // shard a: 600 tokens
      (3L, "b", 100L), (4L, "b", 300L),   // shard b starts at offset 600
      (5L, "c", 50L)
    ).toDF("id0", "shard0", "tok")
    val twoPhase = CorpusOps.packSequencesGlobal(df, "shard0", "id0", col("tok"), budget = 512L)
      .select("id", "bin", "gprefix").as[(Long, Long, Long)].collect().toSet
    val naive = df
      .withColumn("pre", coalesce(sum(col("tok")).over(
        Window.orderBy("shard0", "id0").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("id0"), floor(col("pre").cast("double") / 512.0).cast("long"), col("pre"))
      .as[(Long, Long, Long)].collect().toSet
    assert(twoPhase == naive)
    // doc 3 (shard b, gprefix 600) lands in bin 1 opened by shard a's tokens
    assert(twoPhase.contains((3L, 1L, 600L)))
  }

  test("packSequences: bins cut at the budget, may overrun by one doc") {
    val df = Seq((1L, "s", 300L), (2L, "s", 300L), (3L, "s", 300L), (4L, "s", 50L))
      .toDF("id0", "shard0", "tok")
    val got = CorpusOps.packSequences(df, "shard0", "id0", col("tok"), budget = 512L)
      .orderBy("id").select("bin", "prefix").as[(Long, Long)].collect().toSeq
    // prefixes 0,300,600,900 → bins 0,0,1,1 (doc 2 overruns bin 0 to 600)
    assert(got == Seq((0L, 0L), (0L, 300L), (1L, 600L), (1L, 900L)))
  }

  test("redactPii counts and masks emails, IPs and phones; corpus is untouched") {
    val df = Seq(
      "mail bob.smith+x@ex-ample.org now",
      "host 192.168.0.1 and 10.0.0.255 up",
      "call +1 (555) 123-4567 or 555 987 6543",
      "nothing sensitive here 42").toDF("text")
    val got = CorpusOps.redactPii(df, "text")
      .select("n_emails", "n_ipv4", "n_phones", "redacted")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got(0) == ((1L, 0L, 0L, "mail [EMAIL] now")))
    assert(got(1) == ((0L, 2L, 0L, "host [IP] and [IP] up")))
    assert(got(2)._3 == 2L && got(2)._4 == "call [PHONE] or [PHONE]")
    assert(got(3) == ((0L, 0L, 0L, "nothing sensitive here 42")))
    // no false positives across the documents fixture
    val touched = CorpusOps.redactPii(
        spark.read.parquet(s"$sfDir/documents.parquet"), "text")
      .filter(col("redacted") =!= col("text")).count()
    assert(touched == 0L)
  }

  test("quality-gate metrics run unchanged on a stream (per-row, no state)") {
    // repetitionStats is a per-row reduction (native run-stats kernel),
    // so the same op gates a live stream with no aggregation state —
    // the streaming-curation path a kasper-style topology would run
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val s = spark.sqlContext
    val rows = Seq((1L, "a b a b a b"), (2L, "w x y z w x"), (3L, "p q r s"))
    val in = MemoryStream[(Long, String)]
    val gated = CorpusOps.repetitionStats(in.toDF.toDF("doc_id", "text"), "doc_id", "text", n = 2)
      .filter(col("dup_frac") <= 0.5)
    val q = gated.writeStream.format("memory").queryName("curation_gate")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("curation_gate")
        .select("id", "dup_frac").as[(Long, Double)].collect().toSet
      val batch = CorpusOps.repetitionStats(rows.toDF("doc_id", "text"), "doc_id", "text", n = 2)
        .filter(col("dup_frac") <= 0.5)
        .select("id", "dup_frac").as[(Long, Double)].collect().toSet
      assert(streamed == batch && streamed.map(_._1) == Set(2L, 3L))
    } finally q.stop()
  }

  test("streaming decontamination gates each micro-batch against the static benchmark") {
    // the per-epoch batch model (kasper's Process(msgs) shape): every
    // micro-batch anti-joins the broadcast held-out gram set
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val s = spark.sqlContext
    val held = Seq((1L, "the quick brown fox jumps over")).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    val q = in.toDF.toDF("doc_id", "text").writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val contaminated = CorpusOps.decontaminate(batch, held, "doc_id", "text", n = 4)
          .select(col("id").as("doc_id"))
        val clean = batch.join(contaminated, Seq("doc_id"), "left_anti")
          .select("doc_id").as[Long].collect()
        out.synchronized { out ++= clean }
        ()
      }.start()
    try {
      in.addData((10L, "the quick brown fox jumps"), (11L, "different words entirely okay"))
      q.processAllAvailable()
      assert(out.toSet == Set(11L))
    } finally q.stop()
  }

  test("chunkTokens: stepped starts, short tail chunk, empty docs emit nothing") {
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6"), // 7 tokens, size 4 / overlap 1 → starts 0,3,6
      (2L, "only two"),             // 2 tokens → one short chunk
      (3L, " \t ")                  // tokenizes empty → no rows
    ).toDF("doc_id", "text")
    val got = CorpusOps.chunkTokens(docs, "doc_id", "text", chunkSize = 4, overlap = 1)
      .orderBy("id", "chunk_idx")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 0L, 4L, "t0 t1 t2 t3"),
      (1L, 1L, 3L, 4L, "t3 t4 t5 t6"),
      (1L, 2L, 6L, 1L, "t6"),
      (2L, 0L, 0L, 2L, "only two")))
  }

  test("chunkTokens with zero overlap partitions the token stream exactly") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val chunks = CorpusOps.chunkTokens(docs, "doc_id", "text", chunkSize = 32, overlap = 0)
    val perDoc = chunks.groupBy("id").agg(sum("n_tokens").as("chunked"))
    val truth = docs.select(col("doc_id").as("id"),
      graft.text.TextFunctions.tokenCount(col("text")).as("total"))
    // zero overlap → chunk token counts tile the document with no gap/overlap
    val mismatch = perDoc.join(truth, "id")
      .filter(col("chunked") =!= col("total")).count()
    assert(mismatch == 0)
    assert(intercept[IllegalArgumentException] {
      CorpusOps.chunkTokens(docs, "doc_id", "text", chunkSize = 4, overlap = 4)
    }.getMessage.contains("overlap"))
  }

  test("chunkTokens runs unchanged on a stream (stateless projection)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.DataFrame
    implicit val s = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
    val q = CorpusOps.chunkTokens(in.toDF.toDF("doc_id", "text"),
        "doc_id", "text", chunkSize = 3, overlap = 1)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.select("id", "chunk_idx", "chunk_text")
          .as[(Long, Long, String)].collect()
        out.synchronized { out ++= rows }
        ()
      }.start()
    try {
      in.addData((1L, "a b c d e"))
      q.processAllAvailable()
      assert(out.sorted.toSeq == Seq((1L, 0L, "a b c"), (1L, 1L, "c d e"), (1L, 2L, "e")))
    } finally q.stop()
  }

  test("quantizeInt8 codes are in [-128,127], monotone, and constant vectors code 0") {
    val df = Seq(
      (1L, Array(0.0f, 0.5f, 1.0f)),
      (2L, Array(2.0f, 2.0f, 2.0f))
    ).toDF("vec_id", "embedding")
    val got = CorpusOps.quantizeInt8(df, "vec_id", "embedding")
      .orderBy("id", "pos").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L, -128L), (1L, 1L, -1L), (1L, 2L, 127L),
      (2L, 0L, 0L), (2L, 1L, 0L), (2L, 2L, 0L)))
  }

  test("quantizeInt8Stats equals the exploded-groupBy stats bit for bit, with no shuffle") {
    val e = graft.core.Tables(spark, sfDir).embeddings
    val viaGroupBy = CorpusOps.quantizeInt8(e, "vec_id", "embedding")
      .groupBy(col("id"))
      .agg(min("code").as("code_min"), max("code").as("code_max"),
        sum("code").as("code_sum"), countDistinct(col("code")).as("n_codes"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val oneScan = CorpusOps.quantizeInt8Stats(e, "vec_id", "embedding")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(oneScan == viaGroupBy)
    // the single-scan form must not shuffle beyond the spread exchange:
    // no aggregate, no Expand in its plan
    val plan = CorpusOps.quantizeInt8Stats(e, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("Expand"),
      "stats must fold row-locally")
  }

  test("interleaveDomains: round-robin seq, gaps after exhaustion, no corpus-wide window") {
    val d = Seq(
      (10L, "a"), (11L, "a"), (12L, "a"),
      (20L, "b"), (21L, "b"),
      (30L, "c")
    ).toDF("doc_id", "lang")
    val got = CorpusOps.interleaveDomains(d, "lang", "doc_id")
      .orderBy("seq").as[(Long, String, Long, Long)].collect().toSeq
    // D=3, dix a=0 b=1 c=2: seq = (pos-1)*3 + dix — first rows of all
    // domains, then second rows, with gaps where b/c ran out
    assert(got == Seq(
      (10L, "a", 1L, 0L), (20L, "b", 1L, 1L), (30L, "c", 1L, 2L),
      (11L, "a", 2L, 3L), (21L, "b", 2L, 4L),
      (12L, "a", 3L, 6L)))
    // seq is an ordering key, not a dense rank: collision-free
    assert(got.map(_._4).distinct.size == got.size)
  }

  test("groupSplit: dup components never straddle a split; singletons hash on own id") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = CorpusOps.groupSplit(ids, "doc_id", pairs, "id_a", "id_b")
      .select("doc_id", "group", "bucket", "split")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    // every member of a component shares group, bucket, and split
    val byGroup = got.groupBy(_._2)
    assert(byGroup(1L).map(g => (g._3, g._4)).distinct.size == 1)
    assert(byGroup(5L).map(g => (g._3, g._4)).distinct.size == 1)
    assert(got.find(_._1 == 4L).get._2 == 4L, "singleton keeps own id as group")
    // bucket is the Knuth hash of the group in basis points
    got.foreach { case (_, grp, bucket, split) =>
      val expect = ((grp * 2654435761L) % 1000000007L) % 10000L
      assert(bucket == expect)
      val want = if (bucket < 9000) "train" else if (bucket < 9500) "val" else "test"
      assert(split == want)
    }
    // custom cuts validate
    intercept[IllegalArgumentException] {
      CorpusOps.groupSplit(ids, "doc_id", pairs, "id_a", "id_b",
        cuts = Seq(("train", 5000), ("val", 4000)))
    }
  }

  test("contaminationStats: fraction of distinct grams hit, any-hit agrees with decontaminate") {
    val corpus = Seq(
      (100L, "a b c d e f"),      // grams: abcd bcde cdef
      (101L, "x y z w v"),        // no overlap
      (102L, "a b c d x y z w")   // abcd hit, rest clean
    ).toDF("doc_id", "text")
    val held = Seq((1L, "a b c d e")).toDF("doc_id", "text") // abcd bcde
    val got = CorpusOps.contaminationStats(corpus, held, "doc_id", "text", n = 4)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (100L, 3L, 2L, 2.0 / 3.0),
      (101L, 2L, 0L, 0.0),
      (102L, 5L, 1L, 1.0 / 5.0)))
    // any-hit (frac > 0) must agree with the q47 decontaminate hit list
    val anyHit = got.filter(_._4 > 0).map(_._1).toSet
    val q47 = CorpusOps.decontaminate(corpus, held, "doc_id", "text", n = 4)
      .select("id").as[Long].collect().toSet
    assert(anyHit == q47)
  }

  test("vocabGrowth: Heaps curve exact on a crafted corpus, empty slices and empty docs included") {
    val d = Seq(
      (0L, "a b"), (1L, "a"),      // slice 1: new types a,b; 3 tokens
      (2L, "b c"), (3L, ""),       // slice 2: new c; 2 tokens
      (4L, ""), (5L, ""),          // slice 3: empty — still a row
      (6L, "c a"), (7L, "d"),      // slice 4: new d; 3 tokens
      (8L, "e e e"), (9L, "a")     // slice 5: new e; 4 tokens
    ).toDF("doc_id", "text")
    val got = CorpusOps.vocabGrowth(d, "doc_id", "text", buckets = 5)
      .select("bucket", "n_docs", "new_types", "types_cum", "n_tokens", "tokens_cum")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 2L, 3L, 3L),
      (2L, 2L, 1L, 3L, 2L, 5L),
      (3L, 2L, 0L, 3L, 0L, 5L),
      (4L, 2L, 1L, 4L, 3L, 8L),
      (5L, 2L, 1L, 5L, 4L, 12L)), s"curve: $got")
    // ttr is null exactly while the cumulative token count is 0
    val d2 = Seq((0L, ""), (1L, ""), (2L, "x y"), (3L, "x"))
      .toDF("doc_id", "text")
    val ttr = CorpusOps.vocabGrowth(d2, "doc_id", "text", buckets = 2)
      .select("bucket", "ttr").as[(Long, Option[Double])].collect().toMap
    assert(ttr(1L).isEmpty, "no tokens yet -> ttr null, not NaN")
    assert(ttr(2L).contains(2.0 / 3.0))
  }

  test("vocabTopK: df/tf correct, deterministic cut, no countDistinct Expand") {
    val d = Seq(
      (1L, "a a b c"),
      (2L, "a b"),
      (3L, "b d")
    ).toDF("doc_id", "text")
    val got = CorpusOps.vocabTopK(d, "doc_id", "text", k = 3)
      .as[(String, Long, Long)].collect().toSeq
    // df desc, token asc: b(3), a(2), c(1) before d(1)
    assert(got == Seq(("b", 3L, 3L), ("a", 2L, 3L), ("c", 1L, 1L)))
    val plan = CorpusOps.vocabTopK(d, "doc_id", "text", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    assert(!plan.contains("Expand"), "df must come from pre-grouped rows, not countDistinct")
  }

  test("bpeTrain: greedy merges, non-overlapping left-to-right, early exhaust") {
    // wc: "aaaa"×2, "ab"×1 → round 1 merges (a,a) with count 2·3=6... no:
    // pair count is SUM OVER WORDS of per-word occurrences: "aaaa" has 3
    // adjacent (a,a) positions × cnt 2 = 6; plus (a,b)=1
    val d = Seq((1L, "aaaa ab"), (2L, "aaaa")).toDF("doc_id", "text")
    val got = CorpusOps.bpeTrain(d, "text", iters = 10)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(got.head == ((1L, "a", "a", "aa", 6L)))
    // greedy left-to-right: "a a a a" → ["aa","aa"], never ["a","aa","a"],
    // so round 2 sees (aa,aa)=2 and (a,b)=1
    assert(got(1) == ((2L, "aa", "aa", "aaaa", 2L)))
    assert(got(2) == ((3L, "a", "b", "ab", 1L)))
    // nothing left to merge: loop exhausts before iters
    assert(got.size == 3)
  }

  test("bpeEncodeStats applies merges in rank order inside one scan") {
    val d = Seq((1L, "aaaa ab"), (2L, "cd")).toDF("doc_id", "text")
    // merges (a,a) then (aa,aa): "aaaa"→1 token, "ab"→2, "cd"→2
    val got = CorpusOps.bpeEncodeStats(d, "doc_id", "text",
        Seq(("a", "a"), ("aa", "aa")))
      .orderBy("id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 6L, 3L, 2.0), (2L, 2L, 2L, 1.0)))
    // rank order matters: (aa,aa) before (a,a) can't fire on raw chars
    val rev = CorpusOps.bpeEncodeStats(d, "doc_id", "text",
        Seq(("aa", "aa"), ("a", "a")))
      .orderBy("id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(rev.head._3 == 4L) // "aaaa" only pairs down to ["aa","aa"]
    val plan = CorpusOps.bpeEncodeStats(d, "doc_id", "text", Seq(("a", "a")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"encode must be a literal replace chain, not a join:\n$plan")
  }

  test("bpeTrain tie-break is (count desc, pair lexicographic)") {
    val d = Seq((1L, "xy"), (2L, "ab")).toDF("doc_id", "text")
    val got = CorpusOps.bpeTrain(d, "text", iters = 1)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a", "b", "ab", 1L))) // (a,b) < (x,y) at equal count
  }

  test("bpeTrain/bpeEncodeStats: merges never cross symbol boundaries") {
    // merge 1 creates symbol "xa"; the later (a,b) merge must NOT fire
    // inside "xab"'s ["xa","b"] form — the single-separator replace
    // ("xa<sep>b" contains "a<sep>b") merged exactly there
    val d = Seq((1L, ("xa " * 10).trim), (2L, "ab ab ab ab"),
      (3L, "xab xab xab")).toDF("doc_id", "text")
    val got = CorpusOps.bpeTrain(d, "text", iters = 4)
      .as[(Long, String, String, String, Long)].collect().toSeq
    // (x,a)=13 > (a,b)=7; after merging (x,a), "xab" holds NO (a,b) pair
    assert(got == Seq(
      (1L, "x", "a", "xa", 13L),
      (2L, "a", "b", "ab", 4L),
      (3L, "xa", "b", "xab", 3L)), s"got $got")
    val enc = CorpusOps.bpeEncodeStats(d, "doc_id", "text",
        Seq(("x", "a"), ("a", "b")))
      .orderBy("id").as[(Long, Long, Long, Double)].collect().toSeq
    // "xab" encodes to ["xa","b"] (2 tokens), not a boundary-crossed ["xab"]
    assert(enc(2) == ((3L, 9L, 6L, 1.5)), s"got $enc")
  }

  test("bpeTrain batched commits equal sequential greedy on random corpora") {
    // driver-side reference: the textbook one-merge-at-a-time trainer
    def refBpe(wordCnts: Seq[(String, Long)], iters: Int): Seq[(String, String, Long)] = {
      var words: Map[Vector[String], Long] = wordCnts
        .map { case (w, c) => w.split("").filter(_.nonEmpty).toVector -> c }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val out = Seq.newBuilder[(String, String, Long)]
      var r = 0
      var stop = false
      while (r < iters && !stop) {
        val pairs = words.toSeq.flatMap { case (syms, c) =>
          syms.sliding(2).collect { case Vector(a, b) => (a, b) -> c }.toSeq
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        if (pairs.isEmpty) stop = true
        else {
          val ((a, b), c) = pairs.minBy { case ((a, b), c) => (-c, a, b) }
          out += ((a, b, c))
          words = words.toSeq.map { case (syms, cnt) =>
            val nb = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                nb += (a + b); i += 2
              } else { nb += syms(i); i += 1 }
            }
            nb.result() -> cnt
          }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
          r += 1
        }
      }
      out.result()
    }
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val alphabet = "abc"
      val wordCnts = (1 to 10).map { _ =>
        val len = 1 + rng.nextInt(5)
        val w = (1 to len).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
        (w, 1L + rng.nextInt(4))
      }
      val docs = wordCnts.zipWithIndex.map { case ((w, c), i) =>
        (i.toLong, (s"$w " * c.toInt).trim)
      }.toDF("doc_id", "text")
      val want = refBpe(wordCnts, iters = 8)
      val got = CorpusOps.bpeTrain(docs, "text", iters = 8)
        .orderBy("merge_rank")
        .as[(Long, String, String, String, Long)].collect().toSeq
        .map(r => (r._2, r._3, r._5))
      assert(got == want, s"trial $trial: batched $got != sequential $want")
    }
  }

  test("bpeTrain: 256 merges commit in sublinearly many Spark jobs") {
    // 256 symbol-disjoint two-char words with strictly decreasing
    // frequencies: every batch validates fully, so the doubling batch
    // schedule needs ~5 driver rounds (~3 jobs each), not 256 loops
    val words = (0 until 256).map { i =>
      val w = "" + (0x4E00 + 2 * i).toChar + (0x4E00 + 2 * i + 1).toChar
      (w, 300L - i)
    }
    val docs = words.zipWithIndex.map { case ((w, c), i) =>
      (i.toLong, (s"$w " * c.toInt).trim)
    }.toDF("doc_id", "text")
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    val got = CorpusOps.bpeTrain(docs, "text", iters = 256)
      .orderBy("merge_rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
    val jobs = tracker.getJobIdsForGroup(null).length - before
    assert(got.size == 256)
    // every merge is the expected rank-ordered pair with its exact count
    got.zipWithIndex.foreach { case ((rank, lhs, rhs, merged, c), i) =>
      val (w, cnt) = words(i)
      assert(rank == i + 1L && lhs == w.substring(0, 1) && rhs == w.substring(1)
        && merged == w && c == cnt, s"merge $i: ${got(i)} vs $w x$cnt")
    }
    assert(jobs < 64, s"expected sublinear job count for 256 merges, ran $jobs jobs")
  }

  test("incrementalAgg: deltas fold exactly; emptied groups vanish, new groups appear") {
    val prev = Seq(("a", 2L, 30L), ("b", 1L, 5L)).toDF("g", "n", "s")
    val added = Seq(("a", 7L), ("c", 1L)).toDF("g", "v")     // grow a, create c
    val removed = Seq(("b", 5L), ("a", 10L)).toDF("g", "v")  // empty b, shrink a
    val got = CorpusOps.incrementalAgg(prev, added, removed, Seq("g"), "v")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 2L, 27L), ("c", 1L, 1L)))
  }

  test("snapshotDiff classifies added/removed/changed/same") {
    val old = Seq((1L, "h1"), (2L, "h2"), (3L, "h3")).toDF("id", "fp")
    val neu = Seq((2L, "h2"), (3L, "h3x"), (4L, "h4")).toDF("id", "fp")
    val got = CorpusOps.snapshotDiff(old, neu, "id", "fp")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "removed", 2L -> "same", 3L -> "changed", 4L -> "added"))
  }

  test("sigmaClip flags exactly the >kσ rows (checked against a double-math reference)") {
    // crafted: nine near-mean values and one far outlier
    val xs = Seq(100L, 101L, 99L, 100L, 102L, 98L, 100L, 101L, 99L, 500L)
    val d = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("id", "x")
    val got = CorpusOps.sigmaClip(d, "id", "x", k = 2)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    val n = xs.size.toDouble
    val mean = xs.sum / n
    val sd = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / n)
    got.foreach { case (id, x, flag) =>
      val want = math.abs(x - mean) > 2 * sd
      assert(flag == want, s"id=$id x=$x: got $flag want $want")
    }
    assert(got.count(_._3) == 1 && got.find(_._3).get._2 == 500L)
  }

  test("negativeSample: excluded pairs never surface, ranking is deterministic") {
    val cands = (0L until 40L).toDF("id")
    val probes = Seq(1L, 2L).toDF("id")
    // exclude everything but ids 30..39 for probe 1 — negatives must
    // come only from the allowed tail
    val excl = (0L until 30L).map(c => (1L, c)).toDF("pid", "cid")
    val got = CorpusOps.negativeSample(cands, "id", probes, "id", excl, k = 3)
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    assert(got(1L).forall(_._2 >= 30L),
      s"excluded candidate sampled: ${got(1L).toSeq}")
    assert(got(1L).length == 3 && got(2L).length == 3)
    got(2L).foreach { case (p, c, _) => assert(c != p, "self-pair sampled") }
    // reproducible under any partitioning
    val again = CorpusOps.negativeSample(cands.repartition(7), "id",
        probes.repartition(2), "id", excl, k = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(again == got.values.flatten.toSet)
  }

  test("vocabCoverage: OOV rate counts occurrences, not types; deterministic cut") {
    val docs = Seq(
      (1L, "en", "the the the cat"),
      (2L, "en", "the dog"),
      (3L, "fr", "le le zèbre")).toDF("doc_id", "lang", "text")
    // top-2 vocab by df: "the" (df 2) and "le"? df: the=2, cat=1, dog=1,
    // le=1, zèbre=1 → ties at df 1 cut lexicographically: vocab = {the, cat}
    val got = CorpusOps.vocabCoverage(docs, "doc_id", "text", "lang", k = 2)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // en: 6 tokens, covered = the×4 + cat×1 = 5 → oov 1/6
    assert(got("en") == (("en", 6L, 5L, 1.0 / 6.0)))
    // fr: 3 tokens, none in vocab → oov 1.0
    assert(got("fr") == (("fr", 3L, 0L, 1.0)))
  }

  test("winsorizedStats clamps to the discrete rank fences") {
    // 20 values in one group: p05 fence = value at rank ⌈0.05·20⌉ = 1,
    // p95 = rank ⌈0.95·20⌉ = 19 → lo = 2nd-smallest... rank 1 IS the
    // minimum here, so craft a clear case: ranks 1..20 hold 0,10,20,…,190
    val xs = (0L until 20L).map(_ * 10L)
    val d = xs.zipWithIndex.map { case (x, i) => ("g", i.toLong, x) }
      .toDF("grp", "id", "x")
    val r = CorpusOps.winsorizedStats(d, "grp", "x", pTailBp = 500)
      .as[(String, Long, Long, Long, Long, Double)].head()
    // lo = value at rank 1 = 0; hi = value at rank 19 = 180 → only 190
    // clamps (to 180): sum = Σ(0..190 by 10) − 10 = 1900 − 10
    assert(r == (("g", 20L, 0L, 180L, 1890L, 94.5)))
  }

  test("winsorizedStats with wider tails pulls both fences in; untouched data keeps its sum") {
    val xs = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L)
    val d = xs.zipWithIndex.map { case (x, i) => ("g", i.toLong, x) }
      .toDF("grp", "id", "x")
    // 20% tails: lo = rank ⌈2⌉ = 2, hi = rank 8 → clamp 1→2, 9→8, 10→8
    val r = CorpusOps.winsorizedStats(d, "grp", "x", pTailBp = 2000)
      .as[(String, Long, Long, Long, Long, Double)].head()
    assert((r._3, r._4) == ((2L, 8L)))
    assert(r._5 == xs.map(x => math.max(2L, math.min(8L, x))).sum)
    // 5% tails on 10 rows: fences at ranks 1 and 10 = min/max → no-op
    val id0 = CorpusOps.winsorizedStats(d, "grp", "x", pTailBp = 500)
      .as[(String, Long, Long, Long, Long, Double)].head()
    assert(id0._5 == xs.sum)
    intercept[IllegalArgumentException] {
      CorpusOps.winsorizedStats(d, "grp", "x", pTailBp = 5000)
    }
  }

  test("vocabOverlap: exact pairwise set counts, duplicate tokens collapse, empty intersections omitted") {
    val docs = Seq(
      ("s1", "a b c"), ("s1", "b c d"),   // V1 = {a,b,c,d}
      ("s2", "c d e"),                    // V2 = {c,d,e}
      ("s3", "x y")                       // V3 = {x,y} — disjoint
    ).toDF("source", "text")
    val got = CorpusOps.vocabOverlap(docs, "source", "text")
      .as[(String, String, Long, Long, Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(got.keySet == Set(("s1", "s2")), s"pairs: ${got.keySet}")
    val (_, _, nvA, nvB, inter, union, j) = got(("s1", "s2"))
    assert((nvA, nvB, inter, union) == (4L, 3L, 2L, 5L))
    assert(j == 2.0 / 5.0)
    spark.catalog.clearCache()
  }
}
