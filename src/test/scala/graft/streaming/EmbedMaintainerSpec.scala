package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

import graft.ops.GraphOps
import graft.functions.VectorOps

class EmbedMaintainerSpec extends SparkSpec {
  import spark.implicits._

  // two 4-cliques joined by a bridge — enough co-occurrence structure
  // for a positive-lift pair corpus in every start-parity slice
  private def cliqueEdges: Seq[(Long, Long)] = {
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a != b) yield (a, b)
    clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L, 14L)) ++
      Seq((4L, 11L), (11L, 4L))
  }

  private def walkCorpus = GraphOps.hashWalks(
    cliqueEdges.toDF("src", "dst"), "src", "dst", steps = 3, walksPerNode = 2)

  test("EmbedMaintainer: rebuilds track the maintained pair table exactly; replay skips") {
    val walks = walkCorpus.cache()
    val cm = new CooccurMaintainer(window = 2)
    val em = new EmbedMaintainer(dims = 4, iters = 2, cells = 2)
    (0 to 1).foreach { b =>
      cm.ingest(b, walks.filter(col("start") % 2 === b))
      em.rebuildFrom(cm, b, spark)
    }
    em.rebuildFrom(cm, 1, spark) // re-delivered trigger: idempotent skip

    // the final rebuild equals a batch chain over everything ingested
    // (integer PPMI is partition-invariant, so set equality is exact)
    val direct = GraphOps.ppmiEmbedInt(GraphOps.skipGramPairs(walks, 2),
        "center", "context", "n", dims = 4, iters = 2)
      .as[(Long, Long, Long)].collect().toSet
    val maintained = em.embeddings.as[(Long, Long, Long)].collect().toSet
    assert(maintained == direct,
      "maintained embeddings must equal the batch chain over all walks")

    val tele = em.telemetry(spark)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(tele.map(_._2) ==
      Seq("built", "rebuilt", "rebuilt", "replay_skipped"), s"got $tele")
    val nNodes = direct.map(_._1).size.toLong
    val sumVal = direct.toSeq.map(_._3).sum
    assert(tele.last == ((1L, "replay_skipped", nNodes, sumVal, nNodes)),
      s"replay row must repeat the last rebuild's exact gauges, got ${tele.last}")

    // the serving path: full-probe search over the maintained index is
    // the exact cosine top-k of the maintained vectors
    val vecs = GraphOps.embedVectors(em.embeddings).cache()
    val brute = VectorOps.annBruteForce(
        vecs, "id", "embedding", vecs, "id", "embedding", k = 2)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val served = em.search(vecs, "id", "embedding", k = 2, nprobe = 2)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert(served == brute)

    em.close(); cm.close()
    vecs.unpersist(blocking = false)
    walks.unpersist(blocking = false)
    graft.ops.ScaleOps.release()
    spark.catalog.clearCache()
  }

  test("EmbedMaintainer: a failed gauge job inside rebuildFrom leaks no blocks and leaves state untouched") {
    // r15 advice: the lazy checkpoint created inside ScaleOps.scoped is
    // untracked — if the materializing gauge job throws, rebuildFrom
    // itself must release it (the scope sweep only drains TRACKED
    // interiors). Injected via the gauge test seam; the resident-RDD set
    // must come back to the pre-call baseline and the maintainer must
    // still be generation-less.
    val walks = walkCorpus.cache()
    val cm = new CooccurMaintainer(window = 2)
    cm.ingest(0, walks)
    graft.ops.ScaleOps.release()
    val resident0 = spark.sparkContext.getPersistentRDDs.keySet
    val em = new EmbedMaintainer(dims = 4, iters = 2, cells = 2)
    em.failNextGauge = true
    val ex = intercept[RuntimeException](em.rebuildFrom(cm, 0, spark))
    assert(ex.getMessage.contains("injected gauge failure"), ex.getMessage)
    graft.ops.ScaleOps.release() // drain anything the trainer tracked
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- resident0
    assert(leaked.isEmpty, s"gauge-failure path leaked blocks: $leaked")
    intercept[IllegalStateException](em.embeddings)
    // the maintainer is still usable: the next (non-poisoned) rebuild works
    em.rebuildFrom(cm, 0, spark)
    assert(em.embeddings.count() > 0)
    em.close(); cm.close()
    walks.unpersist(blocking = false)
    graft.ops.ScaleOps.release()
    spark.catalog.clearCache()
  }

  test("EmbedMaintainer: save/load restores embeddings, index, and the rebuild watermark") {
    val walks = walkCorpus.cache()
    val cm = new CooccurMaintainer(window = 2)
    val em = new EmbedMaintainer(dims = 4, iters = 2, cells = 2)
    cm.ingest(0, walks)
    em.rebuildFrom(cm, 0, spark)
    val before = em.embeddings.as[(Long, Long, Long)].collect().toSet
    withTempDir("graft_embm") { tmp =>
      val dir = tmp.toString
      em.save(dir)
      em.close()

      val m2 = EmbedMaintainer.load(spark, dir)
      val after = m2.embeddings.as[(Long, Long, Long)].collect().toSet
      assert(after == before, "loaded embeddings must equal the saved table")
      val tele = m2.telemetry(spark)
        .as[(Long, String, Long, Long, Long)].collect().toSeq
      assert(tele.map(_._2) == Seq("built", "loaded"), s"got $tele")
      assert(tele.last._3 == before.map(_._1).size.toLong &&
        tele.last._4 == before.toSeq.map(_._3).sum,
        "loaded gauges must match the saved table exactly")

      // the watermark survives: the pre-crash trigger re-delivers and skips
      m2.rebuildFrom(cm, 0, spark)
      assert(m2.telemetry(spark).as[(Long, String, Long, Long, Long)]
        .collect().last._2 == "replay_skipped")
      // the loaded index serves without retraining (full probe == exact)
      val vecs = GraphOps.embedVectors(m2.embeddings).cache()
      val brute = VectorOps.annBruteForce(
          vecs, "id", "embedding", vecs, "id", "embedding", k = 2)
        .select("qid", "id").as[(Long, Long)].collect().toSet
      val served = m2.search(vecs, "id", "embedding", k = 2, nprobe = 2)
        .select("qid", "id").as[(Long, Long)].collect().toSet
      assert(served == brute)

      m2.close(); cm.close()
      vecs.unpersist(blocking = false)
      walks.unpersist(blocking = false)
      graft.ops.ScaleOps.release()
      spark.catalog.clearCache()
    }
  }

  test("EmbedMaintainer withMips: dot generation maintained, exact gauges, marker-gated restore") {
    val walks = walkCorpus.cache()
    val cm = new CooccurMaintainer(window = 2)
    val em = new EmbedMaintainer(dims = 4, iters = 2, cells = 2, withMips = true)
    (0 to 1).foreach { b =>
      cm.ingest(b, walks.filter(col("start") % 2 === b))
      em.rebuildFrom(cm, b, spark)
    }
    em.rebuildFrom(cm, 1, spark) // re-delivered trigger

    // MIPS telemetry: same action sequence as the cosine log, gauges
    // exact integers recomputable from the embedding table (max Σ val²)
    val emb = em.embeddings.as[(Long, Long, Long)].collect().toSeq
    val nNodes = emb.map(_._1).distinct.size.toLong
    val msq = emb.groupBy(_._1).map { case (_, rs) =>
      rs.map(r => r._3 * r._3).sum }.max
    val tele = em.mipsTelemetry(spark)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(tele.map(_._2) ==
      Seq("built", "rebuilt", "rebuilt", "replay_skipped"), s"got $tele")
    assert(tele.last == ((1L, "replay_skipped", nNodes, msq, nNodes)),
      s"replay row must repeat the last rebuild's exact MIPS gauges, got ${tele.last}")

    // full-probe searchDot == the exact dot top-2 of the maintained
    // vectors (driver-recomputed, sequential fold = kernel order)
    val vecs = GraphOps.embedVectors(em.embeddings).cache()
    val vm = vecs.as[(Long, Array[Float])].collect().toMap
    val brute = vm.keys.flatMap { q =>
      val qv = vm(q).map(_.toDouble)
      vm.keys.filter(_ != q).toSeq
        .map(i => (i, vm(i).map(_.toDouble).zip(qv)
          .map { case (x, y) => x * y }.sum))
        .sortBy { case (i, d) => (-d, i) }.take(2).map { case (i, _) => (q, i) }
    }.toSet
    val served = em.searchDot(vecs, "id", "embedding", k = 2, nprobe = 2)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert(served == brute, "full-probe maintained MIPS must be the exact dot top-k")

    // save/load restores the MIPS generation (marker-validated) and the
    // lifecycle log notes it
    withTempDir("graft_embm_mips") { tmp =>
      val dir = tmp.toString
      em.save(dir)
      em.close()
      val m2 = EmbedMaintainer.load(spark, dir)
      assert(m2.searchDot(vecs, "id", "embedding", k = 2, nprobe = 2)
        .select("qid", "id").as[(Long, Long)].collect().toSet == brute)
      assert(m2.mipsTelemetry(spark)
        .as[(Long, String, Long, Long, Long)].collect().last ==
        ((1L, "loaded", nNodes, msq, nNodes)))
      m2.close()

      // a dir whose mips_index was swapped for a PLAIN cosine layout must
      // be REFUSED at load — the reloaded generation would otherwise
      // silently serve the wrong metric (the marker-validation contract)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(new java.io.File(s"$dir/mips_index"))
      val plain = graft.functions.VectorOps.IvfIndex.build(
        vecs, "id", "embedding", c = 2)
      plain.save(s"$dir/mips_index")
      plain.close()
      val ex = intercept[IllegalArgumentException](EmbedMaintainer.load(spark, dir))
      assert(ex.getMessage.contains("no MIPS marker"), ex.getMessage)

      cm.close()
      vecs.unpersist(blocking = false)
      walks.unpersist(blocking = false)
      graft.ops.ScaleOps.release()
      spark.catalog.clearCache()
    }
  }

  test("saveEmbeddings/loadEmbeddings: dim-partitioned roundtrip validates the meta checksum") {
    val emb = GraphOps.ppmiEmbedInt(
      GraphOps.skipGramPairs(walkCorpus, 2),
      "center", "context", "n", dims = 4, iters = 1)
    val rows = emb.as[(Long, Long, Long)].collect().toSet
    withTempDir("graft_emb") { tmp =>
      val dir = tmp.toString
      GraphOps.saveEmbeddings(emb, dir)
      val back = GraphOps.loadEmbeddings(spark, dir)
        .as[(Long, Long, Long)].collect().toSet
      assert(back == rows)
      // a tampered meta row fails AT LOAD with a named cause
      Seq((4L, 999L, 0L)).toDF("dims", "n_nodes", "sum_val")
        .write.mode("overwrite").parquet(s"$dir/meta")
      val ex = intercept[IllegalArgumentException] {
        GraphOps.loadEmbeddings(spark, dir)
      }
      assert(ex.getMessage.contains("do not match meta"))
      graft.ops.ScaleOps.release()
      spark.catalog.clearCache()
    }
  }
}
