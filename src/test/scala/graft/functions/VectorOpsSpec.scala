package graft.functions

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._
  import VectorOps._

  test("native cosine kernel is bit-identical to the HOF formulation") {
    val e = Tables(spark, sfDir).embeddings.limit(200)
    val q = Tables(spark, sfDir).embeddings.filter($"vec_id" === 0)
      .select(toDoubleArr($"embedding").as("qv"))
    val both = e.crossJoin(q).select(
      cosine(toDoubleArr($"embedding"), $"qv").as("native"),
      cosineHof(toDoubleArr($"embedding"), $"qv").as("hof"))
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("native cosine kernel: null on length mismatch") {
    val df = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    assert(df.select(VectorKernel.cosineNative($"a", $"b")).collect()(0).isNullAt(0))
  }

  test("native cosine kernel: null element yields null, matching the HOF fold") {
    val df = Seq(
      (Seq(Option(1.0), None, Option(2.0)), Seq(Option(1.0), Option(1.0), Option(1.0))),
      (Seq(Option(1.0), Option(2.0), Option(2.0)), Seq(Option(1.0), Option(1.0), Option(1.0))))
      .toDF("a", "b")
    val rows = df.select(
      VectorKernel.cosineNative($"a", $"b").as("native"),
      cosineHof($"a", $"b").as("hof")).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1), "null element → null both paths")
    assert(java.lang.Double.doubleToLongBits(rows(1).getDouble(0)) ==
      java.lang.Double.doubleToLongBits(rows(1).getDouble(1)))
  }

  test("native dot kernel is bit-identical to the HOF fold; null semantics match") {
    val e = Tables(spark, sfDir).embeddings.limit(200)
    val q = Tables(spark, sfDir).embeddings.filter($"vec_id" === 1)
      .select(toDoubleArr($"embedding").as("qv"))
    val rows = e.crossJoin(q).select(
      dot(toDoubleArr($"embedding"), $"qv").as("native"),
      dotHof(toDoubleArr($"embedding"), $"qv").as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    val edge = Seq(
      (Seq(Option(1.0), None), Seq(Option(1.0), Option(1.0))),
      (Seq(Option(1.0), Option(2.0)), Seq(Option(3.0), Option(4.0))))
      .toDF("a", "b")
    val got = edge.select(VectorKernel.dotNative($"a", $"b")).collect()
    assert(got(0).isNullAt(0), "null element → null")
    assert(got(1).getDouble(0) == 11.0)
    val mismatch = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    assert(mismatch.select(VectorKernel.dotNative($"a", $"b")).collect()(0).isNullAt(0))
  }

  test("dot/cosine basics") {
    val df = Seq((Seq(1f, 0f, 0f), Seq(0f, 1f, 0f)), (Seq(1f, 1f, 0f), Seq(1f, 1f, 0f)))
      .toDF("a", "b")
    val got = df.select(cosine(toDoubleArr($"a"), toDoubleArr($"b"))).as[Double].collect()
    assert(math.abs(got(0)) < 1e-12)
    assert(math.abs(got(1) - 1.0) < 1e-12)
  }

  test("annBruteForce returns the true top-k") {
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0f, 1f)), (3L, Seq(0.7f, 0.7f)))
      .toDF("id", "v")
    val top = annBruteForce(vecs, "id", "v", vecs.filter($"id" === 0), "id", "v", k = 2)
      .select("id").as[Long].collect().toSeq
    assert(top == Seq(1L, 3L))
  }

  test("IVF search recall vs brute force on the fixture embeddings") {
    val e = Tables(spark, sfDir).embeddings
    val queries = e.filter($"vec_id" < 5)
    val exact = annBruteForce(e, "vec_id", "embedding", queries, "vec_id", "embedding", k = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val idx = IvfIndex.build(e, "vec_id", "embedding", c = 16)
    val approx = idx.search(queries, "vec_id", "embedding", k = 10, nprobe = 4)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall@10 too low: $recall")
    idx.close()
  }

  test("assignTop refuses an empty centroid frame instead of emitting NULL cids") {
    val v = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("id", "v")
    val cents = Seq((7L, Seq(1.0, 0.0))).toDF("cid", "cv")
    // a non-empty frame assigns every vector, at one probe and at many
    assert(IvfIndex.assignTop(v, cents, 1).select("cid").as[Long].collect()
      .toSeq == Seq(7L, 7L))
    assert(IvfIndex.assignTop(v, cents, 2).count() == 2L)
    for (probes <- Seq(1, 2)) {
      val ex = intercept[Exception](
        IvfIndex.assignTop(v, cents.filter($"cid" < 0L), probes).collect())
      assert(ex.getMessage.contains("non-empty centroid frame"), ex.getMessage)
    }
  }

  test("filtered IVF search: only allowed ids, exact at full probe, recall at partial") {
    val e = Tables(spark, sfDir).embeddings
    val queries = e.filter($"vec_id" < 5)
    val allowed = e.filter($"label" === 3)
    val allowedIds = allowed.select("vec_id").as[Long].collect().toSet
    // exact reference: brute force with the filtered subset as corpus
    // (self-matches excluded by both paths identically)
    val exact = annBruteForce(allowed, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val idx = IvfIndex.build(e, "vec_id", "embedding", c = 16)
    // full probe on the filtered subset is provably exact
    val full = idx.searchFiltered(queries, "vec_id", "embedding",
        k = 10, nprobe = 16, allowed, "vec_id")
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert(full == exact, "full-probe filtered search must equal filtered brute force")
    // partial probe: never leaks a disallowed id; recall is recovered by
    // raising nprobe (the documented knob for selective predicates —
    // surviving density per probed cell drops with selectivity)
    def recallAt(np: Int): Double = {
      val part = idx.searchFiltered(queries, "vec_id", "embedding",
          k = 10, nprobe = np, allowed, "vec_id")
        .select("qid", "id").as[(Long, Long)].collect().toSet
      assert(part.forall { case (_, id) => allowedIds.contains(id) },
        s"filtered search leaked a disallowed id at nprobe=$np")
      exact.intersect(part).size.toDouble / exact.size
    }
    val r4 = recallAt(4); val r8 = recallAt(8)
    assert(r8 >= r4, s"recall must not degrade with more probes: $r4 -> $r8")
    assert(r8 >= 0.5, s"filtered IVF recall@10 at nprobe=8 too low: $r8")
    idx.close()
  }

  test("labelPropagate: multi-hop spread, clamped seeds, tie-break, distance cap") {
    // chain 1 -> 2 -> 3 -> 4 (qid receives from id); 9 isolated; 5 seeded
    // conflicting next to 1's label; 6 hears 1 and 5 equally (tie)
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (6L, 1L), (6L, 5L))
      .toDF("qid", "id").withColumn("cos", lit(1.0))
    val seeds = Seq((1L, 7L), (5L, 3L)).toDF("vid", "lab")
    val got = labelPropagate(edges, seeds, "vid", "lab")
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((7L, 0)) && got(5L) == ((3L, 0)), "seeds clamped at round 0")
    assert(got(2L) == ((7L, 1)) && got(3L) == ((7L, 2)) && got(4L) == ((7L, 3)),
      s"chain must label hop-d at round d: $got")
    assert(got(6L)._1 == 3L, "equal votes tie-break to the smaller label")
    assert(!got.contains(9L), "unreached nodes stay absent")
    // maxIters caps propagation distance, not correctness
    val capped = labelPropagate(edges, seeds, "vid", "lab", maxIters = 2)
      .as[(Long, Long, Int)].collect().map(_._1).toSet
    assert(capped == Set(1L, 5L, 2L, 3L, 6L), s"distance cap wrong: $capped")
    // composes over knnGraph output schema (smoke)
    val e = Tables(spark, sfDir).embeddings.limit(120)
    val idx = IvfIndex.build(e, "vec_id", "embedding", c = 8)
    val g = knnGraph(idx, k = 3, probes = 2)
    val sd = e.filter($"vec_id" < 30).select($"vec_id", $"label")
    val prop = labelPropagate(g, sd, "vec_id", "label", maxIters = 4)
    assert(prop.count() >= 30, "propagation over a real k-NN graph must reach beyond seeds")
    idx.close()
  }

  test("knnGraph: full probe equals brute-force graph; probes=2 recall; shape invariants") {
    val e = Tables(spark, sfDir).embeddings.limit(300)
    val idx = IvfIndex.build(e, "vec_id", "embedding", c = 8)
    val exact = annBruteForce(e, "vec_id", "embedding", e, "vec_id", "embedding", k = 3)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val full = knnGraph(idx, k = 3, probes = 8)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert(full == exact, "full-probe knnGraph must equal the brute-force graph")
    def graphAt(p: Int): Array[(Long, Long)] = {
      val g = knnGraph(idx, k = 3, probes = p)
        .select("qid", "id").as[(Long, Long)].collect()
      assert(g.forall { case (q, i) => q != i }, "no self-edges")
      assert(g.groupBy(_._1).values.forall(_.length <= 3),
        "at most k neighbors per query")
      g
    }
    def recall(g: Array[(Long, Long)]): Double =
      exact.intersect(g.toSet).size.toDouble / exact.size
    val r2 = recall(graphAt(2)); val r4 = recall(graphAt(4))
    assert(r4 >= r2, s"recall must not degrade with more probes: $r2 -> $r4")
    assert(r4 >= 0.6, s"knnGraph probes=4 recall too low: $r4")
    idx.close()
  }

  test("IVF multi-iteration Lloyd build is valid and at least as tight") {
    val e = Tables(spark, sfDir).embeddings
    val queries = e.filter($"vec_id" < 5)
    val exact = annBruteForce(e, "vec_id", "embedding", queries, "vec_id", "embedding", k = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val idx = IvfIndex.build(e, "vec_id", "embedding", c = 16, iters = 3)
    // every vector assigned exactly once regardless of iteration count
    assert(idx.assigned.count() == e.count())
    assert(idx.assigned.select("id").distinct().count() == e.count())
    val approx = idx.search(queries, "vec_id", "embedding", k = 10, nprobe = 4)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"3-iter IVF recall@10 too low: $recall")
    idx.close()
  }

  test("Sq8Encode codes equal CorpusOps.quantizeInt8; Sq8Dot handles mismatch") {
    val e = Tables(spark, sfDir).embeddings
    val enc = e.select($"vec_id".as("id"),
        QuantKernels.sq8Encode(toDoubleArr($"embedding")).as("sq"))
      .select(col("id"), col("sq.code").as("code"))
      .as[(Long, Array[Byte])].collect()
      .map { case (id, bytes) => id -> bytes.map(_.toLong).toSeq }.toMap
    val ref = graft.ops.CorpusOps.quantizeInt8(e, "vec_id", "embedding")
      .orderBy("id", "pos").as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (id, rows) => id -> rows.map(_._3).toSeq }
    assert(enc == ref)
    // length-mismatch → null, like VectorCosine
    val bad = spark.sql("SELECT CAST('ab' AS BINARY) AS c, array(1.0d) AS q")
      .select(QuantKernels.sq8Dot(col("c"), col("q")))
    assert(bad.head().isNullAt(0))
  }

  test("SQ8 approximate cosine tracks exact cosine within quantization error") {
    val e = Tables(spark, sfDir).embeddings
    val v = e.select($"vec_id".as("id"), toDoubleArr($"embedding").as("v"))
    val q = v.filter($"id" === 0).select($"v".as("qv"),
      aggregate($"v", lit(0.0), (s, x) => s + x).as("qsum"),
      VectorOps.dot($"v", $"v").as("qnrm2"))
    val err = v.crossJoin(q)
      .select(abs(
        QuantKernels.approxCosine(QuantKernels.sq8Encode($"v"), $"qv", $"qnrm2", $"qsum")
          - VectorOps.cosine($"v", $"qv")).as("e"))
      .agg(max($"e").as("mx"), avg($"e").as("mean")).head()
    assert(err.getDouble(0) < 0.05, s"max |approx-exact| = ${err.getDouble(0)}")
    assert(err.getDouble(1) < 0.01, s"mean |approx-exact| = ${err.getDouble(1)}")
  }

  test("IVF-SQ8 search recall vs brute force; exact re-rank ordering") {
    val e = Tables(spark, sfDir).embeddings
    val queries = e.filter($"vec_id" < 5)
    val exact = annBruteForce(e, "vec_id", "embedding", queries, "vec_id", "embedding", k = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val idx = IvfSq8Index.build(e, "vec_id", "embedding", c = 16)
    val approx = idx.search(queries, "vec_id", "embedding", k = 10, nprobe = 4)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF-SQ8 recall@10 too low: $recall")
    idx.close()
  }

  test("randomProjection: deterministic signs, JL cosine distortion in range") {
    val signs = VectorOps.rpSigns(64, 16)
    assert(signs.length == 16 && signs.forall(_.length == 64))
    assert(signs.flatten.forall(s => s == 1.0 || s == -1.0))
    // deterministic: same literals on every call (the oracle interpolates
    // them independently)
    assert(VectorOps.rpSigns(64, 16).map(_.toSeq).toSeq == signs.map(_.toSeq).toSeq)
    // JL distortion: projected cosines concentrate around the originals
    // with std ~ 1/sqrt(outDim) = 0.25 at 16 planes — assert the mean
    // absolute distortion over a 50-vector sample stays inside that scale
    val e = Tables(spark, sfDir).embeddings.filter($"vec_id" < 50)
    val proj = VectorOps.randomProjection(e, "vec_id", "embedding", signs)
    val v = e.select($"vec_id".as("id"), VectorOps.toDoubleArr($"embedding").as("v"))
    val err = v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(VectorOps.cosine(col("a.v"), col("b.v")).as("c64"),
        col("a.id").as("ia"), col("b.id").as("ib"))
      .join(proj.select($"id".as("ia"), $"pv".as("pa")), "ia")
      .join(proj.select($"id".as("ib"), $"pv".as("pb")), "ib")
      .select(abs(VectorOps.cosine($"pa", $"pb") - $"c64").as("d"))
      .agg(avg("d"), max("d")).head()
    info(f"JL 64→16 cosine distortion: mean ${err.getDouble(0)}%.4f max ${err.getDouble(1)}%.4f")
    assert(err.getDouble(0) < 0.3, s"mean distortion ${err.getDouble(0)}")
  }

  test("labelVote: plurality + tie-break semantics; vote composes over IVF neighbors") {
    // crafted: q1 sees labels (7,7,3) → 7 by count; q2 sees (5,9) → 5 by
    // the label-asc tie-break
    val nbrs = Seq((1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.7),
      (2L, 10L, 0.9), (2L, 13L, 0.8))
      .toDF("qid", "id", "cos")
    val labels = Seq((10L, 5), (11L, 7), (12L, 7), (13L, 9)).toDF("vid", "lbl")
    // q1: labels 5,7,7 → 7 with 2 votes; q2: 5,9 → tie, label 5 wins
    val got = VectorOps.labelVote(nbrs, labels, "vid", "lbl")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 7L, 2L), (2L, 5L, 1L)), s"got $got")
    // scale path: the vote composes unchanged over IVF-search neighbors —
    // pin it by recomputing the plurality on the driver from the SAME
    // neighbor frame (exact equality; fixture labels are random w.r.t.
    // geometry, so cross-searcher vote AGREEMENT is inherently unstable
    // and deliberately not asserted)
    val e = Tables(spark, sfDir).embeddings
    val queries = e.filter($"vec_id" < 50)
    val idx = IvfIndex.build(e, "vec_id", "embedding", c = 16)
    val nbrFrame = idx.search(queries, "vec_id", "embedding", k = 10, nprobe = 4)
      .select("qid", "id").as[(Long, Long)].collect()
    val ivfVote = VectorOps.labelVote(
        idx.search(queries, "vec_id", "embedding", k = 10, nprobe = 4),
        e, "vec_id", "label")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    idx.close()
    val lbl = e.select($"vec_id", $"label".cast("long")).as[(Long, Long)].collect().toMap
    val want = nbrFrame.groupBy(_._1).map { case (q, rows) =>
      val counts = rows.map(r => lbl(r._2)).groupBy(identity)
        .map { case (l, o) => (l, o.size.toLong) }
      q -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head
    }
    assert(ivfVote == want, "vote over IVF neighbors must equal driver recomputation")
  }

  test("residual SQ8: reconstructed norm exact, recall floor, save/load roundtrip") {
    val e = Tables(spark, sfDir).embeddings
    val idx = IvfSq8Index.build(e, "vec_id", "embedding", c = 16, byResidual = true)
    assert(idx.residual)
    // nrm2h must equal the driver-side |cv + r̂|² of the dequantized code
    // (the search path divides by it — an arithmetic slip would skew
    // every approximate score)
    val cents = idx.centroids.select($"cid", $"cv").as[(Long, Seq[Double])]
      .collect().toMap
    val sample = idx.codes
      .select($"cid", $"id", $"sq.mn", $"sq.step", $"sq.code", $"nrm2h")
      .as[(Long, Long, Double, Double, Array[Byte], Double)]
      .collect().take(50)
    assert(sample.nonEmpty)
    sample.foreach { case (cid, id, mn, step, code, nrm2h) =>
      val cv = cents(cid)
      val rHat = code.map(b => mn + (b.toDouble + 128.0) * step)
      val want = cv.zip(rHat).map { case (c, r) => (c + r) * (c + r) }.sum
      assert(math.abs(want - nrm2h) <= 1e-9 * math.max(1.0, want),
        s"id=$id nrm2h=$nrm2h want=$want")
    }
    // recall at the q82 operating point (report both variants)
    val queries = e.filter($"vec_id" < 5)
    val exact = annBruteForce(e, "vec_id", "embedding", queries, "vec_id", "embedding", k = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val approx = idx.search(queries, "vec_id", "embedding", k = 10, nprobe = 4)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(s"residual SQ8 recall@10 (c=16, nprobe=4): $recall")
    assert(recall >= 0.6, s"residual SQ8 recall@10 too low: $recall")
    // save/load: the layout self-describes the variant via nrm2h
    val before = idx.search(queries, "vec_id", "embedding", k = 10, nprobe = 4)
      .collect().toSet
    withTempDir("graft_idx_sq8r") { tmp =>
      val dir = tmp.toString
      idx.save(dir)
      idx.close()
      val loaded = IvfSq8Index.load(spark, dir, e, "vec_id", "embedding")
      assert(loaded.residual, "loaded index must detect the residual layout")
      assert(loaded.search(queries, "vec_id", "embedding", k = 10, nprobe = 4)
        .collect().toSet == before)
      loaded.close()
    }
  }

  test("PQ index: complete codebook grid, valid codes, recall after re-rank") {
    val e = Tables(spark, sfDir).embeddings
    val queries = e.filter($"vec_id" < 5)
    val exact = annBruteForce(e, "vec_id", "embedding", queries, "vec_id", "embedding", k = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val idx = PqIndex.build(e, "vec_id", "embedding", m = 8, k = 16)
    // the ADC table layout requires the full m×k centroid grid
    assert(idx.centroids.count() == 8 * 16)
    assert(idx.codes.filter(size($"code") =!= 8).count() == 0)
    val approx = idx.search(queries, "vec_id", "embedding", kTop = 10, rescore = 8)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(s"PQ recall@10 (m=8, k=16, rescore=8): $recall")
    assert(recall >= 0.5, s"PQ recall@10 too low: $recall")
    idx.close()
  }

  test("PQ index: empty query frame returns empty, no extra driver job") {
    val e = Tables(spark, sfDir).embeddings
    val idx = PqIndex.build(e, "vec_id", "embedding", m = 8, k = 16)
    val none = idx.search(e.filter($"vec_id" < 0), "vec_id", "embedding", kTop = 5)
    assert(none.count() == 0)
    idx.close()
  }

  test("PQ build rejects too-few vectors and mixed dimensions") {
    val few = Seq((0L, Seq.fill(8)(1.0))).toDF("id", "v")
    val eFew = intercept[IllegalArgumentException] {
      PqIndex.build(few, "id", "v", m = 4, k = 16)
    }
    assert(eFew.getMessage.contains("at least k=16"))
    val mixed = Seq((0L, Seq.fill(8)(1.0)), (1L, Seq.fill(16)(1.0))).toDF("id", "v")
    val eMix = intercept[IllegalArgumentException] {
      PqIndex.build(mixed, "id", "v", m = 4, k = 1)
    }
    assert(eMix.getMessage.contains("uniform vector dimensions"))
  }

  test("PqAdcSum yields null (not garbage) on out-of-range codes") {
    // k=2, m=2 → valid table length 4; codes 0/1 valid, 2 and -1 are not
    val df = Seq(
      (Seq(0L, 1L), Seq(1.0, 2.0, 3.0, 4.0)),
      (Seq(0L, 2L), Seq(1.0, 2.0, 3.0, 4.0)),
      (Seq(-1L, 0L), Seq(1.0, 2.0, 3.0, 4.0))
    ).toDF("code", "tbl")
    val got = df.select(QuantKernels.pqAdcSum($"code", $"tbl", 2)).collect()
    assert(got(0).getDouble(0) == 1.0 + 4.0)
    assert(got(1).isNullAt(0) && got(2).isNullAt(0))
  }

  test("IVF+PQ: complete per-cell grids, recall >= flat PQ at equal rescore") {
    val e = Tables(spark, sfDir).embeddings
    val queries = e.filter($"vec_id" < 5)
    val exact = annBruteForce(e, "vec_id", "embedding", queries, "vec_id", "embedding", k = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val flat = PqIndex.build(e, "vec_id", "embedding", m = 8, k = 16)
    val flatHits = flat.search(queries, "vec_id", "embedding", kTop = 10, rescore = 8)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val flatRecall = exact.intersect(flatHits).size.toDouble / exact.size
    flat.close()
    val idx = VectorOps.IvfPqIndex.build(e, "vec_id", "embedding", c = 16, m = 8, k = 16)
    // every surviving cell must carry a full m×k book (ADC layout), even
    // cells smaller than k (seed-grid padding)
    val cells = idx.books.select("cid").distinct().count()
    assert(idx.books.count() == cells * 8 * 16)
    assert(idx.books.groupBy("cid", "j").count().filter($"count" =!= 16).count() == 0)
    assert(idx.codes.filter(size($"code") =!= 8).count() == 0)
    val hits = idx.search(queries, "vec_id", "embedding", kTop = 10, nprobe = 4, rescore = 8)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(hits).size.toDouble / exact.size
    info(s"IVF+PQ recall@10 (c=16, nprobe=4, rescore=8): $recall vs flat PQ $flatRecall")
    assert(recall >= flatRecall,
      s"IVF+PQ recall $recall below flat PQ $flatRecall at equal rescore")
    idx.close()
  }

  test("sampled codebook training: full coverage, intact recall, guarded caps") {
    val e = Tables(spark, sfDir).embeddings
    val n = e.count()
    val queries = e.filter($"vec_id" < 5)
    val exact = annBruteForce(e, "vec_id", "embedding", queries, "vec_id", "embedding", k = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    // train on ~1/4 of the corpus — EVERY vector must still be encoded
    // (per-cell stratified sample keeps small cells' books trainable)
    val cap = (n / 4).toInt
    val idx = VectorOps.IvfPqIndex.build(e, "vec_id", "embedding",
      c = 16, m = 8, k = 16, trainCap = cap)
    assert(idx.codes.count() == n, "sampled training must not drop vectors at encode")
    assert(idx.codes.select("id").distinct().count() == n)
    val hits = idx.search(queries, "vec_id", "embedding", kTop = 10, nprobe = 8, rescore = 8)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(hits).size.toDouble / exact.size
    info(s"IVF+PQ recall@10 with trainCap=$cap: $recall")
    assert(recall >= 0.5, s"sampled-training recall collapsed: $recall")
    idx.close()
    // PQ: capped build still encodes everything; cap below k rejects
    val pq = PqIndex.build(e, "vec_id", "embedding", m = 8, k = 16, trainCap = cap)
    assert(pq.codes.count() == n)
    pq.close()
    assert(intercept[IllegalArgumentException] {
      PqIndex.build(e, "vec_id", "embedding", m = 8, k = 16, trainCap = 7)
    }.getMessage.contains("trainCap"))
    assert(intercept[IllegalArgumentException] {
      VectorOps.IvfIndex.build(e, "vec_id", "embedding", c = 16, trainCap = 3)
    }.getMessage.contains("trainCap"))
  }

  test("index append: new vectors searchable without retrain, old codes untouched") {
    val e = Tables(spark, sfDir).embeddings
    // plant an exact copy of vector 0 under a fresh id — after append it
    // must be the query's top hit (cosine 1.0)
    val planted = e.filter($"vec_id" === 0)
      .select(lit(999999L).as("vec_id"), $"embedding")
    val q0 = e.filter($"vec_id" === 0)

    val ivf = VectorOps.IvfIndex.build(e, "vec_id", "embedding", c = 16)
    val nBefore = ivf.assigned.count()
    val ivf2 = ivf.append(planted, "vec_id", "embedding")
    assert(ivf2.assigned.count() == nBefore + 1)
    val top = ivf2.search(q0, "vec_id", "embedding", k = 3, nprobe = 4)
      .select("id").as[Long].collect().toSeq
    assert(top.head == 999999L, s"planted duplicate not top hit: $top")

    val pq = VectorOps.IvfPqIndex.build(e, "vec_id", "embedding", c = 16, m = 8, k = 16)
    val oldCodes = pq.codes.collect().toSet
    val pq2 = pq.append(planted, "vec_id", "embedding")
    assert(pq2.codes.count() == oldCodes.size + 1)
    // pre-existing code rows are bit-identical after the append
    assert(pq2.codes.filter($"id" =!= 999999L).collect().toSet == oldCodes)
    val topPq = pq2.search(q0, "vec_id", "embedding", kTop = 3, nprobe = 4, rescore = 8)
      .select("id").as[Long].collect().toSeq
    assert(topPq.head == 999999L, s"planted duplicate not top hit after PQ append: $topPq")
    // guards: a dim-mismatched batch fails loudly (build's rule), an
    // empty batch is a no-op returning the same index
    val ragged = Seq((5555L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    assert(intercept[IllegalArgumentException] {
      ivf2.append(ragged, "vec_id", "embedding")
    }.getMessage.contains("dim"))
    assert(intercept[IllegalArgumentException] {
      pq2.append(ragged, "vec_id", "embedding")
    }.getMessage.contains("dim"))
    assert(ivf2.append(e.limit(0), "vec_id", "embedding") eq ivf2)
    assert(pq2.append(e.limit(0), "vec_id", "embedding") eq pq2)
    // a null embedding must fail the guard, not encode into garbage
    val withNull = Seq((7777L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    assert(intercept[IllegalArgumentException] {
      ivf2.append(withNull, "vec_id", "embedding")
    }.getMessage.contains("null"))
    assert(intercept[IllegalArgumentException] {
      pq2.append(withNull, "vec_id", "embedding")
    }.getMessage.contains("null"))
    ivf2.close(); pq2.close()
  }

  test("IVF rebalance: CV drops after skewed appends, partition preserved, full probe exact") {
    // 2-D corpus: 4 seed vectors split across two directions, then an
    // append-heavy ingest piles 40 near-(0,1) vectors into one cell —
    // the no-retrain drift rebalance exists for
    val base = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0f, 1f)), (4L, Seq(0.1f, 0.9f))).toDF("vec_id", "embedding")
    val batch = (0 until 40).map(i =>
      (100L + i, Seq(0.1f + 0.001f * i, 1f))).toDF("vec_id", "embedding")
    val idx = VectorOps.IvfIndex.build(base, "vec_id", "embedding", c = 2)
    val grown = idx.append(batch, "vec_id", "embedding")
    val cellsBefore = grown.centroids.count()
    val cvBefore = grown.occupancySummary.select("cv").as[Double].head()
    // below threshold → the same instance comes back untouched
    assert(grown.rebalance(maxOverFactor = 100.0) eq grown)
    val reb = grown.rebalance(maxOverFactor = 1.5)
    val cellsAfter = reb.centroids.count()
    val cvAfter = reb.occupancySummary.select("cv").as[Double].head()
    assert(cellsAfter > cellsBefore, s"no split: $cellsBefore -> $cellsAfter")
    assert(cvAfter < cvBefore, s"occupancy CV did not drop: $cvBefore -> $cvAfter")
    // the assignment stays a partition of the ids (each id exactly once)
    assert(reb.assigned.count() == 44L)
    assert(reb.assigned.select("id").distinct().count() == 44L)
    // fresh cids for sub-cells: stats cover every centroid, empty or not
    assert(reb.cellStats.count() == cellsAfter)
    // full-probe search is the exact top-k — equal to the pre-rebalance
    // index AND a from-scratch rebuild, both fully probed
    val q = base.filter($"vec_id" === 3L)
    def top(ix: VectorOps.IvfIndex, np: Int) =
      ix.search(q, "vec_id", "embedding", k = 5, nprobe = np)
        .select("qid", "id").as[(Long, Long)].collect().toSet
    val full = VectorOps.IvfIndex.build(
      base.unionAll(batch), "vec_id", "embedding", c = cellsAfter.toInt)
    assert(top(reb, cellsAfter.toInt) == top(grown, cellsBefore.toInt))
    assert(top(reb, cellsAfter.toInt) == top(full, cellsAfter.toInt))
    full.close(); reb.close()
    // occupancy diagnostics parity on the quantized rung (stats decide
    // a rebuild there — per-cell codes preclude in-place re-split)
    val sq8 = VectorOps.IvfSq8Index.build(
      base.unionAll(batch), "vec_id", "embedding", c = 2)
    assert(sq8.cellStats.count() == 2L)
    assert(sq8.occupancySummary.select("total").as[Long].head() == 44L)
    sq8.close()
  }

  test("index append rejects ids already present and batch-internal duplicates") {
    val e = Tables(spark, sfDir).embeddings
    val dup = e.filter($"vec_id" === 1) // id already in the index
    val ivf = VectorOps.IvfIndex.build(e, "vec_id", "embedding", c = 8)
    assert(intercept[IllegalArgumentException] {
      ivf.append(dup, "vec_id", "embedding")
    }.getMessage.contains("fresh"))
    val twice = dup.select(lit(888888L).as("vec_id"), $"embedding")
      .unionAll(dup.select(lit(888888L).as("vec_id"), $"embedding"))
    assert(intercept[IllegalArgumentException] {
      ivf.append(twice, "vec_id", "embedding")
    }.getMessage.contains("duplicate"))
    ivf.close()
    val pq = VectorOps.IvfPqIndex.build(e, "vec_id", "embedding", c = 8, m = 8, k = 16)
    assert(intercept[IllegalArgumentException] {
      pq.append(dup, "vec_id", "embedding")
    }.getMessage.contains("fresh"))
    assert(intercept[IllegalArgumentException] {
      pq.append(twice, "vec_id", "embedding")
    }.getMessage.contains("duplicate"))
    pq.close()
  }

  test("IVF+PQ search pre-filters BOTH codes and books to probed cells in-plan") {
    val e = Tables(spark, sfDir).embeddings
    val idx = VectorOps.IvfPqIndex.build(e, "vec_id", "embedding", c = 16, m = 8, k = 16)
    val res = idx.search(e.filter($"vec_id" === 0), "vec_id", "embedding",
      kTop = 5, nprobe = 2, rescore = 4)
    // the ADC-table join side must be bounded by |probed cells|·m·k book
    // rows, never c·m·k: both the code table AND the books frame carry a
    // `cid IN (probed...)` pre-filter in the optimized plan
    val plan = res.queryExecution.optimizedPlan.toString
    val inFilters = "cid#\\d+L? IN".r.findAllIn(plan).size
    assert(inFilters >= 2,
      s"expected cid IN pre-filters on codes AND books, found $inFilters")
    idx.close()
  }

  test("IVF+PQ save/load round-trip: identical search results, cell-pruned layout") {
    val e = Tables(spark, sfDir).embeddings
    val queries = e.filter($"vec_id" < 3)
    val idx = VectorOps.IvfPqIndex.build(e, "vec_id", "embedding", c = 16, m = 8, k = 16)
    val before = idx.search(queries, "vec_id", "embedding", kTop = 10, nprobe = 4, rescore = 8)
      .collect().toSet
    withTempDir("graft_idx") { tmp =>
      val dir = tmp.toString
      idx.save(dir)
      idx.close()
      val loaded = VectorOps.IvfPqIndex.load(spark, dir, e, "vec_id", "embedding")
      val after = loaded.search(queries, "vec_id", "embedding", kTop = 10, nprobe = 4, rescore = 8)
        .collect().toSet
      assert(after == before, "loaded index must return identical results")
      // the persisted layout is cell-partitioned — the probe's cid filter
      // is directory pruning, the on-storage shape search relies on
      val cellDirs = new java.io.File(s"$dir/codes").listFiles()
        .filter(_.getName.startsWith("cid=")).map(_.getName).toSet
      assert(cellDirs.nonEmpty, "codes must be partitioned by cell")
      loaded.close()
      // SQ8: same round-trip contract
      val sq8 = VectorOps.IvfSq8Index.build(e, "vec_id", "embedding", c = 16)
      val sq8Before = sq8.search(queries, "vec_id", "embedding", k = 10, nprobe = 4)
        .collect().toSet
      withTempDir("graft_idx_sq8") { tmp =>
        val sq8Dir = tmp.toString
        sq8.save(sq8Dir)
        sq8.close()
        val sq8Loaded = VectorOps.IvfSq8Index.load(spark, sq8Dir, e, "vec_id", "embedding")
        assert(sq8Loaded.search(queries, "vec_id", "embedding", k = 10, nprobe = 4)
          .collect().toSet == sq8Before)
        sq8Loaded.close()
      }
    }
  }

  test("IvfIndex save/load: meta-validated round-trip; a tampered dir fails loudly at load") {
    val e = Tables(spark, sfDir).embeddings
    val queries = e.filter($"vec_id" < 3)
    val idx = VectorOps.IvfIndex.build(e.filter($"vec_id" < 200), "vec_id", "embedding", c = 8)
    val before = idx.search(queries, "vec_id", "embedding", k = 10, nprobe = 8)
      .collect().toSet
    withTempDir("graft_ivf_meta") { tmp =>
      val dir = tmp.toString
      idx.save(dir)
      val (savedDim, savedSize) = (idx.dim, idx.size)
      idx.close()
      val loaded = VectorOps.IvfIndex.load(spark, dir)
      assert(loaded.dim == savedDim && loaded.size == savedSize)
      assert(loaded.search(queries, "vec_id", "embedding", k = 10, nprobe = 8)
        .collect().toSet == before, "loaded index must return identical results")
      loaded.close()
      // tampered meta (wrong row count) → named failure AT LOAD, not an
      // obscure misbehavior later at probe/append time
      val resident0 = spark.sparkContext.getPersistentRDDs.keySet
      Seq((savedDim, savedSize - 1)).toDF("dim", "size")
        .write.mode("overwrite").parquet(s"$dir/meta")
      val eSize = intercept[IllegalArgumentException](VectorOps.IvfIndex.load(spark, dir))
      assert(eSize.getMessage.contains("meta recorded"), eSize.getMessage)
      // tampered meta (wrong dim) → the min/max size(v) guard catches it
      Seq((savedDim + 1, savedSize)).toDF("dim", "size")
        .write.mode("overwrite").parquet(s"$dir/meta")
      val eDim = intercept[IllegalArgumentException](VectorOps.IvfIndex.load(spark, dir))
      assert(eDim.getMessage.contains("-dim"), eDim.getMessage)
      // neither failed load may leave its half-loaded frames pinned
      assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(resident0),
        "failed load must release its caches")
      // a dir saved BEFORE meta existed (round-11 layout) still loads:
      // dims validated internally, count cross-check skipped
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(new java.io.File(s"$dir/meta"))
      val legacy = VectorOps.IvfIndex.load(spark, dir)
      assert(legacy.dim == savedDim && legacy.size == savedSize)
      legacy.close()
    }
  }

  test("MipsIndex: full-probe == exact dot top-k; save/load round-trip; plain dir refused") {
    val e = Tables(spark, sfDir).embeddings.filter($"vec_id" < 200)
    val queries = e.filter($"vec_id" < 3)
    val mips = VectorOps.MipsIndex.build(e, "vec_id", "embedding", c = 8)
    val got = mips.searchDot(queries, "vec_id", "embedding", k = 5, nprobe = 8)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    // exact dot top-5, driver-recomputed (sequential fold = kernel order)
    val vecs = e.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toMap
    val brute = (for (q <- Seq(0L, 1L, 2L)) yield {
      val qv = vecs(q).map(_.toDouble)
      vecs.keys.filter(_ != q).toSeq
        .map(i => (i, vecs(i).map(_.toDouble).zip(qv)
          .map { case (x, y) => x * y }.sum))
        .sortBy { case (i, d) => (-d, i) }.take(5).map { case (i, _) => (q, i) }
    }).flatten.toSet
    assert(got == brute, "full-probe MIPS must equal the exact dot top-k")
    // partial probe keeps real recall on these (norm-similar) vectors
    val half = mips.searchDot(queries, "vec_id", "embedding", k = 5, nprobe = 4)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert(half.intersect(brute).size >= (brute.size * 5) / 10,
      s"half-probe recall collapsed: ${half.intersect(brute).size}/${brute.size}")
    // filtered full probe == the exact dot top-k of the allowed subset
    val allowed = e.filter($"vec_id" % 3 === 0).select($"vec_id")
    val allowedIds = allowed.as[Long].collect().toSet
    val gotF = mips.searchDotFiltered(queries, "vec_id", "embedding",
        k = 5, nprobe = 8, allowed, "vec_id")
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val bruteF = (for (q <- Seq(0L, 1L, 2L)) yield {
      val qv = vecs(q).map(_.toDouble)
      vecs.keys.filter(i => i != q && allowedIds(i)).toSeq
        .map(i => (i, vecs(i).map(_.toDouble).zip(qv)
          .map { case (x, y) => x * y }.sum))
        .sortBy { case (i, d) => (-d, i) }.take(5).map { case (i, _) => (q, i) }
    }).flatten.toSet
    assert(gotF == bruteF, "filtered full-probe MIPS must equal the exact filtered dot top-k")
    // save/load: identical results; the marker gates the load path
    withTempDir("graft_mips") { tmp =>
      val dir = tmp.toString
      mips.save(dir)
      val savedM2 = mips.m2
      mips.close()
      val loaded = VectorOps.MipsIndex.load(spark, dir)
      assert(loaded.m2 == savedM2)
      assert(loaded.searchDot(queries, "vec_id", "embedding", k = 5, nprobe = 8)
        .select("qid", "id").as[(Long, Long)].collect().toSet == got)
      loaded.close()
      // the REVERSE direction: IvfIndex.load must refuse a MIPS dir — its
      // vectors are (d+1)-dim constant-norm augmented, and silently
      // serving cosine over them is the cross-wired-metric bug the marker
      // exists to catch in BOTH directions
      val exRev = intercept[IllegalArgumentException](
        VectorOps.IvfIndex.load(spark, dir))
      assert(exRev.getMessage.contains("MIPS marker"), exRev.getMessage)
      // dir REUSE: a plain save into a former MIPS dir must clear the
      // stale marker — otherwise IvfIndex.load refuses a valid plain
      // index and MipsIndex.load silently serves d-dim vectors against
      // (d+1)-augmented queries with a stale m2
      val plainReuse = VectorOps.IvfIndex.build(e, "vec_id", "embedding", c = 8)
      plainReuse.save(dir)
      plainReuse.close()
      VectorOps.IvfIndex.load(spark, dir).close() // accepted again
      intercept[IllegalArgumentException](VectorOps.MipsIndex.load(spark, dir))
      // a PLAIN cosine index dir (no mips_meta) must be refused by name
      val plain = VectorOps.IvfIndex.build(e, "vec_id", "embedding", c = 8)
      withTempDir("graft_plain") { tmp =>
        val plainDir = tmp.toString
        plain.save(plainDir)
        plain.close()
        val ex = intercept[IllegalArgumentException](
          VectorOps.MipsIndex.load(spark, plainDir))
        assert(ex.getMessage.contains("no MIPS marker"), ex.getMessage)
        spark.catalog.clearCache()
      }
    }
  }

  test("filtered MIPS: recall vs the exact filtered dot top-k is monotone in nprobe; no leak") {
    // the q97-style knob contract on the DOT metric: an allowed-set
    // predicate prunes probed cells unevenly, so filtered recall is its
    // own curve — it must recover monotonically as nprobe rises and be
    // exact at full probe (q267's declared rung)
    val e = Tables(spark, sfDir).embeddings.filter($"vec_id" < 300)
    val queries = e.filter($"vec_id" < 5)
    val allowed = e.filter($"vec_id" % 3 === 0).select($"vec_id")
    val allowedIds = allowed.as[Long].collect().toSet
    val vecs = e.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toMap
    val exact = (for (q <- 0L until 5L) yield {
      val qv = vecs(q).map(_.toDouble)
      vecs.keys.filter(i => i != q && allowedIds(i)).toSeq
        .map(i => (i, vecs(i).map(_.toDouble).zip(qv)
          .map { case (x, y) => x * y }.sum))
        .sortBy { case (i, d) => (-d, i) }.take(5).map { case (i, _) => (q, i) }
    }).flatten.toSet
    val mips = VectorOps.MipsIndex.build(e, "vec_id", "embedding", c = 8)
    val recalls = Seq(1, 2, 4, 8).map { np =>
      val got = mips.searchDotFiltered(queries, "vec_id", "embedding",
          k = 5, nprobe = np, allowed, "vec_id")
        .select("qid", "id").as[(Long, Long)].collect().toSet
      assert(got.forall { case (_, i) => allowedIds(i) },
        s"filtered dot search leaked a disallowed id at nprobe=$np")
      np -> got.intersect(exact).size.toDouble / exact.size
    }
    recalls.sliding(2).foreach { case Seq((np1, r1), (np2, r2)) =>
      assert(r2 >= r1,
        s"filtered dot recall fell from $r1 (np=$np1) to $r2 (np=$np2)")
    }
    assert(recalls.last._2 == 1.0,
      s"full-probe filtered dot search must be exact, got ${recalls.last._2}")
    mips.close()
    spark.catalog.clearCache()
  }

  test("MipsSq8Index: full probe + full rescore == exact dot top-k; save/load; plain dir refused") {
    val e = Tables(spark, sfDir).embeddings.filter($"vec_id" < 200)
    val queries = e.filter($"vec_id" < 3)
    val full = ((200 + 4) / 5)
    val idx = VectorOps.MipsSq8Index.build(e, "vec_id", "embedding", c = 8)
    val got = idx.searchDot(queries, "vec_id", "embedding", k = 5,
        nprobe = 8, rescore = full)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val vecs = e.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toMap
    val brute = (for (q <- Seq(0L, 1L, 2L)) yield {
      val qv = vecs(q).map(_.toDouble)
      vecs.keys.filter(_ != q).toSeq
        .map(i => (i, vecs(i).map(_.toDouble).zip(qv)
          .map { case (x, y) => x * y }.sum))
        .sortBy { case (i, d) => (-d, i) }.take(5).map { case (i, _) => (q, i) }
    }).flatten.toSet
    assert(got == brute,
      "full-probe full-rescore SQ8-MIPS must equal the exact dot top-k")
    // the operating point keeps real recall (codes approximate, re-rank
    // exact, reduction aligns the cells with the dot ordering)
    val part = idx.searchDot(queries, "vec_id", "embedding", k = 5,
        nprobe = 4, rescore = 8)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert(part.intersect(brute).size >= (brute.size * 5) / 10,
      s"SQ8-MIPS operating-point recall collapsed: ${part.intersect(brute).size}/${brute.size}")
    info(s"SQ8-MIPS recall@5 (c=8, np=4, rescore=8): " +
      f"${part.intersect(brute).size.toDouble / brute.size}%.2f")
    // save/load round-trip: marker carries M² so the raw re-rank table
    // re-augments consistently; results identical
    withTempDir("graft_mips_sq8") { tmp =>
      val dir = tmp.toString
      idx.save(dir)
      val savedM2 = idx.m2
      idx.close()
      val loaded = VectorOps.MipsSq8Index.load(spark, dir, e, "vec_id", "embedding")
      assert(loaded.m2 == savedM2)
      assert(loaded.searchDot(queries, "vec_id", "embedding", k = 5,
          nprobe = 8, rescore = full)
        .select("qid", "id").as[(Long, Long)].collect().toSet == got)
      loaded.close()
      // a PLAIN SQ8 dir (no marker) must be refused by name — and a plain
      // re-save into this former MIPS dir clears the stale marker
      val plain = VectorOps.IvfSq8Index.build(e, "vec_id", "embedding", c = 8)
      plain.save(dir)
      plain.close()
      val ex = intercept[IllegalArgumentException](
        VectorOps.MipsSq8Index.load(spark, dir, e, "vec_id", "embedding"))
      assert(ex.getMessage.contains("no MIPS marker"), ex.getMessage)
      // a failed SQ8 load (wrong-dim raw table) must not leave its
      // freshly-filled code/centroid caches pinned in the block manager
      val resident0 = spark.sparkContext.getPersistentRDDs.keySet
      val wrongDim = e.select($"vec_id",
        org.apache.spark.sql.functions.slice($"embedding", 1, 4).as("embedding"))
      val exDim = intercept[IllegalArgumentException](
        VectorOps.IvfSq8Index.load(spark, dir, wrongDim, "vec_id", "embedding"))
      assert(exDim.getMessage.contains("-dim"), exDim.getMessage)
      assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(resident0),
        "failed SQ8 load must release its caches")
      spark.catalog.clearCache()
    }
  }

  test("MipsIndex.build costs exactly one extra bounded scalar job over IvfIndex.build") {
    // the q266 claim: the constant-norm reduction adds ONE bounded
    // max-norm job; everything else is the plain build over the
    // augmented vectors — a second scan creeping in would double the
    // corpus cost at scale
    val e = Tables(spark, sfDir).embeddings.filter($"vec_id" < 200).cache()
    e.count() // both builds read a warm cache: job counts are structural
    val tracker = spark.sparkContext.statusTracker
    // a "scalar job" is a 1-row head() collect in VectorOps (the m2
    // max-norm agg / the checkedDim stats) — AQE also books per-stage
    // materialization jobs, so raw job counts carry bookkeeping noise;
    // the head-job count is the corpus-pass-shaped signal
    def headJobs(ids: Set[Int]): Int = ids.count(jid =>
      tracker.getJobInfo(jid).exists(_.stageIds().exists(sid =>
        tracker.getStageInfo(sid).exists(
          _.name().startsWith("head at VectorOps")))))
    val ids0 = tracker.getJobIdsForGroup(null).toSet
    val plain = VectorOps.IvfIndex.build(e, "vec_id", "embedding", c = 8)
    val idsPlain = tracker.getJobIdsForGroup(null).toSet -- ids0
    val mips = VectorOps.MipsIndex.build(e, "vec_id", "embedding", c = 8)
    val idsMips = tracker.getJobIdsForGroup(null).toSet -- ids0 -- idsPlain
    assert(headJobs(idsMips) == headJobs(idsPlain) + 1,
      s"MIPS build must add exactly ONE scalar (head) job: " +
        s"${headJobs(idsMips)} vs ${headJobs(idsPlain)}")
    assert(idsMips.size <= idsPlain.size + 3,
      s"MIPS build job delta must stay a small constant (scalar + AQE " +
        s"stage bookkeeping), got ${idsMips.size} vs ${idsPlain.size}")
    plain.close(); mips.close()
    e.unpersist(blocking = false)
    spark.catalog.clearCache()
  }

  test("IVF+PQ: empty query frame returns empty") {
    val e = Tables(spark, sfDir).embeddings
    val idx = VectorOps.IvfPqIndex.build(e, "vec_id", "embedding", c = 16, m = 8, k = 16)
    assert(idx.search(e.filter($"vec_id" < 0), "vec_id", "embedding",
      kTop = 5, nprobe = 4).count() == 0)
    idx.close()
  }

  test("cosineNearDupPairs is a subset of the exact pairs with high recall") {
    val e = Tables(spark, sfDir).embeddings
    // 0.45 is the operating threshold the fixture exercises (nothing in
    // the table exceeds cos ~0.52); the exact baseline is ground truth
    val exact = cosineAllPairs(e, "vec_id", "embedding", threshold = 0.45)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should yield exact pairs at 0.45")
    val lsh = cosineNearDupPairs(e, "vec_id", "embedding", threshold = 0.45,
      bits = 4, tables = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH verifies candidates exactly, so pairs must be a subset")
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall too low (exact=${exact.size}, lsh=${lsh.size})")
  }

  test("cosineAllPairs returned scores match a driver-side recomputation") {
    val e = Tables(spark, sfDir).embeddings
    val vecs = e.select($"vec_id", toDoubleArr($"embedding").as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    val got = cosineAllPairs(e, "vec_id", "embedding", threshold = 0.45).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (a, b) = (vecs(r.getLong(0)), vecs(r.getLong(1)))
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      val cos = dot / math.sqrt(na * nb)
      assert(java.lang.Double.doubleToLongBits(cos) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)))
    }
  }

  test("clusteredCosinePairs: precision 1, candidates grow with probes") {
    val e = Tables(spark, sfDir).embeddings
    val exact = cosineAllPairs(e, "vec_id", "embedding", threshold = 0.45)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    val idx = IvfIndex.build(e, "vec_id", "embedding", c = 8)
    try {
      val p1 = clusteredCosinePairs(idx, threshold = 0.45, probes = 1)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val p2 = clusteredCosinePairs(idx, threshold = 0.45, probes = 2)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(p2.subsetOf(exact), "every emitted pair is exact-verified")
      assert(p1.subsetOf(p2), "probe-1 candidates are contained in probe-2's")
      // the fixture's pairs all sit at cosine 0.45-0.51 — the regime
      // where cluster co-membership is weakest (SemDeDup's operating
      // point is 0.9+, covered by the crafted test below); the bound
      // here documents measured behavior, not a structural guarantee
      val recall = exact.intersect(p2).size.toDouble / exact.size
      assert(recall >= 0.5,
        s"clustered recall $recall too low (exact=${exact.size}, found=${p2.size})")
    } finally idx.close()
  }

  test("clusteredCosinePairs: recall 1 on high-similarity dups (the SemDeDup regime)") {
    // 10 planted pairs at cosine ≈ 0.9998 (one coordinate nudged) among
    // 30 scattered vectors; near-identical vectors rank centroids
    // near-identically, so probes=2 must recover every pair
    val dim = 16
    def vec(seed: Int): Seq[Double] =
      (0 until dim).map(d => math.sin(seed * 37.0 + d * 13.0))
    val rows =
      (0 until 10).flatMap { g =>
        val v = vec(g)
        Seq((2L * g, v), (2L * g + 1, v.updated(g % dim, v(g % dim) + 0.01)))
      } ++ (0 until 30).map(i => (100L + i, vec(1000 + i)))
    val df = rows.toDF("vec_id", "embedding")
    val exact = cosineAllPairs(df, "vec_id", "embedding", threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size >= 10, s"all planted pairs exceed 0.99: ${exact.size}")
    val idx = IvfIndex.build(df, "vec_id", "embedding", c = 5)
    try {
      val found = clusteredCosinePairs(idx, threshold = 0.99, probes = 2)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(found == exact,
        s"high-sim pairs must all co-cluster (exact=${exact.size}, found=${found.size})")
    } finally idx.close()
  }

  test("semanticDedupGroups at probes=c reduces to the exact all-pairs groups") {
    val e = Tables(spark, sfDir).embeddings
    val exactPairs = cosineAllPairs(e, "vec_id", "embedding", threshold = 0.45)
      .select("id_a", "id_b")
    val want = graft.dedup.Dedup
      .labelGroups(e, "vec_id", exactPairs, "id_a", "id_b")
      .select("vec_id", "group").as[(Long, Long)].collect().toMap
    val got = semanticDedupGroups(e, "vec_id", "embedding",
        threshold = 0.45, c = 8, probes = 8)
      .select("vec_id", "group").as[(Long, Long)].collect().toMap
    assert(got == want, "full-probe clustered groups must equal exact groups")
    assert(want.exists { case (id, g) => g != id }, "fixture has non-trivial groups")
  }

  test("mmrSelect: diversity beats a redundant higher-relevance candidate") {
    // query 0 on the x-axis; 1 is its duplicate, 2 and 3 are near-dups of
    // each other, 4 is equally relevant but orthogonal to 2's direction
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.8f, 0.6f, 0.0f)),
      (3L, Array(0.8f, 0.59f, 0.1f)),  // rel(3) > rel(4), but 3 ≈ 2
      (4L, Array(0.8f, 0.0f, 0.6f))
    ).toDF("vec_id", "embedding")
    val got = mmrSelect(vecs, "vec_id", "embedding",
        queryId = 0L, m = 4, k = 3, lambda = 0.5)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    // pure relevance would rank 3 before 4; MMR suppresses the near-dup
    assert(got == Seq(1L, 2L, 4L), s"got $got")
  }

  test("mmrSelect drops a null-vector candidate, whose similarities are all null") {
    // 3 has a null embedding: a null relevance sorts it last in the pool
    // and its similarities to the selected rows are all null, so no step
    // can score it — the selection stops one short of k
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, null: Array[Float])
    ).toDF("vec_id", "embedding")
    val got = mmrSelect(vecs, "vec_id", "embedding",
        queryId = 0L, m = 3, k = 3, lambda = 0.5)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L), s"got $got")
  }

  test("quantizedGram matches a driver-side recomputation on crafted vectors") {
    val vecs = Seq(
      (1L, Array(0.0f, 1.0f, 2.0f)),
      (2L, Array(4.0f, 0.0f, 2.0f)),
      (3L, Array(3.0f, 3.0f, 3.0f))) // constant vector codes to all-zero
    val df = vecs.toDF("vec_id", "embedding")
    val got = quantizedGram(df, "vec_id", "embedding")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // reference: same min-max int8 arithmetic per vector, then Σ ci·cj
    def codes(v: Array[Float]): Array[Long] = {
      val mn = v.min.toDouble; val mx = v.max.toDouble
      if (mx == mn) v.map(_ => 0L)
      else v.map(x => math.floor((x - mn) * 255.0 / (mx - mn)).toLong - 128L)
    }
    val cs = vecs.map { case (_, v) => codes(v) }
    val want = (for { i <- 0 until 3; j <- i until 3 } yield
      (i.toLong, j.toLong) -> cs.map(c => c(i) * c(j)).sum).toMap
    assert(got == want)
    // upper triangle only, diagonal non-negative
    assert(got.size == 6 && got.keys.forall { case (i, j) => i <= j })
    assert((0 until 3).forall(i => got((i.toLong, i.toLong)) >= 0L))
  }

  test("centroidDrift: identical snapshots score 1, a flipped axis scores its milli cosine") {
    val a = Seq((1, Array(1.0f, 0.0f)), (1, Array(1.0f, 0.5f)),
      (2, Array(0.0f, 1.0f))).toDF("label", "embedding")
    // group 1: identical distribution → drift 1.0; group 2: centroid
    // rotated onto the other axis → drift 0.0
    val b = Seq((1, Array(1.0f, 0.0f)), (1, Array(1.0f, 0.5f)),
      (2, Array(1.0f, 0.0f))).toDF("label", "embedding")
    val got = VectorOps.centroidDrift(a, b, "label", "embedding")
      .as[(Int, Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    assert(got(1) == ((1, 2L, 2L, Some(1.0))))
    assert(got(2) == ((2, 1L, 1L, Some(0.0))))
  }

  test("centroidDrift: groups empty on one side report null drift, counts survive") {
    val a = Seq((7, Array(1.0f, 1.0f))).toDF("label", "embedding")
    val b = Seq((8, Array(1.0f, 1.0f))).toDF("label", "embedding")
    val got = VectorOps.centroidDrift(a, b, "label", "embedding")
      .as[(Int, Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    assert(got(7) == ((7, 1L, 0L, None)) && got(8) == ((8, 0L, 1L, None)))
  }

  test("centroidDrift is invariant to row order and partitioning (integer sums)") {
    val e = graft.core.Tables(spark, sfDir).embeddings
    val a = e.filter($"vec_id" % 2 === 0)
    val b = e.filter($"vec_id" % 2 === 1)
    val r1 = VectorOps.centroidDrift(a, b, "label", "embedding")
      .as[(Int, Long, Long, Option[Double])].collect().toSet
    val r2 = VectorOps.centroidDrift(a.repartition(17), b.repartition(3),
        "label", "embedding")
      .as[(Int, Long, Long, Option[Double])].collect().toSet
    assert(r1 == r2, "drift must be bit-identical under any partitioning")
  }
}
