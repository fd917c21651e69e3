package graft.text

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

class TextSearchSpec extends SparkSpec {
  import spark.implicits._

  test("bm25TopK matches an exact driver-side recomputation on the fixture") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val terms = Seq("hash", "join", "spark")
    val got = TextSearch.bm25TopK(docs, "doc_id", "text", terms, k = 10)
      .as[(Long, Double)].collect().toSeq

    // reference implementation: same formulation, computed in plain Scala
    val corpus = docs.select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("t"))
      .as[(Long, Seq[String])].collect()
    val n = corpus.length.toLong
    val avgdl = corpus.map(_._2.length.toDouble).sum / n
    val dfs = terms.map(t => t -> corpus.count(_._2.contains(t)).toLong).toMap
    val (k1, b) = (1.2, 0.75)
    def score(toks: Seq[String]): Double = {
      val dl = toks.length.toDouble
      terms.map { t =>
        val df = dfs(t)
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        val tf = toks.count(_ == t).toDouble
        idf * tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
      }.sum
    }
    val expected = corpus.map { case (id, t) => (id, score(t)) }
      .filter(_._2 > 0.0)
      .sortBy { case (id, s) => (-s, id) }.take(10).toSeq
    assert(got.map(_._1) == expected.map(_._1),
      s"ranking mismatch: $got vs $expected")
    got.zip(expected).foreach { case ((_, a), (_, e)) =>
      // avgdl partition-sum order can differ by ulps between engines
      assert(math.abs(a - e) <= 1e-9 * math.max(1.0, math.abs(e)))
    }
  }

  test("bm25 ranking behaves: tf helps, doc length hurts, rare terms weigh more") {
    val docs = Seq(
      (1L, "hash hash hash join"),           // high tf on both terms
      (2L, "hash join"),                     // short, one tf each
      (3L, "hash " + ("filler " * 50).trim), // long doc, diluted
      (4L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val top = TextSearch.bm25TopK(docs, "doc_id", "text", Seq("hash", "join"), k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(top.map(_._1).take(2) == Seq(1L, 2L), s"unexpected ranking: $top")
    assert(!top.map(_._1).contains(4L), "non-matching doc must not appear")
    val scores = top.toMap
    assert(scores(2L) > scores(3L), "length normalization should demote the diluted doc")
  }

  test("rrfFuse sums 1/(c+rank) across lists; hand-checked fusion") {
    // list A ranks: 10 (r1), 20 (r2), 30 (r3); list B: 20 (r1), 40 (r2)
    val a = Seq((10L, 9.0), (20L, 5.0), (30L, 1.0)).toDF("id", "score")
    val bl = Seq((20L, 0.9), (40L, 0.8)).toDF("id", "score")
    val got = TextSearch.rrfFuse(Seq(a, bl), "id", "score", k = 10, c = 60)
      .as[(Long, Double)].collect().toMap
    val eps = 1e-12
    assert(math.abs(got(20L) - (1.0 / 62 + 1.0 / 61)) < eps) // both lists
    assert(math.abs(got(10L) - 1.0 / 61) < eps)
    assert(math.abs(got(40L) - 1.0 / 62) < eps)
    assert(math.abs(got(30L) - 1.0 / 63) < eps)
    // 20 appears in both lists → must rank first
    val order = TextSearch.rrfFuse(Seq(a, bl), "id", "score", k = 2)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(order == Seq(20L, 10L))
    assert(intercept[IllegalArgumentException] {
      TextSearch.rrfFuse(Seq.empty, "id", "score", k = 5)
    }.getMessage.contains("ranking"))
  }

  test("rrfFuseInt: integer contributions 1e12 div (c+rank); order matches float rrfFuse") {
    val a = Seq((10L, 9L), (20L, 5L), (30L, 1L)).toDF("id", "score")
    val bl = Seq((20L, 9L), (40L, 8L)).toDF("id", "score")
    val got = TextSearch.rrfFuseInt(Seq(a, bl), "id", "score", k = 10, c = 60)
      .as[(Long, Long)].collect().toMap
    def t(r: Int): Long = 1000000000000L / (60 + r)
    assert(got(20L) == t(2) + t(1)) // rank 2 in A, rank 1 in B
    assert(got(10L) == t(1))
    assert(got(40L) == t(2))
    assert(got(30L) == t(3))
    val order = TextSearch.rrfFuseInt(Seq(a, bl), "id", "score", k = 4)
      .as[(Long, Long)].collect().map(_._1).toSeq
    assert(order == Seq(20L, 10L, 40L, 30L))
  }

  test("q178 integer hybrid ranks agree with q64's float fusion on the shared top") {
    // Same rails, same fusion topology; the integer reciprocal-rank
    // table is a monotone image of the float one at equal c, so the
    // fused ORDER must be identical whenever the float form has no
    // cross-list precision ties — pinned here on the fixture corpus
    val int = graft.queries.Queries.q178_hybrid_search_int(spark, sfDir)
      .as[(Long, Long)].collect().map(_._1).toSeq
    assert(int.size == 10)
    val kw = TextSearch.bm25IntTopK(Tables(spark, sfDir).documents,
      "doc_id", "text", Seq("hash", "join", "spark"), k = 20)
    val ann = graft.functions.VectorOps.annBruteForce(
        Tables(spark, sfDir).embeddings, "vec_id", "embedding",
        Tables(spark, sfDir).embeddings.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 20)
      .select(col("id"), col("cos").as("score"))
    val float = TextSearch.rrfFuse(Seq(kw, ann), "id", "score", k = 10)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(int == float, s"integer fusion order $int != float order $float")
  }

  test("q64 hybrid fusion returns k rows drawn from both rails") {
    val fused = graft.queries.Queries.q64_hybrid_search(spark, sfDir)
      .as[(Long, Double)].collect().toSeq
    assert(fused.size == 10)
    assert(fused.map(_._2).toSeq == fused.map(_._2).sortBy(-_).toSeq, "sorted by fused score")
  }

  test("phraseTf counts adjacent-in-order occurrences only") {
    val docs = Seq(
      (1L, "san francisco is in california"),          // 1 occurrence
      (2L, "francisco san is reversed"),                // order matters → 0
      (3L, "san x francisco has a gap"),                // adjacency matters → 0
      (4L, "san francisco san francisco twice"),        // 2 occurrences
      (5L, "san san francisco overlapping start"),      // 1 (second window)
      (6L, "san"),                                      // shorter than phrase → 0
      (7L, "")                                          // empty → 0
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        TextSearch.phraseTf(TextFunctions.tokens(col("text")),
          Seq("san", "francisco")).as("tf"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 2L, 5L -> 1L, 6L -> 0L, 7L -> 0L))
    // a 3-word phrase, including self-overlapping repetition
    val tri = Seq((1L, "a b a b a"), (2L, "a b a")).toDF("doc_id", "text")
    val got3 = tri.select(col("doc_id"),
        TextSearch.phraseTf(TextFunctions.tokens(col("text")), Seq("a", "b", "a")).as("tf"))
      .as[(Long, Long)].collect().toMap
    assert(got3 == Map(1L -> 2L, 2L -> 1L))
  }

  test("phraseTopK keeps only phrase documents, ranked by the terms' BM25") {
    val docs = Seq(
      (1L, "san francisco weather report"),
      (2L, "francisco san reversed words here"),
      (3L, "san francisco san francisco housing"),
      (4L, "totally unrelated text body"),
      (5L, "san appears alone without the pair")
    ).toDF("doc_id", "text")
    val got = TextSearch.phraseTopK(docs, "doc_id", "text",
        Seq("san", "francisco"), k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(got.map(_._1).toSet == Set(1L, 3L),
      s"only adjacent-in-order docs may rank: $got")
    // doc 3 carries double tf on both terms at comparable length → ranks first
    assert(got.head._1 == 3L)
    // scores equal plain bm25TopK's for the same docs (corpus-wide stats)
    val bm = TextSearch.bm25TopK(docs, "doc_id", "text", Seq("san", "francisco"), k = 10)
      .as[(Long, Double)].collect().toMap
    got.foreach { case (id, s) =>
      assert(java.lang.Double.doubleToLongBits(s) ==
        java.lang.Double.doubleToLongBits(bm(id)),
        "phrase filter must not perturb the BM25 arithmetic")
    }
  }

  test("bm25Components carries the exact integers the scorer consumes") {
    val docs = Seq(
      (1L, "hash join hash"),
      (2L, "spark only"),
      (3L, "")
    ).toDF("doc_id", "text")
    val got = TextSearch.bm25Components(docs, "doc_id", "text",
        Seq("hash", "join", "spark"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 2L, 1L, 0L), (2L, 2L, 0L, 0L, 1L), (3L, 0L, 0L, 0L, 0L)))
  }

  test("bm25TopK guards: empty query, bad k, empty corpus") {
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    assert(intercept[IllegalArgumentException] {
      TextSearch.bm25TopK(docs, "doc_id", "text", Seq.empty, k = 5)
    }.getMessage.contains("term"))
    assert(intercept[IllegalArgumentException] {
      TextSearch.bm25TopK(docs, "doc_id", "text", Seq("a"), k = 0)
    }.getMessage.contains("k"))
    assert(intercept[IllegalArgumentException] {
      TextSearch.bm25TopK(docs.limit(0), "doc_id", "text", Seq("a"), k = 5)
    }.getMessage.contains("corpus"))
  }

  test("native phraseTf kernel is bit-identical to the HOF formulation on the fixture") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val phrase = Seq("table", "hash")
    val both = docs.select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      .select(
        TextSearch.phraseTf(col("t"), phrase).as("native"),
        TextSearch.phraseTfHof(col("t"), phrase).as("hof"))
      .as[(Long, Long)].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, h) => assert(n == h) }
    // null token elements never match in either formulation
    val withNull = Seq(Seq(Option("a"), None, Option("b"))).toDF("t")
    val r = withNull.select(
      TextSearch.phraseTf(col("t"), Seq("a", "b")).as("native"),
      TextSearch.phraseTfHof(col("t"), Seq("a", "b")).as("hof")).collect()(0)
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
  }

  test("minSpan: two-pointer window semantics incl. absence, repeats, k terms") {
    val docs = Seq(
      (1L, "table hash close"),                  // adjacent → 2
      (2L, "table a b c hash far"),              // gap → 5
      (3L, "hash then much later table"),        // order-free → 5
      (4L, "table only no second term"),         // absent → null
      (5L, ""),                                  // empty → null
      (6L, "table x table hash x"),              // repeats: best window → 2
      (7L, "hash table hash table")               // multiple minima → 2
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        TextSearch.minSpan(TextFunctions.tokens(col("text")),
          Seq("table", "hash")).as("s"))
      .as[(Long, Option[Long])].collect().toMap
    assert(got == Map(1L -> Some(2L), 2L -> Some(5L), 3L -> Some(5L),
      4L -> None, 5L -> None, 6L -> Some(2L), 7L -> Some(2L)))
    // three terms: minimal window must cover all of them
    val tri = Seq((1L, "a x b y c"), (2L, "c b a"), (3L, "a b x x c a b"))
      .toDF("doc_id", "text")
    val got3 = tri.select(col("doc_id"),
        TextSearch.minSpan(TextFunctions.tokens(col("text")),
          Seq("a", "b", "c")).as("s"))
      .as[(Long, Option[Long])].collect().toMap
    assert(got3 == Map(1L -> Some(5L), 2L -> Some(3L), 3L -> Some(3L)))
  }

  test("proximityTopK keeps only within-window docs, ranked by the terms' BM25") {
    val docs = Seq(
      (1L, "spark join inside window"),
      (2L, "spark a b c d e f g h join outside"),
      (3L, "join spark reversed inside"),
      (4L, "spark only one term"),
      (5L, "neither word here")
    ).toDF("doc_id", "text")
    val got = TextSearch.proximityTopK(docs, "doc_id", "text",
        Seq("spark", "join"), window = 5, k = 10)
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 3L), s"got $got")
    // scores equal the unconstrained BM25 scores of the surviving docs
    val prox = TextSearch.proximityTopK(docs, "doc_id", "text",
        Seq("spark", "join"), window = 5, k = 10)
      .as[(Long, Double)].collect().toMap
    val plain = TextSearch.bm25TopK(docs, "doc_id", "text",
        Seq("spark", "join"), k = 10)
      .as[(Long, Double)].collect().toMap
    prox.foreach { case (id, s) =>
      assert(java.lang.Double.doubleToLongBits(s) ==
        java.lang.Double.doubleToLongBits(plain(id)), s"doc $id score drift")
    }
    assert(intercept[IllegalArgumentException] {
      TextSearch.proximityTopK(docs, "doc_id", "text", Seq("a", "b"),
        window = 1, k = 5)
    }.getMessage.contains("window"))
  }

  test("invertedIndex: postings sorted+distinct, maxDf drops stopwords") {
    val docs = Seq(
      (3L, "the cat sat"),
      (1L, "the the dog"),
      (2L, "the cat")).toDF("doc_id", "text")
    val idx = TextSearch.invertedIndex(docs, "doc_id", "text")
      .as[(String, Long, Seq[Long])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(idx("the") == ((3L, Seq(1L, 2L, 3L))))  // repeated "the" in doc 1 counts once
    assert(idx("cat") == ((2L, Seq(2L, 3L))))
    assert(idx("dog") == ((1L, Seq(1L))))
    val capped = TextSearch.invertedIndex(docs, "doc_id", "text", maxDf = Some(2L))
      .select("token").as[String].collect().toSet
    assert(capped == Set("cat", "sat", "dog"))
  }

  test("saved index lookup prunes to the terms' bucket partitions") {
    val docs = graft.core.Tables(spark, sfDir).documents
    val idx = TextSearch.invertedIndex(docs, "doc_id", "text")
    withTempDir("graft_invidx") { tmp =>
      val dir = tmp.toString
      TextSearch.saveIndex(idx, dir, buckets = 16)
      val terms = Seq("the", "and", "graph")
      val got = TextSearch.loadPostings(spark, dir, terms, buckets = 16)
      // correctness: identical to filtering the in-memory index
      val want = idx.filter(col("token").isin(terms: _*))
        .as[(String, Long, Seq[Long])].collect().toSet
      assert(got.as[(String, Long, Seq[Long])].collect().toSet == want)
      // the bucket IN-filter must reach the scan as a partition filter:
      // with 16 buckets and ≤3 probed, pruned file count < total file count
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
        s"bucket pruning missing from scan:\n$plan")
    }
  }

  test("bm25IntTopK: tf saturates, rarity wins, length normalization penalizes padding") {
    val docs = Seq(
      (1L, "cat cat cat dog"),                    // tf(cat)=3, short
      (2L, "cat dog"),                            // tf(cat)=1
      (3L, "cat " + ("filler " * 40).trim),       // tf(cat)=1, long → penalized
      (4L, "rare dog"),                           // the only 'rare' doc
      (5L, "dog dog")).toDF("doc_id", "text")
    def top(terms: Seq[String]) =
      TextSearch.bm25IntTopK(docs, "doc_id", "text", terms, k = 5)
        .as[(Long, Long)].collect().toSeq
    val cats = top(Seq("cat"))
    // tf ordering: doc1 (tf 3) above doc2 (tf 1); doc3 (tf 1 but long)
    // scores below doc2
    val byId = cats.toMap
    assert(cats.head._1 == 1L, s"highest tf must rank first: $cats")
    assert(byId(2L) > byId(3L), s"length norm must penalize the padded doc: $cats")
    assert(!byId.contains(5L), "docs without the term must not appear")
    // rarity: 'rare' (df 1) outscores 'dog' (df 4) for the doc holding both
    val both = top(Seq("rare", "dog"))
    val dogOnly = top(Seq("dog"))
    assert(both.head._1 == 4L, s"the rare-term doc must lead the combined query: $both")
    assert(both.toMap.apply(4L) > dogOnly.toMap.apply(4L),
      "adding the rare matched term must raise the score")
    // determinism across partitioning
    val again = TextSearch.bm25IntTopK(docs.repartition(5), "doc_id", "text",
        Seq("cat"), k = 5).as[(Long, Long)].collect().toSeq
    assert(again == cats)
  }

  test("bm25IntTopK: pathological tf beyond the 64-bit cap stays exact (no silent wrap)") {
    // tf = 50k exceeds the pre-guard overflow point (~42k at default k1:
    // tf·22000·1e10 > Long.MaxValue) — before the clamp Spark (ANSI off)
    // wrapped to a junk score here while DuckDB would raise
    val docs = Seq(
      (1L, ("cat " * 50000).trim),
      (2L, "cat dog"),
      (3L, "dog dog")).toDF("doc_id", "text")
    val got = TextSearch.bm25IntTopK(docs, "doc_id", "text", Seq("cat"), k = 3)
      .as[(Long, Long)].collect().toSeq
    val byId = got.toMap
    assert(got.nonEmpty && got.forall(_._2 > 0),
      s"clamped scores must stay positive (wrap would go negative): $got")
    // the monster doc's tf is saturated AND length-normalized far below
    // the short doc's per-term value, but it must still beat absence
    assert(byId.contains(1L) && byId.contains(2L) && !byId.contains(3L), s"$got")
  }

  test("phraseIntTopK: adjacency beats bag-of-words at equal term counts") {
    val docs = Seq(
      (1L, "hash join planner"),       // adjacent phrase
      (2L, "join order hash cost"),    // both words, not adjacent
      (3L, "hash hash table")).toDF("doc_id", "text")
    val got = TextSearch.phraseIntTopK(docs, "doc_id", "text",
        Seq("hash", "join"), k = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.head._1 == 1L && got.head._2 == 1L,
      s"the adjacent-phrase doc must rank first with ptf 1: $got")
    val byId = got.map(r => r._1 -> r._3).toMap
    assert(byId(1L) > byId(2L), s"phrase boost missing: $got")
  }

  test("tfIdfTopTerms: hand-computed ppm scores, rare terms outrank common ones") {
    val docs = Seq(
      (1L, "alpha alpha common"),
      (2L, "beta common common"),
      (3L, "common gamma gamma gamma")).toDF("doc_id", "text")
    val got = TextSearch.tfIdfTopTerms(docs, "doc_id", "text", k = 2)
      .as[(Long, Long, String, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    // N=3; df: alpha 1, beta 1, gamma 1, common 3
    // idf_ppm: rare = 3000000, common = 1000000
    // doc1: alpha tf2 → 6000000 beats common tf1 → 1000000
    assert(got(1L) == Seq((1L, 1L, "alpha", 2L, 1L, 6000000L),
      (1L, 2L, "common", 1L, 3L, 1000000L)))
    // doc2: beta 3000000; common tf2 → 2000000
    assert(got(2L) == Seq((2L, 1L, "beta", 1L, 1L, 3000000L),
      (2L, 2L, "common", 2L, 3L, 2000000L)))
    // doc3: gamma tf3 → 9000000; common 1000000
    assert(got(3L) == Seq((3L, 1L, "gamma", 3L, 1L, 9000000L),
      (3L, 2L, "common", 1L, 3L, 1000000L)))
  }

  test("tfIdfTopTerms tie-break is (score desc, token asc) and k caps per doc") {
    val docs = Seq((1L, "aa bb cc")).toDF("doc_id", "text")
    val got = TextSearch.tfIdfTopTerms(docs, "doc_id", "text", k = 2)
      .orderBy("rank").as[(Long, Long, String, Long, Long, Long)].collect().toSeq
    // all three terms score identically → lexicographic order, capped at 2
    assert(got.map(_._3) == Seq("aa", "bb"))
  }
}
