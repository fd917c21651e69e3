package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterated graph computations over edge lists — the similarity-graph
  * analytics a curation pipeline layers on the k-NN graph
  * ([[graft.functions.VectorOps.knnGraph]]): importance scoring as a
  * data-selection prior (web-graph PageRank as a quality signal is a
  * standard pretraining-data move), alongside the label-propagation and
  * connected-components rails that live with their operators.
  *
  * Scale shape (shared with [[graft.dedup.Dedup.connectedComponents]]):
  * each iteration is two key shuffles over the EDGE list (join on src +
  * groupBy dst, both map-side combinable) — never all-pairs, never a
  * global window — with the per-round score frame
  * localCheckpoint-truncated and the superseded round's blocks released,
  * so lineage and block-manager memory stay O(1) in the iteration count.
  *
  * Reference: kasper has no graph layer; the edge substrate is the
  * reassembly-join topology (/root/reference/examples, characters⋈fictions)
  * generalized to iterated self-joins.
  */
object GraphOps {

  /** The modular-hash family constants the walk/embedding rails share
    * (Knuth multiplicative / xxHash-prime multipliers over the Mersenne
    *-adjacent prime 1e9+7). Exposed `private[graft]` so diagnostics
    * that mirror an op's internals (tools/EmbedProfile) read the SAME
    * constants instead of re-literalizing them — a drifted mirror would
    * silently profile a different computation than the op runs.
    */
  private[graft] val HashP = 1000000007L
  private[graft] val HashMulA = 2654435761L
  private[graft] val HashMulB = 2246822519L
  /** [[ppmiEmbedInt]]'s default saturation cap for the positive-lift
    * milli-units (shared with its diagnostic mirror).
    */
  private[graft] val DefaultLiftCapMilli = 1000000L

  /** Deterministic hash-driven random walks — the DeepWalk/node2vec
    * INPUT corpus (walks feed a skip-gram embedding trainer), generated
    * with no RNG state: `walksPerNode` walks of `steps` steps start
    * from every node with out-edges, and at step t the walk at node u
    * takes neighbor index
    * `(start·A + walk·B + t·C + u·D) mod P mod deg(u)` over u's
    * dst-sorted neighbor list — uniform-style pseudo-random but fully
    * reproducible (the [[graft.ops.CorpusOps.sampleRank]]
    * arithmetic-hash discipline), so the whole walk corpus
    * hash-checks against a step-unrolled SQL oracle and any re-run or
    * engine port regenerates it bit-identically (the property a
    * training-data pipeline needs from its sampling stages). A walk
    * reaching a sink stops early (its emitted prefix stays).
    *
    * Output rows: (start, walk, step, node), step 0 = the start node.
    * Id-range contract (shared with [[graft.ops.CorpusOps.sampleRank]],
    * same largest multiplier): node ids must stay ≲ 3.4×10⁹ so
    * id·2654435761 fits a BIGINT on engines that error on overflow
    * rather than wrap (re-key or pre-mod larger id spaces first).
    * Parallel (src, dst) duplicates are collapsed before indexing —
    * the neighbor list is a SET, so a doubled edge cannot bias the
    * pick probability.
    *
    * Scale shape: the indexed adjacency (row_number + count over the
    * per-src window, cached via the tracked registry — scanned once
    * per step) and one equi-join on the current node per step; the
    * frontier is |starts|·walksPerNode rows throughout, never expanded,
    * and `steps` is a small constant so the unioned lineage stays flat.
    */
  def hashWalks(edges: DataFrame, srcCol: String, dstCol: String,
                steps: Int, walksPerNode: Int): DataFrame = {
    require(steps >= 1, s"steps must be positive, got $steps")
    require(walksPerNode >= 1, s"walksPerNode must be positive, got $walksPerNode")
    val P = 1000000007L
    val spark = edges.sparkSession
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
    val idx = ScaleOps.trackCache(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct() // a doubled (src, dst) row must not double its pick odds
      .withColumn("i", row_number().over(w.orderBy("dst")).cast("long") - 1L)
      .withColumn("deg", count(lit(1)).over(w)))
    val starts = idx.select(col("src").as("start")).distinct()
    val walkIds = spark.range(walksPerNode).select(col("id").cast("long").as("walk"))
    val f0 = starts.crossJoin(walkIds)
      .select(col("start"), col("walk"), lit(0).as("step"),
        col("start").as("node"))
    val frontiers = Iterator.iterate((f0, 1)) { case (f, t) =>
      val h = pmod(
        pmod(col("start") * lit(2654435761L), lit(P)) +
          pmod(col("walk") * lit(2246822519L), lit(P)) +
          lit((t * 3266489917L) % P) +
          pmod(col("node") * lit(668265263L), lit(P)), lit(P))
      val next = f.join(idx, f("node") === idx("src") &&
          idx("i") === pmod(h, col("deg")))
        .select(col("start"), col("walk"), lit(t).as("step"),
          col("dst").as("node"))
      (next, t + 1)
    }.map(_._1).take(steps + 1).toSeq
    frontiers.reduce(_ unionAll _)
  }

  /** Skip-gram (center, context) pair counts over a walk corpus — the
    * step after [[hashWalks]] in the DeepWalk pipeline: within each
    * (start, walk) sequence, every ordered pair of nodes at step
    * distance 1..`window` co-occurs once, aggregated corpus-wide to
    * (center, context, n). Pure integer counting over deterministic
    * walks → the trainer input hash-checks end-to-end.
    *
    * Scale shape: one self-equi-join on the (start, walk) key with the
    * step-distance predicate inside the join condition (walks are
    * `steps+1` rows each, so per-key fan-out is a small constant) and
    * one map-side-combinable pair groupBy. The walk frame is cached
    * via the tracked registry before the self-join — an uncached
    * frame would re-execute the whole step-join chain (and the edge
    * pipeline under it) on BOTH sides (the DAG-reuse rule).
    */
  /** Second-order BIASED hash walks — the node2vec variant of
    * [[hashWalks]] (Grover & Leskovec 2016, "node2vec: Scalable feature
    * learning for networks"): at each step the candidate neighbor `d`
    * of the walk at `u` (arrived from `prev`) draws an integer TICKET
    * weight — `wReturn` if `d = prev` (node2vec's 1/p), `wCommon` if
    * `prev→d` is an edge (distance 1, BFS-ish), `wFar` otherwise (1/q,
    * DFS-ish) — and the pick is the neighbor whose cumulative ticket
    * interval (dst-sorted) contains `H(start, walk, t, u) mod Σtickets`,
    * the same modular hash family as the uniform walker. Integer
    * tickets instead of node2vec's float probabilities keep the corpus
    * bit-reproducible and SQL-mirrorable: the whole biased corpus
    * hash-checks against a step-unrolled oracle. Step 1 has no
    * predecessor; `prev = start` makes every first candidate a
    * `wCommon` draw (uniform), the node2vec convention.
    *
    * Scale shape: per step, ONE equi-join of the frontier on the edge
    * list (fan-out = out-degree), one left equi-join on (prev, cand)
    * for the distance-1 flag, and ticket cumsums over
    * (start, walk)-partitioned windows bounded by max out-degree —
    * never single-partition, never all-pairs. The frontier stays
    * |starts|·walksPerNode rows; sinks stop early; zero-total ticket
    * groups cannot occur (weights are required ≥ 1).
    *
    * Output rows: (start, walk, step, node) — [[hashWalks]]'s shape, so
    * [[skipGramPairs]] consumes either corpus unchanged. Same id-range
    * contract as [[hashWalks]].
    */
  def biasedHashWalks(edges: DataFrame, srcCol: String, dstCol: String,
                      steps: Int, walksPerNode: Int,
                      wReturn: Long = 1L, wCommon: Long = 4L,
                      wFar: Long = 2L): DataFrame = {
    require(steps >= 1, s"steps must be positive, got $steps")
    require(walksPerNode >= 1, s"walksPerNode must be positive, got $walksPerNode")
    require(wReturn >= 1L && wCommon >= 1L && wFar >= 1L,
      "ticket weights must be >= 1 (a zero-total neighbor group would " +
        s"strand the walk), got ($wReturn, $wCommon, $wFar)")
    val P = 1000000007L
    val spark = edges.sparkSession
    val e = ScaleOps.trackCache(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct())
    val starts = e.select(col("src").as("start")).distinct()
    val walkIds = spark.range(walksPerNode).select(col("id").cast("long").as("walk"))
    val f0 = starts.crossJoin(walkIds)
      .select(col("start"), col("walk"), lit(0).as("step"),
        col("start").as("node"), col("start").as("prev"))
    val winCum = org.apache.spark.sql.expressions.Window
      .partitionBy("start", "walk").orderBy("cand")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val winTot = org.apache.spark.sql.expressions.Window
      .partitionBy("start", "walk")
    // the prev-adjacency side re-aliases every column, so the two uses
    // of the edge frame cannot trip the ambiguous-self-join detector
    val prevAdj = e.select(col("src").as("__ps"), col("dst").as("__pd"))
    val frontiers = Iterator.iterate((f0, 1)) { case (f, t) =>
      val cand = f.join(e.as("e"), f("node") === col("e.src"))
        .join(prevAdj,
          f("prev") === col("__ps") && col("e.dst") === col("__pd"), "left")
        .select(col("start"), col("walk"), col("node"),
          col("e.dst").as("cand"),
          when(col("e.dst") === f("prev"), lit(wReturn))
            .when(col("__pd").isNotNull, lit(wCommon))
            .otherwise(lit(wFar)).as("__w"))
      val h = pmod(
        pmod(col("start") * lit(2654435761L), lit(P)) +
          pmod(col("walk") * lit(2246822519L), lit(P)) +
          lit((t * 3266489917L) % P) +
          pmod(col("node") * lit(668265263L), lit(P)), lit(P))
      val next = cand
        .withColumn("__cum", sum(col("__w")).over(winCum))
        .withColumn("__r", pmod(h, sum(col("__w")).over(winTot)))
        .filter(col("__r") >= col("__cum") - col("__w") &&
          col("__r") < col("__cum"))
        .select(col("start"), col("walk"), lit(t).as("step"),
          col("cand").as("node"), col("node").as("prev"))
      (next, t + 1)
    }.map(_._1).take(steps + 1).toSeq
    frontiers.map(_.select("start", "walk", "step", "node"))
      .reduce(_ unionAll _)
  }

  def skipGramPairs(walksIn: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be positive, got $window")
    val walks = ScaleOps.trackCache(walksIn)
    walks.as("a").join(walks.as("b"),
        col("a.start") === col("b.start") && col("a.walk") === col("b.walk") &&
          col("a.step") =!= col("b.step") &&
          abs(col("a.step") - col("b.step")) <= window)
      .groupBy(col("a.node").as("center"), col("b.node").as("context"))
      .agg(count(lit(1)).as("n"))
  }

  /** Rank-`dims` node embeddings by fixed-round power iteration over the
    * POSITIVE-PMI co-occurrence matrix of a skip-gram pair corpus — the
    * stage that closes the graph-embedding loop ([[hashWalks]] /
    * [[biasedHashWalks]] → [[skipGramPairs]] → HERE → the ANN family):
    * Levy & Goldberg 2014 ("Neural word embedding as implicit matrix
    * factorization") showed SGNS factorizes the shifted-PMI matrix, so
    * a deterministic low-rank view of PPMI is the trainer-free form of
    * the same embedding. Every step is 64-bit integer arithmetic (the
    * [[hitsInt]] discipline), so the entire embedding table
    * hash-checks against a round-unrolled SQL oracle and regenerates
    * bit-identically on any engine — the property none of the
    * float/SGD trainers have.
    *
    * Semantics: `pp(c,x) = min(liftCapMilli, max(0, (n·N·10³) div
    * (nc·nx) − 10³))` (positive lift above independence in
    * milli-units, saturated — the q108/q246 PMI-sans-log discipline;
    * the subtraction is the "positive" in PPMI). Dimension `j` starts
    * at `e₀(v,j) = 5·10⁵ + 5·10⁵·[H(v,j) mod 2 = 0]` (hash-indicator
    * halves — deterministic sign-free diversity; H is the walk rails'
    * modular hash family), and each round applies the matrix then
    * max-normalizes per dimension: `r(c,j) = Σ_x pp(c,x)·e(x,j)`,
    * `e'(c,j) = (r·10⁶) div max_c r(c,j)` — max- rather than
    * sum-normalization keeps per-entry magnitudes at ≤ 10⁶ so the
    * next round's products stay ≤ 10¹² per term (overflow headroom:
    * ≲ 9.2·10⁶ positive-pp contexts per center; shard beyond that).
    * With a handful of fixed rounds the hash-diverse starts retain
    * rank diversity (full convergence would collapse every dimension
    * onto the dominant eigenvector — fixed-round truncation is
    * load-bearing, not a shortcut).
    *
    * Scale shape: marginals and the corpus total are map-side
    * aggregates (the total is ONE bounded driver row that doubles as
    * the runtime overflow guard, folded back as a literal — no
    * crossJoin); each round is ONE job: a pp⋈e equi-join + one
    * map-side-combinable (center, dim) groupBy, lazily
    * checkpoint-truncated with the `dims`-row maxima collect as the
    * materializing action (the maxima fold back as a map literal), and
    * the superseded leaf released ([[pageRankInt]]'s cadence concern
    * doesn't arise — each round's frame is referenced once). The
    * returned frame reads the final leaves — materialize before any
    * blanket release, the iterated-op contract.
    *
    * Output: (id, dim, val) for every node of the pair corpus and
    * every dim in [0, dims) — val in [0, 10⁶] micro-units;
    * [[embedVectors]] pivots to the `Array[Float]` the ANN family
    * ingests.
    */
  def ppmiEmbedInt(pairsIn: DataFrame, centerCol: String, contextCol: String,
                   nCol: String, dims: Int = 8, iters: Int = 2,
                   liftCapMilli: Long = DefaultLiftCapMilli): DataFrame = {
    require(dims >= 1 && dims <= 64, s"dims must be in [1, 64], got $dims")
    require(iters >= 1 && iters <= 8, s"iters must be in [1, 8], got $iters")
    require(liftCapMilli >= 1, s"liftCapMilli must be positive, got $liftCapMilli")
    val P = HashP
    val spark = pairsIn.sparkSession
    // the pair corpus is a LAZY CHECKPOINT leaf, not a cache: every later
    // action here plans over a LogicalRDD instead of the walk lineage. As
    // a cache over the cached walks over the cached edges, each reference
    // printed its whole cached plan (Final + Initial under AQE) into the
    // SQL UI event strings Spark renders even with the UI off: 114 MB of
    // plan text per q248 execution, 9.4 MB in one event (PlanCheckSpec's
    // q248 guard). The `tot` aggregate below is its
    // materializer (a full aggregate, never a limit(1) probe), and it is
    // tracked first so the requires' failure paths release it too.
    val pairs = ScaleOps.trackCheckpoint(pairsIn.select(
      col(centerCol).cast("long").as("c"), col(contextCol).cast("long").as("x"),
      col(nCol).cast("long").as("n")).localCheckpoint(false))
    val tot = pairs.agg(coalesce(sum(col("n")), lit(0L)).as("nn"),
      coalesce(max(col("n")), lit(0L)).as("mx")).head()
    val (nn, mx) = (tot.getLong(0), tot.getLong(1))
    require(nn > 0, "ppmiEmbedInt needs a non-empty pair corpus")
    require(mx <= Long.MaxValue / 1000L / nn,
      s"lift headroom exceeded: max pair count $mx x corpus total $nn x 1e3 " +
        "overflows i64 - shard the pair corpus first")
    // NOTE (optimization r16, measured and REJECTED): folding both
    // marginals through one exchange (groupBy over the role-tagged
    // union of the two key projections, nodes = the fold's key set) was
    // tried per the r15 verdict. It is NOT a win at any scale: the two
    // aggregates below carry map-side partial aggregation, so each
    // exchange ships ~|V|-bounded rows per partition and AQE runs the
    // two narrow stages IN PARALLEL inside the pp-fill job — the union
    // form shuffles the same total rows through one WIDER serial
    // exchange plus an extra materialization job, and measured 1.2–1.4×
    // slower across the whole q248 chain family at sf0.1 (pp fill
    // 0.58→0.76 s + 0.49 s marg job, round-1 0.94→1.18 s warm; the A/B
    // and its numbers are in OPTIMIZATION_r16.md §2). Kept as the r15
    // shape.
    val nc = pairs.groupBy("c").agg(sum(col("n")).as("nc"))
    val nx = pairs.groupBy("x").agg(sum(col("n")).as("nx"))
    val pp = ScaleOps.trackCache(pairs.join(nc, "c").join(nx, "x")
      .select(col("c"), col("x"),
        least(lit(liftCapMilli), greatest(lit(0L),
          expr(s"(n * ${nn}L * 1000L) div (nc * nx) - 1000L"))).as("pp"))
      .filter(col("pp") > 0L))
    // pp's non-emptiness guard moved into round 1 (an empty round-1
    // partial frame ⟺ empty pp, since e₀ covers every context node):
    // a dedicated count here was one full extra job per call whose only
    // other role — filling the pp cache — round 1's own scan performs
    // anyway (optimization r15; the r14 guard-as-cache-fill note is
    // subsumed by the fused-round shape below)
    // nodes stays a LAZY CHECKPOINT deliberately: grid seeds round 0 AND
    // the final densify, and an un-truncated nodes re-embeds the whole
    // pair-corpus lineage into every consumer plan (the r12 plan-blowup
    // gotcha — measured plan strings 1.4 KB → 5 MB without it, OOMing
    // the explain sweep). Round 1's full grid scan materializes it.
    val nodes = ScaleOps.trackCheckpoint(
      pairs.select(col("c").as("id")).union(pairs.select(col("x").as("id")))
        .distinct().localCheckpoint(false))
    val dimIds = spark.range(dims).select(col("id").cast("long").as("j"))
    val grid = nodes.crossJoin(dimIds) // |V|·dims rows, dims a literal range
    var cur = grid.select(col("id"), col("j"),
      when(pmod(pmod(col("id") * lit(HashMulA), lit(P)) +
          pmod((col("j") + 1L) * lit(HashMulB), lit(P)), lit(P)) % 2L === 0L,
        lit(1000000L)).otherwise(lit(500000L)).as("val"))
    var prevRaw: DataFrame = null
    var lastMExpr: Column = null
    var round = 0
    while (round < iters) {
      // LAZY checkpoint + the maxima collect as its materializer: one
      // job per round does the pp⋈e join, the (c, j) fold, the block
      // write AND the dims-row maxima — the r13 form paid a second full
      // materialization job per round (eager checkpoint, then a
      // separate collect over it). Round 1's scan also fills the pp and
      // nodes caches/blocks, which is why neither needs its own job.
      val rawCk = pp.join(cur, pp("x") === cur("id"))
        .groupBy(col("c"), col("j"))
        .agg(sum(col("pp") * col("val")).as("r"))
        .localCheckpoint(false)
      // per-dim maxima: a dims-row bounded collect, folded back as a
      // map literal (m > 0 whenever the dim has any raw row; absent
      // dims fall back to 1 so the division stays total)
      val maxima = rawCk.groupBy("j").agg(max(col("r")).as("m"))
        .collect().map(r => r.getLong(0) -> math.max(r.getLong(1), 1L)).toMap
      // the empty-pp guard, relocated from a dedicated pre-round count:
      // round 1's partials are empty iff pp is empty (e₀ covers every
      // context node), and the collect above already scanned them.
      // rawCk is not yet in the checkpoint registry (tracked after the
      // loop), so the failure path must release it HERE — otherwise the
      // persistent (empty) RDD would outlive ScaleOps.release()
      if (round == 0 && maxima.isEmpty) {
        graft.dedup.Dedup.releaseCheckpoint(rawCk)
        throw new IllegalArgumentException(
          "requirement failed: ppmiEmbedInt needs at least one pair " +
            "above independence (pp > 0)")
      }
      // release AFTER the collect: computing this round's partials read
      // the previous leaf's blocks
      if (prevRaw ne null) graft.dedup.Dedup.releaseCheckpoint(prevRaw)
      prevRaw = rawCk
      val mExpr = map((0 until dims).toSeq.flatMap(j =>
        Seq(lit(j.toLong), lit(maxima.getOrElse(j.toLong, 1L)))): _*)
      lastMExpr = mExpr
      // SPARSE inter-round state (optimization r15): a node absent from
      // the raw partials has val = 0, and zero vals contribute nothing
      // to the next round's Σ pp·val — so rounds feed the partials
      // straight through (one projection over the leaf) instead of
      // left-joining the full |V|·dims grid back in every round (two
      // exchanges per round gone; bit-identical sums, and the per-dim
      // maxima are unchanged because the dropped rows are all zero).
      // Only the RETURNED table densifies, below.
      cur = prevRaw
        .withColumn("__m", element_at(mExpr, col("j")))
        .select(col("c").as("id"), col("j"),
          expr("(r * 1000000L) div __m").as("val"))
      round += 1
    }
    ScaleOps.trackCheckpoint(prevRaw)
    // densify once at the end: the declared output covers every node ×
    // dim, zero rows included (grid left-join over the final leaf)
    grid
      .join(prevRaw.select(col("c").as("id"), col("j"), col("r")),
        Seq("id", "j"), "left")
      .withColumn("__m", element_at(lastMExpr, col("j")))
      .select(col("id"), col("j").as("dim"),
        expr("(coalesce(r, 0L) * 1000000L) div __m").as("val"))
  }

  /** Pivot a long-format [[ppmiEmbedInt]] table to the
    * `(id, embedding: Array[Float])` shape the ANN family ingests
    * ([[graft.functions.VectorOps.IvfIndex.build]] et al.): values
    * scale from micro-units to [0, 1] floats, dims sort into position
    * via an order-deterministic struct sort (never an order-sensitive
    * collect).
    */
  def embedVectors(embedded: DataFrame): DataFrame =
    embedded.groupBy(col("id"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("val")))),
        s => (s("val").cast("double") / lit(1000000.0)).cast("float"))
        .as("embedding"))

  /** Persist a [[ppmiEmbedInt]] table — the materialized handoff between
    * the (expensive, scheduled) embedding rebuild and its many consumers
    * (kNN, link prediction, hard negatives, entity groups, ANN index
    * builds): train once, read everywhere, the
    * [[graft.functions.VectorOps.IvfIndex.save]] discipline applied to
    * the embedding long format. Dim-partitioned layout (one directory
    * per dimension — a per-dim reader prunes at the source; the full
    * table is `dims` sequential column chunks) plus a one-row meta
    * (dims, n_nodes, sum_val) that [[loadEmbeddings]] validates, so a
    * partially-written or cross-wired dir fails AT LOAD with a named
    * cause. The integer values make the validation exact — sum_val is a
    * content checksum, not a heuristic.
    */
  def saveEmbeddings(emb: DataFrame, dir: String): Unit = {
    val e = emb.select(col("id").cast("long").as("id"),
      col("dim").cast("long").as("dim"), col("val").cast("long").as("val"))
      .cache() // scanned twice: the meta gauges, then the write
    val s = e.agg(countDistinct(col("id")).as("n"),
      coalesce(sum(col("val")), lit(0L)).as("sv"),
      countDistinct(col("dim")).as("d")).head()
    require(s.getLong(0) > 0, "saveEmbeddings needs a non-empty table")
    e.write.mode("overwrite").partitionBy("dim").parquet(s"$dir/embeddings")
    val spark = emb.sparkSession
    import spark.implicits._
    Seq((s.getLong(2), s.getLong(0), s.getLong(1)))
      .toDF("dims", "n_nodes", "sum_val")
      .write.mode("overwrite").parquet(s"$dir/meta")
    e.unpersist(blocking = false)
  }

  /** Reload a table persisted by [[saveEmbeddings]], integrity-checked
    * against the meta row (dims, node count, exact value checksum). The
    * dim partition column is normalized back to LongType (partition
    * discovery infers IntegerType for small values).
    */
  def loadEmbeddings(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    val e = spark.read.parquet(s"$dir/embeddings")
      .select(col("id"), col("dim").cast("long").as("dim"), col("val"))
    val s = e.agg(countDistinct(col("id")).as("n"),
      coalesce(sum(col("val")), lit(0L)).as("sv"),
      countDistinct(col("dim")).as("d")).head()
    require(s.getLong(2) == meta.getAs[Long]("dims") &&
        s.getLong(0) == meta.getAs[Long]("n_nodes") &&
        s.getLong(1) == meta.getAs[Long]("sum_val"),
      s"loaded embeddings (nodes=${s.getLong(0)}, dims=${s.getLong(2)}, " +
        s"sum=${s.getLong(1)}) do not match meta " +
        s"(nodes=${meta.getAs[Long]("n_nodes")}, dims=${meta.getAs[Long]("dims")}, " +
        s"sum=${meta.getAs[Long]("sum_val")}) - partial or mixed write under $dir")
    e
  }

  /** Fixed-iteration PageRank in integer micro-units — deterministic to
    * the last bit on ANY engine, because every step is 64-bit integer
    * arithmetic: ranks live in millionths (node starts at 1,000,000),
    * the damping factor is basis points (8500 = 0.85), and both the
    * per-edge contribution `rank div outDeg` and the damped update
    * `(dampingBp · Σ contrib) div 10000` use floor division (identical
    * to truncation here — all quantities are non-negative). Float
    * PageRank is not cross-engine reproducible (summation order); this
    * form hash-checks against an unrolled SQL oracle and re-runs to
    * identical ranks on retry, which is what a data-selection prior
    * needs (the selected subset must not depend on partitioning).
    *
    * Semantics: `r₀(v) = 1,000,000`;
    * `rₜ₊₁(v) = (10000 − dampingBp)·100 + (dampingBp · Σ_{u→v} (rₜ(u) div deg(u))) div 10000`.
    * Dangling nodes (no out-edges) keep receiving but stop donating —
    * the usual simplification; ranks are a relative prior, not a
    * probability distribution. Overflow headroom: a node's inbound sum
    * is ≤ inDeg · 1,000,000, so dampingBp·Σ fits i64 up to inbound
    * degrees ~10¹⁴ — unreachable for k-NN graphs (inDeg ≈ k·skew).
    *
    * Output: (id, rank) — rank in micro-units after exactly `iters`
    * rounds (fixed iterations, not convergence-tested: determinism and
    * oracle-checkability beat adaptive stopping for a bounded prior).
    */
  def pageRankInt(nodes: DataFrame, idCol: String, edges: DataFrame,
                  srcCol: String, dstCol: String, iters: Int = 5,
                  dampingBp: Int = 8500): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    require(dampingBp >= 0 && dampingBp <= 10000,
      s"dampingBp must be basis points in [0, 10000], got $dampingBp")
    val base = (10000L - dampingBp) * 100L
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).cache()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    var rank = nodes.select(col(idCol).as("id")).distinct()
      .withColumn("rank", lit(1000000L))
      .localCheckpoint(true)
    var round = 0
    var lastCkpt = rank
    while (round < iters) {
      val contrib = rank.join(deg, rank("id") === deg("src"))
        .select(col("src"), expr("rank div __deg").as("__c"))
      val inbound = e.join(contrib, "src")
        .groupBy(col("dst").as("id")).agg(sum(col("__c")).as("__s"))
      val next = rank.select("id").join(inbound, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr(s"($dampingBp * coalesce(__s, 0L)) div 10000"))
            .as("rank"))
      // an eager localCheckpoint is a full materialization JOB per
      // round; with fixed iterations (no convergence count consuming
      // each round) checkpoint on a 3-round cadence instead — rank is
      // referenced 2× per round, so an unchecked span of k rounds
      // duplicates its (identical, exchange-reusable) subplan ≤ 2^k
      // times, bounded at 8 (the q138 k-core cadence lesson)
      val doCkpt = (round + 1) % 3 == 0 && round != iters - 1
      val mat = if (doCkpt) next.localCheckpoint(true) else next
      if (doCkpt) {
        graft.dedup.Dedup.releaseCheckpoint(lastCkpt)
        lastCkpt = mat
      }
      rank = mat
      round += 1
    }
    e.unpersist(blocking = false)
    ScaleOps.trackCheckpoint(lastCkpt)
    rank
  }

  /** [[pageRankInt]] on WEIGHTED edges — the natural form for
    * similarity/co-occurrence graphs where an edge carries a strength
    * (shared-part counts, co-click counts, jaccard grades): node `u`
    * donates `(rank(u) · w(u→v)) div W(u)` along each edge, `W(u) =
    * Σ w(u→·)`, so strong ties carry proportionally more rank. Same
    * floor-division determinism, damping in basis points, micro-unit
    * ranks, 3-round checkpoint cadence, and unrollable-oracle property
    * as the unweighted form (which is the `w ≡ 1` special case).
    * Weights must be positive integers. Overflow headroom:
    * `rank·w ≤ (n·10⁶)·w_max` must fit i64 — fine to n·w_max ≲ 9·10¹²
    * (re-scale weights down first beyond that).
    */
  def weightedPageRankInt(nodes: DataFrame, idCol: String, edges: DataFrame,
                          srcCol: String, dstCol: String, wCol: String,
                          iters: Int = 3, dampingBp: Int = 8500): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    require(dampingBp >= 0 && dampingBp <= 10000,
      s"dampingBp must be basis points in [0, 10000], got $dampingBp")
    val base = (10000L - dampingBp) * 100L
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).cast("long").as("w")).cache()
    // positive-weight guard (one bounded 1-row agg over the cached edge
    // frame, doubling as its warm-up): a zero/negative weight would make
    // `(rank·w) div __ws` NULL or negative under ANSI-OFF and silently
    // drop that node's contributions instead of failing loudly. min()
    // SKIPS nulls, so the row-vs-weight count pair catches the null case
    // (a weight whose cast to long failed) the min alone would pass.
    val mnW = e.agg(min(col("w")).as("mn"), count(lit(1)).as("n"),
      count(col("w")).as("nw")).head()
    require(mnW.getLong(1) == mnW.getLong(2),
      s"weightedPageRankInt found ${mnW.getLong(1) - mnW.getLong(2)} null " +
        "weights (non-numeric or null wCol values cast to NULL)")
    require(mnW.isNullAt(0) || mnW.getLong(0) >= 1L,
      s"weightedPageRankInt requires positive integer weights, found min=${mnW.get(0)}")
    val wsum = e.groupBy(col("src")).agg(sum(col("w")).as("__ws"))
    var rank = nodes.select(col(idCol).as("id")).distinct()
      .withColumn("rank", lit(1000000L))
      .localCheckpoint(true)
    var round = 0
    var lastCkpt = rank
    while (round < iters) {
      val contrib = e.join(wsum, "src")
        .join(rank, e("src") === rank("id"))
        .select(col("dst"), expr("(rank * w) div __ws").as("__c"))
      val inbound = contrib
        .groupBy(col("dst").as("id")).agg(sum(col("__c")).as("__s"))
      val next = rank.select("id").join(inbound, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr(s"($dampingBp * coalesce(__s, 0L)) div 10000"))
            .as("rank"))
      val doCkpt = (round + 1) % 3 == 0 && round != iters - 1
      val mat = if (doCkpt) next.localCheckpoint(true) else next
      if (doCkpt) {
        graft.dedup.Dedup.releaseCheckpoint(lastCkpt)
        lastCkpt = mat
      }
      rank = mat
      round += 1
    }
    e.unpersist(blocking = false)
    ScaleOps.trackCheckpoint(lastCkpt)
    rank
  }

  /** Personalized PageRank in the same exact integer arithmetic as
    * [[pageRankInt]]: teleport mass lands ONLY on the seed set, so
    * ranks measure proximity to the seeds rather than global
    * importance — the "more like these" data-selection prior
    * (seed = curated high-quality docs / trusted suppliers / known-good
    * users; rank = how strongly the graph pulls each node toward them).
    *
    * Semantics: `r₀(v) = 1,000,000 · [v ∈ S]`;
    * `rₜ₊₁(v) = [v ∈ S]·(10000 − dampingBp)·100 +
    * (dampingBp · Σ_{u→v} (rₜ(u) div deg(u))) div 10000`. Nodes
    * unreachable from the seeds stay at 0 — exact, not approximately
    * small. Same overflow headroom, floor-division determinism, and
    * 3-round checkpoint cadence as [[pageRankInt]]; hash-checks against
    * an unrolled SQL oracle with a seed CASE per round.
    *
    * Output: (id, rank) in micro-units after exactly `iters` rounds.
    */
  def personalizedPageRankInt(nodes: DataFrame, idCol: String,
                              seeds: DataFrame, seedIdCol: String,
                              edges: DataFrame, srcCol: String, dstCol: String,
                              iters: Int = 3, dampingBp: Int = 8500): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    require(dampingBp >= 0 && dampingBp <= 10000,
      s"dampingBp must be basis points in [0, 10000], got $dampingBp")
    val base = (10000L - dampingBp) * 100L
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).cache()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    val seedSet = seeds.select(col(seedIdCol).as("id")).distinct()
      .withColumn("__s1", lit(1L))
    var rank = nodes.select(col(idCol).as("id")).distinct()
      .join(seedSet, Seq("id"), "left")
      .select(col("id"), coalesce(col("__s1"), lit(0L)).as("__seed"))
      .withColumn("rank", col("__seed") * 1000000L)
      .localCheckpoint(true)
    var round = 0
    var lastCkpt = rank
    while (round < iters) {
      val contrib = rank.join(deg, rank("id") === deg("src"))
        .select(col("src"), expr("rank div __deg").as("__c"))
      val inbound = e.join(contrib, "src")
        .groupBy(col("dst").as("id")).agg(sum(col("__c")).as("__s"))
      val next = rank.select("id", "__seed").join(inbound, Seq("id"), "left")
        .select(col("id"), col("__seed"),
          (col("__seed") * base +
            expr(s"($dampingBp * coalesce(__s, 0L)) div 10000")).as("rank"))
      val doCkpt = (round + 1) % 3 == 0 && round != iters - 1
      val mat = if (doCkpt) next.localCheckpoint(true) else next
      if (doCkpt) {
        graft.dedup.Dedup.releaseCheckpoint(lastCkpt)
        lastCkpt = mat
      }
      rank = mat
      round += 1
    }
    e.unpersist(blocking = false)
    ScaleOps.trackCheckpoint(lastCkpt)
    rank.select("id", "rank")
  }

  /** Fixed-iteration HITS (Kleinberg 1999, "Authoritative sources in a
    * hyperlinked environment") in exact integer parts-per-billion
    * units — the hub/authority complement of [[pageRankInt]] for
    * directed graphs where "points at good things" and "is pointed at
    * by good things" are distinct signals (citation/link graphs,
    * supplier→supplier referral edges). Deterministic to the last bit
    * on any engine: ranks are 64-bit integers, every update is a sum +
    * floor division, so the whole table hash-checks against an
    * unrolled SQL oracle and re-runs bit-identically.
    *
    * Semantics per round (classic HITS with SUM-normalization instead
    * of L2 — the L2 norm needs a square root, which has no exact
    * integer form; sum-normalization preserves the ranking and keeps
    * the fixpoint scale-stable): `a(v) = Σ_{u→v} h(u)` then
    * `a'(v) = (a(v) · 10⁹) div Σa`; `h(u) = Σ_{u→v} a'(v)` then
    * normalized the same way. `h₀ = 10⁹ div n` so every later raw sum
    * is ≤ 10⁹ and the normalizing product ≤ 10¹⁸ < 2⁶³ — no overflow
    * at any graph size (the init division makes round 1 as safe as the
    * rest; a 10⁶-unit init would bound round-1 in-degree at ~9200).
    *
    * Scale shape: each half-round is one edge-keyed join + one
    * map-side-combinable groupBy over the EDGE list — never all-pairs.
    * The normalization total is ONE aggregated row fetched to the
    * driver per half-round (bounded by construction — the q104/BPE
    * bounded-collect discipline) and folded back as a literal — a
    * broadcast cross join per half-round planned measurably worse (the
    * exchange + BNLJ cascade tripled the query). Each half-round's RAW
    * partial-sum frame is eagerly localCheckpoint-truncated
    * ([[pageRankInt]]'s iteration discipline) with the leaf superseded
    * two half-rounds earlier released; the normalized view stays LAZY
    * over (nodes-leaf ⋈ raw-leaf), so the edge join runs once per
    * half-round and lineage depth is constant in the iteration count.
    * The truncation is load-bearing, not hygiene: a cache-only variant
    * re-aliases the accumulated self-join lineage on every round and
    * the LOGICAL plan grows exponentially — 4 iterations OOM'd the
    * driver during analysis before this form.
    *
    * Output: (id, hub, auth) after exactly `iters` rounds, both
    * columns summing to ≤ 10⁹ (floor loss only). Dangling directions
    * score 0 exactly. Requires a non-empty edge set. The returned
    * frame reads the final checkpoints — materialize it before any
    * blanket release ([[ScaleOps.releaseAll]]), the iterated-op
    * contract shared with [[pageRankInt]]/k-core.
    */
  def hitsInt(edges: DataFrame, srcCol: String, dstCol: String,
              iters: Int = 2): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().cache()
    // lazy checkpoint: the node-count fetch right below materializes it
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().localCheckpoint(false)
    val n = nodes.count()
    require(n > 0, "hitsInt needs a non-empty edge set")
    // checkpoint a raw (id, partial-sum) frame (ONE eager job doing the
    // edge join + agg once), read its total off the leaf, and return
    // the LAZY normalized view over (nodes-leaf ⋈ raw-leaf) — flat
    // lineage, so only the raw partials ever need truncation. The raw
    // leaf superseded two half-rounds ago is released (its lazy
    // normalized view has by then been folded into a newer leaf).
    var prevA: DataFrame = null
    var prevH: DataFrame = null
    def normalized(rawIn: DataFrame, valCol: String): DataFrame = {
      // LAZY checkpoint + the normalization-total fetch as its
      // materializer: one job per half-round does the edge join, the
      // groupBy, the block write AND the 1-row total (the r13 form paid
      // an eager checkpoint job, then a separate total job over it).
      // The superseded leaf releases only AFTER the total fetch — that
      // fetch is what computes this leaf, and its plan still reads the
      // previous leaf's blocks.
      val raw = rawIn.localCheckpoint(false)
      val tot = raw.agg(sum(col(valCol))).head().getLong(0)
      if (valCol == "a") {
        if (prevA ne null) graft.dedup.Dedup.releaseCheckpoint(prevA)
        prevA = raw
      } else {
        if (prevH ne null) graft.dedup.Dedup.releaseCheckpoint(prevH)
        prevH = raw
      }
      nodes.join(raw, Seq("id"), "left")
        .select(col("id"),
          expr(s"(coalesce($valCol, 0L) * 1000000000L) div ${tot}L")
            .as(valCol))
    }
    var hub = nodes.select(col("id"), lit(1000000000L / n).as("h"))
    var auth: DataFrame = null
    var round = 0
    while (round < iters) {
      auth = normalized(e.join(hub, e("src") === hub("id"))
        .groupBy(e("dst").as("id")).agg(sum(col("h")).as("a")), "a")
      hub = normalized(e.join(auth, e("dst") === auth("id"))
        .groupBy(e("src").as("id")).agg(sum(col("a")).as("h")), "h")
      round += 1
    }
    e.unpersist(blocking = false)
    // the final raw leaves (and the nodes leaf) back the returned lazy
    // view — registered with the tracked-release registry so the
    // library-caller hygiene path (ScaleOps.release after materializing)
    // frees them like every other op-held block; Bench/Verify's
    // releaseAll block sweep already covered them
    ScaleOps.trackCheckpoint(prevA)
    ScaleOps.trackCheckpoint(prevH)
    ScaleOps.trackCheckpoint(nodes)
    hub.join(auth, Seq("id"))
      .select(col("id"), col("h").as("hub"), col("a").as("auth"))
  }

  /** Resource-allocation link prediction (Zhou, Lü & Zhang 2009,
    * "Predicting missing links via local information") in exact integer
    * micro-units: for every node pair sharing at least one common
    * out-neighbor, `ra(a,b) = Σ_{z ∈ N(a)∩N(b)} 10⁶ div indeg(z)` — a
    * popular common neighbor says little, a rare one says a lot. The
    * similarity-graph densifier that proposes edges the k-NN / co-occur
    * builders missed (entity resolution, related-doc suggestion). All
    * integer floor arithmetic → hash-checks cross-engine.
    *
    * Scale shape: one in-degree aggregate, then candidate pairs come
    * from an equi-join of the edge list with ITSELF ON THE SHARED
    * NEIGHBOR (never all-pairs); per-neighbor fan-out is indeg(z)², so
    * a super-hub z dominates the join — `maxNeighborDeg` drops common
    * neighbors above the cap (the standard link-prediction hub cut,
    * which also removes near-zero-weight terms: at the 10⁶ weight
    * scale, any z with indeg > 10⁶ contributes 0 anyway). The default
    * cap is FINITE (10⁴ ≙ ≤ 10⁸ candidate pairs per shared neighbor) —
    * one unnoticed super-hub must not silently explode the join; pass
    * `Long.MaxValue` explicitly for the uncapped enumeration (a
    * dropped hub removes its zero-or-tiny `ra` term AND its `n_common`
    * count, so capped vs uncapped output differs on graphs that
    * actually contain such hubs). The weighted edge frame is
    * referenced twice (both join sides) — cached, the DAG-reuse rule.
    *
    * Output: (id_a, id_b, n_common, ra_micro), id_a < id_b.
    */
  def resourceAllocationInt(edges: DataFrame, srcCol: String, dstCol: String,
                            maxNeighborDeg: Long = 10000L): DataFrame = {
    require(maxNeighborDeg >= 1,
      s"maxNeighborDeg must be positive, got $maxNeighborDeg")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
    val indeg = e.groupBy("dst").agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") <= maxNeighborDeg)
    val w = ScaleOps.trackCache(e.join(indeg, "dst")
      .select(col("src"), col("dst"), expr("1000000L div __deg").as("__w")))
    w.as("x").join(w.as("y"),
        col("x.dst") === col("y.dst") && col("x.src") < col("y.src"))
      .groupBy(col("x.src").as("id_a"), col("y.src").as("id_b"))
      .agg(count(lit(1)).as("n_common"), sum(col("x.__w")).as("ra_micro"))
  }

  /** Fixed-round k-core peeling on an undirected simple graph: each
    * round computes degrees, drops every vertex with degree < `k`, and
    * restricts the edge set to surviving endpoints — after enough
    * rounds the fixpoint is exactly the classic k-core (the maximal
    * subgraph where every vertex has degree ≥ k), the standard
    * web-graph spam/quality filter (Seidman 1983 "Network structure and
    * minimum degree"; Batagelj & Zaveršnik's peel is the sequential
    * form of the same fixpoint). Fixed `rounds` rather than
    * convergence-tested, for the same reason as [[pageRankInt]]:
    * deterministic output, an unrollable oracle, and a bounded plan —
    * the spec owns the "fixpoint reached ⇒ true k-core" claim on a
    * crafted graph.
    *
    * Scale shape: each round is one degree aggregation plus two
    * left-semi joins over the EDGE list (all key shuffles, map-side
    * combinable) — never all-pairs — with the per-round edge frame
    * localCheckpoint-truncated and the superseded round released, the
    * [[graft.dedup.Dedup.connectedComponents]] iteration discipline.
    *
    * Input edges in any orientation; self-loops dropped, parallel edges
    * collapsed. Output: (id, deg) — every vertex still present after
    * `rounds` peels, with its degree in the remaining subgraph.
    */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(rounds >= 1, s"need at least one peel round, got $rounds")
    var und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    // releaseCheckpoint only matches a LogicalRDD root, so the frame to
    // release is the last CHECKPOINTED one — at a checkpoint round `und`
    // is usually a lazy frame from the intervening rounds and releasing
    // it would be a no-op, leaking the prior checkpoint's blocks.
    var lastCkpt = und
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
    var round = 0
    while (round < rounds) {
      val keep = degrees(und).filter(col("deg") >= k)
      val next = und
        .join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
      // lineage per round is shallow (one agg + two semi-joins), so
      // checkpoint only every 3rd round — an eager localCheckpoint is a
      // full materialization JOB, and paying one per round dominated
      // short peels. The cadence is capped at 3 because an unchecked
      // round references its predecessor 3× (degree agg + two semi
      // joins): k checkpoint-free rounds re-execute the span's tiny
      // edge ops up to 3^k times, fine at 3 (27× of map-side work over
      // a materialized RDD), not at arbitrary k.
      val doCkpt = (round + 1) % 3 == 0 && round != rounds - 1
      if (doCkpt) {
        val mat = next.localCheckpoint(true)
        graft.dedup.Dedup.releaseCheckpoint(lastCkpt)
        lastCkpt = mat
        und = mat
      } else und = next
      round += 1
    }
    val out = degrees(und).select(col("v").as("id"), col("deg"))
      .localCheckpoint(true)
    graft.dedup.Dedup.releaseCheckpoint(lastCkpt)
    ScaleOps.trackCheckpoint(out)
    out
  }

  /** Bounded-hop BFS distances on an undirected graph: minimum hop
    * count from any node in `sources`, explored for exactly `rounds`
    * expansion rounds (so `dist ≤ rounds`; unreached nodes are absent)
    * — the reachability/blast-radius primitive (which suppliers sit
    * within 3 hops of a flagged set; which docs are ≤ k links from a
    * spam seed). Deterministic integer distances → the whole frontier
    * table hash-checks against a rounds×-unrolled SQL oracle.
    *
    * Scale shape: each round is one equi-join of the current distance
    * frame against the edge list + a min-aggregate — the
    * [[pageRankInt]] iteration shape, with the same 3-round checkpoint
    * cadence.
    */
  def bfsWithin(edges: DataFrame, srcCol: String, dstCol: String,
                sources: DataFrame, idCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need at least one round, got $rounds")
    val bidir = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .unionAll(edges.select(col(dstCol).as("u"), col(srcCol).as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
      .cache()
    var dist = sources.select(col(idCol).as("id")).distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint(true)
    var lastCkpt = dist
    var round = 0
    while (round < rounds) {
      val nbr = bidir.join(dist.select(col("id").as("u"), col("dist")), "u")
        .select(col("v").as("id"), (col("dist") + 1L).as("dist"))
      val next = dist.unionAll(nbr)
        .groupBy("id").agg(min(col("dist")).as("dist"))
      val doCkpt = (round + 1) % 3 == 0 && round != rounds - 1
      val mat = if (doCkpt) next.localCheckpoint(true) else next
      if (doCkpt) {
        graft.dedup.Dedup.releaseCheckpoint(lastCkpt)
        lastCkpt = mat
      }
      dist = mat
      round += 1
    }
    bidir.unpersist(blocking = false)
    ScaleOps.trackCheckpoint(lastCkpt)
    dist
  }

  /** Per-node triangle counts on an undirected simple graph — the local
    * clustering signal (community structure, near-dup cluster shape)
    * over a similarity or co-occurrence graph. Input edges in any
    * orientation; self-loops dropped, parallel edges collapsed.
    *
    * Scale design: the classic all-triples join explodes on hubs, so
    * edges are ORIENTED along the total order (degree, id) — every edge
    * points from its lower-degree endpoint — before the two-hop join.
    * Each triangle then has exactly one source vertex (no distinct
    * pass), and the join fan-out per vertex is bounded by its ORIENTED
    * out-degree, which is O(√m) for any graph (the classic
    * compact-forward bound) — hubs receive edges instead of fanning
    * out. Two equi-joins + one aggregation; the triangle SET is
    * identical to the id-ordered enumeration, which is what the DuckDB
    * oracle uses.
    *
    * Output: (id, n_triangles) for every vertex in at least one
    * triangle.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // und is referenced 5× (degree both ways, the degree joins) and
    // oriented 3× (two path sides + the closing semi-join): without
    // materialization the upstream pipeline re-expands into the tree
    // once per reference — a DAG-reuse blowup that turns one pair-count
    // pass into a dozen. Both frames are edge-sized.
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .cache()
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // orient: (deg, id) lexicographic — lower endpoint fans out
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("w")))
        .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"))
      .cache()
    // two-hop paths u→m→t plus the closing edge u→t
    val paths = oriented.select(col("u"), col("w").as("m"))
      .join(oriented.select(col("u").as("m"), col("w").as("t")), "m")
    val tri = paths.join(oriented.select(col("u"), col("w").as("t")), Seq("u", "t"),
      "left_semi")
    tri.select(explode(array(col("u"), col("m"), col("t"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
  }
}
