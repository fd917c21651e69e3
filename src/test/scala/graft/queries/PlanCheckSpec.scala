package graft.queries

import graft.SparkSpec

/** Plan-shape regression guard (the explain-sweep, promoted to CI): a
  * plan regression — a surprise shuffled cartesian, a broadcast join
  * degrading to sort-merge, pushdown silently lost — should fail the
  * suite before it shows up as a bench cliff at the next scale factor.
  */
class PlanCheckSpec extends SparkSpec {

  // q02_sink writes its output while it is built: under a temp sink dir
  // that is removed once every plan is rendered
  private lazy val plans: Map[String, String] = withTempDir("graft_sink") { sink =>
    spark.conf.set("spark.graft.sink.dir", sink.toString)
    try Queries.all.map { case (name, fn) =>
      name -> fn(spark, sfDir).queryExecution.executedPlan.toString
    } finally spark.conf.unset("spark.graft.sink.dir")
  }

  /** All WindowExec nodes of `df`'s plan, descending through AQE and into
    * the cached plans of InMemoryTableScans (trackCache'd frames).
    */
  private def deepWindows(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] =
    deepWindows(df.queryExecution.executedPlan)

  private def deepWindows(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] =
    allPlanNodes(p).flatMap {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        deepWindows(m.relation.cachedPlan)
      case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
      case _ => Nil
    }

  test("no shuffled CartesianProduct in any query plan") {
    // deliberate all-pairs shapes (q34/q35/q41 single-query-vector or
    // tiny-side crossJoins) must plan as BroadcastNestedLoopJoin; a
    // CartesianProduct node means both sides shuffled — never acceptable
    val offenders = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n
    }
    assert(offenders.isEmpty, s"CartesianProduct found in: $offenders")
  }

  test("broadcast-eligible dim joins do not degrade to SortMergeJoin") {
    // q07: orders ⋈ customer (dim); q10: fact enriched from two tiny dims
    for (name <- Seq("q07_join", "q10_enrich")) {
      val p = plans(name)
      assert(!p.contains("SortMergeJoin"),
        s"$name should broadcast its dim side, found SMJ:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$name lost its broadcast join:\n$p")
    }
  }

  test("q05 filter predicates are pushed to the parquet scan") {
    val p = plans("q05_filter")
    assert(p.contains("PushedFilters: ["), s"no pushdown block in plan:\n$p")
    assert(!p.matches("(?s).*PushedFilters: \\[\\].*"),
      s"pushdown block is empty:\n$p")
  }

  test("q03 projection prunes the customer scan to referenced columns") {
    val p = plans("q03_project")
    // c_acctbal/c_address are never referenced; a scan reading them means
    // column pruning regressed
    assert(!p.contains("c_acctbal") && !p.contains("c_address"),
      s"scan reads unreferenced columns:\n$p")
  }

  test("q16 top-k plans as TakeOrderedAndProject, not a global sort") {
    assert(plans("q16_topk").contains("TakeOrderedAndProject"),
      s"top-k must not globally sort:\n${plans("q16_topk")}")
  }

  test("q43 as-of join keeps the per-event top-1 below the shuffle") {
    // WindowGroupLimit under the exchange bounds the range-join blowup
    assert(plans("q43_asof_join").contains("WindowGroupLimit"),
      s"rank pushdown missing:\n${plans("q43_asof_join")}")
  }

  test("q46 repetition metrics stay a per-row reduction (no aggregation shuffle)") {
    // the fused-kernel form has exactly two exchanges: the spread
    // repartition and the final orderBy — a HashAggregate means the
    // groupBy-gram formulation (two full-gram-stream shuffles) crept back
    val p = plans("q46_repetition")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"q46 regressed to an aggregation plan:\n$p")
    assert(p.contains("ngramrunstats") || p.contains("NgramRunStats"),
      s"native run-stats kernel missing:\n$p")
  }

  test("q47 decontamination broadcasts the held-out side") {
    // benchmark sets are tiny next to the corpus: the corpus-side gram
    // stream must never shuffle for the join
    val p = plans("q47_decontam")
    assert(p.contains("BroadcastHashJoin"), s"held-out set not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side shuffled into SMJ:\n$p")
  }

  test("q51 temperature-mix quota join is a broadcast") {
    val p = plans("q51_temp_mix")
    assert(p.contains("BroadcastHashJoin"), s"quota join not broadcast:\n$p")
  }

  test("q59 bounded as-of join carries the lookback range IN the join condition") {
    // the horizon bound must prune inside the join (bounding per-key
    // expansion at scale), not as a post-join filter — the plan's join
    // node condition references the interval subtraction
    val p = plans("q59_asof_bounded")
    assert(p.contains("9000"), s"lookback predicate missing from plan:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-event top-1 rank pushdown missing:\n$p")
  }

  test("q61 chunking is a projection-only pass (no shuffle before the final sort)") {
    val p = plans("q61_chunking")
    assert(!p.contains("HashAggregate") && !p.contains("SortMergeJoin")
      && !p.contains("BroadcastHashJoin"),
      s"chunking must be generate+project only:\n$p")
    assert(p.contains("Generate"), s"posexplode generate node missing:\n$p")
  }

  test("q96 weighted sample plans as TakeOrderedAndProject, not a global sort") {
    val p = plans("q96_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted top-k must not globally sort:\n$p")
  }

  test("q97 filtered ANN applies the allowed-id predicate as a semi-join") {
    // the predicate must gate candidates BEFORE scoring (a LeftSemi in
    // the plan), not post-filter a scored top-k
    val p = plans("q97_filtered_ann")
    assert(p.contains("LeftSemi"), s"allowed-id semi-join missing:\n$p")
  }

  test("q264 curation serving gates survivors as a semi-join inside the probed scan") {
    // the composition's load-bearing shape (q97's contract on the
    // curation rail): the survivor predicate must prune candidates
    // BEFORE any cosine is computed — a LeftSemi in the serving plan,
    // never a post-filter over a scored top-k
    val p = plans("q264_curation_pipeline")
    assert(p.contains("LeftSemi"), s"survivor semi-join missing:\n$p")
  }

  test("q99 mixture materialization is generate+project only (no shuffle before sort)") {
    val p = plans("q99_repeat_mix")
    assert(!p.contains("HashAggregate") && !p.contains("SortMergeJoin")
      && !p.contains("BroadcastHashJoin"),
      s"repeatMix must be generate+project only:\n$p")
    assert(p.contains("Generate"), s"explode generate node missing:\n$p")
  }

  test("q73 phrase constraint does not push a filter below the spread exchange") {
    // a deterministic filter on the token array re-derives the tokens
    // from raw text UNDER the repartition, on the scan's one-task
    // partitioning (the q63 plan lesson) — the phrase test must ride the
    // post-exchange scoring projection instead
    val p = plans("q73_phrase_search")
    val ex = p.indexOf("Exchange")
    val scan = p.indexOf("Scan parquet")
    assert(ex >= 0 && scan > ex, s"unexpected plan shape:\n$p")
    assert(!p.substring(ex, scan).contains("Filter"),
      s"filter pushed below the spread exchange:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k degraded:\n$p")
  }

  test("q107 interval join is a bucketed equi-join, never a nested loop") {
    // the whole point of intervalJoin: the range predicate only VERIFIES
    // inside a (keys, bucket) equi-join — a BroadcastNestedLoopJoin means
    // the bucket key fell out of the join condition
    val p = plans("q107_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"interval join degraded to a nested loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"no equi-join node in interval join plan:\n$p")
  }

  test("q108 collocations: vocab joins broadcast, top-100 is TakeOrderedAndProject") {
    val p = plans("q108_collocations")
    assert(p.contains("TakeOrderedAndProject"),
      s"collocation top-k must not globally sort:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"vocab-sized count frames must broadcast, found SMJ:\n$p")
  }

  test("q109 edit-distance join is blocked (equi-join), never all-pairs") {
    val p = plans("q109_edit_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"edit-distance join degraded to all-pairs:\n$p")
  }

  test("q129 ship-priority: filters pushed, top-10 is TakeOrderedAndProject") {
    val p = plans("q129_ship_priority")
    assert(p.contains("TakeOrderedAndProject"),
      s"Q3 top-k must not globally sort:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull"),
      s"date/segment pushdown missing from scans:\n$p")
  }

  test("q130 local-volume: region/nation dims broadcast down the 6-table tree") {
    val p = plans("q130_local_volume")
    assert(p.contains("BroadcastHashJoin"), s"dim broadcasts missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"join tree degraded to all-pairs:\n$p")
  }

  test("q131 grouped top-k plans as WindowGroupLimit (rank filter pushed into shuffle)") {
    val p = plans("q131_top_per_group")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k pushdown missing — whole groups get sorted:\n$p")
  }

  test("q139 per-doc keyword top-k plans as WindowGroupLimit; N broadcast") {
    val p = plans("q139_tfidf_keywords")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k pushdown missing — whole docs get sorted:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row N crossJoin must broadcast:\n$p")
  }

  test("q137 sketch join-size stays sketch-sized (no corpus-side join)") {
    // the only joins allowed are over the ≤ depth·width sketch frames —
    // an SMJ node would mean a corpus-sized side leaked into the product
    val p = plans("q137_join_size_est")
    assert(!p.contains("SortMergeJoin"),
      s"sketch product degraded to a corpus shuffle join:\n$p")
  }

  test("q144 vocab coverage joins the vocabulary as a broadcast") {
    val p = plans("q144_vocab_coverage")
    assert(p.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"token stream shuffled against a k-row vocab:\n$p")
  }

  test("q181/q182 corpus-wide rank and skyline plan no single-partition Window") {
    // the whole point of globalRank / paretoFrontier2: the textbook
    // row_number() OVER (ORDER BY ...) / dominance-window formulations
    // serialize the corpus; these plans must keep every Window
    // partitioned (the global order is re-created from range-partition
    // offsets instead)
    for (name <- Seq("q181_quantile_calibration", "q182_pareto_frontier")) {
      val unpartitioned = Queries.all(name)(spark, sfDir)
        .queryExecution.executedPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
        }
      spark.catalog.clearCache()
      assert(unpartitioned.isEmpty,
        s"$name contains a single-partition Window")
    }
  }

  test("q194 gini: supplier dim broadcast into the fact scan, no SMJ") {
    val p = plans("q194_gini_concentration")
    assert(p.contains("BroadcastHashJoin"), s"supplier join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"lineitem shuffled against a 100-row dim:\n$p")
  }

  test("q189/q193/q195 robust-stats windows are all partitioned") {
    for (name <- Seq("q189_weighted_median", "q193_weighted_iqr",
        "q195_time_weighted_value")) {
      val unpartitioned = Queries.all(name)(spark, sfDir)
        .queryExecution.executedPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
        }
      assert(unpartitioned.isEmpty,
        s"$name contains a single-partition Window")
    }
  }

  test("q189/q193 cumulative-weight windows run over bracket-pruned rows only") {
    // the bracketed-quantile contract (round 10): there is NO
    // corpus-sized running sum at all — the coarse-CDF bracket bounds
    // every window's input to ~n/np rows per fence. Structurally:
    // q193's fine window (the one summing the row weights `__w`)
    // partitions by (bracket-bucket, group) — the join key of the
    // bracket rows — and q189's fine passes filter on the broadcast
    // bracket bounds (__bhi / __dhi) BEFORE any window; a corpus-wide
    // window over the bare group key (the 100×-straggler the old
    // groupedRunningSum form existed to avoid) would show neither.
    // Round 11: the bracket choice itself is distributed, adding
    // group-partitioned windows over the coarse-CDF partials (`__pw`)
    // — those run over the tiny per-(bucket, group) aggregate
    // (≤ np·|groups| rows), never the corpus, and are allowed at any
    // group-only partitioning.
    val q193 = windowNodes(Queries.all("q193_weighted_iqr")(spark, sfDir))
    val (cdfWindows, fineWindows) =
      q193.partition(_.windowExpression.mkString.contains("__pw"))
    assert(fineWindows.nonEmpty && fineWindows.forall(_.partitionSpec.size >= 2),
      "q193 lost the (bracket, group) partitioning on its fine window")
    assert(cdfWindows.forall(_.partitionSpec.nonEmpty),
      "q193's coarse-CDF windows lost their group partitioning")
    // q189: the bracket FILTER must be in the plan ("__dhi" appears
    // only in the bracket predicate — a regression to an un-bracketed
    // corpus window would carry "__dev" but never "__dhi") and every
    // window must be group-partitioned
    val q189frame = Queries.all("q189_weighted_median")(spark, sfDir)
    val q189plan = q189frame.queryExecution.executedPlan.toString
    assert(q189plan.contains("__dhi"),
      s"q189's MAD pass lost the bracket filter:\n$q189plan")
    assert(windowNodes(q189frame).forall(_.partitionSpec.nonEmpty),
      "q189 contains a single-partition window")
  }

  test("q224 distributed robust stats: no single-partition window at 1.5k-group cardinality") {
    // the round-11 distributed bracket fold: the coarse-CDF windows
    // partition by the customer key (tiny aggregate input), the median
    // fine window by (bracket-bucket, key), the MAD fine window by key
    // over bracket-pruned rows only — NOTHING is allowed to serialize
    // the corpus through one task
    // the CDF and median frames are trackCache'd, so their windows hide
    // behind InMemoryTableScan
    val q224 = deepWindows(Queries.all("q224_customer_robust_stats")(
      spark, sfDir))
    spark.catalog.clearCache() // trackCache'd CDF/median frames
    graft.ops.ScaleOps.release()
    assert(q224.nonEmpty && q224.forall(_.partitionSpec.nonEmpty),
      "q224 contains a single-partition window")
    assert(q224.exists(_.partitionSpec.size >= 2),
      "q224's median fine window lost its (bracket, group) partitioning")
  }

  test("q154/q155/q147 corpus-sized rank/prefix-sum windows are never single-partition") {
    // the three round-8 offenders, rewritten onto globalRank /
    // globalRunningSum: the sweep-line prefix sum (q154), the decile
    // assignment (q155), and the zone-map file id (q147). Bounded
    // exceptions elsewhere stay allowed by design and are NOT in this
    // list: rrfFuse ranks a ≤inputCap list after an ordered limit, q197
    // windows over exactly 10 decile rows, per-shard one-row windows.
    for (name <- Seq("q154_peak_concurrency", "q155_length_deciles",
        "q147_zonemap")) {
      val unpartitioned = windowNodes(Queries.all(name)(spark, sfDir))
        .filter(_.partitionSpec.isEmpty)
      spark.catalog.clearCache() // globalRank/globalRunningSum cache
      assert(unpartitioned.isEmpty,
        s"$name contains a single-partition Window")
    }
  }

  test("q248/q249/q250 new-rail windows are all partitioned") {
    // q250's windows ride the (k, sid) sessionization, the embedding
    // rail's the per-src kNN/top-3 ranks, q253's the per-doc candidate
    // ranks — none may degrade to a single-partition sort. Several sit
    // behind trackCache'd frames, so the sweep descends into cached plans
    for (name <- Seq("q250_attribution_compare", "q252_embed_knn",
        "q253_dedup_modularity", "q254_weighted_pagerank",
        "q255_embed_link_recon", "q257_label_noise",
        "q258_hard_negatives", "q259_embed_entity_groups")) {
      val windows = deepWindows(Queries.all(name)(spark, sfDir))
      spark.catalog.clearCache()
      graft.ops.ScaleOps.release()
      assert(windows.nonEmpty, s"$name planned no Window")
      assert(windows.forall(_.partitionSpec.nonEmpty),
        s"$name contains a single-partition Window")
    }
    // q249's pair windows sit below connectedComponents' checkpoint
    // leaves, so they are checked on the operator that owns them (q248's
    // walk windows likewise, in the biasedHashWalks spec below)
    val pairs = deepWindows(graft.dedup.Dedup.jaccardPairs(
      graft.core.Tables(spark, sfDir).documents, "text", "doc_id",
      n = 3, threshold = 0.5))
    spark.catalog.clearCache()
    graft.ops.ScaleOps.release()
    assert(pairs.nonEmpty && pairs.forall(_.partitionSpec.nonEmpty),
      s"jaccardPairs windows: ${pairs.map(_.partitionSpec)}")
    // q256's placement is a per-row struct-max: no Window at all
    val q256 = deepWindows(Queries.all("q256_placement_audit")(spark, sfDir))
    assert(q256.isEmpty, s"q256 planned ${q256.size} Windows")
  }

  test("biasedHashWalks' ticket windows are partitioned by (start, walk)") {
    // q248's final plan joins two checkpoint leaves (the PPMI nodes and
    // last-round partials), so the sweep above finds no window in it:
    // the walk windows are guarded on the operator's own plan instead
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (3L, 2L))
      .toDF("src", "dst")
    val windows = windowNodes(graft.ops.GraphOps.biasedHashWalks(
      edges, "src", "dst", steps = 2, walksPerNode = 2))
    spark.catalog.clearCache()
    graft.ops.ScaleOps.release()
    assert(windows.nonEmpty, "biasedHashWalks planned no Window")
    for (w <- windows) assert(
      w.partitionSpec.flatMap(_.references.map(_.name)).toSet ==
        Set("start", "walk"),
      s"walk window not partitioned by (start, walk): ${w.partitionSpec}")
  }

  test("q248 renders bounded plan text and compiles nothing on a warm run") {
    // Spark renders a plan description for every SQL execution start and
    // AQE plan update, UI or not. A cached frame prints its whole cached
    // plan at each reference, so nested caches over the walk corpus made
    // one q248 event ~9 MB; the pair corpus is now a checkpoint leaf.
    // A warm run must also find every generated class in the codegen
    // cache (Graft.configure sizes it above Spark's default of 100).
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    import org.apache.spark.metrics.source.CodegenMetrics
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val fences = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(fences.add)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sizes.add(s.physicalPlanDescription.length.toLong)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          sizes.add(u.physicalPlanDescription.length.toLong)
        case _ =>
      }
    }
    // events of one listener queue arrive in order: once the fence job's
    // start is seen, every description rendered before it was counted
    def drained(): Seq[Long] = {
      val sc = spark.sparkContext
      val fence = s"fence-${System.nanoTime()}"
      sc.setJobGroup(fence, "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(
          org.scalatest.time.Span(10, org.scalatest.time.Seconds))) {
        assert(fences.contains(fence))
      }
      import scala.jdk.CollectionConverters._
      val out = sizes.asScala.toSeq
      sizes.clear()
      out
    }
    def runQ248(): (Seq[Long], Long) = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try Queries.all("q248_ppmi_embeddings")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      finally graft.ops.ScaleOps.releaseAll(spark, blocking = true)
      (drained(), CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    spark.sparkContext.addSparkListener(listener)
    val ((cold, _), (warm, warmCompiles)) =
      try (runQ248(), runQ248())
      finally spark.sparkContext.removeSparkListener(listener)
    info(s"cold: ${cold.size} events, ${cold.sum} chars, max ${cold.max}; " +
      s"warm: max ${warm.max}, $warmCompiles classes compiled")
    // measured on this fixture: with the pair corpus cached, 36 events
    // of 114.4M chars, the largest 9.40M, and 83 classes recompiled by a
    // warm run (codegen cache at 100); as a checkpoint leaf, 41 events of
    // 3.95M chars, the largest 0.82M, and none recompiled
    assert((cold ++ warm).max < 2000000L,
      s"a q248 plan description rendered ${(cold ++ warm).max} chars")
    assert(warmCompiles == 0L, s"a warm q248 run compiled $warmCompiles classes")
  }

  test("q202-q207 TPC-H shapes: semi-join lateness, pushdown, broadcast dims, TakeOrdered") {
    // Q4 shape: the correlated EXISTS must plan as a left-semi join with
    // the lateness predicate inside the join, never a nested loop
    val p202 = plans("q202_priority_late")
    assert(p202.contains("LeftSemi"), s"q202 lost the semi-join:\n$p202")
    assert(!p202.contains("BroadcastNestedLoopJoin") && !p202.contains("CartesianProduct"),
      s"q202 degraded to all-pairs:\n$p202")
    // Q6 shape: every predicate reaches the scan
    assert(plans("q203_forecast_revenue").contains("PushedFilters: [IsNotNull"),
      s"q203 pushdown missing:\n${plans("q203_forecast_revenue")}")
    // Q7/Q8/Q10/Q14 shapes: dims broadcast down the join trees
    for (n <- Seq("q204_volume_shipping", "q205_market_share",
        "q206_returned_items", "q207_promo_share")) {
      assert(plans(n).contains("BroadcastHashJoin"), s"$n dims not broadcast:\n${plans(n)}")
    }
    // Q10's top-20 is TakeOrderedAndProject, never a global sort
    assert(plans("q206_returned_items").contains("TakeOrderedAndProject"),
      s"q206 top-k degraded:\n${plans("q206_returned_items")}")
  }

  test("q180 min-cost supplier: dims broadcast, no fact-side SMJ") {
    val p = plans("q180_min_cost_supplier")
    assert(p.contains("BroadcastHashJoin"), s"dim chain not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"lineitem shuffled against a dim:\n$p")
  }

  test("q237 link-prediction candidates come from the shared-neighbor equi-join, never all-pairs") {
    val p = plans("q237_link_prediction")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"pair generation degraded to all-pairs:\n$p")
  }
}
