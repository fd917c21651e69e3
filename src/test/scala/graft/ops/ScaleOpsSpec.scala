package graft.ops

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("releaseAll unpersists localCheckpoint blocks and tracked caches (long-session hygiene)") {
    // the round-9 driver degradation class: clearCache() is
    // catalog-level and leaves RDD-level persists (localCheckpoint
    // blocks) resident for the life of the session
    val sc = spark.sparkContext
    ScaleOps.releaseAll(spark) // start from a clean slate
    val before = sc.getPersistentRDDs.keySet
    val ck = spark.range(1000).toDF("id").localCheckpoint(true)
    assert(ck.count() == 1000L)
    val ranked = ScaleOps.globalRank(
      spark.range(500).toDF("id"), "rnk", Seq(col("id")))
    assert(ranked.count() == 500L) // materialize the tracked cache
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty,
      "expected resident RDDs from localCheckpoint/trackCache")
    spark.catalog.clearCache()
    // catalog clear alone does NOT release the checkpoint blocks —
    // exactly why Bench/Verify needed releaseAll
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty,
      "clearCache unexpectedly released RDD-level persists")
    ScaleOps.releaseAll(spark)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      s"releaseAll left resident RDDs: ${sc.getPersistentRDDs.keySet -- before}")
  }

  test("saltedSum/saltedCount match plain aggregation on skewed data") {
    // 90% of rows share one key — the within-group skew case
    val rows = (1 to 2000).map(i => (if (i <= 1800) "hot" else s"k${i % 7}", i.toDouble))
    val df = rows.toDF("k", "v")
    val plainSum = df.groupBy("k").agg(sum("v")).as[(String, Double)].collect().toMap
    val salted = ScaleOps.saltedSum(df, Seq("k"), "v").as[(String, Double)].collect().toMap
    assert(salted == plainSum)
    val plainCnt = df.groupBy("k").count().as[(String, Long)].collect().toMap
    val saltedC = ScaleOps.saltedCount(df, Seq("k")).as[(String, Long)].collect().toMap
    assert(saltedC == plainCnt)
  }

  test("bucketed tables join without a shuffle exchange") {
    // clear any stale managed-table locations from previous JVM runs
    Seq("orders_b", "customer_b").foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), tbl)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    val t = Tables(spark, sfDir)
    ScaleOps.writeBucketed(t.orders, "orders_b", "o_custkey", 8)
    ScaleOps.writeBucketed(
      t.customer.withColumnRenamed("c_custkey", "o_custkey"), "customer_b", "o_custkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val joined = spark.table("orders_b").join(spark.table("customer_b"), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("vector_cosine is callable from SQL after registration") {
    org.apache.spark.sql.GraftSqlBridge.registerFunctions(spark)
    val got = spark.sql(
      "SELECT vector_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").as[Double].head()
    assert(math.abs(got - 1.0) < 1e-12)
  }

  test("signature kernels are callable from SQL after registration") {
    org.apache.spark.sql.GraftSqlBridge.registerFunctions(spark)
    val sig = spark.sql(
      "SELECT minhash_signature(array(1L, 2L, 3L), 8) AS s").as[Seq[Long]].head()
    assert(sig.length == 8)
    val fp = spark.sql("SELECT simhash(array(5L)) AS f").as[Long].head()
    assert(fp == 5L)
    val i = spark.sql(
      "SELECT sorted_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS i").as[Long].head()
    assert(i == 2L)
    // non-constant numHashes must fail analysis cleanly, not NPE
    val err = intercept[Exception] {
      spark.sql("SELECT minhash_signature(array(1L), id) FROM range(1)").collect()
    }
    assert(err.getMessage.contains("foldable") || err.getMessage.contains("constant"))
  }

  test("zOrderValue interleaves bits; sorting by it clusters both dimensions") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
    val got = df.select(ScaleOps.zOrderValue($"x", $"y", 16)).as[Long].collect().toSeq
    // z(3,5): x bits 0,1 -> pos 0,2; y bits 0,2 -> pos 1,5 = 100111b = 39
    assert(got == Seq(0L, 1L, 2L, 39L, (1L << 32) - 1))
    // locality: z-sorted buckets of a 16x16 grid span at most a few rows
    // of each dimension, unlike an x-sorted layout which spans ALL of y
    val grid = (for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)).toDF("x", "y")
    val spans = grid.select(ScaleOps.zOrderValue($"x", $"y", 4).as("z"), $"x", $"y")
      .groupBy(($"z" / 16).cast("long").as("b")) // 16 buckets of 16 cells
      .agg((max($"x") - min($"x")).as("sx"), (max($"y") - min($"y")).as("sy"))
      .as[(Long, Long, Long)].collect()
    assert(spans.forall { case (_, sx, sy) => sx <= 3 && sy <= 3 },
      s"z-buckets must be 4x4 tiles, got ${spans.toSeq}")
  }

  test("writeSorted: files cover disjoint key ranges, file size capped") {
    import org.apache.spark.sql.functions.{col, input_file_name, min, max, count, lit}
    withTempDir("graft_sorted") { tmp =>
      val dir = tmp.toString
      val df = spark.range(0, 10000).select((col("id") * 7919 % 10000).as("k"))
      ScaleOps.writeSorted(df, dir, "k", partitions = 4, maxRecordsPerFile = 2000)
      val files = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("k")).as("mn"), max(col("k")).as("mx"), count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      assert(files.forall(_._3 <= 2000), s"file over cap: ${files.toSeq}")
      // disjoint, ordered ranges: each file's min exceeds the previous max
      files.sliding(2).foreach {
        case Array((_, mxA, _), (mnB, _, _)) =>
          assert(mnB > mxA, s"overlapping file ranges: ${files.toSeq}")
        case _ => ()
      }
      // nothing lost in the rewrite
      assert(spark.read.parquet(dir).count() == 10000)
    }
  }

  test("writeSorted to ORC: round-trip exact, ranges disjoint, filters push to the ORC scan") {
    import org.apache.spark.sql.functions.{col, input_file_name, min, max}
    withTempDir("graft_sorted_orc") { tmp =>
      val dir = tmp.toString
      val df = spark.range(0, 5000).select((col("id") * 7919 % 5000).as("k"))
      ScaleOps.writeSorted(df, dir, "k", partitions = 4,
        maxRecordsPerFile = 2000, format = "orc")
      val back = spark.read.orc(dir)
      assert(back.as[Long].collect().sorted.toSeq == (0L until 5000L).toSeq)
      val ranges = back.groupBy(input_file_name().as("f"))
        .agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, mxA), (mnB, _)) =>
          assert(mnB > mxA, s"overlapping ORC file ranges: ${ranges.toSeq}")
        case _ => ()
      }
      // the point of the sorted layout: a key predicate reaches the scan
      val plan = back.filter(col("k") < 100).queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(k), LessThan(k,100)]"),
        s"ORC scan must carry the pushed key filter:\n$plan")
      // unsupported formats are rejected before any write happens
      intercept[IllegalArgumentException](
        ScaleOps.writeSorted(df, dir, "k", 1, 1, format = "json"))
    }
  }

  test("writeCompacted: ceil(n/target) evenly-sized files, content preserved") {
    import org.apache.spark.sql.functions.col
    withTempDir("graft_compact") { tmp =>
      val dir = tmp.toString
      // start deliberately fragmented: 64 partitions of ~16 rows
      val df = spark.range(0, 1000).repartition(64).select(col("id"))
      ScaleOps.writeCompacted(df, dir, targetRows = 300)
      val parts = new java.io.File(dir).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      assert(parts == 4, s"expected ceil(1000/300)=4 files, got $parts")
      assert(spark.read.parquet(dir).as[Long].collect().sorted.toSeq ==
        (0L until 1000L))
    }
  }

  test("saltedJoin result multiset equals the plain join at any salt") {
    val fact = Seq((1L, 10.0), (1L, 20.0), (2L, 5.0), (3L, 7.0), (1L, 30.0))
      .toDF("fk", "v")
    val dim = Seq((1L, "a"), (2L, "b"), (4L, "d")).toDF("dk", "name")
    val plain = fact.join(dim, $"fk" === $"dk").select("fk", "v", "name")
    for (s <- Seq(1, 3, 16)) {
      val salted = ScaleOps.saltedJoin(fact, dim, "fk", "dk", salt = s)
        .select("fk", "v", "name")
      assert(salted.exceptAll(plain).count() == 0
        && plain.exceptAll(salted).count() == 0, s"salt=$s changed the result")
    }
    // the join key actually widens: the salt equality is in the join plan
    val p = ScaleOps.saltedJoin(fact, dim, "fk", "dk", salt = 4)
      .queryExecution.executedPlan.toString
    assert(p.contains("__salt"), s"salt fell out of the join:\n$p")
  }

  test("zOrderValueN: n=2 equals the unrolled form; 3-col bits land round-robin") {
    val df = spark.range(0, 256)
      .select(($"id" % 16).as("x"), (($"id" / 16) % 16).as("y"),
        (($"id" * 7) % 16).as("z"))
    val two = df.select(
      ScaleOps.zOrderValue($"x", $"y", bits = 8).as("a"),
      ScaleOps.zOrderValueN(Seq($"x", $"y"), bits = 8).as("b"))
      .filter($"a" =!= $"b").count()
    assert(two == 0L, "n=2 generalized form must equal the unrolled zOrderValue")
    // hand-checked 3-col interleave: x=1,y=2,z=4 → bits at 0, 4, 8
    val v = Seq((1L, 2L, 4L)).toDF("x", "y", "z")
      .select(ScaleOps.zOrderValueN(Seq($"x", $"y", $"z"), bits = 3))
      .as[Long].head()
    assert(v == 273L, s"expected 1|16|256 = 273, got $v")
  }

  test("skewAwareSum: profile picks the branch, result identical either way") {
    val df = spark.range(0, 1000)
      .select(($"id" % 4).as("k"), lit(1L).as("v")) // 250 rows per key
    val plain = df.groupBy("k").agg(sum($"v").as("sum_v"))
      .as[(Long, Long)].collect().toSet
    // threshold above the max multiplicity → plain plan (no salt column)
    val under = ScaleOps.skewAwareSum(df, Seq("k"), "v", skewThreshold = 1000L)
    assert(!under.queryExecution.executedPlan.toString.contains("__salt"))
    assert(under.as[(Long, Long)].collect().toSet == plain)
    // threshold below → salted two-stage plan, same result
    val over = ScaleOps.skewAwareSum(df, Seq("k"), "v", skewThreshold = 10L)
    assert(over.queryExecution.executedPlan.toString.contains("__salt"))
    assert(over.as[(Long, Long)].collect().toSet == plain)
  }

  test("bloomSemiJoin equals the plain semi-join at any fpp; probe is in the scan") {
    // Range-backed, not a local Seq: ConvertToLocalRelation would fold
    // the bloom filter into the LocalTableScan and hide it from the plan
    val big = spark.range(1, 501)
      .select(($"id" % 50).as("fk"), $"id".as("payload"))
    val dim = Seq(3L, 7L, 11L, 42L).toDF("dk")
    val plain = big.join(dim.select($"dk".as("fk")), Seq("fk"), "left_semi")
      .as[(Long, Long)].collect().toSet
    for (fpp <- Seq(0.3, 0.01)) { // even a sloppy filter must not change results
      val got = ScaleOps.bloomSemiJoin(big, dim, "fk", "dk",
          expectedItems = 10L, fpp = fpp)
        .select($"fk", $"payload").as[(Long, Long)].collect().toSet
      assert(got == plain, s"fpp=$fpp changed the result")
    }
    // the scalar bloom probe must sit in the plan before the exact join
    val p = ScaleOps.bloomSemiJoin(big, dim, "fk", "dk", expectedItems = 10L)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(p.contains("bloommightcontain"), s"bloom pre-filter missing:\n$p")
  }

  test("sampledRangeBounds: equi-depth, ordered, deterministic; full sample = exact ntile") {
    val df = (1L to 200L).map(i => ((i * 37) % 200, i)).toDF("k", "id")
    // sampleBp = 10000: every row sampled → plain ntile over the data
    val full = ScaleOps.sampledRangeBounds(df, "k", "id", buckets = 4, sampleBp = 10000)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(full.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(full.map(_._4) == Seq(50L, 50L, 50L, 50L), s"equi-depth: $full")
    // spans are ordered and non-overlapping except possibly at the seam key
    full.sliding(2).foreach { case Seq(a, b) =>
      assert(a._3 <= b._2, s"bucket spans out of order: $a then $b")
    case _ => ()
    }
    // a real sample is a subset, still ordered, and re-runs identically
    // under any partitioning (arithmetic hash, no RNG)
    val s1 = ScaleOps.sampledRangeBounds(df, "k", "id", buckets = 4, sampleBp = 2500)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val s2 = ScaleOps.sampledRangeBounds(df.repartition(13), "k", "id",
      buckets = 4, sampleBp = 2500).as[(Long, Long, Long, Long)].collect().toSeq
    assert(s1 == s2, s"sampling must be deterministic: $s1 vs $s2")
    val n = s1.map(_._4).sum
    assert(n > 0 && n < 200, s"2500 bp should sample a strict subset, got $n")
    assert(math.abs(s1.map(_._4).max - s1.map(_._4).min) <= 1,
      s"ntile depth imbalance: $s1")
  }

  test("globalRank equals the single-partition row_number, with no unpartitioned Window in the plan") {
    // non-local input (plan-guard rule: ConvertToLocalRelation folds Seq
    // inputs); multiplicative hash gives heavy score ties so the
    // id tie-break is load-bearing
    val df = spark.range(0, 1000)
      .select(col("id"), (col("id") * 2654435761L % 97).as("score"))
    val got = ScaleOps.globalRank(df, "rank",
        Seq(col("score").asc, col("id").asc))
      .select("id", "rank").as[(Long, Long)].collect().toMap
    spark.catalog.clearCache() // globalRank caches the ranged frame
    val expected = (0L until 1000L).map(i => i -> (i * 2654435761L % 97))
      .sortBy { case (i, s) => (s, i) }
      .zipWithIndex.map { case ((i, _), r) => i -> (r + 1L) }.toMap
    assert(got == expected)
    // the scale contract itself: every Window in the plan is partitioned
    val ranked = ScaleOps.globalRank(df, "rank",
      Seq(col("score").asc, col("id").asc), partitions = 8)
    val unpartitioned = windowNodes(ranked).filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.isEmpty,
      "globalRank must never plan a single-partition Window")
    // explicit partition count: same ranks (offsets re-derive)
    val got8 = ranked.select("id", "rank").as[(Long, Long)].collect().toMap
    spark.catalog.clearCache()
    assert(got8 == expected)
  }

  test("globalRunningSum equals the single-partition prefix sum at 1/8/32 partitions, no unpartitioned Window") {
    // signed deltas (the concurrencyPeak sweep shape) with heavy ts ties
    val df = spark.range(0, 800)
      .select((col("id") * 2654435761L % 59).as("ts"),
        (when(col("id") % 3 === 0, -1L).otherwise(1L)).as("d"),
        col("id"))
    // ties on (ts, d) all carry the same delta, so the FINAL value after
    // each (ts, d) group is order-independent: compare the running sum
    // at group boundaries (the only deterministic cut points)
    def boundarySums(run: Map[(Long, Long, Long), Long]): Map[(Long, Long), Long] =
      run.groupBy { case ((ts, d, _), _) => (ts, d) }
        .map { case (k @ (_, d), m) =>
          // the tie group's last running value: sums rise for d>0, fall
          // for d<0 — either way the extreme is the deterministic
          // boundary value
          k -> (if (d > 0) m.values.max else m.values.min)
        }
    val rows = (0L until 800L)
      .map(i => (i * 2654435761L % 59, if (i % 3 == 0) -1L else 1L, i))
      .sortBy { case (ts, d, _) => (ts, d) }
    var acc = 0L
    val expected = boundarySums(rows.map { case (ts, d, i) =>
      acc += d; ((ts, d, i), acc)
    }.toMap)
    for (np <- Seq(1, 8, 32)) {
      val got = ScaleOps.globalRunningSum(df, col("d"),
          Seq(col("ts").asc, col("d").asc), "c", partitions = np)
        .select("ts", "d", "id", "c")
        .as[(Long, Long, Long, Long)].collect()
        .map { case (ts, d, i, c) => ((ts, d, i), c) }.toMap
      spark.catalog.clearCache()
      assert(boundarySums(got) == expected, s"partitions=$np diverged")
    }
    val plan = ScaleOps.globalRunningSum(df, col("d"),
      Seq(col("ts").asc, col("d").asc), "c", partitions = 8)
    val unpartitioned = windowNodes(plan).filter(_.partitionSpec.isEmpty)
    spark.catalog.clearCache()
    assert(unpartitioned.isEmpty,
      "globalRunningSum must never plan a single-partition Window")
  }

  test("groupedRunningSum equals the per-group prefix sum under a total order, at 1/8/32 partitions") {
    // 3 groups × many rows: the weightedQuantile shape where PARTITION BY
    // group alone would serialize a third of the data per task
    val df = spark.range(0, 900)
      .select((col("id") % 3).cast("string").as("k"),
        (col("id") * 2654435761L % 47).as("v"),
        col("id"), (col("id") % 7 + 1).as("w"))
    val expected = (0L until 900L)
      .map(i => (i % 3, i * 2654435761L % 47, i, i % 7 + 1))
      .groupBy(_._1).flatMap { case (_, rows) =>
        var acc = 0L
        rows.sortBy { case (_, v, i, _) => (v, i) }.map { case (k, v, i, w) =>
          acc += w; (k.toString, i) -> acc
        }
      }.toMap
    for (np <- Seq(1, 8, 32)) {
      val got = ScaleOps.groupedRunningSum(df, Seq("k"), col("w"),
          Seq(col("v"), col("id")), "cum", partitions = np)
        .select("k", "id", "cum").as[(String, Long, Long)].collect()
        .map { case (k, i, c) => (k, i) -> c }.toMap
      assert(got == expected, s"partitions=$np diverged")
    }
    // the de-skew contract: the heavy running-sum window is partitioned
    // by MORE than the group key (pid + group), and nothing is
    // single-partition
    val windows = windowNodes(ScaleOps.groupedRunningSum(df, Seq("k"),
      col("w"), Seq(col("v"), col("id")), "cum", partitions = 8))
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "groupedRunningSum must never plan a single-partition Window")
    assert(windows.exists(_.partitionSpec.size >= 2),
      "the heavy running-sum window must partition by (pid, group), not group alone")
  }

  test("ntileFromRank matches Spark's ntile exactly, including n mod k != 0 and n < k") {
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(7L, 10L, 12L, 103L, 1000L)) {
      val df = spark.range(0, n)
        .select(col("id"), (col("id") * 2654435761L % 31).as("s"))
      val w = Window.orderBy(col("s"), col("id"))
      val viaNtile = df.withColumn("t", ntile(10).over(w).cast("long"))
        .select("id", "t").as[(Long, Long)].collect().toMap
      val viaRank = ScaleOps.globalRank(df, "g", Seq(col("s").asc, col("id").asc))
        .withColumn("__N", lit(n))
        .withColumn("t", ScaleOps.ntileFromRank("g", "__N", 10).cast("long"))
        .select("id", "t").as[(Long, Long)].collect().toMap
      spark.catalog.clearCache()
      assert(viaRank == viaNtile, s"n=$n: formula disagrees with ntile")
    }
  }

  test("rendezvousAssign: minimal movement on grow, balanced-ish spread, deterministic") {
    val keys = spark.range(0, 3000).select(col("id").as("k"))
    val both = ScaleOps.rendezvousAssign(
        ScaleOps.rendezvousAssign(keys, "k", 5, "n5"), "k", 6, "n6")
      .select("k", "n5", "n6").as[(Long, Long, Long)].collect()
    // THE rendezvous invariant: every moved key lands on the NEW node
    // (old nodes never exchange keys on grow)
    val moved = both.filter { case (_, b, a) => b != a }
    assert(moved.nonEmpty && moved.forall(_._3 == 5L),
      s"moved keys must all land on node 5, got ${moved.take(5).toSeq}")
    // expected movement ~ 1/6 of keys; allow generous hash slack
    assert(moved.length > 3000 / 12 && moved.length < 3000 / 3,
      s"movement ${moved.length}/3000 strays far from ~1/6")
    // every node owns a non-trivial share (the HRW balance property)
    val spread = both.groupBy(_._2).map { case (n, ks) => n -> ks.length }
    assert(spread.size == 5 && spread.values.forall(_ > 300),
      s"5-node spread: $spread")
    // deterministic under re-run and partitioning
    val again = ScaleOps.rendezvousAssign(keys.repartition(7), "k", 5, "n5")
      .select("k", "n5").as[(Long, Long)].collect().toMap
    assert(both.map(r => r._1 -> r._2).toMap == again)
    spark.catalog.clearCache()
  }

  test("ScaleOps.scoped releases only the frames tracked inside the scope; outer survives") {
    import spark.implicits._
    ScaleOps.release() // clean slate
    val outer = ScaleOps.trackCache(Seq(1L, 2L).toDF("v"))
    outer.count()
    val (innerCache, innerCkpt) = ScaleOps.scoped {
      val c = ScaleOps.trackCache(Seq(3L, 4L).toDF("v"))
      c.count()
      val k = ScaleOps.trackCheckpoint(
        Seq(5L, 6L).toDF("v").localCheckpoint(true))
      (c, k)
    }
    assert(innerCache.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "interior cache must be released when the scope closes")
    val leaf = innerCkpt.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    // unpersist is async: poll the leaf RDD's storage level briefly
    val deadline = System.nanoTime() + 5e9.toLong
    while (leaf.rdd.getStorageLevel !=
        org.apache.spark.storage.StorageLevel.NONE
        && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leaf.rdd.getStorageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "interior checkpoint leaf must be released when the scope closes")
    assert(outer.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE,
      "a frame tracked BEFORE the scope must survive it")
    // a THROWING body still releases its partial interiors
    val orphan = ScaleOps.trackCache(Seq(7L).toDF("v"))
    intercept[RuntimeException](ScaleOps.scoped {
      ScaleOps.trackCache(Seq(8L).toDF("v")).count()
      throw new RuntimeException("boom")
    })
    assert(orphan.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE)
    ScaleOps.release()
    spark.catalog.clearCache()
  }

  test("ScaleOps.release unpersists the frames the range ops cached") {
    val df = spark.range(0, 100).select(col("id"), (col("id") % 5).as("s"))
    ScaleOps.globalRank(df, "r", Seq(col("s").asc, col("id").asc)).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "globalRank should have cached its ranged frame")
    ScaleOps.release()
    // unpersist is async (blocking = false): poll briefly
    val deadline = System.nanoTime() + 5e9.toLong
    while (spark.sparkContext.getPersistentRDDs.nonEmpty
        && System.nanoTime() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "release() must clear every tracked cache")
  }
}
