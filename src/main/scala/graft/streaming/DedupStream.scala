package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Incremental near-dup GROUP maintenance over a document stream — the
  * streaming lifecycle of [[graft.dedup.Dedup.nearDupGroups]], matching
  * the ANN index-append story (ingest without retrain): drive it from
  * `foreachBatch`, one [[ingest]] per micro-batch.
  *
  * Per batch, three delta-sized steps — no step rescans the pair history:
  *  1. the batch's MinHash band buckets are equi-joined against the
  *     ACCUMULATED buckets (so a pair is discovered exactly when its
  *     second member arrives; candidates involving no new doc cannot
  *     exist and are never re-derived);
  *  2. only that candidate delta is exact-verified (true jaccard over
  *     the accumulated gram sets — same kernel as the batch path);
  *  3. labels fold in by connected components seeded with the PRIOR
  *     label table: (id → group) rows are a path-compressed summary of
  *     every pair ever verified, so each round's CC input is
  *     |delta pairs| + |labels| edges, never the full history, and a new
  *     pair bridging two old groups relabels both sides.
  *
  * State held as cached/checkpointed frames (buckets, gram sets, labels)
  * — the driver-side embodiment of what a cluster deployment would keep
  * in tables; the label table is truncated (localCheckpoint) and its
  * superseded version released every batch, so lineage and block-manager
  * usage stay O(current state) across an unbounded stream.
  *
  * Ids must be fresh across the stream (the append contract); re-sending
  * a doc id double-counts its buckets. The per-batch bucket-size guard
  * semantics match the batch path per batch: a bucket is dropped in the
  * batches where it exceeds `maxBucket`, but pairs it yielded while
  * smaller are kept — incremental recall is ≥ the batch run's.
  *
  * Reference tie: kasper's Process()+store upsert loop
  * (`/root/reference/topic_processor.go:219-263`) — the "store" here is
  * the label table, and convergence to the batch result is the spec's
  * oracle (StreamingSpec).
  */
final class DedupGroupMaintainer(textCol: String, idCol: String,
                                 n: Int = 3, numHashes: Int = 64,
                                 bandings: Seq[Int] = Seq(16),
                                 threshold: Double = 0.5,
                                 maxBucket: Long = 10000) {
  require(bandings.nonEmpty && bandings.forall(b => b > 0 && numHashes % b == 0),
    s"every banding must divide numHashes=$numHashes, got $bandings")

  private var accBanded: Option[DataFrame] = None // (id, band, bh)
  private var accSets: Option[DataFrame] = None   // (id, set)
  private var accLabels: Option[DataFrame] = None // (id, grp)

  /** Fold one micro-batch of (idCol, textCol) rows into the state. */
  def ingest(batch: DataFrame): Unit = synchronized {
    if (batch.isEmpty) return
    val sets = Dedup.shingleSets(batch, textCol, idCol, n).cache()
    val sig = Dedup.minHashSignatures(batch, textCol, idCol, n, numHashes)
    val banded = Dedup.multiBandBuckets(sig, numHashes, bandings).cache()
    // accumulated state is CHECKPOINT-truncated, not merely cached: a
    // cache's lineage would chain union-per-batch back to foreachBatch
    // frames that no longer exist once the batch completes
    val allBanded = accBanded.map(_.unionAll(banded)).getOrElse(banded)
      .localCheckpoint(true)
    val allSets = accSets.map(_.unionAll(sets)).getOrElse(sets)
      .localCheckpoint(true)

    // candidate delta: same bucket, at least one NEW member. The size
    // guard mirrors lshCandidates — computed over the accumulated bucket
    // occupancy, applied to this batch's join only.
    val okBuckets = allBanded.groupBy("band", "bh").agg(count("*").as("n"))
      .filter(col("n") >= 2 && col("n") <= maxBucket)
      .select("band", "bh")
    val cands = allBanded.join(okBuckets, Seq("band", "bh")).as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    val pairs = Dedup.verifyJaccard(cands, allSets, threshold)
      .select("id_a", "id_b")
    // prior labels as edges = path compression of the full pair history
    val labelEdges = accLabels.map(_.toDF("id_a", "id_b")).getOrElse {
      batch.sparkSession.emptyDataFrame
        .select(lit(0L).as("id_a"), lit(0L).as("id_b")).limit(0)
    }
    // connectedComponents materializes its rounds eagerly, so pairs (and
    // with them the batch-only frames) are fully consumed before release
    val comp = Dedup.connectedComponents(
      pairs.unionAll(labelEdges), "id_a", "id_b")
    val newLabels = allSets.select("id").join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("grp"), col("id")).as("grp"))
      .localCheckpoint(true)
    Dedup.releaseCheckpoint(comp)
    accLabels.foreach(Dedup.releaseCheckpoint)
    accBanded.foreach(Dedup.releaseCheckpoint)
    accSets.foreach(Dedup.releaseCheckpoint)
    banded.unpersist(blocking = false)
    sets.unpersist(blocking = false)
    accBanded = Some(allBanded)
    accSets = Some(allSets)
    accLabels = Some(newLabels)
  }

  /** Current labels: (idCol, group, keep) — same shape and survivor rule
    * as [[graft.dedup.Dedup.nearDupGroups]]. Empty before any ingest.
    */
  def labels(spark: org.apache.spark.sql.SparkSession): DataFrame =
    accLabels.map(_.select(col("id").as(idCol), col("grp").as("group"))
        .withColumn("keep", col("group") === col(idCol)))
      .getOrElse(spark.emptyDataFrame
        .select(lit(0L).as(idCol), lit(0L).as("group"), lit(true).as("keep")).limit(0))

  /** Release all state (buckets, sets, labels). */
  def close(): Unit = synchronized {
    accBanded.foreach(_.unpersist(blocking = false))
    accSets.foreach(_.unpersist(blocking = false))
    accLabels.foreach(Dedup.releaseCheckpoint)
    accBanded = None; accSets = None; accLabels = None
  }
}
