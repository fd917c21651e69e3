package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session factory for the graft engine.
  *
  * The reference (kasper) has no engine configuration beyond batch sizing
  * (`config.go:39-45`); everything here is Spark-native tuning chosen for
  * the target deployment shape: a large multi-executor cluster reading
  * ~100 TB of parquet. Locally we run `local[N]` but the settings are the
  * ones that matter at scale: AQE (runtime re-planning, skew-join
  * splitting, partition coalescing), UTC session time, and a shuffle
  * partition count matched to the core count rather than the 200 default.
  */
object Graft {

  /** Build a local session with scale-appropriate defaults. `cpus` comes
    * from SPARK_GRAFT_CPUS when driven by the harness.
    */
  def localSession(appName: String = "graft", cpus: Int = defaultCpus): SparkSession = {
    val s = configure(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .appName(appName)
      .getOrCreate()
    logObservedMetrics(s)
    s
  }

  /** Log observed metrics (`CollectMetrics` nodes — e.g. the jaccard
    * prefix-prune drop counter) after every query execution, so skew-guard
    * drops are visible in the driver log rather than silent. Registering
    * twice on one session is harmless (duplicate log lines only).
    */
  def logObservedMetrics(spark: SparkSession): Unit =
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      private val log = org.slf4j.LoggerFactory.getLogger("graft.metrics.observed")
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          log.info(s"observed metric $name = $row")
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })

  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.max(4, Runtime.getRuntime.availableProcessors()))

  /** The engine's config surface, applied to any builder (local or
    * cluster). Kept separate so Verify/Bench/tests share one definition.
    */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // native kernels on the SQL surface from session build time
      // (GraftExtensions); sessions built elsewhere can call
      // GraftSqlBridge.registerFunctions instead
      .config("spark.sql.extensions", "graft.core.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      // classic (non-ANSI) arithmetic: hash remixing (MinHash seed family,
      // SimHash) relies on wraparound long multiply/add
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE re-plan (and in particular coalesce) under InMemoryRelation
      // materialization: the default (false) pins every cached frame to the
      // static shuffle-partition count, so each later scan of a small cached
      // aggregate launches a full partition fan of near-empty tasks — at any
      // scale, cached partials should be sized by AQE's advisory bytes like
      // every other exchange (guide §2.2/§6; measured in r15: the embedding
      // chain's per-stage task fans dropped ~5x, output rows identical)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")

  /** Opt into the RocksDB state store for streaming state — the scale
    * path for keyed state (spillable, incremental-checkpointed), playing
    * the role of the reference's external Redis/ES stores
    * (`redis.go`/`elasticsearch.go`) with Spark-owned fault tolerance.
    * Session-wide setting; call before starting stateful queries.
    */
  def useRocksDbStateStore(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Fan a DataFrame out to full core parallelism before compute-heavy
    * per-row work (hashing, shingling, vector kernels).
    *
    * Why it exists: a parquet file is only splittable at row-group
    * boundaries, so a single-row-group input (the harness fixtures; also
    * common with arrow writers) pins the whole scan to ONE task no matter
    * the cluster size. The round-trip shuffle is linear in the data and
    * trivially cheap next to the per-row compute it unlocks; on inputs
    * that already arrive well-split the exchange coalesces under AQE.
    * Don't use it before cheap scans — the shuffle would dominate.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Best-effort recursive delete of a local staging/checkpoint temp
    * dir — the ONE implementation of the walk-deepest-first idiom
    * (previously copied across DedupStream/EmbedProfile/q269 with
    * divergent error handling). Swallows IO errors by design: every
    * caller is a cleanup path (a query's finally, a maintainer's
    * close) where a transient delete failure must never mask the real
    * result or exception.
    */
  def removeRecursively(dir: java.nio.file.Path): Unit = try {
    val walk = java.nio.file.Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    } finally walk.close() // open streams hold directory handles
  } catch {
    // walk surfaces iteration errors as UncheckedIOException — a
    // cleanup path must not throw either way
    case _: java.io.IOException => ()
    case _: java.io.UncheckedIOException => ()
  }
}

/** Loaders for the harness tables (TESTDATA.md). One parquet per table;
  * schemas are discovered from the footers. At cluster scale these would
  * be partitioned directories — the API takes a dir so the same code
  * serves both. Lazy vals so a query referencing the same table twice
  * shares one plan node (required for unambiguous self-references).
  *
  * Schema discovery is resolved once per file, not once per query: a
  * plain `spark.read.parquet` infers the schema with a one-task Spark job
  * before the query's own work starts, and every query builds a new
  * `Tables`. A single-file table's inferred schema is kept in a
  * process-wide cache (see [[Tables.read]]) and later reads pass it as
  * the user schema, which starts no job.
  */
final class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")
  lazy val region: DataFrame    = t("region")
  lazy val nation: DataFrame    = t("nation")
  lazy val customer: DataFrame  = t("customer")
  lazy val supplier: DataFrame  = t("supplier")
  lazy val part: DataFrame      = t("part")
  lazy val orders: DataFrame    = t("orders")
  lazy val lineitem: DataFrame  = t("lineitem")
  lazy val documents: DataFrame = t("documents")
  lazy val embeddings: DataFrame = t("embeddings")

  /** The events table's `ts` has been written two ways across fixture
    * generations: nanosecond parquet timestamps (arrow writers; Spark has
    * no nanos type, so read as long and truncate to micros — what DuckDB's
    * reader does, keeping the oracle comparable) and native micros
    * timestamps. Adapt on the discovered schema so both read identically.
    */
  lazy val events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => raw
    }
  }
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  /** Session confs that change the schema parquet inference yields. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** A file's identity plus the inference confs in force when it was read:
    * a rewritten file (new length or mtime) or a changed conf is a miss.
    */
  private final case class SchemaKey(path: String, length: Long, mtime: Long,
                                     confs: Seq[Option[String]])

  /** Entries kept; least recently used beyond it are dropped. The harness
    * reads ten tables, at most two conf variants each, per data dir.
    */
  private val maxSchemas = 256

  private val schemas =
    new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SchemaKey, StructType]): Boolean = size() > maxSchemas
    }

  /** Read one parquet table. For a single file the schema is looked up by
    * [[SchemaKey]] and only inferred on a miss; the read itself always
    * goes through `spark.read.schema(s).parquet(path)`. A directory (or a
    * path that cannot be stat'ed) keeps plain inference: its top-level
    * mtime does not change when a nested part file is rewritten, so it
    * cannot key the cache.
    */
  private[graft] def read(spark: SparkSession, path: String): DataFrame = {
    val status =
      try {
        val p = new Path(path)
        Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      } catch { case _: java.io.IOException => None }
    status.filter(_.isFile) match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val key = SchemaKey(st.getPath.toString, st.getLen, st.getModificationTime,
          inferenceConfs.map(spark.conf.getOption))
        val cached = schemas.synchronized(Option(schemas.get(key)))
        val schema = cached.getOrElse {
          // inferred outside the lock: a racing duplicate inference is harmless
          val inferred = spark.read.parquet(path).schema
          schemas.synchronized(schemas.put(key, inferred))
          inferred
        }
        spark.read.schema(schema).parquet(path)
    }
  }
}
