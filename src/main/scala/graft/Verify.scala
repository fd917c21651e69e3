package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // optional query-name filter (dev use)
    val cpus = graft.core.Graft.defaultCpus
    val spark = graft.core.Graft.configure(
        SparkSession.builder().master(s"local[$cpus]").appName("graft-verify"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // sink-writing queries (q02) put their intermediate output under the
    // harness outDir instead of a driver-local temp dir — the path that
    // still works when driver and executors don't share a filesystem
    spark.conf.set("spark.graft.sink.dir", s"$outDir/_sink")
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // index-building queries (q35/q53) cache eagerly; isolate queries
      // the same way Bench does so none inherits another's cached state.
      // releaseAll also unpersists localCheckpoint blocks and drains the
      // ScaleOps registry — the long-session leak class (round-9 bench).
      finally graft.ops.ScaleOps.releaseAll(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jsonString(k)}: ${Bench.jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
