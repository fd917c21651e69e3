package graft.core

import org.apache.spark.sql.SparkSessionExtensions

/** `spark.sql.extensions` entry point: registers graft's native kernel
  * functions at session build time, so a cluster deployment (or a
  * pure-SQL user on a thrift/connect endpoint) gets `vector_cosine`,
  * `minhash_signature`, `lang_id`, … without touching library code —
  * the SparkSessionExtensions mechanism third-party engines standardize
  * on. [[Graft.configure]] sets the conf, so every engine-built session
  * carries the SQL surface; q135 drives it end-to-end through the
  * oracle gate.
  *
  * It also registers [[OnePartitionSmallSort]], the AQE stage-prep rule
  * that sorts a small total-order result in one partition.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    org.apache.spark.sql.GraftSqlBridge.injectFunctions(ext)
    ext.injectQueryStagePrepRule(OnePartitionSmallSort)
  }
}
