package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Filesystem probes through the Hadoop FileSystem API — the only way
  * an existence check works on every storage a cluster reads (HDFS,
  * S3A, GCS, local). `new java.io.File(path).exists()` is always false
  * for a remote URI, and catching *any* read exception as "table does
  * not exist" turns a transient IO failure into silent data loss (a
  * merge would overwrite touched partitions with updates-only). All
  * table-existence decisions in the engine route through here so only
  * genuine absence is treated as empty and every other failure
  * propagates loudly.
  */
object Fs {
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Recursive delete; absent paths are a no-op. */
  def deleteRecursively(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, true)
  }
}
