package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** Write-side layout helpers: the reference's `partition_by` +
  * `cluster_by` storage contract (reference: invoice_line_items.sql:5-6
  * and every incremental model config; SURVEY §1.4).
  *
  * Partitioning gives read-side partition PRUNING (a filter on the
  * partition column never opens non-matching directories); the
  * within-partition sort gives data SKIPPING (parquet row-group
  * min/max stats become selective on the cluster keys — the same
  * intent as BigQuery clustering / Z-order without needing either).
  * At 100 TB these two decisions dominate scan cost for the
  * date-filtered access patterns every mart query uses.
  */
object Sinks {

  /** File-size cap: guards against one multi-GB file per hot
    * partition. */
  private val MaxRecordsPerFile = 5_000_000L

  /** The shared partition+cluster layout step: co-locate each
    * partition value and sort rows by the cluster keys. The snapshot
    * write below and Merge.deleteWrite route through here, so the
    * layout policy lives in one place; Merge.mergeWrite applies the
    * same layout around its dedupe, on the one shuffle it already
    * pays. */
  private[graft] def clustered(df: DataFrame, partitionCol: String,
                               clusterCols: Seq[String]): DataFrame =
    if (clusterCols.nonEmpty)
      df.repartition(col(partitionCol))
        .sortWithinPartitions((partitionCol +: clusterCols).map(col): _*)
    else df

  /** Overwrite `df` at `path` partitioned by `partitionCol`, rows
    * sorted within each file by `clusterCols`. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String,
                       clusterCols: Seq[String] = Nil,
                       maxRecordsPerFile: Long = MaxRecordsPerFile): Unit =
    clustered(df, partitionCol, clusterCols).write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol)
      .parquet(path)

  /** Replace exactly the `partitionCol` partitions present in `df`
    * under `path` (DYNAMIC partition overwrite); every other partition
    * stays untouched bytes. `df` may read `path` itself: Spark's commit
    * protocol writes under `<path>/.spark-staging-<job>` and swaps the
    * written partition directories in at job commit, after every task
    * has finished reading, and removes the staging directory. */
  private[graft] def overwritePartitions(df: DataFrame, path: String,
                                         partitionCol: String): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", MaxRecordsPerFile)
      .partitionBy(partitionCol)
      .parquet(path)

  /** NDJSON snapshot sink — the raw-zone overwrite write (reference:
    * extract_stripe_data.py:105-116, full overwrite per run,
    * README.md:102-105). */
  def writeNdjsonSnapshot(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Bucketed catalog table: pre-hash-partition (and optionally
    * pre-sort) the data into `numBuckets` files per partition on the
    * join/aggregation key. Two tables bucketed the same way join with
    * NO exchange on either side — the shuffle is paid once at write
    * time and amortized over every subsequent join, the single biggest
    * lever for repeatedly-joined 100 TB fact tables. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "bucketing requires at least one column")
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted =
      if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.saveAsTable(table)
  }
}
