package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import graft.sources.Sinks

/** Keyed upsert ("MERGE") — the reference's universal incremental sink.
  *
  * Re-expresses dbt's `materialized="incremental",
  * incremental_strategy="merge"` (reference:
  * dbt/stripe/models/curated/invoices.sql:1-7 and every other model
  * config; semantics README.md:110-129) as a pure DataFrame transform:
  * rows from `updates` win over rows from `target` with the same key;
  * keys only in either side pass through. When several update rows
  * share a key, the highest `versionCol` wins (ties broken by source
  * priority, which is already deterministic per key because keys are
  * unique within each side in the reference's contract).
  *
  * Physical shape: ONE hash-partition shuffle of target ∪ updates,
  * then a per-partition window dedupe — the same cost profile as a
  * shuffle-hash MERGE in a warehouse. [[mergeInto]] shuffles on the
  * key columns; [[mergeWrite]] shuffles on the partition column, so the
  * same exchange also co-locates each partition's rows for its single
  * writer. At 100 TB the win comes from `mergeWrite`: the merged result
  * is written with dynamic partition overwrite so only date partitions
  * that actually received updates are rewritten; untouched partitions
  * are never read or written. Combined with a high-water-mark filter on
  * the updates side (see Incremental.highWaterMark) a daily run touches
  * only recent partitions regardless of total table size.
  *
  * Idempotency contract (README.md:93-129): merge(merge(t,u),u) ==
  * merge(t,u) — covered by MergeSpec property tests.
  */
object Merge {

  private val PRIO = "_graft_src_prio"
  private val RN   = "_graft_rn"

  /** Schema-drift policy for mergeInto — the reference's dbt
    * `on_schema_change` knob (incremental models). */
  sealed trait SchemaChange
  /** Updates are conformed to the target's schema: extra update
    * columns are dropped, missing ones error (dbt's default). */
  case object IgnoreSchemaChange extends SchemaChange
  /** Additive evolution: new update columns join the output schema
    * (null for pre-existing rows); update rows missing a target
    * column carry null (dbt `on_schema_change='append_new_columns'`,
    * the policy that lets a 100 TB mart grow a column without a
    * rebuild). */
  case object AppendNewColumns extends SchemaChange

  /** Upsert `updates` into `target` by `keys`.
    *
    * @param versionCol optional column ordering rows within a key;
    *                   highest wins (e.g. a `_loaded_at` timestamp).
    *                   Updates always beat target rows at equal version.
    */
  def mergeInto(target: DataFrame, updates: DataFrame, keys: Seq[String],
                versionCol: Option[String] = None,
                onSchemaChange: SchemaChange = IgnoreSchemaChange): DataFrame = {
    require(keys.nonEmpty, "merge requires at least one key column")
    latest(union(target, updates, onSchemaChange), keys, versionCol)
  }

  /** target ∪ updates, each row tagged with its side's priority. */
  private def union(target: DataFrame, updates: DataFrame,
                    onSchemaChange: SchemaChange): DataFrame =
    onSchemaChange match {
      case IgnoreSchemaChange =>
        val cols = target.columns.toSeq
        target.select(cols.map(col): _*).withColumn(PRIO, lit(0))
          .unionByName(updates.select(cols.map(col): _*).withColumn(PRIO, lit(1)))
      case AppendNewColumns =>
        target.withColumn(PRIO, lit(0))
          .unionByName(updates.withColumn(PRIO, lit(1)),
            allowMissingColumns = true)
    }

  /** The winning row per `keys` of a [[union]]: highest `versionCol`,
    * then updates over target. */
  private def latest(unioned: DataFrame, keys: Seq[String],
                     versionCol: Option[String]): DataFrame = {
    val ordering: Seq[Column] =
      versionCol.map(v => Seq(col(v).desc_nulls_last, col(PRIO).desc))
        .getOrElse(Seq(col(PRIO).desc))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    unioned
      .withColumn(RN, row_number().over(w))
      .filter(col(RN) === 1)
      .drop(RN, PRIO)
  }

  /** The table at `path` with `partitionCol` typed as `declared`,
    * opened without touching session conf: flipping the session-wide
    * inference flag around a read races with every concurrent reader.
    * Default inference decides first (dates, ints: one open). When it
    * guesses another type — string `'00123'` infers as int 123, which
    * would rewrite into a different directory and duplicate every key —
    * the table reopens with an explicit schema carrying `declared`: a
    * user-specified partition type is parsed from the directory name
    * without inference (SPARK-26188). */
  private def openTyped(spark: SparkSession, path: String, partitionCol: String,
                        declared: DataType): DataFrame = {
    val inferred = spark.read.parquet(path)
    if (inferred.schema(partitionCol).dataType == declared) inferred
    else spark.read.schema(StructType(inferred.schema.map(f =>
      if (f.name == partitionCol) f.copy(dataType = declared) else f))).parquet(path)
  }

  /** `col IN values`, NULL-aware: NULL is a legal partition value
    * (`__HIVE_DEFAULT_PARTITION__`) but isin() never matches it —
    * without the explicit isNull branch a NULL partition's rows would
    * be left out of the rewrite and then overwritten away: silent data
    * loss. */
  private def inValues(c: String, values: Seq[Any]): Column = {
    val nonNull = values.filter(_ != null)
    val base = if (nonNull.nonEmpty) col(c).isin(nonNull: _*) else lit(false)
    if (values.contains(null)) base || col(c).isNull else base
  }

  /** Partition-pruned merge + persist: the O(delta) daily merge, in one
    * shuffle and one write.
    *
    * 1. Collect the distinct partition values present in `updates`
    *    (a handful of dates — driver-side list, not data).
    * 2. Open ONLY those partitions of the target (directory pruning —
    *    untouched partitions are never opened).
    * 3. Repartition target slice ∪ updates once on `partitionCol`,
    *    dedupe per `(partitionCol +: keys)`, sort within partitions by
    *    `partitionCol +: clusterCols`, and write straight into `path`
    *    with DYNAMIC partition overwrite: one writer, so one file, per
    *    touched partition, and only those directories are replaced.
    *    Reading and overwriting one path in one job is safe here:
    *    Spark's commit protocol stages the files under
    *    `<path>/.spark-staging-<job>` and swaps the written partition
    *    directories at job commit, after every task has finished
    *    reading, and the target's file list is fixed when it is opened.
    *
    * Daily cost is therefore proportional to the updated partitions,
    * not the table: the property that keeps a 100 TB mart's daily run
    * constant-time. Rows are sorted within partitions by `clusterCols`
    * for parquet min/max data skipping (the reference's `cluster_by`,
    * invoice_line_items.sql:5-6).
    *
    * Contract: the merge is PARTITION-LOCAL — rows match on
    * `(partitionCol, keys)`, so a key's updates must arrive in the
    * partition that already holds it (a key's partition value is
    * stable, as in any partitioned MERGE). A key that shows up in two
    * partitions keeps one row in each.
    */
  def mergeWrite(spark: SparkSession, path: String,
                 updates: DataFrame, keys: Seq[String], partitionCol: String,
                 clusterCols: Seq[String] = Nil,
                 versionCol: Option[String] = None): Unit = {
    val touched = updates.select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSeq
    if (touched.isEmpty) return
    // Existence is probed explicitly (Hadoop FS — works on HDFS/S3 too);
    // a read failure on an EXISTING table must propagate, or the merge
    // would silently replace touched partitions with updates-only.
    val targetSlice =
      if (graft.sources.Fs.exists(spark, path))
        openTyped(spark, path, partitionCol, updates.schema(partitionCol).dataType)
          .filter(inValues(partitionCol, touched))
      else updates.limit(0)
    val merged = latest(
      union(targetSlice, updates, IgnoreSchemaChange).repartition(col(partitionCol)),
      (partitionCol +: keys).distinct, versionCol)
    Sinks.overwritePartitions(
      merged.sortWithinPartitions((partitionCol +: clusterCols).map(col): _*),
      path, partitionCol)
  }

  /** One [[deleteWrite]] run's outcome: partitions rewritten (still
    * holding survivors), partition directories removed outright
    * (every row deleted), and partitions never touched. */
  final case class DeleteStats(rewritten: Seq[String], removed: Seq[String],
                               untouched: Long)

  /** Targeted key deletion over a partitioned table — the
    * right-to-be-forgotten primitive (GDPR/CCPA erasure, takedown
    * propagation): remove every row matching `deleteKeys` and rewrite
    * ONLY the partitions that held matches. The reference's answer is
    * a full rebuild; at 100 TB the difference is rewriting the 3 date
    * partitions a user touched versus the whole table.
    *
    * Shape: one columnar probe scan (key + partition columns only —
    * column pruning makes this cheap) finds the affected partitions;
    * those partitions re-read, anti-join the key set (broadcast — an
    * erasure batch is small; for bulk deletes run several batches),
    * and land via the direct dynamic overwrite [[mergeWrite]] uses.
    * Dynamic overwrite only replaces partitions PRESENT in the
    * written data, so a partition whose every row died would silently
    * SURVIVE — exactly the failure an erasure tool cannot have; those
    * directories are deleted explicitly (Hive-escaped names, NULL →
    * `__HIVE_DEFAULT_PARTITION__`), and the stats report them.
    *
    * Idempotent: re-running with the same keys finds no matches and
    * touches nothing.
    *
    * A zone map built over this table is STALE after the rewrite (the
    * rewritten partitions' file names changed — [[Layout.zoneMapRead]]
    * refuses on it); rebuild it in one call with
    * [[Layout.zoneMapRebuild]]. */
  def deleteWrite(spark: SparkSession, path: String,
                  deleteKeys: DataFrame, keyCols: Seq[String],
                  partitionCol: String,
                  clusterCols: Seq[String] = Nil): DeleteStats = {
    require(keyCols.nonEmpty, "deleteWrite needs at least one key column")
    val keys = deleteKeys.select(keyCols.map(col): _*).distinct()
    // partition values as their directory-name strings, so emptied
    // directories below are named exactly as they sit on disk
    val target = openTyped(spark, path, partitionCol, StringType)
    val touched = target
      .join(broadcast(keys), keyCols, "left_semi")
      .select(col(partitionCol)).distinct()
      .collect().map(_.getString(0)).toSeq
    // partition census from the DIRECTORY LISTING, not a second table
    // scan — the same metadata the emptied-directory deletion below
    // relies on; the one probe scan above is the only data read
    val nParts = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sessionState.newHadoopConf())
        .listStatus(p).count(st => st.isDirectory &&
          st.getPath.getName.startsWith(s"$partitionCol="))
        .toLong
    }
    if (touched.isEmpty) return DeleteStats(Nil, Nil, nParts)
    val kept = target.filter(inValues(partitionCol, touched))
      .join(broadcast(keys), keyCols, "left_anti")
    val keptParts = kept.select(col(partitionCol)).distinct()
      .collect().map(_.getString(0)).toSet
    if (keptParts.nonEmpty)
      Sinks.overwritePartitions(Sinks.clustered(kept, partitionCol, clusterCols),
        path, partitionCol)
    // partitions whose every row died: dynamic overwrite never saw
    // them — remove their directories explicitly
    val emptied = touched.filterNot(keptParts)
    val hive = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    emptied.foreach { v =>
      val dirName =
        if (v == null) s"$partitionCol=__HIVE_DEFAULT_PARTITION__"
        else s"$partitionCol=${hive.escapePathName(v)}"
      graft.sources.Fs.deleteRecursively(spark, s"$path/$dirName")
    }
    def nsort(xs: Seq[String]) = xs.sortBy(Option(_).getOrElse(""))
    DeleteStats(nsort(touched.filter(keptParts)), nsort(emptied),
      nParts - touched.size)
  }
}

/** High-water-mark incremental pattern (reference: the
  * `is_incremental()` scalar-subquery filters, invoices.sql:11-13,
  * and the extraction-side probe extract_stripe_data.py:43-59).
  */
object Incremental {
  /** `SELECT MAX(col) FROM df` as a driver-side scalar; None on empty
    * input (the reference defaults the extraction HWM to 0). One job,
    * one row to the driver — not a collect() of data. */
  def highWaterMark(df: DataFrame, c: String): Option[Any] = {
    val r = df.agg(max(col(c)).as("hwm")).head()
    if (r.isNullAt(0)) None else Some(r.get(0))
  }

  /** Keep only rows strictly above the target's high-water mark —
    * the `WHERE x > (SELECT MAX(x) FROM {{this}})` pattern. On a
    * partition column this prunes file partitions at scan time. */
  def newerThan(updates: DataFrame, target: DataFrame, c: String): DataFrame =
    highWaterMark(target, c) match {
      case Some(hwm) => updates.filter(col(c) > lit(hwm))
      case None      => updates
    }
}
