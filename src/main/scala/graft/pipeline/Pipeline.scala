package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Incremental, Merge, Par}

/** End-to-end pipeline runner: the Airflow DAG + dbt layer ordering
  * (reference: stripe_update_dag.py:17-42, strict staging → curated →
  * marts) re-expressed as three layers of model functions with merge
  * materialization and high-water-mark incrementality.
  *
  * Layers run strictly in order, like the DAG's tasks; the models
  * inside a layer run concurrently, like dbt's worker threads
  * (`Par.concurrently`), since none reads another's output. Every model
  * of a layer finishes before the next layer starts. A failing model
  * invokes the alerting callback (the reference's on_failure_callback,
  * stripe_update_dag.py:25-37) once per failed model, possibly from
  * several threads at once; after its siblings finish, the first
  * failure propagates and the DAG stops at that layer like Airflow
  * would. Each model's Spark jobs carry the job description
  * `pipeline:<table>`, so overlapping jobs stay attributable.
  *
  * Rerun safety (the README.md:93-129 idempotency contract): every
  * table is materialized with `Merge.mergeWrite` on its unique key, so
  * running the same day twice converges to the same state. The HWM
  * predicates replicate the reference's `WHERE x > (SELECT MAX(x)
  * FROM {{this}})` incremental filters (invoices.sql:11-13 et al) —
  * including the documented quirk that late-arriving *updates* to
  * already-loaded invoices are dropped (SURVEY §7.4 risk 6);
  * `fullRefresh = true` bypasses them (dbt --full-refresh analog).
  */
class Pipeline(
    spark: SparkSession,
    warehouseDir: String,
    asOf: LocalDate,
    fullRefresh: Boolean = false,
    onFailure: (String, Throwable) => Unit = (_, _) => ()) {

  // midnight UTC, not JVM-default-zone midnight: _loaded_at is the merge
  // versionCol, so a rerun from a host in a different zone would stamp a
  // LOWER version and silently lose to the rows it should replace
  private val loadedAt = lit(java.sql.Timestamp.from(
    asOf.atStartOfDay(java.time.ZoneOffset.UTC).toInstant))

  private def path(name: String) = s"$warehouseDir/$name"

  // only genuine absence reads as empty; IO errors on an existing
  // table propagate (graft.sources.Fs scaladoc)
  private def tableOrEmpty(name: String, like: DataFrame): DataFrame =
    if (graft.sources.Fs.exists(spark, path(name))) spark.read.parquet(path(name))
    else like.limit(0)

  /** One layer: build every model concurrently, in its own thread,
    * under the job description `pipeline:<table>`; a failure alerts
    * for that model and, once every sibling has finished, the first
    * one propagates. Returns each model's table frame by name. */
  private def layer(models: (String, () => DataFrame)*): Map[String, DataFrame] = {
    val built = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    Par.concurrently(models.map { case (name, build) => () =>
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"pipeline:$name")
      try { built.put(name, build()); () }
      catch { case e: Throwable => onFailure(name, e); throw e }
      finally sc.setJobDescription(outer)
    }: _*)
    models.map { case (name, _) => name -> built.get(name) }.toMap
  }

  /** Merge-materialize `updates` into the named table by `keys`,
    * date-partitioned on `partitionCol` (the reference's partition_by
    * on every incremental model, §1.4). Merge.mergeWrite prunes the
    * target read to the touched partitions and dynamic-overwrites only
    * those directories — daily cost is O(updated partitions), not
    * O(table). Returns the table as written. */
  private def materialize(name: String, updates: DataFrame,
                          keys: Seq[String], partitionCol: String,
                          clusterCols: Seq[String] = Nil): DataFrame = {
    Merge.mergeWrite(spark, path(name), updates, keys, partitionCol,
      clusterCols, versionCol = Some("_loaded_at"))
    // empty updates against a missing table write nothing — hand the
    // (empty, schema-correct) frame downstream instead of a dead path
    if (graft.sources.Fs.exists(spark, path(name))) spark.read.parquet(path(name))
    else updates.limit(0)
  }

  /** Full rebuild of a dimension table; returns it as written. */
  private def rebuild(name: String, df: DataFrame): DataFrame = {
    df.write.mode("overwrite").parquet(path(name))
    spark.read.parquet(path(name))
  }

  private def withHwm(updates: DataFrame, tableName: String,
                      hwmCol: String): DataFrame =
    if (fullRefresh) updates
    else {
      val target = tableOrEmpty(tableName, updates)
      Incremental.newerThan(updates, target, hwmCol)
    }

  /** Run the full DAG from raw source frames. Returns every table's
    * frame by name. Dimension tables are full rebuilds (reference:
    * exchange_rates.sql:1-3, calendar.sql:1-3 `materialized="table"`);
    * everything else is an incremental merge. */
  def run(rawInvoices: DataFrame,
          rawSubscriptions: DataFrame,
          rawSubscriptionUpdates: DataFrame): Map[String, DataFrame] = {

    // ---- staging (stg_* : unique key id, HWM on created_at_date)
    def stagedModel(name: String, raw: DataFrame) = name -> (() => materialize(name,
      withHwm(Models.staged(raw).withColumn("_loaded_at", loadedAt), name, "created_at_date"),
      Seq("id"), "created_at_date"))
    val staging = layer(
      stagedModel("stg_invoices", rawInvoices),
      stagedModel("stg_subscriptions", rawSubscriptions),
      stagedModel("stg_subscription_updates", rawSubscriptionUpdates))
    val stgInvoices = staging("stg_invoices")

    // ---- dims (full rebuild) and curated (HWM on created_at_date /
    // invoice_created_date)
    val curated = layer(
      "exchange_rates" -> (() => rebuild("exchange_rates", Models.exchangeRates(spark, asOf))),
      "calendar" -> (() => rebuild("calendar", Models.calendar(spark, asOf))),
      "invoices" -> (() => materialize("invoices",
        withHwm(Models.invoices(stgInvoices, loadedAt), "invoices", "created_at_date"),
        Seq("invoice_id"), "created_at_date", Seq("customer_id"))),
      "invoice_line_items" -> (() => materialize("invoice_line_items",
        withHwm(Models.invoiceLineItems(stgInvoices, loadedAt),
          "invoice_line_items", "invoice_created_date"),
        Seq("line_item_id"), "invoice_created_date",
        Seq("invoice_id", "subscription_id"))))
    val lineItems = curated("invoice_line_items")
    val fx = curated("exchange_rates")

    // ---- marts (composite keys; HWM on invoice_created_at)
    val marts = layer(
      "deferred_revenue" -> (() => materialize("deferred_revenue",
        withHwm(Models.deferredRevenue(lineItems, fx, loadedAt),
          "deferred_revenue", "invoice_created_at"),
        Seq("line_item_id", "as_of_date"), "as_of_date",
        Seq("customer_id", "subscription_id"))),
      "recognized_revenue" -> (() => materialize("recognized_revenue",
        withHwm(Models.recognizedRevenue(lineItems, fx, loadedAt),
          "recognized_revenue", "invoice_created_at"),
        Seq("line_item_id", "recognition_date"), "recognition_date",
        Seq("customer_id", "line_item_id"))))

    val out = staging ++ curated ++ marts
    // register every table as a view so analysts can spark.sql over
    // the warehouse by name (the E3 surface)
    out.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    out
  }
}

/** The four analyst queries the reference documents against the marts
  * (reference: README.md:174-213). */
object AnalystQueries {

  /** Q1: total deferred revenue as of a given day (README.md:176-182). */
  def totalDeferred(deferred: DataFrame, asOf: LocalDate): DataFrame =
    deferred.filter(col("as_of_date") === lit(java.sql.Date.valueOf(asOf)))
      .agg(sum("deferred_revenue_usd").as("total_deferred_revenue_usd"))

  /** Q2: deferred revenue by customer, largest first (README.md:184-193). */
  def deferredByCustomer(deferred: DataFrame, asOf: LocalDate): DataFrame =
    deferred.filter(col("as_of_date") === lit(java.sql.Date.valueOf(asOf)))
      .groupBy("customer_id")
      .agg(sum("deferred_revenue_usd").as("total_deferred_revenue_usd"))
      .orderBy(desc("total_deferred_revenue_usd"))

  /** Q3: deferred revenue trend over time (README.md:195-203). */
  def deferredTrend(deferred: DataFrame): DataFrame =
    deferred.groupBy("as_of_date")
      .agg(sum("deferred_revenue_usd").as("total_deferred_revenue_usd"))
      .orderBy("as_of_date")

  /** Q4: revenue recognized in a given quarter of a year, via the
    * calendar join (README.md:206-213; quarter compared as a STRING —
    * the FORMAT_DATE('%Q') artifact, SURVEY §2.9). */
  def recognizedInQuarter(recognized: DataFrame, calendar: DataFrame,
                          year: Int, quarter: String): DataFrame =
    recognized.join(calendar,
        col("recognition_date") === col("date_day"))
      .filter(col("year") === year && col("quarter_of_year") === quarter)
      .agg(sum("daily_revenue_usd").as("recognized_revenue_usd"))
}

/** Data-quality checks: the reference's dbt tests plus its
  * aspirational list, as runnable assertions (reference:
  * dbt/stripe/models/curated/schema.yml:7-19 — with its
  * calendar_date/date_day column-name bug fixed here, SURVEY §5 ⚠ —
  * and dbt/stripe/tests/missing_period_end_threshold.sql:1-6). */
object Checks {
  case class CheckResult(name: String, passed: Boolean, detail: String)

  def unique(df: DataFrame, cols: Seq[String], name: String): CheckResult = {
    val dupes = df.groupBy(cols.map(col): _*).count().filter(col("count") > 1).count()
    CheckResult(s"unique:$name", dupes == 0, s"$dupes duplicate keys")
  }

  def notNull(df: DataFrame, c: String, name: String): CheckResult = {
    val nulls = df.filter(col(c).isNull).count()
    CheckResult(s"not_null:$name.$c", nulls == 0, s"$nulls null values")
  }

  /** Fails when more than `thresholdPct` of line items are missing a
    * period end (the 3% alert; missing_period_end_threshold.sql:6). */
  def missingPeriodEnd(lineItems: DataFrame,
                       thresholdPct: Double = 3.0): CheckResult = {
    val total = lineItems.count()
    val missing = lineItems.filter(col("is_missing_period_end")).count()
    val pct = if (total == 0) 0.0 else missing * 100.0 / total
    CheckResult("missing_period_end_threshold", pct <= thresholdPct,
      f"$pct%.2f%% missing (threshold $thresholdPct%%)")
  }

  /** The README.md:164-168 aspirational tests. */
  def standardSuite(tables: Map[String, DataFrame]): Seq[CheckResult] = Seq(
    unique(tables("calendar"), Seq("date_day"), "calendar"),
    notNull(tables("calendar"), "date_day", "calendar"),
    unique(tables("invoices"), Seq("invoice_id"), "invoices"),
    notNull(tables("invoices"), "invoice_id", "invoices"),
    unique(tables("invoice_line_items"), Seq("line_item_id"), "invoice_line_items"),
    unique(tables("deferred_revenue"), Seq("line_item_id", "as_of_date"), "deferred_revenue"),
    unique(tables("recognized_revenue"), Seq("line_item_id", "recognition_date"), "recognized_revenue"),
    CheckResult("no_negative_amounts",
      tables("invoice_line_items").filter(col("amount") < 0).count() == 0,
      "negative line-item amounts"),
    CheckResult("no_orphaned_line_items",
      tables("invoice_line_items").join(tables("invoices"),
        Seq("invoice_id"), "left_anti").count() == 0,
      "line items without a parent invoice"),
    CheckResult("no_missing_fx_rates",
      tables("invoice_line_items").join(
        tables("exchange_rates").filter(col("to_currency") === "USD")
          .select(col("from_currency").as("currency")),
        Seq("currency"), "left_anti").count() == 0,
      "currencies without a USD rate"),
    missingPeriodEnd(tables("invoice_line_items")))
}
