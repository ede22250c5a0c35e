package perfbench

import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Incremental, Merge}
import graft.pipeline.{AnalystQueries, Checks, Models, Pipeline, Schemas}
import graft.sources.Fs

/** The revenue pipeline replayed day by day over generated invoices.
  *
  * Day `d`'s run sees every NDJSON file landed so far (the reference's
  * external table over the raw bucket) and lets the high-water marks
  * pick out the new day. `h` history days are loaded by one full
  * refresh; the days after it are incremental. */
final class Revenue(spark: SparkSession, work: Path, seed: Long, perDay: Int) {
  import Revenue._

  private val rawDir = work.resolve("raw")
  val warehouse: String = work.resolve("warehouse").toString
  private val files = mutable.ArrayBuffer.empty[Path]
  private val emptyJson = spark.emptyDataset[String](Encoders.STRING)
  private val subscriptions = spark.read.schema(Schemas.subscriptionSchema).json(emptyJson)
  private val subscriptionUpdates = spark.read.schema(Schemas.subscriptionUpdateSchema).json(emptyJson)

  /** The last day whose file has landed. */
  def lastDay: Int = files.size - 1

  /** Land the next day's NDJSON file and return its size in bytes. */
  def land(): Long = {
    val p = InvoiceGen.writeDay(rawDir, seed, files.size, perDay)
    files += p
    Files.size(p)
  }

  def rawInvoices: DataFrame =
    spark.read.schema(Schemas.invoiceSchema).json(files.map(_.toString).toSeq: _*)

  /** Full refresh over every landed day. */
  def fullRefresh(into: String): Unit =
    new Pipeline(spark, into, InvoiceGen.dayDate(lastDay), fullRefresh = true)
      .run(rawInvoices, subscriptions, subscriptionUpdates)

  /** One incremental day through `Pipeline.run`: the timed write. */
  def day(): Unit =
    new Pipeline(spark, warehouse, InvoiceGen.dayDate(lastDay))
      .run(rawInvoices, subscriptions, subscriptionUpdates)

  /** The same day through [[tracedRun]], returning its merges. */
  def tracedDay(tr: Trace): Seq[MergeCall] =
    tracedRun(spark, warehouse, InvoiceGen.dayDate(lastDay), rawInvoices,
      subscriptions, subscriptionUpdates, tr)

  /** The marts as an analyst opens them after a day's load; the reads
    * of that day share these frames. */
  final class Marts {
    private def t(name: String) = spark.read.parquet(s"$warehouse/$name")
    val deferred: DataFrame = t("deferred_revenue")
    val recognized: DataFrame = t("recognized_revenue")
    val calendar: DataFrame = t("calendar")
  }

  /** Analyst query `q` (0-3 for Q1-Q4) with its `i`-th of `n`
    * parameter sets: as-of dates spread evenly from the first day to 30
    * days past the last (the longest service period), quarters in turn.
    * Returns the rows it returned. */
  def read(m: Marts, q: Int, i: Int, n: Int): Long = {
    val asOf = InvoiceGen.dayDate(i * (lastDay + 30) / math.max(1, n - 1))
    val rows = q match {
      case 0 => AnalystQueries.totalDeferred(m.deferred, asOf).collect()
      case 1 => AnalystQueries.deferredByCustomer(m.deferred, asOf).collect()
      case 2 => AnalystQueries.deferredTrend(m.deferred).collect()
      case _ => AnalystQueries.recognizedInQuarter(m.recognized, m.calendar,
        asOf.getYear, (1 + i % 4).toString).collect()
    }
    rows.length.toLong
  }

  /** Correctness gate: both marts equal a full-refresh rebuild over the
    * same raw days (row count plus order-independent hash, ignoring the
    * load timestamp), and every `Checks.standardSuite` check passes.
    * Returns the failures. */
  def check(rebuildDir: String): Seq[String] = {
    fullRefresh(rebuildDir)
    val marts = Seq("deferred_revenue", "recognized_revenue").flatMap { m =>
      val got = Fingerprint.ofTable(spark.read.parquet(s"$warehouse/$m"), Set("_loaded_at"))
      val want = Fingerprint.ofTable(spark.read.parquet(s"$rebuildDir/$m"), Set("_loaded_at"))
      if (got == want) None else Some(s"$m: incremental $got != full refresh $want")
    }
    val tables = Seq("calendar", "exchange_rates", "invoices", "invoice_line_items",
      "deferred_revenue", "recognized_revenue")
      .map(n => n -> spark.read.parquet(s"$warehouse/$n")).toMap
    marts ++ Checks.standardSuite(tables).filterNot(_.passed).map(c => s"${c.name}: ${c.detail}")
  }

  /** Bytes in warehouse files modified at or after `sinceMs`. */
  def bytesWrittenSince(sinceMs: Long): Long = treeFiles(Path.of(warehouse))
    .filter(f => Files.getLastModifiedTime(f).toMillis >= sinceMs).map(Files.size).sum

  def storedBytes: Long = treeFiles(Path.of(warehouse)).map(Files.size).sum
}

object Revenue {

  /** One `Merge.mergeWrite` of a traced day: the table, its partition
    * column and the update frame it merged. */
  final case class MergeCall(path: String, partitionCol: String, updates: DataFrame)

  final case class MergeCounts(touched: Long, total: Long, updateRows: Long, rowsWritten: Long)

  /** Counts for one merge, taken after the day (the update frames are
    * already filtered by the day's high-water marks, so they still hold
    * exactly the rows that day merged). Runs as benchmark bookkeeping. */
  def counts(spark: SparkSession, m: MergeCall): MergeCounts = SparkCost.aux(spark.sparkContext) {
    val touched = m.updates.select(col(m.partitionCol)).distinct().collect().map(_.get(0)).toSeq
    val table = Path.of(m.path)
    val total = if (!Files.exists(table)) 0L else {
      val dirs = Files.list(table)
      try dirs.iterator().asScala
        .count(_.getFileName.toString.startsWith(m.partitionCol + "=")).toLong
      finally dirs.close()
    }
    val written = if (touched.isEmpty) 0L else spark.read.parquet(m.path)
      .filter(col(m.partitionCol).cast("string").isin(touched.map(v => String.valueOf(v)): _*))
      .count()
    MergeCounts(touched.size.toLong, total, m.updates.count(), written)
  }

  def treeFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  /** `Pipeline.run`, step by step in its order, with a span around each
    * call into a public engine function: the layer stages, the
    * high-water-mark filters (`Incremental.newerThan`), the merges
    * (`Merge.mergeWrite`) and the read-back of each merged table.
    * `RevenueSpec` pins it to the same warehouse as `Pipeline.run`. */
  def tracedRun(spark: SparkSession, warehouse: String, asOf: LocalDate,
                rawInvoices: DataFrame, rawSubscriptions: DataFrame,
                rawSubscriptionUpdates: DataFrame, tr: Trace): Seq[MergeCall] = {
    val merges = mutable.ArrayBuffer.empty[MergeCall]
    val loadedAt = lit(java.sql.Timestamp.from(asOf.atStartOfDay(ZoneOffset.UTC).toInstant))
    def path(name: String) = s"$warehouse/$name"
    def withHwm(updates: DataFrame, table: String, hwmCol: String): DataFrame =
      tr("merge.hwm") {
        val target =
          if (Fs.exists(spark, path(table))) spark.read.parquet(path(table)) else updates.limit(0)
        Incremental.newerThan(updates, target, hwmCol)
      }
    def materialize(name: String, updates: DataFrame, keys: Seq[String],
                    partitionCol: String, clusterCols: Seq[String] = Nil): DataFrame = {
      tr("merge.write")(Merge.mergeWrite(spark, path(name), updates, keys, partitionCol,
        clusterCols, versionCol = Some("_loaded_at")))
      merges += MergeCall(path(name), partitionCol, updates)
      tr("pipeline.readback") {
        if (Fs.exists(spark, path(name))) spark.read.parquet(path(name)) else updates.limit(0)
      }
    }
    def stage(raw: DataFrame, name: String) = materialize(name,
      withHwm(Models.staged(raw).withColumn("_loaded_at", loadedAt), name, "created_at_date"),
      Seq("id"), "created_at_date")

    val (stgInvoices, stgSubscriptions, stgSubscriptionUpdates) = tr("revenue.staging") {
      (stage(rawInvoices, "stg_invoices"), stage(rawSubscriptions, "stg_subscriptions"),
        stage(rawSubscriptionUpdates, "stg_subscription_updates"))
    }
    tr("revenue.dims") {
      Models.exchangeRates(spark, asOf).write.mode("overwrite").parquet(path("exchange_rates"))
      Models.calendar(spark, asOf).write.mode("overwrite").parquet(path("calendar"))
    }
    val (invoices, lineItems) = tr("revenue.curated") {
      (materialize("invoices",
        withHwm(Models.invoices(stgInvoices, loadedAt), "invoices", "created_at_date"),
        Seq("invoice_id"), "created_at_date", Seq("customer_id")),
        materialize("invoice_line_items",
          withHwm(Models.invoiceLineItems(stgInvoices, loadedAt),
            "invoice_line_items", "invoice_created_date"),
          Seq("line_item_id"), "invoice_created_date", Seq("invoice_id", "subscription_id")))
    }
    val (fx, deferred, recognized) = tr("revenue.marts") {
      val fx = spark.read.parquet(path("exchange_rates"))
      (fx, materialize("deferred_revenue",
        withHwm(Models.deferredRevenue(lineItems, fx, loadedAt),
          "deferred_revenue", "invoice_created_at"),
        Seq("line_item_id", "as_of_date"), "as_of_date", Seq("customer_id", "subscription_id")),
        materialize("recognized_revenue",
          withHwm(Models.recognizedRevenue(lineItems, fx, loadedAt),
            "recognized_revenue", "invoice_created_at"),
          Seq("line_item_id", "recognition_date"), "recognition_date",
          Seq("customer_id", "line_item_id")))
    }
    Map("stg_invoices" -> stgInvoices, "stg_subscriptions" -> stgSubscriptions,
      "stg_subscription_updates" -> stgSubscriptionUpdates, "exchange_rates" -> fx,
      "calendar" -> spark.read.parquet(path("calendar")), "invoices" -> invoices,
      "invoice_line_items" -> lineItems, "deferred_revenue" -> deferred,
      "recognized_revenue" -> recognized)
      .foreach { case (name, df) => df.createOrReplaceTempView(name) }
    merges.toSeq
  }
}
