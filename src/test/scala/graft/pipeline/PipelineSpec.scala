package graft.pipeline

import java.nio.file.Files
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end pipeline semantics on Stripe-shaped NDJSON fixtures.
  * Fixture coverage per FIXTURES.md §A: multi-line invoices,
  * multi-currency, null period.end (1-day fallback), zero-length
  * period, inclusive/exclusive/empty taxes, invoice-level vs
  * line-level subscription fallback.
  */
class PipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private val asOf = LocalDate.of(2024, 3, 1)

  // epoch seconds for 2024-01-10 / 2024-01-01 / 2024-01-31 00:00 UTC
  private val jan10 = 1704844800L
  private val jan01 = 1704067200L
  private val jan31 = 1706659200L

  private def fixtureJson: Seq[String] = Seq(
    // inv1: paid, USD, two lines — one exclusive-tax line with a
    // 30-day period, one inclusive-tax line with a null period.end
    s"""{"id":"inv1","customer":"cus1","subscription":"sub1","status":"paid","currency":"USD","created":$jan10,
        "amount_due":13000,"amount_paid":13000,"amount_remaining":0,"subtotal":12000,"total":13000,"tax":1000,
        "collection_method":"charge_automatically","period_start":$jan01,"period_end":$jan31,
        "automatic_tax":{"enabled":true,"status":"complete"},"metadata":{"k":"v"},
        "lines":{"data":[
          {"id":"li1","type":"subscription","description":"monthly","amount":12000,"currency":"USD","quantity":1,
           "subscription":null,"period":{"start":$jan01,"end":$jan31},
           "taxes":[{"amount":1000,"tax_behavior":"exclusive"}],"metadata":{}},
          {"id":"li2","type":"invoiceitem","description":"setup","amount":5000,"currency":"USD","quantity":1,
           "subscription":"sub9","period":{"start":$jan10,"end":null},
           "taxes":[{"amount":500,"tax_behavior":"inclusive"}],"metadata":{}}
        ]}}""".linesIterator.map(_.trim).mkString(""),
    // inv2: paid, EUR, single line, zero-length period, no taxes
    s"""{"id":"inv2","customer":"cus2","subscription":null,"status":"paid","currency":"EUR","created":$jan10,
        "amount_due":1000,"amount_paid":1000,"amount_remaining":0,"subtotal":1000,"total":1000,"tax":0,
        "collection_method":"send_invoice","period_start":$jan10,"period_end":$jan10,
        "automatic_tax":{"enabled":false,"status":null},"metadata":{},
        "lines":{"data":[
          {"id":"li3","type":"invoiceitem","description":"one-off","amount":1000,"currency":"EUR","quantity":2,
           "subscription":null,"period":{"start":$jan10,"end":$jan10},"taxes":[],"metadata":{}}
        ]}}""".linesIterator.map(_.trim).mkString(""),
    // inv3: NOT paid — must be filtered out of line items
    s"""{"id":"inv3","customer":"cus3","subscription":null,"status":"open","created":$jan10,"currency":"USD",
        "amount_due":99,"amount_paid":0,"amount_remaining":99,"subtotal":99,"total":99,"tax":0,
        "collection_method":"send_invoice","period_start":$jan10,"period_end":$jan31,
        "automatic_tax":{"enabled":false,"status":null},"metadata":{},
        "lines":{"data":[
          {"id":"li4","type":"invoiceitem","description":"x","amount":99,"currency":"USD","quantity":1,
           "subscription":null,"period":{"start":$jan10,"end":$jan31},"taxes":[],"metadata":{}}
        ]}}""".linesIterator.map(_.trim).mkString(""))

  private lazy val rawInvoices: DataFrame = {
    val ds = spark.createDataset(fixtureJson)
    spark.read.schema(Schemas.invoiceSchema).json(ds)
  }
  private lazy val emptySubs = spark.read.schema(Schemas.subscriptionSchema)
    .json(spark.createDataset(Seq.empty[String]))
  private lazy val emptyUpdates = spark.read.schema(Schemas.subscriptionUpdateSchema)
    .json(spark.createDataset(Seq.empty[String]))

  private def runPipeline(dir: String): Map[String, DataFrame] =
    new Pipeline(spark, dir, asOf).run(rawInvoices, emptySubs, emptyUpdates)

  private lazy val warehouse: String =
    Files.createTempDirectory("graft-wh").toString
  private lazy val tables: Map[String, DataFrame] = runPipeline(warehouse)

  test("line items: flatten, paid filter, fallbacks, tax semantics") {
    val li = tables("invoice_line_items")
    val rows = li.orderBy("line_item_id").collect()
    assert(rows.map(_.getAs[String]("line_item_id")).toSeq === Seq("li1", "li2", "li3"))

    val li1 = li.filter($"line_item_id" === "li1").head()
    assert(li1.getAs[Double]("amount") === 120.0)          // cents → units
    assert(li1.getAs[Double]("tax_amount") === 10.0)
    assert(!li1.getAs[Boolean]("is_tax_inclusive"))
    assert(li1.getAs[String]("subscription_id") === "sub1") // invoice-level fallback

    val li2 = li.filter($"line_item_id" === "li2").head()
    assert(li2.getAs[Boolean]("is_tax_inclusive"))
    assert(li2.getAs[String]("subscription_id") === "sub9") // line-level wins
    assert(li2.getAs[Boolean]("is_missing_period_end"))
    // 1-day fallback: period_end = start + 1 day
    assert(li2.getAs[java.sql.Date]("period_end_date").toString === "2024-01-11")

    val li3 = li.filter($"line_item_id" === "li3").head()
    assert(li3.getAs[Double]("tax_amount") === 0.0)        // empty taxes → 0
    assert(!li3.getAs[Boolean]("is_tax_inclusive"))

    // unpaid invoice's line never appears
    assert(li.filter($"line_item_id" === "li4").count() === 0)
  }

  test("deferred revenue: proration accrues to exactly the full amount") {
    val dr = tables("deferred_revenue").filter($"line_item_id" === "li1")
    // expansion window: invoice_created_date (jan10) .. period_end (jan31)
    assert(dr.count() === 22)
    val first = dr.orderBy("as_of_date").head()
    assert(first.getAs[java.sql.Date]("as_of_date").toString === "2024-01-10")
    // li1: exclusive tax → amount_without_tax = 120 USD, 30 service days
    val last = dr.orderBy(desc("as_of_date")).head()
    assert(math.abs(last.getAs[Double]("recognized_revenue_usd") - 120.0) < 1e-9)
    assert(math.abs(last.getAs[Double]("deferred_revenue_usd")) < 1e-9)
    // invariant: deferred + recognized == amount on every day
    val bad = dr.filter(
      abs($"deferred_revenue_usd" + $"recognized_revenue_usd" - $"amount_without_tax_usd") > 1e-9)
    assert(bad.count() === 0)
    // mid-period day: jan15 → DATE_DIFF(jan15, jan01) = 14 elapsed days
    // (zero days elapse on the start day — reference CASE :104-110)
    // at 4 USD/day
    val jan15 = dr.filter($"as_of_date" === lit(java.sql.Date.valueOf("2024-01-15"))).head()
    assert(math.abs(jan15.getAs[Double]("recognized_revenue_usd") - 56.0) < 1e-9)
  }

  test("zero-length period recognizes everything immediately") {
    val dr = tables("deferred_revenue").filter($"line_item_id" === "li3")
    assert(dr.count() === 1)  // created == period_end == same day
    val row = dr.head()
    // 10 EUR * 1.08 = 10.8 USD, all recognized on day one
    assert(math.abs(row.getAs[Double]("recognized_revenue_usd") - 10.8) < 1e-9)
    assert(math.abs(row.getAs[Double]("deferred_revenue_usd")) < 1e-9)
  }

  test("recognized revenue: half-open window, rate sums to the amount") {
    val rr = tables("recognized_revenue").filter($"line_item_id" === "li1")
    assert(rr.count() === 30)  // [jan01, jan31) = 30 days
    val total = rr.agg(sum("daily_revenue_usd")).head().getDouble(0)
    assert(math.abs(total - 120.0) < 1e-9)
    // zero-length period → no recognized rows (half-open empty)
    assert(tables("recognized_revenue").filter($"line_item_id" === "li3").count() === 0)
  }

  test("inclusive tax strips tax from the recognized base") {
    val dr = tables("deferred_revenue").filter($"line_item_id" === "li2")
    // li2: inclusive → amount_without_tax = 50 - 5 = 45 USD
    val amt = dr.head().getAs[Double]("amount_without_tax_usd")
    assert(math.abs(amt - 45.0) < 1e-9)
  }

  test("analyst queries: totals line up across the four README queries") {
    val deferred = tables("deferred_revenue")
    val q1 = AnalystQueries.totalDeferred(deferred, LocalDate.of(2024, 1, 15))
      .head().getDouble(0)
    // li1: 4/day × DATE_DIFF(jan31, jan15) = 64 deferred; li2: window
    // jan10..jan11 passed by jan15 → no row; li3: fully recognized,
    // 0 but row exists only jan10
    assert(math.abs(q1 - 64.0) < 1e-9)
    val q2 = AnalystQueries.deferredByCustomer(deferred, LocalDate.of(2024, 1, 15))
    assert(q2.head().getAs[String]("customer_id") === "cus1")
    val q3 = AnalystQueries.deferredTrend(deferred)
    assert(q3.count() === deferred.select("as_of_date").distinct().count())
    val q4 = AnalystQueries.recognizedInQuarter(
      tables("recognized_revenue"), tables("calendar"), 2024, "1")
      .head().getDouble(0)
    // everything recognized in Q1 2024: li1 120 + li2 45 + li3 10.8 — but
    // li3 has no recognized rows (zero-length), so 120 + 45
    assert(math.abs(q4 - 165.0) < 1e-9)
  }

  test("quality checks all pass on the fixture warehouse") {
    val results = Checks.standardSuite(tables)
    val failed = results.filterNot(_.passed).filterNot(
      _.name == "missing_period_end_threshold") // 1/3 missing > 3% by design
    assert(failed.isEmpty, failed.mkString("; "))
    // and the threshold check itself fires, as the fixture intends
    assert(!Checks.missingPeriodEnd(tables("invoice_line_items")).passed)
  }

  test("calendar quirks: day_of_year is day-of-month; partial year reads as leap") {
    val cal = tables("calendar")
    val row = cal.filter($"date_day" === lit(java.sql.Date.valueOf("2024-02-15"))).head()
    assert(row.getAs[Int]("day_of_year") === 15)        // the mislabel, replicated
    assert(row.getAs[String]("quarter_of_year") === "1") // string, not int
    assert(row.getAs[Long]("days_in_month") === 29L)
    // 2024 spine is partial (ends asOf 2024-03-01) → "leap" by the quirk
    assert(row.getAs[Boolean]("is_leap_year"))
    val row2023 = cal.filter($"date_day" === lit(java.sql.Date.valueOf("2023-06-01"))).head()
    assert(!row2023.getAs[Boolean]("is_leap_year"))      // full 365-day year
  }

  test("week_sunday_start matches BigQuery EXTRACT(WEEK) on known dates") {
    val cal = tables("calendar")
    def wk(d: String): Int =
      cal.filter($"date_day" === lit(java.sql.Date.valueOf(d)))
        .head().getAs[Int]("week_sunday_start")
    // BigQuery: weeks begin Sunday; days before the first Sunday = week 0
    assert(wk("2023-01-01") === 1) // Jan 1 IS a Sunday → week 1 immediately
    assert(wk("2024-01-01") === 0) // Monday, before first Sunday (Jan 7)
    assert(wk("2024-01-06") === 0) // Saturday, still week 0
    assert(wk("2024-01-07") === 1) // the first Sunday starts week 1
    assert(wk("2022-01-01") === 0) // Saturday
    assert(wk("2022-01-02") === 1) // Sunday
    assert(wk("2020-02-29") === 8) // 8 Sundays elapsed (Jan 5 … Feb 23)
    assert(wk("2023-12-31") === 53) // a Sunday → opens week 53
    // and the ISO column disagrees exactly where it should
    val isoNewYear = cal.filter($"date_day" === lit(java.sql.Date.valueOf("2023-01-01")))
      .head().getAs[Int]("week_of_year")
    assert(isoNewYear === 52) // ISO assigns 2023-01-01 to 2022-W52
  }

  test("marts are queryable by name through spark.sql; failures alert") {
    // views were registered by the pipeline run
    val n = spark.sql(
      "SELECT count(*) FROM deferred_revenue WHERE deferred_revenue_usd > 0").head().getLong(0)
    assert(n > 0)
    // failure callback fires and the error propagates
    var alerted: Option[String] = None
    // a path UNDER a regular file cannot be created — guaranteed write failure
    val blocker = Files.createTempFile("graft-blocker", ".dat")
    val bad = new Pipeline(spark, blocker.toString + "/wh", asOf,
      onFailure = (t, _) => alerted = Some(t))
    intercept[Throwable] { bad.run(rawInvoices, emptySubs, emptyUpdates) }
    assert(alerted.contains("stg_invoices"))
  }

  test("a failing staging model alerts; its siblings finish; no later layer runs") {
    val wh = Files.createTempDirectory("graft-wh-fail").toString
    val failingSubs = spark.read.schema(Schemas.subscriptionSchema)
      .json(spark.createDataset(Seq(
        s"""{"id":"sub1","customer":"cus1","status":"active","created":$jan10}""")))
      .withColumn("id", raise_error(lit("stg_subscriptions failed")).cast("string"))
    val alerted = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val bad = new Pipeline(spark, wh, asOf, onFailure = (t, _) => alerted.add(t))
    val e = intercept[Throwable] { bad.run(rawInvoices, failingSubs, emptyUpdates) }
    assert(e.toString.contains("stg_subscriptions failed") ||
      Option(e.getCause).exists(_.toString.contains("stg_subscriptions failed")), e.toString)
    assert(alerted.asScala === Set("stg_subscriptions"))
    // the sibling staging model completed its write
    assert(spark.read.parquet(s"$wh/stg_invoices").count() === 3)
    // the DAG stopped at the staging layer
    val later = Seq("exchange_rates", "calendar", "invoices", "invoice_line_items",
      "deferred_revenue", "recognized_revenue")
    assert(later.filter(t => new java.io.File(s"$wh/$t").exists()).isEmpty)
  }

  test("every non-empty model's jobs carry the pipeline:<table> description") {
    val wh = Files.createTempDirectory("graft-wh-desc").toString
    val descriptions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descriptions.add)
    }
    org.apache.spark.graftspark.TestListenerBus.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      runPipeline(wh)
      org.apache.spark.graftspark.TestListenerBus.waitUntilEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val models = Seq("stg_invoices", "exchange_rates", "calendar", "invoices",
      "invoice_line_items", "deferred_revenue", "recognized_revenue")
    val missing = models.map(m => s"pipeline:$m").filterNot(descriptions.contains)
    assert(missing.isEmpty, s"missing $missing in $descriptions")
    // set and cleared in each model's own thread: nothing leaks to the caller
    assert(spark.sparkContext.getLocalProperty("spark.job.description") === null)
  }

  test("typed Dataset surface binds the mart schemas") {
    val dr = Rows.deferred(tables("deferred_revenue"))
    // typed transformations: compile-time field access
    val perItem = dr.filter(_.deferred_revenue_usd > 0)
      .groupByKey(_.line_item_id).count().collect().toMap
    // li1 defers across its 30-day period; li2's 1-day fallback period
    // defers in full on its start day (nothing recognized until a day
    // elapses); li3's zero-length period recognizes in full on day one
    assert(perItem.keySet === Set("li1", "li2"))
    val li = Rows.lineItems(tables("invoice_line_items")).collect()
    assert(li.map(_.line_item_id).sorted === Array("li1", "li2", "li3"))
    assert(li.count(_.is_tax_inclusive) === 1)
    val rr = Rows.recognized(tables("recognized_revenue"))
    assert(rr.map(_.daily_revenue_usd).collect().forall(_ >= 0.0))
  }

  test("rerunning the pipeline is idempotent (merge contract)") {
    // snapshot current state to the driver BEFORE rerunning — the rerun
    // overwrites the parquet files under the open DataFrames
    val before = Seq("invoices", "invoice_line_items", "deferred_revenue", "recognized_revenue")
      .map(t => t -> tables(t).drop("_loaded_at").collect().map(_.toString).sorted.toSeq).toMap
    runPipeline(warehouse)
    for ((t, snap) <- before) {
      val after = spark.read.parquet(s"$warehouse/$t").drop("_loaded_at")
        .collect().map(_.toString).sorted.toSeq
      assert(after === snap, s"table $t changed across rerun")
    }
  }
}
