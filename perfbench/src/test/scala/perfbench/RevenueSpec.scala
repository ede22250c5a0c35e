package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

class RevenueSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = GraftSession.builder("local[2]", 2).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val tables = Seq("stg_invoices", "exchange_rates", "calendar", "invoices",
    "invoice_line_items", "deferred_revenue", "recognized_revenue")

  private def prints(wh: String) =
    tables.map(t => t -> Fingerprint.ofTable(spark.read.parquet(s"$wh/$t"))).toMap

  test("the traced replica builds the same warehouse as Pipeline.run") {
    val work = Files.createTempDirectory("perfbench-revenue")
    val plain = new Revenue(spark, work.resolve("plain"), 5L, 6)
    val traced = new Revenue(spark, work.resolve("traced"), 5L, 6)
    Seq(plain, traced).foreach { r => r.land(); r.fullRefresh(r.warehouse); r.land() }
    plain.day()
    val tr = new Trace(spark.sparkContext)
    val merges = traced.tracedDay(tr)
    assert(prints(plain.warehouse) === prints(traced.warehouse))
    assert(merges.size === 7)
    assert(tr.spans.map(_.name).toSet === Set("revenue.staging", "revenue.dims",
      "revenue.curated", "revenue.marts", "merge.hwm", "merge.write", "pipeline.readback"))
    // the day's children tile it: self times add up to the spans' union
    val top = tr.spans.filter(_.parent.isEmpty)
    assert(math.abs(tr.spans.map(tr.selfSeconds).sum - top.map(_.seconds).sum) < 1e-6)
  }

  test("a replay passes its correctness gate") {
    val work = Files.createTempDirectory("perfbench-gate")
    val r = new Revenue(spark, work, 9L, 6)
    r.land(); r.land(); r.fullRefresh(r.warehouse)
    r.land(); r.day()
    assert(r.check(work.resolve("rebuild").toString) === Nil)
  }
}
