package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}

/** Seeded generator of Stripe-shaped invoice NDJSON, one file per day,
  * in `graft.pipeline.Schemas.invoiceSchema` shape.
  *
  * Every invoice of day `d` is created on day `d`, and no file ever
  * re-sends an earlier day's invoice: the pipeline's high-water-mark
  * filters drop late updates by design, so a replay that sent them
  * would make the incremental warehouse differ from a full refresh.
  *
  * Shape: 0-4 line items per invoice; service periods drawn from
  * [[PeriodDays]] (a day's mart merges rewrite one partition per day
  * of service ahead, so the longest period sets the cost of a day); USD/EUR/GBP; inclusive, exclusive or no taxes;
  * about 12% of invoices unpaid; every 64th line item of a day without
  * a period end, so under 1.6% of them (the pipeline's quality alert
  * fires above 3%). */
object InvoiceGen {
  val FirstDay: LocalDate = LocalDate.of(2024, 1, 1)
  val PeriodDays: Array[Int] = Array(7, 14, 30)
  private val Currencies = Array("USD", "EUR", "GBP")
  private val Unpaid = Array("open", "void", "draft")
  private val Descriptions = Array("monthly plan", "annual plan", "setup fee",
    "usage overage", "support addon")
  private val Day = 86400L

  def dayDate(day: Int): LocalDate = FirstDay.plusDays(day.toLong)

  /** The NDJSON lines of day `day`: a pure function of (seed, day, n). */
  def dayLines(seed: Long, day: Int, n: Int): Seq[String] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + day)
    val dayStart = dayDate(day).atStartOfDay(ZoneOffset.UTC).toEpochSecond
    var lineNo = 0
    (0 until n).map { i =>
      val id = f"inv_$day%04d_$i%05d"
      val created = dayStart + rnd.nextLong(Day)
      val currency = Currencies(rnd.nextInt(Currencies.length))
      val paid = rnd.nextDouble() < 0.88
      val status = if (paid) "paid" else Unpaid(rnd.nextInt(Unpaid.length))
      val nLines = {
        val u = rnd.nextInt(100)
        if (u < 4) 0 else if (u < 44) 1 else if (u < 74) 2 else if (u < 92) 3 else 4
      }
      var subtotal = 0L
      var taxTotal = 0L
      val lines = (0 until nLines).map { j =>
        val amount = 500L + rnd.nextLong(2000000L)
        val pStart = created + (rnd.nextInt(7) - 3) * Day + rnd.nextLong(Day)
        lineNo += 1
        val pEnd =
          if (lineNo % 64 == 0) "null"
          else (pStart + PeriodDays(rnd.nextInt(PeriodDays.length)) * Day).toString
        val taxes = rnd.nextInt(3) match {
          case 0 => Nil
          case k =>
            val behavior = if (k == 1) "inclusive" else "exclusive"
            val t = 10L + rnd.nextLong(amount / 5 + 10)
            taxTotal += t
            Seq(s"""{"amount":$t,"tax_behavior":"$behavior"}""")
        }
        subtotal += amount
        val liCurrency = if (rnd.nextDouble() < 0.9) s""""$currency"""" else "null"
        val liSub = if (rnd.nextDouble() < 0.3) s""""sub_li_${id}_$j"""" else "null"
        s"""{"id":"li_${id}_$j","type":"${if (rnd.nextBoolean()) "subscription" else "invoiceitem"}",""" +
          s""""description":"${Descriptions(rnd.nextInt(Descriptions.length))}",""" +
          s""""amount":$amount,"currency":$liCurrency,"quantity":${1 + rnd.nextInt(12)},""" +
          s""""subscription":$liSub,"period":{"start":$pStart,"end":$pEnd},""" +
          s""""taxes":[${taxes.mkString(",")}],"metadata":{"plan":"pro"}}"""
      }
      val total = subtotal + taxTotal
      val customer = f"cus_${1 + rnd.nextInt(300)}%03d"
      val sub = if (rnd.nextDouble() < 0.6) s""""sub_$id"""" else "null"
      s"""{"id":"$id","customer":"$customer","subscription":$sub,"status":"$status",""" +
        s""""currency":"$currency","created":$created,"amount_due":$total,""" +
        s""""amount_paid":${if (paid) total else 0},"amount_remaining":${if (paid) 0 else total},""" +
        s""""subtotal":$subtotal,"total":$total,"tax":$taxTotal,""" +
        s""""collection_method":"charge_automatically","period_start":$created,""" +
        s""""period_end":${created + 30 * Day},""" +
        s""""automatic_tax":{"enabled":true,"status":null},"metadata":{"source":"api"},""" +
        s""""lines":{"data":[${lines.mkString(",")}]}}"""
    }
  }

  /** Write day `day`'s file under `rawDir` and return its path. */
  def writeDay(rawDir: Path, seed: Long, day: Int, n: Int): Path = {
    Files.createDirectories(rawDir)
    val p = rawDir.resolve(s"invoices_${dayDate(day)}.ndjson")
    Files.write(p, dayLines(seed, day, n).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    p
  }
}
