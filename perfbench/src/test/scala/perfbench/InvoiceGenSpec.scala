package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InvoiceGenSpec extends AnyFunSuite {
  test("a day's file is a pure function of seed, day and size") {
    assert(InvoiceGen.dayLines(7L, 3, 50) === InvoiceGen.dayLines(7L, 3, 50))
    assert(InvoiceGen.dayLines(7L, 3, 50) !== InvoiceGen.dayLines(8L, 3, 50))
    assert(InvoiceGen.dayLines(7L, 3, 50) !== InvoiceGen.dayLines(7L, 4, 50))
  }

  test("invoices are created on their own day and ids never repeat across days") {
    val days = (0 until 3).map(d => d -> InvoiceGen.dayLines(11L, d, 40))
    val ids = days.flatMap(_._2).map(l => "\"id\":\"(inv_[^\"]+)\"".r.findFirstMatchIn(l).get.group(1))
    assert(ids.distinct.size === ids.size)
    days.foreach { case (d, lines) =>
      val start = InvoiceGen.dayDate(d).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
      lines.foreach { l =>
        val created = "\"created\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong
        assert(created >= start && created < start + 86400)
      }
    }
  }
}
