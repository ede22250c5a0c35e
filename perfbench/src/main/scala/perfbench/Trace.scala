package perfbench

import scala.collection.mutable

/** In-memory span recorder. A span has a name, a start, an end and the
  * span that was open when it began; spans are kept until the run ends
  * and written out then. Self time is a span's duration minus the part
  * of it that its child spans cover.
  *
  * While a span is open its name is also the SparkContext local
  * property [[SpanProp]], so [[SparkCost]] can charge the jobs it fires
  * to it. */
final class Trace(sc: org.apache.spark.SparkContext) {
  import Trace._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def apply[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id), System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanProp, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.name).orNull)
    }
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent.contains(s.id)).toSeq

  def selfSeconds(s: Span): Double =
    (s.endNs - s.startNs - unionNs(children(s).map(c => (c.startNs, c.endNs)))) / 1e9

  /** Summed self seconds of every span with this name. */
  def self(name: String): Double = spans.filter(_.name == name).map(selfSeconds).sum

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":${graft.Json.str(s.name)},"parent":${s.parent.getOrElse("null")},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Option[Int], startNs: Long) {
    var endNs: Long = startNs
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Total length of the union of half-open intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}
