package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Order-independent result fingerprints: a row count plus a hash that
  * does not depend on row order or column order.
  *
  * [[ofRows]] canonicalises each value to text, exactly as
  * `perfbench/tools/make_expected.py`'s `canon()` does for DuckDB
  * results, so a Spark result can be compared with an oracle's:
  * columns sorted by name, doubles by their IEEE bits (-0.0 as 0.0),
  * decimals in plain notation, dates ISO, timestamps as UTC epoch
  * micros, nested values recursively. The hash is the sum, modulo
  * 2^64, of the first 8 bytes of each row's MD5.
  *
  * [[ofTable]] is the Spark-only variant for large tables: a summed
  * `xxhash64` per row, computed in one job. */
object Fingerprint {
  final case class Print(rows: Long, hash: String)

  def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case d: Double => doubleBits(d)
    case f: Float => doubleBits(f.toDouble)
    case d: java.math.BigDecimal => plain(d)
    case d: scala.math.BigDecimal => plain(d.bigDecimal)
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toInstant)
    case t: java.time.Instant => micros(t)
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC))
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (canon(k), canon(x)) }.sorted
        .map { case (k, x) => s"$k:$x" }.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def doubleBits(d: Double): String =
    java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))

  private def plain(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  private def micros(i: java.time.Instant): String =
    (i.getEpochSecond * 1000000L + i.getNano / 1000).toString

  def rowHash(canonCols: Seq[String]): Long = {
    val md = MessageDigest.getInstance("MD5")
      .digest(canonCols.mkString("\u0001").getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(md, 0, 8).getLong
  }

  /** Fingerprint a result small enough to collect to the driver. */
  def ofRows(df: DataFrame): Print = {
    val cols = df.columns.toSeq.sorted
    val rows = df.select(cols.map(c => col(s"`$c`")): _*).collect()
    var h = 0L
    rows.foreach(r => h += rowHash(r.toSeq.map(canon)))
    Print(rows.length.toLong, java.lang.Long.toUnsignedString(h))
  }

  /** Fingerprint a table of any size without collecting it, ignoring
    * the columns in `drop`. */
  def ofTable(df: DataFrame, drop: Set[String] = Set.empty): Print = {
    // Spark refuses to hash maps; their JSON text hashes instead
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = df.schema.fields.toSeq.filterNot(f => drop(f.name)).sortBy(_.name)
      .map(f => if (hasMap(f.dataType)) to_json(col(s"`${f.name}`")) else col(s"`${f.name}`"))
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .head()
    Print(r.getLong(0), r.getDecimal(1).toPlainString)
  }
}
