package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{GraftSession, Json, SparkEntry}

/** One-off survey behind `catalog_core.json`: runs the named catalog
  * queries once each on `sfDir` and prints, per query, one tab-separated
  * line: name, whether it wrote a store under the
  * catalog's scratch root, row count, [[Fingerprint.ofRows]] hash,
  * seconds and the oracle SQL (JSON-quoted, `null` when the query has
  * none). `tools/make_expected.py` turns the lines into
  * `catalog_core.json`.
  *
  * Usage: `perfbench.CatalogSurvey <sfDir> <query...>` */
object CatalogSurvey {
  /** Files under the catalog's scratch roots (`graft-scratch-*`). */
  private def scratchFiles(tmp: Path): Long = {
    val roots = Files.list(tmp)
    try roots.iterator().asScala.filter(_.getFileName.toString.startsWith("graft-scratch-"))
      .map { r => val s = Files.walk(r); try s.count() finally s.close() }.sum
    finally roots.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = GraftSession.getOrCreate()
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    args.tail.foreach { name =>
      val before = scratchFiles(tmp)
      val t0 = System.nanoTime()
      val line = try {
        val p = Fingerprint.ofRows(SparkEntry.queries(name)(spark, sfDir))
        s"${p.rows}\t${p.hash}"
      } catch { case NonFatal(e) => s"-1\tFAILED:${e.getClass.getSimpleName}" }
      val secs = (System.nanoTime() - t0) / 1e9
      GraftSession.sweepPersistedRdds(spark)
      val wrote = scratchFiles(tmp) != before
      val oracle = SparkEntry.oracleSql.get(name).map(Json.str).getOrElse("null")
      println(f"survey\t$name\t$wrote\t$line\t$secs%.3f\t$oracle")
    }
    spark.stop()
  }
}
