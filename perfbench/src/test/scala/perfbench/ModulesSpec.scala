package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class ModulesSpec extends AnyFunSuite {
  private val engine = Paths.get("..", "src", "main", "scala")

  private def sources(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
  }

  /** The module a source file belongs to, from where it lives. */
  private def expected(rel: String): String = {
    val file = rel.split('/').last
    if (rel.startsWith("graft/pipeline/")) "pipeline"
    else if (rel.startsWith("graft/sources/")) "sources"
    else if (rel.startsWith("graft/streaming/")) "streaming"
    else if (rel.startsWith("graft/queries/")) "catalog"
    else Map("Merge.scala" -> "merge", "EpochIndex.scala" -> "epoch_index",
      "IndexMeta.scala" -> "epoch_index", "Maintenance.scala" -> "maintenance",
      "Dedup.scala" -> "dedup", "Similarity.scala" -> "similarity", "Par.scala" -> "par")
      .getOrElse(file, "other_ops")
  }

  test("every engine source file maps to its module, by a base name no other file has") {
    val files = sources(engine).map(p => engine.relativize(p).toString.replace('\\', '/'))
    assert(files.size > 50)
    val names = files.map(_.split('/').last)
    assert(names.distinct.size === names.size, "call sites name files by base name only")
    files.foreach(f => assert(Modules.ofEngineFile(f.split('/').last) === expected(f), f))
    assert(files.map(expected).toSet.subsetOf(Modules.All.toSet))
  }

  test("call sites resolve to the first engine or benchmark frame") {
    val merge = "org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)\n" +
      "graft.operators.Merge$.mergeWrite(Merge.scala:130)\n" +
      "perfbench.Revenue$.tracedRun(Revenue.scala:150)"
    assert(Modules.ofCallSite(merge) === "merge")
    assert(Modules.ofCallSite("org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)\n" +
      "perfbench.Revenue.read(Revenue.scala:70)") === "bench")
    assert(Modules.ofCallSite("org.apache.spark.sql.graftbridge.Bridge$.freshLeaf(Bridge.scala:40)")
      === "other_ops")
    assert(Modules.ofCallSite("java.base/java.lang.Thread.run(Thread.java:840)") === "unattributed")
    assert(Modules.ofCallSite(null) === "unattributed")
  }
}
