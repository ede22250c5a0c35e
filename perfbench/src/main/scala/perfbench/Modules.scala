package perfbench

/** Maps a Spark job's call site to the engine module that fired it.
  *
  * Spark records a job's call site as a stack of the frames outside
  * Spark itself; the first frame that belongs to the engine (`graft.*`,
  * or its bridge package inside Spark's namespace) or to this benchmark
  * names the source file, and the file names the module. */
object Modules {
  val All: Seq[String] = Seq("pipeline", "merge", "catalog", "epoch_index",
    "maintenance", "dedup", "similarity", "streaming", "par", "sources",
    "other_ops", "bench", "unattributed")

  private val byFile = Map(
    "Merge.scala" -> "merge", "Catalog.scala" -> "catalog",
    "EpochIndex.scala" -> "epoch_index", "IndexMeta.scala" -> "epoch_index",
    "Maintenance.scala" -> "maintenance", "Dedup.scala" -> "dedup",
    "Similarity.scala" -> "similarity", "Streaming.scala" -> "streaming",
    "Par.scala" -> "par") ++
    Seq("Pipeline", "Models", "Demo", "Rows", "Schemas").map(f => s"$f.scala" -> "pipeline") ++
    Seq("Evolve", "Fs", "NdjsonSource", "Retry", "Sinks", "Tables").map(f => s"$f.scala" -> "sources")

  /** Module of an engine source file, by its base name. */
  def ofEngineFile(file: String): String = byFile.getOrElse(file, "other_ops")

  // "graft.operators.Merge$.mergeWrite(Merge.scala:130)"
  private val Frame = """\s*([\w.$]+)\.[^.(]+\(([^:()]+):\d+\)""".r

  /** Module of a call site given in Spark's long form (one frame per line). */
  def ofCallSite(longForm: String): String =
    Option(longForm).iterator.flatMap(_.linesIterator).collectFirst {
      case Frame(cls, file) if cls.startsWith("perfbench.") => "bench"
      case Frame(cls, file) if cls.startsWith("graft.") ||
          cls.startsWith("org.apache.spark.sql.graftbridge.") => ofEngineFile(file)
    }.getOrElse("unattributed")
}
