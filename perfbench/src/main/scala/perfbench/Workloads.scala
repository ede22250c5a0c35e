package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}
import Main.{Metric, Opts, Outcome, percentile, seconds}

/** The workloads. Each is a closed loop with one client: the main
  * thread issues one operation at a time on one session.
  *
  * Both print the same metric names: the end-to-end set with tracing
  * off, the per-layer set with tracing on. A per-layer figure that a
  * workload has no layer for reads 0 there. */
object Workloads {
  val names: Seq[String] = Seq("revenue_daily", "catalog_core")

  /** Invoices per generated day, days loaded by the full-refresh
    * backfill, analyst reads in a timed phase (Q1-Q4 equally) and
    * untimed warm-up reads of each query in set-up. */
  val InvoicesPerDay = 200
  val HistoryDays = 2
  val Reads = 52
  val WarmReads = 4

  /** Timed days (revenue) or passes (catalog) for a run of `s` seconds. */
  def rounds(s: Int): Int = math.max(1, s / 10)

  def run(name: String, spark: SparkSession, o: Opts, startNs: Long, out: Outcome): Unit =
    name match {
      case "revenue_daily" => revenueDaily(spark, o, startNs, out)
      case "catalog_core" => catalogCore(spark, o, startNs, out)
    }

  /** What one timed phase measured. Traced phases also carry the spans
    * and the listener totals. */
  final class Phase {
    val writes = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Double]
    var wall = 0.0
    /** Traced phases: mean wall of the untraced phases around it. */
    var baseline = 0.0
    var trace: Option[Trace] = None
    var cost: Option[SparkCost.Totals] = None
    val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }

  // ------------------------------------------------------------ revenue

  def revenueDaily(spark: SparkSession, o: Opts, startNs: Long, out: Outcome): Unit = {
    val rev = new Revenue(spark, o.work, o.seed, InvoicesPerDay)
    val s0 = System.nanoTime()
    (0 until HistoryDays).foreach(_ => rev.land())
    rev.fullRefresh(rev.warehouse)
    // untimed reads, so the timed ones do not pay for first-use code paths
    val warm = new rev.Marts
    for (q <- 0 until 4; i <- 0 until WarmReads) rev.read(warm, q, i, WarmReads)
    val setup = seconds(startNs)
    log(f"setup $setup%.2f s: session ${(s0 - startNs) / 1e9}%.2f s, " +
      f"backfill and read warm-up ${seconds(s0)}%.2f s")
    if (o.trace) {
      // the first incremental day in a JVM is the slowest; a traced run
      // compares two phases, so it runs that day untimed first
      val w0 = System.nanoTime()
      rev.land()
      rev.day()
      log(f"warm-up day ${seconds(w0)}%.2f s")
    }

    val days = rounds(o.seconds)
    val readsPerDay = (Reads + days - 1) / days

    def phase(tr: Option[(Trace, SparkCost)]): Phase = {
      val p = new Phase
      tr.foreach(_._2.window())
      for (_ <- 0 until days) {
        val rawBytes = rev.land()
        val sinceMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val merges = tr match {
          case None => out.op(s"day ${rev.lastDay}")(rev.day()); Nil
          case Some((t, _)) =>
            out.op(s"day ${rev.lastDay}")(t("revenue.day")(rev.tracedDay(t))).getOrElse(Nil)
        }
        p.writes += seconds(t0)
        merges.map(Revenue.counts(spark, _)).foreach { c =>
          p.counts("merge.partitions_touched") += c.touched
          p.counts("merge.partitions_total") += c.total
          p.counts("merge.update_rows") += c.updateRows
          p.counts("merge.rows_written") += c.rowsWritten
        }
        p.counts("raw_bytes") += rawBytes
        p.counts("bytes_written") += rev.bytesWrittenSince(sinceMs)
        val marts = new rev.Marts
        val perQuery = readsPerDay / 4
        val reads = for (q <- 0 until 4; i <- 0 until perQuery) yield (q, i)
        shuffled(reads, o.seed * 31 + rev.lastDay).foreach { case (q, i) =>
          def read() = rev.read(marts, q, i, perQuery)
          val r0 = System.nanoTime()
          out.op(s"Q${q + 1} #$i after day ${rev.lastDay}") {
            p.counts("rows_returned") += tr.fold(read())(_._1("analyst")(read()))
          }
          p.reads += seconds(r0)
        }
      }
      p.wall = p.writes.sum + p.reads.sum
      tr.foreach { case (t, c) => p.trace = Some(t); p.cost = Some(c.snapshot()) }
      p
    }

    val (plain, traced) = phases(spark, o.trace)(phase)
    val c0 = System.nanoTime()
    out.problems ++= rev.check(o.work.resolve("rebuild").toString)
    log(f"correctness check ${seconds(c0)}%.2f s")
    report(out, setup, plain, traced)
    traced.foreach { t =>
      val tr = t.trace.get
      val dayWall = tr.spans.filter(_.name == "revenue.day").map(_.seconds).sum
      val shares = Seq("revenue.staging", "revenue.dims", "revenue.curated", "revenue.marts",
        "merge.hwm", "merge.write", "pipeline.readback", "revenue.day")
        .map(n => n -> tr.self(n) / dayWall)
      val (largest, share) = shares.maxBy(_._2)
      log(f"traced days: $dayWall%.3f s; largest self-time span " +
        f"$largest ($share%.3f of the day); " +
        shares.map { case (n, s) => f"$n ${s * dayWall}%.3fs" }.mkString(", "))
      (revenueLayers(t, shares) :+ Metric("warehouse_mb", rev.storedBytes / 1e6, "MB"))
        .foreach(out.set)
      Files.writeString(o.work.resolve("spans.json"), tr.toJson)
    }
  }

  private def revenueLayers(t: Phase, shares: Seq[(String, Double)]): Seq[Metric] = {
    val c = t.counts
    val analyst = t.cost.get.spans.get("analyst").map(_.inputRows.toDouble).getOrElse(0.0)
    shares.map { case (n, s) =>
      Metric(if (n == "revenue.day") "revenue.unspanned_share" else s"${n}_share", s, "ratio")
    } ++ Seq(
      Metric("merge.partitions_touched", c("merge.partitions_touched"), "count"),
      Metric("merge.partitions_total", c("merge.partitions_total"), "count"),
      Metric("merge.update_rows", c("merge.update_rows"), "count"),
      Metric("merge.rows_written", c("merge.rows_written"), "count"),
      Metric("merge.useful_row_ratio", c("merge.update_rows") / c("merge.rows_written"), "ratio"),
      Metric("merge.write_amp", c("bytes_written") / c("raw_bytes"), "ratio"),
      Metric("analyst.rows_read_per_row_returned", analyst / c("rows_returned"), "ratio"))
  }

  // ------------------------------------------------------------ catalog

  /** One committed catalog query: its expected row count and, when the
    * query has a DuckDB oracle, its expected [[Fingerprint]] hash. */
  final case class Expected(name: String, rows: Long, hash: Option[String])

  def loadExpected(file: Path): Seq[Expected] =
    Files.readAllLines(file).asScala.toSeq.filterNot(l => l.isBlank || l.startsWith("#")).map { l =>
      val Array(n, r, h) = l.split("\t")
      Expected(n, r.toLong, if (h == "-") None else Some(h))
    }

  def catalogCore(spark: SparkSession, o: Opts, startNs: Long, out: Outcome): Unit = {
    val expected = loadExpected(o.data.resolve("catalog_core.tsv"))
    val sf = o.data.resolve("sf0.001").toString
    val order = shuffled(expected, o.seed)
    // untimed warm-up pass, which is also the correctness gate
    order.foreach { e =>
      val got = out.op(s"${e.name} (warm-up)")(Fingerprint.ofRows(SparkEntry.queries(e.name)(spark, sf)))
      GraftSession.sweepPersistedRdds(spark)
      got.foreach { p =>
        if (p.rows != e.rows || e.hash.exists(_ != p.hash))
          out.problems += s"${e.name}: got ${p.rows} rows hash ${p.hash}, " +
            s"expected ${e.rows} rows hash ${e.hash.getOrElse("(rows only)")}"
      }
    }
    val setup = seconds(startNs)
    log(f"setup $setup%.2f s")

    def phase(tr: Option[(Trace, SparkCost)]): Phase = {
      val p = new Phase
      tr.foreach(_._2.window())
      def span[T](n: String)(b: => T): T = tr.fold(b)(_._1(n)(b))
      val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      for (_ <- 0 until rounds(o.seconds); e <- order) {
        val t0 = System.nanoTime()
        out.op(e.name) {
          val df = span("catalog.build")(SparkEntry.queries(e.name)(spark, sf))
          span("catalog.execute")(df.write.format("noop").mode("overwrite").save())
        }
        perQuery.getOrElseUpdate(e.name, mutable.ArrayBuffer.empty) += seconds(t0)
        p.counts("queries") += 1
        GraftSession.sweepPersistedRdds(spark)
      }
      // one read per query: its median over the rounds
      p.reads ++= perQuery.values.map(xs => percentile(xs.toSeq, 0.5))
      p.wall = perQuery.values.map(_.sum).sum
      tr.foreach { case (t, c) => p.trace = Some(t); p.cost = Some(c.snapshot()) }
      p
    }

    val (plain, traced) = phases(spark, o.trace)(phase)
    report(out, setup, plain, traced)
    traced.foreach { t =>
      val tr = t.trace.get
      val spans = t.cost.get.spans
      def jobs(n: String) = spans.get(n).map(_.jobs.toDouble).getOrElse(0.0)
      Seq(
        Metric("catalog.build_share", tr.self("catalog.build") / t.wall, "ratio"),
        Metric("catalog.execute_share", tr.self("catalog.execute") / t.wall, "ratio"),
        Metric("catalog.build_jobs", jobs("catalog.build"), "count"),
        Metric("catalog.jobs_per_query",
          (jobs("catalog.build") + jobs("catalog.execute")) / t.counts("queries"), "count"))
        .foreach(out.set)
      Files.writeString(o.work.resolve("spans.json"), tr.toJson)
    }
  }

  /** Fisher-Yates with the run's seed. */
  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] = {
    val a = xs.toArray[Any]
    val rnd = new java.util.SplittableRandom(seed)
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  // ------------------------------------------------------------ shared

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  private def phaseLine(what: String, p: Phase): String =
    f"$what phase ${p.wall}%.2f s: ${p.writes.size} writes ${p.writes.sum}%.2f s, " +
      f"${p.reads.size} reads ${p.reads.sum}%.2f s"

  /** The untraced phase and, when tracing, a traced one followed by a
    * second untraced one: the overhead ratio compares the traced phase
    * with the mean of the two around it, so JIT warm-up does not bias it. */
  private def phases(spark: SparkSession, trace: Boolean)(
      phase: Option[(Trace, SparkCost)] => Phase): (Phase, Option[Phase]) = {
    val plain = phase(None)
    log(phaseLine("untraced", plain))
    if (!trace) (plain, None)
    else {
      val t = phase(Some((new Trace(spark.sparkContext), new SparkCost(spark.sparkContext))))
      log(phaseLine("traced", t))
      val after = phase(None)
      log(phaseLine("untraced again", after))
      t.baseline = (plain.wall + after.wall) / 2
      (plain, Some(t))
    }
  }

  /** Per-layer metrics that only one workload has a layer for. */
  val workloadLayers: Seq[(String, String)] =
    Seq("revenue.staging", "revenue.dims", "revenue.curated", "revenue.marts", "merge.hwm",
      "merge.write", "pipeline.readback", "revenue.unspanned").map(n => s"${n}_share" -> "ratio") ++
    Seq("merge.partitions_touched", "merge.partitions_total", "merge.update_rows",
      "merge.rows_written").map(_ -> "count") ++
    Seq("merge.useful_row_ratio", "merge.write_amp", "analyst.rows_read_per_row_returned")
      .map(_ -> "ratio") ++
    Seq("warehouse_mb" -> "MB", "catalog.build_share" -> "ratio",
      "catalog.execute_share" -> "ratio", "catalog.build_jobs" -> "count",
      "catalog.jobs_per_query" -> "count")

  /** The metrics every workload prints: end-to-end from the untraced
    * phase, or per-layer from the traced one (workload-specific ones
    * start at 0 and the workload fills in its own). */
  private def report(out: Outcome, setup: Double, plain: Phase, traced: Option[Phase]): Unit =
    traced match {
      case None =>
        out.add("setup_s", setup, "s")
        out.add("total_s", plain.wall, "s")
        out.add("read_p50_ms", percentile(plain.reads.toSeq, 0.5) * 1e3, "ms")
        // the highest percentile with about ten of the 52 revenue reads above it
        out.add("read_p80_ms", percentile(plain.reads.toSeq, 0.8) * 1e3, "ms")
      case Some(t) =>
        out.add("jvm.peak_rss_mb", Main.peakRssMb, "MB")
        val c = t.cost.get
        val busy = c.busySeconds
        out.add("trace.overhead_ratio", t.wall / t.baseline, "ratio")
        out.add("trace.timed_s", t.wall, "s")
        out.add("spark.jobs", c.jobs.toDouble, "count")
        out.add("spark.stages", c.stages.toDouble, "count")
        out.add("spark.tasks", c.tasks.toDouble, "count")
        out.add("spark.job_busy_s", busy, "s")
        out.add("spark.driver_gap_s", t.wall - busy, "s")
        out.add("spark.executor_run_s", c.runMs / 1e3, "s")
        out.add("spark.executor_cpu_s", c.cpuNs / 1e9, "s")
        out.add("spark.task_deser_s", c.deserMs / 1e3, "s")
        out.add("spark.gc_s", c.gcMs / 1e3, "s")
        out.add("spark.shuffle_read_mb", c.shuffleReadB / 1e6, "MB")
        out.add("spark.shuffle_write_mb", c.shuffleWriteB / 1e6, "MB")
        out.add("spark.input_mb", c.inputB / 1e6, "MB")
        out.add("spark.output_mb", c.outputB / 1e6, "MB")
        out.add("spark.output_rows", c.outputRows.toDouble, "count")
        val jobSum = c.modules.values.map(_.jobMs).sum.toDouble
        val runSum = c.runMs.toDouble
        Modules.All.foreach { m =>
          val g = c.modules.getOrElse(m, new SparkCost.Group)
          out.add(s"$m.jobs", g.jobs.toDouble, "count")
          out.add(s"$m.tasks", g.tasks.toDouble, "count")
          out.add(s"$m.job_share", if (jobSum > 0) g.jobMs / jobSum else 0.0, "ratio")
          out.add(s"$m.executor_share", if (runSum > 0) g.runMs / runSum else 0.0, "ratio")
        }
        workloadLayers.foreach { case (n, u) => out.add(n, 0.0, u) }
    }
}
