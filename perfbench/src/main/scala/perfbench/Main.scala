package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point: runs one workload in one JVM and prints its
  * metrics, one `name value unit` line each, then the result as a JSON
  * object on the last line of stdout.
  *
  * Usage: `perfbench.Main --workload <revenue_daily|catalog_core> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --data <dir>`
  *
  * With `--trace 0` the metrics are the end-to-end ones, measured with
  * no listener and no spans. With `--trace 1` the timed phase runs
  * untraced, traced, then untraced again, and the metrics are the
  * per-layer ones. A workload that throws ends the run with a non-zero
  * exit and no result line. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, data: Path)

  /** A metric as printed: name, value, unit. */
  final case class Metric(name: String, value: Double, unit: String)

  final class Outcome {
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.ArrayBuffer.empty[Metric]
    def add(name: String, value: Double, unit: String): Unit = metrics += Metric(name, value, unit)

    /** Replaces the metric of the same name. */
    def set(m: Metric): Unit = metrics.indexWhere(_.name == m.name) match {
      case -1 => metrics += m
      case i => metrics(i) = m
    }

    /** Runs one timed operation; a throw counts as a failed operation. */
    def op[T](what: => String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch { case scala.util.control.NonFatal(e) =>
        failed += 1
        problems += s"$what failed: $e"
        None
      }
    }
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val need = Seq("workload", "seed", "seconds", "trace", "work", "data")
    val missing = need.filterNot(m.contains)
    require(missing.isEmpty, s"missing ${missing.map("--" + _).mkString(", ")}")
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m("data")))
  }

  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val opts = parse(args)
    require(Workloads.names.contains(opts.workload),
      s"unknown workload ${opts.workload}; expected one of ${Workloads.names.mkString(", ")}")
    Files.createDirectories(opts.work)
    val spark = session(opts.work)
    val out = new Outcome
    // an exception here ends the run with no result line
    try Workloads.run(opts.workload, spark, opts, startNs, out)
    finally spark.stop()
    out.problems.foreach(p => System.err.println(s"[perfbench] $p"))
    val correct = out.problems.isEmpty && out.failed == 0
    println(f"correct ${correct} (attempted ${out.attempted}, failed ${out.failed})")
    out.metrics.foreach(m => println(f"${m.name}%-34s ${m.value}%14.6f ${m.unit}"))
    println(resultJson(correct, out))
  }

  def session(work: Path): SparkSession = {
    val s = GraftSession.builder()
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def resultJson(correct: Boolean, out: Outcome): String = {
    val ms = out.metrics.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) "null" else m.value.toString
      s"${graft.Json.str(m.name)}:{\"value\":$v,\"unit\":${graft.Json.str(m.unit)}}"
    }
    s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }

  /** Linear-interpolated percentile (p in [0, 1]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def seconds(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  /** The JVM's peak resident set (`VmHWM`), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
