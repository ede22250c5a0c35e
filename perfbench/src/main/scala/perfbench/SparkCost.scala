package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A SparkListener that charges every job, with its stages and tasks,
  * to the engine module named by the job's call site (see [[Modules]];
  * a job with no engine frame of its own inherits the call site of the
  * SQL execution it belongs to) and to the benchmark span that was open
  * when the job began.
  *
  * Jobs fired with the local property [[SparkCost.AuxProp]] set are the
  * benchmark's own bookkeeping (counting rows for a ratio) and are left
  * out. Call [[window]] to drain the listener bus and start a new
  * measurement window; [[snapshot]] drains it and returns the totals. */
final class SparkCost(sc: SparkContext) extends SparkListener {
  import SparkCost._

  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobInfo = new ConcurrentHashMap[Int, JobInfo]()
  private val executionModule = new ConcurrentHashMap[Long, String]()
  private var totals = new Totals

  sc.addSparkListener(this)

  /** Drains the bus and returns the window's totals, starting a new one. */
  def snapshot(): Totals = {
    drain()
    synchronized { val t = totals; totals = new Totals; t }
  }

  def window(): Unit = snapshot()

  private def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(sc)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val props = Option(j.properties)
    if (props.exists(p => p.getProperty(AuxProp) != null)) return
    val own = Modules.ofCallSite(j.stageInfos.maxBy(_.stageId).details)
    // jobs that a query submits from Spark's own threads (AQE stages,
    // broadcasts, subqueries) carry no user frame: charge them to the
    // module that started the query's root SQL execution
    val module = if (own != "unattributed") own else props.flatMap { p =>
      Option(p.getProperty("spark.sql.execution.root.id"))
        .orElse(Option(p.getProperty("spark.sql.execution.id")))
    }.flatMap(id => Option(executionModule.get(id.toLong))).getOrElse(own)
    val info = JobInfo(module,
      props.flatMap(p => Option(p.getProperty(Trace.SpanProp))).getOrElse(""), j.time)
    jobInfo.put(j.jobId, info)
    j.stageInfos.foreach(s => stageJob.putIfAbsent(s.stageId, j.jobId))
    totals.jobs += 1
    totals.module(info.module).jobs += 1
    totals.span(info.span).jobs += 1
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      executionModule.put(x.executionId, Modules.ofCallSite(x.details))
    case _ =>
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    Option(jobInfo.get(j.jobId)).foreach { info =>
      totals.intervals += ((info.startMs, j.time))
      totals.module(info.module).jobMs += (j.time - info.startMs).max(0L)
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    if (jobOf(s.stageInfo.stageId).isDefined) totals.stages += 1
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    jobOf(t.stageId).foreach { info =>
      totals.tasks += 1
      totals.module(info.module).tasks += 1
      totals.span(info.span).tasks += 1
      if (m != null) {
        totals.runMs += m.executorRunTime
        totals.cpuNs += m.executorCpuTime
        totals.deserMs += m.executorDeserializeTime
        totals.gcMs += m.jvmGCTime
        totals.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        totals.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        totals.inputB += m.inputMetrics.bytesRead
        totals.outputB += m.outputMetrics.bytesWritten
        totals.outputRows += m.outputMetrics.recordsWritten
        totals.module(info.module).runMs += m.executorRunTime
        totals.span(info.span).inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** The measured job a stage belongs to; None for benchmark
    * bookkeeping jobs. Job infos are kept after the job ends, because
    * task-end events may arrive after the job-end event. */
  private def jobOf(stageId: Int): Option[JobInfo] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobInfo.get(j)))
}

object SparkCost {
  val AuxProp = "perfbench.aux"

  final case class JobInfo(module: String, span: String, startMs: Long)

  final class Group {
    var jobs = 0L
    var tasks = 0L
    var jobMs = 0L
    var runMs = 0L
    var inputRows = 0L
  }

  final class Totals {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var deserMs = 0L
    var gcMs = 0L
    var shuffleReadB = 0L
    var shuffleWriteB = 0L
    var inputB = 0L
    var outputB = 0L
    var outputRows = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val modules = mutable.Map.empty[String, Group]
    val spans = mutable.Map.empty[String, Group]
    def module(m: String): Group = modules.getOrElseUpdate(m, new Group)
    def span(s: String): Group = spans.getOrElseUpdate(s, new Group)

    /** Seconds during which at least one job was running. */
    def busySeconds: Double = Trace.unionNs(intervals.toSeq) / 1e3
  }

  /** Runs `body` with its jobs excluded from every [[SparkCost]]. */
  def aux[T](sc: SparkContext)(body: => T): T = {
    sc.setLocalProperty(AuxProp, "1")
    try body finally sc.setLocalProperty(AuxProp, null)
  }
}
