package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Probe
import org.apache.spark.sql.util.QueryExecutionListener

/** A span the benchmark records around one call into a layer (wall-clock
  * milliseconds, the clock Spark's listener events carry). */
final case class CallSpan(unit: Int, layer: String, name: String,
                          start: Long, end: Long)

/** A SQL execution; `qeId` is its QueryExecution's id, which keys what the
  * QueryExecutionListener saw of it. */
final case class ExecSpan(id: Long, qeId: Long, start: Long, end: Long)
final case class JobSpan(id: Int, exec: Long, start: Long, end: Long)
final case class StageSpan(id: Int, start: Long, end: Long, tasks: Int,
                           cpuNs: Long, gcMs: Long, shuffleRead: Long,
                           shuffleWrite: Long, spill: Long)
/** What the QueryExecutionListener saw for one SQL execution. */
final case class ExecInfo(id: Long, writePath: String, filesRead: Long,
                          bytesRead: Long, filesWritten: Long)

/** Records call spans (always, cheaply) and, while attached, the engine's
  * SQL executions, jobs and stages through one SparkListener and one
  * QueryExecutionListener. Spans stay in memory until the run ends. */
final class Tracer(spark: SparkSession) {
  val calls = ArrayBuffer.empty[CallSpan]
  val execs = new ConcurrentLinkedQueue[ExecSpan]()
  val jobs = new ConcurrentLinkedQueue[JobSpan]()
  val stages = new ConcurrentLinkedQueue[StageSpan]()
  val execInfo = new ConcurrentLinkedQueue[ExecInfo]()
  var unit = 0
  var storagePeakBytes = 0L

  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()

  /** Block-manager storage in use (cached blocks and broadcasts), sampled
    * at span boundaries while attached. */
  private def sampleStorage(): Unit = synchronized {
    val used = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    if (used > storagePeakBytes) storagePeakBytes = used
  }

  @volatile private var attached = false

  /** Run `body` as one call into `layer`. */
  def call[T](layer: String, name: String)(body: => T): T = {
    if (attached) sampleStorage()
    val t0 = System.currentTimeMillis()
    try body
    finally {
      calls += CallSpan(unit, layer, name, t0, System.currentTimeMillis())
      if (attached) sampleStorage()
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobStart.put(e.jobId, (exec, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (exec, t0) =>
        jobs.add(JobSpan(e.jobId, exec, t0, e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      sampleStorage()
      val si = e.stageInfo
      val m = si.taskMetrics
      for (s <- si.submissionTime; c <- si.completionTime)
        stages.add(StageSpan(si.stageId, s, c, si.numTasks,
          if (m == null) 0L else m.executorCpuTime,
          if (m == null) 0L else m.jvmGCTime,
          if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time)
      case x: SparkListenerSQLExecutionEnd =>
        Option(execStart.remove(x.executionId)).foreach(t0 =>
          execs.add(ExecSpan(x.executionId, Probe.queryExecutionId(x), t0, x.time)))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      execInfo.add(Tracer.describe(qe))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      execInfo.add(Tracer.describe(qe))
  }

  def attach(): Unit = {
    attached = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Deliver every pending event, then detach both listeners. */
  def detach(): Unit = {
    Probe.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }
}

object Tracer {
  /** All physical nodes of an executed plan, through AQE stages, writes and
    * subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.CommandResultExec
    p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
  }

  def describe(qe: QueryExecution): ExecInfo = {
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    val all = try nodes(qe.executedPlan) catch { case _: Exception => Nil }
    def metric(n: SparkPlan, k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
    val scans = all.filter(_.getClass.getSimpleName.startsWith("FileSourceScan"))
    val writes = all.collect { case w: DataWritingCommandExec => w }
    val path = writes.collectFirst { case w =>
      w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
        case _ => ""
      }
    }.getOrElse("")
    ExecInfo(qe.id, path,
      scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum,
      writes.map(metric(_, "numFiles")).sum)
  }

  /** Length of the union of `ivs` clipped to [lo, hi). */
  def covered(ivs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val cl = ivs.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    cl.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Attribute every millisecond of the windows to the deepest span covering
    * it (depth 1 call, 2 SQL execution, 3 job, 4 stage); what no span covers
    * is "unattributed". Returns milliseconds per label. */
  def selfTimes(windows: Seq[(Long, Long)],
                spans: Seq[(Int, String, Long, Long)]): Map[String, Long] = {
    val out = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    windows.foreach { case (lo, hi) =>
      val inWin = spans.filter { case (_, _, a, b) => b > lo && a < hi }
      val cuts = (inWin.flatMap { case (_, _, a, b) => Seq(a, b) } ++ Seq(lo, hi))
        .filter(t => t >= lo && t <= hi).distinct.sorted
      cuts.sliding(2).foreach {
        case Seq(a, b) if b > a =>
          val cover = inWin.filter { case (_, _, s, e) => s <= a && e > a }
          val label =
            if (cover.isEmpty) "unattributed" else cover.maxBy(_._1)._2
          out(label) += b - a
        case _ =>
      }
    }
    out.toMap
  }
}
