package perfbench

import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.JsonDSL._

/** Per-layer metrics from the traced units of a run. Every metric is
  * reported on every workload; a layer the workload does not reach reads 0.
  * Times and engine counters are per client operation (a publish or a
  * curation pass) unless the name says otherwise; the query.* metrics come
  * from the analyst rotation that reads the store between a unit's timed
  * windows, while its uncompacted deltas are live. */
object Layers {

  /** Every per-layer metric, with its unit, in report order. */
  val Names: Seq[(String, String)] = Seq(
    "etl.StarStore.driver_s" -> "s", "etl.StarStore.jobs_per_batch" -> "count",
    "etl.StarStore.fact_write_s" -> "s", "etl.StarStore.dims_write_s" -> "s",
    "etl.StarStore.compact_s" -> "s", "etl.StarStore.files_per_batch" -> "count",
    "etl.StarStore.live_deltas" -> "count",
    "query.plan_s" -> "s", "query.exec_s" -> "s", "query.files_read" -> "count",
    "query.bytes_read" -> "B",
    "ext.Curation.build_s" -> "s", "ext.Curation.build_jobs" -> "count",
    "ext.Curation.write_s" -> "s", "ext.Dedup.single_task_stage_s" -> "s",
    "ext.Dedup.neardup_recall" -> "ratio",
    "ext.TextStats.lm_s" -> "s", "ext.TextStats.build_jobs" -> "count",
    "ext.CacheScope.leaked_frames" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.stage_busy_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.storage_peak_mb" -> "MB",
    "etl.Sources.self_s" -> "s", "etl.StarStore.self_s" -> "s",
    "ext.Curation.self_s" -> "s",
    "ext.TextStats.self_s" -> "s", "ext.CacheScope.self_s" -> "s",
    "spark.execution.self_s" -> "s", "spark.job.self_s" -> "s",
    "spark.stage.self_s" -> "s",
    "trace.unattributed_s" -> "s", "trace.unattributed_share" -> "ratio",
    "trace.wall_s" -> "s", "trace.overhead_ratio" -> "ratio")

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def metrics(tr: Tracer, units: Seq[UnitOut], leaks: Seq[Int],
              counters: Map[String, Double]): Seq[(String, Double, String)] = {
    val windows = units.flatMap(_.windows)
    val nOps = math.max(1, units.map(_.ops.size).sum).toDouble
    val wallMs = windows.map { case (a, b) => b - a }.sum.toDouble
    val inWindows = (t: Long) => windows.exists { case (a, b) => t >= a && t <= b }

    val calls = tr.calls.filter(_.unit >= 0).toSeq
    val allExecs = tr.execs.asScala.toSeq
    val allJobs = tr.jobs.asScala.toSeq
    // engine totals cover the timed windows only (not the checks)
    val execs = allExecs.filter(e => inWindows(e.start))
    val jobs = allJobs.filter(j => inWindows(j.start))
    val stages = tr.stages.asScala.toSeq.filter(s => inWindows(s.start))
    val info = tr.execInfo.asScala.map(i => i.id -> i).toMap
    def dur(a: Long, b: Long) = (b - a) / 1e3
    def within(c: CallSpan, t: Long) = t >= c.start && t <= c.end
    def named(layer: String, name: String) =
      calls.filter(c => c.layer == layer && c.name == name)
    def jobsIn(cs: Seq[CallSpan]) = allJobs.filter(j => cs.exists(within(_, j.start)))
    def execsIn(cs: Seq[CallSpan]) = allExecs.filter(e => cs.exists(within(_, e.start)))
    def writes(p: String => Boolean) =
      execs.filter(e => info.get(e.qeId).exists(i => p(i.writePath)))

    val batches = named("etl.StarStore", "runBatch").filter(c => inWindows(c.start))
    val nBatches = math.max(1, batches.size).toDouble
    val compactions = writes(_.contains("/facts/_tmp_compact_"))
    val plans = calls.filter(c => c.layer == "query" && c.name.startsWith("plan:"))
    val collects = calls.filter(c => c.layer == "query" && c.name.startsWith("collect:"))
    val queryInfo = execsIn(collects).flatMap(e => info.get(e.qeId))
    val curates = named("ext.Curation", "curate")
    val lm = calls.filter(_.layer == "ext.TextStats")
    val nPasses = math.max(1, curates.size).toDouble

    val spanRows =
      calls.map(c => (1, c.layer, c.start, c.end)) ++
        execs.map(e => (2, "spark.execution", e.start, e.end)) ++
        jobs.map(j => (3, "spark.job", j.start, j.end)) ++
        stages.map(s => (4, "spark.stage", s.start, s.end))
    val self = Tracer.selfTimes(windows, spanRows)
    val busyMs = windows.map { case (a, b) =>
      Tracer.covered(stages.map(s => (s.start, s.end)), a, b) }.sum.toDouble

    val values: Map[String, Double] = Map(
      "etl.StarStore.driver_s" -> (if (batches.isEmpty) 0.0 else mean(batches.map { b =>
        dur(b.start, b.end) - Tracer.covered(
          jobsIn(Seq(b)).map(j => (j.start, j.end)), b.start, b.end) / 1e3 })),
      "etl.StarStore.jobs_per_batch" ->
        (if (batches.isEmpty) 0.0 else jobsIn(batches).size / nBatches),
      "etl.StarStore.fact_write_s" -> (if (batches.isEmpty) 0.0 else
        writes(p => p.contains("/facts/_tmp_") && !p.contains("/facts/_tmp_compact_"))
          .map(e => dur(e.start, e.end)).sum / nBatches),
      "etl.StarStore.dims_write_s" -> (if (batches.isEmpty) 0.0 else
        writes(_.contains("/versions/_tmp_")).map(e => dur(e.start, e.end)).sum / nBatches),
      "etl.StarStore.compact_s" -> mean(compactions.map(e => dur(e.start, e.end))),
      "etl.StarStore.files_per_batch" -> (if (batches.isEmpty) 0.0 else
        execsIn(batches).flatMap(e => info.get(e.qeId)).map(_.filesWritten).sum / nBatches),
      "query.plan_s" -> mean(plans.map(c => dur(c.start, c.end))),
      "query.exec_s" -> mean(collects.map(c => dur(c.start, c.end))),
      "query.files_read" -> (if (collects.isEmpty) 0.0
        else queryInfo.map(_.filesRead).sum.toDouble / collects.size),
      "query.bytes_read" -> (if (collects.isEmpty) 0.0
        else queryInfo.map(_.bytesRead).sum.toDouble / collects.size),
      "ext.Curation.build_s" -> mean(curates.map(c => dur(c.start, c.end))),
      "ext.Curation.build_jobs" ->
        (if (curates.isEmpty) 0.0 else jobsIn(curates).size / nPasses),
      "ext.Curation.write_s" ->
        mean(named("ext.Curation", "write").map(c => dur(c.start, c.end))),
      "ext.Dedup.single_task_stage_s" -> (if (curates.isEmpty) 0.0 else
        stages.filter(_.tasks == 1).map(s => dur(s.start, s.end)).sum / nPasses),
      "ext.TextStats.lm_s" -> (if (curates.isEmpty) 0.0 else
        lm.map(c => dur(c.start, c.end)).sum / nPasses),
      "ext.TextStats.build_jobs" -> (if (curates.isEmpty) 0.0 else
        jobsIn(named("ext.TextStats", "knTrigramScore")).size / nPasses),
      "ext.CacheScope.leaked_frames" -> mean(leaks.map(_.toDouble)),
      "spark.jobs" -> jobs.size / nOps,
      "spark.stages" -> stages.size / nOps,
      "spark.tasks" -> stages.map(_.tasks).sum / nOps,
      "spark.stage_busy_s" -> busyMs / 1e3 / nOps,
      "spark.driver_gap_s" -> (wallMs - busyMs) / 1e3 / nOps,
      "spark.shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / 1e6 / nOps,
      "spark.shuffle_read_mb" -> stages.map(_.shuffleRead).sum / 1e6 / nOps,
      "spark.spill_mb" -> stages.map(_.spill).sum / 1e6 / nOps,
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1e3 / nOps,
      "spark.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9 / nOps,
      "spark.storage_peak_mb" -> tr.storagePeakBytes / 1e6,
      "trace.unattributed_s" -> self.getOrElse("unattributed", 0L) / 1e3 / nOps,
      "trace.unattributed_share" ->
        (if (wallMs == 0) 0.0 else self.getOrElse("unattributed", 0L) / wallMs),
      "trace.wall_s" -> wallMs / 1e3 / nOps
    ) ++ Seq("etl.Sources", "etl.StarStore", "ext.Curation", "ext.TextStats",
      "ext.CacheScope", "spark.execution", "spark.job", "spark.stage").map(l =>
      s"$l.self_s" -> self.getOrElse(l, 0L) / 1e3 / nOps) ++ counters

    Names.map { case (n, unit) => (n, values.getOrElse(n, 0.0), unit) }
  }

  /** The traced spans, for the run's artifact. */
  def spansJson(tr: Tracer): JObject =
    ("calls" -> tr.calls.toList.map(c => ("unit" -> c.unit) ~ ("layer" -> c.layer) ~
      ("name" -> c.name) ~ ("start" -> c.start) ~ ("end" -> c.end))) ~
    ("executions" -> tr.execs.asScala.toList.map(e => ("id" -> e.id) ~
      ("query_execution" -> e.qeId) ~ ("start" -> e.start) ~ ("end" -> e.end))) ~
    ("execution_info" -> tr.execInfo.asScala.toList.map(i =>
      ("query_execution" -> i.id) ~ ("write_path" -> i.writePath) ~
        ("files_read" -> i.filesRead) ~ ("bytes_read" -> i.bytesRead) ~
        ("files_written" -> i.filesWritten))) ~
    ("jobs" -> tr.jobs.asScala.toList.map(j => ("id" -> j.id) ~ ("execution" -> j.exec) ~
      ("start" -> j.start) ~ ("end" -> j.end))) ~
    ("stages" -> tr.stages.asScala.toList.map(s => ("id" -> s.id) ~ ("start" -> s.start) ~
      ("end" -> s.end) ~ ("tasks" -> s.tasks) ~ ("cpu_ns" -> s.cpuNs) ~ ("gc_ms" -> s.gcMs) ~
      ("shuffle_read" -> s.shuffleRead) ~ ("shuffle_write" -> s.shuffleWrite) ~
      ("spill" -> s.spill)))
}
