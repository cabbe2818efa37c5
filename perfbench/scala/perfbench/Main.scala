package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Probe
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The benchmark's JVM side: builds the session, runs one workload's set-up
  * and its closed-loop units for the requested time, checks every output,
  * and writes the result, the run record and (traced) the spans.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *        <resultFile> <recordFile>
  *    or: perfbench.Main gen <workload> <seed> <outDir> <workDir>  (inputs only) */
object Main {
  val SetupReps = 5
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("gen"))
      generateOnly(args(1), args(2).toLong, Paths.get(args(3)), Paths.get(args(4)))
    else run(args(0), args(1).toLong, args(2).toInt, args(3) == "1",
      Paths.get(args(4)), Paths.get(args(5)), Paths.get(args(6)))

  private def session(work: Path, cores: Int): SparkSession = {
    // graft.Bench's settings: local[k], shuffle partitions = k, AQE at defaults
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Run only a workload's set-up: its generated inputs land under `out`
    * exactly as a benchmark run writes them (the generator's own tests).
    * The parquet writer lists a column chunk's encodings in hash order,
    * which changes between JVMs, so each parquet file is also dumped row by
    * row, ordered by its first column, to `<file>.rows.tsv`: those bytes are
    * what must repeat for a seed. */
  private def generateOnly(workload: String, seed: Long, out: Path, work: Path): Unit = {
    val spark = session(work, 1)
    try {
      Workload(workload, spark, out, seed).setup()
      val listing = Files.list(out)
      val parquets =
        try listing.toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".parquet"))
        finally listing.close()
      parquets.foreach { p =>
        val df = spark.read.parquet(p.toString)
        val rows = df.orderBy(df.columns.head).collect().map(_.mkString("\t"))
        Files.write(p.resolveSibling(s"${p.getFileName}.rows.tsv"),
          rows.mkString("", "\n", "\n").getBytes(UTF_8))
      }
    } finally spark.stop()
  }

  /** Single-thread CPU calibration: fixed splitmix64 steps, in ms. */
  private def calibMs(): Double = {
    var x = 0x9e3779b97f4a7c15L; var i = 0
    val t0 = System.nanoTime()
    while (i < 50000000) {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      x ^= z ^ (z >>> 31)
      i += 1
    }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  }

  /** (total, steal) CPU ticks of the host so far, from /proc/stat; None
    * where the kernel does not provide it. */
  private def cpuTicks(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val fields = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      Some((fields.sum, if (fields.length > 7) fields(7) else 0L))
    } catch { case _: Exception => None }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  final case class Baseline(sparkListeners: Set[AnyRef], execListeners: Int)

  private def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Count what a unit left behind (cached plans, persistent RDDs, extra
    * listeners), then clear it so the next unit starts clean. Runs outside
    * every timed window. */
  private def leakProbe(spark: SparkSession, base: Baseline): Int = {
    Probe.drainListenerBus(spark)
    val extraListeners = Probe.sparkListeners(spark).filterNot(base.sparkListeners)
    val counts = Seq(Probe.cachedEntries(spark), spark.sparkContext.getPersistentRDDs.size,
      extraListeners.size, math.max(0, Probe.executionListeners(spark) - base.execListeners))
    if (counts.sum > 0) System.err.println(
      "perfbench: left behind (cached plans, persistent RDDs, listeners, " +
        s"execution listeners): ${counts.mkString(", ")}; listener classes: " +
        extraListeners.map(_.getClass.getName).distinct.mkString(", "))
    val leaked = counts.sum
    clearCaches(spark)
    extraListeners.foreach(Probe.removeSparkListener(spark, _))
    Probe.removeExecutionListenersBeyond(spark, base.execListeners)
    leaked
  }

  private def run(name: String, seed: Long, seconds: Int, trace: Boolean,
                  work: Path, resultFile: Path, recordFile: Path): Unit = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val calibStart = calibMs()
    Files.createDirectories(work)
    val spark = session(work, cores)
    try {
      val wl = Workload(name, spark, work, seed)
      // one untimed repetition first, so the generator's code is compiled
      // before the repetitions setup_s takes its median of
      val setupTimes = (0 to SetupReps).map { _ =>
        val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
      }
      val tr = new Tracer(spark)
      tr.unit = -1
      val w0 = System.nanoTime()
      wl.warmUp(tr)
      val warmupS = (System.nanoTime() - w0) / 1e9
      // start from a clean session: what set-up and warm-up left is no
      // unit's leak. Attaching once creates the session's execution-listener
      // bus, which then belongs to the baseline.
      tr.attach(); tr.detach()
      clearCaches(spark)
      val baseline = Baseline(Probe.sparkListeners(spark).toSet,
        Probe.executionListeners(spark))
      tr.calls.clear()

      def runUnit(traced: Boolean): UnitOut = {
        if (traced) tr.attach()
        try wl.unit(tr, tr.unit) catch {
          // a unit that throws counts as one failed operation
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"perfbench: unit ${tr.unit} failed: $e")
            UnitOut(Nil, 0L, 0L, Nil, 1, 1)
        } finally if (traced) tr.detach()
      }

      // A traced run puts one untraced unit before its traced units, which
      // completes the JIT's warming, and one after them. The tracing overhead
      // is the traced units' median operation latency over the later one's:
      // that unit is the warmer, so warming can only overstate the overhead.
      def untracedRef(): Option[UnitOut] = if (!trace) None else {
        tr.unit = -2
        val ref = runUnit(traced = false)
        leakProbe(spark, baseline)
        Some(ref)
      }
      val refBefore = untracedRef()

      val ticksStart = cpuTicks()
      val units = scala.collection.mutable.ArrayBuffer.empty[UnitOut]
      val leaks = scala.collection.mutable.ArrayBuffer.empty[Int]
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < seconds || units.isEmpty) {
        tr.unit = units.size
        units += runUnit(trace)
        leaks += leakProbe(spark, baseline)
      }
      // share of the host's CPU time the hypervisor gave to other guests
      // while the units ran: the noise a neighbour causes
      val stealShare = for ((t0, s0) <- ticksStart; (t1, s1) <- cpuTicks() if t1 > t0)
        yield (s1 - s0).toDouble / (t1 - t0)
      val refAfter = untracedRef()
      val refs = (refBefore ++ refAfter).toSeq
      val calibEnd = calibMs()
      val loadEnd = os.getSystemLoadAverage

      val ops = units.flatMap(_.ops).toSeq
      val windowS = units.map(_.windowNs).sum / 1e9
      val attempted = (units ++ refs).map(_.attempted).sum
      val failed = (units ++ refs).map(_.failed).sum
      val overhead = refAfter.map(_.ops).filter(_.nonEmpty)
        .map(ref => median(ops) / median(ref)).getOrElse(0.0)
      val metrics: Seq[(String, Double, String)] =
        if (!trace) Seq(
          ("setup_s", median(setupTimes.tail), "s"),
          ("op_p50_s", median(ops), "s"),
          ("input_rows_per_s", if (windowS > 0) units.map(_.rows).sum / windowS else 0.0,
            "rows/s"),
          ("disk_bytes_per_input_byte", wl.diskBytesPerInputByte, "B/B"))
        else Layers.metrics(tr, units.toSeq, leaks.toSeq,
          wl.layerCounters + ("trace.overhead_ratio" -> overhead))

      val result: JObject =
        ("correct" -> (failed == 0)) ~ ("attempted" -> attempted) ~ ("failed" -> failed) ~
          ("metrics" -> JObject(metrics.map { case (k, v, unit) =>
            k -> (("value" -> v) ~ ("unit" -> unit))
          }.toList))
      val record: JObject =
        ("workload" -> name) ~ ("seed" -> seed) ~ ("seconds" -> seconds) ~
          ("trace" -> trace) ~
          ("host" -> (("cores_used" -> cores) ~
            ("cores_available" -> Runtime.getRuntime.availableProcessors()) ~
            ("load_1m_start" -> loadStart) ~ ("load_1m_end" -> loadEnd) ~
            ("calib_ms_start" -> calibStart) ~ ("calib_ms_end" -> calibEnd) ~
            ("cpu_steal_share" -> stealShare.getOrElse(-1.0)))) ~
          ("inputs" -> JObject(wl.inputs.map { case (k, v) => k -> JLong(v) }.toList)) ~
          ("setup_s_reps" -> setupTimes) ~ ("warmup_s" -> warmupS) ~
          ("units" -> units.size) ~ ("ops" -> ops.size) ~
          ("per_op_wall_s" -> windowS / math.max(1, ops.size)) ~
          ("op_latencies_s" -> ops) ~
          ("untraced_reference_op_latencies_s" -> refs.map(_.ops)) ~
          ("fail_ratio" -> failed.toDouble / math.max(1, attempted)) ~
          ("leaked_frames_per_unit" -> leaks.toSeq)
      def write(path: Path, json: JValue): Unit =
        Files.write(path, compact(render(json)).getBytes(UTF_8))
      write(recordFile, record)
      if (trace) write(recordFile.resolveSibling(
        recordFile.getFileName.toString.replace(".json", "-spans.json")),
        Layers.spansJson(tr))
      write(resultFile, result)
    } finally spark.stop()
  }
}
