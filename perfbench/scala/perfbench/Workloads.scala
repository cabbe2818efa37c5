package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.etl.{Sources, StarStore}
import graft.ext.{CacheScope, Curation, TextStats}

/** What one unit of a workload did inside its timed windows. `ops` are the
  * latencies (s) of the workload's client operations, `rows` the input rows
  * they processed; `windows` are the unit's timed wall-clock intervals (ms),
  * checks and untimed reads excluded, and `windowNs` their total length. */
final case class UnitOut(ops: Seq[Double], rows: Long, windowNs: Long,
                         windows: Seq[(Long, Long)], attempted: Int, failed: Int)

/** One benchmark workload: a repeatable set-up that prepares its inputs, a
  * warm-up, and a closed-loop unit of client work whose output checks run
  * outside the timed window. */
abstract class Workload(val spark: SparkSession, val work: Path, val seed: Long) {
  /** Prepare the inputs (one repetition; each writes the same bytes). */
  def setup(): Unit
  /** Run the client path once on a throwaway input, so codegen and the JIT
    * are warm before timing. */
  def warmUp(tr: Tracer): Unit
  def unit(tr: Tracer, u: Int): UnitOut
  /** Bytes the workload leaves on disk per input byte. */
  def diskBytesPerInputByte: Double
  /** Layer counters that only the workload itself knows. */
  def layerCounters: Map[String, Double] = Map.empty
  /** Input sizes, for the run record. */
  def inputs: Seq[(String, Long)]

  protected def failures(checks: Seq[(String, Boolean)]): Int = {
    checks.filterNot(_._2).foreach { case (name, _) =>
      System.err.println(s"perfbench: output check failed: $name")
    }
    checks.count(!_._2)
  }

  protected def window[T](body: => T): (T, Long, (Long, Long)) = {
    val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - n0, (w0, System.currentTimeMillis()))
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, work: Path, seed: Long): Workload =
    name match {
      case "star_ingest" => new StarIngest(spark, work, seed)
      case "curate_corpus" => new CurateCorpus(spark, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
}

/** Writes: one publish per landed raw file into a fresh store. The last
  * publish of the sequence crosses the auto-compaction threshold, so every
  * unit contains one auto-compaction. The store is opened with a threshold
  * of 6 live deltas rather than the default 16: a unit is then 7 publishes
  * of 50,000 raw rows, which keeps a run inside the benchmark's time limits.
  *
  * A unit has two timed windows. Between them, with the 6 uncompacted
  * deltas live, the analyst rotation reads the store through the registered
  * views, untimed: its answers are output checks and its spans feed the
  * read-side layer metrics, so they see the union plan and file listing of
  * a store with live deltas. The second window is the compacting publish.
  * After it the store is checked against the oracle, the rotation included. */
final class StarIngest(spark: SparkSession, work: Path, seed: Long)
    extends Workload(spark, work, seed) {
  val compactAfter = 6
  val shape = Gen.StarShape(files = compactAfter + 1,
    rowsPerFile = 50000, hoursPerFile = 6, titles = 20000)
  private var files: IndexedSeq[Gen.StarFile] = IndexedSeq.empty
  private var diskRatio = 0.0
  private var liveDeltas = 0

  def setup(): Unit = {
    Workload.delete(work.resolve("raw"))
    files = Gen.starSequence(seed, work.resolve("raw"), shape)
  }

  /** Two small publishes of another seed's files and one rotation. */
  def warmUp(tr: Tracer): Unit = {
    val scratch = work.resolve("warm")
    val warm = Gen.starSequence(seed + 1, scratch.resolve("raw"),
      shape.copy(files = 2, rowsPerFile = 5000))
    val store = StarStore(spark, scratch.resolve("store").toString, compactAfter)
    warm.zipWithIndex.foreach { case (f, i) =>
      store.runBatch(Sources.rawCsv(spark, f.path.toString), s"w$i")
    }
    runQueries(tr, store, Oracle.queries(clean(warm), 5), traced = false)
    Workload.delete(scratch)
  }

  /** The analyst rotation over the registered views; each query's executed
    * plan is forced before the action, so planning and file listing fall in
    * the plan span. Only a traced rotation records spans. */
  private def runQueries(tr: Tracer, store: StarStore, qs: Seq[Oracle.Query],
                         traced: Boolean): Seq[Array[Row]] = {
    def span[T](layer: String, name: String)(body: => T): T =
      if (traced) tr.call(layer, name)(body) else body
    span("etl.StarStore", "registerViews")(store.registerViews())
    qs.map { q =>
      val df = span("query", s"plan:${q.name}") {
        val df = spark.sql(q.sql)
        df.queryExecution.executedPlan
        df
      }
      span("query", s"collect:${q.name}")(df.collect())
    }
  }

  private def answerChecks(label: String, qs: Seq[Oracle.Query],
                           answers: Seq[Array[Row]]): Seq[(String, Boolean)] =
    qs.zip(answers).map { case (q, rows) =>
      s"query ${q.name} $label equals the oracle" ->
        Oracle.sameAnswer(rows.toSeq.map(_.toSeq.map(String.valueOf)), q.expected)
    }

  private def clean(fs: Seq[Gen.StarFile]): Seq[Oracle.Clean] =
    fs.flatMap(_.rows.flatMap(Oracle.clean))

  private def checks(tr: Tracer, store: StarStore): Seq[(String, Boolean)] = {
    val all = clean(files)
    def members(df: DataFrame, key: String): Seq[String] =
      df.select(col(key)).collect().toSeq.map(_.getString(0))
    val dims = Seq(
      ("dim_date", store.dimDate, "DATETIME", all.map(_.minuteKey)),
      ("dim_platform", store.dimPlatform, "PLATFORM", all.map(_.platform)),
      ("dim_site", store.dimSite, "SITE", all.map(_.site)),
      ("dim_title", store.dimTitle, "TITLE", all.map(_.title)))
    val skeys = Seq("DATETIME_SKEY", "PLATFORM_SKEY", "SITE_SKEY", "TITLE_SKEY")
    val qs = Oracle.queries(all, topN = 5)
    val answers = runQueries(tr, store, qs, traced = false)
    dims.flatMap { case (name, df, key, expected) =>
      val got = members(df, key)
      Seq(s"$name unique on $key" -> (got.distinct.size == got.size),
        s"$name members equal the planted set" -> (got.toSet == expected.toSet))
    } ++ Seq(
      "no fact row has a null SKEY" ->
        store.fact.where(skeys.map(col(_).isNull).reduce(_ || _)).limit(1)
          .collect().isEmpty,
      "fact rows equal the planted VideoStart total" ->
        (store.fact.count() == files.map(_.plantedVideoStarts).sum),
      "a replayed batch id appends 0" ->
        (store.runBatch(Sources.rawCsv(spark, files.head.path.toString), "b000") == 0L)
    ) ++ answerChecks("after compaction", qs, answers)
  }

  def unit(tr: Tracer, u: Int): UnitOut = {
    val root = work.resolve(s"store_$u")
    val store = StarStore(spark, root.toString, compactAfter)
    val ops = scala.collection.mutable.ArrayBuffer.empty[Double]
    val appended = scala.collection.mutable.ArrayBuffer.empty[Long]
    def publish(i: Int): Unit = {
      val f = files(i)
      val raw = tr.call("etl.Sources", "rawCsv")(Sources.rawCsv(spark, f.path.toString))
      val t0 = System.nanoTime()
      appended += tr.call("etl.StarStore", "runBatch")(store.runBatch(raw, f"b$i%03d"))
      ops += (System.nanoTime() - t0) / 1e9
    }
    val (_, ns1, win1) = window((0 until compactAfter).foreach(publish))
    val live = Oracle.queries(clean(files.take(compactAfter)), topN = 5)
    val liveAnswers = runQueries(tr, store, live, traced = true)
    liveDeltas = spark.table("fact_videostart").queryExecution
      .optimizedPlan.collectLeaves().size
    val (_, ns2, win2) = window((compactAfter until files.size).foreach(publish))
    val perBatch = files.zip(appended).map { case (f, n) =>
      s"runBatch(${f.path.getFileName}) appends the planted ${f.plantedVideoStarts}" ->
        (n == f.plantedVideoStarts)
    }
    val bad = failures(perBatch ++
      answerChecks(s"over $compactAfter live deltas", live, liveAnswers) ++ checks(tr, store))
    diskRatio = Workload.dirBytes(root).toDouble / files.map(_.bytes).sum
    Workload.delete(root)
    UnitOut(ops.toSeq, files.map(_.rows.size.toLong).sum, ns1 + ns2, Seq(win1, win2),
      files.size, math.min(files.size, bad))
  }

  def diskBytesPerInputByte: Double = diskRatio

  override def layerCounters: Map[String, Double] =
    Map("etl.StarStore.live_deltas" -> liveDeltas.toDouble)

  def inputs: Seq[(String, Long)] = Seq("files" -> shape.files.toLong,
    "raw_rows_per_file" -> shape.rowsPerFile.toLong,
    "hours_per_file" -> shape.hoursPerFile.toLong, "titles" -> shape.titles.toLong,
    "raw_bytes" -> files.map(_.bytes).sum,
    "planted_videostarts" -> files.map(_.plantedVideoStarts).sum)
}

/** Training-data curation: curate a single-split corpus, write the
  * survivors, score them against a reference slice, write the scores. */
final class CurateCorpus(spark: SparkSession, work: Path, seed: Long)
    extends Workload(spark, work, seed) {
  val shape = Gen.CorpusShape(uniqueDocs = 2800, exactGroups = 280, chains = 280,
    lowQuality = 380)
  private var truth: Gen.CorpusTruth = _
  private var nDocs = 0
  private def corpusPath = work.resolve("documents.parquet")
  private var recall = 0.0
  private var outBytes = 0L

  /** Write `docs` as one single-file parquet at `dest`, like the one-split
    * documents.parquet the catalog reads. */
  private def writeCorpus(docs: Seq[Gen.Doc], dest: Path): Unit = {
    import spark.implicits._
    val tmp = work.resolve("corpus_tmp")
    Workload.delete(tmp); Workload.delete(dest)
    docs.map(d => (d.id, d.text, "en", d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp)
    try Files.move(part.filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get(), dest)
    finally part.close()
    Workload.delete(tmp)
  }

  def setup(): Unit = {
    val (docs, t) = Gen.corpus(seed, shape)
    truth = t; nDocs = docs.size
    writeCorpus(docs, corpusPath)
  }

  def warmUp(tr: Tracer): Unit = {
    val warm = work.resolve("warm.parquet")
    writeCorpus(Gen.corpus(seed + 1, Gen.CorpusShape(1000, 100, 100, 130))._1, warm)
    pass(tr, warm, work.resolve("warm_out"))
    Workload.delete(warm); Workload.delete(work.resolve("warm_out"))
  }

  private def pass(tr: Tracer, corpus: Path, out: Path): Unit = {
    val scope = new CacheScope
    try {
      val docs = tr.call("etl.Sources", "parquet")(Sources.parquet(spark, corpus.toString))
      val survivors = tr.call("ext.Curation", "curate")(
        Curation.curate(docs, "doc_id", "text", Curation.Config(), scope))
      tr.call("ext.Curation", "write")(
        survivors.write.mode("overwrite").parquet(out.resolve("survivors").toString))
      val kept = tr.call("etl.Sources", "parquet")(
        Sources.parquet(spark, out.resolve("survivors").toString))
      val reference = docs.where(col("source") === "wiki")
      val scores = tr.call("ext.TextStats", "knTrigramScore")(
        TextStats.knTrigramScore(kept, "doc_id", "text", reference, "text", scope = scope))
      tr.call("ext.TextStats", "write")(
        scores.write.mode("overwrite").parquet(out.resolve("scores").toString))
    } finally tr.call("ext.CacheScope", "close")(scope.close())
  }

  def unit(tr: Tracer, u: Int): UnitOut = {
    val out = work.resolve("out")
    val (_, ns, win) = window(pass(tr, corpusPath, out))
    val kept = spark.read.parquet(out.resolve("survivors").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val scores = spark.read.parquet(out.resolve("scores").toString)
      .select("doc_id", "mean_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val members = truth.chains.flatMap(c => c.filterNot(_ == c.min))
    recall = members.count(id => !kept.contains(id)).toDouble / members.size
    val checks = Seq(
      "every exact-duplicate copy except the min id is removed" ->
        truth.exactGroups.forall(g => g.filter(kept.contains) == Seq(g.min)),
      "every planted low-quality doc is removed" ->
        truth.lowQuality.forall(id => !kept.contains(id)),
      "no planted unique good doc is lost" ->
        truth.uniqueGood.forall(kept.contains),
      "one finite score per survivor" ->
        (scores.map(_._1).sorted == kept.toSeq.sorted &&
          scores.forall { case (_, s) => !s.isNaN && !s.isInfinite }))
    outBytes = Workload.dirBytes(out)
    Workload.delete(out)
    UnitOut(Seq(ns / 1e9), nDocs.toLong, ns, Seq(win), 1, math.min(1, failures(checks)))
  }

  def diskBytesPerInputByte: Double = outBytes.toDouble / Files.size(corpusPath)

  override def layerCounters: Map[String, Double] =
    Map("ext.Dedup.neardup_recall" -> recall)

  def inputs: Seq[(String, Long)] = Seq("docs" -> nDocs.toLong,
    "unique_good" -> shape.uniqueDocs.toLong, "exact_groups" -> shape.exactGroups.toLong,
    "chains" -> shape.chains.toLong, "low_quality" -> shape.lowQuality.toLong,
    "corpus_bytes" -> (if (Files.exists(corpusPath)) Files.size(corpusPath) else 0L))
}
