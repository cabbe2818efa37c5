package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generators. Everything is drawn from one SplittableRandom
  * seeded with the run's seed, so the same seed writes the same bytes. The
  * generators also return their ground truth, which the output checks use;
  * the program under test only ever sees the written files. */
object Gen {

  // ── star inputs: raw VideoStart CSV files (FIXTURES.md §1) ──────────────

  /** One raw row as written, plus what the generator planted in it. */
  final case class RawRow(dateTime: String, title: String, events: String,
                          spaceBeforeQuote: Boolean)

  final case class StarFile(path: Path, rows: IndexedSeq[RawRow],
                            plantedVideoStarts: Long, bytes: Long)

  /** File sizes and shape of one star batch sequence. */
  final case class StarShape(files: Int, rowsPerFile: Int,
                             hoursPerFile: Int, titles: Int)

  private val Codes = Array("101", "104", "120", "127", "157", "160", "161",
    "162", "163", "164", "165", "166", "170", "171", "229", "237")
  private val Words = Array("shark", "attacks", "spearfisherman", "navy",
    "films", "ufo", "axe", "attack", "service", "station", "surfer", "hits",
    "global", "stage", "pedophile", "extradited", "storm", "warning", "final",
    "cup", "budget", "vote", "fire", "crews", "rescue", "koala", "market",
    "record", "heatwave", "election", "flood", "bridge", "cricket", "open")
  // Title prefixes from the FIXTURES classifier truth table, plus more
  // site-bearing heads so dim_site has several members.
  private val Heads = Array(
    "App Web|Clips|a-current-affair;2016|", "App Web|Clips|today;2017|",
    "news| ", "iPhone|Clips|", "Android|Clips|", "iPad App|News|",
    "9news|Local|", "sport|Highlights|", "finance|Markets|")
  private val HeadWeights = Array(18, 10, 30, 10, 10, 6, 8, 5, 3)
  private val BadTimestamps = Array("unknown", "NaT", "00:00:31")

  /** Heavy-tailed (Zipf s=1.1) index sampler over `n` items. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, 1.1))
      w.scanLeft(0.0)(_ + _).tail
    }
    def draw(rng: SplittableRandom): Int = {
      val u = rng.nextDouble() * cdf(n - 1)
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def weighted(rng: SplittableRandom, w: Array[Int]): Int = {
    var u = rng.nextInt(w.sum); var i = 0
    while (u >= w(i)) { u -= w(i); i += 1 }
    i
  }

  private def titleText(rng: SplittableRandom, k: Int): String = {
    val n = 2 + rng.nextInt(4)
    val ws = Seq.fill(n)(Words(rng.nextInt(Words.length)))
    val base = ws.mkString(" ").capitalize + s" $k"
    if (k % 97 == 5) base + " Café résumé 日本" else base
  }

  private def codeList(rng: SplittableRandom, with206: Boolean): String = {
    val n = 1 + rng.nextInt(10)
    val cs = Array.fill(n)(Codes(rng.nextInt(Codes.length))).distinct.toBuffer
    if (with206) cs.insert(rng.nextInt(cs.length + 1), "206")
    cs.mkString(",")
  }

  private val Epoch0 = java.time.LocalDateTime.of(2017, 1, 11, 0, 0)
  private val TsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")

  /** Generate one batch sequence under `dir`: file i covers a window of
    * `hoursPerFile` hours starting `hoursPerFile/2` hours after file i-1's,
    * so every file meets minutes (and titles) already in the store as well
    * as new ones. About a third of rows carry 206; a few percent each are
    * single-piece titles, unparseable timestamps and 1206-only code lists. */
  def starSequence(seed: Long, dir: Path, shape: StarShape): IndexedSeq[StarFile] = {
    val rng = new SplittableRandom(seed)
    Files.createDirectories(dir)
    val titles = Array.tabulate(shape.titles)(k => titleText(rng, k))
    val heads = Array.fill(shape.titles)(weighted(rng, HeadWeights))
    val zipf = new Zipf(shape.titles)
    val windowMin = shape.hoursPerFile * 60
    (0 until shape.files).map { f =>
      val start = Epoch0.plusMinutes(f.toLong * windowMin / 2)
      val rows = IndexedSeq.fill(shape.rowsPerFile) {
        val t = zipf.draw(rng)
        val kind = rng.nextInt(100)
        val ts = start.plusSeconds(rng.nextInt(windowMin * 60).toLong)
          .plusNanos(rng.nextInt(1000) * 1000000L)
        val dateTime =
          if (kind < 3) BadTimestamps(rng.nextInt(BadTimestamps.length))
          else TsFmt.format(ts)
        val title =
          if (kind >= 3 && kind < 6) titles(t).replace(" ", "") // one piece
          else Heads(heads(t)) + titles(t)
        val events =
          if (kind >= 6 && kind < 9) (if (rng.nextBoolean()) "1206" else "1206,101")
          else codeList(rng, with206 = kind < 3 || rng.nextInt(3) == 0)
        RawRow(dateTime, title, events, rng.nextBoolean())
      }
      val path = dir.resolve(f"raw_$f%03d.csv")
      val sb = new StringBuilder("DateTime, VideoTitle, events\n")
      rows.foreach { r =>
        sb.append(r.dateTime).append(',').append(r.title).append(',')
        if (r.spaceBeforeQuote) sb.append(' ')
        sb.append('"').append(r.events).append("\"\n")
      }
      val bytes = sb.toString.getBytes(UTF_8)
      Files.write(path, bytes)
      StarFile(path, rows, rows.count(r => Oracle.clean(r).isDefined).toLong,
        bytes.length.toLong)
    }
  }

  // ── curation input: one single-file documents parquet ───────────────────

  final case class Doc(id: Long, text: String, source: String)

  /** What the corpus generator planted, by doc id. */
  final case class CorpusTruth(
      uniqueGood: Set[Long],
      exactGroups: Seq[Seq[Long]],   // each group: identical normalized text
      chains: Seq[Seq[Long]],        // successively edited copies, in order
      lowQuality: Set[Long])

  final case class CorpusShape(uniqueDocs: Int, exactGroups: Int,
                               chains: Int, lowQuality: Int)

  val Stopwords: Seq[String] = Seq("data", "table", "row", "value")

  private def word(rng: SplittableRandom): String = {
    val n = 3 + rng.nextInt(6)
    val c = new Array[Char](n)
    var i = 0
    while (i < n) { c(i) = ('a' + rng.nextInt(26)).toChar; i += 1 }
    new String(c)
  }

  /** Documents with planted exact duplicates (1–3 extra copies, some with
    * changed case), near-duplicate chains of length 2–5 (each copy edits
    * four words of the previous one, so the ends of a long chain are not
    * direct pairs and the connected-components step needs several rounds),
    * and low-quality docs that fail the token-count or the stopword gate.
    * Ids are a seeded shuffle, so the min id of a group is any member. */
  def corpus(seed: Long, shape: CorpusShape): (IndexedSeq[Doc], CorpusTruth) = {
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val vocab = Array.fill(6000)(word(rng))
    def goodText(): Array[String] =
      Array.fill(35 + rng.nextInt(41))(vocab(rng.nextInt(vocab.length)))
    val texts = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    // tags: 0 unique good, 1+g exact group g, -(1+c) chain c, MinValue low
    (0 until shape.uniqueDocs).foreach(_ => texts += goodText().mkString(" ") -> 0)
    (0 until shape.exactGroups).foreach { g =>
      val t = goodText().mkString(" ")
      texts += t -> (1 + g)
      (0 until 1 + rng.nextInt(3)).foreach { c =>
        texts += (if (c == 1) t.capitalize else t) -> (1 + g)
      }
    }
    (0 until shape.chains).foreach { c =>
      // long enough that four edits keep consecutive copies above the
      // default 0.5 Jaccard threshold on word 3-shingles
      var cur = Array.fill(60 + rng.nextInt(40))(vocab(rng.nextInt(vocab.length)))
      texts += cur.mkString(" ") -> -(1 + c)
      (1 until 2 + rng.nextInt(4)).foreach { _ =>
        val next = cur.clone()
        val stride = next.length / 4
        (0 until 4).foreach { k =>
          next(k * stride + rng.nextInt(stride)) = vocab(rng.nextInt(vocab.length))
        }
        texts += next.mkString(" ") -> -(1 + c)
        cur = next
      }
    }
    (0 until shape.lowQuality).foreach { q =>
      val toks =
        if (q % 2 == 0) Array.fill(5 + rng.nextInt(20))(vocab(rng.nextInt(vocab.length)))
        else Array.tabulate(40 + rng.nextInt(40))(p => // 40% stopwords
          if (p % 5 < 2) Stopwords(rng.nextInt(Stopwords.length))
          else vocab(rng.nextInt(vocab.length)))
      texts += toks.mkString(" ") -> Int.MinValue
    }
    // seeded Fisher–Yates over ids
    val ids = Array.tabulate(texts.length)(_.toLong)
    var i = ids.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1
    }
    val sources = Array("web", "wiki", "books")
    val docs = texts.indices.map(k =>
      Doc(ids(k), texts(k)._1, sources(rng.nextInt(sources.length))))
    val tagged = texts.indices.map(k => (texts(k)._2, ids(k)))
    val truth = CorpusTruth(
      uniqueGood = tagged.collect { case (0, id) => id }.toSet,
      exactGroups = tagged.collect { case (t, id) if t > 0 => (t, id) }
        .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2)),
      chains = tagged.collect { case (t, id) if t < 0 && t != Int.MinValue => (t, id) }
        .groupBy(_._1).toSeq.sortBy(-_._1).map(_._2.map(_._2)),
      lowQuality = tagged.collect { case (Int.MinValue, id) => id }.toSet)
    (docs.sortBy(_.id), truth)
  }
}
