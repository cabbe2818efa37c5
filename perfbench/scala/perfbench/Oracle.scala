package perfbench

/** The reference's clean/derive semantics restated in plain Scala over the
  * generated rows, and the analyst queries' answers computed from them. This
  * is the independent side of every star output check: it never touches
  * Spark. */
object Oracle {

  /** A raw row after the reference's filters and derivations. */
  final case class Clean(minuteKey: String, platform: String, site: String,
                         title: String)

  private val Ts = """(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):\d{2}\.\d{3}Z""".r
  private val PlatformWords = Set("Android", "iPhone", "iPad", "Web")

  def clean(r: Gen.RawRow): Option[Clean] = {
    val pieces = r.title.split("\\|", -1)
    val videoStart = r.events.split(",", -1).contains("206")
    r.dateTime match {
      case Ts(y, mo, d, h, mi) if videoStart && pieces.length > 1 =>
        val head = pieces.head
        val platform =
          if (head.contains("Android")) "Android"
          else if (head.contains("iPhone")) "iPhone"
          else if (head.contains("iPad")) "iPad"
          else "Desktop"
        val site =
          if (head.split(" ", -1).exists(PlatformWords)) "(none)" else head
        Some(Clean(s"$y$mo$d$h$mi", platform, site, pieces.last))
      case _ => None
    }
  }

  /** Binary (UTF-8) string order, the order Spark sorts strings in. */
  val utf8Order: Ordering[String] = Ordering.fromLessThan { (a, b) =>
    java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0
  }

  /** A query's answer: a set of rows, each rendered as strings. */
  type Answer = Seq[Seq[String]]

  final case class Query(name: String, sql: String, expected: Answer)

  /** The fixed analyst rotation over the registered star views, with the
    * expected answer of each computed from the clean rows. */
  def queries(rows: Seq[Clean], topN: Int): Seq[Query] = {
    // the busiest hour, so the per-minute series has data
    val byHour = rows.groupBy(_.minuteKey.take(10)).view.mapValues(_.size).toSeq
    val hour = byHour.maxBy { case (h, n) => (n, h) }._1
    val day = hour.take(8)
    Seq(
      Query("starts_per_hour_platform",
        """SELECT substring(d.DATETIME, 1, 10) AS hour, p.PLATFORM, count(*) AS n
          |FROM fact_videostart f
          |JOIN dim_date d ON f.DATETIME_SKEY = d.DATETIME_SKEY
          |JOIN dim_platform p ON f.PLATFORM_SKEY = p.PLATFORM_SKEY
          |GROUP BY substring(d.DATETIME, 1, 10), p.PLATFORM""".stripMargin,
        rows.groupBy(r => (r.minuteKey.take(10), r.platform)).toSeq
          .map { case ((h, p), rs) => Seq(h, p, rs.size.toString) }),
      Query("top_titles_per_site",
        s"""SELECT site, title, n FROM (
           |  SELECT s.SITE AS site, t.TITLE AS title, count(*) AS n,
           |    row_number() OVER (PARTITION BY s.SITE
           |                       ORDER BY count(*) DESC, t.TITLE) AS rk
           |  FROM fact_videostart f
           |  JOIN dim_site s ON f.SITE_SKEY = s.SITE_SKEY
           |  JOIN dim_title t ON f.TITLE_SKEY = t.TITLE_SKEY
           |  GROUP BY s.SITE, t.TITLE)
           |WHERE rk <= $topN""".stripMargin,
        rows.groupBy(_.site).toSeq.flatMap { case (s, rs) =>
          rs.groupBy(_.title).toSeq.map { case (t, ts) => (t, ts.size) }
            .sorted(Ordering.Tuple2(Ordering.Int.reverse, utf8Order)
              .on[(String, Int)] { case (t, n) => (n, t) })
            .take(topN).map { case (t, n) => Seq(s, t, n.toString) }
        }),
      Query("minute_series_one_hour",
        s"""SELECT d.DATETIME AS minute, count(*) AS n
           |FROM fact_videostart f
           |JOIN dim_date d ON f.DATETIME_SKEY = d.DATETIME_SKEY
           |WHERE f.day = $day AND d.DATETIME LIKE '$hour%'
           |GROUP BY d.DATETIME""".stripMargin,
        rows.filter(_.minuteKey.startsWith(hour)).groupBy(_.minuteKey).toSeq
          .map { case (m, rs) => Seq(m, rs.size.toString) }),
      Query("distinct_titles_per_platform",
        """SELECT p.PLATFORM, count(DISTINCT f.TITLE_SKEY) AS n
          |FROM fact_videostart f
          |JOIN dim_platform p ON f.PLATFORM_SKEY = p.PLATFORM_SKEY
          |GROUP BY p.PLATFORM""".stripMargin,
        rows.groupBy(_.platform).toSeq
          .map { case (p, rs) => Seq(p, rs.map(_.title).distinct.size.toString) })
    )
  }

  /** Order-insensitive comparison of a collected answer with the expected. */
  def sameAnswer(got: Answer, expected: Answer): Boolean = {
    def key(a: Answer) = a.map(_.mkString("\u0001")).sorted
    key(got) == key(expected)
  }
}
