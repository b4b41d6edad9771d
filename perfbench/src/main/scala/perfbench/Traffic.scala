package perfbench

import java.time.Instant
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import perfbench.Lake.{DayNs, HourNs}

/** Per-group answer of the GROUP BY request: row count, exact sum of
  * `user_id`, and the average of `value`. */
final case class Agg(n: Long, users: Long, avgValue: Double)

/** What a correct answer to a request looks like. */
sealed trait Expect
final case class Groups(byType: Map[String, Agg]) extends Expect
final case class Count(n: Long) extends Expect
final case class Rows(rows: IndexedSeq[Ev]) extends Expect

/** One gateway request: SQL, response format and its expected answer. */
final case class Req(kind: String, sql: String, format: String, expect: Expect)

/** SQL texts and the answers computed from the source rows, without
  * the gateway. */
object Oracle {
  def iso(ns: Long): String = Instant.ofEpochSecond(Math.floorDiv(ns, 1000000000L)).toString

  def groupSql(lo: Long, hi: Long): String =
    "SELECT event_type, count(*) AS n, sum(user_id) AS users, avg(value) AS avg_value " +
      s"FROM events WHERE time >= '${iso(lo)}' AND time < '${iso(hi)}' GROUP BY event_type"
  def countAllSql: String = "SELECT count(*) AS n FROM events"
  def countRangeSql(lo: Long, hi: Long): String =
    s"SELECT count(*) AS n FROM events WHERE time >= '${iso(lo)}' AND time < '${iso(hi)}'"
  def rowsSql(lo: Long, hi: Long): String =
    s"SELECT * FROM events WHERE time >= '${iso(lo)}' AND time < '${iso(hi)}'"

  def groups(rows: Seq[Ev]): Groups = Groups(rows.groupBy(_.eventType).map { case (t, es) =>
    t -> Agg(es.size.toLong, es.map(_.userId).sum, es.map(_.value).sum / es.size)
  })

  def group(kind: String, source: IndexedSeq[Ev], lo: Long, hi: Long): Req =
    Req(kind, groupSql(lo, hi), "json", groups(Lake.slice(source, lo, hi)))
  def countRange(kind: String, source: IndexedSeq[Ev], lo: Long, hi: Long): Req =
    Req(kind, countRangeSql(lo, hi), "json", Count(Lake.slice(source, lo, hi).size.toLong))
  def rows(kind: String, source: IndexedSeq[Ev], lo: Long, hi: Long, format: String): Req =
    Req(kind, rowsSql(lo, hi), format, Rows(Lake.slice(source, lo, hi)))
}

/**
 * Request streams. Each is a pure function of the seed and the lake
 * rows, so one seed always yields the same sequence.
 */
object Traffic {

  /** One block of `dashboard` requests: a GROUP BY of each window
    * length from 1 to 6 h, two `count(*)` shapes and a point fetch.
    * Group-bys are the majority, so the median falls inside their
    * latencies rather than on the edge between two request shapes. */
  val DashboardBlock: Seq[String] =
    (1 to 6).map(h => s"group$h") ++ Seq("count_all", "count_range", "point")

  /** The `dashboard` mix, in blocks of `DashboardBlock` shuffled by the
    * seed: GROUP BY over 1–6 h windows (half of them in the latest
    * 48 h), `count(*)` over the table or an hour-aligned range (both
    * answered from metadata), and 1-minute point fetches. */
  def dashboard(seed: Long, lake: IndexedSeq[Ev], start: Long, n: Int): IndexedSeq[Req] = {
    val rnd = new scala.util.Random(seed)
    val hours = Lake.Days * 24
    def recentHour(): Int = if (rnd.nextDouble() < 0.5) hours - 1 - rnd.nextInt(48) else rnd.nextInt(hours)
    def window(len: Int): (Long, Long) = {
      val last = math.max(recentHour(), len - 1)
      (start + (last + 1 - len) * HourNs, start + (last + 1) * HourNs)
    }
    Iterator.continually(rnd.shuffle(DashboardBlock)).flatten.take(n).map {
      case g if g.startsWith("group") =>
        val (lo, hi) = window(g.stripPrefix("group").toInt)
        Oracle.group("group", lake, lo, hi)
      case "count_all" => Req("count_all", Oracle.countAllSql, "json", Count(lake.size.toLong))
      case "count_range" =>
        val (lo, hi) = window(1 + rnd.nextInt(6))
        Oracle.countRange("count_range", lake, lo, hi)
      case "point" =>
        val lo = start + (recentHour() * 60L + rnd.nextInt(60)) * 60L * 1000000000L
        Oracle.rows("point", lake, lo, lo + 60L * 1000000000L, "json")
    }.toIndexedSeq
  }

  /** One `wide_scan` cycle, in a seeded order: 1-day, 3-day and
    * full-range GROUP BYs, an empty range after the lake ends, and a
    * 1-day raw-row export as NDJSON. */
  def wideCycle(rnd: scala.util.Random, lake: IndexedSeq[Ev], start: Long): Seq[Req] = {
    val end = start + Lake.Days * DayNs
    val d1 = start + rnd.nextInt(Lake.Days) * DayNs
    val d3 = start + rnd.nextInt(Lake.Days - 2) * DayNs
    val dx = start + rnd.nextInt(Lake.Days) * DayNs
    rnd.shuffle(Seq(
      Oracle.group("day", lake, d1, d1 + DayNs),
      Oracle.group("three_days", lake, d3, d3 + 3 * DayNs),
      Oracle.group("full", lake, start, end),
      Oracle.group("empty", lake, end + DayNs, end + 2 * DayNs),
      Oracle.rows("export", lake, dx, dx + DayNs, "ndjson")))
  }
}

/** Output checks: `None` when the response is the expected answer,
  * otherwise the first difference found. */
object Check {
  private val mapper = new ObjectMapper()

  def apply(format: String, body: String, expect: Expect): Option[String] = {
    val rows: Seq[JsonNode] =
      if (format == "ndjson") body.split('\n').toSeq.filter(_.nonEmpty).map(mapper.readTree)
      else {
        val root = mapper.readTree(body)
        val res = root.get("results")
        if (res == null || !res.isArray) return Some(s"no results array: ${body.take(200)}")
        res.elements().asScala.toSeq
      }
    expect match {
      case Groups(exp) => groups(rows, exp)
      case Count(n) => count(rows, n)
      case Rows(exp) => rowSet(rows, exp)
    }
  }

  private def long(n: JsonNode, f: String): Option[Long] =
    Option(n.get(f)).flatMap(v => scala.util.Try(v.asText().toLong).toOption)

  def groups(rows: Seq[JsonNode], exp: Map[String, Agg]): Option[String] = {
    if (rows.size != exp.size) return Some(s"${rows.size} groups, expected ${exp.size}")
    rows.iterator.map { r =>
      val t = Option(r.get("event_type")).map(_.asText()).getOrElse("")
      exp.get(t) match {
        case None => Some(s"unexpected group '$t'")
        case Some(a) =>
          val avg = Option(r.get("avg_value")).map(_.asDouble()).getOrElse(Double.NaN)
          if (!long(r, "n").contains(a.n)) Some(s"$t: n=${r.get("n")}, expected ${a.n}")
          else if (!long(r, "users").contains(a.users))
            Some(s"$t: users=${r.get("users")}, expected ${a.users}")
          else if (!(math.abs(avg - a.avgValue) <= 1e-9 * math.abs(a.avgValue)))
            Some(s"$t: avg_value=$avg, expected ${a.avgValue}")
          else None
      }
    }.collectFirst { case Some(e) => e }
  }

  def count(rows: Seq[JsonNode], n: Long): Option[String] = rows match {
    case Seq(r) if long(r, "n").contains(n) => None
    case _ => Some(s"count ${rows.mkString(",")}, expected $n")
  }

  def rowSet(rows: Seq[JsonNode], exp: IndexedSeq[Ev]): Option[String] = {
    if (rows.size != exp.size) return Some(s"${rows.size} rows, expected ${exp.size}")
    val byId = exp.map(e => e.eventId -> e).toMap
    rows.iterator.map { r =>
      long(r, "event_id").flatMap(byId.get) match {
        case None => Some(s"unexpected row $r")
        case Some(e) =>
          val same = long(r, "time").contains(e.time) && long(r, "user_id").contains(e.userId) &&
            Option(r.get("event_type")).map(_.asText()).contains(e.eventType) &&
            Option(r.get("value")).map(_.asDouble()).contains(e.value) &&
            Option(r.get("props")).map(_.asText()).contains(e.props)
          if (same) None else Some(s"row $r, expected $e")
      }
    }.collectFirst { case Some(e) => e }
      .orElse(if (rows.flatMap(long(_, "event_id")).distinct.size != rows.size) Some("duplicate rows") else None)
  }
}
