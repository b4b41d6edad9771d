package perfbench

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import perfbench.Lake.{DayNs, HourNs}

class TrafficSpec extends AnyFunSuite {
  private val start = 1704067200000000000L // 2024-01-01T00:00:00Z
  /** One event every 7 minutes over the lake's days, five types. */
  private val lake: IndexedSeq[Ev] = (0L until Lake.Days * DayNs / (7 * 60 * 1000000000L)).map { i =>
    Ev(i, start + i * 7 * 60 * 1000000000L, i % 13, Seq("a", "b", "c", "d", "e")((i % 5).toInt),
      (i % 97) * 1.25, s"""{"k": ${i % 11}}""")
  }

  test("the same seed gives the same request sequence; another seed does not") {
    val a = Traffic.dashboard(7, lake, start, 300)
    assert(a == Traffic.dashboard(7, lake, start, 300))
    assert(a != Traffic.dashboard(8, lake, start, 300))
    val kinds = a.map(_.kind).toSet
    assert(kinds == Set("group", "count_all", "count_range", "point"))
    val w1 = Traffic.wideCycle(new scala.util.Random(3), lake, start)
    assert(w1 == Traffic.wideCycle(new scala.util.Random(3), lake, start))
    assert(w1.map(_.kind).sorted == Seq("day", "empty", "export", "full", "three_days"))
  }

  test("requests stay inside the lake, except the deliberately empty one") {
    val end = start + Lake.Days * DayNs
    Traffic.dashboard(11, lake, start, 500).foreach { r =>
      r.expect match {
        case Rows(rows) => assert(rows.forall(e => e.time >= start && e.time < end))
        case Groups(g) => assert(g.nonEmpty)
        case Count(n) => assert(n > 0)
      }
    }
    val empty = Traffic.wideCycle(new scala.util.Random(1), lake, start).find(_.kind == "empty").get
    assert(empty.expect == Groups(Map.empty))
  }

  test("oracle answers come from the source rows of the window") {
    val rows = Lake.slice(lake, start, start + HourNs)
    assert(rows.nonEmpty && rows.forall(_.time < start + HourNs))
    val Groups(g) = Oracle.groups(rows)
    assert(g.values.map(_.n).sum == rows.size)
    assert(g("a").users == rows.filter(_.eventType == "a").map(_.userId).sum)
  }

  private val mapper = new ObjectMapper()
  private def json(rows: Seq[Map[String, Any]]): String = mapper.writeValueAsString(
    java.util.Map.of("results", java.util.List.of(rows.map { r =>
      val m = new java.util.LinkedHashMap[String, Any]()
      r.foreach { case (k, v) => m.put(k, v) }
      m
    }: _*)))

  test("a planted wrong answer fails the output check") {
    val exp = Map("a" -> Agg(3, 30, 2.5), "b" -> Agg(1, 7, 1.0))
    def answer(n: String = "3", users: String = "30", avg: Double = 2.5) = json(Seq(
      Map("event_type" -> "a", "n" -> n, "users" -> users, "avg_value" -> avg),
      Map("event_type" -> "b", "n" -> "1", "users" -> "7", "avg_value" -> 1.0)))
    assert(Check("json", answer(), Groups(exp)).isEmpty)
    assert(Check("json", answer(avg = 2.5 * (1 + 1e-12)), Groups(exp)).isEmpty)
    assert(Check("json", answer(n = "4"), Groups(exp)).nonEmpty)
    assert(Check("json", answer(users = "31"), Groups(exp)).nonEmpty)
    assert(Check("json", answer(avg = 2.5 * (1 + 1e-8)), Groups(exp)).nonEmpty)
    assert(Check("json", json(Nil), Groups(exp)).nonEmpty)

    assert(Check("json", json(Seq(Map("n" -> "5"))), Count(5)).isEmpty)
    assert(Check("json", json(Seq(Map("n" -> "7"))), Count(5)).nonEmpty)
    assert(Check("json", json(Seq(Map("n" -> "5"), Map("n" -> "5"))), Count(5)).nonEmpty)

    val ev = lake.take(2)
    def line(e: Ev, value: Double) = mapper.writeValueAsString(java.util.Map.of(
      "time", e.time.toString, "event_id", e.eventId.toString, "user_id", e.userId.toString,
      "event_type", e.eventType, "value", value, "props", e.props))
    val good = ev.map(e => line(e, e.value)).mkString("\n")
    assert(Check("ndjson", good, Rows(ev)).isEmpty)
    assert(Check("ndjson", line(ev(0), ev(0).value), Rows(ev)).nonEmpty)
    assert(Check("ndjson", line(ev(0), ev(0).value) + "\n" + line(ev(1), ev(1).value + 0.01),
      Rows(ev)).nonEmpty)
    assert(Check("json", """{"error":"boom"}""", Rows(ev)).nonEmpty)
  }
}
