package perfbench

import org.scalatest.funsuite.AnyFunSuite
import perfbench.Stats.Interval

class ReportSpec extends AnyFunSuite {

  test("percentiles interpolate linearly between closest ranks") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(math.abs(Stats.percentile(xs, 90) - 9.1) < 1e-12)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("covered time merges overlapping children and clips them to the parent") {
    val parent = Interval(100, 200)
    assert(Stats.covered(parent, Nil) == 0)
    assert(Stats.covered(parent, Seq(Interval(110, 130), Interval(120, 140))) == 30)
    assert(Stats.covered(parent, Seq(Interval(50, 110), Interval(190, 300))) == 20)
    assert(Stats.covered(parent, Seq(Interval(110, 120), Interval(120, 130))) == 20)
    assert(Stats.covered(parent, Seq(Interval(0, 50), Interval(250, 300))) == 0)
    assert(Stats.selfTime(parent, Seq(Interval(150, 160), Interval(0, 1000))) == 0)
    assert(Stats.selfTime(parent, Seq(Interval(150, 160))) == 90)
  }

  /** One request: a 100 ns round trip; Engine.query 10–60 with a
    * catalog call 12–14 and a readTable 20–50 holding a catalog call
    * 21–23 and a schema job 25–45; an execution job 70–90. */
  private def request: Report.OpTrace = {
    val op = OpRec(1, "group", 0, 0, 100, ok = true, bytes = 500, tableFiles = 240)
    val spans = Seq(
      Span(1, "engine.query", 10, 60),
      Span(1, "catalog.tableExists", 12, 14),
      Span(1, "tables.readTable", 20, 50),
      Span(1, "catalog.prunedPaths", 21, 23, count = 6),
      Span(1, "catalog.prunedPaths", 40, 41, count = 240))
    val jobs = Seq(JobRec(1, "tables", 25, 45), JobRec(1, "exec", 70, 90))
    Report.traces(Seq(op), spans, jobs, Map.empty).head
  }

  test("self times subtract the child spans each layer covers") {
    val t = request
    assert(t.buildNs == 50)
    assert(t.execNs == 20)
    assert(t.serverSelfNs == 30)
    // 50 − (catalog 2 ∪ readTable 30, which holds the other catalog calls and the job)
    assert(t.engineSelfNs == 18)
    // readTable 30 − its catalog calls 2 + 1
    assert(t.tablesNs == 27)
    assert(t.catalogNs == 5)
    assert(t.filesKept == 6) // the first prunedPaths inside readTable
    assert(t.tableFiles == 240)
    assert(t.jobsIn("tables") == 1)
  }

  test("per-layer metrics divide run totals by the operations a layer serves") {
    val fast = Report.traces(Seq(OpRec(2, "count_all", 0, 0, 10, ok = true, tableFiles = 240)),
      Seq(Span(2, "engine.query", 1, 9), Span(2, "catalog.metadataStats", 2, 8)), Nil, Map.empty)
    val append = Report.traces(
      Seq(OpRec(3, "append", 0, 5, 25, ok = true, bytes = 1000, filesWritten = 1)),
      Nil, Seq(JobRec(3, "lakewriter", 6, 20)), Map.empty)
    val m = Report.perLayer(Seq(request) ++ fast ++ append, Jvm.Snap(gcMs = 30, jitMs = 0))
    def v(k: String) = m(k).value
    assert(v("engine.fast_path_frac") == 0.5)
    assert(v("tables.schema_jobs") == 0.5)
    assert(v("catalog.files_kept") == 3.0)
    assert(v("catalog.keep_ratio") == 6.0 / 240)
    assert(v("lakewriter.s") == 20e-9)
    assert(v("lakewriter.lateness_s") == 5e-9)
    assert(v("lakewriter.jobs") == 1.0)
    assert(v("spark.jobs") == 1.0) // three jobs over three operations
    assert(math.abs(v("jvm.gc_s") - 0.01) < 1e-15)
    assert(v("queries.build_s") == 0.0)
    assert(m.values.forall(x => !x.value.isNaN))
  }
}
