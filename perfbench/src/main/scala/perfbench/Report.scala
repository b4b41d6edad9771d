package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import perfbench.Stats.{Interval, covered, selfTime}

/** GC and JIT counters of this JVM. */
object Jvm {
  final case class Snap(gcMs: Long, jitMs: Long)
  def snap(): Snap = Snap(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime)

  /** Heap in use after full collections, in MiB. The pauses between
    * them let Spark's ContextCleaner drop the broadcast, shuffle and
    * checkpoint blocks that the previous collection made unreachable. */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(1000); System.gc(); Thread.sleep(500); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** A metric value with its unit, as printed. */
final case class Metric(value: Double, unit: String)

/** The numbers one run reports. */
object Report {

  /** Latencies of client requests and suite queries. The `ingest`
    * writer's appends and read-after-append checks have their own
    * figures in `extras`. */
  private def queryLatencies(o: Outcome): Seq[Double] =
    o.ops.filterNot(r => r.isAppend || r.isAppendCheck).map(_.latencyS)

  /** End-to-end metrics of a run; they are meant to be read from
    * untraced runs. Throughput counts every gateway request, the
    * read-after-append checks included. */
  def endToEnd(o: Outcome, setupS: Double, heapMb: Double): Map[String, Metric] = {
    val lat = queryLatencies(o)
    Map(
      "setup_s" -> Metric(setupS, "s"),
      "query_p50_s" -> Metric(if (lat.isEmpty) 0.0 else Stats.median(lat), "s"),
      "queries_per_s" -> Metric(o.ops.count(!_.isAppend) / o.timedS, "1/s"),
      "heap_live_mb" -> Metric(heapMb, "MB"))
  }

  /** Figures kept in the record only: they apply to one workload, or
    * need more samples than every run has. */
  def extras(o: Outcome): Map[String, Double] = {
    val lat = queryLatencies(o)
    val appends = o.ops.filter(_.isAppend).map(_.latencyS)
    val checks = o.ops.filter(_.isAppendCheck).map(_.latencyS)
    val suite = o.ops.filter(_.isSuite).map(_.latencyS)
    val passes = o.ops.size.toDouble / o.ops.map(_.query).distinct.size
    Map("error_frac" -> (if (o.ops.isEmpty) 1.0 else o.ops.count(!_.ok).toDouble / o.ops.size)) ++
      (if (lat.size >= 100) Map("query_p90_s" -> Stats.percentile(lat, 90)) else Map.empty) ++
      (if (appends.nonEmpty) Map("append_p50_s" -> Stats.median(appends)) else Map.empty) ++
      (if (checks.nonEmpty) Map("append_check_p50_s" -> Stats.median(checks)) else Map.empty) ++
      (if (suite.nonEmpty) Map("suite_wall_s" -> suite.sum / passes) else Map.empty)
  }

  /** Everything the trace says about one operation. */
  final case class OpTrace(op: OpRec, spans: Seq[Span], jobs: Seq[JobRec], tasks: Option[TaskTotals]) {
    private val rt = Interval(op.start, op.end)
    private def named(p: String) = spans.filter(_.name.startsWith(p))
    private val builds = named("engine.query").map(_.interval)
    private val tables = named("tables.")
    private val catalog = named("catalog.")
    private val jobIvs = jobs.map(j => Interval(j.start, j.end))

    val buildNs: Long = builds.map(_.length).sum
    /** Job time inside the round trip but outside `Engine.query`. */
    val execNs: Long = covered(rt, jobIvs) - builds.map(covered(_, jobIvs)).sum
    val serverSelfNs: Long = rt.length - buildNs - execNs
    val engineSelfNs: Long =
      builds.map(selfTime(_, (catalog ++ tables).map(_.interval) ++ jobIvs)).sum
    val tablesNs: Long = tables.map(t => selfTime(t.interval, catalog.map(_.interval))).sum
    val catalogNs: Long = catalog.map(_.interval.length).sum
    /** Files the pruned call returned: the first `prunedPaths` inside
      * each `readTable`. */
    val filesKept: Long = tables.flatMap { t =>
      catalog.filter(c => c.name == "catalog.prunedPaths" && c.start >= t.start && c.end <= t.end)
        .sortBy(_.start).headOption.map(_.count)
    }.sum
    val tableFiles: Long = tables.size.toLong * op.tableFiles
    def jobsIn(phases: String*): Int = jobs.count(j => phases.contains(j.phase))
    /** `Engine.query` launched no Spark job and read no table. The
      * server still runs one job to encode the one-row answer. */
    def answeredFromMetadata: Boolean = builds.nonEmpty && tables.isEmpty && jobsIn("engine") == 0
    def spanNs(name: String): Long = spans.filter(_.name == name).map(_.interval.length).sum
  }

  def traces(ops: Seq[OpRec], spans: Seq[Span], jobs: Seq[JobRec],
             tasks: Map[Long, TaskTotals]): Seq[OpTrace] = {
    val spansBy = spans.groupBy(_.op)
    val jobsBy = jobs.groupBy(_.op)
    ops.map(o => OpTrace(o, spansBy.getOrElse(o.id, Nil), jobsBy.getOrElse(o.id, Nil), tasks.get(o.id)))
  }

  /** Per-layer metrics: each a run total divided by the operations of
    * the kind the layer serves (gateway requests, appends, suite
    * queries, or all operations). */
  def perLayer(ts: Seq[OpTrace], jvmDelta: Jvm.Snap): Map[String, Metric] = {
    val reqs = ts.filter(t => !t.op.isAppend && !t.op.isSuite)
    val appends = ts.filter(_.op.isAppend)
    val suite = ts.filter(_.op.isSuite)
    def per(of: Seq[OpTrace])(f: OpTrace => Double): Double =
      if (of.isEmpty) 0.0 else of.map(f).sum / of.size
    def s(ns: Long): Double = ns / 1e9
    def task(f: TaskTotals => Long)(t: OpTrace): Double = t.tasks.map(f).getOrElse(0L).toDouble
    val kept = reqs.map(_.filesKept).sum
    val inTable = reqs.map(_.tableFiles).sum
    Map(
      "server.self_s" -> Metric(per(reqs)(t => s(t.serverSelfNs)), "s"),
      "server.response_bytes" -> Metric(per(reqs)(_.op.bytes.toDouble), "bytes"),
      "engine.build_s" -> Metric(per(reqs)(t => s(t.buildNs)), "s"),
      "engine.self_s" -> Metric(per(reqs)(t => s(t.engineSelfNs)), "s"),
      "engine.fast_path_frac" -> Metric(per(reqs)(t => if (t.answeredFromMetadata) 1.0 else 0.0), "ratio"),
      "catalog.s" -> Metric(per(reqs)(t => s(t.catalogNs)), "s"),
      "catalog.calls" -> Metric(per(reqs)(_.spans.count(_.name.startsWith("catalog.")).toDouble), "count"),
      "catalog.files_kept" -> Metric(per(reqs)(_.filesKept.toDouble), "count"),
      "catalog.keep_ratio" -> Metric(if (inTable == 0) 0.0 else kept.toDouble / inTable, "ratio"),
      "tables.s" -> Metric(per(reqs)(t => s(t.tablesNs)), "s"),
      "tables.schema_jobs" -> Metric(per(reqs)(_.jobsIn("tables").toDouble), "count"),
      "spark.exec_s" -> Metric(per(ts)(t => s(if (t.op.isSuite || t.op.isAppend)
        covered(Interval(t.op.start, t.op.end), t.jobs.map(j => Interval(j.start, j.end)))
        else t.execNs)), "s"),
      "spark.jobs" -> Metric(per(ts)(_.jobs.size.toDouble), "count"),
      "spark.stages" -> Metric(per(ts)(task(_.stages)), "count"),
      "spark.tasks" -> Metric(per(ts)(task(_.tasks)), "count"),
      "spark.executor_run_s" -> Metric(per(ts)(task(_.runMs)) / 1e3, "s"),
      "spark.executor_cpu_s" -> Metric(per(ts)(task(_.cpuNs)) / 1e9, "s"),
      "spark.input_bytes" -> Metric(per(ts)(task(_.inputBytes)), "bytes"),
      "spark.input_rows" -> Metric(per(ts)(task(_.inputRows)), "count"),
      "spark.shuffle_bytes" -> Metric(per(ts)(task(_.shuffleBytes)), "bytes"),
      "spark.spill_bytes" -> Metric(per(ts)(task(_.spillBytes)), "bytes"),
      "lakewriter.s" -> Metric(per(appends)(t => s(t.op.end - t.op.start)), "s"),
      "lakewriter.jobs" -> Metric(per(appends)(_.jobs.size.toDouble), "count"),
      "lakewriter.files_written" -> Metric(per(appends)(_.op.filesWritten.toDouble), "count"),
      "lakewriter.bytes_written" -> Metric(per(appends)(_.op.bytes.toDouble), "bytes"),
      "lakewriter.lateness_s" -> Metric(per(appends)(t => s(t.op.start - t.op.due)), "s"),
      "queries.build_s" -> Metric(per(suite)(t => s(t.spanNs("queries.build"))), "s"),
      "queries.plan_s" -> Metric(per(suite)(t => s(t.spanNs("queries.plan"))), "s"),
      "queries.exec_s" -> Metric(per(suite)(t => s(t.spanNs("queries.exec"))), "s"),
      "queries.eager_jobs" -> Metric(per(suite)(_.jobsIn("build", "plan").toDouble), "count"),
      "jvm.gc_s" -> Metric(if (ts.isEmpty) 0.0 else jvmDelta.gcMs / 1e3 / ts.size, "s"),
      "jvm.compile_s" -> Metric(if (ts.isEmpty) 0.0 else jvmDelta.jitMs / 1e3 / ts.size, "s"))
  }

  /** Per request kind: how many, latency, files kept and Spark jobs. */
  def byKind(ts: Seq[OpTrace]): Map[String, Map[String, Double]] =
    ts.groupBy(_.op.kind).map { case (k, g) =>
      k -> Map(
        "n" -> g.size.toDouble,
        "latency_p50_s" -> Stats.median(g.map(_.op.latencyS)),
        "table_files" -> g.map(_.tableFiles).sum.toDouble / g.size,
        "files_kept" -> g.map(_.filesKept).sum.toDouble / g.size,
        "schema_jobs" -> g.map(_.jobsIn("tables")).sum.toDouble / g.size,
        "spark_jobs" -> g.map(_.jobs.size).sum.toDouble / g.size,
        "build_jobs" -> g.map(_.jobsIn("engine", "tables")).sum.toDouble / g.size,
        "from_metadata_frac" -> g.count(_.answeredFromMetadata).toDouble / g.size)
    }
}
