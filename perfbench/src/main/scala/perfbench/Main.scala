package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/**
 * Runs one workload and prints its result as the last line of stdout:
 * `{"correct", "attempted", "failed", "metrics"}`, with the end-to-end
 * metrics when `--trace 0` and the per-layer metrics when `--trace 1`.
 * A fuller report (set-up parts, per-kind breakdown, first errors) goes
 * to `--report`.
 *
 * Usage: Main --workload NAME --seed N --seconds S --trace 0|1
 *             --data DIR --work DIR --report FILE
 */
object Main {
  def main(argv: Array[String]): Unit = {
    // exit explicitly: the server's worker threads are not daemons
    val code = try { run(argv); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val opts = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.Names.contains(workload), s"unknown workload '$workload'")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => sys.error(s"--trace must be 0 or 1, not '$t'")
    }
    val workDir = new File(need("work"))
    val spark = session(workDir, Runtime.getRuntime.availableProcessors())
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = if (trace) Some(new Tracer) else None
    val listener = tracer.map(t => new OpListener(t))
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = Ctx(spark, need("seed").toLong, need("seconds").toInt, tracer,
      new File(need("data")), workDir)

    val outcome = Workloads.run(workload, ctx)
    val jvmDelta = {
      val now = Jvm.snap()
      Jvm.Snap(now.gcMs - ctx.jvmAtStart.gcMs, now.jitMs - ctx.jvmAtStart.jitMs)
    }
    listener.foreach(_ => org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext))
    // set-up runs from JVM start to the first timed operation, with the
    // repeated lake builds counted once, at their median
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val setupS = (outcome.t0 - jvmStartNs) / 1e9 - outcome.repeatedSetupS
    val heapMb = Jvm.liveHeapMb()
    val e2e = Report.endToEnd(outcome, setupS, heapMb)
    val traces = (tracer zip listener).map { case (t, l) =>
      val (jobs, tasks) = l.snapshot()
      Report.traces(outcome.ops, t.spans.toArray(Array.empty[Span]).toSeq, jobs, tasks)
    }
    val failed = outcome.ops.count(!_.ok)
    val printed = traces.map(Report.perLayer(_, jvmDelta)).getOrElse(e2e)

    val mapper = new ObjectMapper()
    def metricsNode(ms: Map[String, Metric]): ObjectNode = {
      val n = mapper.createObjectNode()
      ms.toSeq.sortBy(_._1).foreach { case (k, m) =>
        n.putObject(k).put("value", m.value).put("unit", m.unit)
      }
      n
    }
    val report = mapper.createObjectNode()
    report.put("workload", workload).put("seed", ctx.seed).put("seconds", ctx.seconds)
      .put("trace", trace).put("nproc", ctx.nproc).put("timed_s", outcome.timedS)
      .put("gc_s", jvmDelta.gcMs / 1e3).put("jit_s", jvmDelta.jitMs / 1e3)
    report.set[ObjectNode]("end_to_end", metricsNode(e2e))
    val extras = report.putObject("extras")
    Report.extras(outcome).foreach { case (k, v) => extras.put(k, v) }
    val setup = report.putObject("setup_detail")
      .put("session_s", (sessionReadyMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    ctx.setupParts.toSeq.sorted.foreach { case (k, v) => setup.put(k, v) }
    traces.foreach { ts =>
      report.set[ObjectNode]("per_layer", metricsNode(Report.perLayer(ts, jvmDelta)))
      val kinds = report.putObject("by_kind")
      Report.byKind(ts).foreach { case (k, m) =>
        val n = kinds.putObject(k)
        m.foreach { case (f, v) => n.put(f, v) }
      }
      val perOp = report.putArray("ops")
      ts.sortBy(_.op.start).foreach { t =>
        perOp.addObject().put("id", t.op.id).put("kind", t.op.kind).put("query", t.op.query)
          .put("ok", t.op.ok)
          .put("start_s", (t.op.start - outcome.t0) / 1e9).put("latency_s", t.op.latencyS)
          .put("build_s", t.buildNs / 1e9).put("exec_s", t.execNs / 1e9)
          .put("tables_s", t.tablesNs / 1e9).put("catalog_s", t.catalogNs / 1e9)
          .put("spark_jobs", t.jobs.size).put("schema_jobs", t.jobsIn("tables"))
          .put("files_kept", t.filesKept).put("table_files", t.tableFiles)
      }
    }
    val byKind = report.putObject("latency_by_kind")
    outcome.ops.groupBy(o => if (o.isSuite) o.query else o.kind).toSeq.sortBy(_._1).foreach {
      case (k, os) =>
        val l = os.map(_.latencyS)
        byKind.putObject(k).put("n", l.size).put("p50_s", Stats.median(l)).put("max_s", l.max)
    }
    val errs = report.putArray("errors")
    (outcome.setupProblems ++ outcome.ops.filterNot(_.ok).map(o => s"${o.kind} ${o.query}: ${o.error}"))
      .take(20).foreach(errs.add)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(need("report")), report)

    val result = mapper.createObjectNode()
    result.put("correct", failed == 0 && outcome.setupProblems.isEmpty && outcome.ops.nonEmpty)
      .put("attempted", outcome.ops.size).put("failed", failed)
    result.set[ObjectNode]("metrics", metricsNode(printed))
    spark.stop()
    println(mapper.writeValueAsString(result))
  }

  /** The session `QueryServer.main` builds (FAIR scheduling, a 4096-entry
    * codegen cache), on `local[nproc]`, with every scratch directory
    * inside `workDir`. */
  def session(workDir: File, nproc: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.LogNoise.silenceFairPoolWarnings()
    spark
  }
}
