package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.{Catalog, Engine, SparkEntry}
import graft.server.QueryServer
import perfbench.Lake.{DayNs, HourNs}

/** One timed operation. Latency runs from `due` to `end`; `due` is the
  * scheduled time for the open-loop writer and the send time otherwise. */
final case class OpRec(id: Long, kind: String, due: Long, start: Long, end: Long,
                       ok: Boolean, error: String = "", bytes: Long = 0,
                       tableFiles: Int = 0, filesWritten: Int = 0, query: String = "") {
  def latencyS: Double = (end - due) / 1e9
  def isAppend: Boolean = kind == "append"
  /** The writer's read-after-append count, sent once its append returns. */
  def isAppendCheck: Boolean = kind == "append_check"
  def isSuite: Boolean = kind == "suite"
}

/** What a workload hands back. `t0` is when the first timed operation
  * began; `repeatedSetupS` is set-up time spent beyond the one median
  * lake build that `setup_s` counts. */
final case class Outcome(t0: Long, repeatedSetupS: Double, ops: Seq[OpRec], timedS: Double,
                         setupProblems: Seq[String])

final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, tracer: Option[Tracer],
                     dataDir: File, workDir: File) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()
  def deadline(t0: Long): Long = t0 + seconds * 1000000000L

  /** JVM counters when the timed phase began. */
  @volatile var jvmAtStart: Jvm.Snap = Jvm.snap()
  /** Marks the start of the timed phase and returns its time. */
  def startTimed(): Long = { jvmAtStart = Jvm.snap(); System.nanoTime() }

  /** Seconds spent in each part of set-up, for the record. */
  val setupParts = scala.collection.concurrent.TrieMap[String, Double]()
  def part[T](name: String)(body: => T): T = {
    val s = System.nanoTime()
    try body finally setupParts(name) = (System.nanoTime() - s) / 1e9
  }
}

/** HTTP client of the in-process gateway. */
final class Gateway(port: Int) {
  private val mapper = new ObjectMapper()
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** Sends `req` as operation `op` and checks the answer. */
  def run(op: Long, req: Req, tableFiles: Int): OpRec = {
    val body = mapper.writeValueAsString(
      mapper.createObjectNode().put("query", Tracer.tag(op, req.sql)).put("db", Lake.Db))
    val request = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query?format=${req.format}"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val s = System.nanoTime()
    val (status, text) =
      try {
        val r = http.send(request, HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      } catch { case e: Exception => (-1, e.toString) }
    val e = System.nanoTime()
    val err =
      if (status != 200) Some(s"HTTP $status: ${text.take(300)}")
      else scala.util.Try(Check(req.format, text, req.expect)).fold(t => Some(t.toString), identity)
    OpRec(op, req.kind, s, s, e, err.isEmpty, err.getOrElse(""),
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong, tableFiles)
  }
}

object Workloads {
  val Names: Seq[String] = Seq("dashboard", "wide_scan", "ingest", "operator_suite")

  /** Lake builds per run; `setup_s` counts the median one. */
  val LakeBuilds = 3
  /** Seconds between appends of the `ingest` writer. */
  val AppendPeriodS = 1.0
  /** Closed-loop readers beside the `ingest` writer. */
  val IngestReaders = 2
  /** Longest pause of an `ingest` reader before a request, in seconds. */
  val ReaderPauseMaxS = 0.3
  /** Seconds the `ingest` loop runs before its timed phase; a whole
    * number of append periods, so an append is due at the start. */
  val IngestWarmupS = 10
  /** `operator_suite` runs every `SuiteStride`-th query in name order. */
  val SuiteStride = 24

  def run(name: String, ctx: Ctx): Outcome = name match {
    case "dashboard" => dashboard(ctx)
    case "wide_scan" => wideScan(ctx)
    case "ingest" => ingest(ctx)
    case "operator_suite" => operatorSuite(ctx)
  }

  private def secs(ns: Long): Double = ns / 1e9

  /** Runs `body(i)` for i in 0 until `threads`, each on its own
    * thread, and waits for all of them. */
  private def parallel(threads: Int)(body: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => try body(i) catch { case e: Throwable => errors.add(e) })
      t.start(); t
    }
    ts.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  /** Gateway set-up shared by the three gateway workloads: source rows,
    * repeated lake builds, the engine and an in-process `QueryServer`. */
  private final class GatewaySetup(ctx: Ctx) {
    val source: IndexedSeq[Ev] = ctx.part("source_s")(Lake.loadSource(ctx.spark, ctx.dataDir))
    val start: Long = Lake.startOf(source)
    val lakeRows: IndexedSeq[Ev] = Lake.slice(source, start, start + Lake.Days * DayNs)
    val problems = new ConcurrentLinkedQueue[String]()

    private val builds: Seq[File] = (0 until LakeBuilds).map { i =>
      val root = new File(ctx.workDir, s"lake-$i")
      ctx.part(s"lake_build_${i}_s")(Lake.write(ctx.spark, root, lakeRows, SaveMode.Overwrite))
      root
    }
    val root: File = builds.last
    val files = new AtomicInteger(Lake.parquetFiles(root).size)
    if (files.get != Lake.Days * 24)
      problems.add(s"lake has ${files.get} files, expected ${Lake.Days * 24}")

    val engine: Engine = ctx.tracer match {
      case Some(t) =>
        new TracingEngine(ctx.spark, new TracingCatalog(new Catalog(root.getAbsolutePath), t), t)
      case None => new Engine(ctx.spark, new Catalog(root.getAbsolutePath))
    }
    private val server = new QueryServer(engine, port = 0, disableUi = true)
    ctx.part("server_start_s")(server.start())
    val gateway = new Gateway(server.boundPort)

    def send(req: Req): OpRec = gateway.run(ctx.nextId(), req, files.get)

    /** Untimed requests that warm the JIT and Spark's caches. A wrong
      * answer here fails the run like a timed one. */
    def warm(reqs: Seq[Req], clients: Int): Unit = ctx.part("warmup_s") {
      val next = new AtomicInteger(0)
      parallel(clients) { _ =>
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          val r = send(reqs(i))
          if (!r.ok) problems.add(s"warm-up ${r.kind}: ${r.error}")
          i = next.getAndIncrement()
        }
      }
    }

    def outcome(t0: Long, ops: Seq[OpRec]): Outcome = {
      val timedS = secs(System.nanoTime() - t0)
      server.stop()
      val times = builds.indices.map(i => ctx.setupParts(s"lake_build_${i}_s"))
      Outcome(t0, times.sum - Stats.median(times), ops, timedS,
        problems.toArray(Array.empty[String]).toSeq)
    }
  }

  /** `nproc` closed-loop clients share one seeded request stream. */
  def dashboard(ctx: Ctx): Outcome = {
    val g = new GatewaySetup(ctx)
    val clients = ctx.nproc
    g.warm(Traffic.dashboard(ctx.seed ^ 0x5eedL, g.lakeRows, g.start, 4 * clients), clients)
    val reqs = Traffic.dashboard(ctx.seed, g.lakeRows, g.start, 20 * ctx.seconds * clients)
    val next = new AtomicInteger(0)
    val out = new ConcurrentLinkedQueue[OpRec]()
    val t0 = ctx.startTimed()
    parallel(clients) { _ =>
      while (System.nanoTime() < ctx.deadline(t0))
        out.add(g.send(reqs(next.getAndIncrement() % reqs.size)))
    }
    g.outcome(t0, out.toArray(Array.empty[OpRec]).toSeq)
  }

  /** One closed-loop client sending whole `wideCycle`s. */
  def wideScan(ctx: Ctx): Outcome = {
    val g = new GatewaySetup(ctx)
    // warm the scan and encode paths without the two 240-file requests
    g.warm(Traffic.wideCycle(new scala.util.Random(ctx.seed ^ 0x5eedL), g.lakeRows, g.start)
      .filter(r => r.kind == "day" || r.kind == "export"), 1)
    val rnd = new scala.util.Random(ctx.seed)
    val ops = mutable.ArrayBuffer[OpRec]()
    val t0 = ctx.startTimed()
    // whole cycles only, so every run weighs the five shapes equally
    while (System.nanoTime() < ctx.deadline(t0))
      Traffic.wideCycle(rnd, g.lakeRows, g.start).foreach(r => ops += g.send(r))
    g.outcome(t0, ops.toList)
  }

  /**
   * An open-loop writer appends the next hour of source rows every
   * `AppendPeriodS` seconds and then counts that hour through the
   * gateway (read after append). `IngestReaders` closed-loop readers
   * run a GROUP BY over the latest 6 h written so far. The loop runs
   * `IngestWarmupS` seconds before the timed phase begins, so the JIT
   * has compiled the append and read paths; warm-up operations are
   * checked but not timed.
   */
  def ingest(ctx: Ctx): Outcome = {
    val g = new GatewaySetup(ctx)
    val hours = Lake.Days * 24
    // append k (0-based) writes lake hour `hours + k`
    val maxAppends = ((g.source.last.time - g.start) / HourNs).toInt + 1 - hours
    val completed = new AtomicInteger(0)
    val sc = ctx.spark.sparkContext
    val out = new ConcurrentLinkedQueue[OpRec]()
    val loopStart = System.nanoTime()
    val t0 = loopStart + (IngestWarmupS * 1e9).toLong
    parallel(1 + IngestReaders) {
      case 0 =>
        var k = 0
        var due = loopStart
        while (due < ctx.deadline(t0) && k < maxAppends) {
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          if (due == t0) ctx.startTimed()
          val op = ctx.nextId()
          ctx.tracer.foreach(_ => Tracer.setContext(sc, op, "lakewriter"))
          val lo = g.start + (hours + k) * HourNs
          val before = Lake.parquetFiles(g.root).map(_.getAbsolutePath).toSet
          val s = System.nanoTime()
          val err = scala.util.Try(Lake.write(ctx.spark, g.root,
            Lake.slice(g.source, lo, lo + HourNs), SaveMode.Append)).failed.toOption.map(_.toString)
          val e = System.nanoTime()
          completed.incrementAndGet()
          val after = Lake.parquetFiles(g.root)
          val added = after.filterNot(f => before(f.getAbsolutePath))
          g.files.set(after.size)
          val metaBytes = added.map(_.getParentFile).distinct
            .map(d => new File(d, "metadata.json").length()).sum
          out.add(OpRec(op, "append", due, s, e, err.isEmpty, err.getOrElse(""),
            added.map(_.length()).sum + metaBytes, filesWritten = added.size))
          out.add(g.send(Oracle.countRange("append_check", g.source, lo, lo + HourNs)))
          k += 1
          due = loopStart + (k * AppendPeriodS * 1e9).toLong
        }
      case reader =>
        // a seeded pause before each request keeps the readers from
        // locking into one phase against each other and the writer,
        // which made whole runs fast or slow
        val pauses = new scala.util.Random(ctx.seed * 31 + reader)
        def pause(): Unit = Thread.sleep((pauses.nextDouble() * ReaderPauseMaxS * 1e3).toLong)
        // hours before the last finished append are complete, so the
        // answer is exact even while the next append is in flight
        while ({ pause(); System.nanoTime() < ctx.deadline(t0) }) {
          val hi = g.start + (hours + completed.get) * HourNs
          out.add(g.send(Oracle.group("latest_6h", g.source, hi - 6 * HourNs, hi)))
        }
    }
    val (timed, warm) = out.toArray(Array.empty[OpRec]).toSeq.partition(_.due >= t0)
    warm.filterNot(_.ok).foreach(r => g.problems.add(s"warm-up ${r.kind}: ${r.error}"))
    g.outcome(t0, timed)
  }

  /** The fixed `operator_suite` sample, in name order. */
  def suiteSample: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.collect { case (n, i) if i % SuiteStride == 0 => n }

  /**
   * One client runs the suite sample through the `noop` sink. The
   * untimed warm-up pass executes each query once and checks its row
   * count; timed passes repeat the sample until the run time is spent.
   * The sample and its order are the same for every seed: a query's
   * latency depends on the queries before it, and seeded orders moved
   * the median by up to 13% between runs.
   */
  def operatorSuite(ctx: Ctx): Outcome = {
    val dir = new File(ctx.dataDir, "sf0.01").getAbsolutePath
    val expected: Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val n = new ObjectMapper().readTree(new File(ctx.dataDir, "suite_rows.json"))
      n.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }
    val sc = ctx.spark.sparkContext
    val queries = SparkEntry.queries
    val order = suiteSample
    val problems = mutable.ArrayBuffer[String]()
    def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    ctx.part("warmup_s")(order.foreach { name =>
      try {
        // one execution of the full plan both warms it and counts its rows
        val rows = ctx.part(s"warmup_${name}_s")(
          queries(name)(ctx.spark, dir).queryExecution.toRdd.count())
        if (!expected.get(name).contains(rows))
          problems += s"$name: $rows rows, expected ${expected.get(name)}"
      } catch { case e: Exception => problems += s"$name: $e" }
    })
    // a second, untimed pass on the timed path: the JIT was still
    // compiling through the first timed pass after one warm-up pass
    ctx.part("warmup_noop_s")(order.foreach { name =>
      scala.util.Try(consume(queries(name)(ctx.spark, dir)))
    })
    val ops = mutable.ArrayBuffer[OpRec]()
    val t0 = ctx.startTimed()
    while (System.nanoTime() < ctx.deadline(t0)) order.foreach { name =>
      val op = ctx.nextId()
      def phase[T](p: String)(body: => T): T = ctx.tracer match {
        case Some(t) => Tracer.setContext(sc, op, p); t.timed(op, s"queries.$p")(body)
        case None => body
      }
      val s = System.nanoTime()
      val err = scala.util.Try {
        val df = phase("build")(queries(name)(ctx.spark, dir))
        phase("plan")(df.queryExecution.executedPlan)
        phase("exec")(consume(df))
      }.failed.toOption.map(_.toString)
      ops += OpRec(op, "suite", s, s, System.nanoTime(), err.isEmpty, err.getOrElse(""), query = name)
    }
    Outcome(t0, 0.0, ops.toList, secs(System.nanoTime() - t0), problems.toList)
  }
}
