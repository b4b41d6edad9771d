package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{CatalogBackend, Engine}
import perfbench.Stats.Interval

/** One timed call into a layer, made on behalf of operation `op`.
  * `count` carries the call's result size where it has one (files). */
final case class Span(op: Long, name: String, start: Long, end: Long, count: Long = 0) {
  def interval: Interval = Interval(start, end)
}

/** One Spark job, attributed to the operation and phase that were set
  * as local properties on the thread that launched it. */
final case class JobRec(op: Long, phase: String, start: Long, end: Long)

/** Task metrics summed per operation. */
final class TaskTotals {
  var tasks = 0L; var stages = 0L
  var runMs = 0L; var cpuNs = 0L
  var inputBytes = 0L; var inputRows = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
}

/**
 * In-memory span recorder. Spans are kept until the run ends; nothing
 * is written while the workload runs.
 *
 * Spark reports job times in epoch milliseconds; spans use
 * `System.nanoTime`. `toNano` maps the former onto the latter.
 */
final class Tracer {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val epochNsAtZero = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def toNano(epochMs: Long): Long = epochMs * 1000000L - epochNsAtZero

  private val currentOp = new ThreadLocal[java.lang.Long]
  def bind(op: Long): Unit = currentOp.set(op)
  def current: Long = Option(currentOp.get).map(_.longValue).getOrElse(-1L)

  def timed[T](op: Long, name: String)(body: => T): T = {
    val s = System.nanoTime()
    try body finally spans.add(Span(op, name, s, System.nanoTime()))
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  /** Every request's SQL starts with this comment; the traced engine
    * reads the operation id from it. Untraced runs send it too, so
    * both runs give the program identical input. */
  def tag(op: Long, sql: String): String = s"/* op $op */ $sql"
  private val TagRe = """^\s*/\* op (\d+) \*/""".r.unanchored
  def opOf(sql: String): Long = sql match {
    case TagRe(id) => id.toLong
    case _ => -1L
  }

  def setContext(sc: SparkContext, op: Long, phase: String): Unit = {
    sc.setLocalProperty(OpKey, op.toString)
    sc.setLocalProperty(PhaseKey, phase)
  }
  def setPhase(sc: SparkContext, phase: String): Unit = sc.setLocalProperty(PhaseKey, phase)
}

/** `Engine` with spans around its public `query` and `readTable`. */
final class TracingEngine(spark: SparkSession, catalog: CatalogBackend, tracer: Tracer)
    extends Engine(spark, catalog) {
  private val sc = spark.sparkContext

  override def query(sql0: String, db0: String): DataFrame = {
    val op = Tracer.opOf(sql0)
    tracer.bind(op)
    Tracer.setContext(sc, op, "engine")
    try tracer.timed(op, "engine.query")(super.query(sql0, db0))
    finally Tracer.setPhase(sc, "exec") // the server encodes on this thread next
  }

  override def readTable(db: String, table: String, range: Option[(Long, Long)]): DataFrame = {
    val op = tracer.current
    Tracer.setPhase(sc, "tables")
    try tracer.timed(op, "tables.readTable")(super.readTable(db, table, range))
    finally Tracer.setPhase(sc, "engine")
  }
}

/** `CatalogBackend` that times every call and forwards it unchanged. */
final class TracingCatalog(inner: CatalogBackend, tracer: Tracer) extends CatalogBackend {
  private def t[T](name: String)(body: => T): T = tracer.timed(tracer.current, name)(body)

  def databases: Seq[String] = t("catalog.databases")(inner.databases)
  def tables(db: String): Seq[String] = t("catalog.tables")(inner.tables(db))
  def prunedPaths(db: String, table: String, range: Option[(Long, Long)]): Seq[String] = {
    val s = System.nanoTime()
    val out = inner.prunedPaths(db, table, range)
    tracer.spans.add(Span(tracer.current, "catalog.prunedPaths", s, System.nanoTime(), out.size))
    out
  }
  def tableExists(db: String, table: String): Boolean =
    t("catalog.tableExists")(inner.tableExists(db, table))
  override def register(db: String, table: String, entries: Seq[CatalogBackend.FileStat]): Unit =
    t("catalog.register")(inner.register(db, table, entries))
  override def metadataRowCount(db: String, table: String): Option[Long] =
    t("catalog.metadataRowCount")(inner.metadataRowCount(db, table))
  override def metadataStats(db: String, table: String): (Option[Long], Option[(Long, Long)]) =
    t("catalog.metadataStats")(inner.metadataStats(db, table))
  override def metadataRangeCount(db: String, table: String, range: (Long, Long)): Option[Long] =
    t("catalog.metadataRangeCount")(inner.metadataRangeCount(db, table, range))
  override def metadataTimeBounds(db: String, table: String): Option[(Long, Long)] =
    t("catalog.metadataTimeBounds")(inner.metadataTimeBounds(db, table))
  override def deregister(db: String, table: String, paths: Seq[String]): Unit =
    t("catalog.deregister")(inner.deregister(db, table, paths))
  override def clear(db: String, table: String): Unit = t("catalog.clear")(inner.clear(db, table))
}

/** Attributes jobs, stages and task metrics to operations through the
  * local properties set on the launching thread. */
final class OpListener(tracer: Tracer) extends SparkListener {
  private val lock = new Object
  private val jobOpen = mutable.Map[Int, (Long, String, Long)]()
  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val stageOp = mutable.Map[Int, Long]()
  private val totals = mutable.Map[Long, TaskTotals]()

  private def tot(op: Long) = totals.getOrElseUpdate(op, new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Tracer.OpKey))).map(_.toLong).getOrElse(-1L)
    val phase = props.flatMap(p => Option(p.getProperty(Tracer.PhaseKey))).getOrElse("none")
    jobOpen(e.jobId) = (op, phase, tracer.toNano(e.time))
    e.stageIds.foreach(stageOp(_) = op)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobOpen.remove(e.jobId).foreach { case (op, phase, start) =>
      jobs += JobRec(op, phase, start, math.max(start, tracer.toNano(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(op => tot(op).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    stageOp.get(e.stageId).foreach { op =>
      val t = tot(op)
      t.tasks += 1
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.inputRows += m.inputMetrics.recordsRead
        t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Jobs and task totals so far; call after the listener bus drained. */
  def snapshot(): (Seq[JobRec], Map[Long, TaskTotals]) =
    lock.synchronized((jobs.toList, totals.toMap))
}
