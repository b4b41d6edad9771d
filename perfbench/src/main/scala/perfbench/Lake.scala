package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.types._

/** One source event, with `time` in epoch nanoseconds (the lake contract). */
final case class Ev(eventId: Long, time: Long, userId: Long, eventType: String,
                    value: Double, props: String)

/**
 * The gateway lake and the source rows it is made from.
 *
 * The source is the `events` table of the sf0.1 test data, vendored
 * under `data/`. Its `ts` column becomes an int64-ns `time` column.
 * The lake holds the first `Lake.Days` days, written by
 * `LakeWriter.write(hourPartitions = true)` as one file per hour; the
 * rest of the rows are what the `ingest` workload appends.
 */
object Lake {
  val Db = "mydb"
  val Table = "events"
  val Days = 10
  val HourNs: Long = 3600L * 1000000000L
  val DayNs: Long = 24 * HourNs

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false),
    StructField("time", LongType, nullable = false)))

  /** All source events, sorted by time. */
  def loadSource(spark: SparkSession, dataDir: File): IndexedSeq[Ev] =
    spark.read.parquet(new File(dataDir, "events_sf0.1.parquet").getAbsolutePath)
      .select(col("event_id"), (unix_micros(col("ts").cast(TimestampType)) * 1000L).as("time"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4), r.getString(5)))
      .sortBy(e => (e.time, e.eventId))
      .toIndexedSeq

  /** First midnight at or before the earliest event. */
  def startOf(source: IndexedSeq[Ev]): Long = Math.floorDiv(source.head.time, DayNs) * DayNs

  def toDf(spark: SparkSession, rows: Seq[Ev]): DataFrame = {
    val list = new java.util.ArrayList[Row](rows.size)
    rows.foreach(e => list.add(Row(e.eventId, e.userId, e.eventType, e.value, e.props, e.time)))
    // partitioned by hour, so each hour folder receives exactly one file
    // and the hours are written in parallel
    spark.createDataFrame(list, schema).repartition(expr(s"time div $HourNs"))
  }

  /** Writes `rows` into the lake at `root` as hourly files. */
  def write(spark: SparkSession, root: File, rows: Seq[Ev], mode: SaveMode): Unit =
    graft.LakeWriter.write(root.getAbsolutePath, Db, Table, toDf(spark, rows),
      mode = mode, hourPartitions = true)

  def tableDir(root: File): File = new File(new File(root, Db), Table)

  /** Parquet files of the table, excluding hidden and staging folders. */
  def parquetFiles(root: File): Seq[File] = {
    def walk(d: File): Seq[File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        val n = f.getName
        if (n.startsWith("_") || n.startsWith(".") || n == "tmp") Nil
        else if (f.isDirectory) walk(f)
        else if (n.endsWith(".parquet")) Seq(f)
        else Nil
      }
    walk(tableDir(root))
  }

  /** Rows with `lo <= time < hi` (the source is sorted by time). */
  def slice(source: IndexedSeq[Ev], lo: Long, hi: Long): IndexedSeq[Ev] = {
    val from = lowerBound(source, lo)
    source.slice(from, lowerBound(source, hi))
  }

  private def lowerBound(source: IndexedSeq[Ev], t: Long): Int = {
    var lo = 0; var hi = source.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (source(mid).time < t) lo = mid + 1 else hi = mid
    }
    lo
  }
}
