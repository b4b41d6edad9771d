package graft

import java.io.File
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/**
 * Catalog backend abstraction — the reference selects its metadata
 * index implementation by config (`json` → filesystem metadata.json
 * walk, `redis` → redis-backed index), see
 * /root/reference/querier/queryClient.go:418-432 (table index) and
 * :660-666 (db index). [[Catalog]] is the `json` backend;
 * [[RedisCatalog]] is the `redis` one. [[Engine]] works against this
 * trait so the two are interchangeable.
 */
trait CatalogBackend {
  def databases: Seq[String]
  def tables(db: String): Seq[String]

  /**
   * Parquet paths for `db.table`, pruned to files whose zone map
   * overlaps `range` (inclusive epoch-ns bounds). Files with no stats
   * MUST be kept — pruning is an optimization, never a filter.
   */
  def prunedPaths(db: String, table: String, range: Option[(Long, Long)]): Seq[String]

  def tableExists(db: String, table: String): Boolean

  /**
   * Writer-side hook: record newly written files for `db.table` so
   * the backend can serve them from `prunedPaths` (and, with row
   * counts, from `metadataStats`). Default is a no-op — the json
   * backend discovers files from the `metadata.json` zone maps the
   * writer already leaves on disk; index-server backends (redis)
   * override this to publish entries. `LakeWriter.write(catalog =
   * Some(…))` calls it after a commit, keeping the backends
   * interchangeable end-to-end.
   */
  def register(db: String, table: String,
               entries: Seq[CatalogBackend.FileStat]): Unit = ()

  /**
   * Exact row count for `db.table` when the backend can PROVE it from
   * metadata alone — i.e. every file of the table carries a row_count
   * stat. None ⇒ the caller must scan (a single stat-less file makes
   * the metadata sum unprovable). Lets the engine answer unfiltered
   * `count(*)` without touching a byte of parquet.
   */
  def metadataRowCount(db: String, table: String): Option[Long] =
    metadataStats(db, table)._1

  /**
   * Every file's zone map for `db.table`, or None when the backend
   * cannot vouch that the entries cover the whole table. Metadata is
   * authoritative for the files it names. Both metadata aggregates
   * below derive from this one listing. Default None: a backend
   * without metadata never claims a provable aggregate.
   */
  protected def metadataEntries(db: String, table: String)
      : Option[Seq[CatalogBackend.FileStat]] = None

  /**
   * Both metadata aggregates from ONE metadata pass:
   * (provable row count, provable (min_time, max_time)). Each side is
   * independently None when unprovable.
   */
  def metadataStats(db: String, table: String)
      : (Option[Long], Option[(Long, Long)]) =
    metadataEntries(db, table).map(es => CatalogBackend.statsOf(es.map(_.stats)))
      .getOrElse((None, None))

  /**
   * Exact row count of `db.table` restricted to the INCLUSIVE time
   * range — provable only when every file is either fully inside the
   * range (counts whole) or fully outside it (counts zero): one
   * partially-overlapping or stat-less file ⇒ None ⇒ scan. The
   * day-aligned lake layout makes day/hour-bucketed counts provable
   * in the common case.
   */
  def metadataRangeCount(db: String, table: String,
                         range: (Long, Long)): Option[Long] =
    metadataEntries(db, table)
      .flatMap(es => CatalogBackend.rangeCountOf(es.map(_.stats), range))

  /**
   * Exact (min_time, max_time) over `db.table` when every file carries
   * time stats — a stat-less file could extend the range, so one makes
   * the bounds unprovable ⇒ None. Empty table ⇒ None (min/max of no
   * rows is NULL; let the scan produce it).
   */
  def metadataTimeBounds(db: String, table: String): Option[(Long, Long)] =
    metadataStats(db, table)._2

  /**
   * Writer-side hook: drop specific file entries (a compactor removing
   * the files it just replaced). Default no-op, like `register`.
   */
  def deregister(db: String, table: String, paths: Seq[String]): Unit = ()

  /**
   * Writer-side hook: drop every registered file entry for `db.table`.
   * Called by `LakeWriter.write` before `register` when the write mode
   * is Overwrite — the fresh part files have new names, so without a
   * clear the index would keep stale paths to deleted files and a
   * subsequent read of `prunedPaths` would fail on them. Default no-op
   * (the json backend's index IS the on-disk state the overwrite
   * already replaced).
   */
  def clear(db: String, table: String): Unit = ()
}

/**
 * The owner of the lake's per-file zone map `{path, row_count,
 * min_time, max_time}`: its type ([[FileStat]]), the stats job that
 * computes it for newly written files, its one JSON codec (shared by
 * the per-folder `metadata.json` and the redis stats hash), the one
 * `metadata.json` reader and writer, and the aggregates proved from it.
 */
object CatalogBackend {
  /** One file's zone map. A missing stat is unknown, never 0. */
  case class FileStat(path: String, minTime: Option[Long],
                      maxTime: Option[Long], rowCount: Option[Long] = None) {
    /** Overlap test on inclusive bounds; a missing bound never prunes. */
    def overlaps(range: Option[(Long, Long)]): Boolean = range.forall {
      case (start, end) => maxTime.forall(_ >= start) && minTime.forall(_ <= end)
    }

    /** (row count, bounds): the shape [[statsOf]]/[[rangeCountOf]] take. */
    def stats: (Option[Long], Option[(Long, Long)]) =
      (rowCount, for (mn <- minTime; mx <- maxTime) yield (mn, mx))
  }

  private[graft] val json = new ObjectMapper()

  /** The stats of `s` onto `out`; unknown stats are left out. */
  private def putStats(out: ObjectNode, s: FileStat): ObjectNode = {
    s.rowCount.foreach(out.put("row_count", _))
    s.minTime.foreach(out.put("min_time", _))
    s.maxTime.foreach(out.put("max_time", _))
    out
  }

  /** A zone map as JSON: `{path, row_count, min_time, max_time}`. */
  def encode(s: FileStat): ObjectNode =
    putStats(json.createObjectNode().put("path", s.path), s)

  /** The zone map in JSON object `n` for the file at `path`. */
  def decode(n: JsonNode, path: String): FileStat = {
    def l(f: String) = Option(n.get(f)).filter(_.isNumber).map(_.asLong())
    FileStat(path, l("min_time"), l("max_time"), l("row_count"))
  }

  /**
   * The one `metadata.json` reader: a folder's own zone map and its
   * file entries (an entry without `path` names no file and is
   * dropped). None when the folder has no readable metadata.json.
   */
  def readMeta(dir: File): Option[(FileStat, Seq[FileStat])] = {
    val f = new File(dir, "metadata.json")
    if (!f.isFile) None
    else scala.util.Try {
      val root = json.readTree(f)
      val files = Option(root.get("files")).toSeq.flatMap(_.elements().asScala)
      (decode(root, dir.getPath),
        files.flatMap(n => Option(n.get("path")).map(p => decode(n, p.asText()))))
    }.toOption
  }

  /**
   * The one `metadata.json` writer: merges `fresh` zone maps into the
   * folder's file. Entries are keyed by file name, as the read side
   * keys them: a fresh entry replaces its name's prior entry, a prior
   * entry whose file is gone drops, and every other prior entry is
   * kept as written (its `path` spelling and unknown stats included).
   * The folder's own zone map is recomputed over the merged set; its
   * row_count is left out unless every entry has one.
   */
  def mergeMeta(dir: File, fresh: Seq[FileStat]): Unit = {
    def name(e: FileStat) = new File(e.path).getName
    val named = fresh.map(e => e.copy(path = name(e)))
    val names = named.map(_.path).toSet
    val entries = readMeta(dir).fold(Seq.empty[FileStat])(_._2)
      .filter(e => !names(name(e)) && new File(dir, name(e)).isFile) ++ named
    val bounded = entries.filter(e => e.minTime.isDefined && e.maxTime.isDefined)
    val folder = FileStat(dir.getPath, bounded.flatMap(_.minTime).minOption,
      bounded.flatMap(_.maxTime).maxOption,
      if (entries.forall(_.rowCount.isDefined)) Some(entries.flatMap(_.rowCount).sum)
      else None)
    val root = putStats(json.createObjectNode().put("type", "parquet"), folder)
    root.putArray("files").addAll(entries.map(encode).asJava)
    json.writeValue(new File(dir, "metadata.json"), root)
  }

  /**
   * The stats job: per-file min/max/count of `timeCol` over the parquet
   * at `paths`, grouped by input file. One small aggregate whose
   * O(#files) result rows are metadata, not data. A file whose time
   * values are all NULL gets no bounds (kept unpruned).
   */
  def fileStats(spark: SparkSession, paths: Seq[String], timeCol: String): Seq[FileStat] = {
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min}
    if (paths.isEmpty) Nil
    else spark.read.parquet(paths: _*)
      .select(col(timeCol), input_file_name().as("file"))
      .groupBy(col("file"))
      .agg(min(timeCol), max(timeCol), count(lit(1)))
      .collect().toSeq.map { r =>
        def l(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        FileStat(LakeWriter.catalogPath(r.getString(0)), l(1), l(2), l(3))
      }
  }

  /**
   * Publishes freshly computed zone maps: registers them with the
   * backend, and on a local lake merges them into their folders'
   * `metadata.json`.
   */
  def publish(db: String, table: String, stats: Seq[FileStat], local: Boolean,
              catalog: Option[CatalogBackend]): Unit = {
    catalog.foreach(_.register(db, table, stats))
    if (local) stats.groupBy(s => new File(s.path).getParentFile)
      .foreach { case (dir, es) => mergeMeta(dir, es) }
  }

  /** (provable count, provable bounds) over per-file metadata entries
    * — each side independently None when any entry lacks its stat.
    * Empty entries ⇒ count 0 but no bounds (min/max of no rows is
    * NULL; a scan must produce it). */
  def statsOf(es: Seq[(Option[Long], Option[(Long, Long)])])
      : (Option[Long], Option[(Long, Long)]) = {
    val cnt = if (es.exists(_._1.isEmpty)) None else Some(es.flatMap(_._1).sum)
    val bs = es.map(_._2)
    val bounds =
      if (es.isEmpty || bs.exists(_.isEmpty)) None
      else Some((bs.flatten.map(_._1).min, bs.flatten.map(_._2).max))
    (cnt, bounds)
  }

  /** Provable row count within the INCLUSIVE range: files fully
    * inside count whole, fully outside count zero; a partial overlap
    * or a stat-less entry makes the count unprovable. */
  def rangeCountOf(es: Seq[(Option[Long], Option[(Long, Long)])],
                   range: (Long, Long)): Option[Long] = {
    val (lo, hi) = range
    es.foldLeft(Option(0L)) {
      case (acc, (rc, Some((mn, mx)))) =>
        if (mx < lo || mn > hi) acc // fully outside
        else if (mn >= lo && mx <= hi) for (a <- acc; c <- rc) yield a + c
        else None // partial overlap: the range splits this file
      case _ => None // no time stats: can't classify the file
    }
  }
}
