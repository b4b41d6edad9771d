package graft

import java.io.File
import graft.CatalogBackend.FileStat

/**
 * Lake catalog: resolves `db.table` to a minimal list of parquet files
 * using directory layout + per-folder `metadata.json` zone maps.
 *
 * Mirrors the reference's catalog/pruning layer semantics
 * (/root/reference/querier/queryClient.go:340-391,436-539):
 *  - a database is a directory under the root; a table ("measurement")
 *    a directory under that;
 *  - `tmp/` directories are skipped as half-written (:496-499);
 *  - a folder-level `metadata.json` carries `{min_time, max_time,
 *    files:[{path, min_time, max_time, ...}]}` — int64 epoch-ns zone
 *    maps at folder and file granularity (:340-356);
 *  - a folder whose [min,max] misses the query range is skipped
 *    without listing its files; same per file (:370-383);
 *  - files not covered by any metadata.json are kept (no stats → no
 *    pruning, correctness preserved — pruning is an optimization
 *    only, quirk §2.3-7).
 *
 * This is driver-side path pruning BEFORE `spark.read.parquet`, the
 * Spark-idiomatic analog of the reference's scan planning: at 100 TB
 * the file listing is O(metadata), and everything that survives
 * pruning still gets Catalyst partition pruning + parquet row-group
 * min/max pushdown below it.
 */
class Catalog(val root: String) extends CatalogBackend {

  private def subdirs(f: File): Seq[File] =
    Option(f.listFiles()).map(_.toSeq.filter(d => d.isDirectory &&
      !d.getName.startsWith("_") && !d.getName.startsWith("."))).getOrElse(Nil)

  def databases: Seq[String] = subdirs(new File(root)).map(_.getName).sorted

  def tables(db: String): Seq[String] =
    subdirs(new File(root, db)).map(_.getName).sorted

  /** One folder of a table: its metadata.json entries (Nil without
    * one) and the parquet files on disk in it. */
  private case class Folder(entries: Seq[FileStat], parquets: Seq[File]) {
    lazy val byName: Map[String, FileStat] =
      entries.map(e => new File(e.path).getName -> e).toMap
  }

  /** The one recursive walk of a table's folders; a folder whose zone
    * map misses `range` is skipped without listing its files. */
  private def walk(db: String, table: String,
                   range: Option[(Long, Long)]): Seq[Folder] = {
    def go(dir: File): Seq[Folder] = {
      // tmp/ = half-written data (reference convention); _/. prefixes =
      // hidden sidecars (Hadoop convention — Spark's own FileIndex
      // ignores them too, e.g. the _signatures dedup store)
      if (dir.getName == "tmp" || dir.getName.startsWith("_") ||
          dir.getName.startsWith(".")) return Nil
      val meta = CatalogBackend.readMeta(dir)
      if (meta.exists(!_._1.overlaps(range))) return Nil
      val here = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
      Folder(meta.fold(Seq.empty[FileStat])(_._2),
        here.filter(f => f.isFile && f.getName.endsWith(".parquet"))) +:
        here.filter(_.isDirectory).flatMap(go)
    }
    go(new File(new File(root, db), table))
  }

  /** The table's on-disk parquet files with their zone maps (a file no
    * metadata.json names has none), pruned to those overlapping `range`. */
  def files(db: String, table: String,
            range: Option[(Long, Long)] = None): Seq[FileStat] =
    walk(db, table, range).flatMap { f =>
      f.parquets.map(p => f.byName.get(p.getName)
        .fold(FileStat(p.getAbsolutePath, None, None))(_.copy(path = p.getAbsolutePath)))
    }.filter(_.overlaps(range))

  def prunedPaths(db: String, table: String,
                  range: Option[(Long, Long)]): Seq[String] =
    files(db, table, range).map(_.path).sorted

  def tableExists(db: String, table: String): Boolean =
    new File(new File(root, db), table).isDirectory

  /** All metadata.json entries, or None if any on-disk parquet file is
    * not named by one (an uncovered file holds rows/times the sums
    * would miss). An entry whose file is gone still counts: metadata is
    * authoritative for the files it names. */
  override protected def metadataEntries(db: String, table: String)
      : Option[Seq[FileStat]] =
    if (!tableExists(db, table)) None
    else {
      val folders = walk(db, table, None)
      if (folders.forall(f => f.parquets.forall(p => f.byName.contains(p.getName))))
        Some(folders.flatMap(_.entries))
      else None
    }
}
