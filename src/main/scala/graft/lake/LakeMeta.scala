package graft.lake

import org.apache.spark.sql.SparkSession

/** Driver-side metadata reads for engine-internal fast paths.
  *
  * The streaming ingest loops consult table metadata every epoch —
  * replay guards walk main-history commit tags, maintenance triggers
  * count live files, the IVF ingest resolves its build ref. Routing
  * those through SQL (`CALL ancestors_of`, the `.files`/`.refs`
  * metadata tables) costs 2–3 scheduled Spark jobs EACH: correct, but
  * ~0.1–0.5 s of scheduler round-trip per job that lands inside every
  * epoch's wall clock (measured ~3 s/epoch of pure metadata constant
  * at sf0.1 — a quarter of the whole epoch). The same facts live in
  * the catalog's metadata log as one small JSON read, so engine code
  * on the driver reads them directly; the SQL surfaces stay the
  * user-facing (and spec-verification) path.
  *
  * Freshness: [[LakeCatalog.loadMeta]] reads the log's current
  * version on every call — no caching, so a read after a commit
  * (same process or foreign) sees that commit, exactly like the
  * metadata tables would.
  */
object LakeMeta {

  /** Load `parts`' current table metadata through its lake catalog
    * (e.g. `Seq("lakeq", "db", table)`). Read-only. */
  def of(spark: SparkSession, parts: Seq[String]): TableMeta = {
    val (cat, ident) = LakeDdl.resolve(spark, parts)
    cat.loadMeta(ident)
  }

  /** Main-history ancestors of `parts`' table, nearest first; empty
    * when the table has no snapshots yet. */
  def mainAncestors(spark: SparkSession, parts: Seq[String])
      : Seq[SnapshotMeta] = {
    val m = of(spark, parts)
    m.currentSnapshotId("main").map(m.ancestorsOf).getOrElse(Nil)
  }

  /** Live data-file count of the current main snapshot — what the
    * `.files` metadata table counts. A spilled head (file list past
    * the spill threshold, a parquet manifest) is counted from its
    * parquet FOOTERS, not by forcing the manifest: the callers are
    * per-epoch maintenance triggers, and materializing a
    * million-entry manifest to count it would cost exactly what the
    * trigger exists to avoid. A JSON manifest is one cached read. */
  def liveFileCount(spark: SparkSession, parts: Seq[String]): Long = {
    val (cat, ident) = LakeDdl.resolve(spark, parts)
    cat.loadMeta(ident).currentSnapshot("main").map(s =>
      Manifests.unforcedSpill(s.files) match {
        case Some(l) => Manifests.countRows(l.dir, cat.hadoopConf)
        case None => s.files.size.toLong
      }).getOrElse(0L)
  }
}
