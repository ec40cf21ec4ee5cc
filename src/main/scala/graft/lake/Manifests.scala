package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Encoders, SparkSession}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import java.nio.charset.StandardCharsets
import java.util.{Collections, LinkedHashMap, Map => JMap}

/** Per-snapshot manifests: each snapshot's data-file list, written once.
  *
  * Metadata layout of a table at `<location>`:
  *  - `metadata/v{N}.json` ([[MetadataLog]]): one immutable version per
  *    commit. Per snapshot it holds the summary, the position and
  *    equality delete-file lists, and `manifestPath`, a pointer to the
  *    snapshot's data-file manifest. It holds no data-file list.
  *  - `metadata/manifests/m-<snapshotId>-<rand>.json`: the data-file
  *    list as one gzipped JSON array, for lists at or below
  *    `write.metadata.manifest.spill-threshold` (default 500) entries.
  *    Written and read on the driver, no Spark job.
  *  - `metadata/manifests/m-<snapshotId>-<rand>/`: a parquet directory
  *    for longer lists. It is splittable, so filtered planning
  *    ([[readPruned]]) and maintenance ([[dataPathsDf]]) scan it in a
  *    Spark job instead of materializing it on the driver.
  *
  * The commit that creates a snapshot writes its manifest; every later
  * version carries the pointer, so a commit writes its own snapshot's
  * list, not the history's. A snapshot with no data files has no
  * manifest.
  *
  * Pointers are stored relative to `<location>/metadata/`
  * (`manifests/m-…`) and resolve against the directory the table is
  * loaded from, so a renamed table keeps reading. Absolute pointers,
  * written before pointers became relative, still load; one under the
  * location its version file records moves with the table.
  *
  * A loaded snapshot's `files` is a [[LazyManifestFiles]] that reads
  * through a process-wide cache on first access. Manifests are
  * immutable, so the cache needs no invalidation. Version files written
  * before per-snapshot manifests carry inline lists: they load as they
  * are, and the next commit writes a manifest for each snapshot.
  */
object Manifests {
  implicit private val fmts: Formats = DefaultFormats

  val ThresholdKey = "write.metadata.manifest.spill-threshold"
  val DefaultThreshold = 500

  // Access-ordered LRU: a workload touching more than MaxCacheEntries
  // manifests evicts one entry per insert, not the whole cache (a
  // clear-all would refetch every manifest on the next planning round).
  private val MaxCacheEntries = 64
  private val cache: JMap[String, Seq[DataFileMeta]] =
    Collections.synchronizedMap(
      new LinkedHashMap[String, Seq[DataFileMeta]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: JMap.Entry[String, Seq[DataFileMeta]]): Boolean =
          size() > MaxCacheEntries
      })

  /** Spec observability: whether the manifest `pointer` names is
    * materialized in the process-wide cache (a forced read puts it
    * there; [[countRows]]' footer path never does). */
  private[lake] def cachedForTesting(pointer: String): Boolean =
    cache.synchronized {
      val it = cache.keySet().iterator()
      var hit = false
      while (!hit && it.hasNext) hit = it.next().endsWith(pointer)
      hit
    }

  def threshold(meta: TableMeta): Int =
    meta.properties.get(ThresholdKey).map(_.toInt).getOrElse(DefaultThreshold)

  /** Absolute path of `pointer` for a table loaded from `location`
    * whose version file records the location `recorded`. */
  private[lake] def resolve(location: String, recorded: String,
      pointer: String): String = {
    val legacyRoot = s"$recorded/metadata/"
    if (!new Path(pointer).isAbsolute) s"$location/metadata/$pointer"
    else if (pointer.startsWith(legacyRoot))
      s"$location/metadata/${pointer.substring(legacyRoot.length)}"
    else pointer
  }

  /** Absolute path of `pointer` in `meta`'s table. */
  private[lake] def pathOf(meta: TableMeta, pointer: String): String =
    resolve(meta.location, meta.location, pointer)

  /** A parquet spill rather than a JSON manifest. */
  private[lake] def isSpill(pointer: String): Boolean =
    !pointer.endsWith(".json")

  /** A snapshot as the version JSON stores it (`json`) and as the
    * committer keeps it in memory (`live`), plus the path and byte
    * size of the manifest slimming it wrote, if any. */
  private[lake] final case class Slimmed(json: SnapshotMeta,
      live: SnapshotMeta, written: Option[(String, Long)])

  /** Slim a snapshot for the version JSON. A file list still attached
    * to its manifest, or shared with another snapshot of this table,
    * commits by pointer with no I/O; a list that matches its pointer's
    * stored content keeps the pointer; any other non-empty list gets a
    * fresh manifest.
    *
    * Manifests this slim stops referencing are NOT deleted, not even
    * after the commit wins the CAS: a reader that loaded the table
    * earlier may hold an unforced [[LazyManifestFiles]] into one.
    * `expire_snapshots` and `remove_orphan_files`' age-guarded sweep
    * reclaim them. A failure to read an existing manifest propagates
    * (the commit fails, nothing changes on disk): treating it as a
    * content mismatch would write a replacement on a transient I/O
    * error. */
  private[lake] def slim(meta: TableMeta, s: SnapshotMeta,
      conf: Configuration): Slimmed = {
    def fresh(): Slimmed = {
      val list = s.files.toVector
      val (p, written) = write(meta, s.snapshotId, list, conf)
      Slimmed(s.copy(files = Nil, manifestPath = Some(p)),
        s.copy(files = LazyManifestFiles.written(p, written._1, list),
          manifestPath = Some(p)),
        Some(written))
    }
    val attached = s.files match {
      case l: LazyManifestFiles if s.manifestPath.forall(_ == l.pointer) =>
        Some(l)
      case _ => None
    }
    attached match {
      case Some(l) if l.dir == pathOf(meta, l.pointer) =>
        val p = Some(l.pointer)
        Slimmed(s.copy(files = Nil, manifestPath = p),
          s.copy(manifestPath = p), None)
      case _ if s.files.isEmpty =>
        val empty = s.copy(files = Nil, manifestPath = None)
        Slimmed(empty, empty, None)
      // another table's manifest (register_table, snapshot): this table
      // gets its own copy, so neither's expiry can delete the other's
      case Some(_) => fresh()
      case None => s.manifestPath match {
        case Some(p) if read(pathOf(meta, p), conf) == s.files =>
          Slimmed(s.copy(files = Nil), s, None)
        case _ => fresh()
      }
    }
  }

  /** A fresh manifest for `s` with its entries clustered by partition
    * tuple: the working half of `rewrite_manifests`. A planner pruning
    * on partition stats then reads a contiguous slice of a spill, and a
    * list that crossed the threshold changes form. Returns the snapshot
    * attached to the new manifest; the old one stays on disk for
    * already-loaded readers and retires via `remove_orphan_files`. */
  private[lake] def rewrite(meta: TableMeta, s: SnapshotMeta,
      conf: Configuration): SnapshotMeta = {
    val clustered = s.files.sortBy(f =>
      (f.partitionValues.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString("/"), f.path)).toVector
    val (p, (path, _)) = write(meta, s.snapshotId, clustered, conf)
    s.copy(files = LazyManifestFiles.written(p, path, clustered),
      manifestPath = Some(p))
  }

  /** Physically delete manifests and drop them from the cache. Only
    * for manifests no reader can hold a pointer to: a failed attempt's
    * fresh ones (never committed, never loaded) and maintenance
    * sweeps that own their own age/liveness guards. */
  private[lake] def drop(paths: Seq[String], conf: Configuration): Unit =
    paths.foreach { p =>
      scala.util.Try(MetadataLog.fs(p, conf).delete(new Path(p), true))
      cache.remove(p)
    }

  /** Hydrate a snapshot loaded from JSON, lazily: table load cost must
    * not scale with snapshot count, so the wrapper reads its manifest
    * the first time the list is used. `location` is where the table is
    * loaded from, `recorded` the location its version file names. */
  def hydrate(s: SnapshotMeta, location: String, recorded: String,
      conf: Configuration): SnapshotMeta =
    s.manifestPath match {
      case Some(p) if s.files.isEmpty =>
        s.copy(files = new LazyManifestFiles(p,
          resolve(location, recorded, p), conf))
      case _ => s
    }

  /** Write `list` as snapshot `snapshotId`'s manifest: a JSON file at
    * or below the threshold, a parquet spill above it. Returns the
    * relative pointer and the written path with its size on disk. */
  private def write(meta: TableMeta, snapshotId: Long,
      list: Vector[DataFileMeta], conf: Configuration)
      : (String, (String, Long)) = {
    val name = s"m-$snapshotId-${java.util.UUID.randomUUID().toString.take(8)}"
    val spill = list.size > threshold(meta)
    val pointer = if (spill) s"manifests/$name" else s"manifests/$name.json"
    val path = pathOf(meta, pointer)
    val bytes =
      if (spill) {
        writeSpill(path, list)
        MetadataLog.fs(path, conf).getContentSummary(new Path(path)).getLength
      } else {
        MetadataLog.createNew(new Path(path),
          Serialization.write(list).getBytes(StandardCharsets.UTF_8), conf)
      }
    cachePut(path, list)
    (pointer, (path, bytes))
  }

  // Multi-file spills do NOT read back in write order (split planning
  // reorders): an explicit ordinal restores it, keeping the
  // reuse-by-content check stable across cold starts.
  private def writeSpill(dir: String, files: Seq[DataFileMeta]): Unit = {
    val spark = SparkSession.active
    spark.createDataset(files.zipWithIndex.map(_.swap))(
        Encoders.product[(Int, DataFileMeta)])
      .toDF("ord", "file")
      .coalesce(math.max(1, files.size / 100000))
      .write.options(LocalFs.options).mode("overwrite").parquet(dir)
  }

  /** `files` when it is a parquet spill not yet read into memory: the
    * lists planning and maintenance prune or scan in a Spark job rather
    * than materialize. A JSON manifest is one cached driver read and
    * counts as materialized. */
  private[lake] def unforcedSpill(files: Seq[DataFileMeta])
      : Option[LazyManifestFiles] = files match {
    case l: LazyManifestFiles if isSpill(l.dir) && !l.isForced => Some(l)
    case _ => None
  }

  /** Count of files the last pruned planning pass materialized on the
    * driver — observability hook for specs and planning diagnostics. */
  private[lake] val lastPrunedPlanCount =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Distributed pruned planning over a parquet spill (the 100 TB
    * seam): instead of collecting a spilled snapshot's whole file list
    * to the driver and pruning there — O(all files) driver memory and
    * latency per query at millions of files — ship the scan predicates
    * to a Spark job over the manifest parquet and collect only the
    * SURVIVING entries. The executors evaluate the very same
    * [[FileStats.mayMatch]] the driver-side prune uses, so pruned
    * planning can never change results; `rewrite_manifests` clusters
    * entries by partition tuple, so selective predicates touch a
    * contiguous slice of the manifest. The partial result is NOT
    * cached (the cache holds only full manifests). */
  private[lake] def readPruned(dir: String,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      schema: org.apache.spark.sql.types.StructType,
      conf: Configuration,
      renames: Map[Int, Map[String, String]] = Map.empty,
      parts: PartitionPruning = PartitionPruning.none)
      : Seq[DataFileMeta] = {
    val cached = cache.get(dir)
    if (cached != null)
      return FileStats.prune(cached, filters, schema, renames, parts)
    val spark = SparkSession.active
    val df = spark.read.parquet(dir)
    val entries = withSeq(
      if (df.columns.contains("ord")) df.select("file.*")
      else df) // legacy ordinal-free spill
    // per-epoch filter/schema views precompute on the driver and ship
    // in the task closure (Filter/StructType are serializable) — the
    // same epoch-name mapping FileStats.prune applies, or the
    // distributed path would re-introduce the rename-swap unsoundness
    val byEpoch: Map[Int, (Seq[org.apache.spark.sql.sources.Filter],
      org.apache.spark.sql.types.StructType)] =
      renames.map { case (e, rn) =>
        e -> (filters.flatMap(LakeScans.renameFilter(_, rn)),
          LakeScans.mapNamesDotted(schema, rn))
      }
    val survivors = entries.as(Encoders.product[DataFileMeta])
      .filter { f =>
        val (fs, sch) = byEpoch.getOrElse(f.schemaEpoch, (filters, schema))
        fs.forall(FileStats.mayMatch(f, _, sch, parts))
      }
      .collect().toSeq
    lastPrunedPlanCount.set(survivors.size)
    survivors
  }

  /** One-column (`path`, scheme-normalized) DataFrame of every data
    * file across `snapshots`, computed WITHOUT hydrating parquet
    * spills on the driver — the maintenance-side twin of
    * [[readPruned]]. Unforced spills contribute one multi-dir parquet
    * scan evaluated on executors; JSON manifests and materialized lists
    * ship from the driver. expire_snapshots / remove_orphan_files
    * difference their live and on-disk path sets through anti-joins
    * over this frame, so maintenance memory stays O(changed), not
    * O(every file in history), at 100 TB file counts. */
  private[lake] def dataPathsDf(spark: SparkSession,
      snapshots: Seq[SnapshotMeta]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col}
    val lazyDirs = Seq.newBuilder[String]
    val inline = Seq.newBuilder[String]
    snapshots.foreach { s =>
      unforcedSpill(s.files) match {
        case Some(l) => lazyDirs += l.dir
        case None => s.files.foreach(inline += _.path)
      }
    }
    val inlineDf = spark.createDataset(inline.result())(Encoders.STRING)
      .toDF("path")
    val dirs = lazyDirs.result().distinct
    val raw =
      if (dirs.isEmpty) inlineDf
      else {
        // mergeSchema tolerates a mix of current (ord, file struct) and
        // legacy (flat) spill layouts in one scan
        val df = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
        val pathCol =
          if (df.columns.contains("file") && df.columns.contains("path"))
            coalesce(col("file.path"), col("path"))
          else if (df.columns.contains("file")) col("file.path")
          else col("path")
        df.select(pathCol.as("path")).unionAll(inlineDf)
      }
    raw.select(PosDeletes.normCol(col("path")).as("path"))
  }

  /** Entry count of a parquet spill WITHOUT materializing it: sums
    * parquet footer row counts driver-side — no Spark job, no row
    * decode, O(part-files) footer reads. Serves metadata-scale
    * callers (the streaming maintenance triggers' live-file counts)
    * for which forcing a million-entry manifest would cost exactly
    * what the caller exists to avoid. */
  private[lake] def countRows(dir: String, conf: Configuration): Long = {
    val cached = cache.get(dir)
    if (cached != null) return cached.size.toLong
    val p = new Path(dir)
    val f = MetadataLog.fs(dir, conf)
    val options = org.apache.parquet.HadoopReadOptions.builder(conf).build()
    f.listStatus(p).filter(st => st.isFile &&
        st.getPath.getName.endsWith(".parquet")).map { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
        options)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** The manifest at absolute `path`, through the cache. */
  private[lake] def read(path: String, conf: Configuration): Seq[DataFileMeta] = {
    val cached = cache.get(path)
    if (cached != null) return cached
    val files =
      if (!isSpill(path))
        MetadataLog.readJson[Vector[DataFileMeta]](new Path(path), conf)
      else {
        val df = SparkSession.active.read.parquet(path)
        if (df.columns.contains("ord"))
          withSeq(df.orderBy("ord").select("file.*"))
            .as(Encoders.product[DataFileMeta]).collect().toSeq
        else // legacy spill written without the ordinal column
          withSeq(df).as(Encoders.product[DataFileMeta]).collect().toSeq
      }
    cachePut(path, files)
    files
  }

  /** Columns added to [[DataFileMeta]] after a spill was written read
    * back at their conservative defaults: seq = 0 ("every equality
    * delete applies"), valueSets = empty ("no membership claim"). */
  private def withSeq(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{lit, typedLit}
    val d1 =
      if (df.columns.contains("seq")) df else df.withColumn("seq", lit(0L))
    val d2 =
      if (d1.columns.contains("valueSets")) d1
      else d1.withColumn("valueSets", typedLit(Map.empty[String, Seq[String]]))
    val d3 =
      if (d2.columns.contains("blooms")) d2
      else d2.withColumn("blooms", typedLit(Map.empty[String, Seq[String]]))
    if (d3.columns.contains("sortedBy")) d3
    else d3.withColumn("sortedBy", typedLit(Seq.empty[String]))
  }

  /** Simulates a cold start (the cache is process-wide otherwise). */
  private[lake] def clearCacheForTesting(): Unit = cache.clear()
  private[lake] def cacheSize: Int = cache.size()
  private[lake] def cacheContains(dir: String): Boolean = cache.containsKey(dir)

  private[lake] def cachePut(dir: String, files: Seq[DataFileMeta]): Unit =
    cache.put(dir, files)
}

/** A snapshot's manifest surfaced as an immutable Seq that reads
  * through [[Manifests]]' cache on first element access. `pointer` is
  * the form the version JSON stores, `dir` its resolved path. As long
  * as the wrapper stays attached to a snapshot of the table it was
  * loaded from, the file list is by construction the manifest's
  * content, so a commit can reuse the pointer without any I/O. */
final class LazyManifestFiles private (
    private[lake] val pointer: String,
    private[lake] val dir: String,
    conf: Configuration,
    known: Seq[DataFileMeta])
  extends scala.collection.immutable.Seq[DataFileMeta] {

  def this(pointer: String, dir: String, conf: Configuration) =
    this(pointer, dir, conf, null)

  @volatile private[lake] var isForced: Boolean = known != null
  private lazy val underlying: Seq[DataFileMeta] =
    if (known != null) known
    else {
      isForced = true
      Manifests.read(dir, conf)
    }

  override def apply(i: Int): DataFileMeta = underlying(i)
  override def length: Int = underlying.length
  override def iterator: Iterator[DataFileMeta] = underlying.iterator
}

object LazyManifestFiles {
  /** The wrapper of a manifest this process just wrote: its content is
    * already in memory. */
  private[lake] def written(pointer: String, dir: String,
      files: Seq[DataFileMeta]): LazyManifestFiles =
    new LazyManifestFiles(pointer, dir, null, files)
}
