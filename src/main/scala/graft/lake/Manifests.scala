package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Encoders, SparkSession}

import java.util.{Collections, LinkedHashMap, Map => JMap}

/** Parquet manifest spill for large snapshots (the 100 TB seam).
  *
  * A snapshot whose file list exceeds the table's
  * `write.metadata.manifest.spill-threshold` (default 500) gets its
  * manifest written once — immutably — as a parquet directory
  * `metadata/manifests/m-<snapshotId>-<rand>/`, and the metadata JSON
  * keeps only the pointer. Spilling/hydration happens entirely inside
  * [[MetadataLog]] commit/load, so the rest of the engine always sees
  * hydrated `SnapshotMeta.files`.
  *
  * The manifest is columnar and splittable: a future cluster-side
  * planner can scan it distributed instead of collecting to the
  * driver. Reads are cached process-wide — manifests are immutable, so
  * the cache needs no invalidation.
  */
object Manifests {

  val ThresholdKey = "write.metadata.manifest.spill-threshold"
  val DefaultThreshold = 500

  // Access-ordered LRU: a workload touching more than MaxCacheEntries
  // spilled snapshots evicts one entry per insert, not the whole cache
  // (a clear-all would refetch every manifest on the next planning
  // round — thrash, at exactly the snapshot counts where the cache
  // matters most).
  private val MaxCacheEntries = 64
  private val cache: JMap[String, Seq[DataFileMeta]] =
    Collections.synchronizedMap(
      new LinkedHashMap[String, Seq[DataFileMeta]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: JMap.Entry[String, Seq[DataFileMeta]]): Boolean =
          size() > MaxCacheEntries
      })

  /** Spec observability: whether `dir`'s content is materialized in
    * the process-wide cache (a forced read puts it there;
    * [[countRows]]' footer path never does). */
  private[lake] def cachedForTesting(dir: String): Boolean =
    cache.containsKey(dir)

  def threshold(meta: TableMeta): Int =
    meta.properties.get(ThresholdKey).map(_.toInt).getOrElse(DefaultThreshold)

  // Inline-JSON byte ceiling for manifest blooms: the metadata JSON
  // re-serializes EVERY retained snapshot's inline file list on each
  // commit, so bloom-fat entries amplify by history length — a
  // bloom-heavy manifest must spill to parquet even when its file
  // COUNT is under the spill threshold. 2 MB of base64 inline is the
  // cap; past it, the columnar spill (distributed-pruned anyway) holds
  // the payload once.
  private val MaxInlineBloomBytes = 2 * 1024 * 1024
  private def bloomBytes(files: Seq[DataFileMeta]): Long =
    files.iterator.map(_.blooms.valuesIterator
      .map(_.iterator.map(_.length.toLong).sum).sum).sum

  /** Slim a snapshot for JSON serialization: spill an oversized file
    * list to parquet (once — an existing pointer is reused as long as
    * the hydrated list still matches its stored content), keep small
    * ones inline.
    *
    * Spill dirs this slim stops referencing are NOT deleted — not even
    * after the commit wins the CAS: any reader that loaded the table
    * earlier holds an unforced [[LazyManifestFiles]] pointer into the
    * old dir, and deleting it inline would make that reader's first
    * file-list access fail at an unbounded later time. Retired dirs are
    * unreferenced by the new metadata, so `remove_orphan_files`' age-
    * guarded stranded-spill sweep reclaims them once no plausible
    * reader remains. A failure to read an existing spill propagates
    * (commit fails, nothing changes on disk): treating it as a content
    * mismatch would re-spill and orphan the LIVE dir on a transient
    * I/O error. */
  def slim(meta: TableMeta, s: SnapshotMeta,
      conf: Configuration): SnapshotMeta = {
    s.files match {
      // a still-attached lazy wrapper IS the spill's content by
      // construction (any mutation replaces the Seq wholesale) — reuse
      // the pointer without forcing the manifest read. This keeps
      // commits O(changed snapshots), not O(history).
      case l: LazyManifestFiles if s.manifestPath.contains(l.dir) =>
        return s.copy(files = Nil)
      case _ => ()
    }
    if (s.files.size <= threshold(meta) &&
        bloomBytes(s.files) <= MaxInlineBloomBytes) {
      // small (or emptied) list: inline, and retire a stale pointer
      if (s.manifestPath.isDefined) s.copy(manifestPath = None) else s
    } else s.manifestPath match {
      // reuse the existing spill iff its stored content still matches
      // the hydrated list (cheap when cached — manifests are immutable)
      case Some(p) if read(p, conf) == s.files =>
        s.copy(files = Nil)
      case _ =>
        val dir = s"${meta.location}/metadata/manifests/" +
          s"m-${s.snapshotId}-${java.util.UUID.randomUUID().toString.take(8)}"
        write(dir, s.files)
        cachePut(dir, s.files)
        s.copy(files = Nil, manifestPath = Some(dir))
    }
  }

  /** Force-write a fresh spill for a snapshot — the working half of
    * `rewrite_manifests`. The rewrite (a) consolidates the part-file
    * layout (and upgrades legacy ordinal-free spills), and (b) clusters
    * entries by partition tuple, so a planner pruning on partition
    * min/max stats reads a contiguous slice of the manifest instead of
    * commit-order scatter. Returns the snapshot carrying the clustered
    * list + new pointer; the OLD dir stays on disk for already-loaded
    * lazy readers and retires via `remove_orphan_files`. */
  private[lake] def respill(meta: TableMeta, s: SnapshotMeta,
      conf: Configuration): SnapshotMeta = {
    val dir = s"${meta.location}/metadata/manifests/" +
      s"m-${s.snapshotId}-${java.util.UUID.randomUUID().toString.take(8)}"
    val clustered = s.files.sortBy(f =>
      (f.partitionValues.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString("/"), f.path))
    write(dir, clustered)
    cachePut(dir, clustered)
    s.copy(files = clustered, manifestPath = Some(dir))
  }

  /** Physically delete spill dirs and drop them from the cache. Only
    * for dirs no reader can hold a pointer to: a failed attempt's
    * fresh spills (never committed, never loaded) and maintenance
    * sweeps that own their own age/liveness guards. */
  private[lake] def drop(dirs: Seq[String], conf: Configuration): Unit =
    dirs.foreach { p =>
      scala.util.Try(MetadataLog.fs(p, conf).delete(new Path(p), true))
      cache.remove(p)
    }

  /** Hydrate a snapshot loaded from JSON — LAZILY. Table load cost
    * must not scale with snapshot count: a long-lived table retains
    * hundreds of snapshots at millions of files each, and eagerly
    * materializing every file list on every `loadTable` would be an
    * O(history) driver stall (and resident-set) per SQL statement.
    * The wrapper reads through the process-wide cache the first time
    * a snapshot's file list is actually planned against; snapshots
    * that are never read (most of the history) cost nothing. */
  def hydrate(s: SnapshotMeta, conf: Configuration): SnapshotMeta =
    s.manifestPath match {
      case Some(p) if s.files.isEmpty =>
        s.copy(files = new LazyManifestFiles(p, conf))
      case _ => s
    }

  // Multi-file spills do NOT read back in write order (split planning
  // reorders) — an explicit ordinal restores it, keeping the
  // spill-reuse equality check stable across cold starts.
  private def write(dir: String, files: Seq[DataFileMeta]): Unit = {
    val spark = SparkSession.active
    spark.createDataset(files.zipWithIndex.map(_.swap))(
        Encoders.product[(Int, DataFileMeta)])
      .toDF("ord", "file")
      .coalesce(math.max(1, files.size / 100000))
      .write.mode("overwrite").parquet(dir)
  }

  /** Count of files the last pruned planning pass materialized on the
    * driver — observability hook for specs and planning diagnostics. */
  private[lake] val lastPrunedPlanCount =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Distributed pruned manifest planning (the 100 TB seam): instead
    * of collecting a spilled snapshot's whole file list to the driver
    * and pruning there — O(all files) driver memory and latency per
    * query at millions of files — ship the scan predicates to a Spark
    * job over the manifest parquet and collect only the SURVIVING
    * entries. The executors evaluate the very same
    * [[FileStats.mayMatch]] the driver-side prune uses, so pruned
    * planning can never change results; `rewrite_manifests` clusters
    * entries by partition tuple, so selective predicates touch a
    * contiguous slice of the manifest. The partial result is NOT
    * cached (the cache holds only full manifests). */
  private[lake] def readPruned(dir: String,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      schema: org.apache.spark.sql.types.StructType,
      conf: Configuration,
      renames: Map[Int, Map[String, String]] = Map.empty)
      : Seq[DataFileMeta] = {
    val cached = cache.get(dir)
    if (cached != null) return FileStats.prune(cached, filters, schema, renames)
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
        fs.forall(FileStats.mayMatch(f, _, sch))
      }
      .collect().toSeq
    lastPrunedPlanCount.set(survivors.size)
    survivors
  }

  /** One-column (`path`, scheme-normalized) DataFrame of every data
    * file across `snapshots`, computed WITHOUT hydrating spilled
    * manifests on the driver — the maintenance-side twin of
    * [[readPruned]]. Unforced spill pointers contribute one multi-dir
    * parquet scan evaluated on executors; inline (small or
    * already-hydrated) lists ship from the driver. expire_snapshots /
    * remove_orphan_files difference their live and on-disk path sets
    * through anti-joins over this frame, so maintenance memory stays
    * O(changed), not O(every file in history), at 100 TB file counts. */
  private[lake] def dataPathsDf(spark: SparkSession,
      snapshots: Seq[SnapshotMeta]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col}
    val lazyDirs = Seq.newBuilder[String]
    val inline = Seq.newBuilder[String]
    snapshots.foreach { s =>
      s.files match {
        case l: LazyManifestFiles if !l.isForced => lazyDirs += l.dir
        case fs => fs.foreach(inline += _.path)
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

  /** Entry count of a spilled manifest WITHOUT materializing it: sums
    * parquet footer row counts driver-side — no Spark job, no row
    * decode, O(part-files) footer reads. Serves metadata-scale
    * callers (the streaming maintenance triggers' live-file counts)
    * for which forcing a million-entry manifest would cost exactly
    * what the caller exists to avoid. */
  private[lake] def countRows(dir: String, conf: Configuration): Long = {
    val cached = cache.get(dir)
    if (cached != null) return cached.size.toLong
    val p = new Path(dir)
    val f = p.getFileSystem(conf)
    f.listStatus(p).filter(st => st.isFile &&
        st.getPath.getName.endsWith(".parquet")).map { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  private[lake] def read(dir: String, conf: Configuration): Seq[DataFileMeta] = {
    val cached = cache.get(dir)
    if (cached != null) return cached
    val spark = SparkSession.active
    val df = spark.read.parquet(dir)
    val files =
      if (df.columns.contains("ord"))
        withSeq(df.orderBy("ord").select("file.*"))
          .as(Encoders.product[DataFileMeta]).collect().toSeq
      else // legacy ordinal-free spill (pre-round-3)
        withSeq(df).as(Encoders.product[DataFileMeta]).collect().toSeq
    cachePut(dir, files)
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

/** A spilled manifest surfaced as an immutable Seq that reads through
  * [[Manifests]]' cache on first element access. As long as the wrapper
  * stays attached to its snapshot (same dir as the snapshot's
  * `manifestPath`), the file list is by construction unchanged — a
  * re-serializing commit can reuse the pointer without any I/O. */
final class LazyManifestFiles(
    private[lake] val dir: String, conf: Configuration)
  extends scala.collection.immutable.Seq[DataFileMeta] {

  @volatile private[lake] var isForced: Boolean = false
  private lazy val underlying: Seq[DataFileMeta] = {
    isForced = true
    Manifests.read(dir, conf)
  }

  override def apply(i: Int): DataFileMeta = underlying(i)
  override def length: Int = underlying.length
  override def iterator: Iterator[DataFileMeta] = underlying.iterator
}
