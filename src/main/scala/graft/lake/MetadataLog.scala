package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

/** Commit log: one immutable `metadata/v{N}.json` per commit plus a
  * `version-hint.text` pointer, committed by create-if-absent — the
  * single-writer rename-swap protocol (SURVEY.md §7.4.7). Uses the
  * Hadoop FileSystem API so the same code path works on HDFS/S3A in
  * a cluster deployment, not just local files.
  *
  * A version file holds the table's schemas, spec, properties, refs
  * and one entry per retained snapshot: its summary, its delete-file
  * lists and a pointer to its data-file manifest, which the commit that
  * created the snapshot wrote once (layout and pointer resolution:
  * [[Manifests]]). So a version grows with the snapshot count, not with
  * snapshots × files. Loading resolves pointers against the directory
  * the table is loaded from and reads no manifest until a snapshot's
  * file list is used.
  *
  * Version files and JSON manifests are written gzip-compressed under
  * their `.json` names ([[createNew]]); [[readBytes]] tells them from
  * plain JSON, which older tables hold, by the gzip magic.
  */
object MetadataLog {
  implicit private val fmts: Formats = DefaultFormats

  private def metaDir(location: String) = new Path(location, "metadata")
  private def hintFile(location: String) = new Path(metaDir(location), "version-hint.text")
  private def versionFile(location: String, v: Int) = new Path(metaDir(location), f"v$v%05d.json")

  def fs(location: String, conf: Configuration): FileSystem =
    LocalFs.fs(new Path(location), conf)

  def exists(location: String, conf: Configuration): Boolean =
    // The hint is only a pointer: fall back to the version listing so
    // a reader can never observe "table missing" inside a concurrent
    // commit's hint swap (non-atomic delete+rename on some FS).
    fs(location, conf).exists(hintFile(location)) ||
      metadataFiles(location, conf).nonEmpty

  /** Resolve the current version. The hint file is only a pointer —
    * if it is missing or caught mid-replace (empty), fall back to the
    * max version present in the directory listing, so readers never
    * fail on a concurrent commit's hint swap. */
  def currentVersion(location: String, conf: Configuration): Int = {
    val f = fs(location, conf)
    val hinted =
      try {
        val in = new BufferedReader(new InputStreamReader(
          f.open(hintFile(location)), StandardCharsets.UTF_8))
        try Option(in.readLine()).map(_.trim).filter(_.nonEmpty).map(_.toInt)
        finally in.close()
      } catch { case _: java.io.IOException => None }
    hinted.getOrElse {
      val listed = metadataFiles(location, conf)
      if (listed.isEmpty) throw new java.io.FileNotFoundException(
        s"no metadata versions under $location")
      listed.last._1
    }
  }

  def load(location: String, conf: Configuration): TableMeta =
    loadVersion(location, currentVersion(location, conf), conf)

  // Version files are immutable once written, so parsed TableMeta is
  // cacheable process-wide: without this every statement of a high-QPS
  // workload re-reads and re-parses the (potentially MBs at hundreds
  // of snapshots) current metadata JSON. The key carries the file's
  // (mtime, length) so a DROP + re-CREATE at the same warehouse
  // location — which restarts version numbering — can never serve the
  // old table's metadata. One getFileStatus per load replaces the full
  // read + parse on a hit.
  private val MaxMetaCacheEntries = 64
  private val metaCache: java.util.Map[(String, Int, Long, Long), TableMeta] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Int, Long, Long), TableMeta](
          16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Int, Long, Long), TableMeta]): Boolean =
          size() > MaxMetaCacheEntries
      })

  /** Spec observability: number of actual (cache-miss) JSON parses. */
  private[lake] val parseCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private[lake] def clearMetaCacheForTesting(): Unit = metaCache.clear()

  def loadVersion(location: String, v: Int, conf: Configuration): TableMeta =
    hydrated(parse(location, v, conf), location, conf)

  /** [[loadVersion]] of a version file kept outside its table
    * (register_table's `metadata_file`): manifest pointers resolve under
    * the table location the file records, where they were written. */
  private[lake] def loadSaved(location: String, v: Int,
      conf: Configuration): TableMeta = {
    val slim = parse(location, v, conf)
    hydrated(slim, slim.location, conf)
  }

  // The cache holds the SLIM parsed form; every load hydrates fresh
  // lazy wrappers from it. Caching a hydrated form would share (or
  // worse, inline) file lists across loads — pinning O(history) file
  // metadata resident and starving the distributed pruned-planning
  // path, which keys off an unforced lazy wrapper.
  private def parse(location: String, v: Int, conf: Configuration): TableMeta = {
    val vf = versionFile(location, v)
    val st = fs(location, conf).getFileStatus(vf)
    val key = (location, v, st.getModificationTime, st.getLen)
    val hit = metaCache.get(key)
    if (hit != null) return hit
    val parsed = readJson[TableMeta](vf, conf)
    parseCount.incrementAndGet()
    metaCache.put(key, parsed)
    parsed
  }

  private def hydrated(slim: TableMeta, location: String,
      conf: Configuration): TableMeta =
    slim.copy(snapshots = slim.snapshots.map(
      Manifests.hydrate(_, location, slim.location, conf)))

  /** The decoded content of a metadata file: gunzipped when it starts
    * with the gzip magic `1f 8b`, which no JSON text does, else as
    * stored. A file that does not gunzip (a torn write) fails with an
    * error naming it. */
  private[lake] def readBytes(p: Path, conf: Configuration): Array[Byte] = {
    val in = fs(p.toString, conf).open(p)
    val raw =
      try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      finally in.close()
    if (raw.length < 2 || raw(0) != 0x1f.toByte || raw(1) != 0x8b.toByte) raw
    else
      try {
        val gz = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(raw))
        try gz.readAllBytes() finally gz.close()
      } catch { case e: java.io.IOException => throw unreadable(p, e) }
  }

  /** The JSON metadata file `p` ([[readBytes]]) parsed as a `T`; a file
    * that does not parse fails with an error naming it. */
  private[lake] def readJson[T: Manifest](p: Path, conf: Configuration): T = {
    val text = new String(readBytes(p, conf), StandardCharsets.UTF_8)
    try Serialization.read[T](text)
    catch { case scala.util.control.NonFatal(e) => throw unreadable(p, e) }
  }

  private def unreadable(p: Path, cause: Throwable): java.io.IOException =
    new java.io.IOException(s"unreadable metadata file $p: $cause", cause)

  /** Write `bytes` gzip-compressed to a new file `p` and return its
    * size on disk; throws
    * `java.nio.file.FileAlreadyExistsException` if `p` exists. The
    * local-vs-remote branch keys off the RESOLVED filesystem's scheme,
    * not the raw path URI: a scheme-less location resolves through
    * fs.defaultFS, and on an HDFS-defaulted cluster the NIO path would
    * write to the driver's local disk while readers list HDFS. */
  private[lake] def createNew(p: Path, bytes: Array[Byte],
      conf: Configuration): Long = {
    val packed = new java.io.ByteArrayOutputStream(bytes.length / 4 + 64)
    val gz = new java.util.zip.GZIPOutputStream(packed)
    try gz.write(bytes) finally gz.close()
    val f = fs(p.toString, conf)
    val scheme = f.getUri.getScheme
    val out =
      if (scheme == null || scheme == "file") {
        // Hadoop's local create(path, overwrite=false) is
        // CHECK-then-act: two simultaneous committers can both pass the
        // existence check and both "create" the file — the loser's
        // commit is silently erased. NIO CREATE_NEW maps to
        // O_CREAT|O_EXCL, which the kernel arbitrates atomically, and
        // strands no `.crc` sidecar.
        val np = java.nio.file.Paths.get(p.toUri.getPath)
        java.nio.file.Files.createDirectories(np.getParent)
        java.nio.file.Files.newOutputStream(np,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
      } else
        try f.create(p, false) // atomic create-if-absent on HDFS
        catch {
          case e: java.io.IOException if f.exists(p) =>
            val clash = new java.nio.file.FileAlreadyExistsException(p.toString)
            clash.initCause(e)
            throw clash
        }
    try packed.writeTo(out)
    finally out.close()
    packed.size().toLong
  }

  def metadataFiles(location: String, conf: Configuration): Seq[(Int, String, Long)] = {
    val f = fs(location, conf)
    if (!f.exists(metaDir(location))) return Nil
    f.listStatus(metaDir(location)).toSeq
      .filter(s => s.getPath.getName.matches("v\\d+\\.json"))
      .map(s => (s.getPath.getName.stripPrefix("v").stripSuffix(".json").toInt,
        s.getPath.toString, s.getModificationTime))
      .sortBy(_._1)
  }

  /** Commit: write v{base+1}.json with create-if-absent (optimistic
    * lock), then repoint the hint. The version is derived from the
    * CALLER's base metadata only — if another commit landed after the
    * caller loaded, the create collides and the conflict surfaces as
    * ConcurrentModificationException (the caller reloads and
    * reapplies) instead of silently erasing the concurrent commit's
    * snapshots by skipping past it. */
  def commit(meta: TableMeta, conf: Configuration): TableMeta =
    commitCounted(meta, conf)._1

  /** [[commit]], also returning the metadata bytes it wrote: the
    * version file plus the manifests it created. */
  private[lake] def commitCounted(meta: TableMeta,
      conf: Configuration): (TableMeta, Long) = {
    // The JSON gets pointers; the CALLER gets back snapshots attached
    // to their manifests. A new snapshot's manifest is written here; a
    // manifest this attempt wrote is garbage if the CAS loses (the
    // retry writes its own from the reloaded metadata), and nobody can
    // have loaded it, so it is deleted inline. Manifests a commit stops
    // referencing are NOT deleted (see Manifests.slim).
    val fresh = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val vf = versionFile(meta.location, meta.version + 1)
    val (next, live) =
      try {
        val slimmed = meta.snapshots.map { s =>
          val sl = Manifests.slim(meta, s, conf)
          fresh ++= sl.written
          sl
        }
        val next = meta.copy(snapshots = slimmed.map(_.json),
          version = meta.version + 1)
        createNew(vf, Serialization.write(next).getBytes(StandardCharsets.UTF_8),
          conf)
        (next, slimmed.map(_.live))
      } catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          Manifests.drop(fresh.map(_._1).toSeq, conf)
          throw new java.util.ConcurrentModificationException(
            s"concurrent commit to ${meta.location}: v${meta.version + 1} " +
              s"already exists (base version ${meta.version} is stale); " +
              "reload the table metadata and reapply", e)
        case e: Throwable =>
          Manifests.drop(fresh.map(_._1).toSeq, conf)
          throw e
      }
    val f = fs(meta.location, conf)
    val scheme = f.getUri.getScheme
    // Repoint the hint via write-temp + atomic rename so concurrent
    // readers never observe a truncated/empty hint file.
    val tmp = new Path(metaDir(meta.location),
      s".version-hint.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    if (scheme == null || scheme == "file") {
      // Pure NIO on local: ChecksumFileSystem writes would strand one
      // .crc sidecar per commit (the rename below is crc-unaware), and
      // POSIX rename(2) replaces atomically where Hadoop's local
      // FileContext rename(OVERWRITE) is delete-then-rename — a
      // no-hint window a concurrent loadTable could fall into
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        next.version.toString.getBytes(StandardCharsets.UTF_8))
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(hintFile(meta.location).toUri.getPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val hint = f.create(tmp, true)
      try hint.write(next.version.toString.getBytes(StandardCharsets.UTF_8))
      finally hint.close()
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, conf)
        fc.rename(tmp, hintFile(meta.location),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case _: Exception => // fallback: non-atomic replace; readers
          f.delete(hintFile(meta.location), false) // fall back to listing
          f.rename(tmp, hintFile(meta.location))
      }
    }
    retireOldVersions(next, conf)
    // prime the cache with the SLIM form it just serialized: the
    // committer's next statement would otherwise pay a full reload of
    // the metadata it just wrote. (Never the hydrated form — see
    // parse's cache contract.)
    val versionBytes =
      try {
        val st = f.getFileStatus(vf)
        metaCache.put((meta.location, next.version,
          st.getModificationTime, st.getLen), next)
        st.getLen
      } catch { case _: Exception => 0L }
    (next.copy(snapshots = live), versionBytes + fresh.map(_._2).sum)
  }

  /** Metadata-log retention (`write.metadata.delete-after-commit.
    * enabled` + `write.metadata.previous-versions-max`, default 100 —
    * Iceberg's own knobs): at one commit per minute a year-old table
    * carries half a million version files, so the committer — and only
    * the committer, only after its CAS has won and the hint points at
    * the new version — prunes versions older than the retained window.
    * Snapshots and time travel are unaffected (the current JSON carries
    * the whole snapshot DAG); only the `metadata_log_entries` history
    * and the crash-fallback listing narrow to the window. Deletes are
    * best-effort: a failure strands a version file for the next commit
    * to retry, never fails the commit. */
  private def retireOldVersions(next: TableMeta, conf: Configuration): Unit = {
    if (!next.properties.get("write.metadata.delete-after-commit.enabled")
        .contains("true")) return
    val maxPrev = next.properties.get("write.metadata.previous-versions-max")
      .flatMap(v => scala.util.Try(v.toInt).toOption).filter(_ >= 0)
      .getOrElse(100)
    val cutoff = next.version - maxPrev
    if (cutoff <= 0) return
    val f = fs(next.location, conf)
    metadataFiles(next.location, conf)
      .filter(_._1 < cutoff)
      .foreach { case (_, p, _) =>
        scala.util.Try(f.delete(new Path(p), false))
      }
  }

  /** Delete the version log (every `v{N}.json` and the hint) and
    * nothing else under `metadata/`. */
  def dropLog(location: String, conf: Configuration): Unit = {
    val f = fs(location, conf)
    metadataFiles(location, conf).foreach { case (_, p, _) =>
      f.delete(new Path(p), false)
    }
    f.delete(hintFile(location), false)
    forget(location)
  }

  def dropTableDir(location: String, conf: Configuration): Unit = {
    val f = fs(location, conf)
    if (f.exists(new Path(location))) f.delete(new Path(location), true)
    forget(location)
  }

  // The (mtime, length) cache-key component has filesystem-dependent
  // granularity (seconds on object stores): a DROP + re-CREATE whose
  // fresh version file matches the old one's length within a tick
  // could be served the dropped table's metadata. Dropping is rare —
  // evict the location outright.
  private def forget(location: String): Unit =
    metaCache.synchronized {
      val it = metaCache.keySet().iterator()
      while (it.hasNext) if (it.next()._1 == location) it.remove()
    }
}
