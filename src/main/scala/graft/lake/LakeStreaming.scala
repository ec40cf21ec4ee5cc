package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Incremental micro-batch source over the snapshot log (reference:
  * docs/spark-structured-streaming.md:29-37): offsets are (snapshot
  * id, file position) pairs; each batch reads the files ADDED by
  * snapshots in the offset range. Options: `stream-from-timestamp`
  * (start position), `streaming-skip-overwrite-snapshots` /
  * `streaming-skip-delete-snapshots` (else non-append snapshots in
  * range raise an error, matching the reference's semantics), and the
  * reference's rate limits (docs/spark-configuration.md:224-228):
  * `streaming-max-files-per-micro-batch` (hard cap) and
  * `streaming-max-rows-per-micro-batch` (soft max — a batch always
  * includes the next unprocessed file whole, but adds no further file
  * that would push it past the limit). Offsets are FILE-granular, so
  * one huge snapshot (a bootstrap load) still splits into bounded
  * micro-batches instead of one cluster-sized batch.
  * `Trigger.AvailableNow` pins the end offset at query start and
  * drains up to it in rate-limited batches.
  */
class LakeMicroBatchStream(table: LakeTable, readSchema: StructType,
    options: CaseInsensitiveStringMap, checkpointLocation: String)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  private def spark: SparkSession = SparkSession.active
  private def freshMeta: TableMeta = table.catalog.loadMeta(table.ident)

  private val skipOverwrite =
    options.getBoolean("streaming-skip-overwrite-snapshots", false)
  private val skipDelete =
    options.getBoolean("streaming-skip-delete-snapshots", false)

  /** The files a snapshot ADDED, in stable (stored) order — the unit
    * sequence file-granular offsets index into. */
  private def addedFiles(meta: TableMeta, snap: SnapshotMeta): Seq[DataFileMeta] =
    snap.operation match {
      // an upsert's appended rows ARE the latest values of their keys —
      // streaming them as appends gives the CDC "current value" stream
      // (its equality deletes target only OLDER snapshots' rows)
      case "append" | "upsert" =>
        val parentPaths = snap.parentId.flatMap(meta.snapshotById)
          .map(_.files.map(_.path).toSet).getOrElse(Set.empty)
        snap.files.filterNot(f => parentPaths(f.path))
      // CoW row-level ops (UPDATE/MERGE) commit overwrite-shaped
      // snapshots — the skip option must cover them too, or it can
      // never skip the very snapshots it exists for
      case "overwrite" | "replace" | "update" | "merge" if skipOverwrite => Nil
      case "delete" if skipDelete => Nil
      // compaction adds no new rows — but only a PROVABLY
      // row-preserving replace qualifies (a legacy RTAS snapshot
      // labeled "replace" replaced every row; silently yielding Nil
      // for it would drop the replacement from the stream, so it
      // falls through to the loud unsupported-type error instead)
      case "replace" if snap.isRowPreservingReplace => Nil
      case other =>
        throw new UnsupportedOperationException(
          s"cannot stream snapshot ${snap.snapshotId} of type '$other'; set " +
            "streaming-skip-overwrite-snapshots/streaming-skip-delete-snapshots to skip")
    }

  override def initialOffset(): Offset = {
    val meta = freshMeta
    Option(options.get("stream-from-timestamp")) match {
      case Some(ts) =>
        // start AFTER the last snapshot committed before the timestamp
        val t = ts.toLong
        val before = meta.snapshots.filter(_.timestampMs < t)
          .map(_.snapshotId).maxOption.getOrElse(0L)
        LakeOffset(before)
      case None => LakeOffset(0L)
    }
  }

  // ---- admission control (rate-limited latestOffset) ----

  override def getDefaultReadLimit: ReadLimit = {
    val mf = Option(options.get("streaming-max-files-per-micro-batch")).map(_.toInt)
    val mr = Option(options.get("streaming-max-rows-per-micro-batch")).map(_.toLong)
    (mf, mr) match {
      case (Some(f), Some(r)) => ReadLimit.compositeLimit(
        Array[ReadLimit](ReadLimit.maxFiles(f), ReadLimit.maxRows(r)))
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(r)) => ReadLimit.maxRows(r)
      case _ => ReadLimit.allAvailable()
    }
  }

  /** (maxFiles, maxRows) caps a ReadLimit imposes. */
  private def caps(l: ReadLimit): (Int, Long) = l match {
    case c: CompositeReadLimit =>
      c.getReadLimits.map(caps).reduce((a, b) =>
        (math.min(a._1, b._1), math.min(a._2, b._2)))
    case f: ReadMaxFiles => (f.maxFiles, Long.MaxValue)
    case r: ReadMaxRows => (Int.MaxValue, r.maxRows)
    case _ => (Int.MaxValue, Long.MaxValue)
  }

  // Trigger.AvailableNow: freeze the drain target at query start
  @volatile private var availableNowCap: Option[LakeOffset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(headOffset(freshMeta))

  override def reportLatestOffset(): Offset = headOffset(freshMeta)

  private def headOffset(meta: TableMeta): LakeOffset =
    LakeOffset(meta.currentSnapshotId("main").getOrElse(0L), Int.MaxValue)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  /** Walk added-files from `start`, admitting files until the limit:
    * always at least one file (progress), never more than maxFiles,
    * and no file beyond the first that would exceed maxRows (the
    * reference's soft-max semantics). Returns `start` itself when
    * nothing new — json-identical offsets mean "no batch" to Spark. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val meta = freshMeta
    val st = start.asInstanceOf[LakeOffset]
    val (maxFiles, maxRows) = caps(limit)
    val capOff = availableNowCap
    // a fully-consumed start snapshot (filePos = MaxValue, the shape
    // stream-from-timestamp and whole-snapshot checkpoints produce)
    // contributes nothing — and must not even be LOOKED at: it may be
    // a non-append snapshot addedFiles would reject, even though zero
    // of its files remain to read
    var snaps = meta.snapshots.filter(s =>
        s.snapshotId > st.snapshotId ||
          (s.snapshotId == st.snapshotId && st.filePos < Int.MaxValue))
      .sortBy(_.snapshotId)
    capOff.foreach(c => snaps = snaps.filter(_.snapshotId <= c.snapshotId))
    var nf = 0
    var nr = 0L
    var cur = st
    var done = false
    for (snap <- snaps if !done) {
      val added = addedFiles(meta, snap)
      val from =
        if (snap.snapshotId == st.snapshotId) math.min(st.filePos, added.size)
        else 0
      val until =
        if (capOff.exists(_.snapshotId == snap.snapshotId))
          math.min(capOff.get.filePos.toLong, added.size.toLong).toInt
        else added.size
      var i = from
      while (i < until && !done) {
        val f = added(i)
        if (nf > 0 && (nf + 1 > maxFiles || nr + f.rowCount > maxRows)) done = true
        else {
          nf += 1; nr += f.rowCount; i += 1
          cur = LakeOffset(snap.snapshotId, i)
        }
      }
    }
    if (nf == 0) st else cur
  }

  override def deserializeOffset(json: String): Offset = {
    def field(n: String): Option[Long] =
      ("\"" + n + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(json).map(_.group(1).toLong)
    LakeOffset(field("snapshotId").getOrElse(0L),
      field("filePos").map(_.toInt).getOrElse(Int.MaxValue))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  @volatile private var lastFactory: PartitionReaderFactory = _

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val meta = freshMeta
    val s = start.asInstanceOf[LakeOffset]
    val e = end.asInstanceOf[LakeOffset]
    val snaps = meta.snapshots
      .filter(x => (x.snapshotId > s.snapshotId ||
        (x.snapshotId == s.snapshotId && s.filePos < Int.MaxValue)) &&
        x.snapshotId <= e.snapshotId)
      .sortBy(_.snapshotId)
    val files = snaps.flatMap { snap =>
      val added = addedFiles(meta, snap)
      val from =
        if (snap.snapshotId == s.snapshotId) math.min(s.filePos, added.size)
        else 0
      val until =
        if (snap.snapshotId == e.snapshotId) math.min(e.filePos.toLong, added.size.toLong).toInt
        else added.size
      added.slice(from, until)
    }
    // Files in the offset range may span SCHEMA EPOCHS (a backlog
    // read across a rename, or a table whose rewrite hasn't touched
    // every old file): one scan per epoch, each reading under the
    // epoch-NAMED schema (field-id resolution at every struct level,
    // LakeScans.epochNamed) — a single current-schema scan silently
    // nulled renamed columns and resurrected dropped-and-re-added
    // ones for pre-evolution files, the same lineage class the batch
    // paths fixed. Multi-epoch batches route partitions to their
    // epoch's reader through the keyed CompositeScan.
    val current = table.schema()
    def scanFor(fs: Seq[DataFileMeta], epochSchema: StructType)
        : org.apache.spark.sql.connector.read.Scan = {
      val dataSchema = LakeScans.epochNamed(current, epochSchema)
      val read = LakeScans.epochNamed(readSchema, current, epochSchema)
      // ONE FRESH conf per epoch scan (parquetScan builds its own): a
      // parquet reader builder writes its requested schema into the
      // conf it is given, so a shared conf makes every epoch read with
      // the LAST epoch's schema (the EpochReaders trap, re-learned
      // here). The schema is part of the broadcast cache's key too.
      LakeScans.parquetScan(spark, table, fs, dataSchema, read, Array.empty,
        options)
    }
    val byEpoch = files.groupBy(_.schemaEpoch).toSeq.sortBy(_._1)
    val batch = byEpoch match {
      case Seq() => scanFor(Nil, current).toBatch
      case Seq((e, fs)) => scanFor(fs, meta.schemaAt(e)).toBatch
      case many =>
        new CompositeScan(
          many.map { case (e, fs) => s"e$e" -> scanFor(fs, meta.schemaAt(e)) },
          readSchema)
    }
    lastFactory = batch.createReaderFactory()
    batch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory = lastFactory

  override def toString: String = s"LakeMicroBatchStream(${table.name()})"
}

/** File-granular stream position: everything before `snapshotId` is
  * consumed, plus the first `filePos` added-files OF `snapshotId`.
  * `filePos = Int.MaxValue` means the whole snapshot (and is what a
  * pre-file-granularity checkpoint deserializes to, keeping old
  * checkpoints resumable). */
case class LakeOffset(snapshotId: Long, filePos: Int = Int.MaxValue) extends Offset {
  override def json(): String =
    s"""{"snapshotId":$snapshotId,"filePos":$filePos}"""
}
