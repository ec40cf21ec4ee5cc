package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{NamedReference, Expression => V2Expression, Literal => V2Literal}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util

/** `SELECT * FROM db.tbl.changes` — the RAW changelog relation
  * (reference: docs/spark-procedures.md:918-921 "To see carry-over
  * rows, query SparkChangelogTable"): rows in files a snapshot added
  * are inserts, rows in files it removed are deletes, and rows newly
  * masked by merge-on-read position deletes or matched by new
  * equality deletes are deletes.
  *
  * The engine's only replayer of snapshot file diffs: the batch
  * relation, its streaming source, `create_changelog_view`
  * ([[Changelog]], which removes carry-overs and pairs updates on top)
  * and the signed incremental MV refresh all read this scan. ONE scan
  * whose input partitions each cover one (data file × change kind),
  * with the change metadata attached by the reader, so a long history
  * is more partitions, not a wider plan. Read options:
  * `start-snapshot-id` (exclusive) / `end-snapshot-id` (inclusive).
  * `_change_type` equality and IN filters prune the partitions (and
  * the delete-file reads) of kinds not asked for.
  */
class ChangesTable(catalog: LakeCatalog, parent: Identifier, meta: TableMeta)
  extends Table with SupportsRead {

  private val dataSchema = meta.schema
  private val tableSchema = StructType(dataSchema.fields ++ Seq(
    StructField("_change_type", StringType, nullable = false),
    StructField("_change_ordinal", IntegerType, nullable = false),
    StructField("_commit_snapshot_id", LongType, nullable = false)))

  override def name(): String =
    (catalog.name() +: parent.namespace() :+ parent.name() :+ "changes").mkString(".")
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  // No column pruning: every partition attaches the change metadata
  // and the full row image (a CDC consumer wants whole rows); Spark
  // projects above the scan.
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownV2Filters {
      private var pushed = Array.empty[Predicate]
      // every predicate is also returned as a post-scan filter, so the
      // pruning can only skip work, never change a result
      override def pushPredicates(ps: Array[Predicate]): Array[Predicate] = {
        pushed = ps.filter(ChangesTable.changeKinds(_).isDefined)
        ps
      }
      override def pushedPredicates(): Array[Predicate] = pushed
      override def build(): Scan = new ChangesScan(catalog, meta,
        ChangesTable.this.name(), dataSchema, tableSchema,
        Option(options.get("start-snapshot-id")).map(_.toLong),
        Option(options.get("end-snapshot-id")).map(_.toLong),
        freshMeta = () => catalog.loadMeta(parent),
        options = options,
        kinds = pushed.flatMap(ChangesTable.changeKinds)
          .reduceOption(_ intersect _))
    }
}

object ChangesTable {
  /** The `_change_type` values a predicate admits, when it is an
    * equality or IN test of that column against string literals. */
  private[lake] def changeKinds(p: Predicate): Option[Set[String]] = {
    def isKind(e: V2Expression) = e match {
      case r: NamedReference => r.fieldNames.toSeq == Seq("_change_type")
      case _ => false
    }
    def str(e: V2Expression) = e match {
      case l: V2Literal[_] if l.value != null &&
          l.dataType.isInstanceOf[StringType] => Some(l.value.toString)
      case _ => None
    }
    (p.name, p.children.toSeq) match {
      case ("=", Seq(a, b)) if isKind(a) => str(b).map(Set(_))
      case ("=", Seq(a, b)) if isKind(b) => str(a).map(Set(_))
      case ("IN", a +: vs) if isKind(a) =>
        val ks = vs.map(str)
        if (ks.forall(_.isDefined)) Some(ks.flatten.toSet) else None
      case _ => None
    }
  }
}

class ChangesScan(catalog: LakeCatalog, meta: TableMeta, tableName: String,
    dataSchema: StructType, tableSchema: StructType,
    startId: Option[Long], endId: Option[Long],
    freshMeta: () => TableMeta = () => null,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    // streaming sets this: "replace" commits (compaction, delete-format
    // conversion) are row-preserving, and their carryover insert/delete
    // echo — O(table) non-events per compaction — must not flood a
    // continuous consumer. The batch relation keeps raw-diff parity.
    skipRowPreserving: Boolean = false,
    // `_change_type` values a pushed filter admits (None = all): the
    // partitions of other kinds are neither planned nor sized
    kinds: Option[Set[String]] = None)
  extends Scan with Batch {

  override def readSchema(): StructType = tableSchema
  override def toBatch: Batch = this
  override def description(): String = s"ChangesScan($tableName" +
    kinds.fold("")(ks => ks.toSeq.sorted.mkString(", kinds=[", ",", "]")) + ")"

  /** `spark.readStream.table("db.tbl.changes")` — the changelog as a
    * STREAMING CDC source: offsets are snapshot ids, each micro-batch
    * is exactly the change events of the snapshots it covers (inserts,
    * file deletes, position-mask deletes, equality-delete events),
    * planned by the same distributed partitioning as the batch
    * relation. Options: `start-snapshot-id` (exclusive start),
    * `stream-from-latest` (skip history), and
    * `streaming-max-snapshots-per-micro-batch` (admission cap). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ChangesMicroBatchStream(catalog, tableName, dataSchema, tableSchema,
      freshMeta, startId, options)

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = catalog.hadoopConf
    val fs = MetadataLog.fs(meta.location, conf)
    // one length lookup per distinct file, not per (file × use)
    val lenCache = scala.collection.mutable.Map[String, Long]()
    def len(p: String): Long = lenCache.getOrElseUpdate(p,
      fs.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen)
    ChangesScan.requireStart(meta, startId)
    val head = meta.currentSnapshotId("main")
    val chain = head.map(meta.ancestorsOf).getOrElse(Nil).reverse // oldest first
    val inRange = chain
      .dropWhile(s => startId.exists(s.snapshotId <= _))
      .takeWhile(s => endId.forall(s.snapshotId <= _))
      .filterNot(s => skipRowPreserving && s.isRowPreservingReplace)
    def want(kind: String) = kinds.forall(_(kind))
    inRange.zipWithIndex.flatMap { case (s, ordinal) =>
      val parentSnap = s.parentId.flatMap(meta.snapshotById)
      val parentFiles = parentSnap.map(_.files).getOrElse(Nil)
      val parentPaths = parentFiles.map(_.path).toSet
      val inserts =
        if (!want("insert")) Nil
        else s.files.filterNot(f => parentPaths(f.path)).map(f =>
          ChangesPartition(f.path, f.schemaEpoch, len(f.path), "insert",
            ordinal, s.snapshotId, Array.empty, keepOnlyPositions = false))
      if (!want("delete")) inserts
      else {
        val curPaths = s.files.map(_.path).toSet
        // removed-file rows already dead at the parent (position masks /
        // equality deletes) were not deleted by THIS commit: exclude
        // them executor-side
        val pDelMap = parentSnap.map(_.deleteFiles).getOrElse(Nil) match {
          case Nil => Map.empty[String, Array[Long]]
          case dels => PosDeletes.deletedMap(dels, conf)
        }
        val pEqs = parentSnap.map(_.eqDeleteFiles).getOrElse(Nil)
        val deletes = parentFiles.filterNot(f => curPaths(f.path)).map(f =>
          ChangesPartition(f.path, f.schemaEpoch, len(f.path), "delete",
            ordinal, s.snapshotId,
            pDelMap.getOrElse(PosDeletes.norm(f.path), Array.empty[Long]),
            keepOnlyPositions = false,
            eqExcludeSlices = pEqs.filter(EqDeletes.mayApply(meta, f, _))
              .map(e => EqSlice(e.path, len(e.path), eqGroupOf(e.path)))))
        // merge-on-read commit: rows its NEW masks cover are deletes —
        // emit exactly the masked positions of each (immutable) data file
        val parentDels = parentSnap.map(_.deleteFiles.map(_.path).toSet)
          .getOrElse(Set.empty)
        // "replace" commits are row-preserving (compaction, delete-format
        // conversion): masks they add cover already-dead rows, not changes
        val newMasks =
          if (s.isRowPreservingReplace) Nil
          else s.deleteFiles.filterNot(f => parentDels(f.path))
        val masked =
          if (newMasks.isEmpty) Nil
          else {
            val byPath = PosDeletes.deletedMap(newMasks, conf)
            s.files.flatMap { f =>
              byPath.get(PosDeletes.norm(f.path)).map(ps =>
                ChangesPartition(f.path, f.schemaEpoch, len(f.path), "delete",
                  ordinal, s.snapshotId, ps, keepOnlyPositions = true))
            }
          }
        // upsert commit: rows of OLDER files matching the commit's NEW
        // equality-delete keys are deletes. Each affected file becomes a
        // key-matching partition; rows already dead (parent position
        // masks, parent equality deletes) are excluded executor-side.
        val parentEqPaths = pEqs.map(_.path).toSet
        val newEqs =
          if (s.isRowPreservingReplace) Nil
          else s.eqDeleteFiles.filterNot(e => parentEqPaths(e.path))
        val eqDeleted =
          if (newEqs.isEmpty) Nil
          else {
            def slices(eqs: Seq[EqDeleteMeta]): Seq[EqSlice] =
              eqs.map(e => EqSlice(e.path, len(e.path), eqGroupOf(e.path)))
            s.files.flatMap { f =>
              val keep = newEqs.filter(EqDeletes.mayApply(meta, f, _))
              if (keep.isEmpty) None
              else Some(ChangesPartition(f.path, f.schemaEpoch, len(f.path),
                "delete", ordinal, s.snapshotId,
                pDelMap.getOrElse(PosDeletes.norm(f.path), Array.empty[Long]),
                keepOnlyPositions = false,
                eqKeepSlices = slices(keep),
                eqExcludeSlices = slices(
                  pEqs.filter(EqDeletes.mayApply(meta, f, _)))))
            }
          }
        inserts ++ deletes ++ masked ++ eqDeleted
      }
    }.toArray[InputPartition]
  }

  // all equality-delete files any in-range snapshot may reference,
  // grouped by key shape (shared with the reader factory)
  private lazy val eqGroups: Seq[Seq[EqDeleteMeta]] =
    EqScanSupport.groupsOf(meta.snapshots.flatMap(_.eqDeleteFiles))
  private lazy val eqGroupOf: Map[String, Int] = eqGroups.zipWithIndex
    .flatMap { case (g, i) => g.map(_.path -> i) }.toMap

  override def createReaderFactory(): PartitionReaderFactory = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, Literal}
    val spark = SparkSession.active
    val ctx = new LakeScans.EpochReaders(spark)
    val tz = ctx.tz
    val built = ctx.build(meta, dataSchema, meta.schemas.indices,
      pick = (epochSchema, rename) => StructType(dataSchema.fields.flatMap { f =>
        val en = rename.getOrElse(f.name, f.name)
        epochSchema.fields.find(_.name == en)
      }.distinct))
    val perEpoch = built.map { case (e, (readFunc, epochRead, rename)) =>
      val n = epochRead.length
      // project epoch row -> current schema, then the three change
      // metadata columns bound past the data row's width (the reader
      // joins a per-partition metadata row, like PosDeleteScan)
      val exprs: Seq[Expression] = dataSchema.fields.toSeq.map { f =>
        val en = rename.getOrElse(f.name, f.name)
        epochRead.fieldNames.indexOf(en) match {
          case -1 => Literal(null, f.dataType)
          case i =>
            val ef = epochRead(i)
            val ref = BoundReference(i, ef.dataType, nullable = true)
            // nested-id-aware projection, not a positional Cast
            LakeScans.projectRowExpr(ref, f.dataType, ef.dataType, Some(tz))
        }
      } ++ Seq(
        BoundReference(n, StringType, nullable = false),
        BoundReference(n + 1, IntegerType, nullable = false),
        BoundReference(n + 2, LongType, nullable = false))
      val keyExprs: Seq[Seq[org.apache.spark.sql.catalyst.expressions.Expression]] =
        eqKeyFields.map(fs => EqScanSupport.keyExprs(epochRead, rename, fs, tz))
      e -> (readFunc, exprs, keyExprs)
    }
    new ChangesReaderFactory(
      perEpoch.map { case (e, (f, _, _)) => e -> f },
      perEpoch.map { case (e, (_, x, _)) => e -> x },
      perEpoch.map { case (e, (_, _, k)) => e -> k },
      EqScanSupport.groupSpecs(meta, eqGroups, eqKeyFields, ctx, tz))
  }

  private lazy val eqKeyFields = EqScanSupport.keyFields(meta, eqGroups)
}

object ChangesScan {
  /** A start snapshot that no longer resolves means snapshots were
    * expired past it: the events in the gap are unrecoverable, and
    * silently replaying the surviving history would diverge the
    * consumer — fail loudly, naming the id. */
  def requireStart(meta: TableMeta, startId: Option[Long]): Unit =
    startId.filter(_ > 0).foreach(id => require(
      meta.snapshotById(id).isDefined,
      s"changelog start snapshot $id is no longer in the table " +
        "metadata (expired?); the change events after it cannot be " +
        "reconstructed — restart the consumer from a full snapshot"))
}

/** Streaming CDC source over the snapshot log: each micro-batch plans
  * the change partitions of the snapshots in its offset range against
  * the CURRENT metadata (immutable snapshots make old ranges stable).
  * Offsets are snapshot ids — a batch never splits a commit, so every
  * micro-batch is transactionally consistent. Admission control caps
  * snapshots per batch (`streaming-max-snapshots-per-micro-batch`), so
  * a consumer bootstrapping a year of history drains in bounded steps. */
class ChangesMicroBatchStream(catalog: LakeCatalog, tableName: String,
    dataSchema: StructType, tableSchema: StructType,
    freshMeta: () => TableMeta, startId: Option[Long],
    options: CaseInsensitiveStringMap)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private val maxSnaps =
    Option(options.get("streaming-max-snapshots-per-micro-batch"))
      .map(_.toInt).getOrElse(Int.MaxValue)

  // Trigger.AvailableNow: pin the drain target at query start so the
  // rate-limited batches walk up to it and the query then stops
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(head().snapshotId)

  override def initialOffset(): Offset = {
    val fromLatest = options.getBoolean("stream-from-latest", false)
    if (fromLatest)
      ChangesOffset(freshMeta().currentSnapshotId("main").getOrElse(0L))
    else Option(options.get("stream-from-timestamp")) match {
      case Some(ts) =>
        // start AFTER the last snapshot committed before the timestamp
        val t = ts.toLong
        val m = freshMeta()
        ChangesOffset(m.snapshots.filter(_.timestampMs < t)
          .map(_.snapshotId).maxOption.getOrElse(0L))
      case None => ChangesOffset(startId.getOrElse(0L))
    }
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset = head()

  private def head(): ChangesOffset =
    ChangesOffset(freshMeta().currentSnapshotId("main").getOrElse(0L))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val st = start.asInstanceOf[ChangesOffset].snapshotId
    val m = freshMeta()
    var ids = m.currentSnapshotId("main").map(m.ancestorsOf).getOrElse(Nil)
      .map(_.snapshotId).filter(_ > st).sorted
    availableNowCap.foreach(cap => ids = ids.filter(_ <= cap))
    val admitted = ids.take(maxSnaps)
    if (admitted.isEmpty) start else ChangesOffset(admitted.last)
  }

  override def deserializeOffset(json: String): Offset =
    ChangesOffset("\"snapshotId\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(0L))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  @volatile private var lastFactory: PartitionReaderFactory = _

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ChangesOffset].snapshotId
    val e = end.asInstanceOf[ChangesOffset].snapshotId
    val m = freshMeta()
    val scan = new ChangesScan(catalog, m, tableName, dataSchema, tableSchema,
      Some(s), Some(e), skipRowPreserving = true)
    lastFactory = scan.createReaderFactory()
    scan.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory = lastFactory

  override def toString: String = s"ChangesMicroBatchStream($tableName)"
}

/** Stream position: every snapshot with id <= snapshotId is consumed. */
case class ChangesOffset(snapshotId: Long)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"snapshotId":$snapshotId}"""
}

case class ChangesPartition(path: String, epoch: Int, fileLen: Long,
    changeType: String, ordinal: Int, snapshotId: Long,
    positionsSorted: Array[Long], keepOnlyPositions: Boolean,
    // equality-delete event mode (eqKeepSlices non-empty): emit rows
    // whose key is in a keep set, excluding positionsSorted (parent
    // position masks) and keys in any exclude set (parent eq deletes)
    eqKeepSlices: Seq[EqSlice] = Nil,
    eqExcludeSlices: Seq[EqSlice] = Nil)
  extends InputPartition

/** Streams a data file in row order, filters by the partition's mask
  * mode (all rows, or only the newly masked positions), and attaches
  * the change metadata columns. */
class ChangesReaderFactory(
    readFuncs: Map[Int, org.apache.spark.sql.execution.datasources.PartitionedFile =>
      Iterator[org.apache.spark.sql.catalyst.InternalRow]],
    projections: Map[Int, Seq[org.apache.spark.sql.catalyst.expressions.Expression]],
    keyExprs: Map[Int, Seq[Seq[org.apache.spark.sql.catalyst.expressions.Expression]]] =
      Map.empty,
    eqSpecs: Map[Int, EqGroupSpec] = Map.empty)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val part = p.asInstanceOf[ChangesPartition]
    val raw = readFuncs(part.epoch)(
      org.apache.spark.sql.execution.datasources.PartitionedFile(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPathString(part.path),
        0, part.fileLen))
    val rows: Iterator[org.apache.spark.sql.catalyst.InternalRow] =
      LakeScans.unrollBatches(raw)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(projections(part.epoch).toArray)
    val metaRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
    metaRow.update(0, org.apache.spark.unsafe.types.UTF8String
      .fromString(part.changeType))
    metaRow.setInt(1, part.ordinal)
    metaRow.setLong(2, part.snapshotId)
    val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
    val mask = part.positionsSorted
    val keepOnly = part.keepOnlyPositions
    val keep = EqScanSupport.loadChecks(part.eqKeepSlices, part.epoch,
      eqSpecs, keyExprs)
    val exclude = EqScanSupport.loadChecks(part.eqExcludeSlices, part.epoch,
      eqSpecs, keyExprs)
    new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
      private var di = 0
      private var pos = -1L
      private var cur: org.apache.spark.sql.catalyst.InternalRow = _
      override def next(): Boolean = {
        while (rows.hasNext) {
          val r = rows.next(); pos += 1
          // positionsSorted: the KEEP list when keepOnlyPositions
          // (newly masked rows = this commit's deletes), otherwise the
          // EXCLUDE list (rows already dead at the parent)
          while (di < mask.length && mask(di) < pos) di += 1
          val inMask = di < mask.length && mask(di) == pos
          val emit =
            if (keepOnly) inMask
            else if (inMask) false
            else if (EqScanSupport.matchesAny(exclude, r)) false
            else keep.isEmpty || EqScanSupport.matchesAny(keep, r)
          if (emit) {
            cur = proj(joined(r, metaRow))
            return true
          }
        }
        false
      }
      override def get(): org.apache.spark.sql.catalyst.InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
