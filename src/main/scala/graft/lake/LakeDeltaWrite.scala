package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import scala.collection.mutable

/** Merge-on-read (delta-based) UPDATE / MERGE / DELETE
  * (reference: `write.update.mode` / `write.merge.mode` /
  * `write.delete.mode` = 'merge-on-read', docs/spark-procedures.md:514).
  *
  * Instead of rewriting every file a matched row lives in (the
  * group-based copy-on-write path), Spark plans a [[SupportsDelta]]
  * WriteDelta: the scan emits each row's `(_file, _pos)` row id
  * (synthesized by [[PosDeleteScan]] from per-file ordinals), and the
  * writer receives only DELTAS — deleted row ids and inserted rows.
  * The commit appends new data files and new position-delete masks;
  * no existing file is rewritten. A MERGE touching 1% of rows writes
  * ~1% of the data — the property that matters at 100 TB.
  *
  * Updates arrive as update(metadata, id, row) and are recorded as a
  * position delete of the old row plus an insert of the new one in
  * the SAME task (no extra shuffle, unlike
  * representUpdateAsDeleteAndInsert).
  */
class LakeDeltaOperation(table: LakeTable, info: RowLevelOperationInfo)
  extends RowLevelOperation with SupportsDelta {

  // files the operation's scan actually planned (post file-pruning)
  // and the condition filters it pushed — the read set + predicate the
  // commit-time write-skew/phantom checks validate against
  @volatile private var scanned: Option[Seq[String]] = None
  @volatile private var scanFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def command(): RowLevelOperation.Command = info.command()

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(LakeMetaColumns.File),
      Expressions.column(LakeMetaColumns.Pos))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // rowLevel scan: runtime group filtering still prunes whole files
    // by matched partitions; metadata-column projection routes the
    // surviving files through the ordinal-tracking row scan
    new LakeScanBuilder(table, table.readSnapshotId, options,
      rowLevel = true, onBuild = fs => scanned = Some(fs.map(_.path)),
      onFilters = fs => scanFilters = fs)

  override def newWriteBuilder(winfo: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new LakeDeltaWrite(table, winfo,
        info.command().toString.toLowerCase, () => scanned, () => scanFilters)
    }
}

class LakeDeltaWrite(table: LakeTable, info: LogicalWriteInfo, operation: String,
    scannedFiles: () => Option[Seq[String]] = () => None,
    scanFilters: () => Array[org.apache.spark.sql.sources.Filter] =
      () => Array.empty)
  extends DeltaWrite with RequiresDistributionAndOrdering {

  override def description(): String = s"LakeDeltaWrite(${table.name()}, $operation)"

  // No required distribution: delta rows flow from the matching join
  // straight into writers with zero extra shuffle (Iceberg's "none"
  // delta distribution). Cost: up to one delete file and one data
  // file per (task × touched tuple); both are compactable after the
  // fact (rewrite_data_files / rewrite_position_delete_files).
  override def requiredDistribution(): Distribution = Distributions.unspecified()

  // Within each task: deletes first (their data columns are null, and
  // nulls sort first), grouped by (_file, _pos) so the delete writer
  // streams pre-sorted pairs; inserts tuple-major so the fanout
  // writer keeps one open file. A DELETE-only delta's rows carry just
  // (__row_operation, _file, _pos) — partition sort terms would then
  // reference columns the plan cannot resolve, so only transforms
  // whose source column is present in the write schema participate
  // (the delete writer needs only the (_file,_pos) grouping anyway).
  override def requiredOrdering(): Array[SortOrder] = {
    val parts = table.meta.partitionSpec
      .filter(f => Transforms.leafType(info.schema(), f.sourceColumn).isDefined)
      .map(f =>
        Expressions.sort(Transforms.toTransform(f), SortDirection.ASCENDING))
    val ids = Seq(
      Expressions.sort(Expressions.column(LakeMetaColumns.File),
        SortDirection.ASCENDING),
      Expressions.sort(Expressions.column(LakeMetaColumns.Pos),
        SortDirection.ASCENDING))
    (parts ++ ids).toArray
  }

  override def toBatch: DeltaBatchWrite =
    new LakeDeltaBatchWrite(table, info, operation, scannedFiles, scanFilters)
}

class LakeDeltaBatchWrite(table: LakeTable, info: LogicalWriteInfo,
    operation: String,
    scannedFiles: () => Option[Seq[String]] = () => None,
    scanFilters: () => Array[org.apache.spark.sql.sources.Filter] =
      () => Array.empty)
  extends DeltaBatchWrite {

  private val base = java.util.UUID.randomUUID().toString.take(12)
  private val stagingDir = s"${table.meta.location}/data/$base"
  private val deleteDir = s"${table.meta.location}/metadata/deletes/$base"

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DeltaWriterFactory = {
    val spark = SparkSession.active
    val insertFactory = LakeFanoutWrite.factory(spark, table.meta,
      info.schema(), stagingDir)
    val (delOwf, conf) = LakeFanoutWrite.parquetWriter(spark,
      PosDeletes.DeleteSchema)
    val idSchema = info.rowIdSchema().orElse(new StructType())
    new LakeDeltaWriterFactory(insertFactory, delOwf, deleteDir,
      idSchema.fieldNames.indexOf(LakeMetaColumns.File),
      idSchema.fieldNames.indexOf(LakeMetaColumns.Pos), conf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // insert files stage through the fanout writer, so their partition
    // tuples ride the commit messages (same job-skip as LakeBatchWrite)
    LakeWriteUtil.commitDelta(table, stagingDir, deleteDir, operation,
      scannedFiles(), scanFilters(),
      stagedTuples = LakeFanoutCommit.tuples(messages))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = MetadataLog.fs(table.meta.location, table.catalog.hadoopConf)
    fs.delete(new Path(stagingDir), true)
    fs.delete(new Path(deleteDir), true)
  }
}

class LakeDeltaWriterFactory(insertFactory: DataWriterFactory,
    delOwf: OutputWriterFactory, deleteDir: String,
    fileIdx: Int, posIdx: Int, conf: Broadcast[SerializableConfiguration])
  extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new LakeDeltaDataWriter(insertFactory.createWriter(partitionId, taskId),
      delOwf, deleteDir, fileIdx, posIdx, conf.value.value, partitionId, taskId)
}

/** Per-task delta writer: inserts stream through the partition-fanout
  * parquet writer; deleted `(file, pos)` ids accumulate in a per-file
  * buffer and flush as ONE sorted position-delete parquet file at task
  * commit (same `_temporary` rename protocol as the fanout writer, so
  * failed attempts leak nothing). */
class LakeDeltaDataWriter(inserts: DataWriter[InternalRow],
    delOwf: OutputWriterFactory, deleteDir: String,
    fileIdx: Int, posIdx: Int, conf: org.apache.hadoop.conf.Configuration,
    partitionId: Int, taskId: Long)
  extends DeltaWriter[InternalRow] {

  private val deleted = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Long]]()

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    // copy out of the (reused) unsafe row immediately
    val file = id.getUTF8String(fileIdx).toString
    deleted.getOrElseUpdate(file, mutable.ArrayBuffer.empty) += id.getLong(posIdx)
  }

  override def insert(row: InternalRow): Unit = inserts.write(row)

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    // Promote the delete mask BEFORE committing inserts: commitDelta
    // lists ALL files in each staging dir, so if promotion failed after
    // inserts.commit() a retried attempt would duplicate the first
    // attempt's insert files. In the opposite order a retry only adds a
    // second copy of the mask, and duplicate (file, pos) deletes are
    // idempotent.
    if (deleted.nonEmpty) {
      val fs = new Path(deleteDir).getFileSystem(conf)
      val attempt = new Path(deleteDir, s"_temporary/attempt-$partitionId-$taskId")
      val file = new Path(attempt, f"delete-$partitionId%05d-$taskId.parquet")
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf,
        new org.apache.hadoop.mapreduce.TaskAttemptID("lakedel", 0,
          org.apache.hadoop.mapreduce.TaskType.MAP, partitionId, 0))
      val w = delOwf.newInstance(file.toString, PosDeletes.DeleteSchema, ctx)
      val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
      try {
        for (f <- deleted.keysIterator.toSeq.sorted) {
          out.update(0, UTF8String.fromString(f))
          for (p <- deleted(f).sorted) { out.setLong(1, p); w.write(out) }
        }
      } finally w.close()
      // HDFS-style filesystems report rename failure via a false
      // return, not an exception — a silently dropped mask here would
      // let the commit proceed without its deletes, so fail the task
      // attempt instead (ADVICE round 3).
      val dest = new Path(deleteDir, file.getName)
      if (!fs.rename(file, dest) || !fs.exists(dest))
        throw new java.io.IOException(
          s"failed to promote position-delete file $file to $dest")
      fs.delete(attempt, true)
    }
    inserts.commit()
  }

  override def abort(): Unit = {
    inserts.abort()
    val fs = new Path(deleteDir).getFileSystem(conf)
    fs.delete(new Path(deleteDir, s"_temporary/attempt-$partitionId-$taskId"), true)
  }

  override def close(): Unit = inserts.close()
}
