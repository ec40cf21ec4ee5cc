package graft.lake

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** The 15 read-only metadata relations every table exposes
  * (iceberg_it.py:1940-1989; schemas: docs/spark-queries.md:215-473).
  * Rows come from the snapshot log — driver-side [[LocalScan]]s, which
  * is the right physical shape: the metadata is already resident on
  * the driver and tiny relative to data. All are time-travelable by
  * pinning (iceberg_it.py:1969-1974).
  */
object MetadataTables {
  val names: Set[String] = Set(
    "history", "metadata_log_entries", "snapshots", "entries", "files",
    "manifests", "partitions", "refs", "all_data_files", "all_delete_files",
    "all_entries", "all_manifests", "data_files", "delete_files", "all_files",
    "position_deletes")

  private val fileSchema = StructType(Seq(
    StructField("content", IntegerType),
    StructField("file_path", StringType),
    StructField("file_format", StringType),
    StructField("partition", StringType),
    StructField("record_count", LongType),
    StructField("file_size_in_bytes", LongType)))

  def schemaOf(which: String): StructType = which match {
    case "snapshots" => StructType(Seq(
      StructField("committed_at", TimestampType),
      StructField("snapshot_id", LongType),
      StructField("parent_id", LongType),
      StructField("operation", StringType),
      StructField("summary", MapType(StringType, StringType))))
    case "history" => StructType(Seq(
      StructField("made_current_at", TimestampType),
      StructField("snapshot_id", LongType),
      StructField("parent_id", LongType),
      StructField("is_current_ancestor", BooleanType)))
    case "refs" => StructType(Seq(
      StructField("name", StringType),
      StructField("type", StringType),
      StructField("snapshot_id", LongType),
      StructField("max_reference_age_in_ms", LongType),
      StructField("min_snapshots_to_keep", IntegerType),
      StructField("max_snapshot_age_in_ms", LongType)))
    case "metadata_log_entries" => StructType(Seq(
      StructField("timestamp", TimestampType),
      StructField("file", StringType),
      StructField("latest_snapshot_id", LongType)))
    case "files" | "data_files" | "delete_files" => fileSchema
    // row-level mask content, like the reference's position_deletes
    case "position_deletes" => StructType(Seq(
      StructField("file_path", StringType),
      StructField("pos", LongType),
      StructField("delete_file_path", StringType)))
    case "all_files" | "all_data_files" | "all_delete_files" =>
      StructType(fileSchema.fields :+ StructField("snapshot_id", LongType))
    case "entries" | "all_entries" => StructType(Seq(
      StructField("status", IntegerType),
      StructField("snapshot_id", LongType),
      StructField("data_file", StructType(Seq(
        StructField("file_path", StringType),
        StructField("record_count", LongType),
        StructField("file_size_in_bytes", LongType))))))
    case "manifests" | "all_manifests" => StructType(Seq(
      StructField("content", IntegerType),
      StructField("path", StringType),
      StructField("length", LongType),
      StructField("added_snapshot_id", LongType),
      StructField("added_data_files_count", IntegerType),
      StructField("existing_data_files_count", IntegerType),
      StructField("deleted_data_files_count", IntegerType)))
    case "partitions" => StructType(Seq(
      StructField("partition", StringType),
      StructField("record_count", LongType),
      StructField("file_count", IntegerType)))
  }

  private def ts(ms: Long) = new java.sql.Timestamp(ms)
  private def pv(f: DataFileMeta): String =
    if (f.partitionValues.isEmpty) null
    else f.partitionValues.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString("{", ", ", "}")

  def rows(meta: TableMeta, which: String, pin: Option[Long],
      location: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[Row] = {
    // pinning a metadata table truncates the visible snapshot log
    val visible = pin match {
      case Some(id) => meta.snapshots.filter(_.snapshotId <= id)
      case None => meta.snapshots
    }
    val head = pin.orElse(meta.currentSnapshotId("main"))
    val headSnap = head.flatMap(id => visible.find(_.snapshotId == id))
    val ancestry = head.map(meta.ancestorsOf).getOrElse(Nil)
      .map(_.snapshotId).toSet
    def fileRows(s: SnapshotMeta): Seq[Row] = s.files.map(f =>
      Row(0, f.path, "PARQUET", pv(f), f.rowCount, f.sizeBytes))

    which match {
      case "snapshots" => visible.map(s =>
        Row(ts(s.timestampMs), s.snapshotId, s.parentId.map(Long.box).orNull,
          s.operation, s.summary))
      case "history" => visible.map(s =>
        Row(ts(s.timestampMs), s.snapshotId, s.parentId.map(Long.box).orNull,
          ancestry.contains(s.snapshotId)))
      case "refs" => meta.refs.toSeq.sortBy(_._1).map { case (n, r) =>
        Row(n, r.refType.toUpperCase, r.snapshotId,
          r.maxRefAgeMs.map(Long.box).orNull,
          r.minSnapshotsToKeep.map(Int.box).orNull,
          r.maxSnapshotAgeMs.map(Long.box).orNull)
      }
      case "metadata_log_entries" => visible.map(s =>
        Row(ts(s.timestampMs), s"$location/metadata/v${s.snapshotId}.json",
          s.snapshotId))
      case "files" | "data_files" => headSnap.toSeq.flatMap(fileRows)
      case "delete_files" =>
        // content: 1 = position deletes, 2 = equality deletes (Iceberg)
        headSnap.toSeq.flatMap(_.deleteFiles).map(f =>
          Row(1, f.path, "PARQUET", null, f.rowCount, f.sizeBytes)) ++
        headSnap.toSeq.flatMap(_.eqDeleteFiles).map(f =>
          Row(2, f.path, "PARQUET", null, f.rowCount, f.sizeBytes))
      case "position_deletes" =>
        // masks are metadata-scale; reads are cached process-wide
        headSnap.toSeq.flatMap(_.deleteFiles).flatMap { f =>
          PosDeletes.deletedMap(Seq(f), conf).toSeq.flatMap {
            case (fp, ps) => ps.map(p => Row(fp, p, f.path))
          }
        }.sortBy(r => (r.getString(0), r.getLong(1)))
      case "all_files" | "all_data_files" => visible.flatMap(s =>
        s.files.map(f => Row(0, f.path, "PARQUET", pv(f), f.rowCount,
          f.sizeBytes, s.snapshotId)))
      case "all_delete_files" => visible.flatMap(s =>
        s.deleteFiles.map(f => Row(1, f.path, "PARQUET", null, f.rowCount,
          f.sizeBytes, s.snapshotId)) ++
        s.eqDeleteFiles.map(f => Row(2, f.path, "PARQUET", null, f.rowCount,
          f.sizeBytes, s.snapshotId)))
      case "entries" => headSnap.toSeq.flatMap { s =>
        val parentFiles = s.parentId.flatMap(meta.snapshotById)
          .map(_.files.map(_.path).toSet).getOrElse(Set.empty)
        s.files.map(f => Row(if (parentFiles(f.path)) 0 else 1, s.snapshotId,
          Row(f.path, f.rowCount, f.sizeBytes)))
      }
      case "all_entries" => visible.flatMap { s =>
        val parentFiles = s.parentId.flatMap(meta.snapshotById)
          .map(_.files.map(_.path).toSet).getOrElse(Set.empty)
        s.files.map(f => Row(if (parentFiles(f.path)) 0 else 1, s.snapshotId,
          Row(f.path, f.rowCount, f.sizeBytes)))
      }
      case "manifests" => headSnap.toSeq.map(s => manifestRow(meta, s, location))
      case "all_manifests" => visible.map(s => manifestRow(meta, s, location))
      case "partitions" => headSnap.toSeq.flatMap(_.files)
        .groupBy(pv).toSeq.sortBy(t => Option(t._1).getOrElse(""))
        .map { case (p, fs) => Row(p, fs.map(_.rowCount).sum, fs.size) }
    }
  }

  private def manifestRow(meta: TableMeta, s: SnapshotMeta, location: String): Row = {
    val parentFiles = s.parentId.flatMap(meta.snapshotById)
      .map(_.files.map(_.path).toSet).getOrElse(Set.empty)
    val added = s.files.count(f => !parentFiles(f.path))
    Row(0, s.manifestPath.map(Manifests.pathOf(meta, _))
        .getOrElse(s"$location/metadata/v${s.snapshotId}.json"),
      s.files.map(_.sizeBytes).sum, s.snapshotId,
      added, s.files.size - added, 0)
  }
}

class MetadataTable(catalog: LakeCatalog, parent: Identifier, meta: TableMeta,
    which: String, pin: Option[Long]) extends Table with SupportsRead {

  private val tableSchema = MetadataTables.schemaOf(which)

  override def name(): String =
    (catalog.name() +: parent.namespace() :+ parent.name() :+ which).mkString(".")
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new LocalScan {
      override def readSchema(): StructType = tableSchema
      override def rows(): Array[InternalRow] = {
        val conv = CatalystTypeConverters.createToCatalystConverter(tableSchema)
        MetadataTables.rows(meta, which, pin, meta.location,
          catalog.hadoopConf)
          .map(r => conv(r).asInstanceOf[InternalRow]).toArray
      }
      override def description(): String = s"MetadataTable(${name()})"
    }
}
