package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** A snapshot-versioned table (SURVEY.md §1.1). Reads delegate to
  * Spark's vectorized parquet scan pinned to the snapshot's file list
  * (after file-level min/max pruning); epoch-grouped scans keep
  * renamed columns readable in old files. Writes stage parquet into a
  * fresh `data/<uuid>/` directory and commit a snapshot.
  */
/** Hidden metadata columns (reference: docs/spark-queries.md metadata
  * columns `_file` / `_pos`): `_file` is the (normalized) data file a
  * row lives in, `_pos` its ordinal within that file. They double as
  * the row id of delta-based row-level operations. */
object LakeMetaColumns {
  val File = "_file"
  val Pos = "_pos"
  val Names: Set[String] = Set(File, Pos)

  val columns: Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = File
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "data file path of the row"
    },
    new MetadataColumn {
      override def name(): String = Pos
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String = "row ordinal within its data file"
    })
}

class LakeTable(
    val catalog: LakeCatalog,
    val ident: Identifier,
    val meta: TableMeta,
    val pinnedSnapshot: Option[Long], // time travel / tag read
    val ref: String)                  // commit target (branch)
  extends Table with SupportsRead with SupportsWrite
  with SupportsRowLevelOperations with SupportsDeleteV2
  with SupportsMetadataColumns {

  private def spark: SparkSession = SparkSession.active

  override def name(): String =
    (catalog.name() +: ident.namespace() :+ ident.name()).mkString(".")

  def readSnapshotId: Option[Long] =
    pinnedSnapshot.orElse(meta.currentSnapshotId(ref))

  def readEpoch: Int = pinnedSnapshot match {
    // time travel reads with the snapshot's schema; the live table
    // always shows the current schema (ALTER is immediately visible)
    case Some(id) => meta.snapshotById(id).map(_.schemaEpoch)
      .getOrElse(meta.currentSchemaEpoch)
    case None => meta.currentSchemaEpoch
  }

  override def schema(): StructType = meta.schemaAt(readEpoch)

  /** This table over `m`, a head a commit is being derived from: it
    * reads at `m`'s current schema. */
  def withMeta(m: TableMeta): LakeTable = new LakeTable(catalog, ident, m, None, ref)

  override def partitioning(): Array[Transform] =
    meta.partitionSpec.map(Transforms.toTransform).toArray

  override def properties(): util.Map[String, String] =
    (meta.properties ++ Map(
      "format" -> "lake/parquet",
      "location" -> meta.location,
      "current-snapshot-id" -> meta.currentSnapshotId(ref).map(_.toString).getOrElse("none"),
      // reserved (Iceberg parity: SHOW TBLPROPERTIES exposes `uuid`):
      // the per-incarnation identity — survives renames, changes on
      // drop-and-recreate, so caches keyed on table CONTENT identity
      // (e.g. the IVF centroid cache) key on this, not on the name
      "uuid" -> meta.uuid
    )).asJava

  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)
    if (meta.properties.get("write.spark.accept-any-schema").contains("true"))
      caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // programmatic time travel via read options
    // (docs/spark-queries.md:122-189)
    val snap = Option(options.get("snapshot-id")).map(_.toLong)
      .orElse(Option(options.get("as-of-timestamp")).map(ts =>
        meta.snapshotAsOfTime(ts.toLong).map(_.snapshotId)
          .getOrElse(throw new IllegalArgumentException(s"no snapshot at $ts"))))
      .orElse(Option(options.get("tag")).map(t => meta.refs(t).snapshotId))
      .orElse(Option(options.get("branch")).map(b => meta.refs(b).snapshotId))
      .orElse(readSnapshotId)
    // incremental append-only batch read (docs/spark-queries.md:193-213):
    // the range is walked along MAIN-BRANCH ANCESTRY, not raw snapshot
    // ids — branch/WAP-staged snapshots sharing the id space must not
    // leak in — and non-append snapshots in range raise, because a CoW
    // overwrite/update/merge would otherwise re-emit rewritten survivor
    // rows as fresh appends.
    val incremental = Option(options.get("start-snapshot-id")).map { st =>
      val start = st.toLong
      val end = Option(options.get("end-snapshot-id")).map(_.toLong)
        .orElse(meta.currentSnapshotId("main")).getOrElse(start)
      val ancestry = meta.ancestorsOf(end)
      require(ancestry.nonEmpty,
        s"end snapshot $end is not a known snapshot")
      require(start == 0L || ancestry.exists(_.snapshotId == start),
        s"start snapshot $start is not an ancestor of end snapshot $end " +
          "on the main branch")
      val range = ancestry.filter(_.snapshotId > start).sortBy(_.snapshotId)
      // upserts qualify: they only ADD files (their equality deletes
      // target older rows), so the added-files diff is exact — the
      // incremental stream yields each key's latest values. "replace"
      // commits (compaction, delete-format conversion — row-preserving
      // by construction; RTAS records "overwrite") qualify too but
      // contribute NOTHING: their added files hold only rows that
      // already streamed, so a compacted table stays incrementally
      // readable across the rewrite instead of erroring forever.
      range.foreach(sn =>
        // isRowPreservingReplace, not the op name: a pre-fix RTAS
        // snapshot recorded its whole-table replacement as "replace"
        // — skipping it as if it were a compaction would silently
        // drop the replacement from the stream, so it fails here
        require(sn.operation == "append" || sn.operation == "upsert" ||
            sn.isRowPreservingReplace,
          s"found '${sn.operation}' snapshot ${sn.snapshotId} in the " +
            "incremental range; incremental batch reads support " +
            "append-only history"))
      range.filterNot(_.isRowPreservingReplace).flatMap { sn =>
        val parentPaths = sn.parentId.flatMap(meta.snapshotById)
          .map(_.files.map(_.path).toSet).getOrElse(Set.empty)
        sn.files.filterNot(f => parentPaths(f.path))
      }
    }
    new LakeScanBuilder(this, snap, options, filesOverride = incremental)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new LakeWriteBuilder(this, info)

  override def metadataColumns(): Array[MetadataColumn] =
    // a data column of the same name wins (metadata columns hide)
    LakeMetaColumns.columns.filterNot(c => schema().fieldNames.contains(c.name))

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = {
        val prop = info.command() match {
          case RowLevelOperation.Command.DELETE => "write.delete.mode"
          case RowLevelOperation.Command.UPDATE => "write.update.mode"
          case RowLevelOperation.Command.MERGE => "write.merge.mode"
        }
        if (meta.properties.get(prop).contains("merge-on-read") &&
            metadataColumns().length == LakeMetaColumns.columns.length)
          new LakeDeltaOperation(LakeTable.this, info)
        else new LakeRowLevelOperation(LakeTable.this, info)
      }
    }

  // ---- SupportsDeleteV2: file-granular copy-on-write fast path ----

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean = {
    val v1 = predicates.map(Shims.predicateToV1(_))
    v1.forall(_.isDefined) &&
      v1.flatten.forall(LakeWriteUtil.filterToColumn(_).isDefined)
  }

  override def deleteWhere(predicates: Array[Predicate]): Unit =
    LakeWriteUtil.deleteWhere(this, predicates.flatMap(Shims.predicateToV1(_)))

  override def truncateTable(): Boolean = {
    catalog.commitRetrying(ident) { fresh =>
      val parent = fresh.currentSnapshot(ref)
      val snap = SnapshotMeta(fresh.lastSnapshotId + 1,
        parent.map(_.snapshotId), System.currentTimeMillis(), "delete",
        Map("deleted-by" -> "truncate"), Nil, fresh.currentSchemaEpoch)
      fresh.withSnapshot(snap, Some(ref))
    }
    true
  }
}

/** Filter + column pushdown with file-level stats pruning.
  *
  * In `rowLevel` mode (group-based DELETE/UPDATE/MERGE) the pushed
  * filters are the command condition: they select which FILES are
  * rewritten (reported back through `onBuild` so the commit replaces
  * exactly those), and must NOT skip rows inside a selected file —
  * every surviving row of a replaced group has to flow to the write.
  */
class LakeScanBuilder(table: LakeTable, snapshotId: Option[Long],
    options: CaseInsensitiveStringMap,
    rowLevel: Boolean = false,
    onBuild: Seq[DataFileMeta] => Unit = _ => (),
    filesOverride: Option[Seq[DataFileMeta]] = None,
    onFilters: Array[Filter] => Unit = _ => ())
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
  with SupportsPushDownLimit with SupportsPushDownTopN {

  private val fullSchema = table.schema()
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var topN: Option[(String, Boolean, Int)] = None // col, desc, n

  // ---- top-N pushdown: ORDER BY c LIMIT n cuts dominated files ----
  // Partial-only (isPartiallyPushed — Spark keeps its own Sort+Limit
  // on top, so results cannot change): a file is skippable when OTHER
  // files already guarantee n rows sorting STRICTLY before its entire
  // range. Strict dominance keeps multi-key sorts sound too (only the
  // leading key participates; ties within it could be reordered by
  // later keys, so ties never justify a skip). Requires exact footer
  // min/max with zero nulls in every planned file — checked in
  // build(), which silently keeps everything otherwise. At 100 TB
  // `ORDER BY ts DESC LIMIT 100` on a time-clustered snapshot plans a
  // handful of head files instead of the whole table.
  override def pushTopN(orders: Array[org.apache.spark.sql.connector
      .expressions.SortOrder], n: Int): Boolean = {
    if (orders.isEmpty || n <= 0) return false
    orders.head.expression match {
      case fr: NamedReference if fr.fieldNames.length == 1 =>
        fullSchema.fields.find(_.name.equalsIgnoreCase(fr.fieldNames()(0)))
          .filter(f => LakeAggPushdown.statComparable(f.dataType)) match {
          case Some(f) =>
            topN = Some((f.name,
              orders.head.direction ==
                org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING,
              n))
            true
          case None => false
        }
      case _ => false
    }
  }
  override def isPartiallyPushed(): Boolean = true

  /** Keep file F only while fewer than n rows live in files whose
    * whole range sorts strictly before F's first value. Declines (no
    * pruning) unless every file has decodable min/max and zero nulls
    * for the key — with zero nulls the sort's null ordering is moot. */
  private def topNPrune(fs: Seq[DataFileMeta], col: String, desc: Boolean,
      n: Int): Seq[DataFileMeta] = {
    if (fs.size <= 1) return fs
    val field = fullSchema.fields.find(_.name == col).getOrElse(return fs)
    val renames = LakeScans.renamesFor(fullSchema, table.meta, fs)
    val stats: Seq[Option[(Any, Any)]] = fs.map { f =>
      val nm = renames(f.schemaEpoch).getOrElse(col, col)
      for {
        nc <- f.nullCounts.get(nm) if nc == 0L
        mn <- f.minValues.get(nm)
          .flatMap(LakeAggPushdown.decode(_, field.dataType))
        mx <- f.maxValues.get(nm)
          .flatMap(LakeAggPushdown.decode(_, field.dataType))
      } yield (mn, mx)
    }
    if (stats.exists(_.isEmpty)) return fs
    val dir = if (desc) -1 else 1
    def cmp(a: Any, b: Any): Int =
      a.asInstanceOf[Comparable[Any]].compareTo(b) * dir
    // worst(F) = F's last value in sort direction; best(F) = its first
    val entries = fs.zip(stats.map(_.get)).map { case (f, (mn, mx)) =>
      (if (desc) mn else mx, if (desc) mx else mn, f.rowCount)
    }
    val sortedWorst = entries.map(e => (e._1, e._3))
      .sortWith((x, y) => cmp(x._1, y._1) < 0)
    val prefixRows = sortedWorst.scanLeft(0L)(_ + _._2)
    // rows strictly before v = prefix at lower bound of v over worsts
    def rowsBefore(v: Any): Long = {
      var lo = 0; var hi = sortedWorst.size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cmp(sortedWorst(mid)._1, v) < 0) lo = mid + 1 else hi = mid
      }
      prefixRows(lo)
    }
    fs.zip(entries).collect {
      case (f, (_, best, _)) if rowsBefore(best) < n => f
    }
  }

  // ---- limit pushdown: plan only enough files to cover the limit ----
  // `SELECT * FROM t LIMIT 10` on a million-file snapshot must not
  // list a million files into the plan. We only TRUNCATE the planned
  // file list (manifest row counts bound how many files can possibly
  // be needed); Spark keeps its own Limit on top (isPartiallyPushed),
  // so this can never change results. Applied in build() only when no
  // pushed filter and no MoR mask makes per-file row counts inexact —
  // and Spark only pushes a limit when no residual filter sits between
  // the Limit and the scan in the first place.
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // all filters re-checked by Spark after the scan — safe
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- aggregate pushdown: COUNT/MIN/MAX answered from manifest ----
  // At 100 TB `SELECT count(*) FROM t` must be a metadata lookup, not
  // a full scan — the manifest already carries exact per-file row
  // counts and footer min/max/null stats (Iceberg answers the same
  // aggregates from its manifests). COMPLETE pushdown only: the scan
  // returns the final rows or declines entirely; there is no partial
  // mode whose mistakes an executor could hide.
  private var aggPushed: Option[(StructType, Array[org.apache.spark.sql.catalyst.InternalRow])] = None
  private var aggMemo: Option[(org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
    Option[(StructType, Array[org.apache.spark.sql.catalyst.InternalRow])])] = None

  private def computeAggregate(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[org.apache.spark.sql.catalyst.InternalRow])] = {
    aggMemo match {
      case Some((a, r)) if a eq agg => return r
      case _ =>
    }
    val res = LakeAggPushdown.tryCompute(table, snapshotId, agg,
      declined = rowLevel || filesOverride.isDefined || pushed.nonEmpty)
    aggMemo = Some((agg, res))
    res
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    computeAggregate(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    computeAggregate(agg) match {
      case s @ Some((schema, _)) =>
        aggPushed = s
        required = schema
        true
      case None => false
    }

  override def build(): Scan = {
    aggPushed match {
      case Some((aggSchema, rows)) =>
        // pruneColumns may have narrowed/reordered: project by name
        val idx = required.fieldNames.map(aggSchema.fieldIndex)
        val projected = rows.map { r =>
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            idx.map(i => r.get(i, aggSchema(i).dataType)).toArray[Any])
            : org.apache.spark.sql.catalyst.InternalRow
        }
        return new LakeAggScan(required, projected)
      case None =>
    }
    val files = filesOverride.getOrElse(table.meta.filesOf(snapshotId))
    // Spilled-manifest snapshots with pushed predicates plan
    // DISTRIBUTED: the prune runs as a Spark job over the manifest
    // parquet and only surviving files reach the driver, so planning
    // memory/latency is O(matching files) — the property that keeps a
    // selective query on a million-file snapshot plannable. Unfiltered
    // scans need every entry anyway and hydrate through the cache.
    val statRenames = LakeScans.statRenames(fullSchema, table.meta)
    val parts =
      if (pushed.isEmpty) PartitionPruning.none
      else PartitionPruning.of(table.meta)
    val spill = Manifests.unforcedSpill(files)
    val pruned = spill match {
      case Some(l) if pushed.nonEmpty =>
        Manifests.readPruned(l.dir, pushed.toSeq, fullSchema,
          table.catalog.hadoopConf, statRenames, parts)
      case _ =>
        FileStats.prune(files, pushed.toSeq, fullSchema, statRenames, parts)
    }
    onBuild(pruned)
    onFilters(pushed)
    // merge-on-read position deletes of the scanned snapshot (none for
    // filesOverride scans — changelog diffs pin their own file lists).
    // Metadata-only relevance index: which delete files MAY mask each
    // data file (footer stats); mask content is read executor-side by
    // the task scanning the file, never collected for planning.
    val deleted =
      if (filesOverride.isDefined) Map.empty[String, Seq[String]]
      else snapshotId.flatMap(table.meta.snapshotById)
        .filter(_.deleteFiles.nonEmpty)
        .map(s => PosDeletes.masksFor(pruned, s.deleteFiles))
        .getOrElse(Map.empty)
    // equality deletes (upserts): metadata-only relevance — a file is
    // affected iff it is OLDER than the delete (seq) and its key range
    // may intersect the delete's (footer stats)
    val eqDeleted =
      if (filesOverride.isDefined) Map.empty[String, Seq[EqDeleteMeta]]
      else snapshotId.flatMap(table.meta.snapshotById)
        .filter(_.eqDeleteFiles.nonEmpty)
        .map(s => EqDeletes.masksFor(table.meta, pruned, s.eqDeleteFiles))
        .getOrElse(Map.empty)
    if (rowLevel && table.meta.partitionSpec.nonEmpty)
      new LakeRowLevelScan(table, pruned, required, options, onBuild, deleted,
        eqDeleted)
    else if (rowLevel) {
      val s = LakeScans.build(table, pruned, required, Array.empty, options,
        deleted, eqDeleted)
      // A SINGLE-epoch delegate is a bare parquet scan whose readSchema
      // carries the files' WRITE-TIME column names — after RENAME
      // COLUMN, Spark's row-level scan planning resolves readSchema
      // against the relation's CURRENT names and crashes. Composite
      // (multi-epoch) and LakeBatchScan paths already relabel; do the
      // same here when the names diverge.
      if (s.readSchema() == required) s
      else new CompositeScan(Seq("all" -> s), required,
        Some(cp => new LakeMicroBatchStream(table, required, options, cp)))
    }
    else {
      // limit/top-N file cuts need exact per-file row counts: any
      // pushed filter or MoR mask makes membership row-inexact
      val exactRows = filesOverride.isEmpty && pushed.isEmpty &&
        deleted.isEmpty && eqDeleted.isEmpty
      val planned = (limit, topN) match {
        case (Some(n), _) if exactRows =>
          // row counts are exact here: keep files until they cover n
          val out = Seq.newBuilder[DataFileMeta]
          var acc = 0L
          val it = pruned.iterator
          while (acc < n && it.hasNext) {
            val f = it.next(); out += f; acc += f.rowCount
          }
          out.result()
        case (_, Some((col, desc, n))) if exactRows =>
          topNPrune(pruned, col, desc, n)
        case _ => pruned
      }
      LakeScanBuilder.lastPlannedFileCount.set(planned.size)
      // skipped-files metric: unknown only for a parquet spill the
      // prune left unread (never force it just to count)
      val skipped =
        if (spill.exists(!_.isForced)) -1L
        else (files.size - planned.size).toLong
      // of those, the files only the partition check ruled out
      val partitionSkipped =
        if (skipped < 0) -1L
        else if (skipped == 0 || parts.isEmpty) 0L
        else {
          val kept = pruned.iterator.map(_.path).toSet
          FileStats.prune(files.filterNot(f => kept(f.path)), pushed.toSeq,
            fullSchema, statRenames).size.toLong
        }
      new LakeBatchScan(table, planned, required, pushed, options, deleted,
        eqDeleted, skippedFiles = skipped,
        partitionSkippedFiles = partitionSkipped)
    }
  }
}

object LakeScanBuilder {
  /** Spec observability: file count in the most recent normal-read
    * plan (private[graft]: the MV suite asserts the incremental
    * refresher's O(delta) planning through it too). */
  private[graft] val lastPlannedFileCount =
    new java.util.concurrent.atomic.AtomicInteger(-1)
}

/** Metadata-only result of a completely-pushed aggregate: the rows
  * were computed from manifest stats at plan time; Spark plans this as
  * a LocalTableScan — zero data files are opened. */
class LakeAggScan(schema: StructType,
    rs: Array[org.apache.spark.sql.catalyst.InternalRow])
  extends Scan with LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = rs
  override def description(): String =
    s"LakeAggScan(metadata-only aggregate, ${rs.length} rows)"
}

/** Answers COUNT(*) / COUNT(col) / MIN(col) / MAX(col) — optionally
  * grouped — exactly from manifest statistics, declining whenever
  * exactness is not provable:
  *
  *  - any pushed filter, MoR delete file, row-level scan or pinned
  *    file list → decline (row membership isn't decidable from stats);
  *  - COUNT(col) needs a null count for the column in EVERY file;
  *  - MIN/MAX need footer min/max in every file (parquet-mr writes
  *    them whole or not at all — no silent truncation) and a type
  *    whose encoded stats decode losslessly (integral, string, date,
  *    timestamp, boolean; float/double are excluded for NaN, decimal
  *    for its binary encoding);
  *  - a GROUP BY column qualifies iff in every file its min == max
  *    with zero nulls — provably single-valued per file, which is
  *    exactly the shape identity-partitioned (or partition-clustered)
  *    data has. Files then group by that constant.
  *
  * Schema-epoch renames are resolved through the same field-id rename
  * map the scan path uses, so stats written under an old column name
  * still serve the current name. */
private[lake] object LakeAggPushdown {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.types._

  /** Types whose encoded footer stats decode losslessly AND compare
    * correctly through `Comparable` — the precondition both the
    * MIN/MAX pushdown and the top-N file cut share. Float/double stay
    * excluded (NaN breaks total order), decimal for its binary
    * encoding. */
  private[lake] def statComparable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         StringType | DateType | TimestampType | TimestampNTZType => true
    // footer space = total months (int) / total micros (long): decodes
    // losslessly and numeric order IS interval order
    case _: YearMonthIntervalType | _: DayTimeIntervalType => true
    case _ => false
  }

  private[lake] def decode(s: String, dt: DataType): Option[Any] = try dt match {
    case ByteType => Some(s.toLong.toByte)
    case ShortType => Some(s.toLong.toShort)
    case IntegerType => Some(s.toLong.toInt)
    case LongType => Some(s.toLong)
    case BooleanType => Some(s.toBoolean)
    case StringType => Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    case DateType => Some(s.toLong.toInt)       // footer: epoch-day
    case TimestampType | TimestampNTZType => Some(s.toLong) // micros
    // footer-stat space holds the UNSCALED integer (FileStats.encode)
    // regardless of the physical backing (int32/int64/binary) — the
    // COLUMN's scale re-attaches here. Without this case every
    // metadata MIN/MAX and CBO bound on a decimal column silently
    // declined to the scan path.
    case d: DecimalType => Some(org.apache.spark.sql.types.Decimal(
      new java.math.BigDecimal(new java.math.BigInteger(s), d.scale),
      d.precision, d.scale))
    // internal encodings: year-month = Int total months, day-time =
    // Long total micros — exactly the footer-stat space
    case _: YearMonthIntervalType => Some(s.toLong.toInt)
    case _: DayTimeIntervalType => Some(s.toLong)
    case _ => None
  } catch { case _: Exception => None }

  def tryCompute(table: LakeTable, snapshotId: Option[Long],
      agg: Aggregation, declined: Boolean)
      : Option[(StructType, Array[InternalRow])] = {
    if (declined) return None
    val snap = snapshotId.flatMap(table.meta.snapshotById)
    if (snap.exists(s => s.deleteFiles.nonEmpty || s.eqDeleteFiles.nonEmpty))
      return None
    val schema = table.schema()
    val files = table.meta.filesOf(snapshotId)
    val renames = LakeScans.renamesFor(schema, table.meta, files)
    def statName(f: DataFileMeta, col: String): String =
      renames(f.schemaEpoch).getOrElse(col, col)
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case fr: NamedReference if fr.fieldNames.length == 1 =>
        schema.fields.find(_.name == fr.fieldNames()(0))
          .orElse(schema.fields.find(
            _.name.equalsIgnoreCase(fr.fieldNames()(0))))
      case _ => None
    }

    // group columns: provably single-valued per file
    val groupFields = agg.groupByExpressions.toSeq.map { e =>
      val f = fieldOf(e).getOrElse(return None)
      val ok = files.forall { df =>
        val n = statName(df, f.name)
        df.nullCounts.get(n).contains(0L) &&
          df.minValues.get(n).exists(mn => df.maxValues.get(n).contains(mn) &&
            decode(mn, f.dataType).isDefined)
      }
      if (!ok) return None
      f
    }
    def groupKey(df: DataFileMeta): Seq[Any] =
      groupFields.map(f =>
        decode(df.minValues(statName(df, f.name)), f.dataType).get)

    // one evaluator per aggregate: Seq[DataFileMeta] => value
    val aggs: Seq[(DataType, Boolean, Seq[DataFileMeta] => Any)] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          (LongType, false, (fs: Seq[DataFileMeta]) => fs.map(_.rowCount).sum)
        case c: Count if !c.isDistinct =>
          val f = fieldOf(c.column).getOrElse(return None)
          val ok = files.forall(df =>
            df.nullCounts.contains(statName(df, f.name)))
          if (!ok) return None
          (LongType, false, (fs: Seq[DataFileMeta]) =>
            fs.map(df => df.rowCount - df.nullCounts(statName(df, f.name))).sum)
        case m: Min =>
          val f = fieldOf(m.column).getOrElse(return None)
          minMaxEval(files, f, statName, isMin = true).getOrElse(return None)
        case m: Max =>
          val f = fieldOf(m.column).getOrElse(return None)
          minMaxEval(files, f, statName, isMin = false).getOrElse(return None)
        case _ => return None // SUM/AVG/distinct: not derivable from stats
      }

    val outSchema = StructType(
      groupFields.map(f => f.copy(nullable = false)) ++
        aggs.zipWithIndex.map { case ((dt, nullable, _), i) =>
          StructField(s"agg_$i", dt, nullable) })
    val grouped: Seq[Seq[DataFileMeta]] =
      if (groupFields.isEmpty) Seq(files)
      else files.groupBy(groupKey).values.toSeq
    val rows = grouped.map { fs =>
      val key = if (groupFields.isEmpty) Nil else groupKey(fs.head)
      new GenericInternalRow(
        (key ++ aggs.map(_._3(fs))).toArray[Any]): InternalRow
    }.toArray
    Some((outSchema, rows))
  }

  /** MIN/MAX evaluator iff every file has decodable stats for the
    * column (files with zero rows or an all-null column lack them —
    * the whole aggregate then declines to the scan path). */
  private def minMaxEval(files: Seq[DataFileMeta], f: StructField,
      statName: (DataFileMeta, String) => String, isMin: Boolean)
      : Option[(DataType, Boolean, Seq[DataFileMeta] => Any)] = {
    val bounds = if (isMin) (df: DataFileMeta) => df.minValues
      else (df: DataFileMeta) => df.maxValues
    // NaN stats decline the whole aggregate: parquet-mr never writes
    // them (NaN pages drop min/max entirely → `ok` already fails),
    // but files IMPORTED via add_files/migrate come from arbitrary
    // writers, and FileStats.cmp makes no NaN claim — reducing
    // through getOrElse(0) would pick an arbitrary bound while
    // Spark's MIN/MAX semantics order NaN greatest.
    def usable(v: String): Boolean = decode(v, f.dataType).isDefined &&
      (f.dataType match {
        case FloatType | DoubleType =>
          scala.util.Try(v.toDouble).toOption.exists(!_.isNaN)
        case _ => true
      })
    val ok = files.forall(df => bounds(df).get(statName(df, f.name))
      .exists(usable))
    if (!ok) return None
    Some((f.dataType, true, (fs: Seq[DataFileMeta]) => {
      if (fs.isEmpty) null
      else {
        val best = fs.map(df => bounds(df)(statName(df, f.name)))
          .reduce { (a, b) =>
            // decode pre-validated for every file, so cmp parses; the
            // 0 fallback is unreachable but must not non-locally return
            val cmp = FileStats.cmp(a, b, f.dataType).getOrElse(0)
            if ((isMin && cmp <= 0) || (!isMin && cmp >= 0)) a else b
          }
        decode(best, f.dataType).orNull
      }
    }))
  }
}

/** Manifest-backed scan statistics: exact pre-mask row counts and
  * compressed byte sizes summed over the planned file list. Feeding
  * these to Catalyst is what lets a small lake dimension auto-broadcast
  * in joins — without them a DSv2 scan outside the FileScan family
  * falls back to `spark.sql.defaultSizeInBytes` (effectively infinite)
  * and every join sort-merges. */
private[lake] case class LakeStats(files: Seq[DataFileMeta],
    colStats: java.util.Map[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      java.util.Collections.emptyMap()) extends Statistics {
  override def sizeInBytes(): java.util.OptionalLong =
    java.util.OptionalLong.of(files.map(_.sizeBytes).sum)
  override def numRows(): java.util.OptionalLong =
    java.util.OptionalLong.of(files.map(_.rowCount).sum)
  override def columnStats(): java.util.Map[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
}

/** Manifest-derived per-column statistics for the cost-based optimizer
  * (SPARK-41378 DSv2 column stats): exact null counts and global
  * min/max folded from the planned files' footer stats — the same
  * decode/compare machinery the aggregate pushdown trusts — plus NDV
  * from `compute_table_stats`' `stats.ndv.<col>` table property. Only
  * computed when CBO is on: it is O(files × columns) driver work that
  * pure rule-based planning would never read. */
private[lake] object LakeColumnStats {
  import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
  import java.util.{Optional, OptionalLong}

  def forFiles(table: LakeTable, files: Seq[DataFileMeta])
      : java.util.Map[NamedReference, ColumnStatistics] = {
    val out = new java.util.HashMap[NamedReference, ColumnStatistics]()
    if (files.isEmpty) return out
    val schema = table.schema()
    val renames = LakeScans.renamesFor(schema, table.meta, files)
    schema.fields.foreach { f =>
      def statName(df: DataFileMeta): String =
        renames(df.schemaEpoch).getOrElse(f.name, f.name)
      val nulls =
        if (files.forall(df => df.nullCounts.contains(statName(df))))
          OptionalLong.of(files.map(df => df.nullCounts(statName(df))).sum)
        else OptionalLong.empty()
      def bound(sel: DataFileMeta => Map[String, String],
          isMin: Boolean): Option[Any] = {
        val vals = files.map(df => sel(df).get(statName(df)))
        if (vals.exists(v => v.isEmpty ||
            LakeAggPushdown.decode(v.get, f.dataType).isEmpty)) None
        else LakeAggPushdown.decode(vals.map(_.get).reduce { (a, b) =>
          val cmp = FileStats.cmp(a, b, f.dataType).getOrElse(0)
          if ((isMin && cmp <= 0) || (!isMin && cmp >= 0)) a else b
        }, f.dataType)
      }
      val mn = bound(_.minValues, isMin = true)
      val mx = bound(_.maxValues, isMin = false)
      val ndv = table.meta.properties.get(s"stats.ndv.${f.name}")
        .flatMap(v => scala.util.Try(v.toLong).toOption)
      // equi-height histogram from compute_table_stats
      // ("height:b0,b1,...,bN"); per-bin NDV = total NDV spread over
      // the bins (same approximation class as the HLL NDV)
      val hist: Option[org.apache.spark.sql.connector.read.colstats.Histogram] =
        table.meta.properties.get(s"stats.hist.${f.name}").flatMap { v =>
          scala.util.Try {
            val idx = v.indexOf(':')
            val h = v.substring(0, idx).toDouble
            val bounds = v.substring(idx + 1).split(',').map(_.toDouble)
            require(bounds.length >= 2)
            val perBin = math.max(1L, ndv
              .map(n => math.ceil(n.toDouble / (bounds.length - 1)).toLong)
              .getOrElse(1L))
            val bs = bounds.sliding(2).map { w =>
              new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                override def lo(): Double = w(0)
                override def hi(): Double = w(1)
                override def ndv(): Long = perBin
              }
            }.toArray
            new org.apache.spark.sql.connector.read.colstats.Histogram {
              override def height(): Double = h
              override def bins(): Array[
                org.apache.spark.sql.connector.read.colstats.HistogramBin] = bs
            }
          }.toOption
        }
      if (nulls.isPresent || mn.isDefined || mx.isDefined || ndv.isDefined)
        out.put(Shims.columnRef(f.name), new ColumnStatistics {
          override def distinctCount(): OptionalLong =
            ndv.map(OptionalLong.of).getOrElse(OptionalLong.empty())
          override def min(): Optional[Object] =
            mn.map(v => Optional.of(v.asInstanceOf[Object]))
              .getOrElse(Optional.empty[Object]())
          override def max(): Optional[Object] =
            mx.map(v => Optional.of(v.asInstanceOf[Object]))
              .getOrElse(Optional.empty[Object]())
          override def nullCount(): OptionalLong = nulls
          override def histogram(): Optional[
              org.apache.spark.sql.connector.read.colstats.Histogram] =
            hist.map(h => Optional.of(h)).getOrElse(Optional.empty[
              org.apache.spark.sql.connector.read.colstats.Histogram]())
        })
    }
    out
  }
}

/** The normal-read scan: wraps the delegate built by [[LakeScans.build]]
  * with the two planning-time scale features a 1000-executor join needs:
  *
  *  - '''Dynamic file pruning''' (SupportsRuntimeV2Filtering): joining
  *    a partitioned fact to a filtered dimension, Spark evaluates the
  *    dim side first and hands the surviving join-key values back via
  *    [[filter]]; the file set re-prunes with the same stats check as
  *    planning-time skipping, so only matching-partition files are
  *    read. Iceberg gets this via its SparkBatchQueryScan runtime
  *    filtering; same contract here.
  *  - '''Statistics''' (SupportsReportStatistics): exact manifest row
  *    counts/byte sizes (see [[LakeStats]]) drive broadcast planning
  *    even on the composite/MoR-masked paths that bypass FileScan.
  *
  * Equality delegates to the inner scan so exchange/scan reuse across
  * identical subplans is preserved. */
class LakeBatchScan(table: LakeTable, initial: Seq[DataFileMeta],
    required: StructType, pushed: Array[Filter],
    options: CaseInsensitiveStringMap,
    deleted: Map[String, Seq[String]] = Map.empty,
    eqDeleted: Map[String, Seq[EqDeleteMeta]] = Map.empty,
    skippedFiles: Long = -1L,
    partitionSkippedFiles: Long = -1L)
  extends Scan with SupportsRuntimeV2Filtering with SupportsReportStatistics
  with SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  @volatile private var files: Seq[DataFileMeta] = initial
  // lazy so a key-grouped (SPJ) execution never pays for the flat
  // delegate's file index; runtime filtering swaps in a narrowed one
  @volatile private var narrowedDelegate: Option[Scan] = None
  // Runtime filtering can pair the reader factory of one toBatch with
  // the partitions of another (either direction — BatchScanExec
  // re-calls toBatch after filter(), and factory/partition evaluation
  // order is lazy). Pinning ONE leaf layout, derived from the
  // pre-narrowing file set, for both the initial and every narrowed
  // delegate makes all such pairings route correctly. Scans that can
  // never be runtime-filtered (unpartitioned; the keyed SPJ path
  // disables filtering) keep the bare fast path.
  // Current-name columns with a manifest bloom in at least one planned
  // file: runtime-prunable like partition sources — a broadcast join's
  // surviving key set probes each file's bloom at filter() time.
  private lazy val bloomFilterCols: Seq[String] =
    if (initial.forall(_.blooms.isEmpty)) Nil
    else {
      val schema = table.schema()
      val renames = LakeScans.renamesFor(schema, table.meta, initial)
      schema.fieldNames.toSeq.filter { c =>
        initial.exists(f =>
          f.blooms.contains(renames(f.schemaEpoch).getOrElse(c, c)))
      }
    }
  private lazy val leafLayout: Option[Seq[String]] =
    // pin a layout whenever runtime filtering is possible (partition
    // sources OR bloom columns) — see the pairing note above
    if (table.meta.partitionSpec.isEmpty && bloomFilterCols.isEmpty) None
    else Some(LakeScans.leafKeysFor(initial, deleted, eqDeleted))
  private lazy val initialDelegate: Scan =
    LakeScans.build(table, files, required, pushed, options, deleted,
      eqDeleted, layout = leafLayout)
  private def delegate: Scan = narrowedDelegate.getOrElse(initialDelegate)

  override def readSchema(): StructType = required
  override def description(): String = delegate.description()

  // ---- storage-partitioned joins -----------------------------------
  // When every planned file is provably single-valued on all identity
  // partition columns (footer min==max, zero nulls — the shape
  // identity-partitioned data always has), report KeyGroupedPartitioning
  // and plan one keyed input-partition group per partition tuple. Two
  // lake tables co-partitioned on the join keys then join with NO
  // shuffle exchange — at 100 TB the single biggest join cost simply
  // disappears. Gated on spark.sql.sources.v2.bucketing.enabled (the
  // same switch Iceberg's SPJ uses).
  private lazy val keyed: Option[(Array[Transform], KeyedBatch)] = {
    val spark = SparkSession.active
    if (!spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
        .toBoolean) None
    else if (deleted.nonEmpty || eqDeleted.nonEmpty) None // keep MoR masks off the SPJ path
    else {
      // spec shape checks come FIRST: they are free, while files.isEmpty
      // forces a lazy spilled manifest — a full manifest read during
      // planning for tables that can never be key-grouped anyway
      val spec = table.meta.partitionSpec
      if (spec.isEmpty ||
          !spec.forall(f => f.transform == "identity" || f.transform == "bucket"))
        None
      else if (files.isEmpty) None // an empty keyed partitioning would
                                   // report 0 partitions — use the
                                   // ordinary empty scan instead
      else {
        val schema = table.schema()
        val renames = LakeScans.renamesFor(schema, table.meta, files)
        // one (transform expression, per-file key extractor) per field:
        //  - identity: constant proven by footer stats, typed value
        //  - bucket:   the manifest's recorded bucket id (a Long — the
        //    same value TransformFunctions.bucket computes, which Spark
        //    resolves through this catalog's FunctionCatalog)
        val extractors: Option[Seq[(Transform, DataFileMeta => Option[Any])]] =
          traverse(spec) { pf =>
            schema.fields.find(_.name == pf.sourceColumn).flatMap { fld =>
              pf.transform match {
                case "identity" => Some((
                  org.apache.spark.sql.connector.expressions.Expressions
                    .identity(fld.name),
                  (f: DataFileMeta) => {
                    val n = renames(f.schemaEpoch).getOrElse(fld.name, fld.name)
                    for {
                      mn <- f.minValues.get(n)
                      if f.maxValues.get(n).contains(mn) &&
                        f.nullCounts.get(n).contains(0L)
                      v <- LakeAggPushdown.decode(mn, fld.dataType)
                    } yield v
                  }))
                case "bucket" => pf.param.map(n => (
                  org.apache.spark.sql.connector.expressions.Expressions
                    .bucket(n, fld.name),
                  (f: DataFileMeta) => f.partitionValues.get(pf.name)
                    .flatMap(s => scala.util.Try(
                      java.lang.Long.valueOf(s.toLong): Any).toOption)))
                case _ => None
              }
            }
          }
        extractors.flatMap { ex =>
          val keyedFiles: Option[Seq[(Seq[Any], DataFileMeta)]] =
            traverse(files)(f => traverse(ex)(_._2(f)).map(_ -> f))
          keyedFiles.map { kf =>
            val grouped = kf.groupBy(_._1).toSeq.map { case (k, fs) =>
              (k, fs.map(_._2))
            }
            // Every group builds over the UNION leaf layout and reads
            // through ONE shared reader factory (built once, from the
            // union file set): a reader factory is file-agnostic — the
            // partitions carry the files — while per-group factories
            // would build every leaf's factory once per group of every
            // probe plan, and a mask-routed leaf's (PosDeleteScan)
            // broadcasts its epoch readers' confs each time.
            val unionLayout = LakeScans.leafKeysFor(files, deleted, eqDeleted)
            val groups = grouped.map { case (k, fs) =>
              val row: org.apache.spark.sql.catalyst.InternalRow =
                new org.apache.spark.sql.catalyst.expressions
                  .GenericInternalRow(k.toArray[Any])
              row -> LakeScans.build(table, fs, required, pushed, options,
                layout = Some(unionLayout))
            }
            val factoryScan = () => LakeScans.build(table, files, required,
              pushed, options, layout = Some(unionLayout))
            // Bucket-key sort-free SPJ claim: when every key group is
            // exactly ONE file whose write-order provenance covers the
            // table's current sort order (translated to that file's
            // write-time names), the group's rows are read in sorted
            // order — provided the file also planned as a single input
            // partition, which KeyedBatch checks (a split file's
            // pieces pack size-ordered, not offset-ordered). Identity
            // fields never need this (constant per group).
            val so = table.meta.sortOrder
            val sortClaim: Seq[String] =
              if (so.isEmpty) Nil
              else if (grouped.forall { case (_, fs) =>
                fs.size == 1 && {
                  // stamped entries carry write-time column names:
                  // translate the NAME portion of each current entry
                  // into that file's epoch before comparing
                  val f = fs.head
                  val rn = renames(f.schemaEpoch)
                  val want = so.map { e =>
                    val p = SortSpec.parse(e)
                    p.copy(column = rn.getOrElse(p.column, p.column)).normalized
                  }
                  f.sortedBy.take(want.size) == want
                }
              }) so
              else Nil
            (ex.map(_._1).toArray,
              new KeyedBatch(groups, sortClaim, Some(factoryScan)))
          }
        }
      }
    }
  }

  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = Seq.newBuilder[B]
    for (x <- xs) f(x) match {
      case Some(b) => out += b
      case None => return None
    }
    Some(out.result())
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyed match {
      case Some((exprs, batch)) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            exprs.toArray[org.apache.spark.sql.connector.expressions.Expression],
            batch.planInputPartitions().length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  // Within a key group every identity partition column is CONSTANT
  // (proven per file by footer min==max, nulls==0 — the same evidence
  // that built the group key), and a constant column is trivially
  // sorted in either direction. Reporting that ordering lets a
  // sort-merge join over storage-partitioned tables drop its SortExec
  // on the identity keys too: co-located joins become exchange-free
  // AND sort-free. Bucket fields can't ride the constant argument
  // (rows inside a bucket vary on the source column) — they claim
  // through write-order provenance instead: when every key group is a
  // single sortedBy-stamped file planned as a single input partition
  // (KeyedBatch.sortedClaim), the sort-order columns are appended, so
  // a bucket-co-partitioned join on a WRITE ORDERED BY key is
  // exchange-free and sort-free too.
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    keyed match {
      case Some((_, batch)) =>
        val asc = org.apache.spark.sql.connector.expressions
          .SortDirection.ASCENDING
        val idSorts = table.meta.partitionSpec
          .filter(_.transform == "identity").map { pf =>
            org.apache.spark.sql.connector.expressions.Expressions.sort(
              org.apache.spark.sql.connector.expressions.Expressions
                .column(pf.sourceColumn), asc)
          }
        val soSorts = batch.sortedClaim.map { entry =>
          val e = SortSpec.parse(entry)
          org.apache.spark.sql.connector.expressions.Expressions.sort(
            org.apache.spark.sql.connector.expressions.Expressions
              .column(e.column),
            if (e.descending)
              org.apache.spark.sql.connector.expressions
                .SortDirection.DESCENDING
            else asc,
            if (e.nullsFirst)
              org.apache.spark.sql.connector.expressions
                .NullOrdering.NULLS_FIRST
            else
              org.apache.spark.sql.connector.expressions
                .NullOrdering.NULLS_LAST)
        }
        (idSorts ++ soSorts).toArray
      case None => Array.empty
    }

  // runtime-filterable on the partition source columns (bounded
  // cardinality, file-level stats decisive) AND on manifest-bloom
  // columns (high-NDV join keys — a fact⋈dim broadcast join hands the
  // dim's surviving keys back and files whose blooms admit none of
  // them are skipped before any task launches; no false negatives, so
  // skipping is sound). Disabled when key-grouped (a narrowed file
  // set would invalidate the partition count already reported).
  // Only columns present in the scan's OUTPUT may be reported:
  // Spark's PartitionPruning resolves every filter attribute against
  // the relation output and throws on a miss — a projection that
  // prunes the partition column away would crash any join-bearing
  // query instead of just skipping DPP (found by the MV fuzz on a
  // partitioned base). A pruned-away column could never receive
  // runtime values anyway.
  override def filterAttributes(): Array[NamedReference] =
    if (keyed.isDefined) Array.empty
    else (table.meta.partitionSpec.map(_.sourceColumn) ++ bloomFilterCols)
      .distinct
      .filter(c => required.fieldNames.exists(_.equalsIgnoreCase(c)))
      .map(Shims.columnRef).toArray

  override def filter(predicates: Array[Predicate]): Unit = {
    val v1 = predicates.flatMap(Shims.predicateToV1(_))
    // defensive cap: a degenerate runtime IN-set (dim side far past
    // broadcast size) would cost values×files bloom probes at plan
    // time for pruning that selective joins never need
    val inValues = v1.collect { case sources.In(_, vs) => vs.length.toLong }.sum
    if (v1.nonEmpty && inValues <= 100000L) {
      val narrowed = FileStats.prune(files, v1.toSeq, table.schema(),
        LakeScans.statRenames(table.schema(), table.meta),
        PartitionPruning.of(table.meta))
      LakeBatchScan.lastRuntimeFileCount.set(narrowed.size)
      if (narrowed.size < files.size) {
        files = narrowed
        // same pinned layout as initialDelegate — see leafLayout
        narrowedDelegate = Some(LakeScans.build(table, files, required,
          pushed, options, deleted, eqDeleted, layout = leafLayout))
      }
    }
  }

  override def estimateStatistics(): Statistics =
    // column stats only under CBO: O(files × columns) driver work that
    // rule-based planning never reads
    if (SparkSession.active.conf.get("spark.sql.cbo.enabled", "false").toBoolean)
      LakeStats(files, LakeColumnStats.forFiles(table, files))
    else LakeStats(files)

  override def toBatch: Batch = keyed match {
    case Some((_, batch)) => batch
    case None => delegate.toBatch
  }
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    delegate.toMicroBatchStream(checkpointLocation)

  // ---- scan metrics (Spark SQL UI): what planning did ----
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    LakeScanMetrics.supported

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val fs = files
    Array(
      LakeScanMetrics.driver("plannedDataFiles", fs.size.toLong),
      LakeScanMetrics.driver("plannedBytes", fs.map(_.sizeBytes).sum),
      LakeScanMetrics.driver("maskedDataFiles",
        fs.count(f => deleted.contains(PosDeletes.norm(f.path))).toLong)
    ) ++ (if (skippedFiles >= 0)
      Array(LakeScanMetrics.driver("skippedDataFiles", skippedFiles),
        LakeScanMetrics.driver("partitionSkippedDataFiles",
          partitionSkippedFiles))
    else Array.empty[org.apache.spark.sql.connector.metric.CustomTaskMetric])
  }

  override def equals(o: Any): Boolean = o match {
    case s: LakeBatchScan => delegate == s.delegate
    case _ => false
  }
  override def hashCode(): Int = delegate.hashCode()
}

/** Driver-side planning metrics surfaced in the SQL UI node for every
  * lake scan: how many files (and bytes) the plan kept, how many
  * planning skipped (`skippedDataFiles`) and how many of those only the
  * partition-value check ruled out, footer stats alone keeping them
  * (`partitionSkippedDataFiles`), how many carry MoR masks. The per-task side
  * is Spark's own parquet metrics; these answer "did pruning work?"
  * without reading event logs. */
private[lake] object LakeScanMetrics {
  import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}

  val supported: Array[CustomMetric] = Array(
    new PlannedDataFilesMetric, new PlannedBytesMetric,
    new MaskedDataFilesMetric, new SkippedDataFilesMetric,
    new PartitionSkippedDataFilesMetric)

  def driver(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }
}

/** One concrete zero-arg class per metric: the SQL UI listener
  * re-instantiates the metric class REFLECTIVELY (by class name, no
  * constructor args) to aggregate task values — a parameterized class
  * would make every lake metric silently fail to aggregate. */
private[lake] sealed abstract class LakeSumMetric(n: String, desc: String)
  extends org.apache.spark.sql.connector.metric.CustomMetric {
  override def name(): String = n
  override def description(): String = desc
  override def aggregateTaskMetrics(taskMetrics: Array[Long]): String =
    taskMetrics.sum.toString
}
private[lake] final class PlannedDataFilesMetric
  extends LakeSumMetric("plannedDataFiles", "planned data files")
private[lake] final class PlannedBytesMetric
  extends LakeSumMetric("plannedBytes", "planned bytes")
private[lake] final class MaskedDataFilesMetric
  extends LakeSumMetric("maskedDataFiles", "planned files with MoR masks")
private[lake] final class SkippedDataFilesMetric
  extends LakeSumMetric("skippedDataFiles", "files skipped by planning")
private[lake] final class PartitionSkippedDataFilesMetric
  extends LakeSumMetric("partitionSkippedDataFiles",
    "files skipped by partition values alone")

object LakeBatchScan {
  /** Spec observability: file count surviving the most recent runtime
    * filter (same pattern as Manifests.lastPrunedPlanCount).
    * private[graft]: DedupIndexSuite (graft.queries) pins the stored
    * dedup index's sig-fetch pruning through it too. */
  private[graft] val lastRuntimeFileCount =
    new java.util.concurrent.atomic.AtomicInteger(-1)
}

/** Row-level-operation scan with runtime group filtering
  * (SupportsRuntimeV2Filtering): Spark evaluates the MERGE/UPDATE
  * matching-rows subquery first, collects the distinct partition
  * source-column values it touched, and calls [[filter]] — so the
  * copy-on-write rewrite replaces only files in matched partitions
  * instead of every file the static condition couldn't exclude.
  * Filter attributes are the partition SOURCE columns (bounded
  * cardinality ≈ #partitions); value pruning reuses the same
  * stats/partition-tuple check as planning-time file skipping, and
  * [[onFiles]] re-narrows the file set the commit will replace.
  * Unpartitioned tables skip the wrapper (one group = whole table).
  */
class LakeRowLevelScan(table: LakeTable, initial: Seq[DataFileMeta],
    required: StructType, options: CaseInsensitiveStringMap,
    onFiles: Seq[DataFileMeta] => Unit,
    deleted: Map[String, Seq[String]] = Map.empty,
    eqDeleted: Map[String, Seq[EqDeleteMeta]] = Map.empty)
  extends Scan with SupportsRuntimeV2Filtering {

  @volatile private var files: Seq[DataFileMeta] = initial
  // pinned leaf layout for the same reason as LakeBatchScan.leafLayout:
  // Spark's runtime (group) filtering pairs one toBatch's reader
  // factory with another's partitions in either direction, so the
  // initial and narrowed delegates must share one leaf-key layout
  private val leafLayout: Option[Seq[String]] =
    Some(LakeScans.leafKeysFor(initial, deleted, eqDeleted))
  @volatile private var delegate: Scan =
    LakeScans.build(table, files, required, Array.empty, options, deleted,
      eqDeleted, layout = leafLayout)

  override def readSchema(): StructType = required
  override def description(): String =
    s"LakeRowLevelScan(${table.name()}, files=${files.size})"

  // same output-membership guard as LakeBatchScan.filterAttributes:
  // delta scans project only (row-id) columns, and reporting a
  // pruned-away partition column makes PartitionPruning throw.
  // ONE column: Spark's group filter folds several attributes into a
  // single struct-valued IN (`named_struct(ts, id) IN (subquery)`) that
  // no V2 predicate can carry, and drops it — a MERGE on a
  // `days(ts), bucket(16, id)` table would replace every file. Report
  // the first source column whose values prune by partition value,
  // else the first source column.
  override def filterAttributes(): Array[NamedReference] = {
    val sources = table.meta.partitionSpec.map(_.sourceColumn).distinct
      .filter(c => required.fieldNames.exists(_.equalsIgnoreCase(c)))
    val parts = PartitionPruning.of(table.meta)
    sources.find(parts.prunes).orElse(sources.headOption)
      .map(Shims.columnRef).toArray
  }

  override def filter(predicates: Array[Predicate]): Unit = {
    val v1 = predicates.flatMap(p =>
      org.apache.spark.sql.graft.Shims.predicateToV1(p))
    if (v1.nonEmpty) {
      files = FileStats.prune(files, v1.toSeq, table.schema(),
        LakeScans.statRenames(table.schema(), table.meta),
        PartitionPruning.of(table.meta))
      onFiles(files)
      delegate = LakeScans.build(table, files, required, Array.empty, options,
        deleted, eqDeleted, layout = leafLayout)
    }
  }

  override def toBatch: Batch = delegate.toBatch
}

object LakeScans {

  /** Split into mask-routed (dirty) and vectorized (clean) files. */
  private def splitDirty(files: Seq[DataFileMeta],
      deleted: Map[String, Seq[String]],
      eqDeleted: Map[String, Seq[EqDeleteMeta]])
      : (Seq[DataFileMeta], Seq[DataFileMeta]) =
    if (deleted.isEmpty && eqDeleted.isEmpty) (Nil, files)
    else {
      val (d, c) = files.partition { f =>
        val np = PosDeletes.norm(f.path)
        deleted.contains(np) || eqDeleted.contains(np)
      }
      (d, c)
    }

  /** The stable leaf-key layout a file set plans under: one
    * "e<epoch>" per clean schema epoch plus "pos" when any file is
    * mask-routed ("e" for an empty set). A scan that can be
    * runtime-filtered must build its INITIAL and NARROWED delegates
    * over the SAME layout (see [[build]]'s `layout`). */
  def leafKeysFor(files: Seq[DataFileMeta],
      deleted: Map[String, Seq[String]],
      eqDeleted: Map[String, Seq[EqDeleteMeta]]): Seq[String] = {
    val (dirty, clean) = splitDirty(files, deleted, eqDeleted)
    val epochKeys =
      clean.map(_.schemaEpoch).distinct.sorted.map(e => s"e$e")
    val base =
      if (epochKeys.isEmpty && dirty.isEmpty) Seq("e") else epochKeys
    base ++ (if (dirty.nonEmpty) Seq("pos") else Nil)
  }

  /** Build a (possibly epoch-composite) parquet scan over a pinned
    * file list. Single-epoch tables get a bare ParquetScan — full
    * vectorization, row-group skipping and exchange reuse, visible
    * as such in .explain().
    *
    * `layout`: Spark's runtime-filtering path freely MIXES the reader
    * factory of one toBatch with the input partitions of another
    * (BatchScanExec re-calls scan.toBatch after filter(), and lazy
    * evaluation order can pair them either way round) — so a scan
    * that supports runtime filtering passes the SAME leaf-key layout
    * ([[leafKeysFor]] over the PRE-narrowing file set) to both its
    * initial and narrowed builds. Leaves missing from the current
    * file set build empty (zero partitions), keeping every factory
    * able to route every partition key. Positional routing here
    * previously sent a bare FilePartition into the composite factory
    * (MatchError, DML-fuzz seed 7701) and could have routed a masked
    * file's partitions to the unmasked reader. */
  def build(table: LakeTable, files: Seq[DataFileMeta],
      required: StructType, pushed: Array[Filter],
      options: CaseInsensitiveStringMap,
      deleted: Map[String, Seq[String]] = Map.empty,
      eqDeleted: Map[String, Seq[EqDeleteMeta]] = Map.empty,
      layout: Option[Seq[String]] = None): Scan = {
    val spark = SparkSession.active
    val currentSchema = table.schema()
    // Projections of the _file/_pos metadata columns need per-row file
    // ordinals: every file takes the ordinal-tracking row scan (which
    // also subtracts any masks). Only metadata-column queries and
    // delta row-level scans pay this path. (Both the initial and any
    // narrowed build take this same early exit, so the pairing stays
    // PosDeleteScan-to-PosDeleteScan — its partitions are
    // self-describing and its eq-delete group indices are
    // deterministic over the same delete maps.)
    val wantsMeta = required.fields.exists(f =>
      LakeMetaColumns.Names(f.name) && !currentSchema.fieldNames.contains(f.name))
    if (wantsMeta)
      return new PosDeleteScan(table, files, required, deleted, eqDeleted)
    val (dirty, clean) = splitDirty(files, deleted, eqDeleted)
    val cleanByEpoch = clean.groupBy(_.schemaEpoch)
    def leafFor(key: String): Scan = key match {
      case "pos" => new PosDeleteScan(table, dirty, required, deleted,
        eqDeleted)
      case "e" => parquetScan(spark, table, Nil, currentSchema, required,
        pushed, options)
      case k =>
        val epoch = k.drop(1).toInt
        val fs = cleanByEpoch.getOrElse(epoch, Nil)
        val epochSchema = table.meta.schemaAt(epoch)
        // epoch-NAMED at every struct level (nested field ids): the
        // parquet reader resolves renamed nested fields to the
        // columns the file stores them under; positions stay current
        val dataSchema = epochNamed(currentSchema, epochSchema)
        // required may be a PRUNED schema whose reconstructed nested
        // fields lost their id metadata — resolve ids via the full
        // current schema by name
        val readSchema = epochNamed(required, currentSchema, epochSchema)
        val rename = dottedRenames(currentSchema, epochSchema)
        val filters = pushed.flatMap(renameFilter(_, rename))
        parquetScan(spark, table, fs, dataSchema, readSchema,
          filters, options)
    }
    val keys = layout.getOrElse(leafKeysFor(files, deleted, eqDeleted))
    val leaves = keys.map(k => k -> leafFor(k))
    // bare fast path only without a pinned layout: a layout means this
    // scan's batches can be cross-paired, so even one leaf must wrap
    if (leaves.size == 1 && layout.isEmpty) leaves.head._2
    else new CompositeScan(leaves, required,
      Some(cp => new LakeMicroBatchStream(table, required, options, cp)))
  }

  /** The lake's one parquet scan builder: a ParquetScan over `files`
    * with a fresh conf of its own (a reader factory writes its
    * requested schema into that conf, so scans must never share one),
    * which can also serve as a streaming source, and whose reader
    * factory takes its conf broadcast from [[ConfBroadcasts]].
    *
    * `createReaderFactory` is Spark 4.1.2's, set for set in the same
    * order (no variant extractions are pushed, so the read schema is
    * `readDataSchema`); only the broadcast is drawn from the cache.
    * `ConfBroadcastSuite` checks the conf against Spark's own. */
  private[lake] def parquetScan(spark: SparkSession, table: LakeTable,
      files: Seq[DataFileMeta], dataSchema: StructType, readSchema: StructType,
      pushed: Array[Filter], options: CaseInsensitiveStringMap): ParquetScan = {
    val scanConf = spark.sessionState.newHadoopConf()
    new ParquetScan(spark, scanConf, fileIndex(spark, files, dataSchema, scanConf),
      dataSchema, readSchema, StructType(Nil), pushed, options,
      None, Nil, Nil, Array.empty) {
      override def toMicroBatchStream(checkpointLocation: String)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
        new LakeMicroBatchStream(table, readDataSchema, this.options,
          checkpointLocation)

      override def createReaderFactory(): PartitionReaderFactory = {
        import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions,
          ParquetReadSupport, ParquetWriteSupport}
        import org.apache.spark.sql.internal.SQLConf
        val sqlConf = this.conf
        val schemaJson = readDataSchema.json
        hadoopConf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
          classOf[ParquetReadSupport].getName)
        hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schemaJson)
        hadoopConf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, schemaJson)
        hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
        hadoopConf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
          sqlConf.nestedSchemaPruningEnabled)
        hadoopConf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
        hadoopConf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
          sqlConf.isParquetBinaryAsString)
        hadoopConf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
          sqlConf.isParquetINT96AsTimestamp)
        hadoopConf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
          sqlConf.parquetInferTimestampNTZEnabled)
        hadoopConf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
          sqlConf.legacyParquetNanosAsLong)
        hadoopConf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
          sqlConf.parquetReaderRespectUnknownTypeAnnotation)
        val broadcastConf = ConfBroadcasts(sparkSession.sparkContext, hadoopConf)
        org.apache.spark.sql.execution.datasources.v2.parquet
          .ParquetPartitionReaderFactory(sqlConf, broadcastConf, this.dataSchema,
            readDataSchema, readPartitionSchema, pushedFilters, pushedAggregate,
            new ParquetOptions(this.options.asCaseSensitiveMap.asScala.toMap, sqlConf))
      }
    }
  }

  /** A file index over `files` that lists and stats nothing: its
    * status cache is filled from the manifest's (path, `sizeBytes`), so
    * planning touches no file and, past 32 paths, starts no parallel
    * listing job.
    *
    * `sizeBytes` is the file's length. Metadata written before it was
    * recorded that way holds the sum of the row groups' compressed
    * sizes, which falls short by the magic and footer; such a file
    * still reads whole, as a split only assigns row groups, by
    * midpoint, every midpoint lies below that sum, and the reader
    * stats the file itself to find the footer. */
  private[lake] def fileIndex(spark: SparkSession, files: Seq[DataFileMeta],
      dataSchema: StructType,
      conf: org.apache.hadoop.conf.Configuration): InMemoryFileIndex = {
    val fileSystems = scala.collection.mutable.HashMap
      .empty[(String, String), org.apache.hadoop.fs.FileSystem]
    val statuses = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f.path)
      val u = p.toUri
      val fs = fileSystems.getOrElseUpdate((u.getScheme, u.getAuthority),
        p.getFileSystem(conf))
      new org.apache.hadoop.fs.FileStatus(f.sizeBytes, false, 1, 0L, 0L,
        fs.makeQualified(p))
    }
    val byPath = statuses.map(st => st.getPath -> Array(st)).toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: org.apache.hadoop.fs.Path)
          : Option[Array[org.apache.hadoop.fs.FileStatus]] = byPath.get(path)
      override def putLeafFiles(path: org.apache.hadoop.fs.Path,
          leafFiles: Array[org.apache.hadoop.fs.FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    new InMemoryFileIndex(spark, statuses.map(_.getPath),
      Map.empty[String, String], Some(dataSchema), cache, None, None) {
      // every root is a manifest file: answer from the map, without the
      // JobConf Spark builds for its path filter before it even looks
      // in the cache (its jar lookup scans the classpath, per scan)
      override def listLeafFiles(paths: Seq[org.apache.hadoop.fs.Path])
          : scala.collection.mutable.LinkedHashSet[org.apache.hadoop.fs.FileStatus] =
        if (paths.forall(byPath.contains))
          scala.collection.mutable.LinkedHashSet.from(paths.flatMap(byPath(_)))
        else super.listLeafFiles(paths)
    }
  }

  /** current name -> epoch name, joined on stable field id.
    *
    * A current field whose id does NOT exist in the epoch schema but
    * whose NAME does (a column dropped and later re-added under the
    * same name) must not pick up the dropped column's values from old
    * files — it is remapped to a sentinel name absent from the files,
    * so the parquet reader yields nulls for it. */
  /** Per-epoch rename maps for a planned file set (current name ->
    * epoch name), derived once per distinct epoch. */
  private[lake] def renamesFor(schema: StructType, meta: TableMeta,
      files: Seq[DataFileMeta]): Map[Int, Map[String, String]] =
    files.map(_.schemaEpoch).distinct.map(e =>
      e -> dottedRenames(schema, meta.schemaAt(e))).toMap

  /** Per-epoch parquet reader construction shared by the row-streaming
    * scans (PosDeleteScan, the changes relation). Encapsulates the
    * subtle parts that must never diverge between them: vectorized
    * decode when the projected schema supports batches (columnar page
    * decode, row-wise iteration), the row-based session fallback, and
    * ONE FRESH hadoop conf per epoch — each reader builder writes its
    * requested schema into the conf it is given (and local-mode
    * broadcasts hand back the live object), so a shared conf would
    * make every epoch read with the LAST epoch's schema.
    *
    * The row-based session is a clone, built on first use only: by an
    * epoch whose schema cannot batch, or by an equality-delete
    * reader. A clone's artifact cleanup forks a process when it is
    * collected, so a scan whose epochs all batch makes none. */
  private[lake] class EpochReaders(spark: SparkSession) {
    lazy val noVec: org.apache.spark.sql.classic.SparkSession =
      Shims.cloneSessionRowBasedParquet(spark)
    val hconf: org.apache.hadoop.conf.Configuration =
      spark.sessionState.newHadoopConf()
    val tz: String = spark.sessionState.conf.sessionLocalTimeZone

    /** For each epoch: (readFunc over `pick`'s read schema, the read
      * schema, the current->epoch rename map). */
    def build(meta: TableMeta, current: StructType, epochs: Seq[Int],
        pick: (StructType, Map[String, String]) => StructType)
        : Map[Int, (org.apache.spark.sql.execution.datasources.PartitionedFile =>
            Iterator[org.apache.spark.sql.catalyst.InternalRow],
          StructType, Map[String, String])] =
      epochs.map { e =>
        val epochSchema = meta.schemaAt(e)
        val rename = renameMap(current, epochSchema)
        val epochRead = pick(epochSchema, rename)
        val fmt = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
        val vectorized = fmt.supportBatch(spark, epochRead)
        val readSession =
          if (vectorized) spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          else noVec
        val econf = new org.apache.hadoop.conf.Configuration(hconf)
        val readFunc = fmt.buildReaderWithPartitionValues(readSession,
          epochSchema, StructType(Nil), epochRead, Nil,
          Map(org.apache.spark.sql.execution.datasources.FileFormat
            .OPTION_RETURNING_BATCH -> vectorized.toString), econf)
        e -> (readFunc, epochRead, rename)
      }.toMap
  }

  /** A batch-supporting readFunc yields ColumnarBatch elements through
    * the Iterator[InternalRow] interface — unroll them in row order. */
  private[lake] def unrollBatches(raw: Iterator[_])
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    raw.asInstanceOf[Iterator[Any]].flatMap {
      case b: org.apache.spark.sql.vectorized.ColumnarBatch =>
        scala.jdk.CollectionConverters.IteratorHasAsScala(b.rowIterator()).asScala
      case r => Iterator.single(
        r.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
    }

  private[lake] def renameMap(current: StructType, epoch: StructType): Map[String, String] = {
    val byId = epoch.fields.flatMap(f => TableMeta.fieldId(f).map(_ -> f.name)).toMap
    val epochNames = epoch.fields.map(_.name.toLowerCase).toSet
    current.fields.flatMap { f =>
      TableMeta.fieldId(f) match {
        case Some(id) => byId.get(id) match {
          case Some(old) if old != f.name => Some(f.name -> old)
          case Some(_) => None
          case None if epochNames(f.name.toLowerCase) =>
            Some(f.name -> s"${f.name}__graft_absent_$id")
          case None => None
        }
        case None => None
      }
    }.toMap
  }

  private[lake] def mapNames(s: StructType, rename: Map[String, String]): StructType =
    StructType(s.fields.map(f =>
      rename.get(f.name).map(n => f.copy(name = n)).getOrElse(f)))

  /** The CURRENT schema re-NAMED — at every struct nesting level —
    * with the epoch's names for matching field ids: the read schema
    * that makes a parquet reader resolve each (possibly renamed)
    * field to the column the file actually stores it under, while
    * positions and types stay current so the scan's positional output
    * is the current schema. Per level: a current field whose id is
    * absent from an ID-STAMPED epoch level but whose NAME exists
    * there was dropped and re-added — it is renamed to a sentinel
    * absent from the files so the reader yields nulls instead of the
    * dead column's data; an id-LESS epoch level (legacy metadata,
    * top-level-only ids) resolves by name, preserving that metadata's
    * documented semantics. Types stay current (int→bigint widening is
    * the reader's job); nested types dive recursively through
    * structs, arrays, and maps. */
  private[lake] def epochNamed(current: StructType, epoch: StructType): StructType =
    epochNamed(current, current, epoch)

  /** [[epochNamed]] for a schema that may have LOST its field-id
    * metadata — Spark's nested schema pruning reconstructs pruned
    * struct types without metadata, so a pruned read schema cannot
    * carry its own ids. `requested`'s fields resolve (by name,
    * case-insensitive, at every level) against `current`, whose ids
    * then drive the epoch mapping. */
  private[lake] def epochNamed(requested: StructType, current: StructType,
      epoch: StructType): StructType = {
    def level(req: StructType, cur: StructType, ep: StructType): StructType = {
      val byId = ep.fields.flatMap(f => TableMeta.fieldId(f).map(_ -> f)).toMap
      val epHasIds = byId.nonEmpty
      val epByName = ep.fields.map(f => f.name.toLowerCase -> f).toMap
      val curByName = cur.fields.map(f => f.name.toLowerCase -> f).toMap
      StructType(req.fields.map { f =>
        val idSource = curByName.get(f.name.toLowerCase).getOrElse(f)
        TableMeta.fieldId(idSource) match {
          case Some(id) => byId.get(id) match {
            case Some(ef) =>
              f.copy(name = ef.name,
                dataType = dive(f.dataType, idSource.dataType, ef.dataType))
            case None if epHasIds && epByName.contains(f.name.toLowerCase) =>
              f.copy(name = s"${f.name}__graft_absent_$id")
            case None => epByName.get(f.name.toLowerCase) match {
              case Some(ef) if !epHasIds =>
                f.copy(dataType = dive(f.dataType, idSource.dataType, ef.dataType))
              case _ => f // absent by name too: the reader nulls it
            }
          }
          case None => epByName.get(f.name.toLowerCase) match {
            case Some(ef) =>
              f.copy(dataType = dive(f.dataType, idSource.dataType, ef.dataType))
            case None => f
          }
        }
      })
    }
    def dive(req: DataType, cur: DataType, ep: DataType): DataType =
      (req, cur, ep) match {
        case (rs: StructType, cs: StructType, es: StructType) =>
          level(rs, cs, es)
        case (ArrayType(r, n), ArrayType(c, _), ArrayType(e, _)) =>
          ArrayType(dive(r, c, e), n)
        case (MapType(rk, rv, n), MapType(ck, cv, _), MapType(ek, ev, _)) =>
          MapType(dive(rk, ck, ek), dive(rv, cv, ev), n)
        case _ => req
      }
    level(requested, current, epoch)
  }

  /** Epoch-row → current-type projection EXPRESSION for the
    * row-streaming readers (PosDeleteScan, and through it every file
    * rewrite; the changes relation). A bare
    * `Cast` between struct types is positional — wrong across nested
    * add/drop (fields shift or counts differ) — so struct internals
    * map by NESTED field id (name fallback for id-less legacy
    * levels, null for fresh-id re-adds), recursing through arrays of
    * structs via a bound lambda transform. Non-struct mismatches
    * keep the widening cast. */
  private[lake] def projectRowExpr(
      in: org.apache.spark.sql.catalyst.expressions.Expression,
      cur: DataType, ep: DataType, tz: Option[String])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    (cur, ep) match {
      case (cs: StructType, es: StructType) =>
        if (cs == es) in
        else {
          val byId = es.fields.flatMap(f =>
            TableMeta.fieldId(f).map(_ -> f)).toMap
          val epHasIds = byId.nonEmpty
          val entries = cs.fields.flatMap { cf =>
            val counterpart = TableMeta.fieldId(cf) match {
              case Some(id) => byId.get(id).orElse(
                if (!epHasIds)
                  es.fields.find(_.name.equalsIgnoreCase(cf.name))
                else None)
              case None => es.fields.find(_.name.equalsIgnoreCase(cf.name))
            }
            val v = counterpart match {
              case Some(ef) =>
                val idx = es.fields.indexOf(ef)
                projectRowExpr(GetStructField(in, idx, Some(ef.name)),
                  cf.dataType, ef.dataType, tz)
              case None => Literal(null, cf.dataType)
            }
            Seq(Literal(cf.name), v)
          }
          If(IsNull(in), Literal(null, LakeWriteUtil.stripIdsPublic(cs)),
            CreateNamedStruct(entries.toSeq))
        }
      case (ArrayType(ce, _), ArrayType(ee, en))
          if LakeWriteUtil.structDiffers(ce, ee) =>
        val lv = NamedLambdaVariable("graft_pe", ee, en)
        ArrayTransform(in,
          LambdaFunction(projectRowExpr(lv, ce, ee, tz), Seq(lv)))
      case (MapType(ck, cv, _), MapType(ek, ev, vn))
          if LakeWriteUtil.structDiffers(ck, ek) ||
            LakeWriteUtil.structDiffers(cv, ev) =>
        // a positional Cast through a map whose key/value structs
        // differ maps dead columns into live ones — dive per entry;
        // scalar mismatches keep their widening cast in the lambda
        val keyed = if (ck == ek) in else {
          val k = NamedLambdaVariable("graft_pmk", ek, nullable = false)
          val v = NamedLambdaVariable("graft_pmv", ev, vn)
          TransformKeys(in,
            LambdaFunction(projectRowExpr(k, ck, ek, tz), Seq(k, v)))
        }
        if (cv == ev) keyed else {
          // post-key-transform key type is `ck` either way
          val k2 = NamedLambdaVariable("graft_pmk2", ck, nullable = false)
          val v2 = NamedLambdaVariable("graft_pmv2", ev, vn)
          TransformValues(keyed,
            LambdaFunction(projectRowExpr(v2, cv, ev, tz), Seq(k2, v2)))
        }
      case _ if cur == ep => in
      case _ => Cast(in, cur, tz)
    }
  }

  /** Current→epoch DOTTED-path rename map covering every struct
    * level — the filter/stats companion of [[epochNamed]]: an entry
    * exists for every path whose epoch spelling differs (because the
    * field itself was renamed, an ancestor was, or the field was
    * dropped-and-re-added and maps to the absent sentinel). Keys and
    * values are the exact dotted strings footer-stat harvests and V1
    * nested filter attributes use; paths through arrays/maps are not
    * emitted (row-level stats cannot prune repeated leaves). */
  private[lake] def dottedRenames(current: StructType, epoch: StructType)
      : Map[String, String] = {
    val out = Map.newBuilder[(String), String]
    def walk(cur: StructType, ep: StructType,
        curPrefix: String, epPrefix: String): Unit = {
      val byId = ep.fields.flatMap(f => TableMeta.fieldId(f).map(_ -> f)).toMap
      val epHasIds = byId.nonEmpty
      val epByName = ep.fields.map(f => f.name.toLowerCase -> f).toMap
      cur.fields.foreach { f =>
        val cpath = curPrefix + f.name
        val resolved: Option[(String, Option[StructField])] =
          TableMeta.fieldId(f) match {
            case Some(id) => byId.get(id) match {
              case Some(ef) => Some((epPrefix + ef.name, Some(ef)))
              case None if epHasIds && epByName.contains(f.name.toLowerCase) =>
                Some((epPrefix + f.name + s"__graft_absent_$id", None))
              case None => epByName.get(f.name.toLowerCase)
                .filter(_ => !epHasIds).map(ef => (epPrefix + f.name, Some(ef)))
            }
            case None =>
              epByName.get(f.name.toLowerCase)
                .map(ef => (epPrefix + f.name, Some(ef)))
          }
        resolved match {
          case Some((epath, efOpt)) =>
            if (epath != cpath) out += cpath -> epath
            (f.dataType, efOpt.map(_.dataType)) match {
              case (cs: StructType, Some(es: StructType)) =>
                walk(cs, es, cpath + ".", epath + ".")
              case _ => ()
            }
          case None => ()
        }
      }
    }
    walk(current, epoch, "", "")
    out.result()
  }

  /** Apply a [[dottedRenames]] map to a schema — renaming fields at
    * every struct level so [[FileStats.resolvePath]] can type a
    * renamed filter attribute against it. Lookups use the CURRENT
    * path (keys are current spellings); output carries the epoch
    * names. */
  private[lake] def mapNamesDotted(s: StructType, rn: Map[String, String])
      : StructType = {
    def walk(st: StructType, prefix: String): StructType =
      StructType(st.fields.map { f =>
        val path = prefix + f.name
        val newName = rn.get(path)
          .map(p => p.substring(p.lastIndexOf('.') + 1)).getOrElse(f.name)
        val newType = f.dataType match {
          case cs: StructType => walk(cs, path + ".")
          case other => other
        }
        f.copy(name = newName, dataType = newType)
      })
    walk(s, "")
  }

  /** current→epoch name maps for EVERY schema epoch of the table —
    * the planning-time companion of [[renamesFor]] when the file set
    * isn't known yet (lazy manifests). Epochs that rename nothing are
    * omitted, so an evolution-free table yields an empty map and
    * pruning takes its fast path. */
  private[lake] def statRenames(current: StructType, meta: TableMeta)
      : Map[Int, Map[String, String]] =
    meta.schemas.indices
      .map(e => e -> dottedRenames(current, meta.schemaAt(e)))
      .filter(_._2.nonEmpty).toMap

  private[lake] def renameFilter(f: Filter, rename: Map[String, String],
      pos: Boolean = true): Option[Filter] = {
    if (rename.isEmpty) return Some(f)
    // dotted struct paths follow their top-level column's rename: the
    // reader maps the top-level field by id, so `info.region` over an
    // epoch that called it `meta` must probe `meta.region`
    def rn(a: String) = rename.getOrElse(a, {
      val i = a.indexOf('.')
      if (i < 0) a
      else rename.get(a.substring(0, i))
        .map(_ + a.substring(i)).getOrElse(a)
    })
    f match {
      case sources.EqualTo(a, v) => Some(sources.EqualTo(rn(a), v))
      case sources.EqualNullSafe(a, v) => Some(sources.EqualNullSafe(rn(a), v))
      case sources.GreaterThan(a, v) => Some(sources.GreaterThan(rn(a), v))
      case sources.GreaterThanOrEqual(a, v) => Some(sources.GreaterThanOrEqual(rn(a), v))
      case sources.LessThan(a, v) => Some(sources.LessThan(rn(a), v))
      case sources.LessThanOrEqual(a, v) => Some(sources.LessThanOrEqual(rn(a), v))
      case sources.In(a, vs) => Some(sources.In(rn(a), vs))
      case sources.IsNull(a) => Some(sources.IsNull(rn(a)))
      case sources.IsNotNull(a) => Some(sources.IsNotNull(rn(a)))
      case sources.StringStartsWith(a, v) => Some(sources.StringStartsWith(rn(a), v))
      case sources.StringEndsWith(a, v) => Some(sources.StringEndsWith(rn(a), v))
      case sources.StringContains(a, v) => Some(sources.StringContains(rn(a), v))
      case sources.And(l, r) =>
        // Partial mapping keeps the mappable conjunct — but ONLY in
        // positive polarity. Every use of a renamed filter is
        // pruning/skipping-only (pushFilters returns all filters as
        // residual, so Spark re-checks rows), and pruning may only
        // ever WEAKEN a filter: positively, And(l,r) ⇒ l, so a file
        // failing the mapped conjunct alone is safely skipped
        // (round 7 dropped BOTH sides, discarding the mapped side's
        // pruning power for mixed filters over evolved tables).
        // Under a Not the implication flips — a partially-mapped And
        // would STRENGTHEN Not(And(..)) and prune live files, so
        // there both sides must map or the whole node is unmappable.
        (renameFilter(l, rename, pos), renameFilter(r, rename, pos)) match {
          case (Some(l2), Some(r2)) => Some(sources.And(l2, r2))
          case (Some(l2), None) if pos => Some(l2)
          case (None, Some(r2)) if pos => Some(r2)
          case _ => None
        }
      case sources.Or(l, r) =>
        // dual of And: a disjunct may be dropped only under negation
        // (Not(Or(l,r)) ⇒ Not(l) — weaker once wrapped), never
        // positively (Or minus a branch is stronger)
        (renameFilter(l, rename, pos), renameFilter(r, rename, pos)) match {
          case (Some(l2), Some(r2)) => Some(sources.Or(l2, r2))
          case (Some(l2), None) if !pos => Some(l2)
          case (None, Some(r2)) if !pos => Some(r2)
          case _ => None
        }
      case sources.Not(c) => renameFilter(c, rename, !pos).map(sources.Not)
      case sources.AlwaysTrue() => Some(f)
      case sources.AlwaysFalse() => Some(f)
      case _ => None // unknown shape: don't push for old epochs
    }
  }
}

/** Concatenates per-epoch scans; partitions route to their own
  * delegate reader factory (columnar included). `streamFactory` makes
  * a multi-leaf table streamable: Scan's default toMicroBatchStream
  * throws, so without it a readStream on any table whose live files
  * span schema epochs (or carry masks) died at query start. */
class CompositeScan(keyedScans: Seq[(String, Scan)], schema: StructType,
    streamFactory: Option[String =>
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream] = None)
  extends Scan with Batch with SupportsReportStatistics {

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    streamFactory.map(_(checkpointLocation))
      .getOrElse(super.toMicroBatchStream(checkpointLocation))
  private def scans: Seq[Scan] = keyedScans.map(_._2)
  override def readSchema(): StructType = schema
  override def description(): String =
    s"CompositeScan(${scans.map(_.description()).mkString("; ")})"

  /** Sum of the delegates' estimates; a component dimension unknown in
    * ANY delegate leaves it unknown for the whole (no silent under-
    * estimate that would mis-broadcast a large table). */
  override def estimateStatistics(): Statistics = {
    val parts = scans.map {
      case s: SupportsReportStatistics => Some(s.estimateStatistics())
      case _ => None
    }
    def sum(f: Statistics => java.util.OptionalLong): java.util.OptionalLong = {
      val vals = parts.map(_.map(f))
      if (vals.forall(_.exists(_.isPresent)))
        java.util.OptionalLong.of(vals.map(_.get.getAsLong).sum)
      else java.util.OptionalLong.empty()
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = sum(_.sizeInBytes())
      override def numRows(): java.util.OptionalLong = sum(_.numRows())
    }
  }
  override def toBatch: Batch = this

  private lazy val delegates: Seq[(String, Batch)] =
    keyedScans.map { case (k, s) => k -> s.toBatch }

  private lazy val partitionsByDelegate: Seq[Array[InputPartition]] =
    delegates.map(_._2.planInputPartitions())

  override def planInputPartitions(): Array[InputPartition] =
    partitionsByDelegate.zip(delegates).flatMap { case (ps, (k, _)) =>
      ps.map(p => EpochPartition(p, k): InputPartition)
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val factories = delegates.map { case (k, b) => k -> b.createReaderFactory() }
    // Spark requires every partition of one scan to be uniformly
    // columnar or row-based. If the delegates disagree (vectorized
    // parquet + row-based position-delete scans), run the whole
    // composite row-based: columnar delegates decode vectorized
    // internally and hand rows out through an adapter.
    val support = factories.map(_._2).zip(partitionsByDelegate).flatMap {
      case (f, ps) => ps.map(f.supportColumnarReads)
    }
    val mixed = support.contains(true) && support.contains(false)
    new CompositeReaderFactory(factories.toMap, forceRows = mixed)
  }
}

/** Delegate-routed input partition. `key` is the leaf's STABLE id
  * ("e<epoch>" / "pos" / "g<n>"), NOT a position: the reader factory
  * that unwraps this partition may come from an earlier toBatch of
  * the same logical scan with a different leaf layout (Spark's
  * runtime-filtering re-plan), and only a self-describing key routes
  * it to the right reader there. */
case class EpochPartition(inner: InputPartition, key: String)
  extends InputPartition

/** Delegate-routed input partition carrying a storage-partition key:
  * all rows of `inner` share `key` (proven from footer stats), which
  * is what lets Spark group partitions for a shuffle-free join. */
case class KeyedPartition(inner: InputPartition, leaf: String,
    key: org.apache.spark.sql.catalyst.InternalRow)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

/** One delegate scan per partition tuple; every input partition is
  * tagged with its tuple's key row. Mirrors CompositeScan's routing.
  *
  * `sharedFactory`: when every group was built over the SAME pinned
  * leaf layout (LakeScans.build `layout`), their partitions are
  * leaf-keyed EpochPartitions and ANY factory built over that layout
  * routes them — so the batch reads through ONE factory (built from
  * the union file set) instead of one per group, eliminating the
  * per-group Hadoop-conf broadcast that dominated keyed planning.
  * The inner leaf key is hoisted into [[KeyedPartition.leaf]] so the
  * shared CompositeReaderFactory routes directly. */
class KeyedBatch(
    groups: Seq[(org.apache.spark.sql.catalyst.InternalRow, Scan)],
    fileSortClaim: Seq[String] = Nil,
    sharedFactory: Option[() => Scan] = None)
  extends Batch {

  private lazy val delegates: Seq[Batch] = groups.map(_._2.toBatch)
  private lazy val partitionsByDelegate: Seq[Array[InputPartition]] =
    delegates.map(_.planInputPartitions())

  /** The sort-order columns each key group's rows are provably read
    * in: the scan-side file check (single sortedBy-stamped file per
    * group) passed via `fileSortClaim`, and every group must also
    * plan as ONE input partition — a file split across partitions
    * reads its pieces in size-packed order, which would break the
    * claim. Empty = no claim. */
  lazy val sortedClaim: Seq[String] =
    if (fileSortClaim.nonEmpty && partitionsByDelegate.forall(_.length == 1))
      fileSortClaim
    else Nil

  // shared mode applies only when every group partition is leaf-keyed
  // (a metadata-column scan routes through PosDeleteScan, whose
  // partitions the union factory could not route — keep per-group
  // factories there)
  private lazy val canShare: Boolean = sharedFactory.isDefined &&
    partitionsByDelegate.forall(_.forall(_.isInstanceOf[EpochPartition]))

  override def planInputPartitions(): Array[InputPartition] =
    partitionsByDelegate.zipWithIndex.flatMap { case (ps, i) =>
      ps.map {
        // shared-factory mode: hoist the group scan's own leaf key so
        // the one factory routes by it (the group wrapper adds nothing
        // the key row doesn't already carry)
        case EpochPartition(inner, leaf) if canShare =>
          KeyedPartition(inner, leaf, groups(i)._1): InputPartition
        case p =>
          KeyedPartition(p, s"g$i", groups(i)._1): InputPartition
      }
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    if (canShare) sharedFactory.get.apply().toBatch.createReaderFactory()
    else {
      val factories = delegates.zipWithIndex.map { case (b, i) =>
        s"g$i" -> b.createReaderFactory()
      }
      val support = factories.map(_._2).zip(partitionsByDelegate).flatMap {
        case (f, ps) => ps.map(f.supportColumnarReads)
      }
      val mixed = support.contains(true) && support.contains(false)
      new CompositeReaderFactory(factories.toMap, forceRows = mixed)
    }
}

class CompositeReaderFactory(factories: Map[String, PartitionReaderFactory],
    forceRows: Boolean = false)
  extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): (InputPartition, PartitionReaderFactory) = {
    val (inner, key) = p match {
      case EpochPartition(i, k) => (i, k)
      case KeyedPartition(i, k, _) => (i, k)
      case other => throw new IllegalStateException(
        s"composite reader got an unwrapped partition " +
          s"${other.getClass.getName}; a narrowed re-plan must pin the " +
          "same leaf layout as its initial build (LakeScans.build layout)")
    }
    factories.get(key) match {
      case Some(f) => (inner, f)
      case None => throw new IllegalStateException(
        s"composite reader has no delegate for leaf '$key' " +
          s"(have: ${factories.keys.toSeq.sorted.mkString(", ")})")
    }
  }
  override def createReader(p: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val (inner, f) = unwrap(p)
    if (forceRows && f.supportColumnarReads(inner))
      columnarToRows(f.createColumnarReader(inner))
    else f.createReader(inner)
  }
  override def createColumnarReader(p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val (inner, f) = unwrap(p)
    f.createColumnarReader(inner)
  }
  override def supportColumnarReads(p: InputPartition): Boolean =
    !forceRows && {
      val (inner, f) = unwrap(p)
      f.supportColumnarReads(inner)
    }

  private def columnarToRows(
      batches: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch])
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
      private var rows: java.util.Iterator[org.apache.spark.sql.catalyst.InternalRow] =
        java.util.Collections.emptyIterator()
      override def next(): Boolean = {
        while (!rows.hasNext) {
          if (!batches.next()) return false
          rows = batches.get().rowIterator()
        }
        true
      }
      override def get(): org.apache.spark.sql.catalyst.InternalRow = rows.next()
      override def close(): Unit = batches.close()
    }
}

/** Row-based scan applying merge-on-read position deletes.
  *
  * One input partition per data file (never split — positions are
  * file ordinals, so a file must be counted by a single task), read
  * in exact file order; rows whose ordinal is in the (sorted) mask
  * or whose key an applicable equality delete holds are skipped, the
  * rest are projected to the required schema with epoch renames/casts
  * applied. Reads take it for files that carry deletes and for
  * `_file`/`_pos` projections — clean files keep whole-stage
  * vectorized reads (see LakeScans.build) — and every file rewrite
  * reads through it ([[MaskedRead]]).
  *
  * `rowIds` names the required fields that carry a row's file key and
  * ordinal; a data column of the same name wins. `eqDeletedOnly`
  * keeps only the unmasked rows an equality delete matches. `bins`, a
  * partition of `files`, plans one input partition per bin, whose task
  * reads the bin's files one after another (a binpack rewrite's
  * shuffle-free write).
  */
class PosDeleteScan(table: LakeTable, files: Seq[DataFileMeta],
    required: StructType, deleted: Map[String, Seq[String]],
    eqDeleted: Map[String, Seq[EqDeleteMeta]] = Map.empty,
    rowIds: (String, String) = (LakeMetaColumns.File, LakeMetaColumns.Pos),
    eqDeletedOnly: Boolean = false,
    bins: Option[Seq[Seq[DataFileMeta]]] = None)
  extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    // masked: the files some position or equality delete may apply to
    val masked = files.count { f =>
      val np = PosDeletes.norm(f.path)
      deleted.contains(np) || eqDeleted.contains(np)
    }
    s"PosDeleteScan(${table.name()}, ${files.size} files, $masked masked files)"
  }

  // pre-mask row counts: a slight over-estimate, safe for planning
  override def estimateStatistics(): Statistics = LakeStats(files)

  // Equality deletes grouped by key SHAPE (write epoch + key columns):
  // each shape needs its own delete-file reader and key projection.
  // The group index is the partitions' compact reference.
  private val eqGroups: Seq[Seq[EqDeleteMeta]] =
    EqScanSupport.groupsOf(eqDeleted.values.flatten.toSeq)
  private val groupOf: Map[String, Int] = eqGroups.zipWithIndex.flatMap {
    case (g, i) => g.map(_.path -> i) }.toMap

  override def planInputPartitions(): Array[InputPartition] = {
    val fs = MetadataLog.fs(table.meta.location, table.catalog.hadoopConf)
    // delete-file lengths once per distinct file, not per data file
    val eqLens: Map[String, Long] = eqGroups.flatten.map(e =>
      e.path -> fs.getFileStatus(new org.apache.hadoop.fs.Path(e.path)).getLen)
      .toMap
    val parts = files.map { f =>
      val len = fs.getFileStatus(new org.apache.hadoop.fs.Path(f.path)).getLen
      val np = PosDeletes.norm(f.path)
      // the partition carries the RELEVANT delete-file paths, not the
      // positions/keys: the task reads its own masks executor-side
      f.path -> PosDeletePartition(f.path, f.schemaEpoch, len,
        deleted.getOrElse(np, Nil),
        eqDeleted.getOrElse(np, Nil).map(e =>
          EqSlice(e.path, eqLens(e.path), groupOf(e.path))))
    }
    bins match {
      case None => parts.map(_._2).toArray
      case Some(bs) =>
        val byPath = parts.toMap
        bs.map(b => PosDeleteBin(b.map(f => byPath(f.path)))).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, Literal}
    import org.apache.spark.sql.types.{LongType, StringType}
    val spark = SparkSession.active
    val ctx = new LakeScans.EpochReaders(spark)
    val current = table.schema()
    val tz = ctx.tz
    val dataNames = current.fieldNames.toSet
    // equality-delete key fields in CURRENT shape, one entry per group
    val eqKeyFields: Seq[Seq[org.apache.spark.sql.types.StructField]] =
      EqScanSupport.keyFields(table.meta, eqGroups)
    val built = ctx.build(table.meta, current,
      files.map(_.schemaEpoch).distinct,
      pick = (epochSchema, rename) => {
        val baseRead = StructType(required.fields.flatMap { f =>
          val en = rename.getOrElse(f.name, f.name)
          epochSchema.fields.find(_.name == en)
        }.distinct)
        // widen the read schema with any key columns the eq filters
        // need (appended at the end — the output projection binds by
        // indexOf, so existing indices are unchanged)
        val keyEpochFields = eqKeyFields.flatten.flatMap { f =>
          val en = rename.getOrElse(f.name, f.name)
          epochSchema.fields.find(_.name == en)
        }.distinct.filterNot(baseRead.fields.contains)
        StructType(baseRead.fields ++ keyEpochFields)
      })
    val perEpoch = built.map { case (e, (readFunc, epochRead, rename)) =>
      // the reader projects over JoinedRow(dataRow, [filePath, pos]):
      // metadata columns bind past the data row's width
      val n = epochRead.length
      val exprs: Seq[Expression] = required.fields.toSeq.map { f =>
        if (f.name == rowIds._1 && !dataNames(f.name))
          BoundReference(n, StringType, nullable = false)
        else if (f.name == rowIds._2 && !dataNames(f.name))
          BoundReference(n + 1, LongType, nullable = false)
        else {
          val en = rename.getOrElse(f.name, f.name)
          epochRead.fieldNames.indexOf(en) match {
            case -1 => Literal(null, f.dataType)
            case i =>
              val ef = epochRead(i)
              val ref = BoundReference(i, ef.dataType, nullable = true)
              // nested-id-aware projection, not a positional Cast:
              // struct internals map by field id across epochs
              LakeScans.projectRowExpr(ref, f.dataType, ef.dataType, Some(tz))
          }
        }
      }
      // per-group key extractors from THIS epoch's raw data row, cast
      // to current types so they byte-compare with the delete side
      val keyExprs: Seq[Seq[Expression]] = eqKeyFields.map(fs =>
        EqScanSupport.keyExprs(epochRead, rename, fs, tz))
      e -> (readFunc, exprs, keyExprs)
    }
    val eqSpecs: Map[Int, EqGroupSpec] =
      EqScanSupport.groupSpecs(table.meta, eqGroups, eqKeyFields, ctx, tz)
    new PosDeleteReaderFactory(
      perEpoch.map { case (e, (f, _, _)) => e -> f },
      perEpoch.map { case (e, (_, x, _)) => e -> x },
      // a conf inline in the factory is deserialized by every task
      // (one task per file); the shared broadcast is fetched once
      ConfBroadcasts(spark.sparkContext, ctx.hconf),
      perEpoch.map { case (e, (_, _, k)) => e -> k },
      eqSpecs, eqDeletedOnly)
  }
}

case class PosDeletePartition(path: String, epoch: Int, fileLen: Long,
    deleteFiles: Seq[String],
    eqSlices: Seq[EqSlice] = Nil) extends InputPartition

/** Several files' partitions read by one task, in order. */
case class PosDeleteBin(files: Seq[PosDeletePartition]) extends InputPartition

/** One applicable equality-delete file for a scan task: path, length
  * (for the executor-side parquet read) and its key-shape group. */
case class EqSlice(path: String, fileLen: Long, groupId: Int)

/** Serialized per-key-shape machinery: how an executor reads a delete
  * file of this shape and casts its tuples to current types. */
case class EqGroupSpec(
    read: org.apache.spark.sql.execution.datasources.PartitionedFile =>
      Iterator[org.apache.spark.sql.catalyst.InternalRow],
    castExprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    typesSig: String)

/** Shared driver-side construction of equality-delete scan machinery
  * (used by [[PosDeleteScan]] and the changes relation): key-shape
  * groups, their delete-file readers, and per-epoch key extractors. */
private[lake] object EqScanSupport {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, Literal}

  def groupsOf(eqs: Seq[EqDeleteMeta]): Seq[Seq[EqDeleteMeta]] =
    eqs.distinctBy(_.path)
      .groupBy(e => (e.schemaEpoch, e.keyColumns)).values.toSeq

  def keyFields(meta: TableMeta, groups: Seq[Seq[EqDeleteMeta]])
      : Seq[Seq[org.apache.spark.sql.types.StructField]] =
    groups.map { g =>
      EqDeletes.currentKeyFields(meta, g.head).getOrElse(
        throw new IllegalStateException(
          s"equality-delete file ${g.head.path} references key columns " +
            s"${g.head.keyColumns.mkString(", ")} that no longer map to " +
            "the current schema"))
    }

  /** One delete-file reader + cast-to-current-types projection per key
    * shape; always the row-based parquet path (delete files are small
    * and read once into the executor-local key-set cache). */
  def groupSpecs(meta: TableMeta, groups: Seq[Seq[EqDeleteMeta]],
      fields: Seq[Seq[org.apache.spark.sql.types.StructField]],
      ctx: LakeScans.EpochReaders, tz: String): Map[Int, EqGroupSpec] =
    groups.zipWithIndex.map { case (g, gi) =>
      val head = g.head
      val delEpochSchema = meta.schemaAt(head.schemaEpoch)
      val delReadSchema = StructType(head.keyColumns.map(kc =>
        delEpochSchema.fields.find(_.name.equalsIgnoreCase(kc)).get
          .copy(nullable = true)))
      val fmt = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      val dconf = new org.apache.hadoop.conf.Configuration(ctx.hconf)
      val delRead = fmt.buildReaderWithPartitionValues(ctx.noVec, delReadSchema,
        StructType(Nil), delReadSchema, Nil,
        Map(org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "false"), dconf)
      val curFields = fields(gi)
      val castExprs: Seq[Expression] = delReadSchema.fields.toSeq
        .zip(curFields).map { case (df, cf) =>
          val ref = BoundReference(delReadSchema.fieldNames.indexOf(df.name),
            df.dataType, nullable = true)
          if (df.dataType == cf.dataType) ref: Expression
          else Cast(ref, cf.dataType, Some(tz))
        }
      gi -> EqGroupSpec(delRead, castExprs,
        curFields.map(_.dataType.catalogString).mkString(","))
    }.toMap

  /** Key extractor over a raw epoch-read row, cast to current types so
    * the output byte-compares with the delete side. */
  def keyExprs(epochRead: StructType, rename: Map[String, String],
      fields: Seq[org.apache.spark.sql.types.StructField],
      tz: String): Seq[Expression] =
    fields.map { f =>
      val en = rename.getOrElse(f.name, f.name)
      epochRead.fieldNames.indexOf(en) match {
        case -1 => Literal(null, f.dataType)
        case i =>
          val ef = epochRead(i)
          val ref = BoundReference(i, ef.dataType, nullable = true)
          if (ef.dataType == f.dataType) ref: Expression
          else Cast(ref, f.dataType, Some(tz))
      }
    }

  /** Executor-side key-set membership machinery, shared by every scan
    * path that applies equality deletes (PosDeleteScan, the changes
    * relation): one (extractor, loaded key sets) pair per key shape. */
  type EqChecks = Array[(org.apache.spark.sql.catalyst.expressions.UnsafeProjection,
    Array[java.util.HashSet[org.apache.spark.sql.catalyst.expressions.UnsafeRow]])]

  def loadChecks(slices: Seq[EqSlice], epoch: Int,
      eqSpecs: Map[Int, EqGroupSpec],
      keyExprs: Map[Int, Seq[Seq[Expression]]]): EqChecks =
    slices.groupBy(_.groupId).toArray.map { case (g, ss) =>
      val spec = eqSpecs(g)
      val delProj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(spec.castExprs.toArray)
      val sets = ss.map { s =>
        EqDeletes.keySet(s.path, spec.typesSig,
          () => spec.read(
            org.apache.spark.sql.execution.datasources.PartitionedFile(
              org.apache.spark.sql.catalyst.InternalRow.empty,
              org.apache.spark.paths.SparkPath.fromPathString(s.path),
              0, s.fileLen)),
          r => delProj(r))
      }.toArray
      (org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(keyExprs(epoch)(g).toArray), sets)
    }

  def matchesAny(checks: EqChecks,
      r: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    var i = 0
    while (i < checks.length) {
      val (extract, sets) = checks(i)
      val key = extract(r)
      var j = 0
      while (j < sets.length) {
        if (sets(j).contains(key)) return true
        j += 1
      }
      i += 1
    }
    false
  }
}

class PosDeleteReaderFactory(
    readFuncs: Map[Int, org.apache.spark.sql.execution.datasources.PartitionedFile =>
      Iterator[org.apache.spark.sql.catalyst.InternalRow]],
    projections: Map[Int, Seq[org.apache.spark.sql.catalyst.expressions.Expression]],
    conf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration],
    // equality-delete machinery: per (data epoch) per group, the key
    // extractor over the raw data row; per group, the delete reader
    keyExprs: Map[Int, Seq[Seq[org.apache.spark.sql.catalyst.expressions.Expression]]] =
      Map.empty,
    eqSpecs: Map[Int, EqGroupSpec] = Map.empty,
    eqDeletedOnly: Boolean = false)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = p match {
    case PosDeleteBin(parts) =>
      new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
        private val rest = parts.iterator
        private var cur = if (rest.hasNext) fileReader(rest.next()) else null
        override def next(): Boolean = {
          while (cur != null && !cur.next()) {
            cur.close()
            cur = if (rest.hasNext) fileReader(rest.next()) else null
          }
          cur != null
        }
        override def get(): org.apache.spark.sql.catalyst.InternalRow = cur.get()
        override def close(): Unit = if (cur != null) cur.close()
      }
    case part: PosDeletePartition => fileReader(part)
  }

  private def fileReader(part: PosDeletePartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val raw = readFuncs(part.epoch)(
      org.apache.spark.sql.execution.datasources.PartitionedFile(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPathString(part.path),
        0, part.fileLen))
    val rows: Iterator[org.apache.spark.sql.catalyst.InternalRow] =
      LakeScans.unrollBatches(raw)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(projections(part.epoch).toArray)
    // mask content loads HERE, on the executor running this task,
    // through the executor-local cache — the driver only planned which
    // delete files are relevant
    val mask: Array[Long] =
      if (part.deleteFiles.isEmpty) Array.empty
      else PosDeletes.deletedFor(part.path, part.deleteFiles, conf.value.value)
    // equality-delete key sets, loaded HERE (executor) through the
    // per-JVM cache; one (extractor, sets) pair per key shape
    val eqChecks: EqScanSupport.EqChecks =
      EqScanSupport.loadChecks(part.eqSlices, part.epoch, eqSpecs, keyExprs)
    val metaRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    metaRow.update(0, org.apache.spark.unsafe.types.UTF8String
      .fromString(PosDeletes.norm(part.path)))
    val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
    new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
      private var di = 0
      private var pos = -1L
      private var cur: org.apache.spark.sql.catalyst.InternalRow = _
      override def next(): Boolean = {
        while (rows.hasNext) {
          val r = rows.next(); pos += 1
          while (di < mask.length && mask(di) < pos) di += 1
          if (di < mask.length && mask(di) == pos) di += 1
          else if (eqDeletedOnly == (eqChecks.nonEmpty &&
              EqScanSupport.matchesAny(eqChecks, r))) {
            metaRow.setLong(1, pos)
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
