package graft.lake

import org.apache.spark.sql.types.{DataType, StructType}

/** Table-format metadata model (the replacement for the missing
  * Iceberg library — see SURVEY.md §0/§7.1 "format-core").
  *
  * A table is a directory: `data/<writeId>/part-*.parquet` plus
  * `metadata/v{N}.json` (one immutable JSON document per commit) and
  * `metadata/version-hint.text` (pointer to the current N). Commits
  * are atomic single-writer metadata swaps, mirroring the reference's
  * snapshot model (reference: docs/spark-queries.md:229-236,
  * iceberg_it.py:1940-1967).
  *
  * Scale note: each snapshot's data-file list, with per-file,
  * per-column min/max/null-count stats, lives in its own immutable
  * manifest under metadata/manifests/ (a JSON file, or a parquet
  * directory past `write.metadata.manifest.spill-threshold` files),
  * written once by the commit that creates the snapshot; the version
  * JSON stores only the pointer — see [[Manifests]]. Loads hydrate
  * lazily through an immutable-manifest cache, so a version document
  * grows with the snapshot count, not with snapshots × files.
  */
final case class PartitionFieldMeta(
    name: String,        // display name, e.g. "ts_day", "id_bucket"
    transform: String,   // identity|bucket|truncate|years|months|days|hours
    sourceColumn: String,
    param: Option[Int])  // bucket count / truncate width

final case class DataFileMeta(
    path: String,
    rowCount: Long,
    sizeBytes: Long,
    schemaEpoch: Int,                 // index into TableMeta.schemas
    minValues: Map[String, String],  // column -> encoded min (write-time names)
    maxValues: Map[String, String],
    nullCounts: Map[String, Long],
    // Partition field name -> the transform's value for every row of
    // this file, as the string `Transforms.eval` yields ("null" for a
    // null value). A non-empty map is a claim that the file holds ONE
    // tuple; scan planning and copy-on-write prune on it
    // ([[PartitionPruning]]). Empty means no claim: an unpartitioned
    // table, an `add_files`/`migrate`/`snapshot` import of foreign
    // files, or a file written before per-file tuples were recorded.
    // Every write, rewrite and compaction path of a partitioned table
    // records a tuple; `rewrite_data_files` gives an untupled file one.
    partitionValues: Map[String, String],
    // Data sequence number: the snapshot id of the commit that wrote
    // this file's ROWS into the table (rewrites stamp their own commit
    // id — legal because every rewrite reads through a scan that has
    // already applied all older deletes). Equality deletes apply only
    // to files with a strictly LOWER seq, so an upsert commit's own
    // data files survive its delete file. 0 = pre-eq-delete metadata:
    // every equality delete applies, which is correct for rows that
    // predate all of them.
    seq: Long = 0L,
    // Exact per-column distinct-value sets, harvested from parquet
    // dictionary pages at commit time for columns whose every page is
    // dictionary-encoded with a small dictionary (caps in
    // [[FileStats]]). Planning uses them to skip files a min/max range
    // check cannot: an unsorted low-cardinality column spans the full
    // range in every file, but each file's VALUE SET is still sparse.
    // Values live in the same encoded-string space as min/max; absent
    // column → no claim (conservative). Empty for pre-round-7 metadata.
    valueSets: Map[String, Seq[String]] = Map.empty,
    // Manifest-resident bloom filters for PLANNING-time point-lookup
    // file skipping — the complement of `valueSets` for high-NDV
    // columns (whose dictionaries blow the value-set cap) on unsorted
    // data (where min/max spans everything). Harvested at commit time
    // from the parquet blooms the writer already produces for columns
    // opted in via `write.parquet.bloom-filter-enabled.column.<col>`.
    // Per column: head element is the parquet physical-type tag
    // (INT32|INT64|FLOAT|DOUBLE|BINARY — the probe must hash the
    // literal exactly as the writer hashed the value), tail is one
    // base64 xxhash block-split bitset per row group ("file may
    // contain v" = any row-group bloom may). Absent column → no claim.
    blooms: Map[String, Seq[String]] = Map.empty,
    // Write-order provenance (write-time column names): the WRITE
    // ORDERED BY columns this file's rows are sorted by, stamped ONLY
    // by the batch-write commit path whose requiredOrdering Spark
    // enforced (streaming epochs and delete-applying rewrites stamp
    // nothing). Read side: when every SPJ key group is one such file
    // in one input partition, the scan can report this ordering and a
    // bucket-co-partitioned sort-merge join drops its SortExec too.
    // Nil = no claim (pre-round-7 metadata, unsorted writers).
    sortedBy: Seq[String] = Nil)

/** An equality-delete file (Iceberg v2 semantics, the write path
  * Flink's upsert sink uses): a parquet file of identifier-column
  * tuples. A row of a data file with `file.seq < this.seq` whose key
  * columns equal any stored tuple is deleted. `keyColumns` are the
  * column NAMES at `schemaEpoch` (identity follows field ids through
  * renames); key VALUES are stored in that epoch's types and cast to
  * current types at read time. min/max (footer stats of the key
  * columns) let planning skip data files whose key range cannot
  * intersect the delete's. */
final case class EqDeleteMeta(
    path: String,
    rowCount: Long,
    sizeBytes: Long,
    schemaEpoch: Int,
    seq: Long,
    keyColumns: Seq[String],
    minValues: Map[String, String] = Map.empty,
    maxValues: Map[String, String] = Map.empty)

final case class SnapshotMeta(
    snapshotId: Long,
    parentId: Option[Long],
    timestampMs: Long,
    operation: String, // append|overwrite|delete|update|merge|replace|...
    summary: Map[String, String],
    files: Seq[DataFileMeta],
    schemaEpoch: Int,
    // Pointer to the snapshot's manifest under metadata/manifests/
    // (see [[Manifests]]), relative to the table's metadata/ dir (older
    // tables: absolute). The JSON stores the pointer instead of the
    // file list; in memory `files` is authoritative and reads the
    // manifest lazily. None: no data files, or an inline list of a
    // version written before per-snapshot manifests.
    manifestPath: Option[String] = None,
    // Merge-on-read position-delete files (parquet of
    // (file_path string, pos long), sorted): rows of `files` at these
    // positions are deleted and must be filtered at read time — see
    // [[PosDeletes]]. Carried forward across append/rewrite commits;
    // cleared by truncate and by rewrite_position_delete_files.
    deleteFiles: Seq[DataFileMeta] = Nil,
    // Merge-on-read EQUALITY deletes (see [[EqDeleteMeta]] /
    // [[EqDeletes]]): carried forward like position masks; retired by
    // commits once no live data file has a lower seq; cleared by
    // truncate and folded away by rewrite_data_files.
    eqDeleteFiles: Seq[EqDeleteMeta] = Nil) {

  /** True iff this snapshot provably holds the same logical rows as
    * its parent (compaction / delete-format maintenance), so CDC,
    * incremental reads, and MV append fast paths may skip it.
    *
    * Discriminated by summary provenance, not by the operation name
    * alone: every maintenance procedure stamps a `rewritten-*` /
    * `converted-*` summary key and never `added-records`, while the
    * staged write path always stamps `added-records` — and builds
    * BEFORE the RTAS op-name fix recorded the (whole-table,
    * non-row-preserving) RTAS replacement as "replace" through that
    * staged path. Such a legacy snapshot must surface as a real
    * change (or fail an append-only check loudly), never be silently
    * skipped as if it were a compaction. */
  def isRowPreservingReplace: Boolean =
    operation == "replace" && !summary.contains("added-records")
}

/** Named ref (branch|tag) with optional retention (reference:
  * docs/spark-ddl.md:478-505 `CREATE BRANCH … RETAIN d DAYS WITH
  * SNAPSHOT RETENTION n SNAPSHOTS m DAYS`). `maxRefAgeMs` ages the ref
  * itself out of `expire_snapshots` (measured from its head snapshot's
  * commit time); the snapshot-retention pair bounds how much of a
  * branch's ancestry expiry must keep. Absent fields (older metadata)
  * deserialize as None = keep forever / procedure defaults. */
final case class RefMeta(refType: String, snapshotId: Long,
    maxRefAgeMs: Option[Long] = None,
    minSnapshotsToKeep: Option[Int] = None,
    maxSnapshotAgeMs: Option[Long] = None)

/** One WRITE ORDERED BY entry. `TableMeta.sortOrder` (and the per-file
  * `DataFileMeta.sortedBy` stamp) store entries in NORMALIZED string
  * form — `name`, `name desc`, `name nulls last`, `name desc nulls
  * first` — where a bare name means the default ascending / nulls
  * first, and desc defaults to nulls last (the Iceberg/Spark
  * convention). Plain pre-round-8 metadata (bare column names) parses
  * unchanged. Normalization matters: the write path, the file stamp
  * and the SPJ ordering claim all compare these strings.
  */
final case class SortSpec(column: String, descending: Boolean,
    nullsFirst: Boolean) {
  def normalized: String =
    column +
      (if (descending) " desc" else "") +
      (if (nullsFirst != SortSpec.defaultNullsFirst(descending))
        (if (nullsFirst) " nulls first" else " nulls last")
      else "")
}

object SortSpec {
  def defaultNullsFirst(descending: Boolean): Boolean = !descending

  /** Parse a stored entry or a raw SQL item (`col [ASC|DESC]
    * [NULLS FIRST|LAST]`, any case). Unknown trailing tokens are an
    * error — silently treating "category ASC NULLS LAST" as a column
    * NAME was exactly the bug this type removes. */
  def parse(entry: String): SortSpec = {
    val toks = entry.trim.split("\\s+").toList
    require(toks.nonEmpty && toks.head.nonEmpty, s"empty sort entry '$entry'")
    val column = toks.head.replace("`", "")
    var rest = toks.tail.map(_.toLowerCase)
    var desc = false
    rest match {
      case ("asc" | "desc") :: t =>
        desc = rest.head == "desc"
        rest = t
      case _ => ()
    }
    var nullsFirst = defaultNullsFirst(desc)
    rest match {
      case "nulls" :: ("first" | "last") :: t =>
        nullsFirst = rest(1) == "first"
        rest = t
      case _ => ()
    }
    require(rest.isEmpty,
      s"unrecognized tokens '${rest.mkString(" ")}' in sort entry '$entry'")
    SortSpec(column, desc, nullsFirst)
  }

  def normalize(entry: String): String = parse(entry).normalized
}

final case class TableMeta(
    formatVersion: Int,
    uuid: String,
    location: String,
    schemas: Seq[String], // StructType.json per schema epoch
    currentSchemaEpoch: Int,
    partitionSpec: Seq[PartitionFieldMeta],
    sortOrder: Seq[String],
    properties: Map[String, String],
    snapshots: Seq[SnapshotMeta],
    refs: Map[String, RefMeta],
    version: Int,
    lastSnapshotId: Long,
    // Partition specs that were in force before `partitionSpec`, oldest
    // first: CREATE starts the log empty and every ADD/DROP/REPLACE
    // PARTITION FIELD (and RTAS) appends the spec it replaces. A field
    // name's recorded `partitionValues` may have been computed under
    // any logged definition of that name, so partition pruning trusts
    // a name only while all of them agree. None: the metadata predates
    // the log, so no definition history is known and nothing prunes by
    // partition value.
    priorSpecs: Option[Seq[Seq[PartitionFieldMeta]]] = None) {

  def schema: StructType = schemaAt(currentSchemaEpoch)
  def schemaAt(epoch: Int): StructType =
    DataType.fromJson(schemas(epoch)).asInstanceOf[StructType]

  /** Highest field id ever assigned across ALL schema epochs — new
    * columns must be numbered above this so a dropped-then-re-added
    * column never reuses the dropped column's id (which would read the
    * old files' values into the new column instead of nulls). */
  def highestFieldId: Long =
    schemas.indices.map(e => TableMeta.maxFieldId(schemaAt(e)))
      .foldLeft(0L)(math.max)

  def snapshotById(id: Long): Option[SnapshotMeta] =
    snapshots.find(_.snapshotId == id)

  /** Every spec ever in force, oldest first, or None when the metadata
    * predates the spec log. */
  def specLog: Option[Seq[Seq[PartitionFieldMeta]]] =
    priorSpecs.map(_ :+ partitionSpec)

  /** Replace the partition spec, logging the one it replaces. */
  def withSpec(spec: Seq[PartitionFieldMeta]): TableMeta =
    copy(partitionSpec = spec,
      priorSpecs = priorSpecs.map(_ :+ partitionSpec))

  def currentSnapshotId(ref: String = "main"): Option[Long] =
    refs.get(ref).map(_.snapshotId)

  def currentSnapshot(ref: String = "main"): Option[SnapshotMeta] =
    currentSnapshotId(ref).flatMap(snapshotById)

  def filesOf(snapshotId: Option[Long]): Seq[DataFileMeta] =
    snapshotId.flatMap(snapshotById).map(_.files).getOrElse(Nil)

  /** Snapshot that was current at `tsMs`, following main-branch history. */
  def snapshotAsOfTime(tsMs: Long, ref: String = "main"): Option[SnapshotMeta] = {
    val head = currentSnapshot(ref)
    Iterator.iterate(head)(_.flatMap(s => s.parentId.flatMap(snapshotById)))
      .takeWhile(_.isDefined).flatten
      .find(_.timestampMs <= tsMs)
  }

  /** Ancestors of a snapshot, nearest first (inclusive). */
  def ancestorsOf(id: Long): Seq[SnapshotMeta] =
    Iterator.iterate(snapshotById(id))(_.flatMap(s => s.parentId.flatMap(snapshotById)))
      .takeWhile(_.isDefined).flatten.toSeq

  def withSnapshot(s: SnapshotMeta, advanceRef: Option[String]): TableMeta = {
    val newRefs = advanceRef match {
      case Some(r) => refs + (r -> RefMeta("branch", s.snapshotId))
      case None => refs
    }
    copy(snapshots = snapshots :+ s, refs = newRefs,
      lastSnapshotId = math.max(lastSnapshotId, s.snapshotId))
  }
}

object TableMeta {
  val FieldIdKey = "graft.field.id"

  def empty(location: String, schema: StructType,
      spec: Seq[PartitionFieldMeta], props: Map[String, String],
      sortOrder: Seq[String] = Nil): TableMeta =
    TableMeta(
      formatVersion = 1,
      uuid = java.util.UUID.randomUUID().toString,
      location = location,
      schemas = Seq(withFieldIds(schema).json),
      currentSchemaEpoch = 0,
      partitionSpec = spec,
      sortOrder = sortOrder,
      properties = props,
      snapshots = Nil,
      refs = Map.empty,
      version = 0,
      lastSnapshotId = 0L,
      priorSpecs = Some(Nil))

  /** Assign stable field ids (top-level) so renames keep identity.
    * `minFieldId` is the table's highest-ever id (across all schema
    * epochs) so re-added columns get FRESH ids. */
  /** Stamp stable field ids on every UN-stamped field — at every
    * struct nesting level (struct children, array elements, map
    * keys/values). Nested ids are what give `point.z` an identity
    * that survives RENAME COLUMN point.z (Iceberg's nested field
    * ids): without them the read path resolves struct internals by
    * name, so a nested rename silently nulls (and a nested swap
    * silently exchanges) old files' values. Already-stamped fields
    * keep their ids, so legacy metadata (top-level-only ids) gains
    * nested ids on its next schema evolution while its OLD epochs
    * stay id-less — readers detect that per struct level and fall
    * back to the legacy name-based resolution for those epochs. */
  def withFieldIds(schema: StructType, minFieldId: Long = 0L): StructType = {
    var next = math.max(maxFieldId(schema), minFieldId)
    def stampType(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = dt match {
      case st: StructType => StructType(st.fields.map(stampField))
      case org.apache.spark.sql.types.ArrayType(e, n) =>
        org.apache.spark.sql.types.ArrayType(stampType(e), n)
      case org.apache.spark.sql.types.MapType(k, v, n) =>
        org.apache.spark.sql.types.MapType(stampType(k), stampType(v), n)
      case other => other
    }
    def stampField(f: org.apache.spark.sql.types.StructField)
        : org.apache.spark.sql.types.StructField = {
      val withId =
        if (f.metadata.contains(FieldIdKey)) f
        else {
          next += 1
          val md = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putLong(FieldIdKey, next).build()
          f.copy(metadata = md)
        }
      withId.copy(dataType = stampType(withId.dataType))
    }
    StructType(schema.fields.map(stampField))
  }

  def maxFieldId(schema: StructType): Long = {
    def maxType(dt: org.apache.spark.sql.types.DataType): Long = dt match {
      case st: StructType => st.fields.map(maxField).foldLeft(0L)(math.max)
      case org.apache.spark.sql.types.ArrayType(e, _) => maxType(e)
      case org.apache.spark.sql.types.MapType(k, v, _) =>
        math.max(maxType(k), maxType(v))
      case _ => 0L
    }
    def maxField(f: org.apache.spark.sql.types.StructField): Long =
      math.max(
        if (f.metadata.contains(FieldIdKey)) f.metadata.getLong(FieldIdKey)
        else 0L,
        maxType(f.dataType))
    schema.fields.map(maxField).foldLeft(0L)(math.max)
  }

  def fieldId(f: org.apache.spark.sql.types.StructField): Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey)) else None
}
