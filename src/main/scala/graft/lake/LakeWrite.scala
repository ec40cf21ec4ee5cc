package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{ArrayType, LongType, MapType, StructType}

/** Write path (SURVEY.md §7.1 "write-path" + §4.3): every batch write
  * stages parquet through the engine's one data-file writer
  * ([[LakeFanoutWrite]]) into a fresh `data/<uuid>/` directory, then
  * commits a snapshot whose file list is derived from the mode:
  *
  *  - append                  -> parent files ++ staged
  *  - truncate / replace      -> staged only
  *  - overwrite(filters)      -> copy-on-write against the predicate
  *  - dynamic overwrite       -> replace only partitions present in
  *                               the staged data
  *
  * Partitioned tables request a clustered distribution on the
  * partition transforms ([[RequiresDistributionAndOrdering]]), so
  * Spark shuffles rows once and files align with partitions — no
  * engine-side row routing. Stats come from parquet footers at commit
  * (no extra scan). WAP (`spark.wap.id` / `spark.wap.branch`,
  * iceberg_it.py:1362-1365) redirects or stages the ref advance.
  */
class LakeWriteBuilder(table: LakeTable, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite
  with SupportsTruncate {

  private var mode: String = "append"
  private var overwriteFilters: Array[Filter] = Array.empty

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(_.isInstanceOf[sources.AlwaysTrue])) mode = "truncate"
    else { mode = "overwrite"; overwriteFilters = filters }
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = "dynamic"; this
  }

  override def truncate(): WriteBuilder = { mode = "truncate"; this }

  override def build(): Write = new LakeWrite(table, info, mode, overwriteFilters)
}

class LakeWrite(table: LakeTable, info: LogicalWriteInfo, mode: String,
    overwriteFilters: Array[Filter], operationOverride: Option[String] = None,
    onCommit: Option[TableMeta => Unit] = None,
    replacedFiles: () => Option[Seq[String]] = () => None)
  extends Write with RequiresDistributionAndOrdering {

  override def description(): String = s"LakeWrite(${table.name()}, $mode)"

  override def requiredDistribution(): Distribution =
    if (table.meta.partitionSpec.isEmpty) Distributions.unspecified()
    // per-write override first (the `distribution-mode` WRITE option —
    // Iceberg's spelling): a caller appending a SMALL batch (one
    // streaming epoch) opts out of the cluster-by-transform exchange
    // it would pay on every micro-batch; the fanout writer still
    // splits per tuple and requiredOrdering still sorts tuple-major
    // within each task, so the file count per present tuple is
    // unchanged when the caller coalesces to one task. Table property
    // keeps governing every write that doesn't say otherwise.
    else Option(info.options.get("distribution-mode"))
      .getOrElse(table.meta.properties
        .getOrElse("write.distribution-mode", "hash")) match {
      // reference semantics (docs/spark-writes.md:410-425): `none`
      // requests no shuffle — callers pre-sort/cluster themselves and
      // the fanout writer still splits per tuple (more open files,
      // zero exchange); `range` orders globally on the partition
      // transforms + sort order (range exchange, minimal file count);
      // `hash` (default) clusters on the TRANSFORM values — one
      // shuffle key per partition tuple, resolved through the
      // catalog's FunctionCatalog bindings — so each fanout-writer
      // task receives whole tuples
      case "none" => Distributions.unspecified()
      case "range" => Distributions.ordered(requiredOrdering())
      case _ => Distributions.clustered(table.meta.partitionSpec
        .map(f => Transforms.toTransform(f): org.apache.spark.sql.connector.expressions.Expression)
        .toArray)
    }

  override def requiredOrdering(): Array[SortOrder] = {
    // tuple-major ordering: sort by the partition TRANSFORM values
    // first (bucket values interleave under a source-column sort), so
    // each task's rows are contiguous per tuple and the roll-over
    // fanout writer holds exactly one open file at a time. Only
    // IDENTITY partition sources drop out of the trailing sort-order
    // columns (the transform sort already pins them); a bucket/
    // truncate/date transform does NOT order its source column, so a
    // WRITE ORDERED BY on it must still sort within each tuple — that
    // within-file order is what the sortedBy stamp (and the bucket
    // SPJ sort-free claim) stands on.
    val partSorts = table.meta.partitionSpec.map(f =>
      Expressions.sort(Transforms.toTransform(f), SortDirection.ASCENDING))
    val identityCols = table.meta.partitionSpec
      .filter(_.transform == "identity").map(_.sourceColumn).toSet
    (partSorts ++ table.meta.sortOrder.map(SortSpec.parse)
      .filterNot(e => identityCols.contains(e.column))
      .map(e => Expressions.sort(Expressions.column(e.column),
        if (e.descending) SortDirection.DESCENDING
        else SortDirection.ASCENDING,
        if (e.nullsFirst)
          org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST
        else
          org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_LAST)))
      .toArray
  }

  override def requiredNumPartitions(): Int = 0

  override def toBatch: BatchWrite =
    // batch plans enforce requiredOrdering (Spark injects the sort),
    // so committed files may carry the write-order provenance stamp;
    // streaming epochs construct LakeBatchWrite directly and don't
    new LakeBatchWrite(table, info, mode, overwriteFilters,
      operationOverride, onCommit, replacedFiles,
      sortedWith = table.meta.sortOrder)

  override def toStreaming: StreamingWrite =
    new LakeStreamingWrite(table, info, mode)
}

class LakeBatchWrite(table: LakeTable, info: LogicalWriteInfo, mode: String,
    overwriteFilters: Array[Filter], operationOverride: Option[String],
    onCommit: Option[TableMeta => Unit],
    replacedFiles: () => Option[Seq[String]] = () => None,
    sortedWith: Seq[String] = Nil)
  extends BatchWrite {

  private val stagingDir =
    s"${table.meta.location}/data/${java.util.UUID.randomUUID().toString.take(12)}"

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory = {
    val f = LakeFanoutWrite.factory(SparkSession.active, table.meta,
      info.schema(), stagingDir)
    // Row-level ReplaceData queries carry a leading __row_operation
    // column that is not part of the table schema — strip it.
    if (mode == "rewrite") ProjectingWriterFactory(f, info.schema()) else f
  }

  override def useCommitCoordinator(): Boolean = true

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // the fanout writer records every staged file's partition tuple
    // per roll; handing them to the commit skips the partitionTuples
    // re-derivation job
    val committed = LakeWriteUtil.commitStaged(table, stagingDir, mode,
      overwriteFilters, info.schema(), operationOverride, replacedFiles(),
      sortedWith, stagedTuples = LakeFanoutCommit.tuples(messages))
    onCommit.foreach(_(committed))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    MetadataLog.dropTableDir(stagingDir, table.catalog.hadoopConf)
}

/** Streaming sink: each epoch commits one snapshot (append; or
  * truncate-and-append for Complete mode). Reference:
  * docs/spark-structured-streaming.md:43-93. */
class LakeStreamingWrite(table: LakeTable, info: LogicalWriteInfo, mode: String)
  extends StreamingWrite {

  private def epochWrite(): LakeBatchWrite =
    new LakeBatchWrite(table, info,
      if (mode == "truncate") "truncate" else "append",
      Array.empty, None, None)

  @volatile private var current: LakeBatchWrite = _

  // the batch OutputCommitCoordinator denies task commits inside
  // micro-batch jobs; staged files are attempt-unique so tasks can
  // commit directly
  override def useCommitCoordinator(): Boolean = false

  override def createStreamingWriterFactory(
      pinfo: PhysicalWriteInfo): StreamingDataWriterFactory = {
    current = epochWrite()
    val f = current.createBatchWriterFactory(pinfo)
    (partitionId: Int, taskId: Long, epochId: Long) =>
      f.createWriter(partitionId, taskId)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    current.commit(messages)

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    current.abort(messages)
}

/** Drops leading extra columns (e.g. __row_operation from group-based
  * row-level plans) so the parquet writer sees exactly the table
  * schema. The projection is resolved from the first row's arity. */
case class ProjectingWriterFactory(inner: DataWriterFactory,
    schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val d = inner.createWriter(partitionId, taskId)
    new DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      private var proj: org.apache.spark.sql.catalyst.ProjectingInternalRow = _
      private var checked = false
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        if (!checked) {
          checked = true
          val extra = row.numFields - schema.size
          if (extra > 0)
            proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
              schema, extra until row.numFields)
        }
        if (proj != null) { proj.project(row); d.write(proj) }
        else d.write(row)
      }
      override def commit(): WriterCommitMessage = d.commit()
      override def abort(): Unit = d.abort()
      override def close(): Unit = d.close()
    }
  }
}

/** Per-commit planning/commit cost accounting — the write-path twin
  * of [[LakeScanMetrics]]. At 100 TB the metadata latency budget is
  * thousands of commits/day × (staged-file listing + partition-tuple
  * job + footer-stats harvest + snapshot derivation/CAS): when an
  * unchanged workload's commits get slower, these counters name the
  * phase instead of leaving a bench delta unattributable (the round-7
  * "commit-path regression" burned a round proving itself to be
  * bench-measurement bleed — with this record one look settles it).
  * Cumulative totals plus a last-commit snapshot; specs read both,
  * and each commit logs one INFO line. */
private[graft] object LakeCommitMetrics {
  /** `metadataBytes`: the version file plus the manifests the winning
    * attempt wrote (0 if the commit failed). `casRetries`: attempts
    * after the first, each one re-derived after a lost CAS. */
  final case class CommitTiming(stagedFiles: Int, listMs: Long,
      tuplesMs: Long, statsMs: Long, deriveMs: Long, totalMs: Long,
      metadataBytes: Long, casRetries: Int)
  private val lastRef =
    new java.util.concurrent.atomic.AtomicReference[CommitTiming]()
  private val commitsCtr = new java.util.concurrent.atomic.AtomicLong
  private val msCtr = new java.util.concurrent.atomic.AtomicLong
  private[lake] def record(t: CommitTiming): Unit = {
    lastRef.set(t)
    commitsCtr.incrementAndGet()
    msCtr.addAndGet(t.totalMs)
  }
  def last: Option[CommitTiming] = Option(lastRef.get())
  def commits: Long = commitsCtr.get()
  def totalMs: Long = msCtr.get()
  private[lake] lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
}

object LakeWriteUtil {

  /** Harvest staged files, build the new snapshot per mode, commit.
    * The whole derivation runs inside [[LakeCatalog.commitRetrying]]:
    * a lost CAS reloads the metadata and re-derives the snapshot
    * (including the mode's conflict validation) against the new head,
    * so clean concurrent writers all succeed. */
  def commitStaged(table: LakeTable, stagingDir: String, mode: String,
      overwriteFilters: Array[Filter], writeSchema: StructType,
      operationOverride: Option[String],
      replaced: Option[Seq[String]] = None,
      sortedWith: Seq[String] = Nil,
      stagedTuples: Option[Map[String, Map[String, String]]] = None)
      : TableMeta = {
    val spark = SparkSession.active
    val conf = table.catalog.hadoopConf
    // per-commit phase timings (LakeCommitMetrics): a CAS retry
    // re-derives, so the phase accumulators count what THIS logical
    // commit actually paid across attempts
    val tStart = System.nanoTime()
    var listNs = 0L; var tuplesNs = 0L; var statsNs = 0L
    var stagedCount = 0
    var attempts = 0
    var metadataBytes = 0L
    def timed[A](acc: Long => Unit)(body: => A): A = {
      val t0 = System.nanoTime(); val r = body; acc(System.nanoTime() - t0); r
    }
    try {
    val (committed, bytes) =
      table.catalog.commitRetryingCounted(table.ident) { fresh =>
    attempts += 1

    // write-side schema evolution (mergeSchema / accept-any-schema,
    // iceberg_it.py:1640-1681): extra top-level fields are appended
    val cur = fresh.schema
    // appended columns are forced nullable: rows written before the
    // evolution necessarily read NULL for them
    val extra = writeSchema.fields.filterNot(f =>
      cur.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      .map(_.copy(nullable = true))
    val evolved =
      if (extra.nonEmpty) {
        val ns = TableMeta.withFieldIds(StructType(cur.fields ++ extra),
          fresh.highestFieldId)
        fresh.copy(schemas = fresh.schemas :+ ns.json,
          currentSchemaEpoch = fresh.schemas.size)
      } else fresh

    val epoch = evolved.currentSchemaEpoch
    val schema = evolved.schema

    val stagedPaths = timed(listNs += _)(listParquet(stagingDir, conf))
    stagedCount = stagedPaths.size
    // message-carried tuples cover the whole staged set in the common
    // case — the partitionTuples job is the fallback for a listed file
    // the messages missed or a spec that changed since the write
    val specTuples = timed(tuplesNs += _)(stagedTuples match {
      // trust write-time tuples only while the commit-time spec still
      // matches the field names they were evaluated under (a concurrent
      // REPLACE PARTITION FIELD between write and CAS retry re-derives)
      case Some(mt) if stagedPaths.forall(p => mt.contains(PosDeletes.norm(p))) &&
          mt.values.forall(_.keySet ==
            evolved.partitionSpec.map(_.name).toSet) =>
        stagedPaths.map { p =>
          val np = PosDeletes.norm(p); np -> Set(mt(np))
        }.toMap
      case _ => partitionTuples(spark, stagedPaths, evolved)
    })
    val harvested = timed(statsNs += _)(
      FileStats.fromFooters(stagedPaths, conf, schema, epoch,
        p => {
          val tuples = specTuples.getOrElse(PosDeletes.norm(p), Set.empty)
          if (tuples.size == 1) tuples.head else Map.empty
        }))
    // write-order provenance: rows arrived sorted tuple-major then by
    // the sort-order columns (requiredOrdering, batch plans only), so
    // a single-tuple file — or any file of an unpartitioned table —
    // is internally sorted by those columns. Multi-tuple files (empty
    // partitionValues on a partitioned table) make no claim.
    val staged =
      if (sortedWith.isEmpty) harvested
      else harvested.map { f =>
        if (evolved.partitionSpec.isEmpty || f.partitionValues.nonEmpty)
          f.copy(sortedBy = sortedWith)
        else f
      }

    // WAP / branch routing
    val sconf = spark.conf
    val wapEnabled = evolved.properties.get("write.wap.enabled").contains("true")
    val wapId = sconf.getOption("spark.wap.id").filter(_ => wapEnabled)
    val wapBranch = sconf.getOption("spark.wap.branch")
    val targetRef = wapBranch.getOrElse(table.ref)
    val metaWithRef =
      if (!evolved.refs.contains(targetRef) && evolved.refs.contains("main"))
        evolved.copy(refs = evolved.refs +
          (targetRef -> RefMeta("branch", evolved.refs("main").snapshotId)))
      else evolved

    val parent = metaWithRef.currentSnapshot(targetRef)
    val parentFiles = parent.map(_.files).getOrElse(Nil)
    val parentDels = parent.map(_.deleteFiles).getOrElse(Nil)
    val parentEqs = parent.map(_.eqDeleteFiles).getOrElse(Nil)

    // Data sequence number: every file written by THIS commit carries
    // the new snapshot's id, so the commit's own equality-delete file
    // (seq = same id) never applies to it — and does apply to all
    // older files.
    // ids are 1-based sequential per table BY CONTRACT (spec-pinned in
    // LakeSuite): centroidSourceSnap's pre-tag fallback keys on the
    // build being id 1 — change the scheme and that spec names you
    val nextId = metaWithRef.lastSnapshotId + 1
    val stamped = staged.map(_.copy(seq = nextId))

    // Upsert (write.upsert.enabled + identifier fields): an append
    // additionally writes one equality-delete file of the batch's
    // distinct keys — delete-then-insert by key with zero reads of
    // existing data (the Flink-sink CDC pattern on Iceberg v2).
    val upsert = mode == "append" && EqDeletes.upsertEnabled(evolved)
    val newEqs =
      // an empty parent has nothing the keys could delete — skip the
      // delete file (a bootstrap load stays a plain append)
      if (!upsert || stagedPaths.isEmpty || parentFiles.isEmpty) Nil
      else {
        val keys = EqDeletes.identifierFields(evolved)
        if (keys.isEmpty) throw new IllegalArgumentException(
          s"${table.name()}: ${EqDeletes.UpsertKey} requires identifier " +
            "fields (ALTER TABLE ... SET IDENTIFIER FIELDS ...)")
        EqDeletes.writeForStaged(spark, evolved, stagedPaths, nextId, conf)
      }

    val (files, op) = mode match {
      case "append" =>
        (parentFiles ++ stamped, if (newEqs.nonEmpty) "upsert" else "append")
      case "truncate" => (stamped, "overwrite")
      case "rewrite" =>
        // group-based row-level op: replace exactly the scanned files
        // (Spark pushed the command condition into the scan, so the
        // unscanned files are untouched groups); a staged CTAS/RTAS
        // has no scan and replaces everything.
        val kept = replaced match {
          case Some(paths) =>
            // serializable-isolation check: the scanned groups must
            // still be live, or a concurrent rewrite already replaced
            // them and dropping "their" rows would duplicate data
            val parentPaths = parentFiles.map(_.path).toSet
            val gone = paths.filterNot(parentPaths)
            if (gone.nonEmpty)
              throw new java.util.ConcurrentModificationException(
                s"${table.name()}: files scanned by this row-level " +
                  s"operation were concurrently rewritten " +
                  s"(${gone.take(3).mkString(", ")}" +
                  s"${if (gone.size > 3) ", …" else ""}); retry")
            val dropped = paths.toSet
            parentFiles.filterNot(f => dropped(f.path))
          case None => Nil
        }
        (kept ++ stamped, operationOverride.getOrElse("replace"))
      case "overwrite" =>
        val kept = copyOnWrite(spark, table.withMeta(metaWithRef), parentFiles,
          overwriteFilters, parentDels, parentEqs, newSeq = nextId)
        (kept ++ stamped, "overwrite")
      case "dynamic" =>
        val stagedTuples = specTuples.values.flatten.toSet
        val kept =
          if (metaWithRef.partitionSpec.isEmpty) Nil
          else dynamicKeep(spark, table.withMeta(metaWithRef), parentFiles,
            stagedTuples, parentDels, parentEqs, newSeq = nextId)
        (kept ++ stamped, "overwrite")
    }

    val snap = SnapshotMeta(
      snapshotId = nextId,
      parentId = parent.map(_.snapshotId),
      timestampMs = System.currentTimeMillis(),
      operation = operationOverride.getOrElse(op),
      summary = Map(
        "spark.app.id" -> spark.sparkContext.applicationId,
        "added-data-files" -> staged.size.toString,
        "added-records" -> staged.map(_.rowCount).sum.toString,
        "total-data-files" -> files.size.toString,
        "total-records" -> files.map(_.rowCount).sum.toString
      ) ++ (if (newEqs.isEmpty) Map.empty
            else Map("added-equality-delete-files" -> newEqs.size.toString,
              "added-equality-deletes" -> newEqs.map(_.rowCount).sum.toString))
        ++ wapId.map("wap.id" -> _),
      files = files,
      schemaEpoch = epoch,
      // position deletes survive every mode except full truncation:
      // kept data files keep their masks; masks for files that were
      // dropped or rewritten simply never match again
      deleteFiles = if (mode == "truncate") Nil else parentDels,
      // equality deletes: same carry-forward, plus this commit's own;
      // retire() drops any delete no remaining file is old enough for
      eqDeleteFiles =
        if (mode == "truncate") Nil
        else EqDeletes.retire(parentEqs ++ newEqs, files))

    // WAP id staging: snapshot recorded, no ref advance until
    // publish_changes (docs/spark-procedures.md:186)
    val advance = if (wapId.isDefined) None else Some(targetRef)
    metaWithRef.withSnapshot(snap, advance)
    }
    metadataBytes = bytes
    committed
    } finally {
      def ms(ns: Long) = ns / 1000000L
      val total = ms(System.nanoTime() - tStart)
      val t = LakeCommitMetrics.CommitTiming(stagedCount, ms(listNs),
        ms(tuplesNs), ms(statsNs),
        total - ms(listNs) - ms(tuplesNs) - ms(statsNs), total,
        metadataBytes, math.max(attempts - 1, 0))
      LakeCommitMetrics.record(t)
      LakeCommitMetrics.log.info(s"commit ${table.name()}: staged=${t.stagedFiles} " +
        s"list=${t.listMs}ms tuples=${t.tuplesMs}ms stats=${t.statsMs}ms " +
        s"derive+cas=${t.deriveMs}ms total=${t.totalMs}ms " +
        s"metadataBytes=${t.metadataBytes} casRetries=${t.casRetries}")
    }
  }

  def listParquet(dir: String, conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    val fs = MetadataLog.fs(dir, conf)
    val p = new Path(dir)
    if (!fs.exists(p)) return Nil
    parquetUnder(p, fs).map(_.getPath.toString)
  }

  private def listParquetLocal(root: Path,
      f: org.apache.hadoop.fs.FileSystem): Seq[(String, Long)] =
    parquetUnder(root, f).map(s => (s.getPath.toString, s.getModificationTime))

  /** Parquet files under `root`, depth first, outside `_temporary`
    * staging. A `listStatus` walk, not `listFiles`: every
    * `LocatedFileStatus` reads its file's permissions, and a local
    * filesystem without Hadoop's native library forks an `ls -ld` per
    * file for that, about 4 ms per listed file on a 4-vCPU VM. */
  private def parquetUnder(root: Path,
      fs: org.apache.hadoop.fs.FileSystem): Seq[org.apache.hadoop.fs.FileStatus] = {
    val buf = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { s =>
      if (s.isDirectory) walk(s.getPath)
      else if (s.getPath.getName.endsWith(".parquet") &&
          !s.getPath.toString.contains("/_temporary/")) buf += s
    }
    walk(root)
    buf.result()
  }

  /** Recursive parquet listing with modification times, fanning the
    * walk out to executors when the tree is wide. remove_orphan_files
    * on a 100 TB table lists millions of files across thousands of
    * per-write `data/<uuid>/` subdirectories — a serial driver walk
    * (plus one getFileStatus RPC per candidate for the age guard) is
    * an hours-long stall; here each executor walks a slice of subdirs
    * and the age comes back with the listing. */
  def listParquetWithAge(spark: SparkSession, dir: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[(String, Long)] = {
    val fs = MetadataLog.fs(dir, conf)
    val p = new Path(dir)
    if (!fs.exists(p)) return Nil
    val top = fs.listStatus(p).toSeq
    val (dirs, files) = top.partition(_.isDirectory)
    val topHits = files
      .filter(s => s.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.toString, s.getModificationTime))
    val subHits =
      if (dirs.size <= 16) dirs.flatMap(d => listParquetLocal(d.getPath, fs))
      else {
        val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
        spark.sparkContext
          .parallelize(dirs.map(_.getPath.toString), math.min(64, dirs.size))
          .flatMap { d =>
            val path = new Path(d)
            listParquetLocal(path, path.getFileSystem(sconf.value))
          }.collect().toSeq
      }
    topHits ++ subHits
  }

  /** Partition-transform tuples per staged file (one small job over
    * just the staged files, reading only the source columns). */
  def partitionTuples(spark: SparkSession, paths: Seq[String],
      meta: TableMeta): Map[String, Set[Map[String, String]]] = {
    if (meta.partitionSpec.isEmpty || paths.isEmpty) return Map.empty
    val schema = meta.schema
    val cols = meta.partitionSpec.map(f =>
      Transforms.eval(f, schema, Transforms.zoneOf(meta)).as(f.name))
    spark.read.parquet(paths: _*)
      .select(input_file_name().as("__file") +: cols: _*)
      .distinct().collect()
      .groupBy(r => PosDeletes.norm(r.getString(0)))
      .map { case (file, rows) =>
        file -> rows.map(r => meta.partitionSpec.zipWithIndex.map {
          case (f, i) => f.name -> String.valueOf(r.get(i + 1))
        }.toMap).toSet
      }
  }

  /** DataFrame variant of [[listParquetWithAge]]: the listing stays on
    * the executors as (`path` raw, `norm`, `mtime`) instead of
    * collecting every on-disk file to the driver — remove_orphan_files
    * anti-joins it against the referenced set, so the driver only ever
    * materializes actual orphans. */
  def listParquetWithAgeDf(spark: SparkSession, dir: String,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val fs = MetadataLog.fs(dir, conf)
    val p = new Path(dir)
    val empty = spark.emptyDataset[(String, Long)].toDF("path", "mtime")
    val raw =
      if (!fs.exists(p)) empty
      else {
        val top = fs.listStatus(p).toSeq
        val (dirs, files) = top.partition(_.isDirectory)
        val topHits = files
          .filter(s => s.getPath.getName.endsWith(".parquet"))
          .map(s => (s.getPath.toString, s.getModificationTime))
        val topDf = spark.createDataset(topHits).toDF("path", "mtime")
        if (dirs.isEmpty) topDf
        else {
          val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
          val sub = spark.sparkContext
            .parallelize(dirs.map(_.getPath.toString),
              math.min(64, dirs.size))
            .flatMap { d =>
              val path = new Path(d)
              listParquetLocal(path, path.getFileSystem(sconf.value))
            }
          spark.createDataset(sub).toDF("path", "mtime").unionAll(topDf)
        }
      }
    raw.withColumn("norm", PosDeletes.normCol(col("path")))
  }

  /** Distributed delete of a one-column (`path`) DataFrame without
    * driver materialization; returns the number of files removed. */
  def bulkDeleteDf(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
    val n = spark.sparkContext.longAccumulator("bulkDeleteDf")
    df.select("path").foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          val path = new Path(r.getString(0))
          if (scala.util.Try(
              path.getFileSystem(sconf.value).delete(path, false))
            .getOrElse(false)) n.add(1L)
        }
    }
    n.value
  }

  /** Best-effort delete of many paths; returns the number of paths it
    * deleted. Small batches stay on the driver (no job overhead); large
    * batches ship to executors — at 100 TB file counts a maintenance
    * pass deletes millions of files, and a serial driver loop against
    * an object store is an hours-long stall. Failures are swallowed per
    * path (maintenance is re-runnable and remove_orphan_files sweeps
    * stragglers), and a path already gone is not counted. */
  def bulkDelete(spark: SparkSession, paths: Seq[String],
      conf: org.apache.hadoop.conf.Configuration,
      recursive: Boolean = false): Long =
    if (paths.size <= 128)
      paths.count(p => scala.util.Try(
        MetadataLog.fs(p, conf).delete(new Path(p), recursive)).getOrElse(false))
    else {
      val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
      val n = spark.sparkContext.longAccumulator("bulkDelete")
      spark.sparkContext
        .parallelize(paths, math.min(64, 1 + paths.size / 1024))
        .foreachPartition { it =>
          it.foreach { p =>
            val path = new Path(p)
            if (scala.util.Try(path.getFileSystem(sconf.value).delete(path, recursive))
                .getOrElse(false)) n.add(1L)
          }
        }
      n.value
    }

  /** Copy-on-write for `overwrite(filters)` / DELETE WHERE over
    * `table.meta`: fully matching files are dropped, partially matching
    * files rewritten with the negated predicate, untouched files kept.
    * Files are matched by stats AND partition values, so a point DELETE
    * on a bucketed key touches only the buckets its keys hash to. The
    * partial files are rewritten by one shuffle-free [[rewriteFiles]]
    * grouped by recorded tuple, so the layout stays one tuple per file
    * and only tuple-less inputs pay a job to derive theirs. `deletes`
    * and `eqs` are the parent's delete files: the rewritten copies get
    * fresh paths no mask matches, so the rewrite applies them. */
  def copyOnWrite(spark: SparkSession, table: LakeTable,
      parentFiles: Seq[DataFileMeta], filters: Array[Filter],
      deletes: Seq[DataFileMeta], eqs: Seq[EqDeleteMeta],
      newSeq: Long): Seq[DataFileMeta] = {
    val meta = table.meta
    val schema = meta.schema
    val parts = PartitionPruning.of(meta)
    val (touched, untouched) = parentFiles.partition(f =>
      filters.forall(FileStats.mayMatch(f, _, schema, parts)))
    val (full, partial) =
      touched.partition(fullyMatches(_, filters, schema, parts))
    val _ = full // dropped entirely
    val rewritten =
      if (partial.isEmpty) Nil
      else {
        val cond = filters.flatMap(filterToColumn).reduceOption(_ && _)
          .getOrElse(lit(true))
        rewriteFiles(spark, table, partial.groupBy(_.partitionValues).toSeq,
          deletes, eqs, newSeq,
          filter = _.filter(!coalesce(cond, lit(false))))
      }
    untouched ++ rewritten
  }

  /** Clustered output of [[rewriteFiles]] (compaction and the mask
    * fold): each group splits into `max(1, bytes / target)` slots, and
    * each slot is written as its own file. `order`, given every
    * group's files and the row's group-index column, returns the row's
    * 0-255 rank and the sort key of each file; a group's slots split
    * its rank range, so a sorted group's files keep disjoint key
    * ranges. Without an order (binpack) a group's whole files are
    * packed into its slots ([[pack]]), and a slot holding k >= 2
    * targets' bytes writes its rows as k runs of equal row count.
    * Every output file carries the `sortedBy` write-order stamp. */
  case class Layout(target: Long,
      order: Option[(Seq[Seq[DataFileMeta]], Column) => (Column, Seq[Column])] = None,
      sortedBy: Seq[String] = Nil)

  /** `files` packed by `sizeBytes` into at most `n` bins: largest file
    * first, each into the least-loaded bin. */
  private[lake] def pack(files: Seq[DataFileMeta], n: Int): Seq[Seq[DataFileMeta]] = {
    val bins = Array.fill(math.min(n, files.size))(Vector.empty[DataFileMeta])
    val least = scala.collection.mutable.PriorityQueue
      .tabulate(bins.length)(i => (0L, i))(Ordering[(Long, Int)].reverse)
    files.sortBy(f => (-f.sizeBytes, f.path)).foreach { f =>
      val (load, i) = least.dequeue()
      bins(i) :+= f
      least.enqueue((load + f.sizeBytes, i))
    }
    bins.toSeq.filter(_.nonEmpty)
  }

  /** The engine's one file rewrite (copy-on-write DML, dynamic
    * overwrite, compaction, mask fold): partition groups of data files
    * of `table.meta` are rewritten by ONE Spark job. A group is a
    * recorded tuple and its files; an empty tuple on a partitioned
    * table marks files that record none.
    *
    * The job reads every group's files in one [[MaskedRead]], the scan
    * every masked read takes, whatever their schema epochs: the
    * position masks of `deletes` and the equality deletes `eqs` apply
    * where they apply (the outputs take the new commit's sequence
    * number, past every delete, so deletes are applied, not carried).
    * Each row's group comes from its file key (a literal map: driver
    * metadata, no join), and `filter` drops the rows it rejects. The
    * write goes through the table's own writer ([[LakeFanoutWrite]],
    * so the outputs keep the table's parquet tuning), which rolls files
    * on a tag: a tupled group's tag is its index and its files record
    * its tuple; a tuple-less group's rows are tagged by a hash of their
    * own transform tuple, sorted by it within each task, and only
    * those files pay a partitionTuples job. Each file's tag comes back
    * in the task's commit message.
    *
    * Without a `layout`, and with a layout that has no order (binpack),
    * the write is shuffle-free: each task reads whole files of one
    * group and writes one file per tag it read. Copy-on-write reads one
    * file per task, as its file split is not contractual; binpack
    * reads one bin per task, the scan planning each group's files
    * packed into its slots, and splits a bin past the target into
    * runs by the row's ordinal in the task. An ordered layout (sort, zorder) takes the
    * row's slot from its rank and hash-clusters rows on (group, slot)
    * into an explicit partition count, then sorts within partitions
    * by (tag, slot, key): a bare repartition(col) is AQE-coalescible,
    * and at maintenance scale AQE folded the whole shuffle into one
    * task that wrote every group's file serially. */
  def rewriteFiles(spark: SparkSession, table: LakeTable,
      groups: Seq[(Map[String, String], Seq[DataFileMeta])],
      deletes: Seq[DataFileMeta], eqs: Seq[EqDeleteMeta], newSeq: Long,
      filter: DataFrame => DataFrame = identity,
      layout: Option[Layout] = None): Seq[DataFileMeta] = {
    if (groups.isEmpty) return Nil
    val meta = table.meta
    val conf = table.catalog.hadoopConf
    val outDir = s"${meta.location}/data/${java.util.UUID.randomUUID().toString.take(12)}"
    val (grp, tk, slot) = ("__graft_group", "__graft_tag", "__graft_slot")
    val fp = col(MaskedRead.File)
    val groupOf: Map[String, Int] = groups.zipWithIndex.flatMap {
      case ((_, fs), i) => fs.map(f => PosDeletes.norm(f.path) -> i)
    }.toMap
    // even tag: twice a tupled group's index; odd: the row's tuple hash
    val tupleLess = groups.indices.filter(i =>
      groups(i)._1.isEmpty && meta.partitionSpec.nonEmpty)
    val byIndex = col(grp).cast(LongType) * 2
    val tag =
      if (tupleLess.isEmpty) byIndex
      else when(col(grp).isin(tupleLess: _*),
        xxhash64(meta.partitionSpec.map(f => Transforms.eval(f, meta.schema,
          Transforms.zoneOf(meta))): _*).bitwiseOR(lit(1L)))
        .otherwise(byIndex)
    val nOut: Map[Int, Int] = layout.fold(Map.empty[Int, Int]) { l =>
      groups.indices.map(i => i ->
        math.max(1, (groups(i)._2.map(_.sizeBytes).sum / l.target).toInt)).toMap
    }
    val order = layout.flatMap(_.order)
    // binpack: one task per bin of a group's files
    val bins = layout.filter(_.order.isEmpty).map(_ =>
      groups.indices.flatMap(i => pack(groups(i)._2, nOut(i))))
    // a bin of k >= 2 targets' bytes (a file past the target) writes k
    // runs of its rows, by file key: the rows per run
    val runOf: Map[String, Long] = (for {
      l <- layout.toSeq; b <- bins.toSeq.flatten
      k = b.map(_.sizeBytes).sum / l.target if k > 1
      rowsPerRun = (b.map(_.rowCount).sum + k - 1) / k
      f <- b
    } yield PosDeletes.norm(f.path) -> math.max(1L, rowsPerRun)).toMap
    val rows = filter(MaskedRead(table, groups.flatMap(_._2), deletes, eqs,
        bins = bins).withColumn(grp, element_at(typedLit(groupOf), fp)))
      .withColumn(tk, tag)
    // the writer rolls on the slot too, so each file holds one sort
    // slot (even when two hash to one task) or one binpack run
    val split = if (order.isDefined) nOut.values.exists(_ > 1) else runOf.nonEmpty
    val keys = if (split) Seq(tk, slot) else Seq(tk)
    val laidOut = order match {
      // a task's rows share their group, so only a tuple-less group's
      // rows need a sort to reach one file per tag; a binpack run is
      // the row's ordinal in its task (the low 33 bits of the id) over
      // its bin's rows per run
      case None =>
        val slotted =
          if (!split) rows
          else rows.withColumn(slot, coalesce(floor(
            monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)) /
              element_at(typedLit(runOf), fp)), lit(0L)))
        if (tupleLess.isEmpty) slotted
        else slotted.sortWithinPartitions(keys.map(col): _*)
      case Some(o) =>
        val n = element_at(typedLit(nOut), col(grp))
        val (rank, key) = o(groups.map(_._2), col(grp))
        val clustered =
          if (split) rows.withColumn(slot, shiftright(rank * n, 8))
            .repartition(nOut.values.sum, col(grp), col(slot))
          else rows.repartition(nOut.size, col(grp))
        // the key columns lead the sort, so the writer, which rolls on
        // them, keeps one file open
        clustered.sortWithinPartitions(keys.map(col) ++ key: _*)
    }
    // the key columns trail the data columns: the writer rolls on
    // them and stores the rest
    val out = laidOut.drop(grp, MaskedRead.File, MaskedRead.Pos)
    val width = out.schema.size - keys.size
    require(out.columns.drop(width).toSeq == keys, out.columns.mkString(", "))
    val written = LakeFanoutWrite.run(out, LakeFanoutWrite.keyed(spark, meta,
        StructType(out.schema.take(width)), out.schema.drop(width), outDir),
        tasks = if (order.isDefined) None
          else Some(bins.fold(groups.map(_._2.size).sum)(_.size)))
      .flatMap(m => m.files.zip(m.tuples.map(_(tk).toLong)))
      .sortBy { case (p, t) => (t & 1L, t, p) }
    val tagOf = written.toMap
    val derived = partitionTuples(spark,
      written.collect { case (p, t) if (t & 1L) == 1L => p }, meta)
    // one footer harvest over every file (it fans out itself)
    FileStats.fromFooters(written.map(_._1), conf, meta.schema,
      meta.currentSchemaEpoch, p => {
        val t = tagOf(p)
        if ((t & 1L) == 0L) groups((t / 2).toInt)._1
        else derived.getOrElse(PosDeletes.norm(p), Set.empty).toSeq match {
          case Seq(one) => one
          case _ => Map.empty
        }
      }).map(_.copy(seq = newSeq, sortedBy = layout.fold(Seq.empty[String])(_.sortedBy)))
  }

  /** Dynamic partition overwrite: drop/rewrite parent files that
    * overlap the staged partition tuples. */
  private def dynamicKeep(spark: SparkSession, table: LakeTable,
      parentFiles: Seq[DataFileMeta], stagedTuples: Set[Map[String, String]],
      deletes: Seq[DataFileMeta], eqs: Seq[EqDeleteMeta],
      newSeq: Long): Seq[DataFileMeta] = {
    if (stagedTuples.isEmpty) return parentFiles
    val meta = table.meta
    val known = parentFiles.filter(_.partitionValues.nonEmpty)
    val unknown = parentFiles.filter(_.partitionValues.isEmpty)
    val keptKnown = known.filterNot(f => stagedTuples.contains(f.partitionValues))
    // files without a recorded single partition tuple: resolve by job
    val resolved =
      if (unknown.isEmpty) Map.empty[String, Set[Map[String, String]]]
      else partitionTuples(spark, unknown.map(_.path), meta)
    val keptUnknown = unknown.filter { f =>
      resolved.getOrElse(PosDeletes.norm(f.path), Set.empty)
        .forall(t => !stagedTuples.contains(t))
    }
    val partials = unknown.filter { f =>
      val tuples = resolved.getOrElse(PosDeletes.norm(f.path), Set.empty)
      tuples.exists(stagedTuples.contains) && !tuples.forall(stagedTuples.contains)
    }
    val rewritten =
      if (partials.isEmpty) Nil
      else {
        val schema = meta.schema
        val sep = "\u0001"
        val key = concat_ws(sep,
          meta.partitionSpec.map(f =>
            Transforms.eval(f, schema, Transforms.zoneOf(meta))): _*)
        val stagedKeys = stagedTuples.map(t =>
          meta.partitionSpec.map(f => t(f.name)).mkString(sep)).toSeq
        rewriteFiles(spark, table, Seq(Map.empty[String, String] -> partials),
          deletes, eqs, newSeq, filter = _.filter(!key.isin(stagedKeys: _*)))
      }
    keptKnown ++ keptUnknown ++ rewritten
  }

  /** Commit a delta (merge-on-read) row-level operation: staged data
    * files append, staged position-delete files extend the mask set;
    * nothing else in the snapshot changes. */
  def commitDelta(table: LakeTable, stagingDir: String, deleteDir: String,
      operation: String, scannedFiles: Option[Seq[String]] = None,
      scanFilters: Array[Filter] = Array.empty,
      stagedTuples: Option[Map[String, Map[String, String]]] = None): Unit = {
    val spark = SparkSession.active
    val conf = table.catalog.hadoopConf

    val dataPaths = listParquet(stagingDir, conf)
    // delete-file stats are schema-independent (fixed DeleteSchema) —
    // harvest once, outside the retry loop
    val dels = listParquet(deleteDir, conf)
      .map(p => FileStats.fromFooter(p, conf, PosDeletes.DeleteSchema, 0, Map.empty))
      .filter(_.rowCount > 0)
    if (dataPaths.isEmpty && dels.isEmpty) return // no rows affected

    // The routing + serializable validation + snapshot build all run
    // inside the retry loop: a lost CAS re-validates the scan set
    // against the NEW head and only a detected conflict aborts.
    table.catalog.commitRetrying(table.ident) { fresh =>
    val epoch = fresh.currentSchemaEpoch
    val schema = fresh.schema
    // message-carried tuples skip the partitionTuples job (see
    // commitStaged); fall back when they don't cover the listing
    val tuples = stagedTuples match {
      // same spec-drift guard as commitStaged
      case Some(mt) if dataPaths.forall(p => mt.contains(PosDeletes.norm(p))) &&
          mt.values.forall(_.keySet ==
            fresh.partitionSpec.map(_.name).toSet) =>
        dataPaths.map { p =>
          val np = PosDeletes.norm(p); np -> Set(mt(np))
        }.toMap
      case _ => partitionTuples(spark, dataPaths, fresh)
    }
    val staged = FileStats.fromFooters(dataPaths, conf, schema, epoch,
      p => {
        val t = tuples.getOrElse(PosDeletes.norm(p), Set.empty)
        if (t.size == 1) t.head else Map.empty
      })

    // WAP / branch routing, mirroring commitStaged
    val sconf = spark.conf
    val wapEnabled = fresh.properties.get("write.wap.enabled").contains("true")
    val wapId = sconf.getOption("spark.wap.id").filter(_ => wapEnabled)
    val wapBranch = sconf.getOption("spark.wap.branch")
    val targetRef = wapBranch.getOrElse(table.ref)
    val metaWithRef =
      if (!fresh.refs.contains(targetRef) && fresh.refs.contains("main"))
        fresh.copy(refs = fresh.refs +
          (targetRef -> RefMeta("branch", fresh.refs("main").snapshotId)))
      else fresh
    val parent = metaWithRef.currentSnapshot(targetRef)

    // Serializable-isolation, part 1 — write-skew on the READ set: the
    // operation scanned the table at the snapshot pinned in
    // `table.meta` (stale by design); if a concurrent commit has since
    // added NEW delete files masking rows in — or removed — files this
    // operation read, our join matched rows that no longer exist and
    // would re-insert them. The mask-liveness check below cannot see
    // this (those files are still live; only their mask set grew), so
    // compare the scan snapshot's file/mask sets against the commit
    // parent's and fail on any overlap with the files actually scanned
    // (Iceberg's validateNoNewDeleteFiles / validateDataFilesExist).
    // Only same-ref commits validate: a spark.wap.branch redirect scans
    // one ref and commits to another, so "what changed since the scan"
    // has no single lineage to compare against (and a divergent branch
    // would fail every retry — the scan re-reads the ORIGINAL ref).
    val scanId = table.readSnapshotId
    val head = parent.map(_.snapshotId)
    if (head != scanId && parent.nonEmpty && targetRef == table.ref) {
      val scanSnap = scanId.flatMap(metaWithRef.snapshotById)
      if (scanId.nonEmpty && scanSnap.isEmpty)
        throw new java.util.ConcurrentModificationException(
          s"${table.name()}: snapshot ${scanId.get} read by this " +
            s"$operation is no longer in the table metadata " +
            "(expired or rolled back); retry the operation")
      val scanned = scannedFiles.map(_.map(PosDeletes.norm).toSet)
        .getOrElse(scanSnap.map(_.files.map(f => PosDeletes.norm(f.path)).toSet)
          .getOrElse(Set.empty))
      val p = parent.get
      val scanDelPaths =
        scanSnap.map(_.deleteFiles.map(_.path).toSet).getOrElse(Set.empty)
      val newDels = p.deleteFiles.filterNot(d => scanDelPaths.contains(d.path))
      val newlyMasked =
        if (newDels.isEmpty) Set.empty[String]
        else PosDeletes.deletedMap(newDels, conf).keySet.intersect(scanned)
      // Equality deletes committed since the scan (a concurrent upsert)
      // are write skew exactly like new position masks: rows this
      // operation matched may no longer exist. Metadata-only check —
      // a new delete conflicts iff it may apply to a scanned file.
      val scanEqPaths =
        scanSnap.map(_.eqDeleteFiles.map(_.path).toSet).getOrElse(Set.empty)
      val scannedMetas = scanSnap.map(_.files.filter(f =>
        scanned(PosDeletes.norm(f.path)))).getOrElse(Nil)
      val newlyEqMasked = p.eqDeleteFiles
        .filterNot(e => scanEqPaths.contains(e.path))
        .flatMap(e => scannedMetas.find(EqDeletes.mayApply(metaWithRef, _, e))
          .map(f => PosDeletes.norm(f.path)))
        .toSet
      val scanFilePaths =
        scanSnap.map(_.files.map(f => PosDeletes.norm(f.path)).toSet)
          .getOrElse(Set.empty)
      val headFilePaths = p.files.map(f => PosDeletes.norm(f.path)).toSet
      val removedRead = scanFilePaths.diff(headFilePaths).intersect(scanned)
      // Phantoms: a concurrent append between scan and commit adds rows
      // this operation never saw — a MERGE would duplicate its NOT
      // MATCHED inserts, an UPDATE/DELETE would silently miss matching
      // rows. Candidates come from walking the snapshot lineage head →
      // scan snapshot and collecting only files INTRODUCED by
      // row-adding commits (Iceberg's validateAddedDataFiles):
      // "replace" (compaction/manifest rewrite) and "delete" snapshots
      // are row-non-increasing — their outputs carry only rows that
      // already existed at their parent, so counting them would abort
      // unrelated operations under steady background compaction (a
      // retry livelock). Candidates are then pruned with the scan's
      // pushed condition using the same stats pruning the scan used: a
      // file the scan would have skipped cannot conflict. An unpushable
      // condition (typical MERGE ON) prunes nothing, so any concurrent
      // append conflicts — that IS serializable semantics. A broken
      // lineage (rollback / set_current_snapshot crossed the chain)
      // falls back to every head file absent from the scan snapshot —
      // conservative, never under-reports.
      // isRowPreservingReplace, not the bare op name (matching the
      // Changelog/ChangesScan/streaming call sites): a legacy RTAS
      // snapshot from an older-build writer is labeled "replace" but
      // stamped added-records — it DID add rows, and skipping it here
      // would let a MERGE duplicate its NOT MATCHED inserts.
      def rowPreserving(s: SnapshotMeta): Boolean =
        s.isRowPreservingReplace || s.operation == "delete"
      lazy val phantomCandidates: Seq[DataFileMeta] = {
        val added = Seq.newBuilder[DataFileMeta]
        var cur: Option[SnapshotMeta] = Some(p)
        var broken = false
        while (cur.nonEmpty && !scanId.contains(cur.get.snapshotId) && !broken) {
          val s = cur.get
          val parentSnap = s.parentId.flatMap(metaWithRef.snapshotById)
          if (!rowPreserving(s)) {
            val pp = parentSnap.map(_.files.map(f => PosDeletes.norm(f.path)).toSet)
              .getOrElse(Set.empty)
            added ++= s.files.filterNot(f => pp(PosDeletes.norm(f.path)))
          }
          // a parent pointer that resolves nowhere, or a chain that
          // bottoms out before reaching the scan snapshot
          if (parentSnap.isEmpty && (s.parentId.nonEmpty || scanId.nonEmpty))
            broken = true
          cur = parentSnap
        }
        if (broken) p.files
        else added.result()
      }
      // Isolation level (Iceberg's write.<op>.isolation-level):
      // `serializable` (default) also fails on concurrently ADDED rows
      // matching the condition (phantoms); `snapshot` validates only
      // the rows actually read (masks/removals above) — the relief
      // valve for workloads where steady concurrent appends would
      // otherwise livelock row-level operations.
      val isolation = metaWithRef.properties
        .getOrElse(s"write.$operation.isolation-level", "serializable")
      require(isolation == "serializable" || isolation == "snapshot",
        s"invalid write.$operation.isolation-level '$isolation': " +
          "expected 'serializable' or 'snapshot'")
      val phantom =
        if (isolation == "snapshot") Nil
        else FileStats.prune(
          phantomCandidates.filterNot(f => scanFilePaths(PosDeletes.norm(f.path))),
          scanFilters.toSeq, schema,
          // phantom files may carry a NEWER epoch than this op's scan
          // schema; probing un-mapped names could miss a real phantom
          LakeScans.statRenames(schema, metaWithRef),
          PartitionPruning.of(metaWithRef))
          .map(f => PosDeletes.norm(f.path))
      val conflicts = newlyMasked ++ newlyEqMasked ++ removedRead ++ phantom
      if (conflicts.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"${table.name()}: files read by this $operation were " +
            "concurrently deleted or rewritten, or rows matching its " +
            s"condition were concurrently added " +
            s"(${conflicts.take(3).mkString(", ")}" +
            s"${if (conflicts.size > 3) ", …" else ""}); retry the operation")
    }

    // Serializable-isolation, part 2 — every file our masks reference
    // must still be live. A concurrent compaction/overwrite between the
    // operation's scan and this commit would make the masks inert
    // (their target paths replaced) and silently resurrect the rows —
    // fail instead, like the stale-base CAS does for metadata races.
    if (dels.nonEmpty) {
      val live = parent.map(_.files.map(f => PosDeletes.norm(f.path)).toSet)
        .getOrElse(Set.empty)
      val masked = PosDeletes.deletedMap(dels, conf).keySet
      val gone = masked.filterNot(live)
      if (gone.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"${table.name()}: files scanned by this $operation were " +
            s"concurrently rewritten (${gone.take(3).mkString(", ")}" +
            s"${if (gone.size > 3) ", …" else ""}); retry the operation")
    }

    val nextId = metaWithRef.lastSnapshotId + 1
    val allFiles = parent.map(_.files).getOrElse(Nil) ++
      staged.map(_.copy(seq = nextId))
    val snap = SnapshotMeta(nextId,
      parent.map(_.snapshotId), System.currentTimeMillis(), operation,
      Map(
        "spark.app.id" -> spark.sparkContext.applicationId,
        "added-data-files" -> staged.size.toString,
        "added-records" -> staged.map(_.rowCount).sum.toString,
        "added-delete-files" -> dels.size.toString,
        "added-position-deletes" -> dels.map(_.rowCount).sum.toString
      ) ++ wapId.map("wap.id" -> _),
      allFiles, epoch,
      deleteFiles = parent.map(_.deleteFiles).getOrElse(Nil) ++ dels,
      eqDeleteFiles = EqDeletes.retire(
        parent.map(_.eqDeleteFiles).getOrElse(Nil), allFiles))
    val advance = if (wapId.isDefined) None else Some(targetRef)
    metaWithRef.withSnapshot(snap, advance)
    }
    ()
  }

  /** SupportsDeleteV2 fast path — file-granular copy-on-write. The
    * whole derivation retries on a lost CAS: the rewrite re-runs
    * against the reloaded head's file set, so a concurrent clean
    * commit doesn't fail this delete (and nothing it added is lost —
    * the kept set is re-derived from the new parent). */
  def deleteWhere(table: LakeTable, filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val conf = table.catalog.hadoopConf
    table.catalog.commitRetrying(table.ident) { fresh =>
      val parent = fresh.currentSnapshot(table.ref)
      val parentFiles = parent.map(_.files).getOrElse(Nil)
      if (fresh.properties.get("write.delete.mode").contains("merge-on-read"))
        morDelete(spark, table.withMeta(fresh), parent, parentFiles, filters,
          conf)
      else {
        val nextId = fresh.lastSnapshotId + 1
        val kept = copyOnWrite(spark, table.withMeta(fresh), parentFiles,
          filters, parent.map(_.deleteFiles).getOrElse(Nil),
          parent.map(_.eqDeleteFiles).getOrElse(Nil), newSeq = nextId)
        val snap = SnapshotMeta(nextId, parent.map(_.snapshotId),
          System.currentTimeMillis(), "delete",
          Map("deleted-files" -> (parentFiles.size - kept.size).toString),
          kept, fresh.currentSchemaEpoch,
          deleteFiles = parent.map(_.deleteFiles).getOrElse(Nil),
          eqDeleteFiles = EqDeletes.retire(
            parent.map(_.eqDeleteFiles).getOrElse(Nil), kept))
        fresh.withSnapshot(snap, Some(table.ref))
      }
    }
    ()
  }

  /** Merge-on-read DELETE: instead of rewriting the partially-matching
    * files, record the matching row POSITIONS in a position-delete
    * parquet (one distributed job over a [[MaskedRead]] of those
    * files). Whole-file matches are still dropped outright — no mask
    * needed. Data files are left byte-identical; reads subtract the
    * positions (see PosDeleteScan), and rewrite_position_delete_files
    * folds masks back into data. */
  private def morDelete(spark: SparkSession, table: LakeTable,
      parent: Option[SnapshotMeta],
      parentFiles: Seq[DataFileMeta], filters: Array[Filter],
      conf: org.apache.hadoop.conf.Configuration): TableMeta = {
    val fresh = table.meta
    val schema = fresh.schema
    val parts = PartitionPruning.of(fresh)
    val (touched, untouched) = parentFiles.partition(f =>
      filters.forall(FileStats.mayMatch(f, _, schema, parts)))
    val (full, partial) =
      touched.partition(fullyMatches(_, filters, schema, parts))
    val newDeletes: Seq[DataFileMeta] =
      if (partial.isEmpty) Nil
      else {
        val cond = filters.flatMap(filterToColumn).reduceOption(_ && _)
          .getOrElse(lit(true))
        val outDir = s"${fresh.location}/metadata/deletes/" +
          java.util.UUID.randomUUID().toString.take(12)
        // the read skips rows the parent's masks or equality deletes
        // already removed: re-recording one would emit a phantom
        // changelog 'delete' and over-count added-position-deletes
        MaskedRead(table, partial, parent.map(_.deleteFiles).getOrElse(Nil),
            parent.map(_.eqDeleteFiles).getOrElse(Nil))
          .where(cond)
          .select(col(MaskedRead.File).as("file_path"),
            col(MaskedRead.Pos).as("pos"))
          .repartitionByRange(math.max(1, partial.size / 64),
            col("file_path"), col("pos"))
          .sortWithinPartitions(col("file_path"), col("pos"))
          .write.options(LocalFs.options).mode("append").parquet(outDir)
        listParquet(outDir, conf)
          .map(p => FileStats.fromFooter(p, conf, PosDeletes.DeleteSchema, 0, Map.empty))
          .filter(_.rowCount > 0)
      }
    val snap = SnapshotMeta(fresh.lastSnapshotId + 1, parent.map(_.snapshotId),
      System.currentTimeMillis(), "delete",
      Map("deleted-files" -> full.size.toString,
        "added-delete-files" -> newDeletes.size.toString,
        "added-position-deletes" -> newDeletes.map(_.rowCount).sum.toString),
      untouched ++ partial, fresh.currentSchemaEpoch,
      deleteFiles = parent.map(_.deleteFiles).getOrElse(Nil) ++ newDeletes,
      eqDeleteFiles = parent.map(_.eqDeleteFiles).getOrElse(Nil))
    fresh.withSnapshot(snap, Some(table.ref))
  }

  /** True when a struct ANYWHERE inside the type pair differs — the
    * signal that a positional Cast would silently misalign struct
    * internals and the projection must recurse through the container
    * instead. */
  private[lake] def structDiffers(cur: org.apache.spark.sql.types.DataType,
      ep: org.apache.spark.sql.types.DataType): Boolean = (cur, ep) match {
    case (cs: StructType, es: StructType) => cs != es
    case (ArrayType(ce, _), ArrayType(ee, _)) => structDiffers(ce, ee)
    case (MapType(ck, cv, _), MapType(ek, ev, _)) =>
      structDiffers(ck, ek) || structDiffers(cv, ev)
    case _ => false
  }

  private[lake] def stripIdsPublic(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = stripIds(dt)

  /** Field-id metadata stripped at every level — lit(null).cast to a
    * metadata-carrying struct and struct(...) outputs must agree on
    * type for the when/otherwise union. */
  private def stripIds(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name, stripIds(f.dataType),
        f.nullable)))
    case ArrayType(e, n) => ArrayType(stripIds(e), n)
    case org.apache.spark.sql.types.MapType(k, v, n) =>
      org.apache.spark.sql.types.MapType(stripIds(k), stripIds(v), n)
    case other => other
  }

  /** Does every row of `file` definitely match all `filters`?
    * (Requires provable negation + no nulls in referenced columns.) */
  def fullyMatches(file: DataFileMeta, filters: Array[Filter],
      schema: StructType,
      parts: PartitionPruning = PartitionPruning.none): Boolean =
    file.rowCount > 0 && filters.forall { f =>
      f.references.forall(a => file.nullCounts.get(a).contains(0L)) &&
        negate(f).exists(nf => !FileStats.mayMatch(file, nf, schema, parts))
    }

  def negate(f: Filter): Option[Filter] = f match {
    case sources.EqualTo(a, v) =>
      Some(sources.Or(sources.LessThan(a, v), sources.GreaterThan(a, v)))
    case sources.GreaterThan(a, v) => Some(sources.LessThanOrEqual(a, v))
    case sources.GreaterThanOrEqual(a, v) => Some(sources.LessThan(a, v))
    case sources.LessThan(a, v) => Some(sources.GreaterThanOrEqual(a, v))
    case sources.LessThanOrEqual(a, v) => Some(sources.GreaterThan(a, v))
    case sources.IsNull(a) => Some(sources.IsNotNull(a))
    case sources.IsNotNull(a) => Some(sources.IsNull(a))
    case sources.Not(c) => Some(c)
    case sources.And(l, r) =>
      for (nl <- negate(l); nr <- negate(r)) yield sources.Or(nl, nr)
    case sources.Or(l, r) =>
      for (nl <- negate(l); nr <- negate(r)) yield sources.And(nl, nr)
    case _ => None
  }

  /** v1 Filter -> Column (for copy-on-write rewrite jobs). */
  def filterToColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.And(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
    case sources.Not(c) => filterToColumn(c).map(!_)
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}
