package graft.lake

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.Collections

/** `CALL <catalog>.system.<proc>(...)` — the SURVEY.md §2.E
  * maintenance inventory, via Spark 4's native ProcedureCatalog
  * (no parser work needed). Reference: docs/spark-procedures.md;
  * suite usage iceberg_it.py:2231-2344, 1686-1933.
  */
object Procedures {

  /** Equi-height histogram bin count for compute_table_stats. */
  private val HistBins = 32

  def load(catalog: LakeCatalog, name: String): Option[UnboundProcedure] =
    registry.get(name).map(_(catalog))

  def names: Seq[String] = registry.keys.toSeq.sorted

  // ------------------------------------------------------------------
  // plumbing
  // ------------------------------------------------------------------

  private def in(n: String, dt: DataType) = ProcedureParameter.in(n, dt).build()
  private def opt(n: String, dt: DataType, dv: String = "NULL") =
    ProcedureParameter.in(n, dt).defaultValue(dv).build()

  final class Args(row: InternalRow, params: Seq[ProcedureParameter]) {
    private def idx(n: String): Int = params.indexWhere(_.name() == n)
    def isNull(n: String): Boolean = { val i = idx(n); i < 0 || row.isNullAt(i) }
    def str(n: String): String = row.getUTF8String(idx(n)).toString
    def strOpt(n: String): Option[String] = if (isNull(n)) None else Some(str(n))
    def lng(n: String): Long = row.getLong(idx(n))
    def lngOpt(n: String): Option[Long] = if (isNull(n)) None else Some(lng(n))
    def intOpt(n: String): Option[Int] =
      if (isNull(n)) None else Some(row.getInt(idx(n)))
    def boolOpt(n: String): Option[Boolean] =
      if (isNull(n)) None else Some(row.getBoolean(idx(n)))
    def longArr(n: String): Seq[Long] =
      if (isNull(n)) Nil else row.getArray(idx(n)).toLongArray().toSeq
    def strArr(n: String): Seq[String] =
      if (isNull(n)) Nil
      else {
        val a = row.getArray(idx(n))
        (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
      }
    def strMap(n: String): Map[String, String] =
      if (isNull(n)) Map.empty
      else {
        val m = row.getMap(idx(n))
        (0 until m.numElements()).map(i =>
          m.keyArray().getUTF8String(i).toString ->
            m.valueArray().getUTF8String(i).toString).toMap
      }
  }

  private abstract class Proc(val catalog: LakeCatalog, procName: String)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = s"lake procedure $procName"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    def params: Seq[ProcedureParameter]
    final override def parameters(): Array[ProcedureParameter] = params.toArray
    def resultSchema: StructType
    def run(spark: SparkSession, a: Args): Seq[Row]
    final override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val resultRows = run(SparkSession.active, new Args(input, params))
      val schema = resultSchema
      val conv = CatalystTypeConverters.createToCatalystConverter(schema)
      val converted = resultRows.map(r => conv(r).asInstanceOf[InternalRow]).toArray
      val scan: Scan = new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = converted
        override def description(): String = s"procedure $procName"
      }
      Collections.singletonList(scan).iterator()
    }

    protected def meta(a: Args, param: String = "table"): (TableMeta, org.apache.spark.sql.connector.catalog.Identifier) = {
      val ident = catalog.parseIdent(a.str(param))
      (catalog.loadMeta(ident), ident)
    }

    /** [[meta]] for procedures that MUTATE the named table — routes
      * through the catalog's read-only veto
      * ([[LakeCatalog.loadMetaWritable]]): CALL plans never take a
      * write/DDL shape, so the plan-time check rule cannot protect a
      * `hive-ext.readOnly` table from rollback/expire/rewrite/ref
      * mutations. */
    protected def metaW(a: Args, param: String = "table"): (TableMeta, org.apache.spark.sql.connector.catalog.Identifier) = {
      val ident = catalog.parseIdent(a.str(param))
      (catalog.loadMetaWritable(ident), ident)
    }
  }

  private def result(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, dt) => StructField(n, dt) })

  private def setRef(catalog: LakeCatalog, m: TableMeta, ref: String,
      snapshotId: Long, refType: String = "branch"): TableMeta =
    catalog.commitMeta(m.copy(refs = m.refs + (ref -> RefMeta(refType, snapshotId))))

  /** Re-apply `snap`'s file diff (vs its parent) onto the head of
    * `ref` — used by cherrypick and WAP publish. */
  private def cherrypick(catalog: LakeCatalog, m: TableMeta,
      snap: SnapshotMeta, ref: String): TableMeta = {
    val head = m.currentSnapshot(ref)
    val parentSnap = snap.parentId.flatMap(m.snapshotById)
    val parentFiles = parentSnap
      .map(_.files.map(_.path).toSet).getOrElse(Set.empty)
    val added = snap.files.filterNot(f => parentFiles(f.path))
    val removed = parentFiles -- snap.files.map(_.path).toSet
    val headFiles = head.map(_.files).getOrElse(Nil)
    val newFiles = headFiles.filterNot(f => removed(f.path)) ++ added
    // the staged commit's NEW masks (position and equality) must travel
    // with its file diff, or publishing a WAP MoR delete/upsert would
    // silently resurrect the rows it deleted
    val parentDels = parentSnap.map(_.deleteFiles.map(_.path).toSet)
      .getOrElse(Set.empty)
    val newDels = snap.deleteFiles.filterNot(d => parentDels(d.path))
    val parentEqs = parentSnap.map(_.eqDeleteFiles.map(_.path).toSet)
      .getOrElse(Set.empty)
    val newEqs = snap.eqDeleteFiles.filterNot(e => parentEqs(e.path))
    val next = SnapshotMeta(m.lastSnapshotId + 1, head.map(_.snapshotId),
      System.currentTimeMillis(), snap.operation,
      snap.summary ++ snap.summary.get("wap.id").map("published-wap-id" -> _),
      newFiles, m.currentSchemaEpoch,
      deleteFiles = head.map(_.deleteFiles).getOrElse(Nil) ++ newDels,
      eqDeleteFiles = EqDeletes.retire(
        head.map(_.eqDeleteFiles).getOrElse(Nil) ++ newEqs, newFiles))
    catalog.commitMeta(m.withSnapshot(next, Some(ref)))
  }

  // ------------------------------------------------------------------
  // registry
  // ------------------------------------------------------------------

  private val registry: Map[String, LakeCatalog => UnboundProcedure] = Map(
    "rollback_to_snapshot" -> (c => new Proc(c, "rollback_to_snapshot") {
      val params = Seq(in("table", StringType), in("snapshot_id", LongType))
      val resultSchema = result("previous_snapshot_id" -> LongType,
        "current_snapshot_id" -> LongType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = metaW(a)
        val prev = m.currentSnapshotId("main").getOrElse(-1L)
        val target = a.lng("snapshot_id")
        require(m.snapshotById(target).isDefined, s"no snapshot $target")
        setRef(catalog, m, "main", target)
        Seq(Row(prev, target))
      }
    }),

    "rollback_to_timestamp" -> (c => new Proc(c, "rollback_to_timestamp") {
      val params = Seq(in("table", StringType), in("timestamp", TimestampType))
      val resultSchema = result("previous_snapshot_id" -> LongType,
        "current_snapshot_id" -> LongType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = metaW(a)
        val prev = m.currentSnapshotId("main").getOrElse(-1L)
        val tsMs = a.lng("timestamp") / 1000L
        val snap = m.snapshotAsOfTime(tsMs).getOrElse(
          throw new IllegalArgumentException(s"no snapshot at or before $tsMs"))
        setRef(catalog, m, "main", snap.snapshotId)
        Seq(Row(prev, snap.snapshotId))
      }
    }),

    "set_current_snapshot" -> (c => new Proc(c, "set_current_snapshot") {
      val params = Seq(in("table", StringType),
        opt("snapshot_id", LongType), opt("ref", StringType))
      val resultSchema = result("previous_snapshot_id" -> LongType,
        "current_snapshot_id" -> LongType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = metaW(a)
        val prev = m.currentSnapshotId("main").getOrElse(-1L)
        val target = a.lngOpt("snapshot_id")
          .orElse(a.strOpt("ref").map(r => m.refs(r).snapshotId))
          .getOrElse(throw new IllegalArgumentException(
            "either snapshot_id or ref is required"))
        require(m.snapshotById(target).isDefined, s"no snapshot $target")
        setRef(catalog, m, "main", target)
        Seq(Row(prev, target))
      }
    }),

    "cherrypick_snapshot" -> (c => new Proc(c, "cherrypick_snapshot") {
      val params = Seq(in("table", StringType), in("snapshot_id", LongType))
      val resultSchema = result("source_snapshot_id" -> LongType,
        "current_snapshot_id" -> LongType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = metaW(a)
        val snap = m.snapshotById(a.lng("snapshot_id")).getOrElse(
          throw new IllegalArgumentException(s"no snapshot ${a.lng("snapshot_id")}"))
        val next = cherrypick(catalog, m, snap, "main")
        Seq(Row(snap.snapshotId, next.currentSnapshotId("main").get))
      }
    }),

    "publish_changes" -> (c => new Proc(c, "publish_changes") {
      val params = Seq(in("table", StringType), in("wap_id", StringType))
      val resultSchema = result("source_snapshot_id" -> LongType,
        "current_snapshot_id" -> LongType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = metaW(a)
        val wap = a.str("wap_id")
        val snap = m.snapshots.find(_.summary.get("wap.id").contains(wap))
          .getOrElse(throw new IllegalArgumentException(s"no wap id $wap"))
        val next = cherrypick(catalog, m, snap, "main")
        Seq(Row(snap.snapshotId, next.currentSnapshotId("main").get))
      }
    }),

    "fast_forward" -> (c => new Proc(c, "fast_forward") {
      val params = Seq(in("table", StringType), in("branch", StringType),
        in("to", StringType))
      val resultSchema = result("branch_updated" -> StringType,
        "previous_ref" -> LongType, "current_ref" -> LongType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = metaW(a)
        val branch = a.str("branch")
        val to = a.str("to")
        val target = m.refs(to).snapshotId
        val prev = m.refs.get(branch).map(_.snapshotId).getOrElse(-1L)
        // Fast-forward is only defined when the branch head is an
        // ancestor of (or equal to) the target head — anything else
        // is a divergent or backward move that would silently discard
        // the branch's own commits (Iceberg's FastForwardBranch makes
        // the same refusal). A branch with no ref yet has nothing to
        // lose and simply attaches.
        if (prev >= 0 && !m.ancestorsOf(target).exists(_.snapshotId == prev))
          throw new IllegalArgumentException(
            s"Cannot fast-forward: $branch ($prev) is not an ancestor of " +
              s"$to ($target)")
        setRef(catalog, m, branch, target)
        Seq(Row(branch, prev, target))
      }
    }),

    "ancestors_of" -> (c => new Proc(c, "ancestors_of") {
      val params = Seq(in("table", StringType), opt("snapshot_id", LongType))
      val resultSchema = result("snapshot_id" -> LongType,
        "timestamp" -> TimestampType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = meta(a)
        val from = a.lngOpt("snapshot_id")
          .orElse(m.currentSnapshotId("main")).toSeq
        from.flatMap(m.ancestorsOf).map(s =>
          Row(s.snapshotId, new java.sql.Timestamp(s.timestampMs)))
      }
    }),

    "expire_snapshots" -> (c => new Proc(c, "expire_snapshots") {
      val params = Seq(in("table", StringType),
        opt("older_than", TimestampType), opt("retain_last", IntegerType),
        opt("snapshot_ids", ArrayType(LongType)),
        opt("ignore_replay_guard", BooleanType))
      val resultSchema = result("deleted_data_files_count" -> LongType,
        "deleted_manifest_files_count" -> LongType,
        "deleted_snapshots_count" -> LongType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = metaW(a)
        val explicit = a.longArr("snapshot_ids").toSet
        // default max snapshot age mirrors the reference's 5 days —
        // a bare CALL must not wipe all history (ADVICE round 1)
        val defaultMaxAgeMs = 5L * 24 * 3600 * 1000
        val olderThanMs = a.lngOpt("older_than").map(_ / 1000L)
          .getOrElse(System.currentTimeMillis() - defaultMaxAgeMs)
        val retain = a.intOpt("retain_last").getOrElse(1)
        val now = System.currentTimeMillis()
        // Ref retention (docs/spark-ddl.md:478-505): a ref created with
        // RETAIN d DAYS ages out of existence once its head snapshot is
        // older than that — expiry drops the ref itself, and the
        // snapshots it alone protected become expirable below. `main`
        // never ages out.
        val liveRefs = m.refs.filter { case (n, r) =>
          n == "main" || !r.maxRefAgeMs.exists(age =>
            m.snapshotById(r.snapshotId).exists(_.timestampMs < now - age))
        }
        // protected: every live ref head and its retained ancestry —
        // per-branch WITH SNAPSHOT RETENTION (n SNAPSHOTS / m DAYS)
        // widens the default retain_last window for that branch
        val protectedIds = liveRefs.values.flatMap { r =>
          val floor = math.max(retain, math.max(r.minSnapshotsToKeep
            .getOrElse(1), 1))
          m.ancestorsOf(r.snapshotId).zipWithIndex.collect {
            case (s, i) if i < floor ||
                r.maxSnapshotAgeMs.exists(age => s.timestampMs >= now - age) =>
              s.snapshotId
          }
        }.toSet
        val expired = m.snapshots.filter { s =>
          !protectedIds(s.snapshotId) &&
            (explicit(s.snapshotId) ||
              (explicit.isEmpty && s.timestampMs < olderThanMs))
        }
        val expIds = expired.map(_.snapshotId).toSet
        // Replay guard (ReplayGuard.scala): the NEWEST epoch-tagged
        // main-history snapshot of each ingest scope is the one whose
        // tag a crash replay may still need — expiring it would make
        // the replay re-append its epoch silently. Refuse unless the
        // caller overrides; an override records the forgotten epoch
        // as a replay watermark atomically with this expire's commit,
        // so the guarded ingest paths fail loudly on that replay.
        val mainAnc = m.currentSnapshotId("main")
          .map(m.ancestorsOf).getOrElse(Nil)
        // The danger is REACHABILITY, not just membership in expIds:
        // expiring a mid-ancestry snapshot severs the parent chain at
        // the earliest survivor (`patched` below sets its parentId to
        // None), so a tagged snapshot BELOW the cut survives yet
        // vanishes from every future main-ancestry walk — the replay
        // guard reads exactly those walks. Post-expiry reachability
        // from head is the prefix of the current ancestry up to the
        // first expired snapshot (head itself is always protected).
        val reachableAfter = mainAnc
          .takeWhile(s => !expIds(s.snapshotId))
          .map(_.snapshotId).toSet
        val guarded = ReplayGuard.newestTagged(mainAnc)
          .filter { case (_, (_, sid)) => !reachableAfter(sid) }
        if (guarded.nonEmpty &&
            !a.boolOpt("ignore_replay_guard").getOrElse(false))
          throw new IllegalStateException(
            "expire_snapshots would expire or sever from main history " +
              "the NEWEST epoch-tagged snapshot of ingest " +
              guarded.toSeq.sortBy(_._1).map { case (sc, (ep, sid)) =>
                s"scope '$sc' (epoch $ep, snapshot $sid)" }
                .mkString("; ") +
              ": a crash replay of that epoch could no longer prove it " +
              "already committed and would re-append it. Raise snapshot " +
              "retention past the stream's trigger interval, or pass " +
              "ignore_replay_guard => true — the override records a " +
              "replay watermark so a later replay of the forgotten " +
              "epoch fails loudly instead of silently duplicating.")
        val guardProps = guarded.map { case (scope, (ep, _)) =>
          val k = ReplayGuard.watermarkKey(scope)
          k -> math.max(ep, ReplayGuard.watermarkOf(m, scope)
            .getOrElse(Long.MinValue)).toString
        }
        val remaining = m.snapshots.filterNot(s => expIds(s.snapshotId))
        // manifests and position-delete files referenced only by
        // expired snapshots retire with them
        def manifests(ss: Seq[SnapshotMeta]) =
          ss.flatMap(_.manifestPath).map(Manifests.pathOf(m, _)).distinct
        val deadManifests = manifests(expired)
          .filterNot(manifests(remaining).toSet)
        val liveDeletes = remaining.flatMap(s =>
          s.deleteFiles.map(_.path) ++ s.eqDeleteFiles.map(_.path)).toSet
        val deadDeletes = expired.flatMap(s =>
          s.deleteFiles.map(_.path) ++ s.eqDeleteFiles.map(_.path)).distinct
          .filterNot(liveDeletes)
        // drop parent pointers into expired snapshots
        val patched = remaining.map(s =>
          if (s.parentId.exists(expIds)) s.copy(parentId = None) else s)
        // Commit FIRST, delete after: physical deletion must only
        // happen once the metadata that stops referencing the expired
        // snapshots is durable. Deleting before the commit would — on
        // a lost CAS — leave the still-current metadata pointing at
        // destroyed files (time travel/changelog permanently broken).
        // A crash between commit and delete merely strands files for
        // remove_orphan_files, matching the spill-dir invariant.
        catalog.commitMeta(m.copy(snapshots = patched, refs = liveRefs,
          properties = m.properties ++ guardProps))
        // Dead data files = expired minus remaining (by
        // PosDeletes.norm). Lists the driver already holds (JSON
        // manifests, materialized lists) are differenced and deleted on
        // the driver, with no job for a short list. A parquet spill on
        // either side keeps the difference a distributed anti-join over
        // the spilled manifests (read as a parquet scan, never hydrated
        // to the driver) with executor-side deletes: an expire on a
        // 100 TB table retires millions of files — neither the path
        // sets nor the deletes may funnel through a driver loop. The
        // expired spill dirs are still on disk here (dropped last,
        // below), so the post-commit scan is safe.
        val conf = catalog.hadoopConf
        val deadDataCount =
          if (m.snapshots.exists(s => Manifests.unforcedSpill(s.files).isDefined))
            LakeWriteUtil.bulkDeleteDf(spark,
              Manifests.dataPathsDf(spark, expired).distinct()
                .join(Manifests.dataPathsDf(spark, remaining).distinct(),
                  Seq("path"), "left_anti"), conf)
          else {
            val live = remaining.flatMap(_.files)
              .map(f => PosDeletes.norm(f.path)).toSet
            LakeWriteUtil.bulkDelete(spark, expired.flatMap(_.files)
              .map(_.path).distinctBy(PosDeletes.norm)
              .filterNot(p => live(PosDeletes.norm(p))), conf)
          }
        val deadDeleteCount = LakeWriteUtil.bulkDelete(spark, deadDeletes, conf)
        val deadManifestCount = LakeWriteUtil.bulkDelete(spark, deadManifests,
          conf, recursive = true)
        Seq(Row(deadDataCount + deadDeleteCount, deadManifestCount,
          expired.size.toLong))
      }
    }),

    "remove_orphan_files" -> (c => new Proc(c, "remove_orphan_files") {
      val params = Seq(in("table", StringType), opt("dry_run", BooleanType),
        opt("older_than", TimestampType))
      val resultSchema = result("orphan_file_location" -> StringType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = metaW(a)
        val conf = catalog.hadoopConf
        // Referenced set as a DataFrame: data files come from the
        // spilled manifests via a distributed parquet scan (never
        // hydrated to the driver — see Manifests.dataPathsDf); the
        // per-snapshot position/equality delete-file lists are inline
        // JSON metadata and ship from the driver. A crashed delta
        // write can strand either kind.
        val inlineDeletes = m.snapshots.flatMap(s =>
          s.deleteFiles.map(_.path) ++ s.eqDeleteFiles.map(_.path))
        import spark.implicits._
        val referenced = Manifests.dataPathsDf(spark, m.snapshots)
          .unionAll(inlineDeletes.toDF("path")
            .select(PosDeletes.normCol(col("path")).as("path")))
        // distributed listing WITH modification times: the walk over
        // thousands of data/<uuid>/ subdirs fans out to executors, and
        // the age guard reuses the listed times instead of one
        // getFileStatus RPC per candidate
        val all = LakeWriteUtil.listParquetWithAgeDf(
            spark, s"${m.location}/data", conf)
          .unionAll(LakeWriteUtil.listParquetWithAgeDf(
            spark, s"${m.location}/metadata/deletes", conf))
        val fs = MetadataLog.fs(m.location, conf)
        // only files older than the cutoff are orphan candidates: a
        // file staged by an in-flight, not-yet-committed write is
        // unreferenced but NOT an orphan — the reference defaults to
        // a 3-day age guard for exactly this race (ADVICE round 1)
        val cutoffMs = a.lngOpt("older_than").map(_ / 1000L)
          .getOrElse(System.currentTimeMillis() - 3L * 24 * 3600 * 1000)
        def aged(p: String): Boolean =
          try fs.getFileStatus(new org.apache.hadoop.fs.Path(p))
            .getModificationTime < cutoffMs
          catch { case _: java.io.FileNotFoundException => false }
        // anti-join listed-on-disk against referenced: only actual
        // orphans (bounded by real garbage, not table size) ever
        // materialize on the driver — they ARE the procedure's output
        val orphans = all.filter(col("mtime") < cutoffMs)
          .join(referenced.withColumnRenamed("path", "norm"),
            Seq("norm"), "left_anti")
          .select("path").as[String].collect().toSeq
        // stranded manifests, JSON files and spill dirs alike: a
        // commit that wrote one and then crashed, or a rewrite that
        // replaced one, leaves a manifest the current metadata does not
        // point at — collect it (a dir recursively) under the same age
        // guard
        val liveManifests = m.snapshots.flatMap(_.manifestPath)
          .map(p => PosDeletes.norm(Manifests.pathOf(m, p))).toSet
        val manifestRoot = new org.apache.hadoop.fs.Path(
          s"${m.location}/metadata/manifests")
        val orphanManifests =
          if (!fs.exists(manifestRoot)) Nil
          else fs.listStatus(manifestRoot).toSeq
            .map(_.getPath.toString)
            .filterNot(p => liveManifests(PosDeletes.norm(p)))
            .filter(aged)
        if (!a.boolOpt("dry_run").getOrElse(false)) {
          // distributed: orphan sweeps at 100 TB file counts must not
          // serialize through the driver
          LakeWriteUtil.bulkDelete(spark, orphans, conf)
          LakeWriteUtil.bulkDelete(spark, orphanManifests, conf,
            recursive = true)
        }
        (orphans ++ orphanManifests).map(Row(_))
      }
    }),

    "rewrite_data_files" -> (c => new Proc(c, "rewrite_data_files") {
      val params = Seq(in("table", StringType), opt("strategy", StringType),
        opt("sort_order", StringType),
        opt("options", MapType(StringType, StringType)),
        opt("where", StringType))
      val resultSchema = result("rewritten_data_files_count" -> IntegerType,
        "added_data_files_count" -> IntegerType,
        "rewritten_bytes_count" -> LongType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, ident) = metaW(a)
        val head = m.currentSnapshot("main")
        val files = head.map(_.files).getOrElse(Nil)
        if (files.isEmpty) return Seq(Row(0, 0, 0L))
        val opts = a.strMap("options")
        // default to the table's own write.target-file-size-bytes so
        // compaction produces the same file sizes ordinary writes do
        val target = opts.get("target-file-size-bytes").map(_.toLong)
          .getOrElse(WriteTuning.targetFileSize(m))
        val minInput = opts.getOrElse("min-input-files", "2").toInt
        // `where` scopes the rewrite at the METADATA level (reference:
        // docs/spark-procedures.md:408-412): the predicate is translated
        // to v1 filters and evaluated against each file's footer
        // min/max stats — exactly the scan-planning prune — so files
        // that cannot contain matching rows are left byte-identical.
        // files carrying merge-on-read masks are not candidates: they
        // belong to rewrite_position_delete_files, the mask fold
        val dels = head.map(_.deleteFiles).getOrElse(Nil)
        val masked: Set[String] =
          if (dels.isEmpty) Set.empty
          else PosDeletes.deletedMap(dels, catalog.hadoopConf).keySet
        val unmasked = files.filterNot(f => masked.contains(PosDeletes.norm(f.path)))
        val candidates = a.strOpt("where") match {
          case Some(w) =>
            FileStats.prune(unmasked, RewriteUtil.whereToFilters(spark, m.schema, w),
              m.schema, parts = PartitionPruning.of(m))
          case None => unmasked
        }
        val rewriteAll = opts.get("rewrite-all").exists(_.toBoolean)
        val (small, big) =
          if (rewriteAll) (candidates, Nil)
          else candidates.partition(_.sizeBytes < target)
        if (small.size < minInput) return Seq(Row(0, 0, 0L))
        val strategy = a.strOpt("strategy").getOrElse("binpack")
        val sortSpec = a.strOpt("sort_order").map(_.trim)
        val zorderCols = sortSpec.collect {
          case RewriteUtil.ZorderSpec(inner) =>
            inner.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        }
        val sortNames = sortSpec.filter(_ => zorderCols.isEmpty).toSeq
          .flatMap(_.split(",")).map(_.trim.split("\\s+"))
        val sortCols = sortNames
          .map(p => if (p.length > 1 && p(1).equalsIgnoreCase("DESC"))
            col(p(0)).desc else col(p(0)).asc)
        // sort and zorder: a group's files split the range of its key's
        // leading column (zorder: the key's top byte), and each file
        // sorts by the whole key; binpack only spreads the bytes
        val order: Option[(Seq[Seq[DataFileMeta]], Column) => (Column, Seq[Column])] =
          if (!strategy.equalsIgnoreCase("sort")) None
          else zorderCols match {
            case Some(zc) => Some { (groups, g) =>
              val z = RewriteUtil.zvalue(groups, g, m.schema, zc)
              (shiftright(z, 8 * (zc.size - 1)), Seq(z))
            }
            case None if sortCols.nonEmpty => Some((groups, g) =>
              (RewriteUtil.rank(groups, g, m.schema, sortNames.head(0)), sortCols))
            case None => None
          }
        // Compact WITHIN partitions (like the reference's per-partition
        // bin packing): grouping keeps every rewritten file inside one
        // partition tuple, preserving partition-level pruning/ops.
        // Equality deletes are APPLIED during the rewrite (the outputs
        // take the new commit's sequence number, past every delete) —
        // compaction is what folds an upsert table back onto the fully
        // vectorized read path.
        val nextId = m.lastSnapshotId + 1
        val parentEqs = head.map(_.eqDeleteFiles).getOrElse(Nil)
        // sort-strategy outputs end in sortWithinPartitions over the
        // requested columns, so each rewritten file carries the
        // write-order provenance stamp — compaction RESTORES the
        // bucket-SPJ sort-free claim that multi-file groups withdrew
        val sortedStamp: Seq[String] =
          if (strategy.equalsIgnoreCase("sort") && zorderCols.isEmpty &&
              sortCols.nonEmpty)
            sortSpec.toSeq.flatMap(_.split(","))
              .map(_.trim).filter(_.nonEmpty).map(SortSpec.normalize)
          else Nil
        val groupedAll = small.groupBy(_.partitionValues).toSeq
        // singleton no-op cut: a binpack group that is ONE file
        // already under target merges nothing — rewriting it copies
        // bytes and burns a job for an identical table. Skipped unless
        // the caller forced rewrite-all or deletes must fold in.
        val grouped =
          if (strategy.equalsIgnoreCase("binpack") && !rewriteAll &&
              parentEqs.isEmpty)
            groupedAll.filterNot { case (_, g) =>
              g.size == 1 && g.map(_.sizeBytes).sum <= target }
          else groupedAll
        // the singleton cut may skip every group — nothing to rewrite,
        // so commit nothing (a no-op replace snapshot would still cost
        // a commit round-trip and a history entry)
        val rewriteInputs = grouped.flatMap(_._2)
        if (rewriteInputs.isEmpty) return Seq(Row(0, 0, 0L))
        val rewritten = LakeWriteUtil.rewriteFiles(spark,
          new LakeTable(catalog, ident, m, None, "main"), grouped, dels,
          parentEqs, nextId,
          layout = Some(LakeWriteUtil.Layout(target, order, sortedStamp)))
        val untouched = files.filterNot(f =>
          rewriteInputs.exists(_.path == f.path))
        val newFiles = untouched ++ rewritten
        // masked files were excluded from compaction, so their masks
        // must survive the commit: carry the parent's delete files
        // (masks over rewritten files are inert — the paths changed);
        // equality deletes retire as soon as no remaining file is old
        // enough for them
        val snap = SnapshotMeta(nextId, head.map(_.snapshotId),
          System.currentTimeMillis(), "replace",
          Map("rewritten-data-files" -> rewriteInputs.size.toString),
          newFiles, m.currentSchemaEpoch,
          deleteFiles = dels,
          eqDeleteFiles = EqDeletes.retire(parentEqs, newFiles))
        catalog.commitMeta(m.withSnapshot(snap, Some("main")))
        Seq(Row(rewriteInputs.size, rewritten.size,
          rewriteInputs.map(_.sizeBytes).sum))
      }
    }),

    "rewrite_manifests" -> (c => new Proc(c, "rewrite_manifests") {
      val params = Seq(in("table", StringType), opt("use_caching", BooleanType))
      val resultSchema = result("rewritten_manifests_count" -> IntegerType,
        "added_manifests_count" -> IntegerType)
      // Rewrites the parquet manifest spills under metadata/manifests/
      // (reference: docs/spark-procedures.md:477, iceberg_it.py:1806-1823).
      // Each REF-HEAD snapshot that is spilled or over the threshold
      // gets a fresh manifest — consolidated part layout, legacy format
      // upgraded, entries clustered by partition tuple for contiguous
      // pruning; a spilled head list that has shrunk to the threshold
      // becomes a JSON manifest. Only heads: they are what reads plan
      // against, and like Iceberg's procedure (current snapshot only)
      // this keeps the call O(refs), not O(history) — historical spills
      // stay cold (never hydrated) and retire with expire_snapshots.
      // Old manifests stay on disk: an already-loaded reader may hold
      // an unforced lazy pointer into one, so they retire via
      // remove_orphan_files' age-guarded sweep, never inline.
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = metaW(a)
        val conf = catalog.hadoopConf
        val thr = Manifests.threshold(m)
        val heads = m.refs.values.map(_.snapshotId).toSet
        var rewritten = 0
        val snaps = m.snapshots.map { s =>
          if (heads(s.snapshotId) &&
              (s.manifestPath.exists(Manifests.isSpill) || s.files.size > thr)) {
            if (s.manifestPath.isDefined) rewritten += 1
            Manifests.rewrite(m, s, conf)
          } else s
        }
        val prior = m.snapshots.flatMap(_.manifestPath).toSet
        val fresh = snaps.flatMap(_.manifestPath).filterNot(prior)
        if (fresh.isEmpty) return Seq(Row(0, 0))
        try catalog.commitMeta(m.copy(snapshots = snaps))
        catch { case e: Throwable =>
          Manifests.drop(fresh.map(Manifests.pathOf(m, _)), conf); throw e
        }
        Seq(Row(rewritten, fresh.size))
      }
    }),

    "rewrite_position_delete_files" -> (c =>
      new Proc(c, "rewrite_position_delete_files") {
        val params = Seq(in("table", StringType),
          opt("options", MapType(StringType, StringType)))
        val resultSchema = result(
          "rewritten_delete_files_count" -> IntegerType,
          "added_delete_files_count" -> IntegerType,
          "rewritten_bytes_count" -> LongType)
        // Folds merge-on-read position masks back into the data: every
        // masked data file is rewritten with its deleted rows dropped
        // (per partition group), and the delete files retire — the
        // table returns to the fully-vectorized read path.
        //
        // options => map('mode','minor'): consolidate the DELETE files
        // only (sort-merge many small per-task masks into few
        // range-partitioned ones) without touching data bytes — the
        // cheap continuous maintenance for steady MoR delta workloads,
        // where every MERGE task adds a small delete file and scan
        // tasks would otherwise read dozens of masks each. Dangling
        // pairs (whose data file is gone) drop in the same pass.
        def run(spark: SparkSession, a: Args): Seq[Row] = {
          val (m, ident) = metaW(a)
          val head = m.currentSnapshot("main")
          val dels = head.map(_.deleteFiles).getOrElse(Nil)
          if (dels.isEmpty) return Seq(Row(0, 0, 0L))
          if (a.strMap("options").get("mode").contains("minor")) {
            val conf = catalog.hadoopConf
            val files = head.map(_.files).getOrElse(Nil)
            val livePaths = files.map(f => PosDeletes.norm(f.path)).toSet
            val liveDf = spark.createDataset(livePaths.toSeq)(
              org.apache.spark.sql.Encoders.STRING).toDF("file_path")
            val outDir = s"${m.location}/metadata/deletes/" +
              java.util.UUID.randomUUID().toString.take(12)
            spark.read.schema(PosDeletes.DeleteSchema)
              .parquet(dels.map(_.path): _*)
              .join(broadcast(liveDf), Seq("file_path"), "left_semi")
              .dropDuplicates("file_path", "pos")
              .repartitionByRange(
                math.max(1, dels.map(_.rowCount).sum.toInt / 1000000),
                col("file_path"), col("pos"))
              .sortWithinPartitions(col("file_path"), col("pos"))
              .write.options(LocalFs.options).parquet(outDir)
            val newDels = LakeWriteUtil.listParquet(outDir, conf)
              .map(p => FileStats.fromFooter(p, conf, PosDeletes.DeleteSchema,
                0, Map.empty))
              .filter(_.rowCount > 0)
            val snap = SnapshotMeta(m.lastSnapshotId + 1,
              head.map(_.snapshotId), System.currentTimeMillis(), "replace",
              Map("rewritten-delete-files" -> dels.size.toString,
                "added-delete-files" -> newDels.size.toString),
              files, m.currentSchemaEpoch,
              deleteFiles = newDels,
              eqDeleteFiles = head.map(_.eqDeleteFiles).getOrElse(Nil))
            catalog.commitMeta(m.withSnapshot(snap, Some("main")))
            return Seq(Row(dels.size, newDels.size,
              dels.map(_.sizeBytes).sum))
          }
          // the files to fold are the masks' keys; the rewrite itself
          // reads them through the masked scan
          val maskedKeys = PosDeletes.deletedMap(dels, catalog.hadoopConf).keySet
          val files = head.map(_.files).getOrElse(Nil)
          val (dirty, clean) = files.partition(f =>
            maskedKeys.contains(PosDeletes.norm(f.path)))
          val nextId = m.lastSnapshotId + 1
          val parentEqs = head.map(_.eqDeleteFiles).getOrElse(Nil)
          // one file per group under the table's target, as compaction
          // lays out a binpack
          val rewritten = LakeWriteUtil.rewriteFiles(spark,
            new LakeTable(catalog, ident, m, None, "main"),
            dirty.groupBy(_.partitionValues).toSeq, dels, parentEqs, nextId,
            layout = Some(LakeWriteUtil.Layout(WriteTuning.targetFileSize(m))))
          val newFiles = clean ++ rewritten
          val snap = SnapshotMeta(nextId,
            head.map(_.snapshotId), System.currentTimeMillis(), "replace",
            Map("rewritten-delete-files" -> dels.size.toString),
            newFiles, m.currentSchemaEpoch, deleteFiles = Nil,
            eqDeleteFiles = EqDeletes.retire(parentEqs, newFiles))
          catalog.commitMeta(m.withSnapshot(snap, Some("main")))
          Seq(Row(dels.size, rewritten.size, dels.map(_.sizeBytes).sum))
        }
      }),

    "convert_equality_deletes" -> (c =>
      new Proc(c, "convert_equality_deletes") {
        val params = Seq(in("table", StringType))
        val resultSchema = result(
          "converted_equality_delete_files_count" -> IntegerType,
          "added_position_delete_files_count" -> IntegerType)
        // Equality deletes are cheap to WRITE (the upsert path never
        // reads existing data) but costly to READ: every affected scan
        // task hashes its rows against the key sets. This procedure
        // materializes them as position deletes — one masked read that
        // keeps only the rows they delete yields the (file, pos) pairs
        // — and retires the equality files from the head. Reads
        // return to plain mask subtraction (columnar decode), and
        // rewrite_position_delete_files can later fold the masks into
        // data. This is the "minor compaction" step streaming-upsert
        // tables run continuously; unlike rewrite_data_files it never
        // rewrites data bytes: it reads the affected files' key columns
        // and writes O(deleted rows).
        def run(spark: SparkSession, a: Args): Seq[Row] = {
          val (m, ident) = metaW(a)
          val head = m.currentSnapshot("main")
          val eqs = head.map(_.eqDeleteFiles).getOrElse(Nil)
          if (eqs.isEmpty) return Seq(Row(0, 0))
          val conf = catalog.hadoopConf
          val files = head.map(_.files).getOrElse(Nil)
          val priorDels = head.map(_.deleteFiles).getOrElse(Nil)
          val outDir = s"${m.location}/metadata/deletes/" +
            java.util.UUID.randomUUID().toString.take(12)
          // one masked read of the files an equality delete may apply
          // to, keeping just the rows those deletes match: rows the
          // prior masks removed never reach the new masks
          val affected = files.filter(f => eqs.exists(EqDeletes.mayApply(m, f, _)))
          if (affected.nonEmpty)
            MaskedRead(new LakeTable(catalog, ident, m, None, "main"), affected,
                priorDels, eqs, eqDeletedOnly = true)
              .select(col(MaskedRead.File).as("file_path"),
                col(MaskedRead.Pos).as("pos"))
              .repartitionByRange(math.max(1, affected.size / 64),
                col("file_path"), col("pos"))
              .sortWithinPartitions(col("file_path"), col("pos"))
              .write.options(LocalFs.options).parquet(outDir)
          val newDels = LakeWriteUtil.listParquet(outDir, conf)
            .map(p => FileStats.fromFooter(p, conf, PosDeletes.DeleteSchema,
              0, Map.empty))
            .filter(_.rowCount > 0)
          // row-preserving commit: changelog emits nothing for it
          val snap = SnapshotMeta(m.lastSnapshotId + 1,
            head.map(_.snapshotId), System.currentTimeMillis(), "replace",
            Map("converted-equality-delete-files" -> eqs.size.toString,
              "added-position-delete-files" -> newDels.size.toString),
            files, m.currentSchemaEpoch,
            deleteFiles = priorDels ++ newDels,
            eqDeleteFiles = Nil)
          catalog.commitMeta(m.withSnapshot(snap, Some("main")))
          Seq(Row(eqs.size, newDels.size))
        }
      }),

    "snapshot" -> (c => new Proc(c, "snapshot") {
      val params = Seq(in("source_table", StringType), in("table", StringType),
        opt("location", StringType))
      val resultSchema = result("imported_files_count" -> LongType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val destIdent = catalog.parseIdent(a.str("table"))
        val loc = catalog.tableLocation(destIdent)
        // Lake source: zero-copy snapshot of its current manifest.
        // Non-lake source (e.g. a session-catalog parquet table, the
        // reference's main use: docs/spark-procedures.md snapshot):
        // import its files zero-copy, leaving the source untouched.
        // a lake source's files carry tuples recorded under ITS spec
        // history, so the copy inherits that history with them
        val (schema, spec, props, files, priorSpecs) =
          scala.util.Try(meta(a, "source_table")) match {
            case scala.util.Success((src, _)) =>
              (src.schema, src.partitionSpec, src.properties,
                src.currentSnapshot("main").map(_.files).getOrElse(Nil),
                src.priorSpecs)
            case scala.util.Failure(_) =>
              val df = spark.table(a.str("source_table"))
              val fs = df.inputFiles.toSeq.filter(_.endsWith(".parquet"))
                .map(p => FileStats.fromFooter(p, catalog.hadoopConf,
                  df.schema, 0, Map.empty))
              (df.schema, Nil, Map.empty[String, String], fs, Some(Nil))
          }
        val base = TableMeta.empty(loc, schema, spec,
          props + ("snapshot-source" -> a.str("source_table")))
          .copy(priorSpecs = priorSpecs)
        val snap = SnapshotMeta(1L, None, System.currentTimeMillis(),
          "append", Map("imported" -> "true"), files, 0)
        catalog.commitMeta(base.withSnapshot(snap, Some("main")))
        Seq(Row(files.size.toLong))
      }
    }),

    "migrate" -> (c => new Proc(c, "migrate") {
      val params = Seq(in("table", StringType),
        opt("backup_table_name", StringType), opt("drop_backup", BooleanType))
      val resultSchema = result("migrated_files_count" -> LongType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        // source is a session-catalog (e.g. parquet) table; its data is
        // imported into a same-named lake table.
        val name = a.str("table")
        val df = spark.table(name)
        val ident = catalog.parseIdent(name)
        val loc = catalog.tableLocation(ident)
        val base = TableMeta.empty(loc, df.schema, Nil,
          Map("migrated-from" -> name))
        val committed = catalog.commitMeta(base)
        val staging = s"$loc/data/${java.util.UUID.randomUUID().toString.take(12)}"
        df.write.options(LocalFs.options).mode("append").parquet(staging)
        val paths = LakeWriteUtil.listParquet(staging, catalog.hadoopConf)
        val files = FileStats.fromFooters(paths, catalog.hadoopConf,
          committed.schema, 0)
        val snap = SnapshotMeta(1L, None, System.currentTimeMillis(),
          "append", Map("migrated" -> "true"), files, 0)
        catalog.commitMeta(committed.withSnapshot(snap, Some("main")))
        Seq(Row(files.size.toLong))
      }
    }),

    "add_files" -> (c => new Proc(c, "add_files") {
      val params = Seq(in("table", StringType), in("source_table", StringType),
        opt("check_duplicate_files", BooleanType))
      val resultSchema = result("added_files_count" -> LongType,
        "changed_partition_count" -> LongType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = metaW(a)
        // `parquet`.`/path` or a bare path: zero-copy file import
        val src = a.str("source_table")
        val path = "`([^`]+)`\\s*\\.\\s*`([^`]+)`".r.findFirstMatchIn(src)
          .map(_.group(2)).getOrElse(src)
        val paths = LakeWriteUtil.listParquet(path, catalog.hadoopConf)
        require(paths.nonEmpty, s"no parquet files under $path")
        val head = m.currentSnapshot("main")
        val existing = head.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
        if (a.boolOpt("check_duplicate_files").getOrElse(true))
          require(!paths.exists(existing), "duplicate files in import")
        val files = FileStats.fromFooters(paths, catalog.hadoopConf,
          m.schema, m.currentSchemaEpoch)
        val snap = SnapshotMeta(m.lastSnapshotId + 1, head.map(_.snapshotId),
          System.currentTimeMillis(), "append",
          Map("added-files" -> files.size.toString),
          head.map(_.files).getOrElse(Nil) ++ files, m.currentSchemaEpoch)
        catalog.commitMeta(m.withSnapshot(snap, Some("main")))
        Seq(Row(files.size.toLong, null))
      }
    }),

    "register_table" -> (c => new Proc(c, "register_table") {
      val params = Seq(in("table", StringType), in("metadata_file", StringType))
      val resultSchema = result("current_snapshot_id" -> LongType,
        "total_records_count" -> LongType, "total_data_files_count" -> LongType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val ident = catalog.parseIdent(a.str("table"))
        val mf = a.str("metadata_file")
        val srcLoc = mf.replaceAll("/metadata/v\\d+\\.json$", "")
        val version = "v(\\d+)\\.json".r.findFirstMatchIn(mf)
          .map(_.group(1).toInt)
          .getOrElse(MetadataLog.currentVersion(srcLoc, catalog.hadoopConf))
        // the copy's commit writes every snapshot's manifest under its
        // own location (Manifests.slim reuses a pointer only within one
        // table), so expiring either table never deletes the other's
        val src = MetadataLog.loadSaved(srcLoc, version, catalog.hadoopConf)
        val loc = catalog.tableLocation(ident)
        val moved = src.copy(location = loc, version = 0)
        val committed = catalog.commitMeta(moved)
        val head = committed.currentSnapshot("main")
        Seq(Row(head.map(_.snapshotId).getOrElse(-1L),
          head.map(_.files.map(_.rowCount).sum).getOrElse(0L),
          head.map(_.files.size.toLong).getOrElse(0L)))
      }
    }),

    "rewrite_table_path" -> (c => new Proc(c, "rewrite_table_path") {
      val params = Seq(in("table", StringType), in("source_prefix", StringType),
        in("target_prefix", StringType), opt("staging_location", StringType))
      val resultSchema = result("latest_version" -> StringType,
        "file_list_location" -> StringType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = meta(a)
        val src = a.str("source_prefix")
        val dst = a.str("target_prefix")
        val staging = a.strOpt("staging_location")
          .getOrElse(s"${m.location}/metadata/rewrite-staging")
        val rewritten = m.copy(location = m.location.replace(src, dst),
          snapshots = m.snapshots.map(s => s.copy(
            files = s.files.map(f => f.copy(path = f.path.replace(src, dst))),
            deleteFiles = s.deleteFiles.map(f =>
              f.copy(path = f.path.replace(src, dst))),
            eqDeleteFiles = s.eqDeleteFiles.map(f =>
              f.copy(path = f.path.replace(src, dst))),
            manifestPath = None))) // paths changed: old spill is stale
        implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
        val fs = MetadataLog.fs(staging, catalog.hadoopConf)
        fs.mkdirs(new org.apache.hadoop.fs.Path(staging))
        val out = fs.create(new org.apache.hadoop.fs.Path(staging,
          f"v${m.version}%05d.json"), true)
        try out.write(org.json4s.jackson.Serialization.write(rewritten)
          .getBytes("UTF-8"))
        finally out.close()
        val fileList = new org.apache.hadoop.fs.Path(staging, "file-list.txt")
        val fl = fs.create(fileList, true)
        try fl.write(m.snapshots.flatMap(s =>
            s.files.map(_.path) ++ s.deleteFiles.map(_.path) ++
              s.eqDeleteFiles.map(_.path)).distinct
          .mkString("\n").getBytes("UTF-8"))
        finally fl.close()
        Seq(Row(f"v${m.version}%05d.json", fileList.toString))
      }
    }),

    "compute_table_stats" -> (c => new Proc(c, "compute_table_stats") {
      val params = Seq(in("table", StringType),
        opt("columns", ArrayType(StringType)))
      val resultSchema = result("statistics_file" -> StringType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, ident) = metaW(a)
        val files = m.currentSnapshot("main").map(_.files).getOrElse(Nil)
        if (files.isEmpty) return Seq(Row(null))
        val df = spark.read.parquet(files.map(_.path): _*)
        val cols = Option(a.strArr("columns")).filter(_.nonEmpty)
          .getOrElse(df.columns.toSeq)
        val aggs = cols.map(cn => approx_count_distinct(col(cn)).as(cn))
        val ndv = df.agg(aggs.head, aggs.tail: _*).collect().head
        val props = cols.zipWithIndex.map { case (cn, i) =>
          s"stats.ndv.$cn" -> ndv.get(i).toString
        }.toMap
        // Equi-height histograms for numeric columns — the CBO input
        // range/join estimation actually consumes (via the scan's
        // SupportsReportStatistics column stats). One pass of
        // percentile_approx per stats run; stored compactly as
        // "height:b0,b1,...,bN" in properties. Per-bin NDV is derived
        // at read time as ndv/bins (equi-height bins split distinct
        // values roughly evenly for non-degenerate distributions) —
        // same approximation class as the HLL NDV itself.
        val numeric = cols.filter(cn => df.schema(cn).dataType match {
          case _: org.apache.spark.sql.types.NumericType => true
          case _ => false
        })
        val histProps: Map[String, String] =
          if (numeric.isEmpty) Map.empty
          else {
            val pcts = lit((0 to HistBins).map(_.toDouble / HistBins).toArray)
            val hAggs = numeric.flatMap(cn => Seq(
              percentile_approx(col(cn).cast("double"), pcts, lit(10000))
                .as(s"p_$cn"),
              count(col(cn)).as(s"c_$cn")))
            val row = df.agg(hAggs.head, hAggs.tail: _*).collect().head
            numeric.zipWithIndex.flatMap { case (cn, i) =>
              val bounds = Option(row.getSeq[Double](i * 2)).getOrElse(Nil)
              val nonNull = row.getLong(i * 2 + 1)
              if (bounds.size != HistBins + 1 || nonNull == 0L) None
              else Some(s"stats.hist.$cn" ->
                s"${nonNull.toDouble / HistBins}:${bounds.mkString(",")}")
            }.toMap
          }
        val updated = catalog.commitMeta(
          m.copy(properties = m.properties ++ props ++ histProps))
        Seq(Row(s"${m.location}/metadata/v${updated.version}%05d.json"))
      }
    }),

    "compute_partition_stats" -> (c => new Proc(c, "compute_partition_stats") {
      val params = Seq(in("table", StringType), opt("snapshot_id", LongType))
      val resultSchema = result("statistics_file" -> StringType)
      // Per-partition row/file/byte counts aggregated from the manifest
      // alone (docs/spark-procedures.md:982) — no data scan; the stats
      // file lands beside the metadata log.
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = metaW(a)
        val snap = a.lngOpt("snapshot_id")
          .flatMap(id => m.snapshots.find(_.snapshotId == id))
          .orElse(m.currentSnapshot("main"))
          .getOrElse(return Seq(Row(null)))
        val byPart = snap.files.groupBy(_.partitionValues).toSeq
          .sortBy(_._1.toSeq.sortBy(_._1).mkString(","))
        val entries = byPart.map { case (tuple, fs) =>
          Map(
            "partition" -> tuple,
            "row_count" -> fs.map(_.rowCount).sum,
            "file_count" -> fs.size,
            "total_size_in_bytes" -> fs.map(_.sizeBytes).sum)
        }
        val path = new org.apache.hadoop.fs.Path(m.location,
          f"metadata/partition-stats-${snap.snapshotId}.json")
        val fs = MetadataLog.fs(m.location, catalog.hadoopConf)
        val out = fs.create(path, true)
        try out.write(org.json4s.jackson.Serialization.write(entries)(
          org.json4s.DefaultFormats).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        Seq(Row(path.toString))
      }
    }),

    "create_changelog_view" -> (c => new Proc(c, "create_changelog_view") {
      val params = Seq(in("table", StringType),
        opt("changelog_view", StringType),
        opt("options", MapType(StringType, StringType)),
        opt("net_changes", BooleanType),
        opt("compute_updates", BooleanType),
        opt("remove_carryovers", BooleanType),
        opt("identifier_columns", ArrayType(StringType)))
      val resultSchema = result("changelog_view" -> StringType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, ident) = meta(a)
        val viewName = a.strOpt("changelog_view")
          .getOrElse(s"`${ident.name()}_changes`")
        val opts = a.strMap("options")
        val startId = opts.get("start-snapshot-id").map(_.toLong)
        val endId = opts.get("end-snapshot-id").map(_.toLong)
        val net = a.boolOpt("net_changes").getOrElse(false)
        val df = Changelog.build(spark, catalog, ident, m, startId, endId,
          a.strArr("identifier_columns"),
          a.boolOpt("compute_updates").getOrElse(
            !net && a.strArr("identifier_columns").nonEmpty),
          netChanges = net,
          // carry-over pairs from copy-on-write rewrites are dropped by
          // default (docs/spark-procedures.md:905-921); pass false to
          // see the raw per-commit file diffs
          removeCarryovers = a.boolOpt("remove_carryovers").getOrElse(true))
        df.createOrReplaceTempView(viewName.stripPrefix("`").stripSuffix("`"))
        Seq(Row(viewName))
      }
    }),

    "create_branch" -> (c => new Proc(c, "create_branch") {
      val params = Seq(in("table", StringType), in("branch", StringType),
        opt("snapshot_id", LongType))
      val resultSchema = result("branch" -> StringType, "snapshot_id" -> LongType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = metaW(a)
        val snap = a.lngOpt("snapshot_id")
          .orElse(m.currentSnapshotId("main")).getOrElse(
            throw new IllegalStateException("table has no snapshots yet"))
        setRef(catalog, m, a.str("branch"), snap)
        Seq(Row(a.str("branch"), snap))
      }
    }),

    "create_tag" -> (c => new Proc(c, "create_tag") {
      val params = Seq(in("table", StringType), in("tag", StringType),
        opt("snapshot_id", LongType))
      val resultSchema = result("tag" -> StringType, "snapshot_id" -> LongType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = metaW(a)
        val snap = a.lngOpt("snapshot_id")
          .orElse(m.currentSnapshotId("main")).getOrElse(
            throw new IllegalStateException("table has no snapshots yet"))
        setRef(catalog, m, a.str("tag"), snap, refType = "tag")
        Seq(Row(a.str("tag"), snap))
      }
    }),

    "drop_branch" -> (c => new Proc(c, "drop_branch") {
      val params = Seq(in("table", StringType), in("branch", StringType))
      val resultSchema = result("dropped" -> StringType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = metaW(a)
        require(a.str("branch") != "main", "cannot drop main")
        catalog.commitMeta(m.copy(refs = m.refs - a.str("branch")))
        Seq(Row(a.str("branch")))
      }
    }),

    "drop_tag" -> (c => new Proc(c, "drop_tag") {
      val params = Seq(in("table", StringType), in("tag", StringType))
      val resultSchema = result("dropped" -> StringType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = metaW(a)
        catalog.commitMeta(m.copy(refs = m.refs - a.str("tag")))
        Seq(Row(a.str("tag")))
      }
    }),

    "replace_branch" -> (c => new Proc(c, "replace_branch") {
      val params = Seq(in("table", StringType), in("branch", StringType),
        in("snapshot_id", LongType))
      val resultSchema = result("branch" -> StringType, "snapshot_id" -> LongType)
      def run(spark: SparkSession, a: Args): Seq[Row] = {
        val (m, _) = metaW(a)
        setRef(catalog, m, a.str("branch"), a.lng("snapshot_id"))
        Seq(Row(a.str("branch"), a.lng("snapshot_id")))
      }
    })
  )
}
