package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** Snapshot-versioned lakehouse catalog (SURVEY.md §7.1 "catalog").
  *
  * Warehouse layout: `<warehouse>/<namespace>/<table>/{data,metadata}`.
  * Supports namespaces, atomic CTAS/RTAS staging, time travel
  * (`VERSION AS OF` / `TIMESTAMP AS OF` -> loadTable(ident, v/ts)),
  * branch/tag reads via ref names or `t.branch_x` / `t.tag_y`
  * identifier suffixes, metadata-table suffixes (`t.snapshots`, ...),
  * and `CALL cat.system.<proc>` stored procedures.
  *
  * Reference surface: iceberg_it.py:109-116 (identifiers), 1940-1989
  * (metadata tables), 1957-2093 (time travel + refs),
  * docs/spark-procedures.md (procedures).
  */
class LakeCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog with ProcedureCatalog with FunctionCatalog {

  // ---- FunctionCatalog: partition transforms as V2 functions, so
  // write distributions can cluster on bucket/days/truncate VALUES ----

  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    TransformFunctions.names
      .map(n => Identifier.of(namespace, n)).toArray

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    TransformFunctions.load(ident.name()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))

  override def functionExists(ident: Identifier): Boolean =
    TransformFunctions.load(ident.name()).isDefined

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active
  /** The session's Hadoop conf, with `file:` resolved to [[LocalFs]]. */
  private[lake] def hadoopConf: Configuration =
    LocalFs.install(spark.sessionState.newHadoopConf())

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse"))
      .getOrElse(sys.props("java.io.tmpdir") + s"/graft_warehouse_$name")
  }

  override def name(): String = catalogName

  private[lake] def tableLocation(ident: Identifier): String =
    (Seq(warehouse) ++ ident.namespace() :+ ident.name()).mkString("/")

  private def namespaceDir(ns: Array[String]): Path =
    new Path((Seq(warehouse) ++ ns).mkString("/"))

  // ------------------------------------------------------------------
  // Namespaces
  // ------------------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val fs = MetadataLog.fs(warehouse, hadoopConf)
    val root = new Path(warehouse)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).filter(_.isDirectory).map(s => Array(s.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    MetadataLog.fs(warehouse, hadoopConf).exists(namespaceDir(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map("location" -> namespaceDir(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    MetadataLog.fs(warehouse, hadoopConf).mkdirs(namespaceDir(namespace))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = ()

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val fs = MetadataLog.fs(warehouse, hadoopConf)
    fs.delete(namespaceDir(namespace), cascade)
  }

  // ------------------------------------------------------------------
  // Tables
  // ------------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val fs = MetadataLog.fs(warehouse, hadoopConf)
    val dir = namespaceDir(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(_.isDirectory)
      .filter(s => MetadataLog.exists(s.getPath.toString, hadoopConf))
      .map(s => Identifier.of(namespace, s.getPath.getName))
  }

  private def tableExists0(ident: Identifier,
      conf: Configuration = hadoopConf): Boolean =
    MetadataLog.exists(tableLocation(ident), conf)

  override def loadTable(ident: Identifier): Table = resolve(ident, None, None)

  /** VERSION AS OF — snapshot id or branch/tag name. */
  override def loadTable(ident: Identifier, version: String): Table =
    resolve(ident, Some(Left(version)), None)

  /** TIMESTAMP AS OF — microseconds since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    resolve(ident, None, Some(timestampMicros / 1000L))

  private def resolve(ident: Identifier,
      version: Option[Either[String, Long]], tsMs: Option[Long]): Table = {
    // one conf per resolution: newHadoopConf copies the session's
    // whole Hadoop configuration
    val conf = hadoopConf
    if (tableExists0(ident, conf)) {
      val meta = MetadataLog.load(tableLocation(ident), conf)
      return pin(ident, meta, version, tsMs, ref = "main")
    }
    // metadata-table / branch / tag suffix routing: db.t.snapshots etc.
    if (ident.namespace().nonEmpty) {
      val parent = Identifier.of(ident.namespace().dropRight(1), ident.namespace().last)
      if (tableExists0(parent, conf)) {
        val meta = MetadataLog.load(tableLocation(parent), conf)
        val n = ident.name()
        if (n == "changes")
          // raw CDC relation incl. carry-over rows — the distributed
          // counterpart of create_changelog_view (ChangesTable)
          return new ChangesTable(this, parent, meta)
        if (MetadataTables.names.contains(n)) {
          val snap = version.flatMap {
            case Left(v) => resolveVersion(meta, v)
            case Right(_) => None
          }.orElse(tsMs.flatMap(t => meta.snapshotAsOfTime(t).map(_.snapshotId)))
          return new MetadataTable(this, parent, meta, n, snap)
        }
        if (n.startsWith("branch_")) {
          val b = n.stripPrefix("branch_")
          require(meta.refs.get(b).exists(_.refType == "branch"), s"no branch $b")
          return new LakeTable(this, parent, meta,
            pinnedSnapshot = None, ref = b)
        }
        if (n.startsWith("tag_")) {
          val t = n.stripPrefix("tag_")
          val ref = meta.refs.getOrElse(t,
            throw new NoSuchTableException(ident))
          return new LakeTable(this, parent, meta,
            pinnedSnapshot = Some(ref.snapshotId), ref = t)
        }
      }
    }
    throw new NoSuchTableException(ident)
  }

  private def resolveVersion(meta: TableMeta, v: String): Option[Long] =
    if (v.matches("\\d+") && meta.snapshotById(v.toLong).isDefined) Some(v.toLong)
    else meta.refs.get(v).map(_.snapshotId)

  private def pin(ident: Identifier, meta: TableMeta,
      version: Option[Either[String, Long]], tsMs: Option[Long], ref: String): Table =
    version match {
      case Some(Left(v)) =>
        // numeric snapshot id, else branch/tag name
        meta.refs.get(v) match {
          case Some(r) if r.refType == "branch" =>
            new LakeTable(this, ident, meta, None, ref = v)
          case Some(r) =>
            new LakeTable(this, ident, meta, Some(r.snapshotId), ref = v)
          case None if v.matches("\\d+") && meta.snapshotById(v.toLong).isDefined =>
            new LakeTable(this, ident, meta, Some(v.toLong), ref)
          case None =>
            throw new IllegalArgumentException(s"Cannot find snapshot or ref '$v'")
        }
      case Some(Right(_)) => throw new IllegalStateException("unreachable")
      case None => tsMs match {
        case Some(t) =>
          val snap = meta.snapshotAsOfTime(t).getOrElse(
            throw new IllegalArgumentException(s"no snapshot at or before $t"))
          new LakeTable(this, ident, meta, Some(snap.snapshotId), ref)
        case None => new LakeTable(this, ident, meta, None, ref)
      }
    }

  override def tableExists(ident: Identifier): Boolean =
    tableExists0(ident) || (try { loadTable(ident); true }
      catch { case _: Exception => false })

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (tableExists0(ident)) throw new TableAlreadyExistsException(ident)
    val loc = tableLocation(ident)
    val spec = partitions.toSeq.map(Transforms.fromTransform)
    val props = Transforms.stampZone(
      properties.asScala.toMap - TableCatalog.PROP_LOCATION, spec)
    val meta0 = TableMeta.empty(loc, schema, spec, props)
    val meta = MetadataLog.commit(meta0, hadoopConf)
    new LakeTable(this, ident, meta, None, "main")
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists0(ident)) throw new NoSuchTableException(ident)
    val loc = tableLocation(ident)
    val meta = MetadataLog.load(loc, hadoopConf)
    // metadata-layer read-only veto (see loadMetaWritable), with one
    // exception: changes that only manage the read-only flag itself —
    // the unlock path must exist at THIS layer, since the plan-time
    // rule (when the readonly extension is installed) hard-locks even
    // the unset for reference parity, and a session without the
    // extension still deserves a frozen table to stay frozen
    val flagOnly = changes.forall {
      case s: TableChange.SetProperty =>
        s.property.equalsIgnoreCase(graft.readonly.ReadOnly.Prop)
      case r: TableChange.RemoveProperty =>
        r.property.equalsIgnoreCase(graft.readonly.ReadOnly.Prop)
      case _ => false
    }
    if (!flagOnly && meta.properties.get(graft.readonly.ReadOnly.Prop)
        .exists(_.equalsIgnoreCase("true")))
      graft.readonly.ReadOnly.fail(
        (name() +: ident.namespace() :+ ident.name()).mkString("."))
    val updated = SchemaEvolution.applyChanges(meta, changes)
    val committed = MetadataLog.commit(updated, hadoopConf)
    new LakeTable(this, ident, committed, None, "main")
  }

  // Non-purge DROP removes the catalog entry (the version log) but
  // keeps data, delete and manifest files, mirroring Iceberg's
  // gc-disabled drop — so a dropped table can be re-created via
  // register_table from a saved version file. PURGE deletes the whole
  // table directory.
  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists0(ident)) return false
    loadMetaWritable(ident) // frozen tables refuse destruction too
    MetadataLog.dropLog(tableLocation(ident), hadoopConf)
    true
  }

  override def purgeTable(ident: Identifier): Boolean = {
    if (!tableExists0(ident)) return false
    loadMetaWritable(ident) // frozen tables refuse destruction too
    MetadataLog.dropTableDir(tableLocation(ident), hadoopConf)
    true
  }

  override def renameTable(oldIdent: Identifier, rawNewIdent: Identifier): Unit = {
    // Spark hands RENAME TO's destination through un-stripped: a
    // `lake.db.t` target arrives with namespace ["lake","db"]. Peel the
    // catalog's own name off so the table lands in the right namespace.
    val newIdent =
      if (rawNewIdent.namespace().headOption.contains(name()))
        Identifier.of(rawNewIdent.namespace().drop(1), rawNewIdent.name())
      else rawNewIdent
    if (!tableExists0(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists0(newIdent)) throw new TableAlreadyExistsException(newIdent)
    // Delete files and the masks' recorded file paths keep naming the
    // old location, and the path rewrite below does not reach them: a
    // moved table would read every deleted row again. Refuse until
    // paths are stored relative to the table.
    val deletes = MetadataLog.load(tableLocation(oldIdent), hadoopConf).snapshots
      .flatMap(s => s.deleteFiles.map(_.path) ++ s.eqDeleteFiles.map(_.path))
      .distinct.size
    if (deletes > 0)
      throw new UnsupportedOperationException(
        s"cannot rename ${oldIdent.toString}: its retained snapshots carry " +
          s"$deletes position/equality delete files, whose paths a rename " +
          "does not move; run rewrite_position_delete_files or " +
          "rewrite_data_files and expire_snapshots first")
    val fs = MetadataLog.fs(warehouse, hadoopConf)
    val src = new Path(tableLocation(oldIdent))
    val dst = new Path(tableLocation(newIdent))
    fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst))
      throw new IllegalStateException(s"rename $src -> $dst failed")
    // location is embedded in metadata — rewrite it. Manifest pointers
    // resolve against the directory the table is loaded from, so the
    // moved table reads its manifests before this commit; the rewritten
    // file lists then get manifests of their own under `dst`.
    val meta = MetadataLog.load(dst.toString, hadoopConf)
    val moved = meta.copy(location = dst.toString,
      snapshots = meta.snapshots.map(s => s.copy(files = s.files.map(f =>
        f.copy(path = f.path.replace(src.toString, dst.toString))),
        manifestPath = None)))
    MetadataLog.commit(moved, hadoopConf)
  }

  // ------------------------------------------------------------------
  // Staged (atomic) CTAS / RTAS
  // ------------------------------------------------------------------

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    if (tableExists0(ident)) throw new TableAlreadyExistsException(ident)
    staged(ident, schema, partitions, properties, replace = false, orCreate = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    if (!tableExists0(ident)) throw new NoSuchTableException(ident)
    staged(ident, schema, partitions, properties, replace = true, orCreate = false)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    staged(ident, schema, partitions, properties, replace = true, orCreate = true)

  private def staged(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      replace: Boolean, orCreate: Boolean): StagedTable = {
    val loc = tableLocation(ident)
    val spec = partitions.toSeq.map(Transforms.fromTransform)
    val props = Transforms.stampZone(
      properties.asScala.toMap - TableCatalog.PROP_LOCATION, spec)
    val base = if (replace && tableExists0(ident)) {
      // RTAS: schema/spec/properties replaced (not merged,
      // iceberg_it.py:481-511), snapshot history retained.
      val old = MetadataLog.load(loc, hadoopConf)
      old.withSpec(spec).copy(schemas = old.schemas :+
        TableMeta.withFieldIds(schema, old.highestFieldId).json,
        currentSchemaEpoch = old.schemas.size, properties = props)
    } else TableMeta.empty(loc, schema, spec, props)
    new LakeStagedTable(this, ident, base, isReplace = replace)
  }

  // ------------------------------------------------------------------
  // Procedures: CALL <catalog>.system.<name>(...)
  // ------------------------------------------------------------------

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      Procedures.names.map(n => Identifier.of(namespace, n)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live in the system namespace, got $ident")
    Procedures.load(this, ident.name()).getOrElse(
      throw new IllegalArgumentException(s"unknown procedure ${ident.name()}"))
  }

  // internal helpers shared with procedures/commands
  private[lake] def loadMeta(ident: Identifier): TableMeta =
    MetadataLog.load(tableLocation(ident), hadoopConf)
  private[lake] def commitMeta(meta: TableMeta): TableMeta =
    MetadataLog.commit(meta, hadoopConf)

  /** [[loadMeta]] for a path that MUTATES the table outside the
    * standard write/DDL plan shapes — procedures (rollback, expire,
    * rewrite_*, branch/tag, stats) and the custom branch /
    * partition-field / write-order / identifier-fields commands
    * commit straight through the catalog, so the plan-time read-only
    * check rule (readonly/ReadOnly.scala) never sees them. The
    * `hive-ext.readOnly=true` veto for those paths lives here: honor
    * the marker at the metadata layer so maintenance can never
    * rewrite, expire, or re-point a table the user froze. Read-only
    * procedures (ancestors_of, changelog views, rewrite_table_path's
    * staging copy, register/snapshot of a NEW entry) keep using
    * [[loadMeta]]. */
  private[lake] def loadMetaWritable(ident: Identifier): TableMeta = {
    val m = loadMeta(ident)
    if (m.properties.get(graft.readonly.ReadOnly.Prop)
        .exists(_.equalsIgnoreCase("true")))
      graft.readonly.ReadOnly.fail(
        (name() +: ident.namespace() :+ ident.name()).mkString("."))
    m
  }

  /** Optimistic-commit auto-retry (Iceberg's semantics — the runtime
    * the reference actually ships): `attempt` maps freshly loaded
    * metadata to the candidate to commit. When the CAS loses to a
    * concurrent writer, the metadata is reloaded and `attempt` re-runs
    * — re-deriving the snapshot AND re-running serializable validation
    * against the new head — up to `commit.retry.num-retries` times
    * (default 4), so two clean concurrent INSERTs both succeed instead
    * of the second writer's job failing. A
    * ConcurrentModificationException thrown by `attempt` ITSELF is a
    * true conflict (validation against the new head failed) and
    * propagates immediately: only the CAS race retries, never a
    * detected isolation violation. */
  private[lake] def commitRetrying(ident: Identifier)(
      attempt: TableMeta => TableMeta): TableMeta =
    commitRetryingCounted(ident)(attempt)._1

  /** [[commitRetrying]], also returning the metadata bytes the winning
    * attempt wrote (see [[MetadataLog.commitCounted]]). */
  private[lake] def commitRetryingCounted(ident: Identifier)(
      attempt: TableMeta => TableMeta): (TableMeta, Long) = {
    // every data commit (writes, DML, compaction rewrites) derives
    // through here — the metadata-layer read-only backstop, so a
    // frozen table stays frozen even in a session that never
    // installed the plan-time check extension
    var fresh = loadMetaWritable(ident)
    // Default is higher than Iceberg's 4: a retry here re-derives the
    // snapshot (possibly re-running a rewrite job), so contending
    // writers stay out of phase for whole job durations and need more
    // attempts to drain a burst.
    val retries = fresh.properties.get("commit.retry.num-retries")
      .map(_.toInt).getOrElse(10)
    var n = 0
    while (true) {
      val candidate = stampCommitTag(fresh, attempt(fresh))
      try return MetadataLog.commitCounted(candidate, hadoopConf)
      catch {
        case e: java.util.ConcurrentModificationException =>
          n += 1
          if (n > retries) throw e
          // exponential backoff with WIDE jitter (the jitter dominates
          // the base): re-derivation takes similar time on every
          // contender, so without strong de-synchronization a burst
          // re-collides in lockstep
          Thread.sleep((25L << math.min(n, 5)) +
            scala.util.Random.nextInt(100 * math.min(n, 10)).toLong)
          fresh = loadMetaWritable(ident)
      }
    }
    throw new IllegalStateException("unreachable")
  }
  /** Opt-in commit tags: while a tag is active — OPERATION-scoped via
    * [[graft.CommitTag]] (the streaming epochs' path: thread-bound,
    * invisible to concurrent writers on the same session), or
    * SESSION-scoped via the `spark.graft.commit.tag` conf (the public
    * session-wide opt-in; the operation scope wins when both are
    * set) — every snapshot a commit APPENDS is stamped with
    * `graft.commit.tag` in its summary: an idempotence marker
    * readable back through the `.snapshots` metadata table (Iceberg
    * exposes the same capability as commit-time snapshot summary
    * properties). The streaming ingest twin (graft.queries.TextOps
    * epoch guard) replays micro-batches against it for per-table
    * exactly-once; with neither scope active, summaries are
    * byte-identical to before. Stamped inside the retry loop so a
    * CAS retry re-stamps against the reloaded head. */
  private def stampCommitTag(prev: TableMeta, cand: TableMeta): TableMeta = {
    val tag = graft.CommitTag.get.getOrElse {
      try org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.graft.commit.tag", "")
      catch { case _: Throwable => "" }
    }
    if (tag.isEmpty) cand
    else cand.copy(snapshots = cand.snapshots.map(sn =>
      if (sn.snapshotId > prev.lastSnapshotId)
        sn.copy(summary = sn.summary + ("graft.commit.tag" -> tag))
      else sn))
  }

  private[lake] def parseIdent(table: String): Identifier = {
    val parts = table.split("\\.").toSeq.filter(_.nonEmpty)
    val p = if (parts.headOption.contains(catalogName)) parts.tail else parts
    require(p.nonEmpty, s"bad table identifier '$table'")
    if (p.length == 1) Identifier.of(Array("default"), p.head)
    else Identifier.of(p.dropRight(1).toArray, p.last)
  }
}
