package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Merge-on-read EQUALITY deletes — the Iceberg-v2 upsert write path
  * (reference runtime: Iceberg format v2 equality deletes, written by
  * Flink's upsert sink; Spark reads them). A delete file stores
  * identifier-column tuples; it deletes every matching row of every
  * data file with a strictly lower data-sequence number
  * ([[DataFileMeta.seq]]).
  *
  * Why this matters at 100 TB: CDC/upsert ingestion with only
  * copy-on-write (MERGE) reads and rewrites the matched files on every
  * batch — O(table) write amplification for O(batch) changes. An
  * upsert commit writes the batch's data files plus ONE small delete
  * file of the batch's keys and touches nothing else; reads apply the
  * keys as an executor-side hash filter, and compaction
  * (rewrite_data_files) folds the filter away.
  *
  * Scale shape:
  *  - the distinct-keys job is a Spark aggregation over just the
  *    staged files (never the table);
  *  - planning uses only metadata: a data file needs eq filtering iff
  *    `file.seq < delete.seq` AND the key-column min/max ranges
  *    intersect — both from the manifest;
  *  - key-set CONTENT loads on the executor running the scan task,
  *    through a per-JVM cache (delete files are immutable), merged
  *    into one hash set per key shape — never collected on the driver.
  */
object EqDeletes {

  val UpsertKey = "write.upsert.enabled"
  val IdentifierKey = "identifier-fields"

  /** Identifier fields resolved against the CURRENT schema (the write
    * path records their epoch names into the delete file meta). */
  def identifierFields(meta: TableMeta): Seq[StructField] = {
    val names = meta.properties.get(IdentifierKey)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val schema = meta.schema
    names.map { n =>
      schema.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(
          s"identifier field '$n' not found in table schema"))
    }
  }

  def upsertEnabled(meta: TableMeta): Boolean =
    meta.properties.get(UpsertKey).contains("true")

  /** Write one equality-delete file holding the DISTINCT keys of the
    * staged data files (one aggregation over just those files), under
    * `metadata/deletes/`. Returns Nil when the table has no identifier
    * fields (caller validates). */
  def writeForStaged(spark: SparkSession, meta: TableMeta,
      stagedPaths: Seq[String], seq: Long,
      conf: Configuration): Seq[EqDeleteMeta] = {
    val keys = identifierFields(meta)
    if (keys.isEmpty || stagedPaths.isEmpty) return Nil
    val dir = s"${meta.location}/metadata/deletes/eq-" +
      java.util.UUID.randomUUID().toString.take(12)
    val keySchema = StructType(keys.map(f => f.copy(nullable = true)))
    spark.read.schema(meta.schema).parquet(stagedPaths: _*)
      .select(keys.map(f => col(f.name)): _*)
      // rows with a null identifier component are never upsert-replaced
      // (SQL equality semantics — Iceberg requires identifier fields
      // non-null for the same reason); the scan's byte-wise key match
      // would treat a stored null tuple as equal to a null key
      .where(keys.map(f => col(f.name).isNotNull).reduce(_ && _))
      .distinct()
      // one file unless the batch's key set is itself huge
      .coalesce(1)
      .write.options(LocalFs.options).mode("append").parquet(dir)
    LakeWriteUtil.listParquet(dir, conf).map { p =>
      val m = FileStats.fromFooter(p, conf, keySchema, meta.currentSchemaEpoch,
        Map.empty)
      EqDeleteMeta(p, m.rowCount, m.sizeBytes, meta.currentSchemaEpoch, seq,
        keys.map(_.name), m.minValues, m.maxValues)
    }.filter(_.rowCount > 0)
  }

  /** Key columns of `eq` mapped to CURRENT schema fields (field-id
    * identity through renames). None when a key column was dropped —
    * guarded against by [[SchemaEvolution]], so in practice always
    * Some. */
  def currentKeyFields(meta: TableMeta, eq: EqDeleteMeta)
      : Option[Seq[StructField]] = {
    val epochSchema = meta.schemaAt(eq.schemaEpoch)
    val current = meta.schema
    val curById = current.fields.flatMap(f =>
      TableMeta.fieldId(f).map(_ -> f)).toMap
    val opts = eq.keyColumns.map { kc =>
      epochSchema.fields.find(_.name.equalsIgnoreCase(kc))
        .flatMap(ef => TableMeta.fieldId(ef).flatMap(curById.get)
          .orElse(current.fields.find(_.name.equalsIgnoreCase(kc))))
    }
    if (opts.forall(_.isDefined)) Some(opts.flatten.toSeq) else None
  }

  /** Could `eq` delete any row of `file`? Metadata-only: sequence
    * ordering first, then per-key-column interval overlap between the
    * data file's footer stats and the delete file's. Stats under
    * different epochs compare through field-id name mapping; any
    * missing piece keeps the pair conservatively relevant. */
  def mayApply(meta: TableMeta, file: DataFileMeta, eq: EqDeleteMeta): Boolean = {
    if (file.seq >= eq.seq) return false
    currentKeyFields(meta, eq) match {
      case None => true // unmappable key — conservative
      case Some(fields) =>
        val fileEpoch = meta.schemaAt(file.schemaEpoch)
        val eqEpoch = meta.schemaAt(eq.schemaEpoch)
        val byIdFile = fileEpoch.fields.flatMap(f =>
          TableMeta.fieldId(f).map(_ -> f.name)).toMap
        fields.zip(eq.keyColumns).forall { case (cur, eqName) =>
          val fileName = TableMeta.fieldId(cur).flatMap(byIdFile.get)
            .getOrElse(cur.name)
          val dt = cur.dataType
          val overlap = for {
            fmin <- file.minValues.get(fileName)
            fmax <- file.maxValues.get(fileName)
            dmin <- eq.minValues.get(eqName)
            dmax <- eq.maxValues.get(eqName)
            c1 <- FileStats.cmp(fmax, dmin, dt)
            c2 <- FileStats.cmp(dmax, fmin, dt)
          } yield c1 >= 0 && c2 >= 0
          overlap.getOrElse(true)
        }
    }
  }

  /** Per-data-file relevance index for the scan (normalized path →
    * applicable delete files), mirroring [[PosDeletes.masksFor]]. */
  def masksFor(meta: TableMeta, files: Seq[DataFileMeta],
      eqs: Seq[EqDeleteMeta]): Map[String, Seq[EqDeleteMeta]] =
    if (eqs.isEmpty) Map.empty
    else files.flatMap { f =>
      val rel = eqs.filter(mayApply(meta, f, _))
      if (rel.isEmpty) None else Some(PosDeletes.norm(f.path) -> rel)
    }.toMap

  /** Retire delete files that can no longer apply to ANY live data
    * file (every file's seq caught up) — run by every commit, so
    * steady upsert + compaction keeps the delete list short. */
  def retire(eqs: Seq[EqDeleteMeta], files: Seq[DataFileMeta])
      : Seq[EqDeleteMeta] = {
    if (eqs.isEmpty) return eqs
    val minSeq = if (files.isEmpty) Long.MaxValue
      else files.iterator.map(_.seq).min
    eqs.filter(_.seq > minSeq)
  }

  // ---- executor-side key sets ----

  // per-JVM cache: delete files are immutable; the key includes the
  // target (current) key types so a schema widening between queries
  // can't serve a stale layout
  private val cache: java.util.Map[String, java.util.HashSet[UnsafeRow]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, java.util.HashSet[UnsafeRow]](
          16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.util.HashSet[UnsafeRow]])
            : Boolean = size() > 64
      })

  /** Load (through the cache) the key set of one delete file, as
    * UnsafeRows in the CURRENT key types — byte-comparable with the
    * scan's own key projection output. Runs on the executor scanning
    * the masked file. */
  def keySet(path: String, typesSig: String,
      read: () => Iterator[InternalRow],
      project: InternalRow => UnsafeRow): java.util.HashSet[UnsafeRow] = {
    val k = s"$path|$typesSig"
    val hit = cache.get(k)
    if (hit != null) return hit
    val set = new java.util.HashSet[UnsafeRow]()
    val it = read()
    while (it.hasNext) set.add(project(it.next()).copy())
    cache.put(k, set)
    set
  }

  private[lake] def clearCacheForTesting(): Unit = cache.clear()
}
