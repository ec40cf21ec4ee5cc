package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.regexp_replace

import scala.collection.mutable

/** Merge-on-read position deletes (SURVEY §4.3 follow-up; reference:
  * docs/spark-procedures.md:514-575, iceberg_it.py:2274-2294).
  *
  * A position-delete file is a parquet file of
  * `(file_path string, pos long)` sorted by both columns — the same
  * shape as Iceberg's position deletes. `file_path` is stored as the
  * data file's KEY: its URI path with scheme and authority stripped
  * (`hdfs://nn:8020/wh/f`, `s3a://bucket/wh/f`, `file:///wh/f` and
  * `/wh/f` all key as `/wh/f`), so matching is immune to the spelling
  * differences between Spark's file paths, Hadoop listings and the
  * paths recorded in manifests. This object is the key's only
  * definition: driver code uses [[norm]], executor-side column
  * expressions use [[normCol]], and the two agree on every spelling.
  *
  * Delete files are written by a distributed Spark job at DELETE time
  * (LakeWriteUtil.deleteWhere). Every read, and every file rewrite
  * (all of which read through [[MaskedRead]]), computes only the
  * metadata-level relevance index ([[masksFor]], from footer stats) on
  * the driver; mask CONTENT is read by the executor scanning the
  * masked file ([[deletedFor]]). Only commit validation, changelog
  * diffs, the `position_deletes` metadata table and the procedures'
  * file choice (rewrite_data_files leaving masked files to the fold,
  * rewrite_position_delete_files picking them) still read masks on
  * the driver. Reads are cached per-JVM (immutable files).
  */
object PosDeletes {

  val DeleteSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file_path",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType, nullable = false)))

  // per-JVM LRU (driver AND executors): delete files are immutable, so
  // entries never invalidate; access order keeps the hot masks resident
  private val cache: java.util.Map[String, Map[String, Array[Long]]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Map[String, Array[Long]]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Map[String, Array[Long]]]): Boolean =
          size() > 64
      })

  /** The key of a data file: its path without scheme or authority. */
  def norm(p: String): String = new Path(p).toUri.getPath

  /** Column twin of [[norm]] for executor-side keys (the path-set
    * joins of the orphan sweep): strips `scheme:` and a `//authority`. */
  def normCol(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9.+-]*:(//[^/]*)?", "")

  /** Could `deleteFile` mask rows of the data file at `normDataPath`?
    * Decided purely from the delete file's `file_path` footer min/max
    * stats — metadata, no IO. Delete files are written sorted by
    * (file_path, pos), so the bounds are tight. Missing stats keep the
    * file conservatively relevant. */
  def mayMask(deleteFile: DataFileMeta, normDataPath: String): Boolean =
    (deleteFile.minValues.get("file_path"),
      deleteFile.maxValues.get("file_path")) match {
      case (Some(mn), Some(mx)) => mn <= normDataPath && normDataPath <= mx
      case _ => true
    }

  /** Relevance index for the scan path: normalized data path → delete
    * files that may mask it (entries with no relevant masks omitted).
    * Metadata-only — the driver never loads mask CONTENT for planning;
    * each scan task reads only its own file's relevant delete files
    * (see PosDeleteScan), so at 100 TB the masks never funnel through
    * the driver. A false positive (bounds cover a file with no masked
    * rows) only routes that file through the row-based reader with an
    * empty mask — results identical. */
  def masksFor(files: Seq[DataFileMeta], dels: Seq[DataFileMeta])
      : Map[String, Seq[String]] =
    if (dels.isEmpty) Map.empty
    else files.flatMap { f =>
      val np = norm(f.path)
      val rel = dels.filter(mayMask(_, np)).map(_.path)
      if (rel.isEmpty) None else Some(np -> rel)
    }.toMap

  /** Sorted deleted positions of ONE data file, merged over the given
    * delete files. Runs wherever it is called — scan tasks call it on
    * EXECUTORS, reading through the executor-local cache. */
  def deletedFor(dataPath: String, deleteFiles: Seq[String],
      conf: Configuration): Array[Long] = {
    val np = norm(dataPath)
    val merged = mutable.ArrayBuffer[Long]()
    for (d <- deleteFiles; ps <- readPairs(d, conf).get(np)) merged ++= ps
    merged.toArray.sorted.distinct
  }

  /** Positions deleted per (normalized) data-file path, merged over
    * `deleteFiles`. Arrays are sorted ascending. */
  def deletedMap(deleteFiles: Seq[DataFileMeta],
      conf: Configuration): Map[String, Array[Long]] = {
    if (deleteFiles.isEmpty) return Map.empty
    val merged = mutable.Map[String, mutable.ArrayBuffer[Long]]()
    for (df <- deleteFiles; (file, ps) <- readPairs(df.path, conf))
      merged.getOrElseUpdate(file, mutable.ArrayBuffer.empty) ++= ps
    merged.map { case (f, ps) => f -> ps.toArray.sorted.distinct }.toMap
  }

  private def readPairs(path: String, conf: Configuration): Map[String, Array[Long]] = {
    val cached = cache.get(path)
    if (cached != null) return cached
    val reader = ParquetReader
      .builder(new GroupReadSupport(), new Path(path)).withConf(conf).build()
    val acc = mutable.Map[String, mutable.ArrayBuffer[Long]]()
    try {
      var g = reader.read()
      while (g != null) {
        acc.getOrElseUpdate(g.getString("file_path", 0),
          mutable.ArrayBuffer.empty) += g.getLong("pos", 0)
        g = reader.read()
      }
    } finally reader.close()
    val out = acc.map { case (f, ps) => f -> ps.toArray }.toMap
    cache.put(path, out)
    out
  }
}
