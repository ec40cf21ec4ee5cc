package graft.perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-side reads of a lake table's metadata log and directories:
  * the `lake.metadata` probes of a traced run and the bases of
  * `space_amp`. */
object LakeProbe {

  /** The head of a table as the metadata log holds it. `files` maps
    * every live data and position-delete file to its size. */
  final case class Head(version: Int, snapshots: Int, spilled: Int,
      files: Map[String, Long], jsonBytes: Long, loadMs: Double)

  /** Load the head through `LakeMeta.of` (timed as `lake.metadata.load`,
    * in a traced op of its own, `op.probe`, outside any measured op)
    * and size its newest `metadata/v*.json`. */
  def head(spark: SparkSession, parts: Seq[String], trace: Trace): Head = {
    val t = System.nanoTime()
    val m = trace.op("probe") {
      trace.span("lake.metadata.load") { graft.lake.LakeMeta.of(spark, parts) }
    }
    val loadMs = (System.nanoTime() - t) / 1e6
    val snap = m.currentSnapshot("main")
    val files = snap.toSeq.flatMap(s => s.files ++ s.deleteFiles)
      .map(f => f.path -> f.sizeBytes).toMap
    val json = new Path(new Path(m.location, "metadata"), f"v${m.version}%05d.json")
    val fs = json.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Head(m.version, m.snapshots.size, m.snapshots.count(_.manifestPath.isDefined),
      files, fs.getFileStatus(json).getLen, loadMs)
  }

  def location(spark: SparkSession, parts: Seq[String]): String =
    graft.lake.LakeMeta.of(spark, parts).location

  /** Bytes of every file under `dir` (data, delete files, metadata). */
  def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Bytes of `rows` written once as one plain parquet file under
    * `scratch` (deleted again). */
  def parquetBytes(spark: SparkSession, rows: DataFrame, scratch: String): Long = {
    val p = new Path(scratch)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    rows.coalesce(1).write.mode("overwrite").parquet(scratch)
    try fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    finally fs.delete(p, true)
  }
}
