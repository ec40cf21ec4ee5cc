package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, BoundReference, Cast, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** The engine's one data-file writer: every data file of a table
  * write (appends, overwrites, copy-on-write row-level plans, the
  * inserts of a merge-on-read delta, streaming epochs) and of a file
  * rewrite ([[LakeWriteUtil.rewriteFiles]]) is written by a
  * [[LakeFanoutDataWriter]].
  *
  * The writer evaluates a key per row and ROLLS to a new file whenever
  * the key changes. For a table write the key is the row's partition
  * tuple, so every file covers exactly one tuple (the invariant that
  * dynamic overwrite, runtime group filtering and the partitions
  * metadata table rely on); an unpartitioned table's tuple is empty.
  * For a rewrite the key is the rows' trailing (tag, slot) columns,
  * which the files do not store. Combined with a within-task ordering
  * on the key (the write's required ordering, the rewrite's sort), each
  * task keeps exactly ONE open parquet writer (bounded memory at any
  * partition count) and produces one file per key; unsorted input
  * still splits correctly, just into more files. Each file's key comes
  * back in the task's commit message.
  *
  * The table's parquet tuning ([[WriteTuning]]) goes into the writer's
  * Hadoop conf, which resolves `file:` to [[LocalFs]] and is broadcast
  * once per distinct conf ([[ConfBroadcasts]]): a write task
  * deserializes no Configuration.
  *
  * Atomicity: rows are written under
  * `stagingDir/_temporary/attempt-<partition>-<task>/` and moved into
  * the staging root only at task commit, so a failed or speculative
  * attempt never leaks rows into the snapshot commit.
  */
object LakeFanoutWrite {

  /** Driver side of a table write: resolve the partition transform
    * expressions against the write schema once and bind them to
    * ordinals for executor-side eval. */
  def factory(spark: SparkSession, meta: TableMeta, schema: StructType,
      stagingDir: String): DataWriterFactory = {
    // A DELETE-only delta write's schema carries no data columns at
    // all — its partition transforms cannot (and need not) resolve,
    // because no insert row can ever reach this factory; building the
    // factory must not fail analysis for them. If a row DOES arrive
    // with a truncated spec, the writer fails loudly below rather
    // than silently mis-partitioning.
    val resolvable = meta.partitionSpec.filter(f =>
      Transforms.leafType(schema, f.sourceColumn).isDefined)
    val bound =
      if (resolvable.isEmpty) Nil
      else {
        // Resolve the transform Columns through a real (empty) Dataset
        // so the analyzed plan carries plain catalyst expressions
        val cols = resolvable.zipWithIndex.map { case (f, i) =>
          Transforms.eval(f, schema, Transforms.zoneOf(meta)).as(s"__p$i")
        }
        val analyzed = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
          .select(cols: _*).queryExecution.analyzed
        analyzed.collectFirst {
          case p: Project =>
            val input = p.child.output
            p.projectList.map {
              case a: Alias => BindReferences.bindReference(a.child, input)
              case e => BindReferences.bindReference(e: Expression, input)
            }
        }.getOrElse(throw new IllegalStateException(
          s"could not resolve partition transforms for ${meta.location}"))
      }
    val (owf, conf) = parquetWriter(spark, schema,
      WriteTuning.hadoopOptions(meta), WriteTuning.options(meta))
    new LakeFanoutWriterFactory(owf, bound, schema, stagingDir, conf,
      WriteTuning.targetFileSize(meta),
      specTruncated = resolvable.size != meta.partitionSpec.size,
      tupleNames = resolvable.map(_.name))
  }

  /** Driver side of a rewrite: each row holds the `dataSchema` columns
    * followed by the `keys` columns; files roll on the keys' values,
    * recorded in the commit message under the keys' names, and store
    * the data columns only. */
  def keyed(spark: SparkSession, meta: TableMeta, dataSchema: StructType,
      keys: Seq[StructField], dir: String): LakeFanoutWriterFactory = {
    val exprs = keys.zipWithIndex.map { case (k, i) =>
      Cast(BoundReference(dataSchema.size + i, k.dataType, k.nullable), StringType)
    }
    val (owf, conf) = parquetWriter(spark, dataSchema,
      WriteTuning.hadoopOptions(meta), WriteTuning.options(meta))
    new LakeFanoutWriterFactory(owf, exprs, dataSchema, dir, conf,
      WriteTuning.targetFileSize(meta), tupleNames = keys.map(_.name))
  }

  /** A parquet OutputWriterFactory for `schema` and the broadcast of
    * its job conf: the session's Hadoop conf with `file:` resolved to
    * [[LocalFs]], Hadoop-keyed parquet tunables set directly and the
    * DataSource-level `options` (the codec) through prepareWrite. */
  private[lake] def parquetWriter(spark: SparkSession, schema: StructType,
      hadoopOptions: Map[String, String] = Map.empty,
      options: Map[String, String] = Map.empty)
      : (OutputWriterFactory, Broadcast[SerializableConfiguration]) = {
    val job = Job.getInstance(LocalFs.install(spark.sessionState.newHadoopConf()))
    hadoopOptions.foreach { case (k, v) => job.getConfiguration.set(k, v) }
    val owf = new ParquetFileFormat().prepareWrite(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], job,
      options, schema)
    (owf, ConfBroadcasts(spark.sparkContext, job.getConfiguration))
  }

  /** Writes the rows of `df` through `factory` in ONE Spark job, under
    * an SQL execution of its own, and returns every task's commit
    * message. A failing task aborts its writer, which drops its
    * attempt's files. `tasks`, when given, is the number of input
    * partitions the caller planned the job's tasks to be: a plan that
    * regroups them fails before any task runs. */
  def run(df: DataFrame, factory: DataWriterFactory,
      tasks: Option[Int] = None): Seq[LakeFanoutCommit] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("lake file write")) {
      val rdd = qe.toRdd
      tasks.filter(_ != rdd.getNumPartitions).foreach(n =>
        throw new IllegalStateException(s"the write plans " +
          s"${rdd.getNumPartitions} tasks for $n input partitions: each " +
          "task must read exactly one of them"))
      rdd.sparkContext.runJob(rdd,
        (ctx: TaskContext, rows: Iterator[InternalRow]) => {
          val w = factory.createWriter(ctx.partitionId(), ctx.taskAttemptId())
          try {
            rows.foreach(w.write)
            w.commit().asInstanceOf[LakeFanoutCommit]
          } catch {
            case t: Throwable =>
              try w.abort() catch { case s: Throwable => t.addSuppressed(s) }
              throw t
          } finally w.close()
        }).toSeq
    }
  }
}

class LakeFanoutWriterFactory(owf: OutputWriterFactory,
    tupleExprs: Seq[Expression], schema: StructType, stagingDir: String,
    conf: Broadcast[SerializableConfiguration], targetBytes: Long,
    specTruncated: Boolean = false,
    tupleNames: Seq[String] = Nil) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    if (specTruncated)
      return new DataWriter[InternalRow] {
        override def write(row: InternalRow): Unit =
          throw new IllegalStateException(
            "insert row reached a fanout writer whose partition spec " +
              "could not resolve against the write schema — the plan " +
              "routed a data row into a delete-only delta write")
        override def commit(): WriterCommitMessage = LakeFanoutCommit(Nil)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
    new LakeFanoutDataWriter(owf, tupleExprs, schema, stagingDir,
      conf.value.value, partitionId, taskId, targetBytes, tupleNames)
  }
}

/** `files` zips with `tuples`: each staged file's partition tuple,
  * recorded AT WRITE TIME (the writer rolls per tuple, so every file
  * is single-tuple by construction). Carrying the tuple in the commit
  * message lets the snapshot commit skip the partitionTuples Spark job
  * (a scan + distinct + collect of everything just staged) every
  * partitioned write used to pay. Values use the same formatting that
  * job produced (`String.valueOf` of the stringified transform), so
  * stored partitionValues stay byte-identical either way. */
case class LakeFanoutCommit(files: Seq[String],
    tuples: Seq[Map[String, String]] = Nil) extends WriterCommitMessage

object LakeFanoutCommit {
  /** Every staged file's partition tuple, by normalized path, from the
    * messages of a fanout write; None when a message is not one. */
  def tuples(messages: Array[WriterCommitMessage])
      : Option[Map[String, Map[String, String]]] = {
    val ms = messages.toSeq.filter(_ != null)
    val fan = ms.collect { case m: LakeFanoutCommit => m }
    if (fan.size == ms.size && fan.forall(m => m.files.size == m.tuples.size))
      Some(fan.flatMap(m => m.files.map(PosDeletes.norm).zip(m.tuples)).toMap)
    else None
  }
}

class LakeFanoutDataWriter(owf: OutputWriterFactory,
    tupleExprs: Seq[Expression], schema: StructType, stagingDir: String,
    conf: Configuration, partitionId: Int, taskId: Long,
    targetBytes: Long = WriteTuning.DefaultTargetFileSize,
    tupleNames: Seq[String] = Nil)
  extends DataWriter[InternalRow] {

  private val fs = new Path(stagingDir).getFileSystem(conf)
  private val attemptDir = new Path(stagingDir,
    s"_temporary/attempt-$partitionId-$taskId")
  private val proj = UnsafeProjection.create(tupleExprs)
  // rows wider than the file schema carry trailing key columns
  private var data: ProjectingInternalRow = _
  private var current: OutputWriter = _
  private var currentKey: String = null
  private var currentPath: Path = _
  private var bytesSinceSizeCheck = 0L
  private var fileCount = 0
  private val written = Seq.newBuilder[Path]
  // per-file partition tuple, in `written` order (null values keep the
  // "null" string partitionTuples' String.valueOf produced)
  private val tuples = Seq.newBuilder[Map[String, String]]
  private var currentTuple: Map[String, String] = Map.empty

  private def tupleKey(row: InternalRow): String = {
    val t = proj(row) // all transforms are cast to string in Transforms.eval
    (0 until tupleExprs.size).map(i =>
      if (t.isNullAt(i)) "__NULL__" else t.getUTF8String(i).toString)
      .mkString("//|//")
  }

  private def tupleOf(row: InternalRow): Map[String, String] = {
    val t = proj(row)
    tupleNames.zipWithIndex.map { case (n, i) =>
      n -> (if (t.isNullAt(i)) "null" else t.getUTF8String(i).toString)
    }.toMap
  }

  private def roll(): Unit = {
    if (current != null) { current.close(); current = null }
    val file = new Path(attemptDir,
      f"part-$partitionId%05d-$taskId-$fileCount%04d.parquet")
    fileCount += 1
    written += file
    val attemptId = new TaskAttemptID("lake", 0, TaskType.MAP, partitionId, fileCount)
    current = owf.newInstance(file.toString, schema,
      new TaskAttemptContextImpl(conf, attemptId))
    currentPath = file
    bytesSinceSizeCheck = 0L
  }

  override def write(row: InternalRow): Unit = {
    val key = tupleKey(row)
    if (current == null || key != currentKey) {
      roll(); currentKey = key; currentTuple = tupleOf(row)
      tuples += currentTuple
    }
    if (row.numFields > schema.size) {
      if (data == null) data = ProjectingInternalRow(schema, 0 until schema.size)
      data.project(row)
      current.write(data)
    } else current.write(row)
    // Target-file-size roll-over (write.target-file-size-bytes): a
    // partition tuple receiving many gigabytes in one task must not
    // become one huge file — MoR-masked reads never split a data file,
    // so file size bounds read parallelism. In-memory row-size
    // accounting (UnsafeRow byte size) gates an on-disk length probe:
    // no filesystem RPC until roughly a compressed target's worth of
    // raw bytes has been written (vs one getFileStatus per 128 rows —
    // ~78k NameNode RPCs for a 10M-row task). The probe itself is
    // Try-wrapped: object stores (S3A) materialize a file only at
    // close, so mid-write getFileStatus throws FileNotFoundException
    // there — size rolls degrade to close-time granularity instead of
    // failing every write task.
    bytesSinceSizeCheck += (row match {
      case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
        u.getSizeInBytes.toLong
      case _ => 64L
    })
    if (bytesSinceSizeCheck >= targetBytes) {
      bytesSinceSizeCheck = 0L
      if (scala.util.Try(fs.getFileStatus(currentPath).getLen)
          .getOrElse(0L) >= targetBytes) {
        // size roll-over within one tuple: the new file keeps the
        // current tuple (tuples stays aligned with written)
        roll()
        tuples += currentTuple
      }
    }
  }

  override def commit(): WriterCommitMessage = {
    if (current != null) { current.close(); current = null }
    val files = written.result()
    // HDFS-style filesystems report rename failure via a false return,
    // not an exception; an unchecked failure here would delete the part
    // file with attemptDir below while the commit message still lists
    // it — silent loss of the task's inserts. Fail the attempt instead.
    files.foreach { f =>
      val dest = new Path(stagingDir, f.getName)
      if (!fs.rename(f, dest) || !fs.exists(dest))
        throw new java.io.IOException(s"failed to promote $f to $dest")
    }
    fs.delete(attemptDir, true)
    LakeFanoutCommit(
      files.map(f => fs.makeQualified(new Path(stagingDir, f.getName)).toString),
      tuples.result())
  }

  override def abort(): Unit = {
    if (current != null) { try current.close() catch { case _: Exception => () }; current = null }
    fs.delete(attemptDir, true)
  }

  override def close(): Unit =
    if (current != null) { current.close(); current = null }
}
