package graft.lake

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences,
  Expression, InterpretedUnsafeProjection, PlanExpression, Predicate, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.{CollectLimitExec, ColumnarRule,
  ColumnarToRowExec, FilterExec, InputAdapter, ProjectExec, SQLExecution,
  SparkPlan, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.vectorized.ColumnarBatch

import scala.jdk.CollectionConverters._

/** A lake read collected on the driver when it plans at most one
  * input partition: the fetch-task conversion of Hive
  * (`hive.fetch.task.conversion`) for this engine.
  *
  * A point read on a partition-pruned table plans one file (or none),
  * so its job is at most one task. The job itself (closure cleaning, a
  * whole-stage codegen compile for every new literal, the task-binary
  * broadcast, task scheduling) costs more than reading the file. The
  * reader factory's Hadoop conf is no job cost: both paths take its
  * broadcast from [[ConfBroadcasts]], once per read configuration.
  * For the plan shape
  * `[CollectLimitExec] → [ProjectExec] → [FilterExec] →
  * [ColumnarToRowExec] → BatchScanExec(LakeBatchScan)` with
  * deterministic, subquery-free expressions and no runtime filter,
  * `collect`/`take` read that partition here, through the scan's
  * own reader factory: masks, equality deletes and schema epochs apply
  * exactly as in a task. Filter and projection are evaluated
  * interpreted, so nothing compiles per literal. The scan's driver
  * metrics and row counts are posted as the job path would post them.
  *
  * Every other consumer (`execute()`: writes, caches, `toRdd`), and any
  * read planning more than one partition, runs the unchanged child.
  * `BatchScanExec` stays in the tree, so `explain` and the scan
  * metrics look the same on both paths. */
case class LakeDriverReadExec(child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override def executeCollect(): Array[InternalRow] =
    driverRead(Int.MaxValue).getOrElse(child.executeCollect())

  override def executeTake(n: Int): Array[InternalRow] =
    driverRead(n).getOrElse(child.executeTake(n))

  override protected def withNewChildInternal(c: SparkPlan): LakeDriverReadExec =
    copy(child = c)

  @transient private lazy val shape = LakeDriverRead.shape(child)

  /** The first `n` rows, or None when the scan plans more than one
    * input partition. */
  private def driverRead(n: Int): Option[Array[InternalRow]] = {
    val s = shape.getOrElse(return None)
    val parts = s.scan.inputPartitions
    if (parts.size > 1) return None
    // CollectLimitExec keeps `limit` rows (offset included), then drops
    // `offset` of them
    val (limit, offset) = s.limit.getOrElse((-1, 0))
    val want = math.min(if (limit >= 0) limit.toLong else Long.MaxValue,
      offset.toLong + n)
    val input = s.scan.output
    val condition = s.filter.map(f =>
      Predicate.createInterpreted(BindReferences.bindReference(f.condition, input)))
    val projectInput = s.filter.map(_.output).getOrElse(input)
    val projection = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(
        s.project.map(_.projectList).getOrElse(projectInput), projectInput))

    val out = Array.newBuilder[InternalRow]
    var kept = 0L
    var read = 0L
    var batches = 0L
    def consume(rows: Iterator[InternalRow]): Unit =
      while (kept < want && rows.hasNext) {
        val r = rows.next()
        read += 1
        if (condition.forall(_.eval(r))) {
          out += projection(r).copy()
          kept += 1
        }
      }
    def drain[T](reader: PartitionReader[T])(rows: T => Iterator[InternalRow]): Unit =
      try while (kept < want && reader.next()) consume(rows(reader.get()))
      finally reader.close()
    parts.headOption.foreach { part =>
      val factory = s.scan.readerFactory
      if (s.scan.supportsColumnar)
        drain(factory.createColumnarReader(part)) { (b: ColumnarBatch) =>
          batches += 1
          b.rowIterator().asScala
        }
      else drain(factory.createReader(part))(Iterator.single)
    }

    postMetrics(s, read, kept, batches)
    Some(out.result().drop(offset))
  }

  private def postMetrics(s: LakeDriverRead.Shape, read: Long, kept: Long,
      batches: Long): Unit = {
    val updated = Seq.newBuilder[SQLMetric]
    def add(m: Map[String, SQLMetric], name: String, v: Long): Unit =
      m.get(name).foreach { x => x.add(v); updated += x }
    s.scan.scan.reportDriverMetrics().foreach { d =>
      s.scan.metrics.get(d.name()).foreach { x => x.set(d.value()); updated += x }
    }
    add(s.scan.metrics, "numOutputRows", read)
    s.c2r.foreach { c =>
      add(c.metrics, "numOutputRows", read)
      add(c.metrics, "numInputBatches", batches)
    }
    s.filter.foreach(f => add(f.metrics, "numOutputRows", kept))
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      updated.result())
  }
}

/** Wraps a plan of [[LakeDriverReadExec]]'s shape at the root. Runs
  * after the columnar transitions, so the plan it sees is the one that
  * executes (before whole-stage codegen collapses it). */
object LakeDriverRead extends Rule[SparkPlan] {

  final case class Shape(limit: Option[(Int, Int)], project: Option[ProjectExec],
      filter: Option[FilterExec], c2r: Option[ColumnarToRowExec],
      scan: BatchScanExec)

  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case _: LakeDriverReadExec => plan
    case p if !p.supportsColumnar && shape(p).isDefined => LakeDriverReadExec(p)
    case _ => plan
  }

  val columnarRule: ColumnarRule = new ColumnarRule {
    override def postColumnarTransitions: Rule[SparkPlan] = LakeDriverRead
  }

  /** The shape of `plan`, looking through the codegen wrappers. */
  private[lake] def shape(plan: SparkPlan): Option[Shape] = {
    def strip(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => strip(w.child)
      case i: InputAdapter => strip(i.child)
      case o => o
    }
    def optional[A <: SparkPlan](p: SparkPlan)(pick: PartialFunction[SparkPlan, A])
        : (Option[A], SparkPlan) =
      pick.lift(p) match {
        case Some(a) => (Some(a), strip(a.children.head))
        case None => (None, p)
      }
    val (limit, l) = optional(strip(plan)) { case c: CollectLimitExec => c }
    val (project, p) = optional(l) { case x: ProjectExec => x }
    val (filter, f) = optional(p) { case x: FilterExec => x }
    val (c2r, leaf) = optional(f) { case x: ColumnarToRowExec => x }
    val exprs: Seq[Expression] =
      project.toSeq.flatMap(_.projectList) ++ filter.map(_.condition)
    leaf match {
      case b: BatchScanExec if b.scan.isInstanceOf[LakeBatchScan] &&
          b.runtimeFilters.isEmpty && exprs.forall(e =>
            e.deterministic && !e.exists(_.isInstanceOf[PlanExpression[_]])) =>
        Some(Shape(limit.map(c => (c.limit, c.offset)), project, filter, c2r, b))
      case _ => None
    }
  }
}
