package graft.perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in nanoseconds on the wall clock. All spans of
  * one benchmark op share `op`; `parent` is 0 for an op's root. */
final case class Span(op: Long, id: Long, parent: Long, name: String,
    start: Long, end: Long, detail: String = "") {
  /** `lake.<module>` spans belong to that lake module, every other span
    * to its first name component (`catalyst`, `exec`, `mv`, ...). */
  def layer: String = {
    val p = name.split('.')
    if (p(0) == "lake" && p.length > 1) s"lake.${p(1)}" else p(0)
  }
}

/** Lake scan node metrics of one executed plan (LakeScanMetrics). */
final case class ScanCounts(planned: Long, skipped: Long, masked: Long,
    bytes: Long) {
  def +(o: ScanCounts): ScanCounts = ScanCounts(planned + o.planned,
    skipped + o.skipped, masked + o.masked, bytes + o.bytes)
}
object ScanCounts { val Zero = ScanCounts(0, 0, 0, 0) }

/** Per-op work the SparkListener saw. */
final case class ExecCounts(jobs: Int, tasks: Long, cpuNs: Long,
    shuffleBytes: Long, spillBytes: Long, jobNs: Long)

/** Spans recorded by the benchmark's own code around every call into a
  * layer, plus the three engine-side sources joined to them at the end:
  * the planning tracker's phases (QueryExecutionListener), the jobs of
  * each op (SparkListener, tied through a per-op job group) and the
  * lake scan node metrics of each executed plan. Everything stays in
  * memory until [[finish]]. Disabled, every method is a pass-through. */
final class Trace(val on: Boolean) {
  import Trace._
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = System.nanoTime() + base

  private val own = ArrayBuffer[Span]()
  private var nextId = 1L
  private var stack: List[Long] = Nil // open span ids, innermost first
  private var op = 0L
  def currentOp: Long = op
  private var closed = 0L
  /** Id of the span that closed last (0 before any). */
  def lastClosed: Long = closed
  private var sc: org.apache.spark.SparkContext = _

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  private val qes = new java.util.concurrent.ConcurrentLinkedQueue[QeRec]()

  private val GroupPrefix = "perfbench-op-"

  def install(spark: SparkSession): Unit = if (on) {
    sc = spark.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        jobs.put(e.jobId, JobRec(e.jobId, group,
          e.stageInfos.lastOption.map(_.name).getOrElse(""),
          e.time * 1000000L, 0L, e.stageIds))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId)
        if (r != null) r.end = e.time * 1000000L
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val a = stages.computeIfAbsent(e.stageId, _ => StageAgg())
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          if (m != null) {
            a.cpuNs += m.executorCpuTime
            a.shuffle += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
    })
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (n, p) =>
      (n, p.startTimeMs * 1000000L, p.endTimeMs * 1000000L)
    }
    val scans = try Trace.scanCounts(qe.executedPlan)
      catch { case scala.util.control.NonFatal(_) => ScanCounts.Zero }
    qes.add(QeRec(phases, scans))
  }

  /** Run `f` as one benchmark op: a root span and a job group of its own. */
  def op[T](kind: String)(f: => T): T =
    if (!on) f
    else {
      op += 1
      if (sc != null) sc.setJobGroup(GroupPrefix + op, kind)
      try span(s"op.$kind")(f)
      finally if (sc != null) sc.clearJobGroup()
    }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      val t0 = now
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        own += Span(op, id, parent, name, t0, now)
        closed = id
      }
    }

  /** Record an interval measured elsewhere (e.g. a commit timestamp
    * pair) as a child of the closed span `parent`, in that span's op.
    * Lets bookkeeping that derives the interval run after the op, off
    * its clock. */
  def interval(name: String, start: Long, end: Long, parent: Long): Unit = if (on) {
    val o = own.findLast(_.id == parent).map(_.op).getOrElse(op)
    own += Span(o, nextId, parent, name, start, end)
    nextId += 1
  }

  /** Join the engine-side records to the benchmark's spans. Jobs carry
    * their op in the job group; jobs started on threads that do not
    * inherit it (streaming, parallel driver steps) and planning phases
    * are placed by time: one client thread runs one op at a time, so
    * the op whose root span contains an interval owns it. Each joined
    * span hangs under the deepest benchmark span containing it. */
  def finish(): Result = {
    if (!on) return Result(Nil, Map.empty, Map.empty, Map.empty)
    if (sc != null) org.apache.spark.PerfbenchBus.drain(sc)
    val slack = 1000000L // Spark reports milliseconds
    val roots = own.filter(_.parent == 0).sortBy(_.start)
    val rootOf = roots.map(r => r.op -> r).toMap
    def opAt(t: Long): Long =
      roots.find(r => r.start <= t && t <= r.end).map(_.op).getOrElse(0L)
    val all = ArrayBuffer[Span]() ++= own
    val byOp = scala.collection.mutable.Map[Long, ArrayBuffer[Span]]()
    own.foreach(x => byOp.getOrElseUpdate(x.op, ArrayBuffer()) += x)
    def add(x: Span): Unit = { all += x; byOp.getOrElseUpdate(x.op, ArrayBuffer()) += x }
    def deepest(opId: Long, s: Long, e: Long): Long = {
      val c = byOp.getOrElse(opId, ArrayBuffer()).filter(x =>
        x.start - slack <= s && e <= x.end + slack)
      if (c.isEmpty) 0L else c.maxBy(x => (x.start, -x.end)).id
    }
    var id = nextId
    val catalyst = scala.collection.mutable.Map[Long, Map[String, Long]]()
    val scans = scala.collection.mutable.Map[Long, ScanCounts]()
    // an interval belongs to the op whose root contains its midpoint;
    // a tracker re-measured by a later plan stretches its phases past
    // the op, so only the part inside the op counts
    def place(s0: Long, e0: Long): Option[(Long, Long, Long)] = {
      val o = opAt((s0 + e0) / 2)
      if (o == 0) None
      else {
        val r = rootOf(o)
        val (s, e) = (math.max(s0, r.start), math.min(e0, r.end))
        if (e > s) Some((o, s, e)) else None
      }
    }
    qes.forEach { q =>
      q.phases.foreach { case (n, s0, e0) =>
        place(s0, e0).foreach { case (o, s, e) =>
          add(Span(o, id, deepest(o, s, e), s"catalyst.$n", s, e))
          id += 1
          val m = catalyst.getOrElse(o, Map.empty)
          catalyst(o) = m.updated(n, m.getOrElse(n, 0L) + (e - s))
        }
      }
      val last = q.phases.sortBy(_._2).lastOption
      last.flatMap { case (_, s0, e0) => place(s0, e0) }.foreach { case (o, _, _) =>
        scans(o) = scans.getOrElse(o, ScanCounts.Zero) + q.scans
      }
    }
    val exec = scala.collection.mutable.Map[Long, ExecCounts]()
    jobs.values().forEach { j =>
      val end = if (j.end == 0L) j.start else j.end
      val o =
        if (j.group.startsWith(GroupPrefix)) j.group.stripPrefix(GroupPrefix).toLong
        else opAt((j.start + end) / 2)
      if (o != 0) {
        add(Span(o, id, deepest(o, j.start, end), "exec.job", j.start, end,
          j.callSite))
        id += 1
        val agg = j.stages.flatMap(s => Option(stages.get(s)))
        val prev = exec.getOrElse(o, ExecCounts(0, 0, 0, 0, 0, 0))
        exec(o) = ExecCounts(prev.jobs + 1, prev.tasks + agg.map(_.tasks).sum,
          prev.cpuNs + agg.map(_.cpuNs).sum, prev.shuffleBytes + agg.map(_.shuffle).sum,
          prev.spillBytes + agg.map(_.spill).sum, 0L)
      }
    }
    // job time per op is the union of its job intervals
    val jobNs = all.filter(_.name == "exec.job").groupBy(_.op).map { case (o, js) =>
      o -> Stats.unionLength(js.map(s => (s.start, s.end)).toSeq)
    }
    val execOut = exec.map { case (o, c) => o -> c.copy(jobNs = jobNs.getOrElse(o, 0L)) }
    Result(all.toSeq, execOut.toMap, scans.toMap, catalyst.toMap)
  }

  /** Write spans as JSON lines (op, id, parent, name, start_ns, end_ns). */
  def write(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(s => (s.op, s.start)).foreach { s =>
      w.write(Main.json(ListMap("op" -> s.op, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "detail" -> s.detail)))
      w.newLine()
    } finally w.close()
  }
}

object Trace {
  /** Result of a traced run: every span, and per-op engine counts. */
  final case class Result(spans: Seq[Span], exec: Map[Long, ExecCounts],
      scans: Map[Long, ScanCounts], catalyst: Map[Long, Map[String, Long]])

  private final case class JobRec(id: Int, group: String, callSite: String,
      start: Long, var end: Long, stages: Seq[Int])
  private final case class StageAgg(var tasks: Long = 0, var cpuNs: Long = 0,
      var shuffle: Long = 0, var spill: Long = 0)
  private final case class QeRec(phases: Seq[(String, Long, Long)],
      scans: ScanCounts)

  /** Sum of the lake scan node metrics over every scan of a plan,
    * looking through adaptive execution and subqueries. */
  def scanCounts(plan: SparkPlan): ScanCounts = {
    var acc = ScanCounts.Zero
    def visit(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case b: BatchScanExec if b.metrics.contains("plannedDataFiles") =>
          def v(k: String) = b.metrics.get(k).map(_.value).getOrElse(0L)
          acc = acc + ScanCounts(v("plannedDataFiles"), v("skippedDataFiles"),
            v("maskedDataFiles"), v("plannedBytes"))
        case _ =>
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(plan)
    acc
  }
}
