package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Extraction, Formats, JDouble, JNull}
import org.json4s.jackson.JsonMethods

/** One measured op: its class (`write`, `read`, `tt`, `maint`, `epoch`),
  * latency, whether its answer checked out, and the user rows it
  * inserted, modified or ingested. `op` joins it to the trace. */
final case class Sample(cls: String, kind: String, op: Long, ms: Double,
    ok: Boolean, rows: Long)

/** What a workload hands the harness: a closed loop with one client
  * thread. [[Ctx.timed]] times one op; [[Ctx.check]] runs an untimed
  * correctness check whose time is taken out of the measured phase. */
final class Ctx(val spark: SparkSession, val trace: Trace, seconds: Int) {
  val samples = ArrayBuffer[Sample]()
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer[String]()
  private var t0 = 0L
  private var paused = 0L
  private var stopped = 0L

  def start(): Unit = t0 = System.nanoTime()
  def stop(): Unit = stopped = System.nanoTime()
  def running: Boolean = System.nanoTime() - t0 - paused < seconds * 1000000000L
  def measuredS: Double = (stopped - t0 - paused) / 1e9
  /** Untimed work inside the measured phase (checks, bookkeeping). */
  def pausedS: Double = paused / 1e9

  /** Time one op. `body` returns whether the answer was right; a wrong
    * answer or an exception makes the op failed, never a success. */
  def timed(cls: String, kind: String, rows: Long = 0)(body: => Boolean): Boolean = {
    attempted += 1
    var opId = 0L
    val t = System.nanoTime()
    val ok =
      try trace.op(kind) { opId = trace.currentOp; body }
      catch { case scala.util.control.NonFatal(e) => fail(kind, e); false }
    val ms = (System.nanoTime() - t) / 1e6
    if (!ok) { failed += 1; if (errors.size < 20) errors += s"$kind: wrong answer" }
    samples += Sample(cls, kind, opId, ms, ok, if (ok) rows else 0)
    ok
  }

  /** An untimed correctness check; counts toward attempted/failed. */
  def check(name: String)(body: => Boolean): Boolean = {
    val t = System.nanoTime()
    attempted += 1
    val ok =
      try body
      catch { case scala.util.control.NonFatal(e) => fail(name, e); false }
    if (!ok) { failed += 1; if (errors.size < 20) errors += s"check $name failed" }
    paused += System.nanoTime() - t
    ok
  }

  /** Benchmark bookkeeping inside the measured phase that is not the
    * system's work (traced-run metadata probes): taken off the clock. */
  def untimed[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally paused += System.nanoTime() - t
  }

  private def fail(what: String, e: Throwable): Unit = {
    System.err.println(s"perfbench: $what failed: $e")
    e.printStackTrace()
    if (errors.size < 20) errors += s"$what: ${e.getClass.getSimpleName}: " +
      String.valueOf(e.getMessage).take(200)
  }
}

/** A workload: set up (repeatable, each time from scratch), then drive
  * its seeded op stream through [[Ctx]] until the time is up. */
trait Workload {
  /** Build the inputs and tables of set-up number `rep`; only the last
    * set-up's tables are measured. */
  def setup(rep: Int): Unit
  /** Drop what set-up `rep` built (not the last one; untimed). */
  def discard(rep: Int): Unit
  /** Untimed ops between set-up and the measured phase (first-query
    * compilation); checked like any other op. */
  def warmUp(ctx: Ctx): Unit
  def measure(ctx: Ctx): Unit
  /** Final untimed checks after the measured phase. */
  def finalCheck(ctx: Ctx): Unit
  /** (bytes under the table directories, bytes of the live rows written
    * once as plain parquet) at the end of the run. */
  def space(): (Long, Long)
  /** Maintenance time the workload measured itself, in seconds, on top
    * of its `maint` samples (in-loop maintenance it cannot wrap). */
  def extraMaintS: Double = 0.0
  /** End-to-end metric names this workload defines (beyond the shared
    * ones), printed in the report. */
  def ownMetrics: Seq[String]
  /** Workload-specific per-layer metrics (traced run). */
  def perLayer(ctx: Ctx, tr: Trace.Result): Map[String, Double]
  /** Extra report lines (sizes, working sets). */
  def describe: Seq[String]
}

object Main {
  /** End-to-end metrics every workload defines; BENCHMARK.json lists
    * exactly these, so each untraced run prints each of them. */
  val Shared: Seq[(String, String)] = Seq("setup_s" -> "s",
    "ops_per_s" -> "1/s", "read_p50_ms" -> "ms", "read_tail_ms" -> "ms",
    "space_amp" -> "ratio")

  val Units: Map[String, String] = Shared.toMap ++ Map(
    "write_p50_ms" -> "ms", "write_tail_ms" -> "ms",
    "timetravel_p50_ms" -> "ms", "rows_per_s" -> "rows/s",
    "epoch_p50_s" -> "s", "maint_s" -> "s", "error_rate" -> "ratio")

  /** Per-layer metrics, printed by every traced run (0 where a
    * workload does not exercise the layer). */
  val PerLayer: Seq[(String, String)] = Seq(
    "lake.metadata.load_ms" -> "ms", "lake.metadata.json_bytes" -> "bytes",
    "lake.metadata.versions_per_write" -> "count",
    "lake.metadata.snapshots" -> "count",
    "lake.metadata.spilled_manifests" -> "count",
    "lake.scan.files_planned" -> "count", "lake.scan.files_skipped" -> "count",
    "lake.scan.skip_ratio" -> "ratio", "lake.scan.masked_files" -> "count",
    "lake.scan.bytes_planned" -> "bytes",
    "lake.write.job_ms" -> "ms", "lake.write.driver_ms" -> "ms",
    "lake.write.jobs" -> "count", "lake.write.files_added" -> "count",
    "lake.write.amp" -> "ratio",
    "lake.procedures.rewrite_ms" -> "ms", "lake.procedures.expire_ms" -> "ms",
    "lake.procedures.bytes_rewritten" -> "bytes",
    "lake.procedures.files_removed" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "mv.rewrite_ratio" -> "ratio", "mv.refresh_ms" -> "ms",
    "exec.jobs" -> "count", "exec.tasks" -> "count", "exec.cpu_s" -> "s",
    "exec.shuffle_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.driver_gap_ms" -> "ms",
    "index.build_s" -> "s", "index.refresh_s" -> "s", "index.maintain_s" -> "s",
    "streaming.feed_ms" -> "ms", "streaming.epoch_ms" -> "ms") ++
    Seq("op", "catalyst", "exec", "lake.write", "lake.scan", "lake.metadata",
      "lake.procedures", "mv", "index", "streaming")
      .map(l => s"selftime.$l" -> "ms")

  /** Set-ups per run; `setup_s` takes their median. */
  val Setups = 3

  private implicit val formats: Formats = DefaultFormats

  /** Compact JSON of maps, sequences and plain values, for the result
    * line, the result file and span dumps. Doubles keep every digit; a
    * statistic whose sample is too small (NaN) is written as null. */
  def json(v: Any): String = JsonMethods.compact(Extraction.decompose(v).transform {
    case JDouble(d) if d.isNaN || d.isInfinite => JNull
  })

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Option[Path], commit: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(
      s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      m.get("out").map(Paths.get(_)), m.getOrElse("commit", "unknown"))
  }

  def session(work: Path, cpus: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new graft.lake.LakeExtensions)
      .withExtensions(new graft.mv.MvExtensions)
      .withExtensions(new graft.readonly.ReadOnlyExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.lk", classOf[graft.lake.LakeCatalog].getName)
      .config("spark.sql.catalog.lk.warehouse", work.resolve("lake").toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case e: Throwable =>
          System.err.println(s"perfbench: aborted: $e")
          e.printStackTrace()
          2
      }
    System.out.flush()
    System.exit(code)
  }

  private def seconds(f: => Unit): Double = {
    val t = System.nanoTime()
    f
    (System.nanoTime() - t) / 1e9
  }

  def run(a: Args): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors()
    val env = Env.record(cpus, a.commit)
    Files.createDirectories(a.work)
    val spark = session(a.work, cpus)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val wl: Workload = a.workload match {
      case "dml_churn" => new DmlChurn(spark, a.seed)
      case "curation_ingest" => new CurationIngest(spark, a.seed, a.work)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val setups = (1 to Setups).map { i =>
      val s = seconds(wl.setup(i))
      if (i < Setups) wl.discard(i)
      s
    }
    val setupS = sessionS + Stats.median(setups)
    val warm = new Ctx(spark, new Trace(false), 0)
    val warmS = seconds(wl.warmUp(warm))
    val trace = new Trace(a.trace)
    trace.install(spark)
    val ctx = new Ctx(spark, trace, a.seconds)
    ctx.attempted += warm.attempted
    ctx.failed += warm.failed
    ctx.errors ++= warm.errors
    wl.measure(ctx)
    val t = System.nanoTime()
    wl.finalCheck(ctx)
    val tr = trace.finish()
    val (stored, live) = wl.space()
    val wrapUpS = (System.nanoTime() - t) / 1e9

    val ok = ctx.samples.filter(_.ok)
    def ms(cls: String) = ok.filter(_.cls == cls).map(_.ms).toSeq
    val reads = Stats.tail(ms("read"))
    val writes = Stats.tail(ms("write"))
    val measured = ctx.measuredS
    val e2e = scala.collection.mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "ops_per_s" -> ok.size / measured,
      "read_p50_ms" -> Stats.median(ms("read")),
      "read_tail_ms" -> reads.value,
      "space_amp" -> Stats.spaceAmp(stored, live),
      "write_p50_ms" -> Stats.median(ms("write")),
      "write_tail_ms" -> writes.value,
      "timetravel_p50_ms" -> Stats.median(ms("tt")),
      "rows_per_s" -> ok.map(_.rows).sum / measured,
      "epoch_p50_s" -> Stats.median(ms("epoch")) / 1e3,
      "maint_s" -> (ms("maint").sum / 1e3 + wl.extraMaintS),
      "error_rate" -> ctx.failed.toDouble / math.max(ctx.attempted, 1))
    val own = Shared.map(_._1) ++ wl.ownMetrics :+ "error_rate"
    val correct = ctx.failed == 0

    val layer: Map[String, Double] =
      if (a.trace) PerLayer.map(_._1 -> 0.0).toMap ++
        generic(ctx, tr) ++ wl.perLayer(ctx, tr)
      else Map.empty

    // report: one line per metric with its unit, then the verdict
    val out = System.out
    out.println(s"perfbench ${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0}")
    out.println(s"  env ${json(env)}")
    wl.describe.foreach(l => out.println(s"  $l"))
    out.println(f"  setup: session ${sessionS}%.3f s, set-ups ${setups.map(s => f"$s%.3f").mkString(" ")} s (median taken)")
    out.println(f"  untimed: warm-up ${warmS}%.3f s, checks in the measured phase " +
      f"${ctx.pausedS}%.3f s, final checks and space ${wrapUpS}%.3f s")
    own.foreach { k =>
      val extra = k match {
        case "read_tail_ms" => s"  (${reads.note})"
        case "write_tail_ms" => s"  (${writes.note})"
        case "space_amp" => s"  (stored $stored B / live parquet $live B)"
        case _ => ""
      }
      val v = if (e2e(k).isNaN) "n/a" else f"${e2e(k)}%.4f"
      out.println(f"  ${k}%-20s $v ${Units(k)}$extra")
    }
    if (a.trace) {
      PerLayer.foreach { case (k, u) => out.println(f"  ${k}%-34s ${layer(k)}%.4f $u") }
    }
    out.println(s"  verdict: ${if (correct) "correct" else "WRONG"} " +
      s"(attempted ${ctx.attempted}, failed ${ctx.failed})" +
      (if (ctx.errors.isEmpty) "" else ctx.errors.mkString(": ", "; ", "")))

    a.out.foreach { p =>
      Files.createDirectories(p.toAbsolutePath.getParent)
      Files.write(p, json(ListMap(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace, "env" -> (env ++ Env.loadEnd()),
        "setups_s" -> setups, "session_s" -> sessionS, "warm_up_s" -> warmS,
        "paused_s" -> ctx.pausedS, "wrap_up_s" -> wrapUpS,
        "measured_s" -> measured, "correct" -> correct,
        "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "errors" -> ctx.errors,
        "end_to_end" -> own.map(k => k -> e2e(k)).toMap,
        "read_tail" -> Map("percentile" -> reads.percentile, "n" -> reads.n),
        "write_tail" -> Map("percentile" -> writes.percentile, "n" -> writes.n),
        "per_layer" -> layer,
        "samples" -> ctx.samples.map(x => Seq(x.cls, x.kind, x.ms, x.ok))))
        .getBytes("UTF-8"))
      if (a.trace) trace.write(p.resolveSibling(
        p.getFileName.toString.stripSuffix(".json") + ".spans.jsonl"), tr.spans)
    }
    val metrics =
      if (a.trace) PerLayer.map { case (k, u) => k -> Map("value" -> layer(k), "unit" -> u) }
      else Shared.map { case (k, u) => k -> Map("value" -> e2e(k), "unit" -> u) }
    out.println(json(ListMap("correct" -> correct, "attempted" -> ctx.attempted,
      "failed" -> ctx.failed, "metrics" -> ListMap(metrics: _*))))
    spark.stop()
    0
  }

  /** Per-layer metrics every workload shares, from the trace: planning
    * phases, listener counts and self time (means per measured op),
    * job-free driver time of writes, and scan node metrics (means per
    * read). Traced-only bookkeeping ops (`op.probe`) are not measured
    * ops; their spans count toward their layers' self time. */
  def generic(ctx: Ctx, tr: Trace.Result): Map[String, Double] = {
    val roots = tr.spans.filter(_.parent == 0)
    val ops = ctx.samples.map(_.op).distinct.toSeq
    val nOps = math.max(ops.size, 1).toDouble
    def perOp(f: Long => Double) = ops.map(f).sum / nOps
    val dur = roots.map(r => r.op -> (r.end - r.start)).toMap
    val ex = tr.exec
    def exec(o: Long) = ex.get(o)
    val writes = ctx.samples.filter(s => s.cls == "write" && s.ok).map(_.op).toSeq
    val reads = ctx.samples.filter(s => (s.cls == "read" || s.cls == "tt") && s.ok).map(_.op).toSeq
    val scan = reads.map(o => tr.scans.getOrElse(o, ScanCounts.Zero))
      .foldLeft(ScanCounts.Zero)(_ + _)
    val nReads = math.max(reads.size, 1).toDouble
    def cat(p: String) = perOp(o => tr.catalyst.getOrElse(o, Map.empty)
      .getOrElse(p, 0L) / 1e6)
    val self = Stats.layerSelfTimes(tr.spans)
    Map(
      "catalyst.analysis_ms" -> cat("analysis"),
      "catalyst.optimization_ms" -> cat("optimization"),
      "catalyst.planning_ms" -> cat("planning"),
      "exec.jobs" -> perOp(o => exec(o).map(_.jobs.toDouble).getOrElse(0.0)),
      "exec.tasks" -> perOp(o => exec(o).map(_.tasks.toDouble).getOrElse(0.0)),
      "exec.cpu_s" -> perOp(o => exec(o).map(_.cpuNs / 1e9).getOrElse(0.0)),
      "exec.shuffle_bytes" -> perOp(o => exec(o).map(_.shuffleBytes.toDouble).getOrElse(0.0)),
      "exec.spill_bytes" -> perOp(o => exec(o).map(_.spillBytes.toDouble).getOrElse(0.0)),
      "exec.driver_gap_ms" -> perOp(o => (dur.getOrElse(o, 0L) -
        exec(o).map(_.jobNs).getOrElse(0L)) / 1e6),
      "lake.scan.files_planned" -> scan.planned / nReads,
      "lake.scan.files_skipped" -> scan.skipped / nReads,
      "lake.scan.skip_ratio" -> Stats.skipRatio(scan.planned, scan.skipped),
      "lake.scan.masked_files" -> scan.masked / nReads,
      "lake.scan.bytes_planned" -> scan.bytes / nReads,
      "lake.write.jobs" -> Stats.mean(writes.map(o => exec(o).map(_.jobs.toDouble).getOrElse(0.0))),
      "lake.write.job_ms" -> Stats.mean(writes.map(o => exec(o).map(_.jobNs / 1e6).getOrElse(0.0))),
      "lake.write.driver_ms" -> Stats.mean(writes.map(o => (dur.getOrElse(o, 0L) -
        exec(o).map(_.jobNs).getOrElse(0L)) / 1e6))) ++
      self.map { case (l, ns) => s"selftime.$l" -> ns / 1e6 / nOps }
        .filter { case (k, _) => PerLayer.exists(_._1 == k) }
  }
}
