package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.TextOps

/** `curation_ingest`: the training-data pipeline. A seeded corpus with
  * set shares of exact and near duplicates; set-up builds the stored
  * group index on its first part and starts the streaming ingest; the
  * measured phase streams the rest as equal epochs through
  * `IngestStreams.dedupIngest` with its in-loop maintenance on, serving
  * label point reads from the index after each epoch. Whole epochs
  * with their reads run until the measured time is up. The index
  * lifecycle, streaming epochs, shuffle-heavy operator plans, bulk
  * bucketed appends and the label publish do the work; per-statement
  * planning does little. The index tables are driven exactly as the
  * `t_ingest_dedup_stream` gate drives them. */
final class CurationIngest(spark: SparkSession, seed: Long, work: Path) extends Workload {
  import CurationIngest._

  private var corpus: CorpusGen = _
  private var idx: TextOps.GroupIndex = _
  private var mem: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private var ckpt: String = _
  private val buildS = ArrayBuffer[Double]()
  private var ingested = BuildDocs
  private var measureStartMs = 0L

  def setup(rep: Int): Unit = {
    corpus = new CorpusGen(seed, BuildDocs + Epochs * EpochDocs)
    import spark.implicits._
    val t = System.nanoTime()
    idx = TextOps.buildGroupIndex(spark,
      corpus.docs(0, BuildDocs).toDF("doc_id", "text").repartition(spark.sparkContext.defaultParallelism))
    buildS += (System.nanoTime() - t) / 1e9
    ckpt = work.resolve(s"ckpt$rep").toString
    mem = MemoryStream[(Long, String)](spark)
    query = graft.streaming.IngestStreams.dedupIngest(
      mem.toDF().toDF("doc_id", "text"), idx, ckpt,
      maintainFileThreshold = MaintainFiles)
    ingested = BuildDocs
  }

  def discard(rep: Int): Unit = {
    query.stop()
    Seq(idx.post, idx.df, idx.size, idx.labels).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${graft.lake.Names.q(spark, t)} PURGE"))
  }

  private def labels = graft.lake.Names.q(spark, idx.labels)

  private val feedMs = ArrayBuffer[Double]()
  private val epochMs = ArrayBuffer[Double]()
  private val refreshS = ArrayBuffer[Double]()

  /** One untimed label read, which compiles the read path. The stream
    * gets no warm-up epoch: an epoch takes 9-15 s on 4 cores whatever
    * its size, and one more per run, on top of the three set-ups,
    * would push the benchmark's runs past their time budget. So the
    * measured epoch is the first after the stream starts, as on every
    * restart of the ingest: it resolves the stream's scope, compiles
    * the refresh plans and runs a maintenance pass. */
  def warmUp(ctx: Ctx): Unit = {
    truth = CorpusGen.groups(corpus.docs(0, ingested))
    ctx.check("warm-up label read") { labelRead(1L) == Seq(truth(1L)) }
    graft.StageTimes.drain()
  }

  private var truth: Map[Long, Long] = Map.empty

  /** The whole labels table equals the one-shot grouping: one row per
    * ingested document, each with its group. */
  private def labelsMatch: Boolean = {
    val got = spark.sql(s"SELECT doc_id, group_id FROM $labels").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    got.length == truth.size && got.toMap == truth
  }

  private def labelRead(id: Long): Seq[Long] =
    spark.sql(s"SELECT group_id FROM $labels WHERE doc_id = $id").collect()
      .map(_.getLong(0)).toSeq

  def measure(ctx: Ctx): Unit = {
    val trace = ctx.trace
    val r = new java.util.SplittableRandom(seed ^ 0x5eedL)
    measureStartMs = System.currentTimeMillis()
    ctx.start()
    while (ctx.running && ingested < corpus.size) {
      val batch = corpus.docs(ingested, ingested + EpochDocs)
      var epochSpan = 0L
      var startedNs = 0L
      ctx.timed("epoch", "epoch", batch.size) {
        val t0 = System.nanoTime()
        trace.span("streaming.feed") { mem.addData(batch) }
        val t1 = System.nanoTime()
        startedNs = trace.now
        trace.span("streaming.epoch") { query.processAllAvailable() }
        epochSpan = trace.lastClosed
        feedMs += (t1 - t0) / 1e6
        epochMs += (System.nanoTime() - t1) / 1e6
        query.exception.isEmpty
      }
      ctx.untimed {
        if (trace.on) indexSpans(trace, epochSpan, startedNs)
        // StageTimes keeps the last value per key, so drain once per epoch
        refreshS += graft.StageTimes.drain().collect {
          case (k, v) if k.contains(".refresh") => v }.sum
        ingested += EpochDocs
        truth = CorpusGen.groups(corpus.docs(0, ingested))
      }
      for (_ <- 1 to ReadsPerEpoch) {
        val id = 1L + r.nextInt(ingested)
        ctx.timed("read", "label_read") {
          trace.span("lake.scan") { labelRead(id) } == Seq(truth(id))
        }
      }
    }
    ctx.stop()
  }

  def finalCheck(ctx: Ctx): Unit = {
    ctx.check("labels") { labelsMatch }
    query.stop()
  }

  /** Index-table snapshots committed since `sinceMs`, oldest first. */
  private def indexSnapshots(sinceMs: Long): Seq[graft.lake.SnapshotMeta] =
    Seq(idx.post, idx.df, idx.size, idx.labels).flatMap(t =>
      graft.lake.LakeMeta.of(spark, graft.lake.Names.parts(spark, t)).snapshots)
      .filter(_.timestampMs >= sinceMs).sortBy(_.timestampMs)

  /** Traced runs: the epoch's refresh (its start to its last tagged
    * commit) and its in-loop maintenance (the untagged commits after it)
    * as children of the epoch's `streaming.epoch` span, from the index
    * tables' commit timestamps. Runs after the epoch, off its clock. */
  private def indexSpans(trace: Trace, epochSpan: Long, startedNs: Long): Unit = {
    val snaps = indexSnapshots(startedNs / 1000000L)
    val (tagged, untagged) = snaps.partition(_.summary.contains(EpochTag))
    tagged.lastOption.foreach { last =>
      val refreshEnd = last.timestampMs * 1000000L
      trace.interval("index.refresh", startedNs, refreshEnd, epochSpan)
      untagged.filter(_.timestampMs >= last.timestampMs).lastOption.foreach(m =>
        trace.interval("index.maintain", refreshEnd, m.timestampMs * 1000000L, epochSpan))
    }
  }

  /** In-loop maintenance commits carry no epoch tag; each run of them
    * after an epoch's last tagged commit is one maintenance pass, timed
    * from that commit to its own last commit. */
  private lazy val maintenance: Seq[(Long, Long)] = {
    val snaps = indexSnapshots(measureStartMs)
    val out = ArrayBuffer[(Long, Long)]()
    var lastTagged = 0L
    var open: Option[(Long, Long)] = None
    snaps.foreach { s =>
      if (s.summary.contains(EpochTag)) {
        open.foreach(out += _); open = None
        lastTagged = s.timestampMs
      } else open = Some((open.map(_._1).getOrElse(lastTagged), s.timestampMs))
    }
    open.foreach(out += _)
    out.toSeq
  }

  override def extraMaintS: Double = maintenance.map { case (s, e) => e - s }.sum / 1e3

  def space(): (Long, Long) = {
    val tables = Seq(idx.post, idx.df, idx.size, idx.labels)
    val stored = tables.map(t => LakeProbe.dirBytes(spark,
      LakeProbe.location(spark, graft.lake.Names.parts(spark, t)))).sum
    import spark.implicits._
    val live = LakeProbe.parquetBytes(spark, corpus.docs(0, ingested).toDF("doc_id", "text"),
      work.resolve("live_docs").toString)
    (stored, live)
  }

  def ownMetrics: Seq[String] = Seq("epoch_p50_s", "rows_per_s", "maint_s")

  def perLayer(ctx: Ctx, tr: Trace.Result): Map[String, Double] = Map(
    "index.build_s" -> Stats.median(buildS.toSeq),
    "index.refresh_s" -> Stats.mean(refreshS.toSeq),
    "index.maintain_s" -> extraMaintS,
    "streaming.feed_ms" -> Stats.mean(feedMs.toSeq),
    "streaming.epoch_ms" -> Stats.mean(epochMs.toSeq))

  def describe: Seq[String] = Seq(s"corpus: $BuildDocs docs indexed at set-up, then " +
    s"up to $Epochs measured epochs of $EpochDocs docs " +
    s"(exact ${CorpusGen.ExactShare}, near ${CorpusGen.NearShare}); maintenance at " +
    s"$MaintainFiles live files; $ReadsPerEpoch label reads after each epoch; " +
    s"${epochMs.size} epochs and ${maintenance.size} maintenance passes measured")
}

object CurationIngest {
  /** Snapshot-summary key of the streaming ingest's epoch tags. */
  val EpochTag = "graft.commit.tag"
  val BuildDocs = 1000
  /** An epoch takes about as long at 50 docs as at 200 on 4 cores: the
    * refresh's fixed per-step cost dominates. */
  val EpochDocs = 200
  /** Measured epochs the corpus holds. */
  val Epochs = 40
  /** Enough reads after one epoch for a p75 read tail (40 samples). */
  val ReadsPerEpoch = 40
  val MaintainFiles = 64
}
