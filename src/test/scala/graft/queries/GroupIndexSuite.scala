package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The stored dedup-group-label index
  * ([[TextOps.tDedupGroupsIndexed]]) — the oracle gate proves the
  * served ROWS equal the in-memory grouping; this suite pins the
  * refresh algebra that makes the stored labels maintainable at
  * corpus scale:
  *
  *  - component merging runs in LABEL SPACE: each refresh contracts
  *    the batch's edges to stored component labels first, so the
  *    propagation loop's input is pair-scale, never corpus-scale;
  *  - a merge that spans existing components relabels EVERY member of
  *    both through one group_id-keyed MERGE, including members no new
  *    edge touches;
  *  - refreshes compose: labels after N batches equal the one-shot
  *    grouping of all docs seen so far, regardless of how edges are
  *    split across batches (transitive merges across batch
  *    boundaries included).
  */
class GroupIndexSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("group-index")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LakeOps.cat(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def pairs(ps: (Long, Long)*): DataFrame = {
    val sp = spark; import sp.implicits._
    ps.toSeq.toDF("doc_a", "doc_b")
  }

  private def docs(ids: Long*): DataFrame = {
    val sp = spark; import sp.implicits._
    ids.toSeq.toDF("doc_id")
  }

  private def labelsOf(t: String): Map[Long, Long] =
    spark.table(s"lakeq.db.$t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def freshStore(initial: Map[Long, Long]): String = {
    val sp = spark; import sp.implicits._
    val t = LakeOps.fresh("grpidxspec")
    initial.toSeq.toDF("doc_id", "group_id")
      .writeTo(s"lakeq.db.$t").using("lake")
      .partitionedBy(bucket(4, col("doc_id"))).create()
    t
  }

  test("refresh merges batch docs into stored components") {
    // store: {0,2} labeled 0, {4} singleton
    val t = freshStore(Map(0L -> 0L, 2L -> 0L, 4L -> 4L))
    // batch doc 5 duplicates doc 2 → joins component 0
    TextOps.refreshGroupIndex(spark, t, pairs(2L -> 5L), docs(5L))
    assert(labelsOf(t) == Map(0L -> 0L, 2L -> 0L, 4L -> 4L, 5L -> 0L))
    spark.sql(s"DROP TABLE lakeq.db.$t PURGE")
  }

  test("a bridging batch doc relabels every member of both components") {
    // two stored components {2,6} (label 2) and {4,8} (label 4); batch
    // doc 9 is a near-dup of 6 AND 8 → everything becomes component 2,
    // including members 4 and 8 that no new edge touches directly
    val t = freshStore(Map(2L -> 2L, 6L -> 2L, 4L -> 4L, 8L -> 4L))
    TextOps.refreshGroupIndex(spark, t, pairs(6L -> 9L, 8L -> 9L), docs(9L))
    assert(labelsOf(t) ==
      Map(2L -> 2L, 6L -> 2L, 4L -> 2L, 8L -> 2L, 9L -> 2L),
      "merge keyed on group_id must relabel untouched members too")
    spark.sql(s"DROP TABLE lakeq.db.$t PURGE")
  }

  test("a batch doc with the new minimum id becomes the component label") {
    val t = freshStore(Map(4L -> 4L, 6L -> 4L))
    TextOps.refreshGroupIndex(spark, t, pairs(6L -> 1L), docs(1L))
    assert(labelsOf(t) == Map(1L -> 1L, 4L -> 1L, 6L -> 1L))
    spark.sql(s"DROP TABLE lakeq.db.$t PURGE")
  }

  test("refreshes compose: transitive merges across batch boundaries") {
    // batch 1 links 11 to {6}; batch 2 links 13 to 11 AND to {8} —
    // the final component must union across both batches' edges
    val t = freshStore(Map(6L -> 6L, 8L -> 8L))
    TextOps.refreshGroupIndex(spark, t, pairs(6L -> 11L), docs(11L))
    assert(labelsOf(t) == Map(6L -> 6L, 8L -> 8L, 11L -> 6L))
    TextOps.refreshGroupIndex(spark, t,
      pairs(11L -> 13L, 8L -> 13L), docs(13L))
    assert(labelsOf(t) ==
      Map(6L -> 6L, 8L -> 6L, 11L -> 6L, 13L -> 6L),
      "second batch must merge through the first batch's labels")
    spark.sql(s"DROP TABLE lakeq.db.$t PURGE")
  }

  test("edgeless batch docs append as singletons") {
    val t = freshStore(Map(2L -> 2L))
    TextOps.refreshGroupIndex(spark, t, pairs(), docs(7L, 9L))
    assert(labelsOf(t) == Map(2L -> 2L, 7L -> 7L, 9L -> 9L))
    spark.sql(s"DROP TABLE lakeq.db.$t PURGE")
  }

  test("refresh publishes atomically: a racing reader never sees a " +
      "torn nightly state") {
    // the refresh is two logical changes (relabel MERGE + batch
    // append) staged on a branch and published with one fast-forward
    // ref move. The torn state — components {2,6} and {4,8} bridged
    // WITHOUT the bridging doc 9 — is a grouping of no document set
    // that ever existed; a reader must only ever see the complete old
    // state or the complete new one.
    val old = Map(2L -> 2L, 6L -> 2L, 4L -> 4L, 8L -> 4L)
    val fresh = Map(2L -> 2L, 6L -> 2L, 4L -> 2L, 8L -> 2L, 9L -> 2L)
    (1 to 3).foreach { round =>
      val t = freshStore(old)
      val violations =
        new java.util.concurrent.ConcurrentLinkedQueue[Map[Long, Long]]()
      val errors =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      @volatile var racing = true
      val prober = new Thread(() => try {
        while (racing) {
          val seen = labelsOf(t)
          if (seen != old && seen != fresh) violations.add(seen)
        }
      } catch { case e: Throwable => errors.add(e) })
      prober.start()
      try TextOps.refreshGroupIndex(spark, t,
        pairs(6L -> 9L, 8L -> 9L), docs(9L))
      finally { racing = false; prober.join() }
      if (!errors.isEmpty) throw errors.peek()
      assert(violations.isEmpty,
        s"round $round: reader saw torn states: " +
          s"${violations.toArray.toSeq.take(3)}")
      assert(labelsOf(t) == fresh)
      spark.sql(s"DROP TABLE lakeq.db.$t PURGE")
    }
  }

  test("gate: stored build+refresh equals the in-memory grouping") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory)
    val mem = TextOps.tDedupGroups(spark, sfDir).collect().toSeq
    val idx = TextOps.tDedupGroupsIndexed(spark, sfDir).collect().toSeq
    assert(mem.count(r => r.getLong(0) != r.getLong(1)) > 0,
      "fixture should contain non-singleton groups")
    assert(idx == mem,
      "storage round-trip (even corpus + odd batch refresh) changed " +
        s"the labels")
  }

  // -- mined refresh: the input-mining side of the nightly path -------

  private def textDocs(rows: (Long, String)*): DataFrame = {
    val sp = spark; import sp.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  private def dropIndex(idx: TextOps.GroupIndex): Unit =
    Seq(idx.post, idx.df, idx.size, idx.labels).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS lakeq.db.$t PURGE"))

  test("mined refresh touches no corpus text: batch-only input, " +
      "exact labels") {
    // the corpus exists ONLY as stored index tables by refresh time —
    // both frames here are in-memory literals, so any corpus re-read
    // would be a compile error, not a slow plan. docs 0/2 share 4 of
    // 5 shingles (J=2/3); batch doc 1 duplicates doc 2's text exactly
    // and doc 3 is fresh → expected components {0,2,1} and {3}.
    val corpus = textDocs(
      0L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon eta",
      4L -> "one two three four five six seven")
    val idx = TextOps.buildGroupIndex(spark, corpus)
    assert(labelsOf(idx.labels) == Map(0L -> 0L, 2L -> 0L, 4L -> 4L))
    val batch = textDocs(
      1L -> "alpha beta gamma delta epsilon eta",
      3L -> "totally novel content with no shared shingles at all")
    TextOps.refreshGroupIndexMined(spark, idx, batch)
    assert(labelsOf(idx.labels) ==
      Map(0L -> 0L, 2L -> 0L, 4L -> 4L, 1L -> 0L, 3L -> 3L),
      "batch dup must join its corpus component; fresh doc stays alone")
    dropIndex(idx)
  }

  test("mined refreshes compose across batches (index advances)") {
    // batch 1 doc 11 bridges nothing; batch 2 doc 13 duplicates
    // BATCH-1's doc 11 — found only if batch 1's postings/sizes
    // advanced the stored index
    val corpus = textDocs(
      6L -> "red orange yellow green blue indigo",
      8L -> "cat dog bird fish mouse horse cow")
    val idx = TextOps.buildGroupIndex(spark, corpus)
    TextOps.refreshGroupIndexMined(spark, idx,
      textDocs(11L -> "completely different first batch text here now"))
    assert(labelsOf(idx.labels) ==
      Map(6L -> 6L, 8L -> 8L, 11L -> 11L))
    TextOps.refreshGroupIndexMined(spark, idx,
      textDocs(13L -> "completely different first batch text here now"))
    assert(labelsOf(idx.labels) ==
      Map(6L -> 6L, 8L -> 8L, 11L -> 11L, 13L -> 11L),
      "batch-2 dup of a batch-1 doc must merge through the advanced index")
    dropIndex(idx)
  }

  test("a batch crossing the df cap fails diagnosably when auto-repair " +
      "is off (stale-universe guard)") {
    // cap=2: the corpus has "a b c" in both docs (df=2, inside the
    // cap); the batch doc repeats it → df=3 > cap. The capped universe
    // shrinks retroactively — stored pair scores are stale and
    // components could split, which the additive MERGE-min algebra
    // cannot express, so with repairStraddle=false the refresh must
    // refuse loudly (the diagnosable path stays available).
    val corpus = textDocs(
      0L -> "a b c d e",
      2L -> "a b c x y")
    val idx = TextOps.buildGroupIndex(spark, corpus, cap = 2)
    val e = intercept[IllegalStateException] {
      TextOps.refreshGroupIndexMined(spark, idx,
        textDocs(1L -> "a b c z w"), cap = 2, repairStraddle = false)
    }
    assert(e.getMessage.contains("crossed the df cap"),
      s"wrong failure: ${e.getMessage}")
    dropIndex(idx)
  }

  test("a cap-crossing batch self-repairs: a stale edge SPLITS and " +
      "final labels equal the one-shot grouping") {
    // cap=2. Corpus docs 0/2 are 6-token texts sharing 3 of their 4
    // shingles — J = 3/5 = 0.6, an edge that holds ONLY while the
    // shared shingle "p q r" (df=2, at the cap) stays in the
    // universe. The batch doc also contains "p q r" → df=3 > cap: the
    // shingle straddles out, doc 0/2 drop to 3-shingle sets with
    // inter=2 → J = 2/4 = 0.5 < 0.6, so the stored component {0,2}
    // must SPLIT — the operation the additive algebra cannot express
    // and the scoped rebuild exists for.
    val corpus = textDocs(
      0L -> "p q r s t u",
      2L -> "p q r s t v",
      4L -> "one two three four five six seven")
    val idx = TextOps.buildGroupIndex(spark, corpus, cap = 2)
    assert(labelsOf(idx.labels) == Map(0L -> 0L, 2L -> 0L, 4L -> 4L),
      "fixture: docs 0/2 must pair at build time")
    TextOps.refreshGroupIndexMined(spark, idx,
      textDocs(1L -> "p q r aa bb"), cap = 2)
    assert(labelsOf(idx.labels) ==
      Map(0L -> 0L, 2L -> 2L, 4L -> 4L, 1L -> 1L),
      "repair must split {0,2}: their edge existed only through the " +
        "straddled-out shingle")
    // bit-for-bit against the one-shot miner over the full doc set
    val oneShot = TextOps.buildGroupIndex(spark,
      corpus.unionByName(textDocs(1L -> "p q r aa bb")), cap = 2)
    assert(labelsOf(idx.labels) == labelsOf(oneShot.labels),
      "repaired labels must equal the one-shot grouping bit-for-bit")
    dropIndex(oneShot)
    // repairs COMPOSE: a later normal refresh lands on the repaired
    // index and still reproduces the one-shot labels (doc 3 dups the
    // batch doc 1)
    TextOps.refreshGroupIndexMined(spark, idx,
      textDocs(3L -> "p q r aa bb"), cap = 2)
    val oneShot2 = TextOps.buildGroupIndex(spark,
      corpus.unionByName(textDocs(1L -> "p q r aa bb",
        3L -> "p q r aa bb")), cap = 2)
    assert(labelsOf(idx.labels) == labelsOf(oneShot2.labels),
      "a normal refresh after a repair must stay exact")
    dropIndex(oneShot2)
    dropIndex(idx)
  }

  test("a cap-crossing batch self-repairs: a shrunk denominator MERGES " +
      "an affected doc with an untouched outside doc") {
    // cap=2. Build: doc 0 = {abc, bcd}, doc 4 = {abc}, doc 6 = {bcd}.
    // df(abc)=2, df(bcd)=2 — all in-universe; J(0,4) = 1/2 = 0.5 and
    // J(0,6) = 1/2 = 0.5 → three singletons. The batch doc repeats
    // "b c d" → df(bcd)=3 straddles out: doc 0 shrinks to {abc} and
    // J(0,4) becomes 1/1 = 1.0 → a NEW edge between an affected doc
    // and doc 4, which holds no straddling shingle and sits OUTSIDE
    // the rebuild set — the probe + label-contraction path must find
    // it and relabel doc 4 through the group-keyed MERGE.
    val corpus = textDocs(
      0L -> "a b c d",
      4L -> "a b c",
      6L -> "b c d")
    val idx = TextOps.buildGroupIndex(spark, corpus, cap = 2)
    assert(labelsOf(idx.labels) == Map(0L -> 0L, 4L -> 4L, 6L -> 6L),
      "fixture: all singletons at build time")
    TextOps.refreshGroupIndexMined(spark, idx,
      textDocs(1L -> "b c d"), cap = 2)
    assert(labelsOf(idx.labels) ==
      Map(0L -> 0L, 4L -> 0L, 6L -> 6L, 1L -> 1L),
      "repair must create the NEW edge (0,4) the shrunk denominator " +
        "implies, relabeling outside doc 4 into component 0")
    val oneShot = TextOps.buildGroupIndex(spark,
      corpus.unionByName(textDocs(1L -> "b c d")), cap = 2)
    assert(labelsOf(idx.labels) == labelsOf(oneShot.labels),
      "repaired labels must equal the one-shot grouping bit-for-bit")
    dropIndex(oneShot)
    dropIndex(idx)
  }

  test("a batch-ONLY hot shingle is excluded, not a straddle failure") {
    // cap=2: the batch doc carries a shingle unseen by the corpus —
    // batch df alone exceeds the cap (df0 = 0, bdf = 3 > 2). Nothing
    // stored references it, so the refresh must EXCLUDE it from the
    // capped universe (one-shot semantics) and proceed — hard-failing
    // here would reject a provably exact refresh. The repeated hot
    // shingle is also the only content docs 1 and 3 share, so with it
    // capped out they must NOT pair.
    val corpus = textDocs(
      0L -> "alpha beta gamma delta epsilon",
      2L -> "one two three four five")
    val idx = TextOps.buildGroupIndex(spark, corpus, cap = 2)
    // three batch docs all containing the hot shingle "x y z" (df=3)
    TextOps.refreshGroupIndexMined(spark, idx, textDocs(
      1L -> "x y z aaa bbb ccc",
      3L -> "x y z ddd eee fff",
      5L -> "x y z ggg hhh iii"), cap = 2)
    assert(labelsOf(idx.labels) ==
      Map(0L -> 0L, 2L -> 2L, 1L -> 1L, 3L -> 3L, 5L -> 5L),
      "hot batch-only shingle must cap out: no pairs, no failure")
    dropIndex(idx)
  }

  /** Build on the even docs of sf0.001, refresh with two mined
    * batches, and compare the stored labels with the one-shot grouping. */
  private def twoBatchRefreshMatchesOneShot(): Unit = {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory)
    val docs = graft.Tables.documents(spark, sfDir)
    val idx = TextOps.buildGroupIndex(spark,
      docs.filter(col("doc_id") % 2 === 0))
    try {
      TextOps.refreshGroupIndexMined(spark, idx,
        docs.filter(col("doc_id") % 4 === 1))
      TextOps.refreshGroupIndexMined(spark, idx,
        docs.filter(col("doc_id") % 4 === 3))
      val got = labelsOf(idx.labels)
      val want = TextOps.tDedupGroups(spark, sfDir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want,
        "two mined batches must reproduce the one-shot labels exactly")
    } finally dropIndex(idx)
  }

  test("mined refresh at sf0.001 split across two batches equals the " +
      "one-shot grouping") {
    twoBatchRefreshMatchesOneShot()
  }

  test("SPJ probe refresh (broadcastPostingLimit=0) at sf0.001 equals " +
      "the one-shot grouping") {
    // limit 0 sends every non-empty batch down the bucketed scratch
    // table + storage-partitioned probe and the clustered label append
    // (smallBatch = false); the default limit takes the broadcast path
    val probed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (qe.logical.toString.contains("grpidx_probe")) probed.set(true)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    spark.conf.set("spark.graft.probe.broadcastPostingLimit", "0")
    try {
      twoBatchRefreshMatchesOneShot()
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 10000000000L
      while (!probed.get && System.nanoTime() < deadline) Thread.sleep(50)
      assert(probed.get, "the refresh must probe through a scratch table")
    } finally {
      spark.conf.unset("spark.graft.probe.broadcastPostingLimit")
      spark.listenerManager.unregister(listener)
    }
  }

  test("delta-count fold between refreshes changes nothing (LSM df " +
      "table)") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory)
    val docs = graft.Tables.documents(spark, sfDir)
    val idx = TextOps.buildGroupIndex(spark,
      docs.filter(col("doc_id") % 2 === 0))
    TextOps.refreshGroupIndexMined(spark, idx,
      docs.filter(col("doc_id") % 4 === 1))
    // fold the accumulated deltas (base + batch 1) to one row per
    // shingle, then keep refreshing — counts, straddle math, and the
    // final labels must be identical to the unfolded run
    val rowsBefore = spark.table(s"lakeq.db.${idx.df}").count()
    TextOps.foldDeltaCounts(spark, idx.df)
    val rowsAfter = spark.table(s"lakeq.db.${idx.df}").count()
    assert(rowsAfter <= rowsBefore,
      s"fold must consolidate deltas ($rowsBefore -> $rowsAfter)")
    TextOps.refreshGroupIndexMined(spark, idx,
      docs.filter(col("doc_id") % 4 === 3))
    val got = labelsOf(idx.labels)
    val want = TextOps.tDedupGroups(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want,
      "a fold between batches must not change the mined labels")
    dropIndex(idx)
  }

  test("posting/size/df maintenance consolidates files and changes " +
      "no result") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory)
    val docs = graft.Tables.documents(spark, sfDir)
    val idx = TextOps.buildGroupIndex(spark,
      docs.filter(col("doc_id") % 2 === 0))
    TextOps.refreshGroupIndexMined(spark, idx,
      docs.filter(col("doc_id") % 4 === 1))
    def files(t: String): Long = spark.sql(
      s"SELECT count(*) FROM lakeq.db.$t.files").collect()(0).getLong(0)
    // a probe against the maintained tables must return the exact
    // same candidates: same scratch batch, probed before and after
    val scratch = LakeOps.fresh("grpidxspec_maint")
    TextOps.shinglePostings(docs.filter(col("doc_id") % 4 === 3))
      .writeTo(s"lakeq.db.$scratch").using("lake")
      .partitionedBy(bucket(TextOps.GroupIdxBuckets, col("sh"))).create()
    def probe(): Set[(Long, Long, Long)] =
      TextOps.groupProbeCandidates(spark, scratch, idx.post).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val labelsBefore = labelsOf(idx.labels)
    val probeBefore = probe()
    val (postB, sizeB, dfB) = (files(idx.post), files(idx.size), files(idx.df))
    TextOps.maintainGroupIndex(spark, idx)
    val (postA, sizeA, dfA) = (files(idx.post), files(idx.size), files(idx.df))
    assert(postA < postB,
      s"posting binpack must consolidate files ($postB -> $postA)")
    assert(sizeA < sizeB,
      s"size sort-rewrite must consolidate files ($sizeB -> $sizeA)")
    assert(dfA <= dfB, s"df fold must not grow files ($dfB -> $dfA)")
    // the sort rewrite writes with the size table's own tuning: every
    // file keeps the doc_id bloom the size fetch skips files by
    val unbloomed = spark.sql(s"SELECT file_path FROM lakeq.db.${idx.size}.files")
      .collect().map(_.getString(0)).filterNot { p =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p), spark.sessionState.newHadoopConf()))
        try rd.getFooter.getBlocks.asScala.forall(_.getColumns.asScala
          .exists(c => c.getPath.toDotString == "doc_id" &&
            c.getBloomFilterOffset >= 0))
        finally rd.close()
      }
    assert(unbloomed.isEmpty,
      s"size files without a doc_id bloom after maintenance: ${unbloomed.toSeq}")
    assert(probe() == probeBefore,
      "maintenance must not change probe candidates")
    assert(labelsOf(idx.labels) == labelsBefore,
      "maintenance must not touch the labels")
    spark.sql(s"DROP TABLE IF EXISTS lakeq.db.$scratch PURGE")
    // the NEXT nightly must still be exact against the maintained
    // index: final labels equal the one-shot grouping bit-for-bit
    TextOps.refreshGroupIndexMined(spark, idx,
      docs.filter(col("doc_id") % 4 === 3))
    val want = TextOps.tDedupGroups(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelsOf(idx.labels) == want,
      "a refresh after maintenance must reproduce the one-shot labels")
    dropIndex(idx)
  }

  test("size fetch prunes range-clustered files via runtime filter") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory)
    // the mined refresh fetches corpus Jaccard denominators by
    // broadcasting candidate ids onto the size table — the claim is
    // that the doc_id bloom + range clustering SKIPS files holding no
    // candidate (the DedupIndexSuite sig-fetch property, asserted
    // here on the group index's own size table and join shape)
    val docs = graft.Tables.documents(spark, sfDir)
    val idx = TextOps.buildGroupIndex(spark,
      docs.filter(col("doc_id") % 2 === 0))
    val total = spark.sql(
      s"SELECT count(*) FROM lakeq.db.${idx.size}.files")
      .collect()(0).getLong(0)
    assert(total == 8, s"size store should be 8 range-clustered files, " +
      s"saw $total")
    val sp = spark; import sp.implicits._
    val cand = Seq(10L, 12L).toDF("doc_b")
      .localCheckpoint(true)
    graft.lake.LakeBatchScan.lastRuntimeFileCount.set(-1)
    val fetched = spark.table(s"lakeq.db.${idx.size}").toDF("doc_b", "nb")
      .join(broadcast(cand.filter(col("doc_b") >= 0)), Seq("doc_b"))
      .collect()
    assert(fetched.nonEmpty, "fixture docs 10/12 should have sizes")
    val survived = graft.lake.LakeBatchScan.lastRuntimeFileCount.get()
    assert(survived >= 1, "runtime filter never reached the size scan")
    assert(survived < total,
      s"2 candidate ids must plan fewer than all $total size files, " +
        s"planned $survived")
    info(s"size fetch planned $survived of $total files for 2 candidates")
    dropIndex(idx)
  }

  test("posting probe is a storage-partitioned join: no exchange on " +
      "the corpus side") {
    val corpus = textDocs(
      0L -> "alpha beta gamma delta epsilon zeta",
      2L -> "one two three four five six seven")
    val idx = TextOps.buildGroupIndex(spark, corpus)
    // a scratch batch-posting table in the index's bucket layout,
    // exactly as refreshGroupIndexMined writes it
    val scratch = LakeOps.fresh("grpidxspec_probe")
    TextOps.shinglePostings(
        textDocs(1L -> "alpha beta gamma delta epsilon eta"))
      .writeTo(s"lakeq.db.$scratch").using("lake")
      .partitionedBy(bucket(TextOps.GroupIdxBuckets, col("sh"))).create()
    val cand = TextOps.groupProbeCandidates(spark, scratch, idx.post)
    assert(cand.count() > 0, "probe found no shared shingles")
    val plan = cand.queryExecution.executedPlan.toString
    val joinPart = plan.split("SortMergeJoin|ShuffledHashJoin").last
    assert(!joinPart.contains("Exchange"),
      s"bucket-co-partitioned probe must not shuffle the index:\n$plan")
    spark.sql(s"DROP TABLE IF EXISTS lakeq.db.$scratch PURGE")
    dropIndex(idx)
  }
}
