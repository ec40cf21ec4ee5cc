package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Correctness pins for the distributed BPE merge trainer
  * ([[TextOps.trainBpeMerges]]). The gate has no DuckDB oracle (the
  * greedy adjacent-merge rewrite is not SQL-expressible), so this
  * suite carries the full correctness weight three ways: the classic
  * hand-computed fixture, full-equality against an independent in-JVM
  * reference implementation of the public algorithm, and
  * run-to-run determinism.
  */
class BpeSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("bpe-suite")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ready: Boolean = new java.io.File(sfDir).isDirectory

  /** Independent reference: the textbook algorithm over an in-memory
    * word-frequency map — index-walking greedy merge, mutable pair
    * recount per iteration. Shares NO code with the trainers, so
    * agreement pins them. */
  private def refBpe(words: Map[String, Long],
      k: Int): Seq[(Int, String, String, Long)] = {
    var vocab: Seq[(Vector[String], Long)] =
      words.toSeq.map { case (w, f) =>
        (w.map(_.toString).toVector :+ "</w>", f)
      }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < k && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i + 1 < syms.length) {
          val key = (syms(i), syms(i + 1))
          counts(key) = counts.getOrElse(key, 0L) + f
          i += 1
        }
      }
      val best = counts.toSeq
        .sortBy { case ((l, r), c) => (-c, l, r) }.headOption
      best match {
        case Some(((l, r), c)) if c >= 2 =>
          rank += 1
          out += ((rank, l, r, c))
          vocab = vocab.map { case (syms, f) =>
            val b = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
                b += (l + r); i += 2
              } else { b += syms(i); i += 1 }
            }
            (b.result(), f)
          }
        case _ => done = true
      }
    }
    out.result()
  }

  private def docsOf(texts: Seq[String]) = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("classic fixture: low/lower/newest/widest merge sequence") {
    // word freqs: low 5, lower 2, newest 6, widest 3 — the textbook
    // example. Hand-computed first six merges (ties break on count
    // desc, then (left, right) lexicographic):
    //   (e,s) 9   — newest+widest share e-s
    //   (es,t) 9
    //   (est,</w>) 9
    //   (l,o) 7   — 7-count tie (l,o)/(o,w) breaks to the smaller left
    //   (lo,w) 7
    //   (e,w) 6   — 6-count tie e-w / n-e / w-est breaks to "e"
    val text =
      (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val got = TextOps.trainBpeMerges(spark, docsOf(Seq(text)), 6)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got === Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "est", "</w>", 9L),
      (4, "l", "o", 7L), (5, "lo", "w", 7L), (6, "e", "w", 6L)))
  }

  test("greedy fold semantics: symbol runs merge left-to-right") {
    // "aaaa" under merge (a,a) must become [aa][aa], not [aa][a][a] —
    // the fold may not chain a just-merged token into the next pair.
    // freqs: aaaa 3, aaa 2 → (a,a) counts every adjacency = 3·3 + 2·2
    // = 13. Afterwards aaaa = [aa,aa,</w>] and aaa = [aa,a,</w>], so
    // the 3-count candidates are (aa,aa) and (aa,</w>) — the tie
    // breaks on the right symbol ("</w>" < "aa") — and merge 3 is the
    // surviving (aa, aa</w>). A fold that under- or over-chained
    // would change every one of these counts.
    val text = (Seq.fill(3)("aaaa") ++ Seq.fill(2)("aaa")).mkString(" ")
    val got = TextOps.trainBpeMerges(spark, docsOf(Seq(text)), 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got === Seq(
      (1, "a", "a", 13L), (2, "aa", "</w>", 3L), (3, "aa", "aa</w>", 3L)))
  }

  test("agrees with the independent reference on the sf0.001 corpus") {
    assume(ready)
    val docs = graft.Tables.documents(spark, sfDir)
    val words = docs
      .selectExpr("explode(regexp_extract_all(lower(text), '[a-z]+', 0)) w")
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = refBpe(words, 12)
    val got = TextOps.trainBpeMerges(spark, docs, 12)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got === expect)
    assert(got.size === 12, "corpus should support 12 productive merges")
    // the driver-resident loop answers to the same independent
    // reference (shares the corpus pass with the Spark path but no
    // loop machinery with either refBpe or trainBpeMerges)
    val drv = TextOps.trainBpeMergesDriver(spark, docs, 12)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(drv === expect)
  }

  test("deterministic across runs and partitionings") {
    assume(ready)
    val docs = graft.Tables.documents(spark, sfDir)
    def run() = TextOps.trainBpeMerges(spark, docs.repartition(7), 8)
      .orderBy("rank").collect().map(_.toString).toSeq
    assert(run() === run())
  }

  test("RDD, driver and reference trainers agree through k=256") {
    assume(ready)
    // deep enough (256) that merged-of-merged symbols, pair
    // retirements and tie-breaks on derived symbols all occur. The
    // testdata corpus draws from a FIXED word list, so its productive
    // schedule exhausts at ~105 merges at EVERY sf (once each distinct
    // word is one symbol there is nothing left to learn) — pin (a)
    // full-schedule equality including that natural exhaustion on the
    // real corpus, and (b) k=256 equality on a wide-vocabulary corpus
    // (3 000 distinct md5-derived pseudo-words, freq 2 each) that
    // sustains the full schedule.
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("rank")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    def wordsOf(docs: org.apache.spark.sql.DataFrame) = docs
      .selectExpr("explode(regexp_extract_all(lower(text), '[a-z]+', 0)) w")
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def agree(docs: org.apache.spark.sql.DataFrame) = {
      val rdd = rows(TextOps.trainBpeMerges(spark, docs, 256))
      assert(rdd === refBpe(wordsOf(docs), 256))
      assert(rows(TextOps.trainBpeMergesDriver(spark, docs, 256)) === rdd)
      rdd
    }
    val real = agree(graft.Tables.documents(spark, sfDir))
    assert(real.size > 64 && real.size < 256,
      s"real corpus must exhaust naturally mid-schedule, got ${real.size}")
    // letter-only pseudo-words (a..p from md5 nibbles) — hex digits
    // would be split away by the trainer's [a-z]+ extraction and the
    // fixture would quietly stop being wide-vocabulary
    val md = java.security.MessageDigest.getInstance("MD5")
    val wide = (0 until 3000).map { i =>
      md.reset()
      md.digest(s"w$i".getBytes("UTF-8"))
        .flatMap(b => Seq((b >> 4) & 0xF, b & 0xF))
        .map(nib => ('a' + nib).toChar)
        .mkString.take(4 + i % 9)
    }
    val wideRows = agree(docsOf((wide ++ wide).grouped(400)
      .map(_.mkString(" ")).toSeq))
    assert(wideRows.size == 256,
      s"wide-vocab corpus must sustain all 256 merges, got ${wideRows.size}")
    // identical NATURAL EXHAUSTION on a fixture whose pairs run dry:
    // the RDD loop's recount and the driver loop's TreeSet head must
    // stop at the same rank with the same table
    val tiny = agree(docsOf(Seq("ab ab cd")))
    assert(tiny.nonEmpty && tiny.size < 10, s"fixture must exhaust early: $tiny")
  }
}
