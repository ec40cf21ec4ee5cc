package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.storage.StorageLevel

/** Training-data-pipeline text operators over the `documents` table:
  * exact dedup, MinHash-LSH near-dedup, SimHash, n-gram Jaccard,
  * token/quality stats, language ID, fingerprinting, and multimodal
  * binary-column plumbing.
  *
  * Scale design: every operator is a pure column pipeline (whole-stage
  * codegen'd higher-order functions, no UDFs) followed by at most one
  * key-partitioned shuffle (groupBy hash / band bucket / shingle
  * inverted index). Nothing collects to the driver; candidate
  * generation (LSH bands, shingle postings) keeps the pairwise stage
  * sparse so it survives 100 TB corpora where naive O(n²) cannot.
  *
  * Hash parity with the DuckDB oracle: 64-bit hashes are derived from
  * the first 15 hex digits of md5 (`conv(...,16,10)` in Spark,
  * `('0x'||substr(...))::BIGINT` in DuckDB) — identical values in both
  * engines, no engine-specific hash functions.
  */
object TextOps {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Bounded result memo for expensive stages that multiple gates
    * consume (dedup grouping, minhash/ngram pair mining) — the
    * pipeline-shaped "materialize the mining stage once" reuse.
    *
    * Keyed on (session, dir, DATA FINGERPRINT): the fingerprint is a
    * digest of the documents table's file listing (path, length,
    * mtime), so a rewrite of the data under the same path computes
    * fresh results instead of returning stale ones. Computation runs
    * OUTSIDE any global lock via a per-key FutureTask — two sessions
    * mining different dirs never serialize on each other; concurrent
    * callers of the SAME key run the job once and share it. Entries
    * of stopped sessions are evicted on every access, and a small
    * insertion-order cap bounds heap either way (entries are
    * pair/label-scale checkpointed frames, tiny next to the corpus).
    *
    * [[TextOps.clearMemos]] + [[TextOps.memoHits]] exist for the
    * benchmark harness: a timed pass must compute each memoized
    * stage exactly once inside a timed region (not inherit a
    * checkpoint from a previous pass), and queries that read a memo
    * instead of executing are reported as such. */
  private final class ResultMemo {
    ResultMemo.all.add(this)
    private type Key = (SparkSession, String, String)
    private val m = new java.util.concurrent.ConcurrentHashMap[
      Key, java.util.concurrent.FutureTask[DataFrame]]()

    def clear(): Unit = m.clear()

    def getOrElseUpdate(s: SparkSession, d: String)(f: => DataFrame)
        : DataFrame = {
      m.keySet.removeIf(k => k._1.sparkContext.isStopped)
      val key = (s, d, ResultMemo.fingerprint(s, d))
      val fresh = new java.util.concurrent.FutureTask(
        new java.util.concurrent.Callable[DataFrame] {
          override def call(): DataFrame = f
        })
      val prev = m.putIfAbsent(key, fresh)
      if (prev == null) {
        ResultMemo.computes.incrementAndGet()
        // blunt size cap: a 5th live key drops everything else (the
        // working set is 1-2 keys; the cap only bounds heap when many
        // short-lived test sessions churn dirs)
        if (m.size > 4) m.keySet.removeIf(_ != key)
        fresh.run()
        try fresh.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          m.remove(key, fresh) // don't cache failures
          throw e.getCause
        }
      } else {
        ResultMemo.hits.incrementAndGet()
        try prev.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          m.remove(key, prev)
          throw e.getCause
        }
      }
    }
  }

  private object ResultMemo {
    val all = new java.util.concurrent.CopyOnWriteArrayList[ResultMemo]()
    val hits = new java.util.concurrent.atomic.AtomicLong(0)
    val computes = new java.util.concurrent.atomic.AtomicLong(0)
    /** Digest of the documents table's file listing under `d` —
      * every memoized stage here mines the documents table, so its
      * listing is the staleness witness. Resolved through the Hadoop
      * FileSystem API (the same metadata any scan planning reads):
      * a java.io.File walk sees nothing on hdfs/s3 paths, so every
      * non-local dataset would fingerprint as the constant "absent"
      * and silently reintroduce the stale-memo-after-rewrite hazard
      * this digest exists to close. */
    def fingerprint(s: SparkSession, d: String): String = {
      val root = new org.apache.hadoop.fs.Path(d, "documents.parquet")
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      val sig =
        if (!fs.exists(root)) "absent"
        else {
          val b = Seq.newBuilder[String]
          val it = fs.listFiles(root, true)
          while (it.hasNext) {
            val st = it.next()
            b += s"${st.getPath}:${st.getLen}:${st.getModificationTime}"
          }
          b.result().sorted.mkString("\n")
        }
      java.security.MessageDigest.getInstance("MD5")
        .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
  }

  /** Drop every memoized mining/grouping result (bench harness: each
    * timed pass must pay each memoized stage once). */
  def clearMemos(): Unit = ResultMemo.all.forEach(_.clear())

  /** Total memo reads served instead of executed (bench harness
    * reports which timed queries consumed a materialized frame). */
  def memoHits: Long = ResultMemo.hits.get()

  /** Total memo COMPUTATIONS (fresh entries paid for) — the bench
    * harness distinguishes the query that paid a mining stage from
    * the ones that read it, so a re-timed sample is attributable. */
  def memoComputes: Long = ResultMemo.computes.get()

  /** Whitespace tokens of normalized text. */
  private def toks(text: Column): Column =
    split(trim(lower(text)), "\\s+")


  private val oddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")

  /** Distinct 3-word shingles (guarded for short docs).
    *
    * Built with slice + zip_with rather than indexing `t` inside a
    * lambda: interpreted higher-order functions re-evaluate captured
    * subexpressions per element, so `element_at(t, i)` would re-run
    * the upstream regex split O(tokens) times per row — quadratic on
    * long documents. */
  private def shingles3(t: Column): Column = {
    val len = greatest(size(t) - 2, lit(0))
    array_distinct(zip_with(
      zip_with(slice(t, lit(1), len), slice(t, lit(2), len),
        (a, b) => concat(a, lit(" "), b)),
      slice(t, lit(3), len),
      (ab, c) => concat(ab, lit(" "), c)))
  }

  /** Exact dedup: canonical doc per normalized-text hash. A single
    * hash-partitioned window — the standard 100 TB exact-dedup shape
    * (shuffle by digest, keep min id). */
  def tDedupExact(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("h"))
    Tables.documents(s, d)
      .withColumn("h", md5(lower(trim(col("text"))).cast("binary")))
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("keep_id"), col("group_size"))
      .orderBy(col("doc_id"))
  }

  /** Token statistics: counts + mean token length, all narrow ops.
    * avg_tok_len rounds half-up at 2dp via exact integer arithmetic
    * (floor((200L+n)/(2n))/100) — float `round` is engine-dependent
    * on representational ties like 4.475. */
  def tTokenStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("t", toks(col("text")))
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(array_distinct(col("t"))).cast("long").as("n_uniq_tokens"),
        (floor((lit(200.0) * length(concat_ws("", col("t"))) + size(col("t"))) /
          (size(col("t")) * 2)) / 100.0).as("avg_tok_len"))
      .orderBy(col("doc_id"))

  /** BPE-ish regex tokenization (GPT-2-style pre-tokenizer shape:
    * letter runs | digit runs | punctuation runs) — the token-count
    * signal LLM data pipelines budget by, next to the whitespace
    * counts of [[tTokenStats]]. One codegen'd narrow projection; the
    * pattern is RE2-safe so the oracle runs it verbatim. */
  def tTokenBpe(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("b", regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]+"), lit(0)))
      .select(
        col("doc_id"),
        size(col("b")).cast("long").as("n_bpe"),
        size(filter(col("b"), t => t.rlike("^[a-z]+$"))).cast("long")
          .as("n_word"),
        size(filter(col("b"), t => t.rlike("^[0-9]+$"))).cast("long")
          .as("n_num"),
        size(array_distinct(col("b"))).cast("long").as("n_uniq"))
      .orderBy(col("doc_id"))

  /** Word-frequency vocabulary as (freq, syms): each distinct word's
    * character symbols + the `</w>` terminal — BPE's starting state.
    * The ONE corpus-scale pass; everything after is vocab-scale.
    * (split("") keeps a trailing empty string under Java regex
    * semantics — drop it.) */
  private def bpeInitVocab(docs: DataFrame): DataFrame =
    Tables.spread(docs).select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z]+"), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        concat(filter(split(col("w"), ""), x => x =!= ""),
          array(lit("</w>"))).as("syms"))

  /** Frequency-weighted adjacent-pair counts over a (freq, syms)
    * vocabulary — the statistics every BPE iteration's argmax reads.
    * Counts EVERY adjacency (a symbol run contributes one per
    * position), the reference semantics. */
  private def bpePairCounts(vocab: DataFrame): DataFrame = {
    val adj = zip_with(
      slice(col("syms"), lit(1), size(col("syms")) - 1),
      slice(col("syms"), lit(2), size(col("syms")) - 1),
      (a, b) => struct(a.as("l"), b.as("r")))
    vocab.select(col("freq"), explode(adj).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** Gate: the trainer's iteration-1 pair statistics — the one part
    * of the BPE loop that IS SQL-expressible, so it carries a full
    * DuckDB hash oracle (char-split + terminal + list_zip adjacency
    * in both engines) while the iterative merges stay pinned by
    * BpeSuite's independent-reference comparison. */
  def tBpePairs(s: SparkSession, d: String): DataFrame =
    bpePairCounts(bpeInitVocab(Tables.documents(s, d)))
      .orderBy(col("l"), col("r"))

  // deterministic argmax tie-break: count desc, then (l, r)
  // lexicographic — compared by CODE POINT, not JVM UTF-16 code units,
  // which equals UTF-8 byte order for well-formed strings, so the
  // tie-break matches Spark's binary string sort (the order the
  // DataFrame argmax resolved ties under before the loop moved off
  // Catalyst). The two diverge only for supplementary-plane symbols —
  // today's [a-z]+ tokenization keeps symbols ASCII where they agree,
  // but the ordering must not silently desync the pinned-equal
  // implementations if the tokenizer ever widens. Code points rather
  // than getBytes(UTF_8): the encoder replaces unpaired surrogates
  // with '?', so a byte-compare is not consistent-with-equals for
  // malformed tokens; code points keep every distinct string distinct.
  private[queries] val utf8Ord: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        val ca = a.codePointAt(i); val cb = b.codePointAt(j)
        if (ca != cb) return Integer.compare(ca, cb)
        i += Character.charCount(ca); j += Character.charCount(cb)
      }
      Integer.compare(a.length - i, b.length - j)
    }
  }

  /** The reference greedy fold: left-to-right, a merged token never
    * chains into the next pair unless it itself equals l — shared by
    * the driver-resident trainer and the RDD merge loop. */
  private def bpeRewrite(syms: Array[String], l: String,
      r: String): Array[String] = {
    val b = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        b += (l + r); i += 2
      } else { b += syms(i); i += 1 }
    }
    b.result()
  }

  /** Distributed BPE merge-table training (the public byte-pair-
    * encoding algorithm of Sennrich/Haddow/Birch 2016): learn up to
    * `nMerges` merges from the corpus and return them as
    * (rank, left, right, pair_count) — exact integers and strings, so
    * the result is bit-deterministic across runs and partitionings.
    *
    * Spark shape: ONE corpus-scale pass (word extraction + frequency
    * aggregation — the only stage that grows with corpus bytes), then
    * `nMerges` VOCAB-scale iterations over the (freq, syms) word list,
    * driven over RDDs so nothing compiles per round (the DataFrame
    * spelling re-entered Catalyst every merge, measured as ~60% of the
    * gate's wall at sf0.1): flatMap adjacency counts → reduceByKey
    * (map-side combine, so the shuffle is distinct-pairs-scale, not
    * adjacency-scale) → takeOrdered(1) under the count-desc/code-point
    * ordering → the [[bpeRewrite]] advance applied only to words
    * holding the winning pair, persisted DISK_ONLY per round with the
    * predecessor freed. The vocabulary is Zipf-bounded orders of
    * magnitude below corpus bytes, so every post-pass iteration is a
    * small job and the corpus is read exactly once. Training stops
    * early when no pair repeats (pair_count < 2 learns nothing).
    * BpeSuite pins it against the independent reference and the
    * driver trainer. */
  private[graft] def trainBpeMerges(s: SparkSession, docs: DataFrame,
      nMerges: Int): DataFrame = {
    val pairOrd = new Ordering[((String, String), Long)] {
      def compare(a: ((String, String), Long),
          b: ((String, String), Long)): Int = {
        val c = java.lang.Long.compare(b._2, a._2)
        if (c != 0) c
        else {
          val cl = utf8Ord.compare(a._1._1, b._1._1)
          if (cl != 0) cl else utf8Ord.compare(a._1._2, b._1._2)
        }
      }
    }
    var vocab = bpeInitVocab(docs).rdd
      .map(row => (row.getLong(0), row.getSeq[String](1).toArray))
      .persist(StorageLevel.DISK_ONLY)
    vocab.count()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      val best = vocab.flatMap { case (f, syms) =>
        (0 until syms.length - 1).iterator
          .map(i => ((syms(i), syms(i + 1)), f))
      }.reduceByKey(_ + _).takeOrdered(1)(pairOrd)
      if (best.isEmpty || best(0)._2 < 2) done = true
      else {
        val ((l, r), cnt) = best(0)
        rank += 1
        merges += ((rank, l, r, cnt))
        val prev = vocab
        vocab = vocab.map { case (f, syms) =>
          var has = false
          var i = 0
          while (!has && i + 1 < syms.length) {
            has = syms(i) == l && syms(i + 1) == r; i += 1
          }
          if (has) (f, bpeRewrite(syms, l, r)) else (f, syms)
        }.persist(StorageLevel.DISK_ONLY)
        vocab.count()
        prev.unpersist(false)
      }
    }
    vocab.unpersist(false)
    import s.implicits._
    merges.result().toDF("rank", "left", "right", "pair_count")
  }

  /** Driver-resident BPE merge loop — the measured production-k
    * path. ONE distributed pass builds the word-frequency vocabulary
    * (the only stage that grows with corpus bytes — 100 TB of text
    * reduces here); the merge loop then runs in driver memory over
    * the collected Zipf-bounded vocab, because every distributed
    * variant measured pays a vocabulary-scale term per iteration (the
    * recount is map-side-combined but still scans the vocab and
    * re-materializes the advanced vocab) plus fixed job overhead —
    * ×32 000 iterations, that dominates. Here an iteration is O(affected words · word length)
    * with NO job at all: a TreeSet keyed (−count, l, r) gives the
    * deterministic argmax in O(log P), a pair→words posting index
    * (lazily cleaned) locates exactly the words holding the winning
    * adjacency, and each rewrite applies its own pair-count deltas.
    * Bit-identical to [[trainBpeMerges]] (same greedy fold, same
    * tie-break, exact longs — BpeSuite pins equality at k=256 wide
    * vocab and on the corpus). Memory bound is the vocabulary, not
    * the corpus — ALL distinct words including hapax legomena (no
    * frequency cutoff: two freq-1 words can share a pair whose summed
    * count reaches 2), which on web corpora roughly doubles the
    * distinct-type count vs a freq≥2 view; size the driver for the
    * full type count (tens of millions of types ≈ GBs), and beyond
    * that the distributed loop remains in-tree. */
  private[graft] def trainBpeMergesDriver(s: SparkSession, docs: DataFrame,
      nMerges: Int): DataFrame = {
    val collected = bpeInitVocab(docs)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toArray))
    val freqs = collected.map(_._1)
    val words = collected.map(_._2)
    val counts = scala.collection.mutable.HashMap[(String, String), Long]()
    val postings =
      scala.collection.mutable.HashMap[(String, String),
        scala.collection.mutable.HashSet[Int]]()
    def addPost(p: (String, String), wi: Int): Unit =
      postings.getOrElseUpdate(p,
        scala.collection.mutable.HashSet[Int]()) += wi
    var wi = 0
    while (wi < words.length) {
      val syms = words(wi); val f = freqs(wi)
      var i = 0
      while (i + 1 < syms.length) {
        val p = (syms(i), syms(i + 1))
        counts(p) = counts.getOrElse(p, 0L) + f
        addPost(p, wi)
        i += 1
      }
      wi += 1
    }
    val order = scala.collection.mutable.TreeSet[(Long, String, String)]()(
      Ordering.Tuple3(Ordering[Long].reverse, utf8Ord, utf8Ord))
    counts.foreach { case ((l, r), c) => order += ((c, l, r)) }
    def bump(p: (String, String), delta: Long): Unit = {
      val old = counts.getOrElse(p, 0L)
      if (old != 0L) order -= ((old, p._1, p._2))
      val nw = old + delta
      if (nw == 0L) counts.remove(p)
      else { counts(p) = nw; order += ((nw, p._1, p._2)) }
    }
    def rewrite(syms: Array[String], l: String, r: String): Array[String] =
      bpeRewrite(syms, l, r)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      if (order.isEmpty || order.head._1 < 2) done = true
      else {
        val (cnt, l, r) = order.head
        rank += 1
        merges += ((rank, l, r, cnt))
        val pair = (l, r)
        // postings may hold words whose adjacency was rewritten away
        // since insertion — verify against the CURRENT symbols
        val cand = postings.remove(pair).getOrElse(
          scala.collection.mutable.HashSet[Int]())
        cand.foreach { w =>
          val syms = words(w)
          var has = false
          var i = 0
          while (!has && i + 1 < syms.length) {
            has = syms(i) == l && syms(i + 1) == r; i += 1
          }
          if (has) {
            val f = freqs(w)
            var j = 0
            while (j + 1 < syms.length) {
              bump((syms(j), syms(j + 1)), -f); j += 1
            }
            val ns = rewrite(syms, l, r)
            words(w) = ns
            j = 0
            while (j + 1 < ns.length) {
              val p = (ns(j), ns(j + 1))
              bump(p, f)
              addPost(p, w)
              j += 1
            }
          }
        }
      }
    }
    import s.implicits._
    merges.result().toDF("rank", "left", "right", "pair_count")
  }

  /** Gate: learn 16 BPE merges from the corpus. The greedy
    * adjacent-merge rewrite is not SQL-expressible (string replace
    * can't reproduce greedy fold semantics on symbol runs), so the
    * driver-level content check is a committed SELF-ORACLE fixture
    * (see the oracle entry) rather than a DuckDB re-derivation;
    * independent correctness is pinned in BpeSuite against an in-JVM
    * reference implementation plus the hand-computed classic
    * fixture, and the iteration-1 pair stats are fully oracled as
    * `t_bpe_pairs`. */
  def tBpeTrain(s: SparkSession, d: String): DataFrame =
    trainBpeMerges(s, Tables.documents(s, d), 16).orderBy(col("rank"))

  /** Gate: the PRODUCTION-k BPE path — [[trainBpeMergesDriver]]'s
    * driver-resident merge loop (one distributed corpus pass, then
    * O(affected-words) in-memory iterations, 0 shuffle per merge — the
    * measured ~10× marginal winner at 300 k vocab) at k=256, so the
    * path users would actually run flows through a driver CORRECTNESS
    * row like every other component. Committed-fixture self-oracle
    * like [[tBpeTrain]] (the greedy fold is not SQL-expressible);
    * bit-equality with the distributed trainer AND the independent
    * in-JVM reference at this k is pinned in BpeSuite. The fixed
    * testdata vocabulary exhausts below k (merges stop when no pair
    * repeats), which is itself part of the pinned behavior. */
  def tBpeTrainDriver(s: SparkSession, d: String): DataFrame =
    trainBpeMergesDriver(s, Tables.documents(s, d), 256)
      .orderBy(col("rank"))

  /** Quality scoring: stopword ratio + lexical diversity. */
  def tQualityScore(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")
    Tables.documents(s, d)
      .withColumn("t", toks(col("text")))
      .withColumn("n_tokens", size(col("t")))
      .withColumn("stop_ratio",
        round(size(filter(col("t"), t => t.isin(stop: _*))).cast("double") /
          col("n_tokens"), 4))
      .withColumn("lexical_div",
        round(size(array_distinct(col("t"))).cast("double") /
          col("n_tokens"), 4))
      .withColumn("quality",
        round(lit(0.4) * col("stop_ratio") + lit(0.6) * col("lexical_div"), 4))
      .select(col("doc_id"), col("n_tokens"), col("stop_ratio"),
        col("lexical_div"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** Language ID via marker-word counts (n-gram-heuristic style):
    * deterministic argmax with a fixed tie-break chain. */
  def tLangId(s: SparkSession, d: String): DataFrame = {
    def score(t: Column, ws: Seq[String]): Column =
      size(filter(t, x => x.isin(ws: _*)))
    Tables.documents(s, d)
      .withColumn("t", toks(col("text")))
      .withColumn("s_en", score(col("t"), Seq("the", "and", "of", "to", "is")))
      .withColumn("s_de", score(col("t"), Seq("der", "die", "das", "und", "ist")))
      .withColumn("s_fr", score(col("t"), Seq("le", "les", "et", "des", "une")))
      .withColumn("s_es", score(col("t"), Seq("el", "los", "las", "y", "como")))
      .withColumn("predicted_lang",
        when(col("s_en") > 0 && col("s_en") >= col("s_de") &&
          col("s_en") >= col("s_fr") && col("s_en") >= col("s_es"), "en")
          .when(col("s_de") > 0 && col("s_de") >= col("s_fr") &&
            col("s_de") >= col("s_es"), "de")
          .when(col("s_fr") > 0 && col("s_fr") >= col("s_es"), "fr")
          .when(col("s_es") > 0, "es")
          .otherwise("und"))
      .select(col("doc_id"), col("s_en"), col("s_de"), col("s_fr"),
        col("s_es"), col("predicted_lang"))
      .orderBy(col("doc_id"))
  }

  /** Content fingerprint: digest of the sorted distinct vocabulary
    * (order-insensitive bag-of-words identity). */
  def tFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("t", toks(col("text")))
      .select(col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(col("t"))))
          .cast("binary")).as("fingerprint"))
      .orderBy(col("doc_id"))

  /** MinHash + LSH near-duplicate pairs.
    * Signature: 16 portable min-hashes over 3-word shingles. Each
    * shingle is digested ONCE (md5 → 32 hex chars); the 16 hash
    * families are the 16 sliding 15-hex-digit windows of that digest,
    * reconstructed from two conv() parses by integer shifts (see
    * [[minhashSigs]] for the measured 2.5× and the rejected
    * Carter-Wegman variant). LSH: 4 bands × 4 rows; the band digest
    * (band index baked in) is the only join key, so the pairwise
    * stage only sees hash-bucket collisions — the standard
    * sub-quadratic shape that survives 100 TB corpora. Pairs with
    * estimated Jaccard ≥ 0.5 are emitted. */
  /** Memoized: the cross-modal verifier [[VectorOps.xSemanticDedup]]
    * consumes the SAME candidate pairs, and a real pipeline
    * materializes the mining stage once — the result is pair-scale
    * (tiny next to the corpus), so it eagerly checkpoints and every
    * later consumer reads the materialized frame instead of re-running
    * signature computation + the band join. */
  def tMinhashPairs(s: SparkSession, d: String): DataFrame =
    minhashMemo.getOrElseUpdate(s, d)(
      computeMinhashPairs(s, d)
        .localCheckpoint(true, StorageLevel.DISK_ONLY))

  private val minhashMemo = new ResultMemo

  /** MinHash signatures `(doc_id, sig: array<long>[16])`.
    * Computed via explode → 16 min() aggregates: whole-stage-codegen
    * map side + one doc_id-partitioned shuffle (partial aggregation
    * combines map-side, so one 16-long row per doc crosses the
    * exchange). Docs with no shingles drop out here; they can never
    * reach est_jaccard ≥ 0.5 (their null signatures compare unequal),
    * so pair results are unchanged. Shared by the symmetric pair
    * miner and the stored-index probe ([[tIncrementalDedupIndexed]])
    * so both paths score from bit-identical signatures.
    *
    * The 16 hash families are the 16 sliding 15-hex-digit windows of
    * the shingle's single md5 — but RECONSTRUCTED from two conv()
    * parses instead of sixteen: with a = hex 1–15 and c = hex 16–30,
    * window i is exactly `((a & (2^(60−4i)−1)) << 4i) | (c >> (60−4i))`
    * — pure 60-bit-safe integer ops, bit-identical to
    * `conv(substr(m, i+1, 15))` (checksum-verified at sf0.1).
    * Measured with all 16 families forced: 16×conv 2.50 s vs
    * 2×conv+shifts 0.98 s against a 0.82 s tokenize+shingle+md5 floor
    * — conv() dominated the whole mining ring. (Earlier stage timings
    * that said conv was cheap were pruning artifacts: count() let
    * Catalyst drop 15 of the 16 aggregates. A Carter-Wegman a + i·b
    * derivation was as fast but statistically WRONG for minhash: the
    * families are correlated — one shingle minimizing a and b wins
    * all 16 slots — and candidate pairs at sf0.01 ballooned 25 → 128
    * against 25 exact-Jaccard-verified; sliding windows keep the
    * per-family orderings effectively independent because each
    * window's leading digits differ.) */
  private[queries] def minhashSigs(s: SparkSession, d: String): DataFrame = {
    val minCols: List[Column] = (0 until 16).toList.map { i =>
      val w = if (i == 0) col("a")
        else shiftleft(col("a").bitwiseAND(lit((1L << (60 - 4 * i)) - 1)),
          4 * i).bitwiseOR(shiftright(col("c"), 60 - 4 * i))
      min(w).as(s"w$i")
    }
    Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(shingles3(toks(col("text")))).as("shingle"))
      .withColumn("m", md5(col("shingle").cast("binary")))
      .withColumn("a", conv(substring(col("m"), 1, 15), 16, 10).cast("long"))
      .withColumn("c", conv(substring(col("m"), 16, 15), 16, 10).cast("long"))
      .groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until 16).map(i => col(s"w$i")): _*).as("sig"))
  }

  /** LSH band digests (4 bands × 4 rows, band index baked in) over a
    * 16-long `sig` column — the only join key candidate mining sees. */
  private[queries] val minhashBands: Column =
    transform(sequence(lit(0), lit(3)),
      b => md5(concat(b.cast("string"), lit("|"),
        concat_ws(",", transform(slice(col("sig"), b * 4 + 1, lit(4)),
          x => x.cast("string")))).cast("binary")))

  /** Checkpointed [[minhashSigs]], memoized per (session, dir, data):
    * the pair miner and the stored-index builder both consume the
    * signature frame, and a pipeline materializes it once (it IS the
    * index). Unlike the other memos this entry is doc-count-scale,
    * not pair-scale — DISK_ONLY keeps it off the heap and out of
    * executor storage memory either way.
    *
    * localCheckpoint, not persist: an explicit cache would pin the
    * blocks in the CacheManager for the JVM lifetime (no
    * post-materialization unpersist hook exists for a lazily returned
    * result); checkpoint blocks are freed by the ContextCleaner once
    * the result is unreferenced. (On a multi-executor cluster a
    * reliable checkpoint() or caller-managed persist would be
    * preferred — localCheckpoint does not survive executor loss.) */
  private[queries] def minhashSigsCk(s: SparkSession, d: String): DataFrame =
    sigsMemo.getOrElseUpdate(s, d)(
      minhashSigs(s, d).localCheckpoint(true, StorageLevel.DISK_ONLY))

  private val sigsMemo = new ResultMemo

  private def computeMinhashPairs(s: SparkSession, d: String): DataFrame = {
    val sigs = minhashSigsCk(s, d)

    // candidate pairs ride the band join as (doc, band_hash) ONLY and
    // dedup before the signatures attach — the 16-long sig arrays
    // never cross the bucket-join shuffle (same pair-dedup-then-join
    // shape as the embedding near-dup pipeline in Vector.scala)
    val posting = sigs.select(col("doc_id"),
      explode(minhashBands).as("band_hash"))
    val cand = posting.toDF("doc_a", "band_hash")
      .join(posting.toDF("doc_b", "band_hash"), Seq("band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / 16.0,
          4).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Incremental dedup: a new BATCH of documents (odd doc ids stand in
    * for "tonight's crawl") deduped against an existing CORPUS (even
    * doc ids stand in for "the training set"). Emits, per batch doc
    * that near-duplicates a corpus doc, its best corpus match (max
    * est_jaccard, ties to the smallest corpus id) — the docs a
    * pipeline would DROP before appending the batch.
    *
    * Derives from the memoized MinHash candidate ring: the asymmetric
    * (batch, corpus) pairs are exactly the mixed-parity subset of the
    * symmetric LSH pairs, so no second mining pass runs. At 100 TB the
    * corpus side's band postings are a STORED index (a lake table
    * keyed by band_hash); the nightly batch computes signatures for
    * its own docs only and probes that index with a band-keyed shuffle
    * join — corpus×corpus self-pairs are never generated, which is the
    * property that keeps nightly dedup O(batch·collisions), not
    * O(corpus²). [[tContamination]] shows the same probe shape against
    * a benchmark set. */
  def tIncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val pairs = tMinhashPairs(s, d)
    val asym = pairs
      .filter((col("doc_a") % 2) =!= (col("doc_b") % 2))
      .select(
        when(col("doc_a") % 2 === 1, col("doc_a")).otherwise(col("doc_b"))
          .as("doc_id"),
        when(col("doc_a") % 2 === 1, col("doc_b")).otherwise(col("doc_a"))
          .as("dup_of"),
        col("est_jaccard"))
    // best match per batch doc: one struct-max aggregate (no window —
    // a row_number over a corpus-scale frame would sort per partition;
    // the argmax shape is a map-side-combinable agg)
    asym.groupBy(col("doc_id"))
      .agg(max(struct(col("est_jaccard").as("j"), (-col("dup_of")).as("nd")))
        .as("m"))
      .select(col("doc_id"), (-col("m.nd")).cast("long").as("dup_of"),
        col("m.j").as("est_jaccard"))
      .orderBy(col("doc_id"))
  }

  /** [[tIncrementalDedup]] served from a STORED index — the shape the
    * in-memory gate's doc promises for 100 TB, made real on disk:
    *
    *  - the corpus's band postings persist as a lake table PARTITIONED
    *    BY `bucket(8, band_hash)`; the nightly batch writes its (small)
    *    postings with the SAME bucketing, so the probe join is
    *    storage-partitioned — the corpus-scale posting list is joined
    *    WITHOUT an exchange on either side (candidate mining never
    *    shuffles the index, the property that survives a corpus 1000×
    *    the batch);
    *  - candidates leave the probe as `(doc_id, dup_of)` pairs ONLY
    *    and dedup before anything wide attaches (the ids-only rule);
    *  - corpus signatures persist range-clustered by doc_id (8 files,
    *    footer min/max = the clustering witness), and the verify fetch
    *    broadcasts the candidate ID PAIRS onto that scan — the runtime
    *    filter skips every sig file whose doc_id range holds no
    *    candidate, so verification reads ~candidates/corpus of the sig
    *    store from DISK;
    *  - batch signatures never touch storage (tonight's compute).
    *
    * Same candidates, same signature bits, same scoring as
    * [[tIncrementalDedup]] → the gate shares its oracle: the storage
    * round-trip must not change one row. DedupIndexSuite drives the
    * full nightly cycle (probe → drop dups → append survivors →
    * re-probe) and pins the no-exchange probe plan + the sig-file
    * pruning.
    *
    * The gate runs build (3 lake-table writes) and probe eagerly,
    * reporting each as its own [[graft.StageTimes]] stage — the
    * headline number is build + probe, but the SERVING claim is the
    * probe alone, so the bench artifact carries the split. The SPJ
    * confs the candidate join needs are set on a CLONED session
    * (never on the caller's — a query planned concurrently on the
    * shared session must not inherit a disabled broadcast
    * threshold), and the scratch tables are dropped before
    * returning. */
  def tIncrementalDedupIndexed(s: SparkSession, d: String): DataFrame = {
    LakeOps.cat(s)
    val postT = LakeOps.fresh("dedupidx_post")
    val sigT = LakeOps.fresh("dedupidx_sig")
    val batchT = LakeOps.fresh("dedupidx_batch")
    val sigs = graft.StageTimes.timed("t_incremental_dedup_indexed.build") {
      val sg = minhashSigsCk(s, d)
      val post = sg.select(col("doc_id"), explode(minhashBands).as("band_hash"))
      post.filter(col("doc_id") % 2 === 0)
        .writeTo(graft.lake.Names.q(s, postT)).using("lake")
        .partitionedBy(bucket(8, col("band_hash"))).create()
      // the doc_id bloom is what lets the verify join's runtime filter
      // reach the scan (filterAttributes reports bloomed columns);
      // dictionary encoding is disabled for it because parquet drops
      // the bloom for fully-dictionary-encoded columns
      sg.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(8, col("doc_id"))
        .writeTo(graft.lake.Names.q(s, sigT)).using("lake")
        .tableProperty("write.parquet.bloom-filter-enabled.column.doc_id",
          "true")
        .tableProperty("write.parquet.bloom-filter-expected-ndv.column.doc_id",
          "16384")
        .tableProperty("write.parquet.dict-enabled.column.doc_id", "false")
        .create()
      post.filter(col("doc_id") % 2 === 1)
        .writeTo(graft.lake.Names.q(s, batchT)).using("lake")
        .partitionedBy(bucket(8, col("band_hash"))).create()
      sg
    }

    val result = graft.StageTimes.timed("t_incremental_dedup_indexed.probe") {
      // probe: storage-partitioned join on the shared bucketing. The
      // confs it needs (v2 bucketing on, broadcast off so the planner
      // cannot trade the exchange-free SPJ for a broadcast) live on
      // their own SESSION (shared SparkContext, separate SQLConf) —
      // never on the caller's, where a concurrently planned query
      // would inherit a disabled broadcast threshold. The catalog is
      // disk-backed, so the probe session sees the freshly created
      // tables through its own catalog instance
      // ([[spjProbeSession]] — memoized per parent session).
      val sc = spjProbeSession(s)
      val cand = sc.table(graft.lake.Names.q(s, batchT))
        .join(sc.table(graft.lake.Names.q(s, postT)).toDF("dup_of", "band_hash"),
          Seq("band_hash"))
        .select(col("doc_id"), col("dup_of"))
        .distinct()
        .localCheckpoint(true, StorageLevel.DISK_ONLY)

      // verify: id-pairs-only broadcast prunes the stored sig files;
      // the two candidate-scale sides then meet in a pair-keyed join.
      // The id-domain filter is true by construction (doc ids are
      // non-negative) — it is the selective predicate the runtime-filter
      // planner requires on the build side before it hands the candidate
      // ids to the sig scan for file skipping
      val withB = s.table(graft.lake.Names.q(s, sigT))
        .select(col("doc_id").as("dup_of"), col("sig").as("sig_b"))
        .join(broadcast(cand.filter(col("dup_of") >= 0)), Seq("dup_of"))
      withB
        .join(sigs.select(col("doc_id"), col("sig").as("sig_a")), Seq("doc_id"))
        .select(col("doc_id"), col("dup_of"),
          round(aggregate(
            zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, x) => acc + x).cast("double") / 16.0,
            4).as("est_jaccard"))
        .filter(col("est_jaccard") >= 0.5)
        .groupBy(col("doc_id"))
        .agg(max(struct(col("est_jaccard").as("j"), (-col("dup_of")).as("nd")))
          .as("m"))
        .select(col("doc_id"), (-col("m.nd")).cast("long").as("dup_of"),
          col("m.j").as("est_jaccard"))
        .localCheckpoint(true, StorageLevel.DISK_ONLY)
    }
    // result is materialized — the per-invocation scratch tables can go
    Seq(postT, sigT, batchT).foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS ${graft.lake.Names.q(s, t)} PURGE"))
    result.orderBy(col("doc_id"))
  }

  /** The SPJ probe session, memoized per parent session: the probe
    * confs (v2 bucketing on, broadcast off) must not leak to
    * concurrently planned queries, so probes run on a CLONED session —
    * but cloning per probe made every storage-partitioned probe pay a
    * cold SessionState (fresh analyzer/optimizer caches, catalog
    * re-registration, namespace DDL round-trip): measured ~2.3 s of
    * job-free driver time per mined-refresh probe at sf0.1, paid once
    * per streaming epoch. One clone per parent session keeps the
    * isolation (the parent never sees the confs) and the metadata
    * stays fresh — the lake catalog reads the metadata log from disk
    * on every loadTable, so a cached session observes every commit
    * the parent makes between probes. Namespace conf is re-carried on
    * every call (tests repoint it per spec). */
  private val probeSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()
  private[queries] def spjProbeSession(s: SparkSession): SparkSession =
    probeSessions.synchronized {
      var sc = probeSessions.get(s)
      if (sc == null || sc.sparkContext.isStopped) {
        sc = s.newSession()
        LakeOps.cat(sc)
        sc.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        sc.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        probeSessions.put(s, sc)
      }
      graft.lake.Names.carryTo(s, sc)
      sc
    }

  /** Max document frequency for a shingle to stay in the inverted
    * index: a shingle appearing in more than MaxShingleDf docs is a
    * "stop shingle" and is dropped from the Jaccard universe entirely
    * (its posting list alone would contribute O(df²) candidate pairs
    * on one join key — the classic skew blowup at corpus scale). */
  private val MaxShingleDf = 100

  /** n-gram Jaccard over an inverted index on 3-word shingles
    * (explode → equi-join), with a document-frequency cap: shingles
    * with df > MaxShingleDf are removed from the universe before the
    * self-join, and per-doc set sizes are recomputed over the capped
    * universe — so the reported value is the exact Jaccard of the
    * non-stop-shingle sets, and no single join key can go quadratic.
    * The df window partitions by shingle, the same key as the
    * self-join, so the exchange is planned once and reused. */
  def tNgramJaccard(s: SparkSession, d: String): DataFrame =
    ngramPairsRaw(s, d).orderBy(col("doc_a"), col("doc_b"))

  /** Unsorted n-gram-Jaccard pairs — the gate adds the presentation
    * orderBy; graph consumers ([[tDedupGroups]]) must not inherit a
    * global sort exchange they immediately destroy. Memoized like
    * [[tMinhashPairs]]: the grouping stage consumes the same pairs,
    * and the result is pair-scale — mined once, read thereafter. */
  private def ngramPairsRaw(s: SparkSession, d: String): DataFrame =
    ngramMemo.getOrElseUpdate(s, d)(
      computeNgramPairs(s, d)
        .localCheckpoint(true, StorageLevel.DISK_ONLY))

  private val ngramMemo = new ResultMemo

  private def computeNgramPairs(s: SparkSession, d: String): DataFrame = {
    val wSh = Window.partitionBy(col("shingle"))
    // localCheckpoint, not persist — see tMinhashPairs: materialized
    // once, released by the ContextCleaner, DISK_ONLY so the posting
    // list never competes with execution memory. Only the df window
    // runs over the full posting (same partition key as the
    // self-join); per-doc set sizes are a SEPARATE small aggregate
    // joined onto the pair results — carrying them through a
    // Window.partitionBy(doc_id) would reshuffle the whole posting a
    // second time just to move one long per row.
    val posting = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(shingles3(toks(col("text")))).as("shingle"))
      .withColumn("dfreq", count(lit(1)).over(wSh))
      .filter(col("dfreq") <= MaxShingleDf)
      .select(col("doc_id"), col("shingle"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    // exact per-doc sizes over the capped universe: one narrow
    // aggregate of the already-materialized posting, |docs| rows
    val docSizes = posting.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"))
    val a = posting.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = posting.select(col("doc_id").as("doc_b"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(docSizes.select(col("doc_id").as("doc_a"),
        col("n_sh").as("na")), Seq("doc_a"))
      .join(docSizes.select(col("doc_id").as("doc_b"),
        col("n_sh").as("nb")), Seq("doc_b"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= 0.6)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** 16-bit SimHash from distinct-token md5 nibble parities — one
    * narrow projection per doc; near-dup grouping is then a plain
    * hash shuffle on the signature. */
  def tSimhash(s: SparkSession, d: String): DataFrame = {
    val bits = transform(sequence(lit(1), lit(16)), pos =>
      when(aggregate(col("td"), lit(0), (acc, t) =>
        acc + when(substring(md5(t.cast("binary")), pos, lit(1))
          .isin(oddHex: _*), 1).otherwise(-1)) > 0, 1).otherwise(0))
    Tables.documents(s, d)
      .withColumn("td", array_distinct(toks(col("text"))))
      .select(col("doc_id"),
        aggregate(bits, lit(0), (acc, x) => acc * 2 + x).as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup PAIR MINING — the banded-blocking step that
    * turns signatures into a dedup candidate graph. Uses its own
    * 64-bit signature (4 × 16-bit band values, never materialized as
    * one long): band width is what keeps posting lists sub-linear —
    * banding the 16-bit `t_simhash` signature would put a
    * million-doc corpus behind 4-bit keys (64 buckets → quadratic
    * candidates). 4 × 16-bit banding is sound blocking for hamming
    * ≤ 3: three flipped bits touch at most three bands, so one band
    * always matches exactly. Same pair-dedup-then-score shape as
    * [[tMinhashPairs]]; only (doc, band, 16-bit key) crosses the
    * bucket-join shuffle. */
  def tSimhashPairs(s: SparkSession, d: String): DataFrame = {
    // FEATURES ARE 3-WORD SHINGLES, NOT UNIGRAMS. Unigram simhash
    // collapses on any corpus with a shared vocabulary: stopword-ish
    // tokens vote identically in every document, so every long doc's
    // per-bit majority converges to the corpus-majority bit and
    // signatures cluster around one "language centroid" — measured at
    // sf0.01, unigram votes put 5554 pairs under hamming ≤ 3 with a
    // 2×-per-bit rising histogram (the random tail, not near-dups;
    // idf-weighting the votes only cut it to 2592), and the shared
    // band keys are a hot bucket that goes quadratic at corpus scale.
    // Shingles are the minhash lesson applied here: near-unique per
    // doc, shared only through genuinely shared content, so the
    // histogram flattens to dup-dominated (10 pairs at sf0.01,
    // 1/2/4/3 across hamming 0-3) and band keys stay uniform.
    //
    // Per-shingle: ONE md5 → 4 × 32-bit integer words; band b's 16
    // vote bits are the low 16 bits of word b ((w >> i) & 1 — md5
    // bits are uniform raw bits; the first cut burned TWO md5s and
    // 8 conv()s per feature for 64 hex-digit parities). One
    // doc_id-keyed hash aggregation with 64 integer bit-vote sums —
    // the same explode → N-aggregates shape as [[tMinhashPairs]],
    // entirely whole-stage-codegen; partial aggregation combines
    // map-side, so one row per doc crosses the exchange. (Voting with
    // per-bit higher-order aggregates instead measured 4× slower —
    // HOF lambdas never enter whole-stage codegen.) Signature bit =
    // ones outnumber zeros (2·ones > n). Docs too short to shingle
    // drop at the explode (their all-zero signatures would
    // pairwise-collide without being near-dups).
    val words = (0 until 4).map(w =>
      conv(substring(col("h"), w * 8 + 1, 8), 16, 10).cast("long")
        .as(s"w$w"))
    val votes = for { b <- 0 until 4; i <- 0 until 16 } yield
      sum(shiftright(col(s"w$b"), i).bitwiseAND(1))
        .as(s"v${b * 16 + i}")
    val bandCols = (0 until 4).map { b =>
      (0 until 16).map { i =>
        when(col(s"v${b * 16 + i}") * 2 > col("n"), 1 << (15 - i))
          .otherwise(0)
      }.reduce(_ + _).as(s"band$b")
    }
    val sig = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(shingles3(toks(col("text")))).as("sh"))
      .withColumn("h", md5(col("sh").cast("binary")))
      .select(col("doc_id") +: words: _*)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), votes: _*)
      .select(col("doc_id"), array(bandCols: _*).as("sig"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    // candidate pairs ride the band join as (doc, band, 16-bit key)
    // ONLY and dedup before the signatures attach — the 4-long sig
    // arrays never cross the bucket-join shuffle or the distinct
    // (round 7 carried sig_a/sig_b through both; hot-band skew
    // amplifies the widest rows at scale, and locally it was the
    // single slowest query in the suite). Same ids-only
    // mine → distinct → fetch shape as [[tMinhashPairs]].
    val posting = sig.select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bkey", element_at(col("sig"), col("band") + 1))
      .select(col("doc_id"), col("band"), col("bkey"))
    val cand = posting.toDF("doc_a", "band", "bkey")
      .join(posting.toDF("doc_b", "band", "bkey"), Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => bit_count(x.bitwiseXOR(y))),
          lit(0L), (acc, x) => acc + x).as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Bigram PMI collocation mining — the phrase-discovery statistic
    * (pointwise mutual information) over the corpus's own unigram and
    * bigram frequencies. Shape: two explode → hash-aggregate passes
    * (token- and bigram-keyed — the corpus never crosses the wire
    * unreduced thanks to map-side partials), the two totals ride a
    * 1-row broadcast, and the unigram side joins back twice on the
    * token key. A min-count floor (≥ 5) keeps the result to real
    * collocations — and at 100 TB it is also the skew valve: rare
    * bigrams never reach the join.
    *
    * The gate emits the EXACT-INTEGER witnesses (cab, ca, cb, n, m —
    * all BIGINT), from which pmi = ln((cab/m)/((ca/n)·(cb/n))) is
    * exactly derivable, instead of a rounded float: the driver hash
    * is float-bit sensitive, and `round(ln(x), 4)` lands on
    * knife-edges where JVM Math.log and DuckDB's libm differ by one
    * ULP (round 7 shipped the float and the gate hash-mismatched on
    * value-identical results — same class as the t_tfidf ulp-safe
    * ordering fix). Counts never disagree across engines. */
  def tPmiBigrams(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("t", filter(toks(col("text")), x => x =!= ""))
    val uni = docs.select(explode(col("t")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val len = greatest(size(col("t")) - 1, lit(0))
    val bi = docs.select(explode(zip_with(
        slice(col("t"), lit(1), len), slice(col("t"), lit(2), len),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("cab"))
    val totals = uni.agg(sum(col("c")).as("n"))
      .crossJoin(bi.agg(sum(col("cab")).as("m")))
    bi.filter(col("cab") >= 5)
      .withColumn("a", split(col("bg"), " ").getItem(0))
      .withColumn("b", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("tok").as("a"), col("c").as("ca")), Seq("a"))
      .join(uni.select(col("tok").as("b"), col("c").as("cb")), Seq("b"))
      .crossJoin(broadcast(totals))
      .select(col("bg"), col("cab"), col("ca"), col("cb"),
        col("n"), col("m"))
      .orderBy(col("bg"))
  }

  /** Repetition filter (Gopher-style quality signal): per-document
    * distinct-token and top-token fractions flag degenerate /
    * repetitive documents. One explode + two doc-keyed hash
    * aggregations (token counts, then doc stats) — both shuffles
    * partition on doc_id, the standard shape at any corpus size;
    * map-side partial aggregation keeps the exploded row count from
    * ever crossing the wire unreduced. */
  def tRepetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("n_distinct").cast("double") / col("n_tokens"), 4)
          .as("distinct_frac"),
        round(col("top_count").cast("double") / col("n_tokens"), 4)
          .as("top_tok_frac"),
        when(col("top_count").cast("double") / col("n_tokens") > 0.1, 1)
          .otherwise(0).as("repetitive"))
      .orderBy(col("doc_id"))

  /** BM25 relevance of every document against a fixed query term set
    * (k1=1.2, b=0.75). Term frequencies come from one narrow
    * higher-order-function projection (no explode); the corpus-level
    * document frequencies and average length are a single 1-row
    * aggregate broadcast back — so the whole scoring pass is scan +
    * tiny broadcast join, no wide shuffle at any scale. */
  def tBm25(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "join", "data")
    val k1 = 1.2
    val b = 0.75
    val base = Tables.documents(s, d)
      .withColumn("t", toks(col("text")))
      .select(Seq(col("doc_id"), size(col("t")).cast("double").as("dl")) ++
        terms.map(tm => size(filter(col("t"), x => x === lit(tm)))
          .cast("double").as(s"tf_$tm")): _*)
    val statCols =
      Seq(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl")) ++
        terms.map(tm => sum(when(col(s"tf_$tm") > 0, 1).otherwise(0))
          .cast("double").as(s"df_$tm"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val score = terms.map { tm =>
      val idf = log((col("n") - col(s"df_$tm") + 0.5) / (col(s"df_$tm") + 0.5) + 1)
      idf * col(s"tf_$tm") * lit(k1 + 1) /
        (col(s"tf_$tm") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl").cast("long").as("n_tokens"),
        round(score, 4).as("bm25"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-level rollup by (source, lang): the reporting aggregate a
    * training-data pipeline runs after every filter stage. One
    * hash-partitioned groupBy with map-side partials. */
  def tCorpusStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        round(avg(col("n_chars")), 2).as("avg_chars"))
      .orderBy(col("source"), col("lang"))

  // PII patterns chosen to parse identically under Java regex (Spark)
  // and RE2 (DuckDB oracle): char classes, bounded repetition, \b.
  private val EmailPat = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val Ipv4Pat = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  private val PhonePat = """\b\d{3}-\d{3}-\d{4}\b"""

  /** PII scrubbing (the redaction stage every training-data pipeline
    * runs before tokenization): count and redact emails, IPv4s and
    * phone numbers. The corpus is synthetic and contains no real PII,
    * so the operator first plants one deterministic instance of each
    * kind per document (same expression on the oracle side) — the gate
    * then verifies count AND replacement semantics, not just a row of
    * zeros. Pure narrow projection: regexp_extract_all counts + a
    * regexp_replace chain, whole-stage codegen'd, no shuffle at any
    * corpus size. */
  def tPiiRedact(s: SparkSession, d: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com from 10.0."),
      (col("doc_id") % 256).cast("string"),
      lit(".7 or 555-"),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
      lit("-4821"))
    def nMatches(c: Column, pat: String): Column =
      size(regexp_extract_all(c, lit(pat), lit(0)))
    // email first (it contains dots/digits an IP pattern could nibble),
    // then IPs, then phones — the oracle applies the same order
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(planted, EmailPat, "<EMAIL>"),
          Ipv4Pat, "<IP>"),
        PhonePat, "<PHONE>")
    Tables.documents(s, d)
      .select(col("doc_id"),
        nMatches(planted, EmailPat).as("n_emails"),
        nMatches(planted, Ipv4Pat).as("n_ips"),
        nMatches(planted, PhonePat).as("n_phones"),
        md5(redacted.cast("binary")).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** Near-duplicate GROUP assignment: connected components over the
    * n-gram-Jaccard pair graph ([[tNgramJaccard]]'s edges), labeling
    * every document with the minimum doc_id of its component — the
    * "keep one canonical doc per dup cluster" step that follows pair
    * generation in a dedup pipeline.
    *
    * Distributed min-label propagation: each round joins the
    * (symmetrized) edge list against current labels and lowers every
    * vertex to its neighborhood minimum — one hash-partitioned join +
    * aggregation per round, converging in graph-diameter rounds.
    * Near-dup components are small and dense (diameter 2-3), so
    * neighbor-min alone almost always converges in a handful of
    * rounds; past round 8 each round ALSO pointer-halves
    * (label(v) <- min(label(v), label(label(v))), the hash-to-min /
    * large-star move), which collapses a diameter-D chain in
    * O(log D) further rounds — so pathological chain corpora
    * converge instead of hitting a cap. The 64-round failsafe is
    * unreachable for any physical corpus (doubling covers diameters
    * beyond 2^50); it exists so a future logic bug loops loudly,
    * not forever. Each round persists its labels and unpersists the
    * previous to keep lineage flat; the per-round isEmpty is the
    * convergence check, a scalar action, not a data collect.
    *
    * The grouped labels are memoized per (session, dir): canonical-doc
    * selection ([[tDedupKeepBest]]) is a downstream consumer of the
    * SAME labels, and a real pipeline materializes the grouping stage
    * once — without the memo every consumer re-runs pair mining plus
    * the whole propagation loop (round 6 benched that as 12.5 s of
    * the 61 s suite, two-thirds of it recomputation). */
  def tDedupGroups(s: SparkSession, d: String): DataFrame =
    groupsMemo.getOrElseUpdate(s, d)(computeDedupGroups(s, d))

  private val groupsMemo = new ResultMemo

  /** Symmetrize an undirected (doc_a, doc_b) pair list with ONE
    * evaluation of the input: union(pairs, pairs.swapped) would run
    * the (expensive) pair-mining DAG once per branch — explode
    * duplicates each row in place instead. */
  private def symmetrize(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
      struct(col("doc_a"), col("doc_b")),
      struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
      .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"))

  private def computeDedupGroups(s: SparkSession, d: String): DataFrame = {
    val pairs = ngramPairsRaw(s, d).select(col("doc_a"), col("doc_b"))
    val edges = symmetrize(pairs).persist()
    val labels = propagateMin(edges)
    edges.unpersist()
    // singletons (no near-dup edge) are their own group; a left join
    // from the corpus re-attaches them without ever having paid the
    // per-round loop cost
    val full = Tables.documents(s, d).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("group_id"), col("doc_id")).as("group_id"))
    // localCheckpoint for the returned labels too: truncates the
    // final join lineage, and the memo in [[tDedupGroups]] holds the
    // frame so downstream consumers (keep_best, repeat gate runs)
    // read these DISK_ONLY blocks instead of recomputing the loop
    full.orderBy(col("doc_id"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
  }

  /** Distributed min-label propagation over a SYMMETRIZED (persisted)
    * edge list: labels every edge VERTEX with the minimum doc_id of
    * its connected component. Iterates over edge vertices only — a
    * document with no near-dup edge is its own component and can
    * never change, so it has no business inside the propagation loop;
    * the dup subgraph is a vanishing fraction of any real corpus, and
    * at 100 TB this is the difference between per-round joins over
    * the full corpus and per-round joins over just the duplicate
    * cluster members. (edges is symmetrized, so doc_a alone covers
    * every vertex.) Also the engine of the label-space CONTRACTED
    * graph the stored group index refreshes through — vertex ids
    * there are component labels, the algebra is identical. */
  private def propagateMin(edges: DataFrame): DataFrame = {
    // Size-gated driver fast path (the broadcast-join trade applied to
    // connected components): when the dup subgraph's edge list fits a
    // bounded driver budget, a union-find over the collected pairs
    // labels it exactly — one bounded collect instead of 3-4 scheduled
    // jobs per propagation round (measured ~2-3 s/refresh at sf0.1;
    // the label-space contracted graphs the stored-index refresh feeds
    // here are batch-bounded, so at 100 TB nightly scale they still
    // fit). Graphs past the budget take the distributed loop below
    // unchanged — the loop IS the scale path, the gate only picks the
    // cheaper exact algorithm when the data is provably small, and
    // both produce the identical min-label-per-component result
    // (DedupPropagationSuite pins the equality).
    val limit = edges.sparkSession.conf
      .get("spark.graft.cc.driverEdgeLimit", "100000").toInt
    if (limit > 0) {
      val sample = edges.select(col("doc_a"), col("doc_b"))
        .limit(limit + 1).collect()
      if (sample.length <= limit) {
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.get(r)
          var c = x
          while (parent.getOrDefault(c, c) != c) {
            val n = parent.get(c); parent.put(c, r); c = n
          }
          r
        }
        sample.foreach { e =>
          val (a, b) = (e.getLong(0), e.getLong(1))
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        val out = sample.iterator.map(_.getLong(0)).toSet.toSeq
          .map((v: Long) => (v, find(v)))
        val s2 = edges.sparkSession
        import s2.implicits._
        return s2.createDataset(out).toDF("doc_id", "group_id")
      }
    }
    var labels = edges.select(col("doc_a").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("group_id"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    var round = 0
    var converged = false
    // Per-round lineage is TRUNCATED with an eager localCheckpoint,
    // not persist(): persist keeps the logical plan growing round
    // over round, and the pointer-halving self-join below references
    // the round's plan TWICE — with persist that is exponential plan
    // growth (the 41-doc chain spec OOM'd building AQE's explain
    // string before any data moved). Checkpoint blocks are DISK_ONLY
    // (label frames never compete with execution memory) and are
    // released by the ContextCleaner as each round's frame goes
    // unreferenced — the loop is bounded, so nothing accumulates.
    while (round < 64 && !converged) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("doc_b"),
          col("group_id").as("nl")), Seq("doc_b"))
        .groupBy(col("doc_a")).agg(min(col("nl")).as("nmin"))
        .withColumnRenamed("doc_a", "doc_id")
      // carry a per-row changed flag instead of re-joining the new
      // labels against the previous ones: convergence becomes a scan
      // of the just-materialized frame, saving one join per round
      val nm = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("group_id"), coalesce(col("nmin"), col("group_id")))
            .as("group_id"),
          (coalesce(col("nmin"), col("group_id")) < col("group_id"))
            .as("changed"))
        .localCheckpoint(true, StorageLevel.DISK_ONLY)
      val stepped = if (round < 8) nm
      else {
        // pointer-halving rung for deep components: label values are
        // always doc_ids of edge vertices (init = self, min-combined),
        // so label(label(v)) resolves with an inner self-join — each
        // application halves every label chain, turning a diameter-D
        // path into O(log D) further rounds where neighbor-min alone
        // does O(D). The join reads the checkpointed nm twice — flat
        // plan, cached blocks, no recomputation.
        nm.join(nm.select(col("doc_id").as("jid"), col("group_id").as("jg")),
            col("group_id") === col("jid"))
          .select(col("doc_id"),
            least(col("group_id"), col("jg")).as("group_id"),
            (col("changed") || col("jg") < col("group_id")).as("changed"))
          .localCheckpoint(true, StorageLevel.DISK_ONLY)
      }
      converged = stepped.filter(col("changed")).isEmpty
      labels = stepped.select(col("doc_id"), col("group_id"))
      round += 1
    }
    // silent non-convergence would hand the gate labels that are not
    // the component minimum — fail diagnosably instead (with
    // pointer-halving active this is unreachable for real corpora;
    // tripping it means a logic regression, not a deep component)
    if (!converged) {
      throw new IllegalStateException(
        s"dedup group propagation did not converge in $round rounds " +
          "despite pointer-halving; propagation logic is broken")
    }
    labels
  }

  /** [[tDedupGroups]] served from a STORED label index — the one
    * pipeline stage that was still recomputed per run with a natural
    * persisted form. The component labels live as a lake table
    * PARTITIONED BY `bucket(8, doc_id)` (the serving key: "which
    * group is doc X in" and the keep-best join are both doc_id
    * lookups), and the nightly batch REFRESHES them without touching
    * the corpus AT ALL — neither the propagation loop nor the pair
    * MINING re-reads corpus text:
    *
    *  - [[buildGroupIndex]] persists the corpus's full mining
    *    substrate next to the labels: shingle postings
    *    (bucket([[GroupIdxBuckets]], sh)), delta-appended shingle
    *    document frequencies (the [[tNgramNovelty]]
    *    index pattern), and per-doc capped set sizes (range-clustered
    *    by doc_id) — the state a probe needs to score ANY future doc
    *    against the corpus without re-shingling it;
    *  - [[refreshGroupIndexMined]] mines the batch's edges from the
    *    BATCH's shingles alone: its postings land in a scratch table
    *    sharing the index's bucket layout and probe the stored
    *    posting list with a storage-partitioned join (no exchange on
    *    the corpus-scale side), corpus set sizes fetch by broadcasting
    *    candidate ids onto the bloom-skipped size table, and batch×
    *    batch edges come from a batch-scale self-join — O(batch ·
    *    collisions) end to end, the [[tIncrementalDedupIndexed]] probe
    *    shape applied to the exact-Jaccard miner;
    *  - the mined edges are CONTRACTED to label space
    *    ([[refreshGroupIndex]]): component merging runs
    *    [[propagateMin]] on a graph whose vertices are component
    *    LABELS, the old→new mapping applies as ONE group_id-keyed
    *    MERGE, and the batch rows append with final labels;
    *  - serving reads the labels from DISK — consumers like
    *    [[tDedupKeepBest]] join storage, not a propagation loop.
    *
    * The split is 90/10 (doc_id % 10 == 1 plays the nightly batch,
    * everything else the stored corpus): a nightly batch is a
    * FRACTION of the corpus — the even/odd convention the asymmetric
    * probe gates use would make "tonight's crawl" half the training
    * set and drown the O(batch) claim in batch size. The split is
    * internal to the gate (the oracle is the one-shot full-corpus
    * labels regardless of how build and refresh partition the docs).
    * Build + refresh must reproduce those labels EXACTLY — exactness
    * holds because the additive DF index makes the refresh's capped
    * universe IDENTICAL to the one-shot miner's, guarded loudly when
    * a batch pushes a shingle across the df cap (see
    * [[refreshGroupIndexMined]]). GroupIndexSuite drives multi-batch
    * mined refreshes with transitive cross-batch merges and pins the
    * no-exchange probe. */
  def tDedupGroupsIndexed(s: SparkSession, d: String): DataFrame = {
    LakeOps.cat(s)
    val docs = Tables.documents(s, d)
    val idx = graft.StageTimes.timed("t_dedup_groups_indexed.build") {
      buildGroupIndex(s, docs.filter(col("doc_id") % 10 =!= 1))
    }
    graft.StageTimes.timed("t_dedup_groups_indexed.refresh") {
      refreshGroupIndexMined(s, idx, docs.filter(col("doc_id") % 10 === 1))
    }
    graft.StageTimes.timed("t_dedup_groups_indexed.maintain") {
      maintainGroupIndex(s, idx, "t_dedup_groups_indexed.maintain")
    }
    val result = graft.StageTimes.timed("t_dedup_groups_indexed.serve") {
      s.table(graft.lake.Names.q(s, idx.labels)).select(col("doc_id"), col("group_id"))
        .localCheckpoint(true, StorageLevel.DISK_ONLY)
    }
    Seq(idx.post, idx.df, idx.size, idx.labels).foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS ${graft.lake.Names.q(s, t)} PURGE"))
    result.orderBy(col("doc_id"))
  }

  /** Gate: the STREAMING continuous-ingest dedup twin end to end —
    * build the stored group index on 8/10 of the corpus, stream the
    * remaining two slices through a REAL Structured-Streaming query
    * ([[graft.streaming.IngestStreams.dedupIngest]]: MemoryStream
    * source, foreachBatch epochs, query-id-scoped exactly-once commit
    * tags) as two micro-batch epochs, and serve the final labels from
    * the index. The oracle is the same one-shot full-corpus
    * connected-components truth [[tDedupGroups]] carries: however the
    * corpus is split between build and stream, the labels must
    * reproduce it bit-for-bit (the IngestStreamsSuite/IngestScale
    * stream==batch pins, now under the driver's DuckDB hash gate).
    * The driver-side collect feeds the in-process source only — the
    * refresh inside each epoch reads the batch as a DataFrame, same
    * as production where the source is Kafka/files. */
  def tIngestDedupStream(s: SparkSession, d: String): DataFrame = {
    LakeOps.cat(s)
    val docs = Tables.documents(s, d)
    val idx = graft.StageTimes.timed("t_ingest_dedup_stream.build") {
      buildGroupIndex(s,
        docs.filter(col("doc_id") % 10 =!= 1 && col("doc_id") % 10 =!= 2))
    }
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ingest-gate-ckpt").toString
    try {
      import s.implicits._
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)](s)
      val q = graft.streaming.IngestStreams.dedupIngest(
        mem.toDF().toDF("doc_id", "text"), idx, ckpt)
      try graft.StageTimes.timed("t_ingest_dedup_stream.epochs") {
        Seq(1, 2).foreach { i =>
          mem.addData(docs.filter(col("doc_id") % 10 === i)
            .select(col("doc_id"), col("text")).collect()
            .map(r => (r.getLong(0), r.getString(1))).toSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
      val result = graft.StageTimes.timed("t_ingest_dedup_stream.serve") {
        s.table(graft.lake.Names.q(s, idx.labels))
          .select(col("doc_id"), col("group_id"))
          .localCheckpoint(true, StorageLevel.DISK_ONLY)
      }
      result.orderBy(col("doc_id"))
    } finally {
      Seq(idx.post, idx.df, idx.size, idx.labels).foreach(t =>
        s.sql(s"DROP TABLE IF EXISTS ${graft.lake.Names.q(s, t)} PURGE"))
      rmTree(s, ckpt)
    }
  }

  /** Recursive delete of a gate's scratch directory (stream
    * checkpoints) via Hadoop FileSystem — error-signaling and
    * URI-scheme-aware (checkpoint locations may be URIs), unlike a
    * silent java.io.File walk. A failed delete logs the leak rather
    * than failing the gate. */
  private[queries] def rmTree(s: SparkSession, dir: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      if (fs.exists(p) && !fs.delete(p, true))
        logger.warn(s"scratch directory not fully deleted: $dir")
    } catch {
      case scala.util.control.NonFatal(e) =>
        logger.warn(s"scratch directory delete failed for $dir: " +
          e.getMessage)
    }

  /** Distinct-3-word-shingle postings `(doc_id, sh)` of a documents
    * frame — the mining substrate shared by the group-index build,
    * its mined refresh, and GroupIndexSuite's probe-plan pin. */
  private[queries] def shinglePostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(shingles3(toks(col("text")))).as("sh"))

  /** Bucket count for the group index's shingle-keyed tables. This is
    * the PROBE-PARALLELISM knob: a storage-partitioned join runs one
    * task per bucket, so the bucket count must match the executor
    * parallelism the probe should use — 8 (the incremental-dedup
    * band-posting choice, where the probe side is tiny) serialized
    * the sf10 refresh into 8 oversized sort tasks (measured 106 s,
    * WORSE than re-mining); 32 matches local[32], and a production
    * deployment sizes it to cluster cores the same way. */
  private[queries] val GroupIdxBuckets = 32

  /** Handles for the stored dedup-group index's four lake tables: the
    * corpus shingle postings (`post`, bucketed by sh — the probe
    * side), the shingle document frequencies (`df`, bucketed by sh,
    * append-only deltas folded periodically by [[foldDeltaCounts]] —
    * df(sh) = the sum of its rows), the per-doc CAPPED set sizes (`size`,
    * range-clustered by doc_id with a doc_id bloom — the Jaccard
    * denominators), and the component labels (`labels`,
    * bucket(8, doc_id) — the serving table). */
  private[graft] final case class GroupIndex(
      post: String, df: String, size: String, labels: String)

  /** Build the stored dedup-group index from the corpus documents
    * ALONE (the one corpus-scale pass, paid once at build): mine the
    * corpus-internal near-dup pairs exactly as [[computeNgramPairs]]
    * does (df-capped shingle universe, exact Jaccard ≥ 0.6), label
    * them with [[propagateMin]], and persist labels PLUS the mining
    * substrate — postings, document frequencies, capped sizes — that
    * lets every later batch mine its edges without re-reading the
    * corpus ([[refreshGroupIndexMined]]). */
  private[graft] def buildGroupIndex(s: SparkSession,
      corpusDocs: DataFrame, cap: Int = MaxShingleDf): GroupIndex = {
    LakeOps.cat(s)
    val idx = GroupIndex(LakeOps.fresh("grpidx_post"),
      LakeOps.fresh("grpidx_df"), LakeOps.fresh("grpidx_size"),
      LakeOps.fresh("grpidx_lab"))
    // corpus-scale tokenize+shingle: spread a narrow scan first
    // (Tables.spread — no-op once the scan has real splits)
    val posting = shinglePostings(Tables.spread(corpusDocs))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    // postings persist UNCAPPED: cap membership is a function of the
    // CURRENT df and shifts as batches land, so the stored posting
    // list must keep every shingle — probes re-apply the cap from the
    // df table at their own point in time
    val dfreq = posting.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    // the df table is APPEND-ONLY DELTAS (df(sh) = sum of its rows),
    // not a MERGE-maintained materialization: its only reader is the
    // refresh's cap lookup (batch-vocab keyed), so the LSM trade is
    // free here — a nightly refresh appends its counts WITHOUT
    // reading or rewriting a single resident row (the MoR MERGE this
    // replaces had to scan the whole resident vocab to split
    // matched/unmatched — see COVERAGE round-10 for the measured
    // advance-stage delta), and the read side pays one
    // bucket-colocated sum per lookup. The LM/novelty model tables
    // keep MoR MERGE + in-gate compaction instead — THEIR read path
    // scores every document, so un-folded deltas would tax every
    // consumer; [[foldDeltaCounts]] is this table's periodic fold,
    // pinned in GroupIndexSuite.
    val capped = posting
      .join(dfreq.filter(col("df") <= cap).select(col("sh")), Seq("sh"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val sizes = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    // every substrate input is checkpointed above, so the four table
    // creates are independent single-table commits — they run as
    // parallel driver steps ([[parSteps]]), with the heavyweight
    // branch (pair mining + label propagation + labels create)
    // overlapping the three substrate creates' plan/shuffle/commit
    // latency instead of paying it serially after them. A failed
    // create drops every sibling table before rethrowing: the names
    // are generated HERE, so no caller could clean a partial build
    // (parallel creates make partial creation the normal failure
    // shape), and a multi-run harness would otherwise measure
    // against a polluted warehouse.
    try parSteps(
      () => posting.writeTo(graft.lake.Names.q(s, idx.post)).using("lake")
        .partitionedBy(bucket(GroupIdxBuckets, col("sh"))).create(),
      () => dfreq.writeTo(graft.lake.Names.q(s, idx.df)).using("lake")
        .partitionedBy(bucket(GroupIdxBuckets, col("sh"))).create(),
      // sizes range-cluster by doc_id with a doc_id bloom so candidate
      // fetches skip files (the [[tIncrementalDedupIndexed]] sig-store
      // layout; dictionary encoding off because parquet drops blooms
      // for fully-dictionary-encoded columns)
      () => sizes.repartitionByRange(8, col("doc_id"))
        .writeTo(graft.lake.Names.q(s, idx.size)).using("lake")
        .tableProperty("write.parquet.bloom-filter-enabled.column.doc_id",
          "true")
        .tableProperty("write.parquet.bloom-filter-expected-ndv.column.doc_id",
          "16384")
        .tableProperty("write.parquet.dict-enabled.column.doc_id", "false")
        .create(),
      () => {
        // corpus-internal pairs: the exact [[computeNgramPairs]] shape
        // over the corpus's own capped universe
        val a = capped.select(col("doc_id").as("doc_a"), col("sh"))
        val b = capped.select(col("doc_id").as("doc_b"), col("sh"))
        val pairs = a.join(b, Seq("sh"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")),
            Seq("doc_a"))
          .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")),
            Seq("doc_b"))
          .withColumn("jaccard", round(col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")), 4))
          .filter(col("jaccard") >= 0.6)
          .select(col("doc_a"), col("doc_b"))
        val edges = symmetrize(pairs).persist()
        try {
          val labels = propagateMin(edges)
          // labels write MERGE-ON-READ: the nightly relabel MERGE keys
          // on group_id while the table buckets by doc_id, so a merged
          // component's members scatter across every bucket file —
          // measured (COVERAGE r11) a copy-on-write MERGE rewrote 8/8
          // label files per nightly at every decade even when only a
          // handful of rows changed. MoR writes masks + rows
          // proportional to the MATCHED rows instead; the serving read
          // pays a mask until [[maintainGroupIndex]]'s periodic fold
          // applies them back in.
          corpusDocs.select(col("doc_id"))
            .join(labels, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("group_id"), col("doc_id")).as("group_id"))
            .writeTo(graft.lake.Names.q(s, idx.labels)).using("lake")
            .tableProperty("write.merge.mode", "merge-on-read")
            .partitionedBy(bucket(8, col("doc_id"))).create()
        } finally edges.unpersist()
      })
    catch {
      case t: Throwable =>
        val names = Seq(idx.post, idx.df, idx.size, idx.labels)
        // a straggler create that outlived Par's cancel drain can
        // commit AFTER these drops — the names are generated here, so
        // record them loudly instead of leaking a table no caller can
        // name (the drops still run: they clean every already-
        // committed sibling either way)
        if (graft.Par.drainFailed(t))
          logger.warn("group-index build cleanup is racing an undrained " +
            s"create task: tables ${names.mkString(", ")} may be " +
            "recreated after this drop and need manual removal")
        names.foreach { tbl =>
          try s.sql(s"DROP TABLE IF EXISTS ${graft.lake.Names.q(s, tbl)} PURGE")
          catch { case _: Throwable => () }
        }
        throw t
    }
    idx
  }

  /** Periodic fold for an append-only delta-count table (the group
    * index's df table): aggregate each key's deltas to one row and
    * REPLACE the table contents, preserving the bucket layout. One
    * index-scale groupBy + partitioned rewrite, scheduled like the
    * model-table compaction — it bounds delta accumulation without
    * ever entering the nightly path. Readers are agnostic (they sum
    * per key either way), so a fold changes no result — pinned in
    * GroupIndexSuite across a fold sandwiched between refreshes. */
  private[queries] def foldDeltaCounts(s: SparkSession, table: String): Unit =
    // materialize the fold BEFORE the replace: the source is the very
    // table being replaced, and a lazy self-referential RTAS would
    // read mid-swap state
    s.table(graft.lake.Names.q(s, table)).toDF("sh", "df")
      .groupBy(col("sh")).agg(sum(col("df")).as("df"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
      .writeTo(graft.lake.Names.q(s, table)).using("lake")
      .partitionedBy(bucket(GroupIdxBuckets, col("sh")))
      .createOrReplace()

  /** Run independent single-table index steps CONCURRENTLY from a
    * bounded driver pool: each step is one Spark job chain ending in a
    * commit on its OWN table, the tables are disjoint, and the commit
    * CAS is per-table — so a sequential loop makes the stage's
    * wall-clock the SUM of plan+commit round-trips the driver pays one
    * at a time. Executor work interleaves in Spark's scheduler either
    * way; what this buys is the serialized driver-side latency, which
    * at object-store round-trip cost dominates small nightly appends
    * (measured at sf0.1: refresh_advance 2.6 → 1.2 s, maintain 5.3 →
    * 2.6 s). Submission/cancel-on-failure is the [[graft.Par]] core.
    * NOT for steps that touch one table twice — racing commits on a
    * shared table would burn CAS retries for no win. */
  private def parSteps(steps: (() => Unit)*): Unit = {
    graft.Par.all(steps.size, steps)
    ()
  }

  /** True iff a snapshot stamped with commit tag `tag` is an ancestor
    * of `table`'s MAIN head — the replay guard for epoch-tagged
    * ingest ([[refreshGroupIndexMined]]'s `epochTag`), hardened
    * against permitted tag expiry. Commits stamp the tag atomically
    * with their data (the catalog's `spark.graft.commit.tag` hook),
    * so "tagged on main" is exactly "this epoch's write to this
    * table is published"; snapshots a crashed run left staged on an
    * unpublished branch do NOT count. Driver-side metadata walk
    * (graft.lake.LakeMeta — one fresh JSON log read, no Spark jobs):
    * this guard runs up to four times per streaming epoch, and the
    * SQL spelling (`CALL ancestors_of` + `.snapshots` join) paid 2–3
    * scheduled jobs each — a measured ~3 s/epoch metadata constant
    * inside every micro-batch wall.
    *
    * The expiry hardening: when the tag is absent but
    * the table's replay watermark (stamped by an
    * `ignore_replay_guard => true` expire_snapshots — see
    * graft.lake.ReplayGuard) covers this epoch, the epoch DID commit
    * and its snapshot was deliberately forgotten — re-running it
    * would duplicate data, and skipping it would mask an operator
    * error (a rolled-back epoch never reaches a watermark: rollback
    * only applies to tags still on main, which the guard refuses to
    * expire without the override). Fail loudly naming the recovery:
    * resume from a fresh checkpoint whose offsets start past the
    * forgotten epoch. */
  private[graft] def epochCommittedOnMain(s: SparkSession, table: String,
      tag: String): Boolean = {
    val m = graft.lake.LakeMeta.of(s, graft.lake.Names.parts(s, table))
    val tagged = m.currentSnapshotId("main").map(m.ancestorsOf)
      .getOrElse(Nil)
      .exists(_.summary.get("graft.commit.tag").contains(tag))
    if (!tagged) graft.lake.ReplayGuard.parseEpochTag(tag).foreach {
      case (scope, ep) =>
        if (graft.lake.ReplayGuard.watermarkOf(m, scope).exists(_ >= ep))
          throw new IllegalStateException(
            s"replay of epoch '$tag' on $table: the replay watermark " +
              s"(${graft.lake.ReplayGuard.watermarkKey(scope)}) covers " +
              s"epoch $ep but no tagged snapshot survives on main — the " +
              "epoch's commit was expired under ignore_replay_guard, so " +
              "this replay cannot prove idempotence. Restart the stream " +
              "from a fresh checkpoint whose source offsets are past " +
              "this epoch.")
    }
    tagged
  }

  /** Roll `table` back to its PRE-EPOCH ancestor: the parent of the
    * oldest main-history snapshot stamped with `tag` — discarding
    * every commit the crashed epoch landed on this table ("oldest"
    * by ANCESTRY POSITION, not id value, so the logic is independent
    * of the id scheme). Refuses if an UNTAGGED commit interleaved
    * above that point: the ingest loop is single-flight per index, so
    * a foreign commit means another writer's data would be destroyed
    * — that reconciliation stays manual by design. Metadata-scale
    * (one ancestors walk + one `rollback_to_snapshot`). */
  private def rollbackEpochCommits(s: SparkSession, table: String,
      tag: String): Unit = {
    // driver-side main-history walk (see [[epochCommittedOnMain]]); the
    // rollback itself stays a CALL so it keeps the procedure path's
    // read-only veto and commit semantics
    val anc = graft.lake.LakeMeta.mainAncestors(s, graft.lake.Names.parts(s, table))
    def isEpoch(sm: graft.lake.SnapshotMeta): Boolean =
      sm.summary.get("graft.commit.tag").contains(tag)
    // anc is nearest-first: the LAST tagged index is the epoch's
    // first touch; anything at a smaller index sits above it
    val idxOldest = anc.lastIndexWhere(isEpoch)
    if (idxOldest < 0) return
    val foreign = anc.take(idxOldest).filterNot(isEpoch)
    if (foreign.nonEmpty) throw new IllegalStateException(
      s"cannot auto-rollback epoch '$tag' on $table: untagged commit(s) " +
        s"${foreign.map(_.snapshotId).sorted.mkString(", ")} interleaved " +
        "above the epoch's first snapshot — rolling back would destroy " +
        "another writer's data; reconcile manually")
    val parent = anc(idxOldest).parentId.getOrElse(
      throw new IllegalStateException(
        s"cannot auto-rollback epoch '$tag' on $table: its first tagged " +
          "snapshot is the table's FIRST snapshot (no pre-epoch ancestor " +
          "to roll back to) — drop and rebuild the table instead"))
    s.sql(s"CALL ${graft.lake.Names.catalog(s)}.system.rollback_to_snapshot(table => '${graft.lake.Names.rel(s, table)}', " +
      s"snapshot_id => $parent)")
  }

  /** Run `f` with `tag` active as the OPERATION-scoped commit tag
    * ([[graft.CommitTag]]): every lake commit the body makes — on
    * this thread or through [[parSteps]]' propagating worker pool —
    * is stamped with `tag` in its snapshot summary, while concurrent
    * unrelated writers on the same session stay unstamped (so a
    * replay can never skip THEIR snapshots as this epoch's). */
  private[graft] def withCommitTag[T](tag: Option[String])
      (f: => T): T = graft.CommitTag.run(tag)(f)

  /** Periodic maintenance for the group index's three append-forever
    * side tables — the cadence that bounds a year of nightlies to a
    * constant file count instead of 30+ small files per night
    * degrading probe planning:
    *
    *  - the df delta table FOLDS to one row per shingle
    *    ([[foldDeltaCounts]] — readers sum per key either way);
    *  - the posting table BINPACKS per bucket group
    *    (rewrite_data_files; bucket(sh) partitioning is preserved by
    *    the per-group rewrite, so the SPJ probe plan is unchanged);
    *  - the size table rewrites under `strategy => sort, sort_order
    *    => doc_id`, which RESTORES the range clustering the nightly
    *    appends interleave (each night adds its own doc_id range, so
    *    plain binpack would merge overlapping ranges and erode
    *    min/max skipping; the doc_id blooms ride along via table
    *    properties).
    *
    * All three are row-preserving commits: labels, straddle math, and
    * probe candidates are bit-identical across a maintenance pass
    * (GroupIndexSuite pins it), so the cadence is pure scheduling —
    * run it weekly, after N nightlies, or when file counts cross a
    * threshold. Scheduled INSIDE the gate lifecycle so bench.json
    * carries its measured cost like the model-table fold-ins. */
  private[graft] def maintainGroupIndex(s: SparkSession,
      idx: GroupIndex, stage: String = null): Unit = {
    def timed[T](suffix: String)(f: => T): T =
      if (stage == null) f else graft.StageTimes.timed(s"$stage.$suffix")(f)
    // the four folds hit four DISJOINT tables, so they run as parallel
    // driver steps ([[parSteps]]) — sub-stage wall times overlap and
    // the stage total is the slowest step, not the sum. The labels
    // table is MoR for the nightly relabel MERGE (see buildGroupIndex)
    // — its fold applies accumulated masks and binpacks the per-night
    // delta files, returning serving reads to plain mask-free scans
    // (the model-table fold-in pattern).
    parSteps(
      () => timed("fold_df") { foldDeltaCounts(s, idx.df) },
      () => timed("binpack_post") {
        s.sql(
          s"CALL ${graft.lake.Names.catalog(s)}.system.rewrite_data_files(table => '${graft.lake.Names.rel(s, idx.post)}')")
      },
      () => timed("sort_size") {
        s.sql(s"CALL ${graft.lake.Names.catalog(s)}.system.rewrite_data_files(table => '${graft.lake.Names.rel(s, idx.size)}'"
          + s", strategy => 'sort', sort_order => 'doc_id')")
      },
      () => timed("fold_labels") { foldInModelTable(s, idx.labels) })
  }

  /** The mined-refresh probe join: batch postings (a scratch table
    * sharing the index's bucket(8, sh) layout) against the stored
    * corpus posting list — a storage-partitioned join, NO exchange on
    * the corpus-scale side. Runs on its own cloned session so the SPJ
    * confs never leak to concurrently planned queries
    * ([[tIncrementalDedupIndexed]]'s probe discipline); shared with
    * GroupIndexSuite so the no-exchange plan assert pins the real
    * code path. */
  private[queries] def groupProbeCandidates(s: SparkSession,
      scratchT: String, postT: String): DataFrame = {
    val sc = spjProbeSession(s)
    sc.table(graft.lake.Names.q(s, scratchT))
      .join(sc.table(graft.lake.Names.q(s, postT)).toDF("doc_b", "sh"), Seq("sh"))
      .groupBy(col("doc_id"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
  }

  /** One nightly refresh of the stored group index, INPUT MINING
    * INCLUDED: everything derives from the batch docs' own text plus
    * the stored index tables — no corpus document is ever re-read
    * (structurally: `batchDocs` is the only non-index input).
    *
    *  1. batch postings + per-shingle counts (O(batch) mining);
    *  2. full df per batch shingle = stored df + batch df (joined
    *     BEFORE the additive merge and checkpointed, so laziness
    *     cannot observe the post-merge table), giving the refresh the
    *     EXACT capped universe the one-shot miner would use;
    *  3. batch×corpus intersections via the SPJ posting probe
    *     ([[groupProbeCandidates]]), batch×batch via a batch-scale
    *     self-join; corpus Jaccard denominators fetch by broadcasting
    *     candidate ids onto the bloom-skipped size table;
    *  4. the stored tables advance for the NEXT batch (postings,
    *     sizes, and df deltas all APPEND), and the mined edges
    *     merge into the labels through the label-space contraction
    *     ([[refreshGroupIndex]]).
    *
    * Exactness guard: a batch that pushes a shingle's df across the
    * cap SHRINKS the capped universe — Jaccard values of already-
    * stored pairs change retroactively, which can split components,
    * an operation the stored MERGE-min algebra cannot express. The
    * refresh detects exactly that set (stored df ≤ cap < stored +
    * batch, a batch-vocab-scale check) and fails diagnosably rather
    * than serve silently stale labels; the repair is a scoped rebuild
    * of the affected components. The production cap exists as a skew
    * guard 4× above the highest df any measured decade produced
    * (25 at sf0.1; replicas share no shingles, so the margin holds at
    * sf10), so crossing it flags genuinely new boilerplate, not
    * routine growth. */
  private[graft] def refreshGroupIndexMined(s: SparkSession,
      idx: GroupIndex, batchDocs: DataFrame,
      cap: Int = MaxShingleDf, repairStraddle: Boolean = true,
      epochTag: Option[String] = None,
      rollbackCrashedRepair: Boolean = false): Unit = {
    // Epoch-tagged mode (the streaming ingest twin): every commit this
    // refresh makes is stamped with `epochTag` in its snapshot summary
    // — atomically with the data — and each table's write is SKIPPED
    // when a tagged snapshot is already on its main history. A
    // replayed micro-batch (foreachBatch is at-least-once) therefore
    // lands exactly once PER TABLE, whatever the crash point:
    //  - epoch fully applied → the labels check below short-circuits
    //    (tagged mode publishes labels LAST, serially, so labels-
    //    tagged ⟹ every substrate advance landed);
    //  - crash mid-advance → landed appends skip, missing ones run;
    //    a landed df append double-counts tonight's deltas in the
    //    stored sum, so the cap lookup SUBTRACTS bdf back out when
    //    the df table is already tagged (mining stays exact);
    //  - crash mid-label-publish → staged branch snapshots are not
    //    main ancestors, so the labels check fails and the publish
    //    re-stages from a fresh branch (relabel min-algebra and the
    //    batch append recompute identically — the advance guards fed
    //    the same capped universe).
    if (epochTag.exists(t => epochCommittedOnMain(s, idx.labels, t))) return
    withCommitTag(epochTag) {
      refreshMinedBody(s, idx, batchDocs, cap, repairStraddle, epochTag,
        rollbackCrashedRepair)
    }
  }

  private def refreshMinedBody(s: SparkSession, idx: GroupIndex,
      batchDocs: DataFrame, cap: Int, repairStraddle: Boolean,
      epochTag: Option[String],
      rollbackCrashedRepair: Boolean = false): Unit = {
    val bPost = shinglePostings(batchDocs)
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val bDf = bPost.groupBy(col("sh")).agg(count(lit(1)).as("bdf"))
    // batch vocab × stored df: the capping/straddle lookup. The df
    // table holds append-only DELTAS, so the stored count is the SUM
    // of a shingle's rows — the left join keeps batch-only shingles
    // (sum of no rows → 0), and the aggregate runs over the joined
    // (batch-vocab-scale) frame, never the whole vocab. Checkpointed
    // BEFORE tonight's delta appends, so laziness cannot observe the
    // post-append table.
    // one upfront scan of which substrate tables this epoch already
    // touched (metadata-scale, 3 ancestors walks; only in tagged
    // mode) — feeds the df replay adjustment below AND the per-table
    // advance skips, so a micro-batch pays the guard exactly once
    // per table
    val advanced: Set[String] = epochTag match {
      case None => Set.empty
      case Some(t) => Seq(idx.post, idx.df, idx.size)
        .filter(epochCommittedOnMain(s, _, t)).toSet
    }
    // replay adjustment: a crashed tagged run that already landed the
    // df append leaves tonight's deltas inside the stored sum —
    // subtract them back so the capped universe (and the straddle
    // check) equal the first attempt's exactly
    val dfAdvanced = advanced.contains(idx.df)
    val joined = graft.StageTimes.timed("t_dedup_groups_indexed.refresh_cap") {
      bDf.join(s.table(graft.lake.Names.q(s, idx.df)).toDF("sh", "dfd"),
          Seq("sh"), "left")
        .groupBy(col("sh"), col("bdf"))
        .agg((coalesce(sum(col("dfd")), lit(0L)) -
          (if (dfAdvanced) col("bdf") else lit(0L))).as("df0"))
        .localCheckpoint(true, StorageLevel.DISK_ONLY)
    }
    // a TRUE straddle needs stored state to invalidate: the shingle
    // must be KNOWN to the store (df0 > 0) and inside the cap there
    // (df0 <= cap — stored sizes and corpus edges counted it), with
    // tonight's batch pushing it out. A batch-ONLY hot shingle
    // (df0 = 0, bdf > cap — boilerplate arriving in one crawl) is NOT
    // a straddle: nothing stored references it, and excluding it from
    // tonight's capped universe is exactly what the one-shot miner
    // does — flagging it would hard-fail a refresh that is provably
    // exact (spec-pinned both ways in GroupIndexSuite).
    val straddle = joined.filter(col("df0") > 0 &&
      col("df0") <= cap && col("df0") + col("bdf") > cap)
    // ONE aggregate over the checkpointed lookup returns both the
    // straddle count (the guard) and tonight's capped posting volume
    // (the probe-strategy gate below) — the second statistic rides the
    // job the guard already paid instead of scheduling its own
    val statsRow = joined.agg(
      coalesce(sum(when(col("df0") > 0 && col("df0") <= cap &&
        col("df0") + col("bdf") > cap, lit(1L))), lit(0L)),
      coalesce(sum(when(col("df0") + col("bdf") <= cap, col("bdf"))),
        lit(0L))).head()
    val nStraddle = statsRow.getLong(0)
    val nCappedPost = statsRow.getLong(1)
    if (nStraddle > 0) {
      if (!repairStraddle) {
        val sample = straddle.select(col("sh")).head(5).map(_.getString(0))
        throw new IllegalStateException(
          s"$nStraddle shingle(s) crossed the df cap $cap in this batch " +
            s"(e.g. ${sample.mkString(", ")}): the capped Jaccard universe " +
            "shrank, stored pair scores are retroactively stale and " +
            "components may need to SPLIT — run a scoped rebuild of the " +
            "affected components instead of an additive refresh " +
            "(refreshGroupIndexMined(repairStraddle = true) runs it " +
            "automatically)")
      }
      // the scoped rebuild recomputes df totals and rebuild-set
      // postings straight from the stored tables, so it must start
      // from substrate this epoch has NOT touched — a replay of a
      // repair epoch that crashed mid-write cannot compose with the
      // partial state. The epoch tag identifies exactly which
      // snapshots the crashed attempt committed, so with
      // `rollbackCrashedRepair` the replay reconciles ITSELF: each
      // touched table rolls back to its pre-epoch ancestor
      // ([[rollbackEpochCommits]] — refusing if any untagged commit
      // interleaved), and the repair re-runs from clean substrate.
      // Flag off, the diagnosable refusal stays (rare × rare: a
      // straddle batch AND a crash inside its repair).
      epochTag.foreach { t =>
        if (advanced.nonEmpty) {
          if (!rollbackCrashedRepair) throw new IllegalStateException(
            s"epoch '$t' crashed inside a straddle repair: substrate " +
              s"table(s) ${advanced.mkString(", ")} already carry this " +
              "epoch's commits and the scoped rebuild cannot compose " +
              "with partial state — reconcile by rolling the touched " +
              "tables back to their pre-epoch snapshots, then replay " +
              "(rollbackCrashedRepair = true automates exactly that)")
          // the cap/straddle math above already subtracted a landed df
          // append back out, so the straddle set equals the clean
          // attempt's — rolling back BEFORE the rebuild reads any
          // substrate restores the exact pre-epoch state it needs
          advanced.foreach(tbl => rollbackEpochCommits(s, tbl, t))
        }
      }
      rebuildAffectedComponents(s, idx, cap, batchDocs, bPost, bDf, straddle)
      return
    }
    val cappedSh = joined.filter(col("df0") + col("bdf") <= cap)
      .select(col("sh"))
    // Probe strategy gate (guide §3.1: broadcast the side that fits):
    // the batch×corpus intersection join is identical either way —
    // what differs is HOW the batch side reaches the corpus postings.
    //  - BROADCAST (batch fits `spark.graft.probe.broadcastPostingLimit`
    //    rows, default 4M ≈ a few hundred MB framed): the capped batch
    //    postings checkpoint once and broadcast onto the stored
    //    posting scan — the corpus side is never shuffled, and the
    //    scratch-table create + SPJ probe session + DROP all vanish
    //    (measured ~0.5-0.7 s of per-epoch commit/session constants).
    //  - SPJ (bigger batches, or the limit set ≤ 0): the batch
    //    materializes as a bucket-aligned scratch table and probes via
    //    the storage-partitioned join, exactly as before — a nightly
    //    batch past broadcast size must not hold the whole frame on
    //    every executor.
    // nCappedPost (computed above, job-free) IS the broadcast row
    // count, so the gate is exact, not an estimate. Both paths produce
    // the same (doc_id, doc_b, inter) rows; GroupIndexSuite pins the
    // refresh == one-shot equality across the gate.
    val broadcastLimit = s.conf
      .get("spark.graft.probe.broadcastPostingLimit", "4000000").toLong
    val useBroadcastProbe = nCappedPost <= broadcastLimit
    // the capped batch postings materialize ONCE — as an eager
    // checkpoint on the broadcast path, or directly as the
    // bucket-aligned scratch table the SPJ probe needs — and every
    // other consumer (sizes, the batch self-join) reads that
    // materialization instead of re-running the capping join
    val scratchOpt: Option[String] =
      if (useBroadcastProbe) None else Some(LakeOps.fresh("grpidx_probe"))
    val bCapped = graft.StageTimes.timed(
        "t_dedup_groups_indexed.refresh_mine") {
      val capped = bPost.join(cappedSh, Seq("sh"))
        .select(col("doc_id"), col("sh"))
      scratchOpt match {
        case None => capped.localCheckpoint(true, StorageLevel.DISK_ONLY)
        case Some(scratch) =>
          capped.writeTo(graft.lake.Names.q(s, scratch)).using("lake")
            .partitionedBy(bucket(GroupIdxBuckets, col("sh"))).create()
          s.table(graft.lake.Names.q(s, scratch))
      }
    }
    val bSizes = bCapped.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    // batch×corpus: broadcast-hash onto the stored postings, or SPJ
    // over the shared bucketing — same join, same aggregation
    val interMixed = graft.StageTimes.timed(
        "t_dedup_groups_indexed.refresh_probe") {
      (scratchOpt match {
        case None =>
          s.table(graft.lake.Names.q(s, idx.post)).toDF("doc_b", "sh")
            .join(broadcast(bCapped), Seq("sh"))
            .groupBy(col("doc_id"), col("doc_b"))
            .agg(count(lit(1)).as("inter"))
        case Some(scratch) => groupProbeCandidates(s, scratch, idx.post)
      }).localCheckpoint(true, StorageLevel.DISK_ONLY)
    }
    val candIds = interMixed.select(col("doc_b")).distinct()
    // candidate ids broadcast onto the size store; `>= 0` is the
    // selective build-side predicate the runtime-filter planner needs
    // before it hands the ids to the scan for bloom file skipping
    val nbFetch = s.table(graft.lake.Names.q(s, idx.size)).toDF("doc_b", "nb")
      .join(broadcast(candIds.filter(col("doc_b") >= 0)), Seq("doc_b"))
    val jac = (inter: Column, na: Column, nb: Column) =>
      round(inter.cast("double") / (na + nb - inter), 4)
    // joins LEAD with caller-session frames: a Dataset adopts its left
    // operand's session, and the label refresh downstream registers a
    // temp view the caller's session must resolve — a probe-session
    // frame on the left would strand that view in the clone
    val mixedPairs = bSizes.toDF("doc_id", "na")
      .join(interMixed, Seq("doc_id"))
      .join(nbFetch, Seq("doc_b"))
      .filter(jac(col("inter"), col("na"), col("nb")) >= 0.6)
      .select(col("doc_id").as("doc_a"), col("doc_b"))
    // batch×batch: a self-join of tonight's capped postings
    val interBatch = bCapped.select(col("doc_id").as("ba"), col("sh"))
      .join(bCapped.select(col("doc_id").as("bb"), col("sh")), Seq("sh"))
      .filter(col("ba") < col("bb"))
      .groupBy(col("ba"), col("bb"))
      .agg(count(lit(1)).as("inter"))
    val batchPairs = interBatch
      .join(bSizes.toDF("ba", "na"), Seq("ba"))
      .join(bSizes.toDF("bb", "nb"), Seq("bb"))
      .filter(jac(col("inter"), col("na"), col("nb")) >= 0.6)
      .select(col("ba").as("doc_a"), col("bb").as("doc_b"))
    val mined = mixedPairs.union(batchPairs)
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    scratchOpt.foreach(scratch =>
      s.sql(s"DROP TABLE IF EXISTS ${graft.lake.Names.q(s, scratch)} PURGE"))
    // advance the index for the NEXT batch — postings append (the
    // probe above already ran, so tonight's docs never self-pair
    // through storage), df deltas append, sizes append. Three
    // disjoint-table commits → parallel driver steps ([[parSteps]]):
    // nothing reads these tables until the refresh returns, so only
    // the driver's serialized plan+commit latency was at stake.
    // the advance (post/df/size) and the label refresh touch DISJOINT
    // tables and both read only checkpointed frames, so the two stages
    // overlap as parallel driver steps as well — ordering was never
    // semantic (today's serial order already committed the advance
    // before a label failure could abort), only serialized latency.
    // Their StageTimes entries overlap in wall-clock; the enclosing
    // `refresh` stage is the honest total.
    // per-table replay guard: in tagged mode each append is skipped
    // when this epoch's commit already sits on the table's main
    // history (the upfront `advanced` scan — see the epochTag
    // contract at the top)
    def needs(table: String): Boolean = !advanced.contains(table)
    // small-batch appends (the broadcast-probe regime) skip the
    // cluster-by-bucket exchange each append would otherwise pay
    // (write-option distribution-mode override): one coalesced task
    // writes the same one-file-per-present-bucket layout the hash
    // exchange produced, without the per-epoch shuffle. Big batches
    // keep the clustered write — a corpus-scale append WANTS the
    // exchange.
    def appendSmall(df: DataFrame, table: String): Unit = {
      val w = (if (useBroadcastProbe) df.coalesce(1) else df)
        .writeTo(graft.lake.Names.q(s, table))
      (if (useBroadcastProbe) w.option("distribution-mode", "none") else w)
        .append()
    }
    val advance = () =>
      graft.StageTimes.timed("t_dedup_groups_indexed.refresh_advance") {
        parSteps(Seq[(String, () => Unit)](
          idx.post -> (() => appendSmall(bPost, idx.post)),
          // df advance = ONE partition-aligned delta append: no
          // resident row is read or rewritten (the LSM trade — see
          // buildGroupIndex)
          idx.df -> (() => appendSmall(
            bDf.withColumnRenamed("bdf", "df"), idx.df)),
          // sizes append: ONE doc_id-sorted file via a narrow coalesce
          // — rows identical to the former repartitionByRange(2), but
          // without the RangePartitioner's sampling job + shuffle per
          // epoch (guide §2.4). min/max skipping sees one file covering
          // the batch's doc_id range instead of two halves; sizes are
          // one row per batch DOC, so the file stays small at any
          // nightly scale.
          idx.size -> (() => bSizes.coalesce(1)
            .sortWithinPartitions(col("doc_id"))
            .writeTo(graft.lake.Names.q(s, idx.size)).append()))
          .collect { case (t, f) if needs(t) => f }: _*)
      }
    // tagged mode publishes labels LAST so its tag certifies the whole
    // epoch — but "last" is a property of the CERTIFYING ref move
    // (fast_forward), not of the branch staging: the label MERGE +
    // batch append land on an unpublished branch, touch a table the
    // advance never writes, and read only checkpointed frames. So the
    // tagged epoch overlaps the advance with the staging exactly like
    // the untagged nightly, and only the fast_forward joins the
    // advance first (the commit tag rides to the worker thread the
    // same way parSteps propagates it). The advance is ALWAYS joined
    // before this body returns — a staging failure must not leave a
    // straggler advance commit racing the replay's upfront guard scan.
    // The untagged nightly keeps the wholesale parSteps overlap.
    epochTag match {
      case Some(_) =>
        val ctag = graft.CommitTag.get
        val adv = new java.util.concurrent.FutureTask[Unit](
          () => graft.CommitTag.run(ctag)(advance()))
        val advThread = new Thread(adv, "graft-epoch-advance")
        advThread.setDaemon(true)
        advThread.start()
        def joinAdvance(): Unit =
          try adv.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            throw e.getCause }
        try graft.StageTimes.timed("t_dedup_groups_indexed.refresh_labels") {
          refreshGroupIndex(s, idx.labels, mined,
            batchDocs.select(col("doc_id")),
            beforePublish = () => joinAdvance(),
            smallBatch = useBroadcastProbe)
        } finally {
          try adv.get()
          catch { case _: Throwable => () } // primary failure wins; the
          // advance's own failure already surfaced through the
          // beforePublish join if staging got that far
        }
      case None =>
        val publish = () =>
          graft.StageTimes.timed("t_dedup_groups_indexed.refresh_labels") {
            refreshGroupIndex(s, idx.labels, mined,
              batchDocs.select(col("doc_id")),
              smallBatch = useBroadcastProbe)
          }
        parSteps(advance, publish)
    }
  }

  /** The SCOPED REBUILD the straddle guard prescribes — run
    * automatically by [[refreshGroupIndexMined]] when a batch pushes
    * stored shingles across the df cap, instead of leaving the
    * nightly down behind a manual instruction. The cap crossing
    * shrinks the capped Jaccard universe retroactively: pairs
    * touching a straddling shingle can lose their edge (components
    * SPLIT) and pairs touching an affected DOC can gain one (a
    * smaller denominator raises Jaccard — components MERGE), neither
    * of which the additive MERGE-min label algebra can express. But
    * the blast radius is provably bounded: a pair's Jaccard changes
    * only if an endpoint contains a straddling shingle, so
    *
    *  - affected docs A = resident docs holding any straddling
    *    shingle (posting lookup; |A| ≤ cap × straddle count — the cap
    *    itself bounds the radius);
    *  - rebuild set M = every member of every component containing an
    *    A doc (splits need the component's FULL edge set re-mined —
    *    labels don't store which edges held it together);
    *  - edges wholly outside M are untouched: both endpoints keep
    *    their shingle sets, so their Jaccard — and the outside
    *    component structure — is unchanged by construction.
    *
    * The rebuild re-mines, over the post-batch capped universe,
    * exactly (M ∪ batch) × (M ∪ batch) via a scoped self-join plus
    * (M ∪ batch) × outside via a posting probe, contracts outside
    * endpoints to their stored component labels, and relabels through
    * one [[propagateMin]] pass whose vertices are rebuild docs and
    * outside labels. Every read happens BEFORE any table advances
    * (checkpointed), the size rows of rebuild docs re-derive from the
    * new universe (a straddled-out shingle shrinks them — rows
    * reaching zero DELETE, matching the one-shot miner's "no row"),
    * and the label commit is the same staged-branch single-ref-move
    * publish the normal nightly uses. Exactness is spec-pinned both
    * ways in GroupIndexSuite: a split and a probe-path merge each
    * reproduce the one-shot labels bit-for-bit, and later normal
    * refreshes compose on top of a repair.
    *
    * Cost: index-scale scans (postings, labels) + component-scoped
    * joins — no corpus text is ever re-read (structurally: batch
    * frames are the only non-index inputs). That is the exceptional-
    * path trade: the cap is a skew guard sitting 4× above the highest
    * measured df, so a straddle signals genuinely new boilerplate; at
    * 100 TB the repair costs one posting-table pass more than a
    * nightly, not a corpus rebuild. */
  private[graft] def rebuildAffectedComponents(s: SparkSession,
      idx: GroupIndex, cap: Int, batchDocs: DataFrame,
      bPost: DataFrame, bDf: DataFrame, straddle: DataFrame): Unit = {
    val sSh = straddle.select(col("sh"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val postT = s.table(graft.lake.Names.q(s, idx.post))
    val labelsT = s.table(graft.lake.Names.q(s, idx.labels))
      .select(col("doc_id"), col("group_id"))
    // affected docs: straddling shingles are ≤ cap in the store, so
    // each posting list here is cap-bounded — broadcast-sized
    val affected = postT.join(broadcast(sSh), Seq("sh"))
      .select(col("doc_id")).distinct()
    val affComps = labelsT.join(affected, Seq("doc_id"))
      .select(col("group_id")).distinct()
    val mDocs = labelsT.join(broadcast(affComps), Seq("group_id"))
      .select(col("doc_id"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    // rebuild-set postings (resident members + tonight's batch), then
    // the post-batch capped universe over exactly the shingles the
    // rebuild can see — stored df is delta rows, summed per shingle
    val mPost = postT.join(mDocs.hint("broadcast"), Seq("doc_id"))
    val rawPost = mPost.unionByName(bPost)
    val dfT = s.table(graft.lake.Names.q(s, idx.df)).toDF("sh", "dfd")
    val totals = rawPost.select(col("sh")).distinct()
      .join(dfT, Seq("sh"), "left")
      .groupBy(col("sh")).agg(coalesce(sum(col("dfd")), lit(0L)).as("df0"))
      .join(bDf, Seq("sh"), "left")
      .select(col("sh"),
        (col("df0") + coalesce(col("bdf"), lit(0L))).as("dft"))
    val rebuildPost = rawPost
      .join(totals.filter(col("dft") <= cap).select(col("sh")), Seq("sh"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val rSizes = rebuildPost.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val jac = (inter: Column, na: Column, nb: Column) =>
      round(inter.cast("double") / (na + nb - inter), 4)
    // (M ∪ batch) × (M ∪ batch): scoped self-join, recomputed sizes
    val selfPairs = rebuildPost.select(col("doc_id").as("doc_a"), col("sh"))
      .join(rebuildPost.select(col("doc_id").as("doc_b"), col("sh")),
        Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(rSizes.toDF("doc_a", "na"), Seq("doc_a"))
      .join(rSizes.toDF("doc_b", "nb"), Seq("doc_b"))
      .filter(jac(col("inter"), col("na"), col("nb")) >= 0.6)
      .select(col("doc_a"), col("doc_b"))
    // (M ∪ batch) × outside: probe the outside posting lists on the
    // rebuild's capped shingles; outside sizes are still exact (no
    // outside doc holds a straddling shingle — it would be in A), so
    // the stored size table serves the denominators as usual
    val outPost = postT.join(mDocs.hint("broadcast"), Seq("doc_id"),
      "left_anti")
    val probeInter = rebuildPost
      .join(outPost.toDF("doc_b", "sh"), Seq("sh"))
      .groupBy(col("doc_id"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val candIds = probeInter.select(col("doc_b")).distinct()
    val nbFetch = s.table(graft.lake.Names.q(s, idx.size)).toDF("doc_b", "nb")
      .join(broadcast(candIds.filter(col("doc_b") >= 0)), Seq("doc_b"))
    val outPairs = probeInter
      .join(rSizes.toDF("doc_id", "na"), Seq("doc_id"))
      .join(nbFetch, Seq("doc_b"))
      .filter(jac(col("inter"), col("na"), col("nb")) >= 0.6)
      .select(col("doc_id").as("doc_a"), col("doc_b"))
    // contract outside endpoints to their component labels: vertices
    // of the relabeling graph are rebuild DOCS and outside LABELS
    // (both are doc_ids — a label is the min doc_id of its members,
    // and rebuild docs are disjoint from outside components, so
    // propagateMin's min-combining yields the true component minimum)
    val outLabeled = outPairs
      .join(labelsT.toDF("doc_b", "lb"), Seq("doc_b"))
      .select(col("doc_a"), col("lb").as("doc_b"))
    val edges = symmetrize(
      selfPairs.unionByName(outLabeled)
        .filter(col("doc_a") =!= col("doc_b")).distinct()).persist()
    val lab = propagateMin(edges)
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    edges.unpersist()
    val rDocs = mDocs.unionByName(batchDocs.select(col("doc_id"))).distinct()
    val rFinal = rDocs.join(lab, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("group_id"), col("doc_id")).as("group_id"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    // relabel map for outside components that merged INTO the rebuild:
    // the non-rebuild vertices of the propagation are outside labels
    val outMap = lab.join(rDocs, Seq("doc_id"), "left_anti")
      .filter(col("group_id") =!= col("doc_id"))
      .select(col("doc_id").as("old_label"), col("group_id").as("new_label"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    // sizes of rebuild docs re-derive from the new universe: shrunk
    // rows UPDATE, rows reaching zero DELETE (the one-shot miner
    // writes no row for a doc with no capped shingle), new batch docs
    // INSERT — one MERGE, same one-shot semantics either path
    val rAll = rDocs.join(rSizes, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_sh"), lit(0L)).as("n_sh"))
    val sv = LakeOps.fresh("grpidx_repair_sizes")
    rAll.createOrReplaceTempView(sv)
    s.sql(s"""MERGE INTO ${graft.lake.Names.q(s, idx.size)} t USING $sv m
             |ON t.doc_id = m.doc_id
             |WHEN MATCHED AND m.n_sh = 0 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET t.n_sh = m.n_sh
             |WHEN NOT MATCHED AND m.n_sh > 0 THEN INSERT (doc_id, n_sh)
             |VALUES (m.doc_id, m.n_sh)""".stripMargin)
    s.catalog.dropTempView(sv)
    // advance postings + df deltas exactly as a normal nightly would
    // (postings stay UNCAPPED by design; the straddling shingles'
    // batch counts append too — df rows are true counts, cap
    // membership is derived per refresh)
    bPost.writeTo(graft.lake.Names.q(s, idx.post)).append()
    bDf.withColumnRenamed("bdf", "df").writeTo(graft.lake.Names.q(s, idx.df)).append()
    // labels: same staged-branch atomic publish as the normal nightly
    // — rebuild members' rows are replaced wholesale (delete + append
    // with final labels), merged outside components relabel through
    // the group_id-keyed MERGE, one fast-forward publishes all three
    val br = s"repair_${java.util.UUID.randomUUID().toString.take(8)}"
    s.sql(s"CALL ${graft.lake.Names.catalog(s)}.system.create_branch(table => '${graft.lake.Names.rel(s, idx.labels)}', " +
      s"branch => '$br')")
    try {
      val dv = LakeOps.fresh("grpidx_repair_docs")
      mDocs.createOrReplaceTempView(dv)
      s.sql(s"""MERGE INTO ${graft.lake.Names.q(s, idx.labels)}.branch_$br t USING $dv m
               |ON t.doc_id = m.doc_id
               |WHEN MATCHED THEN DELETE""".stripMargin)
      s.catalog.dropTempView(dv)
      val mv = LakeOps.fresh("grpidx_repair_map")
      outMap.createOrReplaceTempView(mv)
      s.sql(s"""MERGE INTO ${graft.lake.Names.q(s, idx.labels)}.branch_$br t USING $mv m
               |ON t.group_id = m.old_label
               |WHEN MATCHED THEN UPDATE SET t.group_id = m.new_label"""
        .stripMargin)
      s.catalog.dropTempView(mv)
      rFinal.writeTo(s"${graft.lake.Names.q(s, idx.labels)}.branch_$br").append()
      s.sql(s"CALL ${graft.lake.Names.catalog(s)}.system.fast_forward(table => '${graft.lake.Names.rel(s, idx.labels)}', " +
        s"branch => 'main', to => '$br')")
    } finally {
      s.sql(s"CALL ${graft.lake.Names.catalog(s)}.system.drop_branch(table => '${graft.lake.Names.rel(s, idx.labels)}', " +
        s"branch => '$br')")
    }
  }

  /** One nightly refresh of a stored group-label table: merge the
    * batch's components into the stored ones through the label-space
    * contracted graph, then append the batch docs with final labels.
    * Cost is O(batch edges + affected component labels) — the corpus
    * label table is read through the endpoint join and rewritten only
    * where a group's label actually changes.
    *
    * The refresh is TWO logical changes (relabel MERGE + batch
    * append) but ONE atomic publish: both commits land on a staging
    * branch and `main` advances with a single fast-forward ref move
    * (write-audit-publish, parser-extension-free via the branch
    * procedures). Without that, a reader between the commits would
    * see bridged components WITHOUT the bridging batch docs — labels
    * that are not a correct grouping of any document set that ever
    * existed; GroupIndexSuite races a prober against the refresh and
    * pins that every observation is the complete old state or the
    * complete new one (verified to FAIL against the unstaged
    * two-commit variant). The posting/df/size side-tables need no
    * such staging: they are additive refresh INPUTS read only by the
    * next refresh, not serving state. */
  /** `beforePublish` runs after the branch staging (MERGE + append)
    * completes and BEFORE the certifying fast_forward — the tagged
    * epoch path passes a join on its concurrently running substrate
    * advance here, so the tag's "labels last on main" contract holds
    * while the two disjoint-table stages overlap (the untagged
    * nightly already overlaps them wholesale via parSteps). */
  private[queries] def refreshGroupIndex(s: SparkSession, table: String,
      batchPairs: DataFrame, batchDocs: DataFrame,
      beforePublish: () => Unit = () => (),
      smallBatch: Boolean = false): Unit = {
    val stored = s.table(graft.lake.Names.q(s, table))
      .select(col("doc_id"), col("group_id"))
    // initial label per endpoint: stored component label, self for
    // docs the store has never seen (tonight's batch). The lookup
    // FETCHES only the endpoints' labels: the mined pair list is
    // batch-bounded while the stored labels are corpus-scale, so
    // left-joining the corpus table directly exchanged it TWICE per
    // refresh (the §8 anti-pattern — heavy side shuffled to attach a
    // small decision). The broadcast endpoint set prunes the label
    // scan (runtime file skipping, the size-fetch pattern), and the
    // endpoint-bounded fetch then broadcasts into both attachments.
    val endpoints = batchPairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val fetched = stored
      .join(broadcast(endpoints.filter(col("doc_id") >= 0)), Seq("doc_id"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val withLabels = batchPairs
      .join(broadcast(fetched.toDF("doc_a", "la0")), Seq("doc_a"), "left")
      .join(broadcast(fetched.toDF("doc_b", "lb0")), Seq("doc_b"), "left")
      .select(coalesce(col("la0"), col("doc_a")).as("doc_a"),
        coalesce(col("lb0"), col("doc_b")).as("doc_b"))
    // contracted, label-space edges: vertices are component labels
    val cEdges = symmetrize(
      withLabels.filter(col("doc_a") =!= col("doc_b")).distinct()).persist()
    val mappingRaw = propagateMin(cEdges)
      .filter(col("group_id") =!= col("doc_id"))
      .select(col("doc_id").as("old_label"), col("group_id").as("new_label"))
    // propagateMin's driver union-find fast path returns a
    // LocalRelation-backed frame, and Catalyst folds the filter +
    // rename into the local rows (ConvertToLocalRelation) — a
    // checkpoint there would schedule a job just to persist rows the
    // driver already holds, and it would hide the local shape from the
    // MERGE/join planners (a LocalRelation build side broadcasts for
    // free). Only the distributed-loop result keeps the checkpoint
    // that truncates its per-round lineage.
    val (mapping, mappingKnownEmpty) =
      mappingRaw.queryExecution.optimizedPlan match {
        case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          (mappingRaw, lr.data.isEmpty)
        case _ =>
          (mappingRaw.localCheckpoint(true, StorageLevel.DISK_ONLY), false)
      }
    cEdges.unpersist()
    // No contraction tonight (every batch doc is a singleton and no
    // stored components merge — known job-free when the union-find
    // path ran): the batch append IS the whole publish, atomic as a
    // single (tagged) commit, so the branch + corpus-table MERGE +
    // fast_forward scaffolding (3 metadata commits + a row-level
    // write) drops out. beforePublish still precedes the certifying
    // commit, preserving the tagged epoch's "labels last" contract.
    if (mappingKnownEmpty) {
      beforePublish()
      val batchLabels = batchDocs
        .select(col("doc_id"), col("doc_id").as("group_id"))
      val w = (if (smallBatch) batchLabels.coalesce(1) else batchLabels)
        .writeTo(graft.lake.Names.q(s, table))
      (if (smallBatch) w.option("distribution-mode", "none") else w).append()
      return
    }
    val br = s"nightly_${java.util.UUID.randomUUID().toString.take(8)}"
    s.sql(s"CALL ${graft.lake.Names.catalog(s)}.system.create_branch(table => '${graft.lake.Names.rel(s, table)}', " +
      s"branch => '$br')")
    try {
      // relabel every member of a merged component in ONE merge keyed
      // on the component label — no per-doc edge ever touches storage
      val mv = LakeOps.fresh("grpidx_map")
      mapping.createOrReplaceTempView(mv)
      s.sql(s"""MERGE INTO ${graft.lake.Names.q(s, table)}.branch_$br t USING $mv m
               |ON t.group_id = m.old_label
               |WHEN MATCHED THEN UPDATE SET t.group_id = m.new_label"""
        .stripMargin)
      s.catalog.dropTempView(mv)
      // small epochs skip the cluster-by-bucket exchange on the batch
      // label append (write-option distribution-mode override — same
      // trade as the substrate advance's appendSmall)
      val batchLabels = batchDocs
        .join(mapping.toDF("doc_id", "new_label"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("new_label"), col("doc_id")).as("group_id"))
      val w = (if (smallBatch) batchLabels.coalesce(1) else batchLabels)
        .writeTo(s"${graft.lake.Names.q(s, table)}.branch_$br")
      (if (smallBatch) w.option("distribution-mode", "none") else w).append()
      beforePublish()
      // atomic publish: one ref move, both changes or neither
      s.sql(s"CALL ${graft.lake.Names.catalog(s)}.system.fast_forward(table => '${graft.lake.Names.rel(s, table)}', " +
        s"branch => 'main', to => '$br')")
    } finally {
      s.sql(s"CALL ${graft.lake.Names.catalog(s)}.system.drop_branch(table => '${graft.lake.Names.rel(s, table)}', " +
        s"branch => '$br')")
    }
  }

  /** Canonical-document selection — the step a dedup pipeline runs
    * AFTER grouping: each near-dup group keeps exactly one
    * representative, the member with the best quality score (ties to
    * the smallest doc_id). Selection is a single struct-max aggregate
    * over (quality, -doc_id) — no window, no second shuffle beyond
    * the group_id key — so at 100 TB the cost after the (already
    * gated) grouping is one map-side-combining hash aggregate. */
  def tDedupKeepBest(s: SparkSession, d: String): DataFrame = {
    val groups = tDedupGroups(s, d)
    val quality = tQualityScore(s, d).select(col("doc_id"), col("quality"))
    groups.join(quality, Seq("doc_id"))
      .groupBy(col("group_id"))
      .agg(
        // max (quality, -doc_id) = best quality, ties to the smallest
        // doc_id. An empty doc's quality is NaN (0/0 double), not
        // null: both Spark's total double ordering and DuckDB's sort
        // place NaN ABOVE every real value, so a NaN member would win
        // its group identically in both engines — in practice empty
        // docs share no shingles and are always singleton groups
        max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("group_id"), (-col("best.nid")).as("kept_doc_id"),
        col("best.quality").as("quality"), col("n_members"))
      .orderBy(col("group_id"))
  }

  /** Unigram language-model scoring — the LM-lite quality filter a
    * curation pipeline runs when a real LM is too expensive for a
    * first pass: each document's mean log10 token probability under
    * the corpus's OWN unigram distribution (MLE, no smoothing needed —
    * every token is in-vocabulary by construction). Gibberish and
    * boilerplate separate cleanly on this score.
    *
    * Two corpus passes, as a distribution must: one builds the term
    * frequencies (vocab-sized, checkpointed so the total and the join
    * don't recompute it), one joins them back token-partitioned. The
    * grand total derives from the materialized tf — a k-row sum, not a
    * third corpus pass — and rides a 1-row broadcast.
    *
    * Float contract (the t_pmi_bigrams lesson): `avg_logprob` is for
    * LIBRARY consumers; the cross-engine GATE drops it and hashes the
    * exact-integer witnesses only (n_tokens, sum_tf, max_tf — the
    * tf-join fidelity, all BIGINT, so the hash CANNOT ULP-flip: no
    * transcendental-derived float ever reaches it). The float's
    * semantics are pinned in-JVM by CurationOpsSuite against an
    * independent driver-side model. */
  def tUnigramLogprob(s: SparkSession, d: String): DataFrame = {
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
    val tf = tk.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val n = tf.agg(sum(col("c")).as("total"))
    tk.join(tf, Seq("tok"))
      .crossJoin(broadcast(n))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log10(col("c").cast("double") / col("total"))), 4)
          .as("avg_logprob"),
        sum(col("c")).as("sum_tf"),
        max(col("c")).as("max_tf"))
      .orderBy(col("doc_id"))
  }

  /** Interpolated bigram language-model scoring — the quality filter
    * one notch above [[tUnigramLogprob]]: each document's mean log10
    * probability of its token TRANSITIONS under a Jelinek-Mercer mix
    * of the corpus's own bigram and unigram MLE distributions,
    * p(w2|w1) = 0.9·c(w1 w2)/c(w1 ·) + 0.1·c(w2)/N. Word salad whose
    * unigrams look fine but whose transitions are random scores low;
    * no smoothing floor is needed because every scored bigram is
    * in-model by construction, and the unigram term keeps the mix a
    * proper conditional (c(w1 ·) is the bigram-LEFT count, so the
    * bigram term sums to 1 over w2).
    *
    * Scale shape: bigrams come from slice+zip_with on the token array
    * (narrow — no posexplode+lead window, which would sort the corpus
    * by doc), the model is two vocab-bounded hash aggregates with the
    * history counts derived from the bigram table (k-row aggregate,
    * not a third corpus pass), the scoring pass joins the model back
    * keyed on (w1,w2) and on w2, and the grand total rides a 1-row
    * broadcast. Float contract = [[tUnigramLogprob]]'s: the GATE
    * hashes only the exact-integer witnesses (n_bigrams, sum_cb,
    * sum_c1, sum_c2 — every model lookup pinned, all BIGINT, so the
    * hash CANNOT ULP-flip), `avg_logprob` stays a library column
    * dropped before hashing, and its arithmetic is pinned in-JVM by
    * CurationOpsSuite's independent model recompute; no float ever
    * drives row selection. */
  def tBigramLm(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    val n1 = greatest(size(t) - 1, lit(0))
    val bg = zip_with(slice(t, lit(1), n1), slice(t, lit(2), n1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val pairs = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), explode(bg).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val cbg = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val hist = cbg.groupBy(col("w1")).agg(sum(col("cb")).as("c1"))
    val cu = Tables.spread(Tables.documents(s, d))
      .select(explode(toks(col("text"))).as("w2"))
      .groupBy(col("w2")).agg(count(lit(1)).as("c2"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val n = cu.agg(sum(col("c2")).as("total"))
    pairs
      .join(cbg, Seq("w1", "w2"))
      .join(hist, Seq("w1"))
      .join(cu, Seq("w2"))
      .crossJoin(broadcast(n))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log10(
          lit(0.9) * (col("cb").cast("double") / col("c1").cast("double")) +
            lit(0.1) * (col("c2").cast("double") / col("total").cast("double"))
        )), 4).as("avg_logprob"),
        sum(col("cb")).as("sum_cb"),
        sum(col("c1")).as("sum_c1"),
        sum(col("c2")).as("sum_c2"))
      .orderBy(col("doc_id"))
  }

  /** [[tBigramLm]] served from a STORED model — the stored-index
    * pattern (band postings, group labels, IVF cells) applied to the
    * LM quality filter's model tables: recomputing corpus-wide
    * unigram/bigram counts per scoring run is a full corpus pass that
    * a nightly pipeline pays once, not per consumer. The counts are
    * ADDITIVE, so the refresh is the simplest in the family:
    *
    *  - build: even docs' (w1,w2)→cb and tok→c2 aggregates persist as
    *    lake tables `PARTITIONED BY bucket(8, w1|tok)` (the MERGE key);
    *  - nightly refresh: the odd batch's counts MERGE in —
    *    matched rows ADD, unmatched INSERT; copy-on-write touches only
    *    files holding updated vocabulary buckets, and no corpus text
    *    is re-read;
    *  - serve: the scoring joins read the stored model (k-row sum for
    *    the grand total) instead of re-aggregating the corpus.
    *
    * Additivity means build-on-evens + merge-odds IS the one-shot
    * model bit-for-bit, so the gate shares [[tBigramLm]]'s oracle
    * verbatim: the storage round-trip and the build/batch split must
    * not change one row. Stage splits (build/refresh/score) land in
    * bench.json. */
  /** Fold a stored model table's merge-on-read deltas back into its
    * data files — the maintenance step the MoR adoption note promised
    * ("periodic rewrite_data_files folds the deltas back in"), now run
    * INSIDE the gate lifecycles so the claim stays measured: position
    * masks apply and retire (rewrite_position_delete_files — the read
    * path returns to plain vectorized mask-free scans), then the
    * refresh's small delta files binpack (rewrite_data_files). Both
    * are row-preserving commits, so scores after the fold-in are
    * bit-identical to before — CurationOpsSuite pins that and
    * measures the read-tax recovery. */
  private[queries] def foldInModelTable(s: SparkSession,
      table: String, stage: String = null): Unit = {
    def timed[T](suffix: String)(f: => T): T =
      if (stage == null) f else graft.StageTimes.timed(s"$stage.$suffix")(f)
    timed("masks") {
      s.sql(s"CALL ${graft.lake.Names.catalog(s)}.system.rewrite_position_delete_files(" +
        s"table => '${graft.lake.Names.rel(s, table)}')")
    }
    timed("binpack") {
      s.sql(s"CALL ${graft.lake.Names.catalog(s)}.system.rewrite_data_files(table => '${graft.lake.Names.rel(s, table)}')")
    }
  }

  def tBigramLmIndexed(s: SparkSession, d: String): DataFrame = {
    LakeOps.cat(s)
    val uniT = LakeOps.fresh("lmidx_uni")
    val bigT = LakeOps.fresh("lmidx_big")
    val t = toks(col("text"))
    val n1 = greatest(size(t) - 1, lit(0))
    val bg = zip_with(slice(t, lit(1), n1), slice(t, lit(2), n1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    def pairsOf(df: DataFrame): DataFrame = Tables.spread(df)
      .select(col("doc_id"), explode(bg).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    def uniOf(df: DataFrame): DataFrame = Tables.spread(df)
      .select(explode(toks(col("text"))).as("w2"))
      .groupBy(col("w2")).agg(count(lit(1)).as("c2"))
    val docs = Tables.documents(s, d)
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val odds = docs.filter(col("doc_id") % 2 === 1)
    // merge-on-read for the MERGE: an additive count batch MATCHES
    // nearly every resident vocabulary row (common words appear in
    // every batch), so copy-on-write would rewrite almost the whole
    // model per refresh; MoR writes deltas proportional to the BATCH
    // (measured at sf0.1: refresh 3.4 -> 2.1 s for a +0.3 s read tax
    // on the next score — and at vocab >> batch scale the gap is the
    // whole table vs the batch). Periodic rewrite_data_files folds
    // the deltas back in; results are bit-identical either mode.
    // the two model tables are DISJOINT, so every lifecycle stage
    // runs its per-table halves as parallel driver steps
    // ([[parSteps]] — the group-index commit-overlap pattern): two
    // creates, two additive MERGEs, two fold-ins, each one table
    graft.StageTimes.timed("t_bigram_lm_indexed.build") {
      parSteps(
        () => pairsOf(evens).groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("cb"))
          .writeTo(graft.lake.Names.q(s, bigT)).using("lake")
          .tableProperty("write.merge.mode", "merge-on-read")
          .partitionedBy(bucket(8, col("w1"))).create(),
        () => uniOf(evens)
          .writeTo(graft.lake.Names.q(s, uniT)).using("lake")
          .tableProperty("write.merge.mode", "merge-on-read")
          .partitionedBy(bucket(8, col("w2"))).create())
    }
    graft.StageTimes.timed("t_bigram_lm_indexed.refresh") {
      val bigBatch = s"lm_batch_big_${bigT.split('_').last}"
      val uniBatch = s"lm_batch_uni_${uniT.split('_').last}"
      pairsOf(odds).groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("cb")).createOrReplaceTempView(bigBatch)
      uniOf(odds).createOrReplaceTempView(uniBatch)
      parSteps(
        () => s.sql(s"""MERGE INTO ${graft.lake.Names.q(s, bigT)} t USING $bigBatch b
                 |ON t.w1 = b.w1 AND t.w2 = b.w2
                 |WHEN MATCHED THEN UPDATE SET t.cb = t.cb + b.cb
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin),
        () => s.sql(s"""MERGE INTO ${graft.lake.Names.q(s, uniT)} t USING $uniBatch b
                 |ON t.w2 = b.w2
                 |WHEN MATCHED THEN UPDATE SET t.c2 = t.c2 + b.c2
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
      s.catalog.dropTempView(bigBatch)
      s.catalog.dropTempView(uniBatch)
    }
    graft.StageTimes.timed("t_bigram_lm_indexed.compact") {
      parSteps(
        () => foldInModelTable(s, bigT, "t_bigram_lm_indexed.compact_big"),
        () => foldInModelTable(s, uniT, "t_bigram_lm_indexed.compact_uni"))
    }
    val result = graft.StageTimes.timed("t_bigram_lm_indexed.score") {
      val cbg = s.table(graft.lake.Names.q(s, bigT))
      val hist = cbg.groupBy(col("w1")).agg(sum(col("cb")).as("c1"))
      val cu = s.table(graft.lake.Names.q(s, uniT))
      val n = cu.agg(sum(col("c2")).as("total"))
      pairsOf(docs)
        .join(cbg, Seq("w1", "w2"))
        .join(hist, Seq("w1"))
        .join(cu, Seq("w2"))
        .crossJoin(broadcast(n))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(log10(
            lit(0.9) * (col("cb").cast("double") / col("c1").cast("double")) +
              lit(0.1) *
                (col("c2").cast("double") / col("total").cast("double"))
          )), 4).as("avg_logprob"),
          sum(col("cb")).as("sum_cb"),
          sum(col("c1")).as("sum_c1"),
          sum(col("c2")).as("sum_c2"))
        .localCheckpoint(true, StorageLevel.DISK_ONLY)
    }
    s.sql(s"DROP TABLE IF EXISTS ${graft.lake.Names.q(s, uniT)} PURGE")
    s.sql(s"DROP TABLE IF EXISTS ${graft.lake.Names.q(s, bigT)} PURGE")
    result.orderBy(col("doc_id"))
  }

  /** Deterministic stratified sampling — the "keep X% of each stratum"
    * stage of corpus curation, reproducible across runs and engines:
    * the sampling coin is a hash bucket of the doc id (first 15 md5
    * hex digits mod 100), not rand(), so the same document always gets
    * the same verdict and the gate can hash-match. Per-language
    * quotas: en 60 %, de/fr 30 %, everything else 10 %. Pure narrow
    * projection + filter — no shuffle, any corpus size. */
  def tSampleStratified(s: SparkSession, d: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")
      .cast("binary")), 1, 15), 16, 10).cast("long") % 100
    val quota = when(col("lang") === "en", 60)
      .when(col("lang").isin("de", "fr"), 30)
      .otherwise(10)
    Tables.documents(s, d)
      .withColumn("bucket", bucket)
      .filter(col("bucket") < quota)
      .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Mixture-weighted sampling — assembling a training corpus that
    * matches TARGET stratum shares from whatever is available (the
    * data-mixing step of a training run, distinct from
    * [[tSampleStratified]]'s fixed per-stratum quotas: here the rates
    * are DERIVED from the targets and the availability). Target
    * language shares are integer PARTS (en 10, de 3, fr 3, es 2,
    * zh 2 of 20); the bottleneck rule picks the largest total budget
    * T every stratum can serve (T = min over langs of cnt·20 DIV
    * parts, exact integer division in both engines), per-lang keeps
    * are T·parts DIV 20, and selection is a deterministic md5
    * threshold on the doc id.
    *
    * Scale shape: one 5-group aggregate, a 5-row broadcast of
    * per-lang thresholds, one narrow filter pass over the corpus —
    * no per-stratum ranking (a row_number window PARTITIONED BY lang
    * would drag each stratum through one task at 100 TB). The
    * hash-threshold keeps are binomially approximate rather than
    * exact — the price of staying narrow, negligible at corpus scale
    * and identical in both engines either way.
    *
    * Cross-engine determinism: the threshold is
    * (keep/cnt)·2^52 — one IEEE division, one power-of-two scale,
    * bit-identical in JVM and DuckDB — compared against a 52-bit
    * hash, which converts to double exactly. */
  def tMixtureSample(s: SparkSession, d: String): DataFrame = {
    val parts = when(col("lang") === "en", 10L)
      .when(col("lang").isin("de", "fr"), 3L)
      .when(col("lang").isin("es", "zh"), 2L)
      .otherwise(0L)
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("parts", parts)
      .filter(col("parts") > 0)
    val budget = counts.agg(min(expr("cnt * 20 DIV parts")).as("t"))
    val rates = counts.crossJoin(broadcast(budget))
      .withColumn("keep", expr("t * parts DIV 20"))
      .withColumn("thr", col("keep").cast("double") / col("cnt").cast("double")
        * lit(4503599627370496.0)) // 2^52
      .select(col("lang"), col("thr"))
    docs.join(broadcast(rates), Seq("lang"))
      .withColumn("h", conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 13), 16, 10).cast("long"))
      .filter(col("h").cast("double") < col("thr"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget shard packing — grouping documents into
    * fixed-token-budget training shards (the sequence-packing
    * pre-step). Shard id = the document's starting token offset in its
    * stratum divided by the budget; the running offset is a window
    * cumsum PARTITIONED BY source, so packing is embarrassingly
    * parallel per stratum — a global (unpartitioned) window would
    * serialize the whole corpus through one task at 100 TB. */
  def tShardPack(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .withColumn("n_tokens", size(toks(col("text"))))
      .withColumn("start_tok",
        coalesce(sum(col("n_tokens")).over(w) - col("n_tokens"), lit(0)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        floor(col("start_tok") / 4096).cast("long").as("shard_id"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination — flag training documents that share
    * 3-word shingles with an evaluation set (here: the pseudo-eval
    * slice doc_id % 97 == 0, deterministic). The eval shingle set is
    * tiny relative to the corpus, so the overlap join broadcasts it;
    * per-doc overlap counts come from one hash aggregation. This is
    * the n-gram-overlap decontamination stage every training pipeline
    * runs against held-out benchmarks. */
  /** Context-window chunking: split each document into overlapping
    * fixed-token windows (size 64, stride 48 — 16-token overlap), the
    * standard pre-tokenization step for embedding/RAG indexing and
    * long-doc training. Narrow ops end to end: one explode over the
    * per-doc start offsets, a slice per chunk — no shuffle except the
    * result ordering, so at 100 TB it's a pure map stage. Chunk text
    * is emitted as a digest (chunks are ~1.3x the corpus; the gate
    * verifies content without re-materializing it). */
  def tChunk(s: SparkSession, d: String): DataFrame = {
    val size64 = lit(64)
    val stride = lit(48)
    Tables.documents(s, d)
      .withColumn("t", toks(col("text")))
      .withColumn("chunk_start",
        explode(sequence(lit(0), greatest(size(col("t")) - 1, lit(0)), stride)))
      .withColumn("c", slice(col("t"), col("chunk_start") + 1, size64))
      .select(col("doc_id"), col("chunk_start"),
        size(col("c")).as("chunk_tokens"),
        md5(array_join(col("c"), " ")).as("chunk_digest"))
      .orderBy(col("doc_id"), col("chunk_start"))
  }

  /** Chunk-granularity exact dedup — the paragraph-level pass real
    * curation pipelines run BETWEEN document-exact and near-dup
    * dedup: boilerplate (headers, licenses, navigation) repeats
    * across otherwise-distinct documents and only surfaces at
    * sub-document granularity. Chunks are [[tChunk]]'s 64-token /
    * 48-stride windows; identity is the chunk digest, so the whole
    * operator is one digest-keyed hash aggregate over the exploded
    * windows (map-side combining; the standard exact-dedup shuffle
    * shape at any corpus size). Emitted per duplicated digest:
    * copies, distinct docs, the canonical occurrence (smallest
    * doc_id; earliest start anywhere — exact integers, no float in
    * the hash). */
  def tChunkDedup(s: SparkSession, d: String): DataFrame =
    tChunk(s, d)
      .groupBy(col("chunk_digest"))
      .agg(count(lit(1)).as("n_copies"),
        count_distinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keep_doc_id"),
        min(col("chunk_start")).cast("long").as("min_start"))
      .filter(col("n_copies") >= 2)
      .select(col("chunk_digest"), col("n_copies"), col("n_docs"),
        col("keep_doc_id"), col("min_start"))
      .orderBy(col("chunk_digest"))

  /** Per-source boilerplate stripping — the domain-scoped line-dedup
    * pass (CCNet/RefinedWeb style) that [[tChunkDedup]]'s GLOBAL
    * duplicate-chunk report does not give you: navigation, headers
    * and license blocks repeat across a single domain's pages, so the
    * frequency test must be relative to the SOURCE (a paragraph is
    * boilerplate iff it appears in ≥ max(2, 5 %) of that source's
    * documents), and the useful output is each document AFTER the
    * strip (paragraph/kept-token retention stats, all exact
    * integers — no float anywhere in the gate).
    *
    * Paragraphs are non-overlapping 16-token windows, so kept_tokens
    * is exact set arithmetic. Scale shape: one (source, digest)
    * aggregate with map-side combining (distinct-doc counts), a
    * source-doc-count frame of |sources| rows joined in, and the
    * verdicts join back keyed on (source, digest) — no window, no
    * broadcast of anything corpus-sized, the exact-dedup shuffle
    * shape throughout. The 5 % threshold is integer arithmetic:
    * n_docs_with ≥ max(2, (src_docs + 19) div 20). */
  def tBoilerplate(s: SparkSession, d: String): DataFrame = {
    val w = lit(16)
    val par = Tables.documents(s, d)
      .withColumn("t", toks(col("text")))
      .withColumn("p0",
        explode(sequence(lit(0), greatest(size(col("t")) - 1, lit(0)), w)))
      .select(col("doc_id"), col("source"),
        size(slice(col("t"), col("p0") + 1, w)).as("n_tok"),
        md5(array_join(slice(col("t"), col("p0") + 1, w), " ")).as("digest"))
    val srcDocs = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count_distinct(col("doc_id")).as("src_docs"))
    val boiler = par
      .groupBy(col("source"), col("digest"))
      .agg(count_distinct(col("doc_id")).as("n_docs_with"))
      .join(srcDocs, Seq("source"))
      .filter(col("n_docs_with") >= greatest(lit(2L),
        expr("(src_docs + 19) div 20")))
      .select(col("source"), col("digest"), lit(1).as("is_boiler"))
    par.join(boiler, Seq("source", "digest"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_par"),
        sum(when(col("is_boiler").isNotNull, 1L).otherwise(0L))
          .as("n_boiler"),
        sum(when(col("is_boiler").isNull, col("n_tok").cast("long"))
          .otherwise(0L)).as("kept_tokens"))
      .orderBy(col("doc_id"))
  }

  def tContamination(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(shingles3(toks(col("text")))).as("shingle"))
    val bench = sh.filter(col("doc_id") % 97 === 0)
      .select(col("shingle")).distinct()
    sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .orderBy(col("doc_id"))
  }

  /** Multimodal plumbing: treat the text payload as an opaque binary
    * blob (stand-in for image/audio bytes — the container has no
    * codec libs) and extract typed metadata: byte length, magic
    * prefix, content digest. The real decode step would slot in as a
    * mapPartitions over the binary column with identical schema. */
  def mmBinaryMeta(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("blob", col("text").cast("binary"))
      .select(
        col("doc_id"),
        length(col("blob")).as("byte_len"),
        lower(hex(substring(col("text"), 1, 4).cast("binary"))).as("magic"),
        sha2(col("blob"), 256).as("digest"))
      .orderBy(col("doc_id"))

  /** Deterministic synthetic pixel: every image/frame pixel is an
    * exact-integer function of (doc_id, frame, x, y), so the
    * cross-engine oracle can compute the decoded content WITHOUT a
    * codec — PNG and TIFF are lossless, so the bytes the executor
    * decodes carry exactly these values, and a digest over the
    * DECODED raster hash-matches a digest DuckDB derives from the
    * formula. Any codec bug, channel swap, or rounding drift in the
    * decode/resize kernels breaks the match. */
  private def mmPixel(id: Long, f: Int, x: Int, y: Int): Int = {
    val r = ((id * 7 + f * 19 + x * 13 + y * 17) % 256).toInt
    val g = ((id * 11 + f * 23 + x * 5 + y * 3) % 256).toInt
    val b = ((id * 13 + f * 29 + x * 3 + y * 31) % 256).toInt
    (r << 16) | (g << 8) | b
  }

  /** Exact-integer digest of a pixel grid: position-weighted RGB sum
    * (weights make it sensitive to pixel TRANSPOSITION, not just
    * value multisets). Bounded: ≤ 2^24 · (1+15·31+12·7) · 208 pixels
    * ≈ 2·10¹² — no overflow, no modulus needed. */
  private def mmDigest(px: (Int, Int) => Int, w: Int, h: Int): Long = {
    var s = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        s += (px(x, y) & 0xFFFFFF).toLong * (1 + x * 31 + y * 7)
        x += 1
      }
      y += 1
    }
    s
  }

  /** REAL image bytes per document: a doc_id-shaped RGB image (4–16 ×
    * 3–13, pixels from [[mmPixel]]) encoded as PNG with the JDK's own
    * `javax.imageio` — the multimodal ring's binary payloads are real
    * compressed image files, not arithmetic stand-ins. At 100 TB this
    * stage is the ingest boundary (bytes arrive from storage); here
    * the encoder doubles as the deterministic corpus generator. */
  private def mmImageBytes(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          val w = (4 + id % 13).toInt
          val h = (3 + id % 11).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, mmPixel(id, 0, x, y)); x += 1 }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }
      }
  }

  /** Decode a single-image payload or fail LOUDLY. `ImageIO` signals
    * an undecodable payload two ways — `null` for an unrecognized
    * container, `IOException`/`IIOException` for a recognized-but-
    * corrupt stream (truncation, mangled chunks) — and letting either
    * escape raw turns a 100 TB decode job's first bad record into an
    * executor NPE with no record identity. Both convert to ONE
    * IllegalArgumentException naming the record and payload size: the
    * pinned ingest-boundary contract (MultimodalSuite's corrupt-
    * payload specs). Fail-fast is the KERNEL's contract; quarantining
    * bad records is a pipeline policy layered above it (wrap this in
    * the caller's try if skipping is wanted). */
  private[queries] def decodeImageStrict(id: Long, bytes: Array[Byte])
      : java.awt.image.BufferedImage = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch {
        // NonFatal, not just IOException: JDK plugins also signal
        // corrupt payloads with RuntimeExceptions (CMMException for a
        // broken ICC profile, IndexOutOfBounds for mangled markers)
        case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(
            s"undecodable image payload for doc $id " +
              s"(${bytes.length} bytes): ${e.getMessage}", e)
      }
    if (img == null) throw new IllegalArgumentException(
      s"unrecognized image container for doc $id (${bytes.length} bytes)")
    img
  }

  /** Multimodal image decode — a REAL codec kernel (JDK `ImageIO`
    * PNG): each binary payload decodes to its raster and reports
    * exact-integer witnesses — dimensions, channel count, and a
    * position-weighted pixel digest computed from the DECODED pixels
    * only. Runs as one mapPartitions over the binary column
    * (batch-per-partition — the decoder-handle-per-partition shape a
    * JNI codec would use); the narrow plan has no shuffle before the
    * presentation sort. The oracle derives the same witnesses from
    * the pixel formula: PNG is lossless, so they match iff the
    * decode is bit-correct. */
  def mmDecodeImage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mmImageBytes(s, d)
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val img = decodeImageStrict(id, bytes)
          val (w, h) = (img.getWidth, img.getHeight)
          val channels = img.getRaster.getNumBands
          (id, w.toLong, h.toLong, channels.toLong,
            mmDigest((x, y) => img.getRGB(x, y), w, h))
        }
      }
      .toDF("doc_id", "width", "height", "channels", "pix_digest")
      .orderBy(col("doc_id"))
  }

  /** Multimodal resize — decode (real PNG) then a REAL nearest-
    * neighbor downscale kernel over the decoded raster: output dims
    * halve (floor, min 1) and out(x, y) samples in((x·w)/out_w,
    * (y·h)/out_h) with integer division — an exactly-reproducible
    * resampling, so the resized digest is oracle-checkable where an
    * interpolating resize's float arithmetic would not be. Same
    * narrow one-pass shape as the decode. */
  def mmResizeImage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mmImageBytes(s, d)
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val img = decodeImageStrict(id, bytes)
          val (w, h) = (img.getWidth, img.getHeight)
          val ow = math.max(w / 2, 1)
          val oh = math.max(h / 2, 1)
          val digest = mmDigest(
            (x, y) => img.getRGB(x * w / ow, y * h / oh), ow, oh)
          (id, ow.toLong, oh.toLong, digest)
        }
      }
      .toDF("doc_id", "out_w", "out_h", "resize_digest")
      .orderBy(col("doc_id"))
  }

  /** Pixel formula for the LOSSY ring: smooth per-channel gradients
    * with no mod-256 wrap inside an image, unlike the lossless ring's
    * [[mmPixel]] noise. Deliberate: mod-wrap edges are adversarial
    * for JPEG's DCT (a faithful decode of the noise formula measures
    * up to ~37 mean levels at these tiny sizes — indistinguishable
    * from real defects), while smooth gradients compress near-
    * losslessly AND keep the channels separated (b − r ≥ 59
    * everywhere), so a faithful decode and a channel swap sit two
    * orders apart. Photographic content is the smooth case; the
    * noise-robust digest discipline stays with the lossless gates. */
  private[queries] def mmJpegPixel(id: Long, x: Int, y: Int): Int = {
    val r = (20 + (id % 8) * 2 + x * 4 + y * 3).toInt
    val g = (90 + (id % 5) * 4 + x * 2 + y * 2).toInt
    val b = (170 + (id % 11) * 3 + x * 2 + y).toInt
    (r << 16) | (g << 8) | b
  }

  /** REAL lossy-codec payloads: doc_id-shaped smooth-gradient images
    * ([[mmJpegPixel]]), encoded as JPEG by the JDK's own writer at
    * explicit quality 0.95 — real corpora are JPEG-heavy, and a
    * lossless-only ring never exercises the decode path 90% of ingest
    * bytes take. */
  private[queries] def mmJpegBytes(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        // one writer handle per partition (the JNI-codec shape)
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("jpg").next()
        val p = writer.getDefaultWriteParam
        p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionQuality(0.95f)
        it.map { id =>
          val w = (4 + id % 13).toInt
          val h = (3 + id % 11).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, mmJpegPixel(id, x, y)); x += 1 }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
          writer.setOutput(ios)
          writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
          ios.close()
          (id, bos.toByteArray)
        }
      }
  }

  /** Mean per-channel deviation budget for [[mmDecodeJpeg]], in
    * 1/100ths of an intensity level (so 1200 = 12.0 levels).
    * MultimodalSuite's calibration measures the faithful-decode band
    * over the whole corpus and requires ≥ 1.6× headroom under this
    * budget, while a channel swap (the [[mmJpegPixel]] gradients keep
    * b − r ≥ 59 everywhere, so a swap measures ≈ 40+ mean levels),
    * stride bug, or garbage raster must land beyond 2× the budget —
    * the gate separates faithful from structurally wrong with margin
    * on BOTH sides. */
  private[queries] val MmJpegMeanTolX100 = 1200L

  /** Multimodal LOSSY decode — a real JPEG kernel. The PNG/TIFF
    * gates' formula-digest oracle cannot survive a lossy round-trip
    * (decoded bits are codec-implementation-defined), so the
    * witnesses are the ones that DO: exact dimensions + channel count
    * (structure is lossless even in JPEG), and a decoded-CONTENT
    * error bound — the mean per-channel absolute deviation of the
    * decoded raster from the generation formula, as an exact integer
    * ratio against [[MmJpegMeanTolX100]]. The bound passes for any
    * faithful decode and fails structurally wrong ones (channel
    * swaps, stride errors, wrong image); the pixel-exact digest
    * discipline stays with the lossless gates by design — recorded in
    * COVERAGE round 12. */
  def mmDecodeJpeg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mmJpegBytes(s, d)
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val (w, h, bands, meanX100) = jpegDecodeMeanErrX100(id, bytes)
          (id, w.toLong, h.toLong, bands.toLong,
            if (meanX100 <= MmJpegMeanTolX100) 1L else 0L)
        }
      }
      .toDF("doc_id", "width", "height", "channels", "err_bounded")
      .orderBy(col("doc_id"))
  }

  /** Resize AFTER a lossy decode — the ring's last seam: [[mmResizeImage]]
    * proves the nearest-neighbor kernel on lossless inputs and
    * [[mmDecodeJpeg]] proves the lossy decode, but a real pipeline
    * runs resize ON decoded-JPEG rasters, where the pixel-exact
    * resize-digest oracle cannot survive. Witnesses are the lossy
    * ring's ([[MmJpegMeanTolX100]] error-budget pattern): exact output
    * dimensions (structure is lossless), plus the mean per-channel
    * deviation of the RESIZED raster against the generation formula
    * evaluated at the same sampled coordinates — nearest-neighbor
    * passes decoded pixels through untouched, so a faithful
    * decode+resize stays in the faithful-decode band while a channel
    * swap, stride bug, or coordinate-mapping error lands beyond 2×
    * the budget (MultimodalSuite calibrates both sides). */
  def mmResizeJpeg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mmJpegBytes(s, d)
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val (ow, oh, meanX100) = jpegResizeMeanErrX100(id, bytes)
          (id, ow.toLong, oh.toLong,
            if (meanX100 <= MmJpegMeanTolX100) 1L else 0L)
        }
      }
      .toDF("doc_id", "out_w", "out_h", "err_bounded")
      .orderBy(col("doc_id"))
  }

  /** [[mmResizeJpeg]]'s per-record kernel: strict decode, the
    * [[mmResizeImage]] nearest-neighbor halving (out(x,y) =
    * in((x·w)/ow, (y·h)/oh), integer division), then the exact-integer
    * mean per-channel deviation (×100) of the resized raster against
    * the formula at the sampled source coordinates. Shared with
    * MultimodalSuite's calibration, which also passes a channel-
    * swapped `expected` so its negative measures THIS kernel, not a
    * copy of it. */
  private[queries] def jpegResizeMeanErrX100(id: Long, bytes: Array[Byte],
      expected: (Long, Int, Int) => Int = mmJpegPixel)
      : (Int, Int, Long) = {
    val img = decodeImageStrict(id, bytes)
    val (w, h) = (img.getWidth, img.getHeight)
    val ow = math.max(w / 2, 1)
    val oh = math.max(h / 2, 1)
    var err = 0L
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val (sx, sy) = (x * w / ow, y * h / oh)
        val got = img.getRGB(sx, sy)
        val want = expected(id, sx, sy)
        err += math.abs(((got >> 16) & 0xFF) - ((want >> 16) & 0xFF)) +
          math.abs(((got >> 8) & 0xFF) - ((want >> 8) & 0xFF)) +
          math.abs((got & 0xFF) - (want & 0xFF))
        x += 1
      }
      y += 1
    }
    (ow, oh, err * 100L / (3L * ow * oh))
  }

  /** [[mmDecodeJpeg]]'s per-record kernel: strict decode, then the
    * exact-integer mean per-channel deviation (×100) of the decoded
    * raster against the generation formula. Shared with
    * MultimodalSuite's calibration (which records the measured
    * faithful-decode band and its headroom under the budget). */
  private[queries] def jpegDecodeMeanErrX100(id: Long, bytes: Array[Byte])
      : (Int, Int, Int, Long) = {
    val img = decodeImageStrict(id, bytes)
    val (w, h) = (img.getWidth, img.getHeight)
    var err = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val got = img.getRGB(x, y)
        val want = mmJpegPixel(id, x, y)
        err += math.abs(((got >> 16) & 0xFF) - ((want >> 16) & 0xFF)) +
          math.abs(((got >> 8) & 0xFF) - ((want >> 8) & 0xFF)) +
          math.abs((got & 0xFF) - (want & 0xFF))
        x += 1
      }
      y += 1
    }
    (w, h, img.getRaster.getNumBands, err * 100L / (3L * w * h))
  }

  /** Deterministic synthetic audio sample: a 16-bit signed PCM value
    * as an exact-integer function of (doc_id, channel, sample index)
    * — like [[mmPixel]], chosen so the cross-engine oracle derives
    * the decoded waveform WITHOUT a codec (WAV PCM is lossless). */
  private def mmSample(id: Long, ch: Int, i: Int): Int =
    (((id * 31 + ch * 17 + i.toLong * 7919) % 65536) - 32768).toInt

  /** REAL audio bytes per document: a doc_id-shaped 2-channel 16-bit
    * PCM clip (8 000 Hz, 120–260 samples, [[mmSample]] waveform)
    * encoded as a RIFF/WAV container by the JDK's own
    * `javax.sound.sampled` — the audio leg of the multimodal ring,
    * real compressed-container files with zero external codecs. */
  private[queries] def mmAudioBytes(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (120 + (id % 8) * 20).toInt
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2,
            true, false) // 16-bit signed little-endian stereo
          val pcm = new Array[Byte](n * 4)
          var i = 0
          while (i < n) {
            var ch = 0
            while (ch < 2) {
              val v = mmSample(id, ch, i)
              pcm(i * 4 + ch * 2) = (v & 0xFF).toByte
              pcm(i * 4 + ch * 2 + 1) = ((v >> 8) & 0xFF).toByte
              ch += 1
            }
            i += 1
          }
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          (id, bos.toByteArray)
        }
      }
  }

  /** Multimodal audio decode — a REAL codec kernel (JDK
    * `javax.sound.sampled` WAV/PCM): each binary payload decodes
    * through AudioSystem (container parse + frame extraction) and
    * reports exact-integer witnesses — sample-rate, channel count,
    * frame count from the DECODER's own header, and a
    * position-weighted digest of the decoded 16-bit samples
    * (weights make it transposition-sensitive, the [[mmDigest]]
    * discipline). WAV PCM is lossless, so the oracle derives the
    * same witnesses from the sample formula; any endianness swap,
    * channel interleave bug, or header misparse breaks the hash.
    * Same mapPartitions shape as the image kernels; corrupt payloads
    * fail through the same record-naming contract
    * ([[decodeAudioStrict]]). */
  def mmDecodeAudio(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mmAudioBytes(s, d)
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (fmt, frames, pcm) = decodeAudioStrict(id, bytes)
          val nCh = fmt.getChannels
          var dig = 0L
          var i = 0
          while (i < frames) {
            var ch = 0
            while (ch < nCh) {
              val lo = pcm(i * 2 * nCh + ch * 2) & 0xFF
              val hi = pcm(i * 2 * nCh + ch * 2 + 1).toInt
              val v = (hi << 8) | lo // signed 16-bit little-endian
              dig += (v.toLong + 32768L) * (1 + i * 31 + ch * 7)
              ch += 1
            }
            i += 1
          }
          (id, fmt.getSampleRate.toLong, nCh.toLong, frames.toLong, dig)
        }
      }
      .toDF("doc_id", "sample_rate", "channels", "n_samples",
        "sample_digest")
      .orderBy(col("doc_id"))
  }

  /** [[decodeImageStrict]]'s audio twin: AudioSystem signals an
    * unrecognized or corrupt container with
    * UnsupportedAudioFileException / IOException / runtime
    * exceptions — all convert to one record-naming
    * IllegalArgumentException (MultimodalSuite pins truncated and
    * garbage payloads). Returns (format, frame count, raw PCM). */
  private[queries] def decodeAudioStrict(id: Long, bytes: Array[Byte])
      : (javax.sound.sampled.AudioFormat, Int, Array[Byte]) =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
        s"unexpected PCM layout: $fmt")
      val frames = ais.getFrameLength.toInt
      val pcm = ais.readAllBytes()
      require(pcm.length == frames * fmt.getFrameSize,
        s"truncated PCM body: ${pcm.length} of " +
          s"${frames * fmt.getFrameSize} bytes")
      (fmt, frames, pcm)
    } catch {
      case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"undecodable audio payload for doc $id " +
            s"(${bytes.length} bytes): ${e.getMessage}", e)
    }

  /** REAL multi-frame payloads: a 5×4 RGB "video" of 2–6 frames per
    * document, encoded as a multi-page TIFF (the one multi-frame
    * format the JDK reads AND writes losslessly with zero external
    * codecs). */
  private def mmVideoBytes(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        // one encoder handle per partition, reset per record — the
        // amortization point a JNI codec would use
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("tiff").next()
        val out = it.map { id =>
          val n = (2 + id % 5).toInt
          val bos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          var f = 0
          while (f < n) {
            val img = new java.awt.image.BufferedImage(5, 4,
              java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
            var y = 0
            while (y < 4) {
              var x = 0
              while (x < 5) { img.setRGB(x, y, mmPixel(id, f, x, y)); x += 1 }
              y += 1
            }
            writer.writeToSequence(
              new javax.imageio.IIOImage(img, null, null), null)
            f += 1
          }
          writer.endWriteSequence()
          ios.close()
          (id, bos.toByteArray)
        }
        out
      }
  }

  /** The per-record body of [[mmFrameSample]]'s decode partition,
    * under the SAME failure contract as [[decodeImageStrict]]: a
    * corrupt or truncated multi-frame payload (page scan OR frame
    * read) fails naming the record and payload size, never as a bare
    * reader exception — pinned by MultimodalSuite. */
  private[queries] def sampleFramesStrict(
      reader: javax.imageio.ImageReader, id: Long, bytes: Array[Byte])
      : Seq[(Long, Long, Long, Long)] =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      (0 until n by 2).map { f =>
        val img = reader.read(f)
        (id, f.toLong, n.toLong,
          mmDigest((x, y) => img.getRGB(x, y),
            img.getWidth, img.getHeight))
      }
    } catch {
      // every NonFatal converts — the JDK TIFF reader signals
      // malformed tags with IllegalArgumentException too, and nothing
      // inside the try produces this helper's own wrapper to
      // double-wrap
      case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"undecodable multi-frame payload for doc $id " +
            s"(${bytes.length} bytes): ${e.getMessage}", e)
    }

  /** Multimodal frame sampling — REAL multi-frame decode (JDK TIFF
    * reader): the frame COUNT comes from the decoder's own page scan
    * (`getNumImages`), every 2nd frame is sampled, and each sampled
    * frame reports the position-weighted digest of its decoded
    * pixels. The per-doc fan-out is the iterator flatMap itself —
    * frame rows stream straight out of the decode partition with no
    * shuffle before the presentation sort, the 100 TB shape for
    * frame-level feature extraction. */
  def mmFrameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mmVideoBytes(s, d)
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        val reader = javax.imageio.ImageIO
          .getImageReadersByFormatName("tiff").next()
        it.flatMap { case (id, bytes) =>
          sampleFramesStrict(reader, id, bytes)
        }
      }
      .toDF("doc_id", "frame_idx", "n_frames", "frame_digest")
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** TF-IDF top term per document — the classic salience signal next
    * to [[tBm25]]'s query-relevance scoring. Two hash aggregates
    * (doc-term tf, corpus df) + a 1-row broadcast corpus size, then
    * one doc-keyed window. The TOP-1 SELECTION runs on an exact
    * integer key (df asc, tf desc, term asc — "rarest, then most
    * frequent") rather than the float score: two near-equal tf·idf
    * values can order differently across engines' libm `ln` ulps, and
    * an argmax amplifies that into a row flip; the reported score
    * itself is rounded where an ulp cannot surface. */
  def tTfidf(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).as("n"),
        explode(col("t")).as("tok"))
      .groupBy(col("doc_id"), col("n"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val dfreq = tf.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
    val total = Tables.documents(s, d)
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("c").desc, col("tok").asc)
    tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(total))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("tok").as("top_term"),
        col("c").as("tf"), col("df"),
        round((col("c") * log(col("n_docs").cast("double") / col("df"))) /
          col("n"), 4).as("tfidf"))
      .orderBy(col("doc_id"))
  }

  /** Duplicate-span width: 5 tokens keeps the synthetic word-soup
    * corpus non-degenerate (2.3k of 25k windows repeat at sf0.01);
    * production exact-substring dedup uses ~50-token windows. */
  private val SpanW = 5

  /** Duplicate-span marking — the fixed-width approximation of
    * exact-substring dedup (the suffix-array pipeline of
    * "Deduplicating Training Data Makes Language Models Better"):
    * every [[SpanW]]-token window is digested, a window whose digest
    * occurs more than once ANYWHERE in the corpus is a duplicate
    * span, and each document reports how many of its tokens fall
    * under such spans — the removal/annotation signal, distinct from
    * pairwise similarity ([[tMinhashPairs]]) because it localizes
    * WHICH spans repeat, not which documents resemble each other.
    *
    * Scale shape: one bounded posexplode (≤1 window per token), ONE
    * shuffle keyed on the gram digest for the global occurrence
    * count, then one doc-keyed window pass that merges overlapping
    * duplicate windows exactly (sorted starts; each window covers
    * min(W, gap-to-next) fresh tokens, the last covers W). Nothing is
    * quadratic; at 100 TB the known hazard is hot grams (boilerplate
    * runs) skewing the digest partition — production adds the same
    * document-frequency cap [[MaxShingleDf]] uses, which also drops
    * nothing relevant since a gram over the cap is certainly dup. */
  def tDupSpan(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
    val grams = docs
      .filter(size(col("t")) >= SpanW)
      .withColumn("pos",
        explode(sequence(lit(1), size(col("t")) - (SpanW - 1))))
      .select(col("doc_id"), col("pos"),
        md5(array_join(slice(col("t"), col("pos"), lit(SpanW)), " "))
          .as("gram"))
    val dup = grams
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("gram"))))
      .filter(col("cnt") >= 2)
      .withColumn("nxt", lead(col("pos"), 1)
        .over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_grams"),
        sum(least(lit(SpanW), coalesce(col("nxt") - col("pos"), lit(SpanW))))
          .cast("long").as("dup_tokens"))
    docs.select(col("doc_id"), size(col("t")).as("n"))
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        greatest(col("n") - (SpanW - 1), lit(0)).cast("long").as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n"), 4).as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Composite quality-filter pipeline (C4-style): per-document
    * signals feed a deterministic first-match-wins decision chain
    * (too_short → low_diversity → no_stopwords → keep), reported as
    * per-(source, reason) counts — the accept/reject dashboard a
    * training-data run is steered by. All signals are narrow column
    * arithmetic over one corpus pass; the only shuffle is the final
    * low-cardinality aggregate, so at 100 TB this costs exactly one
    * scan. Thresholds are corpus-calibrated (sf0.01 yields all four
    * outcomes); production swaps them per language/source. */
  def tFilterPipeline(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")
    Tables.documents(s, d)
      .withColumn("t", toks(col("text")))
      .withColumn("n", size(col("t")))
      .withColumn("dv",
        size(array_distinct(col("t"))).cast("double") / col("n"))
      .withColumn("n_stop", size(filter(col("t"), t => t.isin(stop: _*))))
      .withColumn("reason",
        when(col("n") < 20, "too_short")
          .when(col("dv") < 0.5, "low_diversity")
          .when(col("n_stop") === 0, "no_stopwords")
          .otherwise("keep"))
      .groupBy(col("source"), col("reason"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).cast("long").as("sum_tokens"))
      .orderBy(col("source"), col("reason"))
  }

  /** Shingle novelty — the memorization/boilerplate signal a curation
    * pipeline scores before mixing: the share of a document's distinct
    * 3-word shingles that occur in NO other document (corpus-unique).
    * Low novelty means the document is assembled from phrases the
    * corpus already has (template/boilerplate); high novelty marks
    * fresh text worth up-weighting.
    *
    * Scale shape: explode distinct shingles (narrow), one
    * shingle-keyed count aggregate (map-side combining — the document
    * frequency), join back shingle-partitioned, one doc-keyed
    * aggregate. Same two-shuffle skeleton as [[tTfidf]]; no windows,
    * no corpus-sized broadcast. Output is pure BIGINT (novelty in
    * half-up basis points via exact integer arithmetic) — no float
    * ever reaches the driver hash. */
  def tNgramNovelty(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), explode(shingles3(toks(col("text")))).as("sh"))
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    sh.join(dfreq, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_bp",
        floor((lit(20000L) * col("n_novel") + col("n_shingles")) /
          (lit(2L) * col("n_shingles"))).cast("long"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        col("novelty_bp"))
      .orderBy(col("doc_id"))
  }

  /** [[tNgramNovelty]] served from a STORED shingle-DF index — the
    * additive-count pattern ([[tBigramLmIndexed]]) applied to the
    * dedup ring's mining substrate (r9 board: the sf10 group gate
    * spends its 61 s floor recomputing corpus shingle statistics):
    * document frequencies persist as a lake table bucketed by
    * shingle, a nightly batch's per-shingle doc counts MERGE in
    * additively (disjoint doc sets → exact), and scoring joins the
    * stored DF. Most batch shingles are corpus-new (novel text), so
    * the MERGE is INSERT-heavy — merge-on-read keeps the matched
    * minority from rewriting every bucket file. Additivity means
    * build-on-evens + merged odds IS the one-shot DF table, so the
    * gate shares [[tNgramNovelty]]'s oracle verbatim. */
  def tNgramNoveltyIndexed(s: SparkSession, d: String): DataFrame = {
    LakeOps.cat(s)
    val dfT = LakeOps.fresh("shdf")
    def shOf(df: DataFrame): DataFrame = Tables.spread(df).select(col("doc_id"),
      explode(shingles3(toks(col("text")))).as("sh"))
    val docs = Tables.documents(s, d)
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val odds = docs.filter(col("doc_id") % 2 === 1)
    graft.StageTimes.timed("t_ngram_novelty_indexed.build") {
      shOf(evens).groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .writeTo(graft.lake.Names.q(s, dfT)).using("lake")
        .tableProperty("write.merge.mode", "merge-on-read")
        .partitionedBy(bucket(8, col("sh"))).create()
    }
    graft.StageTimes.timed("t_ngram_novelty_indexed.refresh") {
      val v = s"shdf_batch_${dfT.split('_').last}"
      shOf(odds).groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .createOrReplaceTempView(v)
      s.sql(s"""MERGE INTO ${graft.lake.Names.q(s, dfT)} t USING $v b ON t.sh = b.sh
               |WHEN MATCHED THEN UPDATE SET t.df = t.df + b.df
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.catalog.dropTempView(v)
    }
    graft.StageTimes.timed("t_ngram_novelty_indexed.compact") {
      foldInModelTable(s, dfT, "t_ngram_novelty_indexed.compact")
    }
    val result = graft.StageTimes.timed("t_ngram_novelty_indexed.score") {
      shOf(docs).join(s.table(graft.lake.Names.q(s, dfT)), Seq("sh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty_bp",
          floor((lit(20000L) * col("n_novel") + col("n_shingles")) /
            (lit(2L) * col("n_shingles"))).cast("long"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          col("novelty_bp"))
        .localCheckpoint(true, StorageLevel.DISK_ONLY)
    }
    s.sql(s"DROP TABLE IF EXISTS ${graft.lake.Names.q(s, dfT)} PURGE")
    result.orderBy(col("doc_id"))
  }

  /** Length-outlier trimming — drop each language's shortest/longest
    * tails (below P5 or above P95 of `n_chars`) before training: the
    * truncated-and-concatenated garbage lives in exactly those tails.
    *
    * Percentiles are EXACT but never rank the corpus: the heavy pass
    * is one (lang, n_chars) histogram aggregate (map-side combining;
    * cardinality = languages × distinct lengths, thousands of rows at
    * any corpus size), the cumulative walk + threshold selection run
    * on that tiny frame, and the per-lang (lo, hi) cutoffs broadcast
    * back onto a narrow filter scan. A row_number window PARTITIONED
    * BY lang — the naive shape — would drag each language through one
    * task at 100 TB; this never materializes a per-document rank.
    * Thresholds are integer-compared (100·cum ≥ k·n), so the gate is
    * hash-exact with no float anywhere. */
  def tLengthTrim(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val hist = docs.groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
    val wAll = Window.partitionBy(col("lang"))
    val th = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy(col("lang"))
      .agg(
        min(when(lit(100L) * col("cum") >= lit(5L) * col("n"),
          col("n_chars"))).as("lo"),
        min(when(lit(100L) * col("cum") >= lit(95L) * col("n"),
          col("n_chars"))).as("hi"))
    docs.join(broadcast(th), Seq("lang"))
      .filter(col("n_chars").between(col("lo"), col("hi")))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic epoch shuffle — the global random reorder + reshard
    * a trainer runs per epoch, reproducible across runs and engines:
    * the shuffle key is md5 of (epoch-salt, doc_id), the shard is a
    * hash bucket of that key, and the in-shard position is the rank of
    * the key within the shard. Same document, same epoch → same slot,
    * on any engine ([[tSampleStratified]]'s coin, applied to ordering).
    *
    * Scale shape: one hash-partitioned exchange on `shard` plus a
    * per-shard sort — exactly `repartition(shard).sortWithinPartitions
    * (key)`, the shape every shard-writer already pays; shard count
    * scales with the corpus (fixed at 32 here for the gate), so no
    * task sees more than one shard's rows. Distinct from
    * [[tShardPack]], which packs documents into token-budget shards in
    * stable doc order; this op randomizes order. */
  def tEpochShuffle(s: SparkSession, d: String): DataFrame = {
    val key = md5(concat(lit("epoch-7:"), col("doc_id").cast("string"))
      .cast("binary"))
    val w = Window.partitionBy(col("shard")).orderBy(col("key"), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("key", key)
      .withColumn("shard",
        conv(substring(col("key"), 1, 15), 16, 10).cast("long") % 32)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))
  }

  /** Per-source document cap — keep each source's top 10 documents by
    * length (doc_id tie-break): the anti-domination step that stops a
    * single crawler/domain from swamping a training mixture.
    *
    * Scale shape: the rank-then-filter pattern is planned by Spark as
    * WindowGroupLimit (plan-locked in PlanSuite) — every input
    * partition keeps at most 10 rows per source BEFORE the exchange,
    * and the post-shuffle window ranks only those survivors. The
    * shuffle therefore carries O(sources × partitions × 10) rows, not
    * the corpus, and no task ever ranks rows the filter will drop —
    * the property that makes a per-source cap affordable when one hot
    * source holds a billion documents. */
  def tSourceCap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(s, d)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .select(col("doc_id"), col("source"), col("n_chars"), col("rk"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test split assignment (80/10/10): the
    * bucket is a salted md5 hash of the doc id, so the same document
    * lands in the same split on every run, every engine, and every
    * cluster size — the property that keeps evaluation sets
    * leak-free across re-materializations of a 100 TB corpus.
    * `rand()`-based splits silently re-deal on retry/recompute (a
    * task retry alone changes the draw). Pure map stage, no shuffle
    * beyond the presentation sort ([[tSampleStratified]]'s coin,
    * dealt into named splits). */
  def tTrainSplit(s: SparkSession, d: String): DataFrame = {
    val key = md5(concat(lit("split-1:"), col("doc_id").cast("string"))
      .cast("binary"))
    Tables.documents(s, d)
      .withColumn("bucket",
        conv(substring(key, 1, 15), 16, 10).cast("long") % 10)
      .select(col("doc_id"), col("lang"),
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Unicode NFC canonicalization via the codegen'd
    * [[graft.functions.NfcNormalize]] expression — the ingestion
    * stage that makes byte-keyed text ops (dedup digests, shingle
    * hashes, contamination probes) see composed and decomposed forms
    * of the same grapheme as the same document.
    *
    * The gate appends a deterministic decomposed suffix (combining
    * acute/ring/diaeresis) to every document so the normalizer has
    * real work on this (mostly-ASCII) corpus, then checks both the
    * codepoint-count contraction and the md5 of the normalized bytes
    * against DuckDB's `nfc_normalize`. Pure map stage — one pass, no
    * shuffle beyond the presentation sort; the expression stays
    * inside whole-stage codegen (CodegenSuite locks compilation).
    *
    * For corpora with COMPATIBILITY variants (fullwidth CJK-page
    * ASCII, ligatures, superscripts) the optional pre-stage is
    * [[graft.functions.NfkcFold]] (`graft_nfkc`) composed before the
    * match-key digest — lossy by design, so it feeds keys, never the
    * stored text. DuckDB has no NFKC oracle, so that stage is
    * spec-locked three ways in CodegenSuite instead of driver-gated. */
  def tNfcNormalize(s: SparkSession, d: String): DataFrame = {
    val denorm = concat(col("text"),
      // decomposed on purpose (e+U+0301, A+U+030A, o+U+0308): NFC
      // composes each pair, so n_after = n_before - 3 per document
      lit(" Cafe"), lit("e\u0301"),
      lit(" A\u030Angstro\u0308m"))
    Tables.documents(s, d)
      .withColumn("denorm", denorm)
      .withColumn("norm",
        graft.functions.StringFunctions.nfc(col("denorm")))
      .select(col("doc_id"),
        length(col("denorm")).cast("long").as("n_before"),
        length(col("norm")).cast("long").as("n_after"),
        md5(col("norm").cast("binary")).as("digest"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // DuckDB oracle SQL — same tokens, same md5-derived hashes.
  // ---------------------------------------------------------------

  private val tokSql = "regexp_split_to_array(trim(lower(text)), '\\s+')"

  /** Shingle-novelty oracle — shared by the in-memory gate and the
    * stored-DF gate (additive document frequencies). */
  private lazy val ngramNoveltySql: String =
    s"""WITH shx AS (
       |  SELECT doc_id, unnest(sh) AS g
       |  FROM (SELECT doc_id, $shSql AS sh
       |        FROM (SELECT doc_id, $tokSql AS t FROM documents))),
       |dfq AS (SELECT g, count(*) AS df FROM shx GROUP BY g)
       |SELECT s.doc_id, count(*) AS n_shingles,
       |  sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel,
       |  ((20000 * sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END)
       |    + count(*)) // (2 * count(*)))::BIGINT AS novelty_bp
       |FROM shx s JOIN dfq f USING (g)
       |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  /** Jelinek-Mercer bigram LM oracle — shared by the in-memory gate
    * and the stored-model gate (additive counts → identical model). */
  private lazy val bigramLmSql: String =
    s"""WITH tt AS (SELECT doc_id, $tokSql AS t FROM documents),
       |pairs AS (
       |  SELECT doc_id, unnest(t[1:len(t)-1]) AS w1,
       |    unnest(t[2:len(t)]) AS w2
       |  FROM tt),
       |cbg AS (SELECT w1, w2, count(*)::BIGINT AS cb FROM pairs
       |        GROUP BY w1, w2),
       |hist AS (SELECT w1, sum(cb)::BIGINT AS c1 FROM cbg GROUP BY w1),
       |cu AS (SELECT w2, count(*)::BIGINT AS c2 FROM
       |         (SELECT unnest(t) AS w2 FROM tt) GROUP BY w2)
       |SELECT p.doc_id, count(*) AS n_bigrams,
       |  sum(g.cb)::BIGINT AS sum_cb, sum(h.c1)::BIGINT AS sum_c1,
       |  sum(u.c2)::BIGINT AS sum_c2
       |FROM pairs p
       |JOIN cbg g USING (w1, w2)
       |JOIN hist h USING (w1)
       |JOIN cu u USING (w2)
       |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin

  /** MinHash-LSH candidate pairs as a reusable WITH-prefix (ends in
    * CTE `mh_cand(doc_a, doc_b, est_jaccard)`) — shared by the
    * t_minhash_pairs oracle and the cross-modal x_semantic_dedup
    * oracle in VectorOps, so the two can't drift. */
  private[queries] lazy val minhashCandCte: String =
    s"""WITH sh AS (
       |  SELECT doc_id, $shSql AS sh
       |  FROM (SELECT doc_id, $tokSql AS t FROM documents)),
       |sigs AS (
       |  SELECT doc_id,
       |    list_transform(range(16), i -> list_min(list_transform(ac,
       |      x -> ((x[1] & ((1::BIGINT << (60 - 4*i)) - 1)) << (4*i)) |
       |      (x[2] >> (60 - 4*i))))) AS sig
       |  FROM (SELECT doc_id, list_transform(sh, s ->
       |          [('0x'||substr(md5(s), 1, 15))::BIGINT,
       |           ('0x'||substr(md5(s), 16, 15))::BIGINT]) AS ac
       |        FROM sh)),
       |bands AS (
       |  SELECT doc_id, sig,
       |    unnest(list_transform(range(4), b -> md5(b || '|' ||
       |      array_to_string(list_transform(sig[b*4+1:b*4+4],
       |        x -> x::VARCHAR), ',')))) AS band_hash
       |  FROM sigs),
       |mh_cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    round(list_sum(list_transform(range(16),
       |      i -> CASE WHEN a.sig[i+1] = b.sig[i+1] THEN 1 ELSE 0 END))
       |      ::DOUBLE / 16.0, 4) AS est_jaccard
       |  FROM bands a JOIN bands b ON a.band_hash = b.band_hash
       |    AND a.doc_id < b.doc_id
       |  WHERE est_jaccard >= 0.5)""".stripMargin
  private val shSql =
    s"""CASE WHEN len(t) < 3 THEN []
       |     ELSE list_distinct(list_transform(range(1, len(t)-1),
       |            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END"""
      .stripMargin

  /** The 64 simhash vote sums of the oracle, generated to mirror the
    * Spark side exactly: v{b*16+i} = Σ bit(word_b, i) over shingles. */
  private lazy val simhashVoteSqlCols: String =
    (for { b <- 0 until 4; i <- 0 until 16 } yield
      s"sum((wd[${b + 1}] >> $i) & 1)::BIGINT AS v${b * 16 + i}")
      .mkString(",\n    ")

  /** The oracle's 4 band keys: bit i of band b set iff ones outnumber
    * zeros, packed big-endian like the Spark side. */
  private lazy val simhashBandSqlCols: String =
    (0 until 4).map { b =>
      "(" + (0 until 16).map(i =>
        s"(CASE WHEN 2*v${b * 16 + i} > n THEN ${1 << (15 - i)} " +
          "ELSE 0 END)").mkString(" + ") + ")"
    }.mkString(", ")

  /** Shared by the in-memory and stored-index incremental-dedup
    * gates: both must emit the identical best-corpus-match rows. */
  private lazy val incrementalDedupSql: String =
    s"""$minhashCandCte
       |SELECT doc_id, dup_of, est_jaccard FROM (
       |  SELECT doc_id, dup_of, est_jaccard, row_number() OVER (
       |      PARTITION BY doc_id
       |      ORDER BY est_jaccard DESC, dup_of) AS rn
       |  FROM (
       |    SELECT CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END
       |             AS doc_id,
       |           CASE WHEN doc_a % 2 = 1 THEN doc_b ELSE doc_a END
       |             AS dup_of,
       |           est_jaccard
       |    FROM mh_cand
       |    WHERE (doc_a % 2) <> (doc_b % 2)))
       |WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_dedup_exact" -> (tDedupExact _),
    "t_chunk" -> (tChunk _),
    "t_chunk_dedup" -> (tChunkDedup _),
    "t_boilerplate" -> (tBoilerplate _),
    "t_token_stats" -> (tTokenStats _),
    "t_token_bpe" -> (tTokenBpe _),
    "t_bpe_train" -> (tBpeTrain _),
    "t_bpe_train_driver" -> (tBpeTrainDriver _),
    "t_bpe_pairs" -> (tBpePairs _),
    "t_pmi_bigrams" -> (tPmiBigrams _),
    "t_quality_score" -> (tQualityScore _),
    "t_lang_id" -> (tLangId _),
    "t_fingerprint" -> (tFingerprint _),
    "t_minhash_pairs" -> (tMinhashPairs _),
    "t_incremental_dedup" -> (tIncrementalDedup _),
    "t_incremental_dedup_indexed" -> (tIncrementalDedupIndexed _),
    "t_ngram_jaccard" -> (tNgramJaccard _),
    "t_simhash" -> (tSimhash _),
    "t_simhash_pairs" -> (tSimhashPairs _),
    "t_repetition" -> (tRepetition _),
    "t_bm25" -> (tBm25 _),
    "t_corpus_stats" -> (tCorpusStats _),
    "t_pii_redact" -> (tPiiRedact _),
    "t_dedup_groups" -> (tDedupGroups _),
    "t_dedup_groups_indexed" -> (tDedupGroupsIndexed _),
    "t_ingest_dedup_stream" -> (tIngestDedupStream _),
    "t_dedup_keep_best" -> (tDedupKeepBest _),
    // the LM gates hash exact-integer witnesses only: the library
    // score column (round(avg(log10),4), a transcendental-derived
    // double) drops before the driver hash so no 1-ULP JVM-vs-libm
    // divergence can ever flip it (the t_pmi_bigrams r7 incident);
    // the score's arithmetic is pinned in-JVM by CurationOpsSuite
    "t_unigram_logprob" ->
      ((s: SparkSession, d: String) =>
        tUnigramLogprob(s, d).drop("avg_logprob")),
    "t_bigram_lm" ->
      ((s: SparkSession, d: String) => tBigramLm(s, d).drop("avg_logprob")),
    "t_bigram_lm_indexed" ->
      ((s: SparkSession, d: String) =>
        tBigramLmIndexed(s, d).drop("avg_logprob")),
    "t_sample_stratified" -> (tSampleStratified _),
    "t_mixture_sample" -> (tMixtureSample _),
    "t_shard_pack" -> (tShardPack _),
    "t_contamination" -> (tContamination _),
    "t_dup_span" -> (tDupSpan _),
    "t_filter_pipeline" -> (tFilterPipeline _),
    "t_ngram_novelty" -> (tNgramNovelty _),
    "t_ngram_novelty_indexed" -> (tNgramNoveltyIndexed _),
    "t_length_trim" -> (tLengthTrim _),
    "t_epoch_shuffle" -> (tEpochShuffle _),
    "t_source_cap" -> (tSourceCap _),
    "t_nfc_normalize" -> (tNfcNormalize _),
    "t_train_split" -> (tTrainSplit _),
    "t_tfidf" -> (tTfidf _),
    "mm_binary_meta" -> (mmBinaryMeta _),
    "mm_decode_audio" -> (mmDecodeAudio _),
    "mm_decode_image" -> (mmDecodeImage _),
    "mm_decode_jpeg" -> (mmDecodeJpeg _),
    "mm_frame_sample" -> (mmFrameSample _),
    "mm_resize_image" -> (mmResizeImage _),
    "mm_resize_jpeg" -> (mmResizeJpeg _),
  )

  /** Connected-components labels over the n-gram-Jaccard pair graph
    * (DuckDB recursive CTE) — shared by the in-memory gate and the
    * stored-index gate, whose storage round-trip must not change one
    * row. */
  private lazy val dedupGroupsSql: String =
    s"""WITH RECURSIVE p0 AS (
       |  SELECT doc_id, unnest(sh) AS shingle
       |  FROM (SELECT doc_id, $shSql AS sh
       |        FROM (SELECT doc_id, $tokSql AS t FROM documents))),
       |p1 AS (SELECT doc_id, shingle,
       |         count(*) OVER (PARTITION BY shingle) AS dfreq FROM p0),
       |p AS (SELECT doc_id, shingle,
       |        count(*) OVER (PARTITION BY doc_id) AS n_sh
       |      FROM p1 WHERE dfreq <= 100),
       |prs AS (
       |  SELECT doc_a, doc_b
       |  FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |          a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
       |        FROM p a JOIN p b ON a.shingle = b.shingle
       |          AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2, 3, 4)
       |  WHERE round(inter::DOUBLE / (na + nb - inter), 4) >= 0.6),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
       |          UNION SELECT doc_b, doc_a FROM prs),
       |reach AS (
       |  SELECT doc_id AS src, doc_id AS dst FROM documents
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst)
       |SELECT src AS doc_id, min(dst) AS group_id
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "t_dedup_exact" ->
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS keep_id,
        |  count(*) OVER (PARTITION BY md5(lower(trim(text)))) AS group_size
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_chunk" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS t FROM documents),
         |st AS (SELECT doc_id, t,
         |         unnest(range(0, len(t), 48)) AS chunk_start FROM tk)
         |SELECT doc_id, chunk_start,
         |  len(t[chunk_start+1 : chunk_start+64]) AS chunk_tokens,
         |  md5(array_to_string(t[chunk_start+1 : chunk_start+64], ' '))
         |    AS chunk_digest
         |FROM st ORDER BY doc_id, chunk_start""".stripMargin,
    "t_chunk_dedup" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS t FROM documents),
         |st AS (SELECT doc_id, t,
         |         unnest(range(0, len(t), 48)) AS chunk_start FROM tk),
         |ch AS (SELECT doc_id, chunk_start,
         |         md5(array_to_string(t[chunk_start+1 : chunk_start+64], ' '))
         |           AS chunk_digest
         |       FROM st)
         |SELECT chunk_digest, count(*)::BIGINT AS n_copies,
         |  count(DISTINCT doc_id)::BIGINT AS n_docs,
         |  min(doc_id) AS keep_doc_id, min(chunk_start)::BIGINT AS min_start
         |FROM ch GROUP BY chunk_digest HAVING count(*) >= 2
         |ORDER BY chunk_digest""".stripMargin,
    "t_boilerplate" ->
      s"""WITH tk AS (SELECT doc_id, source, $tokSql AS t FROM documents),
         |par AS (
         |  SELECT doc_id, source,
         |    len(t[p0+1 : p0+16]) AS n_tok,
         |    md5(array_to_string(t[p0+1 : p0+16], ' ')) AS digest
         |  FROM (SELECT doc_id, source, t,
         |          unnest(range(0, len(t), 16)) AS p0 FROM tk)),
         |srcdocs AS (
         |  SELECT source, count(DISTINCT doc_id)::BIGINT AS src_docs
         |  FROM documents GROUP BY source),
         |boiler AS (
         |  SELECT f.source, f.digest FROM (
         |    SELECT source, digest,
         |      count(DISTINCT doc_id)::BIGINT AS n_docs_with
         |    FROM par GROUP BY source, digest) f
         |  JOIN srcdocs s USING (source)
         |  WHERE f.n_docs_with >= greatest(2, (s.src_docs + 19) // 20))
         |SELECT p.doc_id, p.source, count(*) AS n_par,
         |  sum(CASE WHEN b.digest IS NOT NULL THEN 1 ELSE 0 END)
         |    ::BIGINT AS n_boiler,
         |  sum(CASE WHEN b.digest IS NULL THEN p.n_tok ELSE 0 END)
         |    ::BIGINT AS kept_tokens
         |FROM par p
         |LEFT JOIN boiler b ON b.source = p.source AND b.digest = p.digest
         |GROUP BY p.doc_id, p.source
         |ORDER BY p.doc_id""".stripMargin,
    "t_token_stats" ->
      s"""SELECT doc_id, len(t) AS n_tokens,
         |  len(list_distinct(t)) AS n_uniq_tokens,
         |  floor((200.0*length(array_to_string(t,'')) + len(t)) /
         |    (2*len(t))) / 100.0 AS avg_tok_len
         |FROM (SELECT doc_id, $tokSql AS t FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "t_token_bpe" ->
      raw"""SELECT doc_id, len(b) AS n_bpe,
         |  len(list_filter(b, x -> regexp_matches(x, '^[a-z]+$$')))
         |    AS n_word,
         |  len(list_filter(b, x -> regexp_matches(x, '^[0-9]+$$')))
         |    AS n_num,
         |  len(list_distinct(b)) AS n_uniq
         |FROM (SELECT doc_id, regexp_extract_all(lower(text),
         |        '[a-z]+|[0-9]+|[^a-z0-9\s]+') AS b FROM documents)
         |ORDER BY doc_id""".stripMargin,
    // the BPE trainer's iteration-1 pair statistics: char-split each
    // distinct word, append the </w> terminal, count freq-weighted
    // adjacencies — list_zip of the two shifted slices mirrors the
    // Spark zip_with exactly
    "t_bpe_pairs" ->
      """WITH w0 AS (SELECT unnest(regexp_extract_all(lower(text),
        |        '[a-z]+', 0)) AS w FROM documents),
        |f AS (SELECT w, count(*)::BIGINT AS freq FROM w0 GROUP BY w),
        |s AS (SELECT freq, list_append(string_split(w, ''), '</w>')
        |        AS syms FROM f),
        |p AS (SELECT freq, unnest(list_zip(syms[1:len(syms)-1],
        |        syms[2:len(syms)])) AS pr FROM s)
        |SELECT pr[1] AS l, pr[2] AS r, sum(freq)::BIGINT AS cnt
        |FROM p GROUP BY 1, 2 ORDER BY l, r""".stripMargin,
    // SELF-ORACLES (committed fixtures), not DuckDB re-derivations:
    // the greedy adjacent-merge fold is not SQL-expressible, so the
    // merge tables — independently pinned bit-equal to an in-JVM
    // reference implementation in BpeSuite, with iteration-1 pair
    // stats fully oracled above — are committed as VALUES fixtures
    // dispatched on a corpus fingerprint (sum(length(text))), one
    // block per known testdata sf. A content regression in either
    // trainer now turns the DRIVER gate red instead of passing the
    // old rows-only check. Regenerate after an intentional trainer
    // change with tools/gen_bpe_oracle.py (an unknown sf matches no
    // block and fails loudly — add its fixture the same way).
    "t_bpe_train" -> (
        "SELECT rank::INTEGER AS rank, l AS \"left\", r AS \"right\", c::BIGINT A" +
        "S pair_count FROM (VALUES (1,'e','r',4650),(2,'e','</w>',4644),(3,'n" +
        "','</w>',2898),(4,'o','r',2880),(5,'t','</w>',2850),(6,'er','</w>',2" +
        "781),(7,'o','w',2763),(8,'ow','</w>',2763),(9,'l','u',1928),(10,'i'," +
        "'n',1922),(11,'y','</w>',1879),(12,'a','r',1873),(13,'p','ar',1873)," +
        "(14,'g','</w>',1843),(15,'a','s',1836),(16,'h','</w>',1833)) fix(ran" +
        "k, l, r, c) WHERE (SELECT sum(length(text)) FROM documents) = 153156" +
        " UNION ALL SELECT rank::INTEGER AS rank, l AS \"left\", r AS \"right\", " +
        "c::BIGINT AS pair_count FROM (VALUES (1,'e','r',4568),(2,'e','</w>'," +
        "4473),(3,'n','</w>',2834),(4,'er','</w>',2779),(5,'o','w',2747),(6,'" +
        "ow','</w>',2747),(7,'o','r',2696),(8,'s','t',2676),(9,'h','</w>',188" +
        "4),(10,'a','t',1845),(11,'l','u',1831),(12,'i','n',1796),(13,'a','</" +
        "w>',1788),(14,'g','</w>',1777),(15,'y','</w>',1767),(16,'a','r',1758" +
        ")) fix(rank, l, r, c) WHERE (SELECT sum(length(text)) FROM documents" +
        ") = 149174 ORDER BY rank"),
    "t_bpe_train_driver" -> (
        "SELECT rank::INTEGER AS rank, l AS \"left\", r AS \"right\", c::BIGINT A" +
        "S pair_count FROM (VALUES (1,'e','r',4650),(2,'e','</w>',4644),(3,'n" +
        "','</w>',2898),(4,'o','r',2880),(5,'t','</w>',2850),(6,'er','</w>',2" +
        "781),(7,'o','w',2763),(8,'ow','</w>',2763),(9,'l','u',1928),(10,'i'," +
        "'n',1922),(11,'y','</w>',1879),(12,'a','r',1873),(13,'p','ar',1873)," +
        "(14,'g','</w>',1843),(15,'a','s',1836),(16,'h','</w>',1833),(17,'a'," +
        "'</w>',1827),(18,'s','t',1808),(19,'a','t',1806),(20,'a','n</w>',984" +
        "),(21,'c','an</w>',984),(22,'s','can</w>',984),(23,'c','o',978),(24," +
        "'co','lu',978),(25,'colu','m',978),(26,'colum','n</w>',978),(27,'d'," +
        "'ow</w>',976),(28,'in','dow</w>',976),(29,'w','indow</w>',976),(30,'" +
        "d','er</w>',975),(31,'or','der</w>',975),(32,'or','t</w>',974),(33,'" +
        "s','ort</w>',974),(34,'p','</w>',963),(35,'par','t</w>',963),(36,'u'" +
        ",'p</w>',963),(37,'a','g',953),(38,'ag','g</w>',953),(39,'a','lu',95" +
        "0),(40,'alu','e</w>',950),(41,'v','alue</w>',950),(42,'in','e</w>',9" +
        "46),(43,'l','ine</w>',946),(44,'e','y</w>',945),(45,'k','ey</w>',945" +
        "),(46,'i','n</w>',936),(47,'j','o',936),(48,'jo','in</w>',936),(49,'" +
        "er','g',935),(50,'erg','e</w>',935),(51,'m','erge</w>',935),(52,'er'" +
        ",'y</w>',934),(53,'g','r',934),(54,'gr','o',934),(55,'gro','up</w>'," +
        "934),(56,'q','u',934),(57,'qu','ery</w>',934),(58,'c','t',931),(59,'" +
        "ct','or',931),(60,'ctor','</w>',931),(61,'e','ctor</w>',931),(62,'v'" +
        ",'ector</w>',931),(63,'as','h</w>',923),(64,'h','ash</w>',923),(65,'" +
        "l','ow</w>',921),(66,'s','low</w>',921),(67,'a','m',919),(68,'am','<" +
        "/w>',919),(69,'e','am</w>',919),(70,'r','eam</w>',919),(71,'st','rea" +
        "m</w>',919),(72,'f','i',917),(73,'fi','l',917),(74,'fil','t',917),(7" +
        "5,'filt','er</w>',917),(76,'as','t</w>',913),(77,'f','ast</w>',913)," +
        "(78,'at','c',910),(79,'atc','h</w>',910),(80,'b','atch</w>',910),(81" +
        ",'h','e</w>',910),(82,'k','</w>',910),(83,'par','k</w>',910),(84,'s'" +
        ",'park</w>',910),(85,'t','he</w>',910),(86,'a','b',903),(87,'ab','l'" +
        ",903),(88,'abl','e</w>',903),(89,'t','able</w>',903),(90,'a','l',898" +
        "),(91,'al','l',898),(92,'all','</w>',898),(93,'m','all</w>',898),(94" +
        ",'s','mall</w>',898),(95,'at','a</w>',896),(96,'d','ata</w>',896),(9" +
        "7,'b','i',890),(98,'bi','g</w>',890),(99,'c','u',889),(100,'cu','st'" +
        ",889),(101,'cust','o',889),(102,'custo','m',889),(103,'custom','er</" +
        "w>',889),(104,'r','ow</w>',866),(105,'d','up</w>',29)) fix(rank, l, " +
        "r, c) WHERE (SELECT sum(length(text)) FROM documents) = 153156 UNION" +
        " ALL SELECT rank::INTEGER AS rank, l AS \"left\", r AS \"right\", c::BIG" +
        "INT AS pair_count FROM (VALUES (1,'e','r',4568),(2,'e','</w>',4473)," +
        "(3,'n','</w>',2834),(4,'er','</w>',2779),(5,'o','w',2747),(6,'ow','<" +
        "/w>',2747),(7,'o','r',2696),(8,'s','t',2676),(9,'h','</w>',1884),(10" +
        ",'a','t',1845),(11,'l','u',1831),(12,'i','n',1796),(13,'a','</w>',17" +
        "88),(14,'g','</w>',1777),(15,'y','</w>',1767),(16,'a','r',1758),(17," +
        "'p','ar',1758),(18,'t','</w>',1750),(19,'i','n</w>',964),(20,'j','o'" +
        ",964),(21,'jo','in</w>',964),(22,'a','s',947),(23,'as','h</w>',947)," +
        "(24,'h','ash</w>',947),(25,'r','ow</w>',943),(26,'at','c',937),(27,'" +
        "atc','h</w>',937),(28,'b','atch</w>',937),(29,'a','n</w>',936),(30,'" +
        "c','an</w>',936),(31,'s','can</w>',936),(32,'c','o',934),(33,'c','u'" +
        ",934),(34,'co','lu',934),(35,'colu','m',934),(36,'colum','n</w>',934" +
        "),(37,'cu','st',934),(38,'cust','o',934),(39,'custo','m',934),(40,'c" +
        "ustom','er</w>',934),(41,'f','i',933),(42,'fi','l',933),(43,'fil','t" +
        "',933),(44,'filt','er</w>',933),(45,'a','l',928),(46,'al','l',928),(" +
        "47,'all','</w>',928),(48,'m','all</w>',928),(49,'s','mall</w>',928)," +
        "(50,'er','g',918),(51,'erg','e</w>',918),(52,'l','ow</w>',918),(53,'" +
        "m','erge</w>',918),(54,'s','low</w>',918),(55,'c','t',912),(56,'ct'," +
        "'or',912),(57,'ctor','</w>',912),(58,'d','er</w>',912),(59,'e','ctor" +
        "</w>',912),(60,'or','der</w>',912),(61,'v','ector</w>',912),(62,'in'" +
        ",'e</w>',910),(63,'l','ine</w>',910),(64,'a','b',908),(65,'ab','l',9" +
        "08),(66,'abl','e</w>',908),(67,'at','a</w>',908),(68,'d','ata</w>',9" +
        "08),(69,'t','able</w>',908),(70,'p','</w>',904),(71,'u','p</w>',904)" +
        ",(72,'a','g',901),(73,'ag','g</w>',901),(74,'a','lu',897),(75,'alu'," +
        "'e</w>',897),(76,'v','alue</w>',897),(77,'e','y</w>',896),(78,'k','e" +
        "y</w>',896),(79,'a','m',888),(80,'am','</w>',888),(81,'e','am</w>',8" +
        "88),(82,'r','eam</w>',888),(83,'st','ream</w>',888),(84,'d','ow</w>'" +
        ",886),(85,'in','dow</w>',886),(86,'w','indow</w>',886),(87,'k','</w>" +
        "',880),(88,'par','k</w>',880),(89,'s','park</w>',880),(90,'g','r',87" +
        "8),(91,'gr','o',878),(92,'gro','up</w>',878),(93,'par','t</w>',878)," +
        "(94,'b','i',876),(95,'bi','g</w>',876),(96,'or','t</w>',872),(97,'s'" +
        ",'ort</w>',872),(98,'er','y</w>',871),(99,'q','u',871),(100,'qu','er" +
        "y</w>',871),(101,'a','st',854),(102,'ast','</w>',854),(103,'f','ast<" +
        "/w>',854),(104,'h','e</w>',840),(105,'t','he</w>',840),(106,'d','up<" +
        "/w>',26)) fix(rank, l, r, c) WHERE (SELECT sum(length(text)) FROM do" +
        "cuments) = 149174 ORDER BY rank"),
    "t_pmi_bigrams" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter($tokSql, x -> x <> '') AS t
         |  FROM documents),
         |uc AS (SELECT tok, count(*)::BIGINT AS c
         |       FROM (SELECT unnest(t) AS tok FROM tk) GROUP BY tok),
         |bc AS (SELECT bg, count(*)::BIGINT AS cab
         |       FROM (SELECT unnest(list_transform(range(1, len(t)),
         |                      i -> t[i] || ' ' || t[i+1])) AS bg
         |             FROM tk) GROUP BY bg),
         |tot AS (SELECT (SELECT sum(c) FROM uc)::BIGINT AS n,
         |               (SELECT sum(cab) FROM bc)::BIGINT AS m)
         |SELECT b.bg, b.cab, ua.c AS ca, ub.c AS cb, t.n, t.m
         |FROM bc b
         |CROSS JOIN tot t
         |JOIN uc ua ON ua.tok = split_part(b.bg, ' ', 1)
         |JOIN uc ub ON ub.tok = split_part(b.bg, ' ', 2)
         |WHERE b.cab >= 5
         |ORDER BY bg""".stripMargin,
    "t_quality_score" ->
      s"""SELECT doc_id, n_tokens, stop_ratio, lexical_div,
         |  round(0.4*stop_ratio + 0.6*lexical_div, 4) AS quality
         |FROM (SELECT doc_id, len(t) AS n_tokens,
         |   round(len(list_filter(t, x -> x IN ('the','a','and','of','to',
         |     'in','is','on','for','with')))::DOUBLE / len(t), 4)
         |     AS stop_ratio,
         |   round(len(list_distinct(t))::DOUBLE / len(t), 4) AS lexical_div
         | FROM (SELECT doc_id, $tokSql AS t FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "t_lang_id" ->
      s"""SELECT doc_id, s_en, s_de, s_fr, s_es,
         |  CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr
         |            AND s_en >= s_es THEN 'en'
         |       WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
         |       WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
         |       WHEN s_es > 0 THEN 'es'
         |       ELSE 'und' END AS predicted_lang
         |FROM (SELECT doc_id,
         |   len(list_filter(t, x -> x IN ('the','and','of','to','is'))) AS s_en,
         |   len(list_filter(t, x -> x IN ('der','die','das','und','ist'))) AS s_de,
         |   len(list_filter(t, x -> x IN ('le','les','et','des','une'))) AS s_fr,
         |   len(list_filter(t, x -> x IN ('el','los','las','y','como'))) AS s_es
         | FROM (SELECT doc_id, $tokSql AS t FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "t_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(t)), ' '))
         |    AS fingerprint
         |FROM (SELECT doc_id, $tokSql AS t FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "t_minhash_pairs" ->
      s"""$minhashCandCte
         |SELECT doc_a, doc_b, est_jaccard FROM mh_cand
         |ORDER BY doc_a, doc_b""".stripMargin,
    "t_incremental_dedup" -> incrementalDedupSql,
    // the stored-index probe must return the identical rows: the lake
    // round-trip changes where candidates come from, not what they are
    "t_incremental_dedup_indexed" -> incrementalDedupSql,
    "t_ngram_jaccard" ->
      s"""WITH p0 AS (
         |  SELECT doc_id, unnest(sh) AS shingle
         |  FROM (SELECT doc_id, $shSql AS sh
         |        FROM (SELECT doc_id, $tokSql AS t FROM documents))),
         |p1 AS (SELECT doc_id, shingle,
         |         count(*) OVER (PARTITION BY shingle) AS dfreq FROM p0),
         |p AS (SELECT doc_id, shingle,
         |        count(*) OVER (PARTITION BY doc_id) AS n_sh
         |      FROM p1 WHERE dfreq <= 100)
         |SELECT doc_a, doc_b,
         |  round(inter::DOUBLE / (na + nb - inter), 4) AS jaccard
         |FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
         |      FROM p a JOIN p b ON a.shingle = b.shingle
         |        AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2, 3, 4)
         |WHERE round(inter::DOUBLE / (na + nb - inter), 4) >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin,
    "t_simhash" ->
      s"""SELECT doc_id,
         |  list_reduce([0] || list_transform(range(1,17), pos ->
         |    CASE WHEN list_sum(list_transform(td, t ->
         |      CASE WHEN substr(md5(t), pos::INT, 1) IN
         |        ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END)) > 0
         |      THEN 1 ELSE 0 END), (a, b) -> a*2 + b) AS simhash
         |FROM (SELECT doc_id, list_distinct($tokSql) AS td FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "t_simhash_pairs" ->
      s"""WITH sh AS (
         |  SELECT doc_id, $shSql AS sh
         |  FROM (SELECT doc_id, $tokSql AS t FROM documents)),
         |tw AS (
         |  SELECT doc_id, list_transform(range(4), k ->
         |    ('0x' || substr(md5(sh1), (k*8+1)::INT, 8))::BIGINT) AS wd
         |  FROM (SELECT doc_id, unnest(sh) AS sh1 FROM sh)),
         |vt AS (
         |  SELECT doc_id, count(*)::BIGINT AS n,
         |    $simhashVoteSqlCols
         |  FROM tw GROUP BY doc_id),
         |sig AS (
         |  SELECT doc_id, [$simhashBandSqlCols] AS sig FROM vt),
         |banded AS (SELECT doc_id, sig, unnest(range(4)) AS band FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.sig AS sa, b.sig AS sb
         |  FROM banded a JOIN banded b ON a.band = b.band
         |    AND a.sig[(a.band+1)::INT] = b.sig[(b.band+1)::INT]
         |    AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, hamming FROM (
         |  SELECT doc_a, doc_b,
         |    list_sum(list_transform(range(4),
         |      i -> bit_count(xor(sa[(i+1)::INT], sb[(i+1)::INT]))))::BIGINT
         |      AS hamming
         |  FROM cand)
         |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    "t_repetition" ->
      s"""WITH tc AS (
         |  SELECT doc_id, tok, count(*)::BIGINT AS c
         |  FROM (SELECT doc_id, unnest($tokSql) AS tok FROM documents)
         |  WHERE tok <> '' GROUP BY doc_id, tok),
         |st AS (
         |  SELECT doc_id, sum(c)::BIGINT AS n_tokens,
         |    count(*)::BIGINT AS n_distinct, max(c)::BIGINT AS top_count
         |  FROM tc GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  round(n_distinct::DOUBLE / n_tokens, 4) AS distinct_frac,
         |  round(top_count::DOUBLE / n_tokens, 4) AS top_tok_frac,
         |  CASE WHEN top_count::DOUBLE / n_tokens > 0.1 THEN 1 ELSE 0 END
         |    AS repetitive
         |FROM st ORDER BY doc_id""".stripMargin,
    "t_bm25" ->
      s"""WITH base AS (
         |  SELECT doc_id, len(t)::DOUBLE AS dl,
         |    len(list_filter(t, x -> x = 'spark'))::DOUBLE AS tf_spark,
         |    len(list_filter(t, x -> x = 'join'))::DOUBLE AS tf_join,
         |    len(list_filter(t, x -> x = 'data'))::DOUBLE AS tf_data
         |  FROM (SELECT doc_id, $tokSql AS t FROM documents)),
         |stats AS (
         |  SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
         |    sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_spark,
         |    sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_join,
         |    sum(CASE WHEN tf_data > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_data
         |  FROM base)
         |SELECT doc_id, dl::BIGINT AS n_tokens,
         |  round(
         |    ln((n - df_spark + 0.5)/(df_spark + 0.5) + 1) * tf_spark * 2.2 /
         |      (tf_spark + 1.2*(1 - 0.75 + 0.75*dl/avgdl)) +
         |    ln((n - df_join + 0.5)/(df_join + 0.5) + 1) * tf_join * 2.2 /
         |      (tf_join + 1.2*(1 - 0.75 + 0.75*dl/avgdl)) +
         |    ln((n - df_data + 0.5)/(df_data + 0.5) + 1) * tf_data * 2.2 /
         |      (tf_data + 1.2*(1 - 0.75 + 0.75*dl/avgdl)), 4) AS bm25
         |FROM base, stats ORDER BY doc_id""".stripMargin,
    "t_corpus_stats" ->
      """SELECT source, lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars,
        |  round(avg(n_chars), 2) AS avg_chars
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,
    "t_pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com from 10.0.' ||
        |      (doc_id % 256) || '.7 or 555-' ||
        |      lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-4821' AS planted
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(planted,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(planted,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        |  len(regexp_extract_all(planted,
        |    '\b\d{3}-\d{3}-\d{4}\b')) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(planted,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g')) AS redacted_md5
        |FROM aug ORDER BY doc_id""".stripMargin,
    "t_dedup_groups" -> dedupGroupsSql,
    // the stored index must reproduce the full-corpus labels exactly:
    // build (even corpus) + refresh (odd batch) shares the in-memory
    // gate's oracle verbatim
    "t_dedup_groups_indexed" -> dedupGroupsSql,
    // the streaming twin answers to the SAME truth: build + two real
    // micro-batch epochs must land exactly the one-shot labels
    "t_ingest_dedup_stream" -> dedupGroupsSql,
    "t_dedup_keep_best" ->
      s"""WITH RECURSIVE p0 AS (
         |  SELECT doc_id, unnest(sh) AS shingle
         |  FROM (SELECT doc_id, $shSql AS sh
         |        FROM (SELECT doc_id, $tokSql AS t FROM documents))),
         |p1 AS (SELECT doc_id, shingle,
         |         count(*) OVER (PARTITION BY shingle) AS dfreq FROM p0),
         |p AS (SELECT doc_id, shingle,
         |        count(*) OVER (PARTITION BY doc_id) AS n_sh
         |      FROM p1 WHERE dfreq <= 100),
         |prs AS (
         |  SELECT doc_a, doc_b
         |  FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |          a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
         |        FROM p a JOIN p b ON a.shingle = b.shingle
         |          AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2, 3, 4)
         |  WHERE round(inter::DOUBLE / (na + nb - inter), 4) >= 0.6),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
         |          UNION SELECT doc_b, doc_a FROM prs),
         |reach AS (
         |  SELECT doc_id AS src, doc_id AS dst FROM documents
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
         |grp AS (SELECT src AS doc_id, min(dst) AS group_id
         |        FROM reach GROUP BY src),
         |q AS (SELECT doc_id,
         |        round(0.4*stop_ratio + 0.6*lexical_div, 4) AS quality
         |      FROM (SELECT doc_id,
         |         round(len(list_filter(t, x -> x IN ('the','a','and',
         |           'of','to','in','is','on','for','with')))::DOUBLE
         |           / len(t), 4) AS stop_ratio,
         |         round(len(list_distinct(t))::DOUBLE / len(t), 4)
         |           AS lexical_div
         |       FROM (SELECT doc_id, $tokSql AS t FROM documents))),
         |r AS (SELECT g.group_id, g.doc_id, q.quality,
         |        row_number() OVER (PARTITION BY g.group_id
         |          ORDER BY q.quality DESC NULLS LAST, g.doc_id) AS rk,
         |        count(*) OVER (PARTITION BY g.group_id) AS n_members
         |      FROM grp g JOIN q USING (doc_id))
         |SELECT group_id, doc_id AS kept_doc_id, quality, n_members
         |FROM r WHERE rk = 1 ORDER BY group_id""".stripMargin,
    // integer witnesses only (sum/max must ::BIGINT-cast — DuckDB
    // sums BIGINT into HUGEINT, which hash-mismatches Spark's int64)
    "t_unigram_logprob" ->
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(t) AS tok
         |  FROM (SELECT doc_id, $tokSql AS t FROM documents)),
         |tf AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok)
         |SELECT t.doc_id, count(*) AS n_tokens,
         |  sum(f.c)::BIGINT AS sum_tf, max(f.c)::BIGINT AS max_tf
         |FROM tk t JOIN tf f USING (tok)
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "t_bigram_lm" -> bigramLmSql,
    // the stored-model gate shares the oracle verbatim: counts are
    // additive, so build-on-evens + merged odd batch IS the one-shot
    // model — the storage round-trip must not change one row
    "t_bigram_lm_indexed" -> bigramLmSql,
    "t_sample_stratified" ->
      """SELECT doc_id, lang, source, bucket
        |FROM (SELECT doc_id, lang, source,
        |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100
        |          AS bucket
        |      FROM documents)
        |WHERE bucket < CASE WHEN lang = 'en' THEN 60
        |                    WHEN lang IN ('de','fr') THEN 30
        |                    ELSE 10 END
        |ORDER BY doc_id""".stripMargin,
    "t_mixture_sample" ->
      """WITH c AS (
        |  SELECT lang, count(*)::BIGINT AS cnt,
        |    (CASE WHEN lang = 'en' THEN 10
        |          WHEN lang IN ('de','fr') THEN 3
        |          WHEN lang IN ('es','zh') THEN 2
        |          ELSE 0 END)::BIGINT AS parts
        |  FROM documents GROUP BY lang),
        |tt AS (SELECT min(cnt * 20 // parts)::BIGINT AS t
        |       FROM c WHERE parts > 0),
        |r AS (SELECT lang,
        |        ((t * parts // 20)::DOUBLE / cnt::DOUBLE)
        |          * 4503599627370496.0 AS thr
        |      FROM c CROSS JOIN tt WHERE parts > 0)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 13))
        |        ::BIGINT::DOUBLE < r.thr
        |ORDER BY d.doc_id""".stripMargin,
    "t_shard_pack" ->
      s"""SELECT doc_id, source, n_tokens,
         |  (start_tok // 4096)::BIGINT AS shard_id
         |FROM (SELECT doc_id, source, n_tokens,
         |        coalesce(sum(n_tokens) OVER (PARTITION BY source
         |          ORDER BY doc_id) - n_tokens, 0) AS start_tok
         |      FROM (SELECT doc_id, source, len($tokSql) AS n_tokens
         |            FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "t_contamination" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(sh) AS shingle
         |  FROM (SELECT doc_id, $shSql AS sh
         |        FROM (SELECT doc_id, $tokSql AS t FROM documents))),
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
         |SELECT s.doc_id, count(*)::BIGINT AS n_overlap
         |FROM sh s JOIN bench b ON s.shingle = b.shingle
         |WHERE s.doc_id % 97 <> 0
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    "t_dup_span" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS t FROM documents),
         |g AS (SELECT doc_id, unnest(range(1, len(t) - 3)) AS pos, t
         |      FROM tk WHERE len(t) >= 5),
         |gr AS (SELECT doc_id, pos,
         |         md5(array_to_string(t[pos : pos+4], ' ')) AS gram FROM g),
         |ct AS (SELECT doc_id, pos,
         |         count(*) OVER (PARTITION BY gram) AS cnt FROM gr),
         |dp AS (SELECT doc_id, pos,
         |         lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |       FROM ct WHERE cnt >= 2),
         |agg AS (SELECT doc_id, count(*)::BIGINT AS n_dup_grams,
         |          sum(least(5, coalesce(nxt - pos, 5)))::BIGINT AS dup_tokens
         |        FROM dp GROUP BY doc_id)
         |SELECT tk.doc_id, len(t)::BIGINT AS n_tokens,
         |  greatest(len(t) - 4, 0)::BIGINT AS n_grams,
         |  coalesce(n_dup_grams, 0)::BIGINT AS n_dup_grams,
         |  coalesce(dup_tokens, 0)::BIGINT AS dup_tokens,
         |  round(coalesce(dup_tokens, 0) * 1.0 / len(t), 4) AS dup_ratio
         |FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id
         |ORDER BY tk.doc_id""".stripMargin,
    "t_tfidf" ->
      s"""WITH tf AS (
         |  SELECT doc_id, n, tok, count(*) AS c
         |  FROM (SELECT doc_id, len(t) AS n, unnest(t) AS tok
         |        FROM (SELECT doc_id, $tokSql AS t FROM documents))
         |  GROUP BY doc_id, n, tok),
         |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |total AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT doc_id, tok AS top_term, c AS tf, df,
         |  round((c * ln(n_docs::DOUBLE / df)) / n, 4) AS tfidf
         |FROM (
         |  SELECT tf.*, dfreq.df, total.n_docs,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY df ASC, c DESC, tok ASC) AS rk
         |  FROM tf JOIN dfreq USING (tok) CROSS JOIN total)
         |WHERE rk = 1
         |ORDER BY doc_id""".stripMargin,
    "t_filter_pipeline" ->
      s"""WITH tk AS (SELECT source, $tokSql AS t FROM documents),
         |sg AS (SELECT source, len(t) AS n,
         |         len(list_distinct(t)) * 1.0 / len(t) AS dv,
         |         len(list_filter(t, x -> list_contains(
         |           ['the','a','and','of','to','in','is','on','for','with'],
         |           x))) AS n_stop
         |       FROM tk)
         |SELECT source,
         |  CASE WHEN n < 20 THEN 'too_short'
         |       WHEN dv < 0.5 THEN 'low_diversity'
         |       WHEN n_stop = 0 THEN 'no_stopwords'
         |       ELSE 'keep' END AS reason,
         |  count(*) AS n_docs, sum(n)::BIGINT AS sum_tokens
         |FROM sg GROUP BY 1, 2 ORDER BY source, reason""".stripMargin,
    "t_ngram_novelty" -> ngramNoveltySql,
    // the stored-DF gate shares the oracle verbatim: document
    // frequencies are additive over disjoint doc sets, so
    // build-on-evens + merged odd batch IS the one-shot DF table
    "t_ngram_novelty_indexed" -> ngramNoveltySql,
    "t_length_trim" ->
      """WITH h AS (SELECT lang, n_chars, count(*) AS c
        |           FROM documents GROUP BY lang, n_chars),
        |cum AS (SELECT lang, n_chars,
        |          sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
        |          sum(c) OVER (PARTITION BY lang) AS n
        |        FROM h),
        |th AS (SELECT lang,
        |         min(CASE WHEN 100*cum >= 5*n THEN n_chars END) AS lo,
        |         min(CASE WHEN 100*cum >= 95*n THEN n_chars END) AS hi
        |       FROM cum GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d JOIN th USING (lang)
        |WHERE d.n_chars BETWEEN th.lo AND th.hi
        |ORDER BY d.doc_id""".stripMargin,
    "t_epoch_shuffle" ->
      """WITH k AS (SELECT doc_id,
        |             md5('epoch-7:' || doc_id::VARCHAR) AS key
        |           FROM documents),
        |s AS (SELECT doc_id, key,
        |        ('0x' || substr(key, 1, 15))::BIGINT % 32 AS shard
        |      FROM k)
        |SELECT doc_id, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY key, doc_id) AS pos
        |FROM s ORDER BY doc_id""".stripMargin,
    "t_source_cap" ->
      """SELECT doc_id, source, n_chars, rk FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY doc_id""".stripMargin,
    "t_nfc_normalize" ->
      """WITH x AS (SELECT doc_id,
        |    text || ' Cafee' || chr(769) ||
        |    ' A' || chr(778) || 'ngstro' || chr(776) || 'm' AS denorm
        |  FROM documents),
        |n AS (SELECT doc_id, denorm, nfc_normalize(denorm) AS norm FROM x)
        |SELECT doc_id, length(denorm)::BIGINT AS n_before,
        |  length(norm)::BIGINT AS n_after, md5(norm) AS digest
        |FROM n ORDER BY doc_id""".stripMargin,
    "t_train_split" ->
      """WITH k AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5('split-1:' || doc_id::VARCHAR), 1, 15))
        |      ::BIGINT % 10 AS bucket
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN bucket < 8 THEN 'train'
        |       WHEN bucket = 8 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM k ORDER BY doc_id""".stripMargin,
    "mm_binary_meta" ->
      """SELECT doc_id, octet_length(text::BLOB) AS byte_len,
        |  lower(hex(substr(text,1,4)::BLOB)) AS magic,
        |  sha256(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the multimodal oracles derive the DECODED content from the pixel
    // formula (PNG/TIFF are lossless): same dims, channel count, and
    // position-weighted digest the executor computes from the raster
    // the real ImageIO kernels decode — a codec bug or channel swap
    // breaks the hash
    // WAV PCM is lossless: the oracle rebuilds the decoded waveform's
    // position-weighted digest from the sample formula, exactly the
    // mm_decode_image discipline ((v + 32768) == the pre-offset
    // modulus, so no negative-% divergence between engines)
    "mm_decode_audio" ->
      """WITH dims AS (
        |  SELECT doc_id, 120 + (doc_id % 8) * 20 AS n FROM documents),
        |cells AS (
        |  SELECT doc_id, n, ss.i, cc.ch
        |  FROM dims, range(0, 260) ss(i), range(0, 2) cc(ch)
        |  WHERE ss.i < n)
        |SELECT doc_id, 8000::BIGINT AS sample_rate, 2::BIGINT AS channels,
        |  n AS n_samples,
        |  SUM(((doc_id*31 + ch*17 + i*7919) % 65536) *
        |      (1 + i*31 + ch*7))::BIGINT AS sample_digest
        |FROM cells GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,
    "mm_decode_image" ->
      """WITH dims AS (
        |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id, w, h, xs.x, ys.y
        |  FROM dims, range(0, 16) xs(x), range(0, 13) ys(y)
        |  WHERE xs.x < w AND ys.y < h)
        |SELECT doc_id, w AS width, h AS height, 3::BIGINT AS channels,
        |  SUM(((doc_id*7 + x*13 + y*17) % 256 * 65536 +
        |       (doc_id*11 + x*5 + y*3) % 256 * 256 +
        |       (doc_id*13 + x*3 + y*31) % 256) *
        |      (1 + x*31 + y*7))::BIGINT AS pix_digest
        |FROM cells GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,
    // lossy-safe witnesses only: structure is exact under JPEG
    // (dims/channels from the generation formula), content is pinned
    // by the Spark-side error bound whose verdict must be 1 for every
    // row — the oracle hashes the verdict, the lossless digest
    // discipline stays with the PNG/TIFF gates
    "mm_decode_jpeg" ->
      """SELECT doc_id, 4 + doc_id % 13 AS width, 3 + doc_id % 11 AS height,
        |  3::BIGINT AS channels, 1::BIGINT AS err_bounded
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      """WITH dims AS (
        |  SELECT doc_id, 2 + doc_id % 5 AS n FROM documents),
        |frames AS (
        |  SELECT doc_id, n, fs.f
        |  FROM dims, range(0, 6) fs(f) WHERE fs.f < n AND fs.f % 2 = 0),
        |cells AS (
        |  SELECT doc_id, n, f, xs.x, ys.y
        |  FROM frames, range(0, 5) xs(x), range(0, 4) ys(y))
        |SELECT doc_id, f AS frame_idx, n AS n_frames,
        |  SUM(((doc_id*7 + f*19 + x*13 + y*17) % 256 * 65536 +
        |       (doc_id*11 + f*23 + x*5 + y*3) % 256 * 256 +
        |       (doc_id*13 + f*29 + x*3 + y*31) % 256) *
        |      (1 + x*31 + y*7))::BIGINT AS frame_digest
        |FROM cells GROUP BY doc_id, f, n
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // resize-after-lossy-decode: like mm_decode_jpeg, the oracle
    // carries the structural witnesses (output dims are exact) and
    // hashes the Spark-side error-budget verdict, which must be 1
    // for every row
    "mm_resize_jpeg" ->
      """SELECT doc_id,
        |  greatest((4 + doc_id % 13) // 2, 1) AS out_w,
        |  greatest((3 + doc_id % 11) // 2, 1) AS out_h,
        |  1::BIGINT AS err_bounded
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_resize_image" ->
      """WITH dims AS (
        |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h,
        |    greatest((4 + doc_id % 13) // 2, 1) AS ow,
        |    greatest((3 + doc_id % 11) // 2, 1) AS oh
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id, ow, oh,
        |    xs.x, ys.y, (xs.x * w) // ow AS sx, (ys.y * h) // oh AS sy
        |  FROM dims, range(0, 8) xs(x), range(0, 6) ys(y)
        |  WHERE xs.x < ow AND ys.y < oh)
        |SELECT doc_id, ow AS out_w, oh AS out_h,
        |  SUM(((doc_id*7 + sx*13 + sy*17) % 256 * 65536 +
        |       (doc_id*11 + sx*5 + sy*3) % 256 * 256 +
        |       (doc_id*13 + sx*3 + sy*31) % 256) *
        |      (1 + x*31 + y*7))::BIGINT AS resize_digest
        |FROM cells GROUP BY doc_id, ow, oh ORDER BY doc_id""".stripMargin,
  )
}
