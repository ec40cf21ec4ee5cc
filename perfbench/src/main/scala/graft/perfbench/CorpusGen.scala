package graft.perfbench

import scala.collection.mutable

/** The seeded documents corpus of `curation_ingest`. Each document is
  * fresh text (uniform words from a large vocabulary, so unrelated
  * documents share no 3-word shingle), an exact copy of an earlier
  * document (share [[CorpusGen.ExactShare]]), or a near copy with one or
  * two words replaced (share [[CorpusGen.NearShare]], 3-shingle Jaccard
  * ≥ 0.6 to its source).
  * Pure: no Spark, so the suite can pin that a seed fixes the corpus. */
final class CorpusGen(seed: Long, val size: Int) {
  private val r = new java.util.SplittableRandom(seed)

  private def word(i: Int): String = "w" + Integer.toString(i, 36)
  private def fresh(): Array[String] =
    Array.fill(CorpusGen.MinWords + r.nextInt(CorpusGen.MaxWords - CorpusGen.MinWords + 1))(
      word(r.nextInt(CorpusGen.Vocab)))

  /** Document texts; doc_id = index + 1. */
  val texts: IndexedSeq[String] = {
    val docs = mutable.ArrayBuffer[Array[String]]()
    while (docs.size < size) {
      val x = r.nextDouble()
      docs += (
        if (docs.isEmpty || x >= CorpusGen.ExactShare + CorpusGen.NearShare) fresh()
        else {
          val src = docs(r.nextInt(docs.size))
          if (x < CorpusGen.ExactShare) src
          else {
            val d = src.clone()
            (1 to 1 + r.nextInt(2)).foreach(_ => d(r.nextInt(d.length)) = word(r.nextInt(CorpusGen.Vocab)))
            d
          }
        })
    }
    docs.map(_.mkString(" ")).toIndexedSeq
  }

  def docs(from: Int, until: Int): Seq[(Long, String)] =
    (from until until).map(i => (i + 1L, texts(i)))
}

object CorpusGen {
  val Vocab = 50000
  val MinWords = 40
  val MaxWords = 80
  val ExactShare = 0.10
  val NearShare = 0.15
  /** The engine's shingle document-frequency cap (TextOps.MaxShingleDf). */
  val MaxShingleDf = 100

  /** The one-shot full-corpus grouping the stored index must reproduce:
    * distinct 3-word shingles of the lower-cased whitespace tokens,
    * shingles in more than [[MaxShingleDf]] documents dropped, pairs
    * with Jaccard (rounded to 4 places) ≥ 0.6 joined, every document
    * labelled with the smallest doc_id of its connected component. */
  def groups(docs: Seq[(Long, String)]): Map[Long, Long] = {
    val sh: Map[Long, Set[String]] = docs.map { case (id, t) =>
      val w = t.trim.toLowerCase.split("\\s+")
      id -> (if (w.length < 3) Set.empty[String]
        else w.sliding(3).map(_.mkString(" ")).toSet)
    }.toMap
    val df = mutable.HashMap[String, Int]().withDefaultValue(0)
    sh.values.foreach(_.foreach(s => df(s) += 1))
    val capped = sh.map { case (id, s) => id -> s.filter(df(_) <= MaxShingleDf) }
    val post = mutable.HashMap[String, mutable.ArrayBuffer[Long]]()
    capped.foreach { case (id, s) => s.foreach(x => post.getOrElseUpdate(x, mutable.ArrayBuffer()) += id) }
    val inter = mutable.HashMap[(Long, Long), Int]().withDefaultValue(0)
    post.values.foreach { ids =>
      val s = ids.sorted
      for (i <- s.indices; j <- i + 1 until s.size) inter((s(i), s(j))) += 1
    }
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    inter.foreach { case ((a, b), n) =>
      val j = BigDecimal(n.toDouble / (capped(a).size + capped(b).size - n))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)
      if (j >= BigDecimal("0.6")) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
    }
    docs.map { case (id, _) => id -> find(id) }.toMap
  }
}
