package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** A seed fixes every input and op the engine receives. */
class GenSuite extends AnyFunSuite {

  private def dmlStream(seed: Long, n: Int): (Seq[Seq[Order]], Seq[DmlOp]) = {
    val g = new DmlGen(seed)
    (g.initial.toSeq, Seq.fill(n)(g.next()))
  }

  test("dml_churn: same seed, same initial rows and op stream") {
    assert(dmlStream(7, 500) == dmlStream(7, 500))
  }

  test("dml_churn: another seed, other rows and ops") {
    val (rowsA, opsA) = dmlStream(7, 200)
    val (rowsB, opsB) = dmlStream(8, 200)
    assert(rowsA != rowsB)
    assert(opsA != opsB)
  }

  test("dml_churn: every run has the same mix of op kinds") {
    def kinds(seed: Long) = dmlStream(seed, DmlGen.Cycle.size * 3)._2
      .map(_.getClass.getSimpleName)
    assert(kinds(1) == kinds(2))
  }

  test("dml_churn: the warm-up runs every op kind but the head read, then the cycle starts") {
    def cycle(g: DmlGen) = Seq.fill(DmlGen.Cycle.size)(g.next()).map(_.getClass.getSimpleName)
    val g = new DmlGen(4)
    val warm = g.warmUp().map(_.getClass.getSimpleName)
    val fresh = cycle(new DmlGen(4))
    assert(warm.toSet == fresh.toSet - "PointRead")
    assert(cycle(g) == fresh)
  }

  test("dml_churn: the model follows the stream") {
    val g = new DmlGen(3)
    val ops = Seq.fill(DmlGen.Cycle.size * 2)(g.next())
    val inserted = ops.collect {
      case DmlOp.Insert(0, rows) => rows.size
      case DmlOp.Merge(0, rows, matched) => rows.size - matched
    }.sum
    val deleted = ops.collect { case DmlOp.Delete(0, ids) => ids.size }.sum
    assert(g.models(0).size == DmlGen.InitialRows + inserted - deleted)
    // a time-travel read asks for a state the model recorded
    ops.collect { case t: DmlOp.TimeTravel => t }.foreach { t =>
      assert(t.back >= 1 && t.back <= DmlGen.TimeTravelDepth)
      assert(g.history(t.table).contains((t.count, t.sum)))
    }
  }

  test("curation_ingest: same seed, same corpus; another seed, another") {
    assert(new CorpusGen(5, 2000).texts == new CorpusGen(5, 2000).texts)
    assert(new CorpusGen(5, 2000).texts != new CorpusGen(6, 2000).texts)
  }

  test("curation_ingest: the corpus holds exact and near duplicates in its set shares") {
    val c = new CorpusGen(11, 4000)
    val exact = c.texts.size - c.texts.distinct.size
    assert(math.abs(exact.toDouble / c.texts.size - CorpusGen.ExactShare) < 0.03)
    val groups = CorpusGen.groups(c.docs(0, c.size))
    val grouped = groups.count { case (id, g) => id != g }
    // exact and near copies land in their source's group
    assert(grouped.toDouble / c.size > CorpusGen.ExactShare + CorpusGen.NearShare - 0.05)
  }

  test("curation_ingest: the grouping oracle joins near copies and nothing else") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = base.replace("w20", "zz")
    val other = (41 to 80).map(i => s"w$i").mkString(" ")
    val g = CorpusGen.groups(Seq(1L -> base, 2L -> other, 3L -> near, 4L -> base))
    assert(g == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }
}
