package graft.perfbench

import scala.collection.mutable

/** One orders-like row. `sec` is seconds since [[DmlGen.Epoch]]. */
final case class Order(id: Long, cust: Int, status: String, amount: Long,
    sec: Long) {
  def ts: String = DmlGen.tsLiteral(sec)
  def sqlTuple: String = s"(${id}L, $cust, '$status', ${amount}L, TIMESTAMP '$ts')"
}

sealed trait DmlOp { def table: Int }
object DmlOp {
  final case class Insert(table: Int, rows: Seq[Order]) extends DmlOp
  /** Upsert: `rows` whose id is live update status and amount, the
    * others are inserted. */
  final case class Merge(table: Int, rows: Seq[Order], matched: Int) extends DmlOp
  final case class Update(table: Int, ids: Seq[Long], delta: Long,
      status: String) extends DmlOp
  final case class Delete(table: Int, ids: Seq[Long]) extends DmlOp
  final case class PointRead(table: Int, id: Long) extends DmlOp
  /** `VERSION AS OF` the table's state `back` commits ago (1 = the
    * commit before the newest); the model's row count and amount sum
    * at that commit are the answer. */
  final case class TimeTravel(table: Int, back: Int, count: Long, sum: Long) extends DmlOp
  /** Compaction, delete-file rewrite, snapshot expiry, MV refresh. */
  final case class Maintain(table: Int = -1) extends DmlOp
  /** The view's aggregate, asked of the base table right after a
    * refresh; the answer is the model's per-status count and sum. */
  final case class MvRead(table: Int, want: Set[(String, Long, Long)]) extends DmlOp
}

/** Per-key state of one table, with O(1) uniform choice of a live key. */
final class KeyModel {
  val rows = mutable.HashMap[Long, Order]()
  private val keys = mutable.ArrayBuffer[Long]()
  private val pos = mutable.HashMap[Long, Int]()

  def put(o: Order): Unit = {
    if (!rows.contains(o.id)) { pos(o.id) = keys.size; keys += o.id }
    rows(o.id) = o
  }
  def remove(id: Long): Unit = if (rows.remove(id).isDefined) {
    val i = pos.remove(id).get
    val last = keys.remove(keys.size - 1)
    if (last != id) { keys(i) = last; pos(last) = i }
  }
  def size: Int = rows.size
  def pick(r: java.util.SplittableRandom): Long = keys(r.nextInt(keys.size))
  /** `k` distinct live keys. */
  def pickDistinct(r: java.util.SplittableRandom, k: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet[Long]()
    while (out.size < math.min(k, keys.size)) out += pick(r)
    out.toSeq
  }
}

/** The seeded input and op stream of `dml_churn`, and the model that the
  * engine's answers are checked against. Pure: no Spark, so the suite
  * can pin that a seed fixes every input. Two tables (0 = copy-on-write,
  * 1 = merge-on-read), each starting with [[DmlGen.InitialRows]] rows
  * spread over [[DmlGen.Days]] days. The op kinds follow a fixed cycle
  * ([[DmlGen.Cycle]]), so every run has the same mix; the seed draws
  * the keys, the rows and the sizes. Each cycle ends with a maintenance
  * pass and a view read. */
final class DmlGen(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  val models: Array[KeyModel] = Array(new KeyModel, new KeyModel)
  /** (row count, amount sum) after each commit of each table, newest last. */
  val history: Array[mutable.ArrayBuffer[(Long, Long)]] =
    Array.fill(2)(mutable.ArrayBuffer[(Long, Long)]())
  private var nextId = 1L
  private var step = 0L

  private def newRow(): Order = {
    val id = nextId
    nextId += 1
    Order(id, 1 + r.nextInt(1000), DmlGen.Statuses(r.nextInt(DmlGen.Statuses.size)),
      100 + r.nextInt(100000), r.nextInt(DmlGen.Days) * 86400L + r.nextInt(86400))
  }
  private def status() = DmlGen.Statuses(r.nextInt(DmlGen.Statuses.size))
  private def commit(t: Int): Unit =
    history(t) += ((models(t).size.toLong, models(t).rows.values.map(_.amount).sum))

  /** The initial rows of each table (ids never shared between tables). */
  val initial: Array[Seq[Order]] = Array.tabulate(2) { t =>
    val rows = Seq.fill(DmlGen.InitialRows)(newRow())
    rows.foreach(models(t).put)
    commit(t)
    rows
  }

  /** The next op of the cycle, already applied to the model. */
  def next(): DmlOp = {
    val op = make(DmlGen.Cycle((step % DmlGen.Cycle.size).toInt))
    step += 1
    op
  }

  /** The warm-up: one cycle's ops without its head reads, applied to
    * the model; the cycle that [[next]] walks is not advanced. */
  def warmUp(): Seq[DmlOp] = DmlGen.Cycle.filter(_._1 != 'R').map(make)

  private def make(kt: (Char, Int)): DmlOp = {
    val (kind, t) = kt
    val m = models(t)
    val op: DmlOp = kind match {
      case 'R' => DmlOp.PointRead(t, m.pick(r))
      case 'T' =>
        val back = 1 + r.nextInt(math.min(DmlGen.TimeTravelDepth, history(t).size - 1))
        val (c, s) = history(t)(history(t).size - 1 - back)
        DmlOp.TimeTravel(t, back, c, s)
      case 'I' =>
        val rows = Seq.fill(5 + r.nextInt(11))(newRow())
        rows.foreach(m.put)
        DmlOp.Insert(t, rows)
      case 'M' =>
        val hit = m.pickDistinct(r, 4 + r.nextInt(5))
        val upd = hit.map(id => m.rows(id).copy(status = status(),
          amount = 100 + r.nextInt(100000)))
        val fresh = Seq.fill(4 + r.nextInt(5))(newRow())
        (upd ++ fresh).foreach(m.put)
        DmlOp.Merge(t, upd ++ fresh, upd.size)
      case 'U' =>
        val ids = m.pickDistinct(r, 3 + r.nextInt(6))
        val delta = 1 + r.nextInt(500)
        val st = status()
        ids.foreach(id => m.put(m.rows(id).copy(amount = m.rows(id).amount + delta,
          status = st)))
        DmlOp.Update(t, ids, delta, st)
      case 'D' =>
        val ids = m.pickDistinct(r, 2 + r.nextInt(5))
        ids.foreach(m.remove)
        DmlOp.Delete(t, ids)
      case 'X' => DmlOp.Maintain()
      case 'V' => DmlOp.MvRead(0, m.rows.values.groupBy(_.status).map {
        case (st, os) => (st, os.size.toLong, os.map(_.amount).sum) }.toSet)
    }
    op match {
      case _: DmlOp.Insert | _: DmlOp.Merge | _: DmlOp.Update | _: DmlOp.Delete => commit(t)
      case _ =>
    }
    op
  }
}

object DmlGen {
  val InitialRows = 1500
  val Days = 1
  /** One cycle of op kinds and tables: R point read, T time travel,
    * I insert, M merge, U update, D delete, X maintenance, V view read.
    * Ten head reads of the copy-on-write table precede each write.
    * Merge-on-read point reads take about half as long again, so a mix
    * of both tables makes the read latencies bimodal, and the read
    * median and tail of a 40-read cycle would fall in the gap between
    * the modes. The merge-on-read read path is timed by that table's
    * time-travel reads. The copy-on-write table takes the MERGE upsert
    * and the DELETE, the merge-on-read table the UPDATE and the INSERT;
    * each table gets one time-travel read. */
  val Cycle: IndexedSeq[(Char, Int)] = {
    val writes = Seq("M0", "U1", "D0", "I1")
    val ops = writes.zipWithIndex.flatMap { case (w, i) =>
      Seq.fill(10)("R0") ++ Seq(w) ++
        (if (i == 1) Seq("T0") else if (i == 3) Seq("T1") else Nil)
    } ++ Seq("X0", "V0")
    ops.map(s => (s(0), s(1) - '0')).toIndexedSeq
  }
  /** How many commits back a time-travel read may go; expiry keeps more. */
  val TimeTravelDepth = 4
  val Statuses: IndexedSeq[String] = IndexedSeq("O", "F", "P", "X")
  /** 2024-01-01T00:00:00Z */
  val Epoch = 1704067200L

  def tsLiteral(sec: Long): String =
    java.time.LocalDateTime.ofEpochSecond(Epoch + sec, 0, java.time.ZoneOffset.UTC)
      .toString.replace('T', ' ') match {
      case s if s.length == 16 => s + ":00" // LocalDateTime drops ":00" seconds
      case s => s
    }
}
