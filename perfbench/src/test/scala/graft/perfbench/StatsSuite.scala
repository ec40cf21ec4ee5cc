package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSuite extends AnyFunSuite {

  test("tail: the highest ladder percentile with at least ten samples beyond it") {
    def tail(n: Int) = Stats.tail((1 to n).map(_.toDouble))
    // fewer than 20 samples support no tail: no value, not a median
    assert(!tail(19).supported && tail(19).value.isNaN && tail(19).percentile.isNaN)
    assert(!tail(4).supported && tail(4).n == 4)
    assert(tail(20).supported)
    assert(tail(20).percentile == 50.0 && tail(20).beyond == 10)
    assert(tail(39).percentile == 50.0)
    assert(tail(40).percentile == 75.0 && tail(40).value == 30.0 && tail(40).beyond == 10)
    assert(tail(100).percentile == 90.0 && tail(100).value == 90.0)
    assert(tail(199).percentile == 90.0)
    assert(tail(200).percentile == 95.0 && tail(200).value == 190.0)
    assert(tail(1000).percentile == 99.0 && tail(1000).beyond == 10)
    assert(tail(10000).percentile == 99.9)
  }

  test("tail: reads the sorted sample, whatever its order") {
    val xs = scala.util.Random.shuffle((1 to 40).map(_.toDouble))
    assert(Stats.tail(xs).value == 30.0)
  }

  test("median and quartiles interpolate like Python's inclusive quantiles") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.25) == 2.0)
  }

  private def span(id: Long, parent: Long, name: String, s: Long, e: Long) =
    Span(1, id, parent, name, s, e)

  test("self time: a span minus the union of its children, clipped to it") {
    val spans = Seq(
      span(1, 0, "op.merge", 0, 100),
      span(2, 1, "lake.write", 10, 90),
      span(3, 2, "catalyst.planning", 10, 20),
      span(4, 2, "exec.job", 30, 60),
      span(5, 2, "exec.job", 50, 70), // overlaps job 4: counted once
      span(6, 2, "exec.job", 85, 95)) // runs past its parent: clipped
    val self = Stats.selfTimes(spans)
    assert(self(1) == 20)          // 100 - 80
    assert(self(2) == 80 - 10 - 40 - 5)
    assert(self(4) == 30 && self(5) == 20)
    val byLayer = Stats.layerSelfTimes(spans)
    assert(byLayer("op") == 20)
    assert(byLayer("lake.write") == 25)
    assert(byLayer("exec") == 30 + 20 + 10)
    assert(byLayer("catalyst") == 10)
  }

  test("an interval recorded after its op hangs under the span it names") {
    val tr = new Trace(true)
    var epochSpan = 0L
    tr.op("epoch") { tr.span("streaming.epoch") { () }; epochSpan = tr.lastClosed }
    tr.op("read") { tr.span("lake.scan") { () } }
    tr.interval("index.refresh", 1L, 2L, epochSpan)
    val spans = tr.finish().spans
    val refresh = spans.find(_.name == "index.refresh").get
    val epoch = spans.find(_.name == "streaming.epoch").get
    assert(refresh.parent == epoch.id && refresh.op == epoch.op)
    assert(spans.count(_.parent == 0) == 2) // one root per op
  }

  test("result JSON keeps every digit and order, and writes a missing statistic as null") {
    val m = scala.collection.immutable.ListMap("b" -> 0.1234567890123, "a" -> Double.NaN,
      "c" -> Seq(3L, "x", true))
    assert(Main.json(m) == """{"b":0.1234567890123,"a":null,"c":[3,"x",true]}""")
  }

  test("layer of a span name") {
    assert(span(1, 0, "lake.procedures.rewrite", 0, 1).layer == "lake.procedures")
    assert(span(1, 0, "catalyst.analysis", 0, 1).layer == "catalyst")
    assert(span(1, 0, "streaming.epoch", 0, 1).layer == "streaming")
  }

  test("space_amp is stored bytes per byte of the live rows as plain parquet") {
    assert(Stats.spaceAmp(300, 100) == 3.0)
    assertThrows[IllegalArgumentException](Stats.spaceAmp(300, 0))
  }

  test("skip_ratio is skipped over planned plus skipped") {
    assert(Stats.skipRatio(planned = 30, skipped = 10) == 0.25)
    assert(Stats.skipRatio(0, 0) == 0.0)
    assert(Stats.skipRatio(0, 5) == 1.0)
  }
}
