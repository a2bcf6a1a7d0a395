package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("median of medians takes each operation's median first") {
    // pooled, the median of these six samples would be 3.5
    assert(Stats.medianOfMedians(Seq(Seq(1.0, 2.0), Seq(3.0, 100.0), Seq(4.0, 5.0))) == 4.5)
    // pooled, 6
    assert(Stats.medianOfMedians(Seq(Seq(1.0, 2.0, 30.0), Seq(4.0, 5.0, 6.0), Seq(7.0, 8.0, 90.0))) == 5.0)
  }

  test("tail is the highest percentile with a tenth of the samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // 90 sits at p90 and 91..100 lie beyond it
    assert(Stats.tail(xs) == Stats.Tail(90.0, 90.0, 100))
    // 25 samples: two beyond, so the third largest, 23, at p92
    assert(Stats.tail((1 to 25).map(_.toDouble).reverse) == Stats.Tail(23.0, 92.0, 25))
    // 22 samples (two passes of eleven queries): 20 at p90.9
    val t22 = Stats.tail((1 to 22).map(_.toDouble))
    assert(t22.value == 20.0 && t22.samples == 22 && math.abs(t22.percentile - 2000.0 / 22) < 1e-9)
  }

  test("with fewer than twenty samples one lies beyond the tail") {
    assert(Stats.tail((1 to 10).map(_.toDouble)) == Stats.Tail(9.0, 90.0, 10))
    assert(Stats.tail(Seq(5.0, 1.0, 9.0)) == Stats.Tail(5.0, 200.0 / 3, 3))
    assert(Stats.tail(Seq(4.0)) == Stats.Tail(4.0, 100.0, 1))
  }

  private def span(id: Int, parent: Int, start: Double, end: Double) =
    Span(id, parent, s"s$id", "l", "q", start, end)

  test("self time subtracts children, counting overlap once and clipping to the parent") {
    val spans = Seq(
      span(0, -1, 0, 100),
      span(1, 0, 10, 30), // 20
      span(2, 0, 20, 50), // overlaps 1: union 10..50 = 40
      span(3, 0, 90, 120), // clipped to 90..100 = 10
      span(4, 1, 12, 18)) // grandchild: only its parent loses it
    val self = Stats.selfTimes(spans)
    assert(self(0) == 100 - 40 - 10)
    assert(self(1) == 20 - 6)
    assert(self(2) == 30)
    assert(self(4) == 6)
  }

  test("construct, plan and exec self times add up to the query's wall time") {
    val spans = Seq(
      span(0, -1, 0, 1000), // query
      span(1, 0, 0, 300), // construct
      span(2, 0, 300, 1000), // write
      span(3, 2, 310, 330), // analysis
      span(4, 2, 330, 380), // optimization
      span(5, 2, 380, 400)) // physical planning
    val self = Stats.selfTimes(spans)
    assert((1 to 5).map(self).sum == 1000)
    assert(self(2) == 700 - 90)
  }

  test("slot busy fraction is task time over exec time times cores") {
    assert(Stats.slotBusyFrac(taskRunS = 6, execS = 3, cores = 4) == 0.5)
    assert(Stats.slotBusyFrac(taskRunS = 6, execS = 0, cores = 4) == 0.0)
  }
}
