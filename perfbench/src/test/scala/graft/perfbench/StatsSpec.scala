package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail picks the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(xs).contains(Stats.Tail(99.0, 990.0, 1000)))
    // 500 samples: p99 has only 5 beyond it, p95 has 25
    assert(Stats.tail((1 to 500).map(_.toDouble)).contains(Stats.Tail(95.0, 475.0, 500)))
    // exactly ten beyond p99
    assert(Stats.tail((1 to 1000).map(_.toDouble)).map(_.percentile).contains(99.0))
    assert(Stats.tail((1 to 999).map(_.toDouble)).map(_.percentile).contains(95.0))
    // 20 samples: only the median has ten beyond it
    assert(Stats.tail((1 to 20).map(_.toDouble)).contains(Stats.Tail(50.0, 10.0, 20)))
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    // order of the input does not matter
    assert(Stats.tail(scala.util.Random.shuffle((1 to 1000).map(_.toDouble))) ==
      Stats.tail((1 to 1000).map(_.toDouble)))
  }

  test("median and quartiles interpolate like the usual definition") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.25) == 2.0)
    assert(Stats.median(Nil).isNaN)
  }

  test("the step rule flags a growing backlog and passes a steady one") {
    val rate = 100.0
    // trigger ends every 0.5 s; the backlog each trigger leaves behind
    val steady = (0 until 12).map(i => (i * 0.5, 40.0 + (if (i % 2 == 0) 3 else -3)))
    val growing = (0 until 12).map(i => (i * 0.5, 40.0 + 30.0 * i * 0.5))
    assert(!Stats.backlogGrows(steady, rate))
    assert(Stats.backlogGrows(growing, rate))
    assert(math.abs(Stats.slope(growing) - 30.0) < 1e-9)
    val lat = Seq.fill(300)(2.0)
    assert(Stats.judgeStep(rate, 30, steady, 1.0, lat, 0, 6.0).passed)
    assert(!Stats.judgeStep(rate, 30, growing, 1.0, lat, 0, 6.0).passed)
    // each other condition fails the step on its own
    assert(!Stats.judgeStep(rate, 30, steady, 0.9, lat, 0, 6.0).passed)
    assert(!Stats.judgeStep(rate, 30, steady, 1.0, Seq.fill(300)(7.0), 0, 6.0).passed)
    assert(!Stats.judgeStep(rate, 30, steady, 1.0, lat, 1, 6.0).passed)
    assert(Stats.judgeStep(rate, 30, steady, 1.0, lat, 0, 6.0).flowsPerS == 3000.0)
  }
}
