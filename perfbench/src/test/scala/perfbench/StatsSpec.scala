package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("quartiles match Python's statistics.quantiles(xs, n=4)") {
    // values from CPython 3: statistics.quantiles([...], n=4)
    assert(Stats.quartiles(Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0)) ==
      (2.75, 5.5, 8.25))
    assert(Stats.quartiles(Seq(1.0, 2.0, 3.0, 4.0)) == (1.25, 2.5, 3.75))
    assert(Stats.quartiles(Seq(5.0, 1.0)) == (0.0, 3.0, 6.0))
    assert(Stats.quartiles(Seq(10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0)) ==
      (20.0, 40.0, 60.0))
  }

  test("percentile interpolates between closest ranks") {
    val xs = (1 to 11).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 6.0)
    assert(Stats.percentile(xs, 90) == 10.0)
    assert(Stats.percentile(Seq(1.0, 2.0), 50) == 1.5)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(99).contains(50.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.percentileIfSupported((1 to 99).map(_.toDouble), 90).isEmpty)
    assert(Stats.percentileIfSupported((1 to 100).map(_.toDouble), 90).nonEmpty)
  }

  test("a rendered timing carries its sample count") {
    val t = Stats.timing((1 to 120).map(_.toDouble))
    assert(t.n == 120 && t.tail.map(_._1).contains(90.0))
    val line = t.render("search_ms", "ms")
    assert(line.contains("n=120") && line.contains("p90=") && line.contains("p50="))
    assert(Stats.timing(Seq(1.0, 2.0)).render("x", "ms").contains("n=2"))
  }
}
