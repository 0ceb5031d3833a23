package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between closest ranks and keeps its sample count") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0, 5.0)
    assert(Stats.percentile(xs, 50) == Stats.Pct(50, 3.0, 5))
    assert(Stats.percentile(xs, 0).value == 1.0)
    assert(Stats.percentile(xs, 100).value == 5.0)
    // rank 0.9 * 4 = 3.6: 4 + 0.6 * (5 - 4)
    assert(math.abs(Stats.percentile(xs, 90).value - 4.6) < 1e-12)
    assert(Stats.percentile(Seq(1.0, 2.0), 50).value == 1.5)
  }

  test("samples beyond a percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90).beyond == 10)
    assert(Stats.percentile(xs, 50).beyond == 50)
    assert(Stats.percentile(xs.take(21), 90).beyond == 2)
    assert(Stats.percentile(Seq(7.0), 90) == Stats.Pct(90, 7.0, 1))
  }

  test("percentile of nothing fails loudly") {
    intercept[IllegalArgumentException](Stats.percentile(Nil, 50))
    intercept[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("core utilization is task time over wall time times cores") {
    assert(Stats.coreUtil(taskSeconds = 8.0, wallSeconds = 4.0, cores = 4) == 0.5)
    assert(Stats.coreUtil(4.0, 1.0, 4) == 1.0)
    assert(Stats.coreUtil(1.0, 0.0, 4) == 0.0)
  }

  test("skew is slowest over median task, with a 1 ms floor") {
    assert(Stats.skew(Seq(10L, 10L, 40L)) == 4.0)
    assert(Stats.skew(Seq(0L, 0L, 5L)) == 5.0)
    assert(Stats.skew(Nil) == 1.0)
  }

  test("a typical pass sums each query's median over the passes") {
    val samples = Seq("a" -> 1.0, "b" -> 10.0, "a" -> 3.0, "b" -> 30.0, "a" -> 2.0, "b" -> 11.0)
    assert(Stats.sumOfMedians(samples) == 2.0 + 11.0)
    // one slow pass (3, 30) moves neither median
    assert(Stats.sumOfMedians(samples.take(2)) == 11.0)
    assert(Stats.sumOfMedians(Nil) == 0.0)
  }
}
