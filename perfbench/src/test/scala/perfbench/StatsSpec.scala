package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def ramp(n: Int) = (1 to n).map(_.toDouble)

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("no tail when no percentile has 10 samples beyond it") {
    for (n <- Seq(1, 5, 20, 39)) {
      val s = Stats.summarize(ramp(n))
      assert(s.n == n)
      assert(s.tailPct == 0.0 && s.tail == s.p50, s"n=$n: $s")
    }
  }

  test("the tail is the highest percentile with at least 10 samples beyond it") {
    // n=40: p75 is rank 30 (10 beyond); p90 is rank 36 (4 beyond)
    assert(Stats.summarize(ramp(40)) == Stats.Summary(40, 20.5, 75.0, 30.0))
    // n=200: p95 is rank 190 (10 beyond); p99 is rank 198
    assert(Stats.summarize(ramp(200)).tailPct == 95.0)
    assert(Stats.summarize(ramp(200)).tail == 190.0)
    // n=1000: p99 (rank 990); n=10000: p99.9 (rank 9990)
    assert(Stats.summarize(ramp(1000)).tailPct == 99.0)
    assert(Stats.summarize(ramp(10000)) == Stats.Summary(10000, 5000.5, 99.9, 9990.0))
  }

  test("samples beyond the reported tail number at least 10") {
    for (n <- 40 to 3000 by 37) {
      val s = Stats.summarize(ramp(n))
      assert(ramp(n).count(_ > s.tail) >= Stats.MinBeyond, s"n=$n: $s")
    }
  }
}
