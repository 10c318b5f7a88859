package loadbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t == Stats.Tail(pct = 90, value = 90.0, beyond = 10, n = 100))
    // with 1000 samples the 99th percentile has exactly 10 beyond
    val big = Stats.tail((1 to 1000).map(_.toDouble))
    assert(big.pct == 99 && big.value == 990.0 && big.beyond == 10)
  }

  test("tail with few samples falls to a low percentile, never below ten beyond") {
    val t = Stats.tail((1 to 20).map(_.toDouble))
    assert(t.beyond >= 10)
    assert(t.pct == 50 && t.value == 10.0)
    (11 to 300).foreach { n =>
      val r = Stats.tail((1 to n).map(_.toDouble).reverse)
      assert(r.beyond >= 10, s"n=$n")
      assert(r.value == n - r.beyond, s"n=$n")
      // one percentile higher would leave fewer than ten beyond
      if (r.pct < 99) assert(n - math.ceil((r.pct + 1) * n / 100.0 - 1e-9).toInt < 10, s"n=$n")
    }
  }

  test("tail with ten or fewer samples reports the maximum as p100") {
    val t = Stats.tail(Seq(5.0, 1.0, 9.0))
    assert(t == Stats.Tail(100, 9.0, 0, 3))
  }
}
