package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail of 100 samples is p90, with exactly 10 samples beyond") {
    assert(Stats.tail((1 to 100).map(_.toDouble)) == ((90, 90.0, 100)))
  }

  test("tail is the highest whole percentile that keeps at least 10 samples beyond it") {
    val rnd = new scala.util.Random(7)
    for (n <- 11 to 400) {
      val xs = Seq.fill(n)(rnd.nextDouble())
      val (p, v, count) = Stats.tail(xs)
      assert(count == n)
      assert(xs.count(_ > v) >= 10, s"n=$n p=$p")
      // the next percentile up would leave fewer than 10 samples beyond it
      val rankUp = math.ceil((p + 1) * n / 100.0).toInt
      assert(n - rankUp < 10, s"n=$n p=$p")
    }
  }

  test("with 10 samples or fewer no percentile qualifies and the maximum is reported as p100") {
    assert(Stats.tail(Seq(5.0, 1.0, 9.0)) == ((100, 9.0, 3)))
    assert(Stats.tail((1 to 10).map(_.toDouble)) == ((100, 10.0, 10)))
    assert(Stats.tail((1 to 11).map(_.toDouble)) == ((9, 1.0, 11)))
  }
}
