package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0, 5.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 75) == 4.0)
    assert(Stats.percentile(Seq(1.0, 2.0), 50) == 1.5)
  }

  test("the tail is the highest ladder level with at least ten samples beyond it") {
    assert(Stats.tailLevel(20) == 50.0)
    assert(Stats.tailLevel(39) == 50.0)
    assert(Stats.tailLevel(40) == 75.0)
    assert(Stats.tailLevel(99) == 75.0)
    assert(Stats.tailLevel(100) == 90.0)
    assert(Stats.tailLevel(200) == 95.0)
    assert(Stats.tailLevel(1000) == 99.0)
    assert(Stats.tailLevel(10000) == 99.9)
    (20 to 3000).foreach { n =>
      val level = Stats.tailLevel(n)
      assert(n * (100 - level) / 100 >= 10 - 1e-9, s"n=$n level=$level")
      Stats.TailLevels.filter(_ > level).foreach { higher =>
        assert(n * (100 - higher) / 100 < 10, s"n=$n could report p$higher")
      }
    }
  }

  test("fewer than twenty samples report the median as the tail") {
    assert(Stats.tailLevel(1) == 50.0)
    assert(Stats.tailLevel(19) == 50.0)
    val xs = (1 to 7).map(_.toDouble)
    assert(Stats.tail(xs) == ((50.0, 4.0)))
  }
}
