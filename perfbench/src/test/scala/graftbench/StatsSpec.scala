package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail rule: highest percentile with at least ten samples beyond it") {
    // 96 queries: p90 would sit at rank 87 with only 9 above it
    assert(Stats.tailRank(96) == Some((89, 86)))
    assert(Stats.tailRank(20) == Some((50, 10)))
    assert(Stats.tailRank(11) == Some((9, 1)))
    assert(Stats.tailRank(1000) == Some((99, 990)))
  }

  test("tail rule: no percentile with ten or fewer samples") {
    assert(Stats.tailRank(10).isEmpty)
    assert(Stats.tail(Seq(1.0, 2.0)).isEmpty)
  }

  test("tail value is the sample at the chosen rank, whatever the input order") {
    val xs = scala.util.Random.shuffle((1 to 20).map(_.toDouble))
    assert(Stats.tail(xs) == Some(Stats.Tail(10.0, 50, 10, 20)))
  }
}
