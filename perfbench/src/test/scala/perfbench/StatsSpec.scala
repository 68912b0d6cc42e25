package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile returns a sample: the smallest with p% at or below it") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 91) == 10.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(xs, 1) == 1.0)
  }

  test("percentile ignores input order and handles one sample") {
    assert(Stats.percentile(Seq(30.0, 10.0, 20.0), 50) == 20.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
  }

  test("p95 over 200 samples leaves exactly ten beyond it") {
    val xs = (1 to 200).map(_.toDouble)
    assert(Stats.percentile(xs, 95) == 190.0)
    assert(Stats.beyond(xs, 95) == 10)
  }

  test("percentile rejects an empty sample and a p outside (0, 100]") {
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 0))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }
}
