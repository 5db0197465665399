package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def op(ms: Double, ok: Boolean = true) =
    OpRecord(1, "q", "M", 0L, 0L, 0L, 0L, 0L, (ms * 1e6).toLong, ok)

  test("the tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == ((90.0, 90.0)))
    assert(Stats.tail(scala.util.Random.shuffle(xs)) == ((90.0, 90.0)))
    val (v, p) = Stats.tail((1 to 11).map(_.toDouble))
    assert(v == 1.0 && math.abs(p - 100.0 / 11) < 1e-9)
    assertThrows[IllegalArgumentException](Stats.tail((1 to 10).map(_.toDouble)))
  }

  test("median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("failed ops are counted, sort above every latency, and never shorten the wall") {
    val ops = (1 to 20).map(i => op(i.toDouble)) :+ op(0.5, ok = false)
    assert(Stats.failedRatio(ops) == 1.0 / 21)
    val lat = ops.map(Stats.latencyMs)
    assert(lat.last == Double.PositiveInfinity)
    assert(Stats.tail(lat)._1 == 11.0)
    // the failed op took 0.5 ms; it is charged the slowest success, 20 ms
    assert(Stats.chargedWallMs(1000.0, ops, 20.0) == 1000.0 + 19.5)
    assert(Stats.chargedWallMs(1000.0, ops.init, 20.0) == 1000.0)
  }

  test("construct, plan and exec account for the whole op wall") {
    val o = OpRecord(1, "q", "M", 0L, 0L, 100L, 2100L, 2600L, 9100L, ok = true)
    assert(o.constructMs + o.planMs + o.execMs == o.wallMs)
  }
}
