package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("quartiles match Python statistics.quantiles(n=4)") {
    // statistics.quantiles([1..10], n=4) == [2.75, 5.5, 8.25]
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    // statistics.quantiles([5, 1, 9, 3], n=4) == [1.5, 4.0, 8.0]
    assert(Stats.quartiles(Seq(5.0, 1.0, 9.0, 3.0)) == ((1.5, 4.0, 8.0)))
    // statistics.quantiles([2, 4], n=4) == [1.5, 3.0, 4.5]
    assert(Stats.quartiles(Seq(2.0, 4.0)) == ((1.5, 3.0, 4.5)))
    assert(math.abs(Stats.spread((1 to 10).map(_.toDouble)) - 1.0) < 1e-12)
  }

  test("a throwing rep and a failed check count as failed, never as a timing") {
    val reps = new Stats.Reps
    reps.record(() => 1)(_ => Nil)
    reps.record[Int](() => throw new RuntimeException("boom"))(_ => Nil)
    reps.record(() => 2)(_ => Seq("wrong output"))
    reps.record(() => 3)(_ => throw new IllegalStateException("bad check"))
    assert(reps.attempted == 4)
    assert(reps.failed == 3)
    assert(reps.seconds.size == 1)
    assert(reps.failedRatio == 0.75)
    assert(reps.errors.exists(_.contains("boom")))
    assert(reps.errors.contains("wrong output"))
    assert(reps.errors.exists(_.contains("bad check")))
  }

  test("closed loop runs reps one after another until the budget is spent") {
    var running = 0
    var maxRunning = 0
    val reps = Stats.closedLoop(0.05) { r =>
      r.record { () =>
        running += 1
        maxRunning = math.max(maxRunning, running)
        Thread.sleep(5)
        running -= 1
      }(_ => Nil)
    }
    assert(maxRunning == 1)
    assert(reps.attempted >= 2 && reps.failed == 0)
    assert(reps.seconds.forall(_ >= 0.004))
    assert(Stats.closedLoop(0.0)(_.record(() => ())(_ => Nil)).attempted == 1)
  }

  test("prefix self time subtracts the previous cumulative prefix") {
    val self = Stats.selfTimes(Seq("scan" -> 1.0, "route" -> 3.5, "counts" -> 4.0))
    assert(self == Seq("scan" -> 1.0, "route" -> 2.5, "counts" -> 0.5))
    assert(Stats.selfTimes(Nil).isEmpty)
  }
}
