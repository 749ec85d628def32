package perfbench

import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite {

  private def loop(op: Int => Int, check: (Int, Int) => Seq[String]) =
    Runner.timedLoop[Int](0.3, _ => (), op, _ => (), check)

  test("a throwing op is counted failed and does not shorten the run") {
    val ok = loop(i => { Thread.sleep(20); i }, (_, _) => Nil)
    val bad = loop(i => { Thread.sleep(20); if (i % 2 == 1) sys.error("boom") else i },
      (_, _) => Nil)
    assert(Runner.failRatio(ok) == 0.0)
    assert(bad.count(_.failed) == bad.length / 2 && Runner.failRatio(bad) > 0.4)
    assert(bad.map(_.wallS).sum >= 0.25, "the failing run stopped early")
    assert(bad.filter(_.failed).forall(_.problems.head.contains("boom")))
  }

  test("a wrong answer is counted failed") {
    val ops = loop(i => { Thread.sleep(20); i * 2 },
      (i, out) => if (i == 1) Seq(s"got $out") else Nil)
    assert(ops(1).failed && ops.count(_.failed) == 1)
    assert(Runner.failRatio(ops) == 1.0 / ops.length)
  }

  test("a fast failure cannot make the wall median faster") {
    val ops = Seq(OpResult(2.0, failed = false, Nil), OpResult(0.01, failed = true, Seq("x")),
      OpResult(2.2, failed = false, Nil))
    val walls = Runner.effectiveWalls(ops)
    assert(walls(1) >= Runner.FailedOpS)
    assert(Stats.median(walls) >= Stats.median(ops.filterNot(_.failed).map(_.wallS)))
  }

  test("an op that fails early in a run shorter than a healthy op does not lower the wall") {
    val healthy = 0.1
    val ops = Runner.timedLoop[Int](healthy / 2, _ => (),
      i => { if (i == 0) sys.error("early") else Thread.sleep((healthy * 1000).toLong); i },
      _ => (), (_, _) => Nil)
    assert(ops.head.failed && ops.head.wallS < healthy)
    assert(Stats.median(Runner.effectiveWalls(ops)) >= healthy)
    val alone = Runner.effectiveWalls(Seq(OpResult(0.01, failed = true, Seq("x"))))
    assert(alone.head >= Runner.FailedOpS)
  }

  test("at least one op runs even with no time to measure") {
    assert(Runner.timedLoop[Int](0.0, _ => (), i => i, _ => (), (_, _) => Nil).length == 1)
  }
}
