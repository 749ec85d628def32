package perfbench

/** The outcome of one timed op. `wallS` excludes the output check. */
final case class OpResult(wallS: Double, failed: Boolean, problems: Seq[String])

/** The closed loop every workload runs: ops back to back until `seconds`
  * of wall time (op plus check) have passed, at least one op. `start` and
  * `end` run just outside each op's timed region. An op that throws, or
  * whose output check reports a problem, is counted failed; the loop goes
  * on either way, so a failure never shortens the run. */
object Runner {

  def timedLoop[A](seconds: Double, start: Int => Unit, op: Int => A, end: Int => Unit,
      check: (Int, A) => Seq[String]): Vector[OpResult] = {
    val t0 = System.nanoTime()
    var out = Vector.empty[OpResult]
    while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val i = out.length
      start(i)
      val s = System.nanoTime()
      val result = try Right(op(i)) catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - s) / 1e9
      end(i)
      val problems = result match {
        case Left(e) => Seq(s"op $i threw: $e")
        case Right(a) =>
          try check(i, a) catch { case e: Throwable => Seq(s"check $i threw: $e") }
      }
      problems.foreach(p => System.err.println(s"[perfbench] FAILED $p"))
      out :+= OpResult(wall, problems.nonEmpty, problems)
    }
    out
  }

  /** The longest a whole run may take. No healthy op can be slower. */
  val FailedOpS = 180.0

  /** Op walls as a user sees them: a failed op counts as [[FailedOpS]] or
    * the whole timed region, whichever is longer, so a failure can only
    * raise latency figures, even when it ends an op early. */
  def effectiveWalls(ops: Seq[OpResult]): Seq[Double] = {
    val charge = math.max(FailedOpS, ops.map(_.wallS).sum)
    ops.map(o => if (o.failed) charge else o.wallS)
  }

  def failRatio(ops: Seq[OpResult]): Double =
    ops.count(_.failed).toDouble / ops.length
}
