package perfbench

import java.io.{File, PrintWriter}

/** Minimal JSON output for the result line and the per-run sidecar. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Full-precision number; non-finite values (which JSON cannot carry)
    * are written as 0. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def bool(b: Boolean): String = b.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")

  /** `layers.json`: every number of one run — end-to-end, per layer, per
    * op and per span. */
  def writeSidecar(f: File, workload: String, seed: Long, traced: Boolean,
      e2e: Map[String, Double], layer: Map[String, Double], ops: Seq[OpResult],
      spans: Seq[Span]): Unit = {
    val w = new PrintWriter(f)
    try w.println(obj(Seq(
      "workload" -> str(workload),
      "seed" -> seed.toString,
      "trace" -> bool(traced),
      "end_to_end" -> obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "per_layer" -> obj(layer.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "ops" -> arr(ops.map(o => obj(Seq("wall_s" -> num(o.wallS), "failed" -> bool(o.failed),
        "problems" -> arr(o.problems.map(str)))))),
      "spans" -> arr(spans.map(s => obj(Seq("name" -> str(s.name), "op" -> s.op.toString,
        "parent" -> s.parent.toString, "seconds" -> num(s.seconds),
        "traced" -> bool(s.traced))))))))
    finally w.close()
  }
}
