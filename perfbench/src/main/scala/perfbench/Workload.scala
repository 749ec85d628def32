package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark workload. A run calls [[generate]] once, [[setup]] once
  * per set-up repetition (each on a fresh session), [[build]] once on the
  * last session, a warm-up op when [[warmsUp]], then [[op]] and [[check]]
  * in the closed loop of [[Runner.timedLoop]], each op preceded by an
  * untimed [[prepare]]. Ops are numbered from 0; the warm-up op is -1.
  * Every call into the program under test is wrapped in a [[Recorder]]
  * span named after its layer. */
trait Workload {
  type Out

  /** Write this run's inputs from the seed; not part of set-up time. */
  def generate(spark: SparkSession): Unit

  /** Register inputs on `spark`. */
  def setup(spark: SparkSession): Unit

  /** Build the stores an op needs, once, after the last [[setup]]. */
  def build(): Unit = ()

  /** A batch job runs in a fresh JVM, so its users pay class loading and
    * JIT compilation on every run and the batch workloads time their
    * first op. A long-running service pays them once: it warms up. */
  def warmsUp: Boolean

  /** Stage the input of the next op, outside its timed region. */
  def prepare(i: Int): Unit = ()

  /** One timed unit of work, through the program's public entry points,
    * with every output column materialized. */
  def op(i: Int): Out

  /** Problems found in an op's output; empty when it is correct. */
  def check(i: Int, out: Out): Seq[String]

  /** Workload-specific per-layer metrics of the finished run. */
  def extras(): Map[String, Double]

  /** Stop anything still running on the session before it is stopped. */
  def close(): Unit = ()
}
