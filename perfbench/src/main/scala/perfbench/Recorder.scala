package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Bytes held by RDD blocks (cached and checkpointed frames) in the block
  * manager, with a resettable high-water mark. Replays block updates and
  * RDD unpersists (which remove blocks without a block update), so a block
  * created and released inside one call still counts. */
final class StorageMeter extends SparkListener {
  /** rdd id -> (executor/block -> bytes) */
  private val sizes = mutable.HashMap.empty[Int, mutable.HashMap[String, Long]]
  private var held = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id =>
      val blocks = sizes.getOrElseUpdate(id.rddId, mutable.HashMap.empty)
      val key = info.blockManagerId.executorId + "/" + id.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      held += now - blocks.getOrElse(key, 0L)
      if (now == 0L) blocks.remove(key) else blocks(key) = now
      peak = math.max(peak, held)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    sizes.remove(e.rddId).foreach(blocks => held -= blocks.valuesIterator.sum)
  }

  def resetPeak(): Unit = synchronized { peak = held }
  def peakBytes: Long = synchronized(peak)
}

/** Per-job intervals and per-stage task sums, kept until the run ends. */
final class JobListener extends SparkListener {
  final case class Job(id: Int, group: String, submitMs: Long, stages: Seq[Int]) {
    var endMs: Long = -1L
  }
  final class Sums {
    var runMs = 0L
    var shuffleBytes = 0L
    var recordsIn = 0L
    var spillBytes = 0L
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stageSums = mutable.HashMap.empty[Int, Sums]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = Job(e.jobId, group, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stageSums.getOrElseUpdate(e.stageId, new Sums)
      s.runMs += m.executorRunTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.recordsIn += m.inputMetrics.recordsRead
      s.spillBytes += m.diskBytesSpilled
    }
  }
}

/** Structured-streaming progress: the sink's own `addBatch` time per batch. */
final class ProgressListener extends StreamingQueryListener {
  val addBatchMs = mutable.HashMap.empty[Long, Long]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      if (p.numInputRows > 0)
        Option(p.durationMs.get("addBatch")).foreach(ms => addBatchMs(p.batchId) = ms.longValue)
    }
}

/** One timed call into a layer. `op` is the timed op it ran in (-1 during
  * set-up); `traced` says whether the job listener was attached. */
final class Span(val id: Int, val name: String, val op: Int, val parent: Int,
    val traced: Boolean, val t0Ns: Long, val t0Ms: Long) {
  var t1Ns: Long = t0Ns
  var t1Ms: Long = t0Ms
  var peakBytes: Long = 0L
  def seconds: Double = (t1Ns - t0Ns) / 1e9
}

/** Outside-in layer recorder: named spans around each public call, and,
  * while tracing, a job group per span plus listeners that attribute jobs,
  * task time, shuffle bytes, rows read and block storage to it.
  *
  * With tracing off a span costs two clock reads; the storage meter stays
  * attached because `peak_storage_mb` is an end-to-end metric. */
final class Recorder {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var spark: SparkSession = _
  private var storage: StorageMeter = _
  val jobs = new JobListener
  val progress = new ProgressListener
  private var tracingNow = false
  var op: Int = -1
  /** Per op, the time the recorder itself spent inside the op: draining
    * the listener bus and setting job groups at span boundaries. */
  val overheadNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)

  /** Attach to a (new) session; listeners of a stopped one are dropped. */
  def bind(s: SparkSession): Unit = {
    tracing = false
    spark = s
    storage = new StorageMeter
    s.sparkContext.addSparkListener(storage)
  }

  def tracing: Boolean = tracingNow

  def tracing_=(on: Boolean): Unit = if (on != tracingNow) {
    val sc = spark.sparkContext
    if (on) {
      sc.addSparkListener(jobs)
      spark.streams.addListener(progress)
    } else {
      drain()
      sc.removeSparkListener(jobs)
      spark.streams.removeListener(progress)
    }
    tracingNow = on
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Storage high-water mark since the last call, after all events so far. */
  def takePeakBytes(): Long = {
    drain()
    val p = storage.peakBytes
    storage.resetPeak()
    p
  }

  private def overhead[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally overheadNs(op) += System.nanoTime() - t
  }

  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    if (tracingNow) overhead(takePeakBytes())
    val s = new Span(spans.length, name, op, open.headOption.map(_.id).getOrElse(-1),
      tracingNow, System.nanoTime(), System.currentTimeMillis())
    spans += s
    open.push(s)
    if (tracingNow) overhead(sc.setJobGroup(s"pb-${s.id}", name))
    try body
    finally {
      s.t1Ns = System.nanoTime()
      s.t1Ms = System.currentTimeMillis()
      open.pop()
      if (tracingNow) overhead {
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
        s.peakBytes = takePeakBytes()
      }
    }
  }

  /** Per traced span: jobs, task seconds, shuffle MB, rows read, driver gap
    * (span wall minus the union of its job intervals), self seconds
    * (span wall minus child spans) and peak storage MB. Jobs carry the
    * span's job group; jobs run on Spark's own threads (a streaming
    * query's micro-batches) are attributed to the innermost traced span
    * open when they were submitted. */
  def spanStats(): Map[Int, Map[String, Double]] = jobs.synchronized {
    val traced = spans.filter(_.traced)
    val byId = traced.map(s => s.id -> s).toMap
    val jobsOf = mutable.HashMap.empty[Int, mutable.ArrayBuffer[jobs.Job]]
    jobs.jobs.valuesIterator.foreach { j =>
      val owner =
        if (j.group != null && j.group.startsWith("pb-")) byId.get(j.group.drop(3).toInt)
        else traced.filter(s => s.t0Ms <= j.submitMs && j.submitMs <= s.t1Ms)
          .sortBy(-_.t0Ms).headOption
      owner.foreach(s => jobsOf.getOrElseUpdate(s.id, mutable.ArrayBuffer.empty) += j)
    }
    val stageOwner = mutable.HashMap.empty[Int, Int]
    jobs.jobs.valuesIterator.foreach(j => j.stages.foreach(st => stageOwner.getOrElseUpdate(st, j.id)))
    traced.map { s =>
      val js = jobsOf.getOrElse(s.id, mutable.ArrayBuffer.empty)
      val ids = js.map(_.id).toSet
      val sums = jobs.stageSums.iterator.filter { case (st, _) =>
        stageOwner.get(st).exists(ids) }.map(_._2).toSeq
      val busyMs = Stats.unionLength(js.map(j =>
        (math.max(j.submitMs, s.t0Ms), math.min(if (j.endMs < 0) s.t1Ms else j.endMs, s.t1Ms))).toSeq)
      val children = spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
      s.id -> Map(
        "self_s" -> (s.seconds - children),
        "jobs" -> js.size.toDouble,
        "task_s" -> sums.map(_.runMs).sum / 1e3,
        "driver_gap_s" -> math.max(0.0, s.seconds - busyMs / 1e3),
        "shuffle_mb" -> sums.map(_.shuffleBytes).sum / 1e6,
        "rows_in" -> sums.map(_.recordsIn).sum.toDouble,
        "spill_mb" -> sums.map(_.spillBytes).sum / 1e6,
        "peak_storage_mb" -> s.peakBytes / 1e6)
    }.toMap
  }
}
