package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints the result line.
  *
  * {{{
  *   Main --workload <batch|live_ingest> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Order of a run: session, input generation (timed separately), then
  * [[Reps]] set-up repetitions, each on a fresh session (the last one is
  * kept), the one-time builds and the warm-up op, then the timed closed
  * loop. `setup_s` is the median repetition plus builds and warm-up. A
  * repetition starts its session in a JVM that has already started one,
  * so `setup_s` leaves out JVM start and Spark's first-session class
  * loading, which no set-up code of the program can change. The last stdout line is
  * `{"correct", "attempted", "failed", "metrics"}` with the end-to-end
  * metrics (`--trace 0`) or the per-layer ones (`--trace 1`); every run
  * also writes `layers.json` with all numbers, per op and per span, into
  * its work directory. */
object Main {

  val Reps = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "peak_storage_mb" -> "MB")

  val Spans: Seq[String] = Seq(
    "graph.projection", "graph.louvain", "graph.leiden", "graph.lpa", "graph.kcore",
    "functions.user_vectors", "metrics.community", "metrics.embedding", "warehouse.scd2",
    "dedup.minhash_groups", "dedup.jaccard_groups", "dedup.simhash_groups",
    "dedup.cosine_groups", "streaming.ingest_batch", "similarity.ivf_append",
    "similarity.knn")

  val SpanStats: Seq[(String, String)] = Seq("self_s" -> "s", "jobs" -> "count",
    "task_s" -> "s", "driver_gap_s" -> "s", "shuffle_mb" -> "MB")

  val SetupParts: Seq[String] = Seq("setup.session_s", "setup.gen_s", "setup.register_s",
    "setup.warmup_s", "setup.bootstrap_store_s", "setup.ivf_build_s", "setup.stream_start_s")

  /** Every per-layer metric, in print order, with its unit. */
  val PerLayer: Seq[(String, String)] =
    Spans.flatMap(s => SpanStats.map { case (k, u) => s"$s.$k" -> u }) ++ Seq(
      "util.release.self_s" -> "s") ++
      Spans.filter(_.startsWith("dedup.")).map(s => s"$s.peak_storage_mb" -> "MB") ++
      SetupParts.map(_ -> "s") ++ Seq(
      "graph.projection.edges" -> "count",
      "streaming.add_batch_ms" -> "ms",
      "ingest_p50_ms" -> "ms",
      "ingest_docs_per_s" -> "1/s",
      "knn_p50_ms" -> "ms",
      "similarity.knn.rows_scanned" -> "count",
      "similarity.knn.recall_at_5" -> "ratio",
      "dedup.ingest_store.files" -> "count",
      "dedup.ingest_store.mb" -> "MB",
      "store_bytes_per_doc_byte" -> "ratio",
      "gc_s" -> "s",
      "spill_mb" -> "MB",
      "fail_ratio" -> "ratio",
      "trace.overhead_s" -> "s",
      "trace.unattributed_s" -> "s")

  val Workloads: Seq[String] = Seq("batch", "live_ingest")

  def workload(name: String, dir: String, seed: Long, rec: Recorder): Workload = name match {
    case "batch" => new BatchPipeline(dir, seed, rec)
    case "live_ingest" => new LiveIngest(dir, seed, rec)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Spark's non-daemon threads would keep a failed run alive, so any
    * failure outside the timed ops ends the JVM here, with no result. */
  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceRun = a("trace") == "1"
    val work = new File(a("work")).getAbsolutePath
    val dir = s"$work/$name-$seed-trace${a("trace")}"
    deleteTree(new File(dir))
    new File(dir).mkdirs()

    val rec = new Recorder
    val wl = workload(name, dir, seed, rec)
    val setupParts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def part(k: String, v: Double): Unit = setupParts.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    def since(ns: Long): Double = (System.nanoTime() - ns) / 1e9

    var spark = session(work)
    val g0 = System.nanoTime()
    wl.generate(spark)
    part("setup.gen_s", since(g0))
    val setupS = mutable.ArrayBuffer.empty[Double]
    for (rep <- 0 until Reps) {
      wl.close()
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      rec.bind(spark)
      val sessionS = since(t0)
      part("setup.session_s", sessionS)
      val t = System.nanoTime()
      rec.span("setup.register_s")(wl.setup(spark))
      setupS += sessionS + since(t)
      System.err.println(f"[perfbench] setup ${rep + 1}/$Reps: ${setupS.last}%.2f s")
    }
    val b0 = System.nanoTime()
    wl.build()
    if (wl.warmsUp) rec.span("setup.warmup_s") {
      wl.prepare(-1)
      wl.check(-1, wl.op(-1)).foreach(p => System.err.println(s"[perfbench] warm-up: $p"))
    }
    val buildAndWarmupS = since(b0)

    val peaks = mutable.ArrayBuffer.empty[Double]
    val gcs = mutable.ArrayBuffer.empty[Double]
    var gc0 = 0L
    val ops = Runner.timedLoop(seconds,
      start = (i: Int) => {
        wl.prepare(i)
        rec.op = i
        rec.tracing = traceRun
        rec.takePeakBytes()
        gc0 = gcMs()
      },
      op = (i: Int) => wl.op(i),
      end = (i: Int) => {
        peaks += rec.takePeakBytes() / 1e6
        gcs += (gcMs() - gc0) / 1e3
      },
      check = (i: Int, o: wl.Out) => wl.check(i, o))
    rec.tracing = false
    ops.zipWithIndex.foreach { case (o, i) =>
      System.err.println(f"[perfbench] op $i: ${o.wallS}%.3f s" +
        (if (o.failed) " FAILED" else ""))
    }

    val e2e = Map(
      "setup_s" -> (Stats.median(setupS.toSeq) + buildAndWarmupS),
      "wall_s" -> Stats.median(Runner.effectiveWalls(ops)),
      "peak_storage_mb" -> Stats.median(peaks.toSeq))

    val stats = rec.spanStats()
    val timed = rec.spans.filter(s => s.op >= 0 && s.traced)
    def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    val layer = mutable.LinkedHashMap.empty[String, Double]
    for (s <- Spans; (k, _) <- SpanStats)
      layer(s"$s.$k") = med(timed.filter(_.name == s).map(sp => stats(sp.id)(k)))
    layer("similarity.knn.rows_scanned") =
      med(timed.filter(_.name == "similarity.knn").map(sp => stats(sp.id)("rows_in")))
    layer("util.release.self_s") = med(timed.filter(_.name == "util.release").map(sp => stats(sp.id)("self_s")))
    for (s <- Spans if s.startsWith("dedup."))
      layer(s"$s.peak_storage_mb") = med(timed.filter(_.name == s).map(sp => stats(sp.id)("peak_storage_mb")))
    for (k <- SetupParts)
      layer(k) = med(setupParts.getOrElse(k, Nil) ++
        rec.spans.filter(s => s.op < 0 && s.name == k).map(_.seconds))
    layer("gc_s") = med(gcs)
    layer("spill_mb") = med(ops.indices.map(i =>
      timed.filter(_.op == i).map(sp => stats(sp.id)("spill_mb")).sum))
    layer("fail_ratio") = Runner.failRatio(ops)
    layer("trace.overhead_s") = med(ops.indices.map(rec.overheadNs(_) / 1e9))
    layer("trace.unattributed_s") = med(ops.indices.map(i => ops(i).wallS -
      rec.spans.filter(s => s.op == i && s.parent < 0).map(_.seconds).sum -
      rec.overheadNs(i) / 1e9))
    wl.extras().foreach { case (k, v) => layer(k) = v }

    val units = (EndToEnd ++ PerLayer).toMap
    val shown = if (traceRun) PerLayer.map(_._1).map(k => k -> layer.getOrElse(k, 0.0))
      else EndToEnd.map(_._1).map(k => k -> e2e(k))
    Json.writeSidecar(new File(s"$dir/layers.json"), name, seed, traceRun, e2e,
      layer.toMap, ops, rec.spans.toSeq)
    val failed = ops.count(_.failed)
    val line = Json.obj(Seq(
      "correct" -> Json.bool(failed == 0),
      "attempted" -> ops.length.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(shown.map { case (k, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(units(k)))) })))
    wl.close()
    spark.stop()
    println(line)
    System.out.flush()
    sys.exit(0)
  }
}
