package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.similarity.Ann
import graft.streaming.Streams

/** The reference's consumer path as a single-client closed loop. Set-up
  * bootstraps the fingerprint store and an IVF index over the bootstrap
  * posts and starts the ingest-gate stream. Each step then hands one crawl
  * increment to the stream, waits until its verdicts, store partition and
  * sidecars are written, appends the accepted posts to the IVF index, and
  * issues top-5 lookups; an op is [[StepsPerOp]] steps. The only workload
  * that runs `streaming` and `similarity`; `dedup` serves incremental
  * writes here, not batch reads. */
final class LiveIngest(dir: String, seed: Long, rec: Recorder) extends Workload {
  import LiveIngest._

  lazy val boot: Gen.LiveBoot = Gen.liveBoot(seed, BootDocs)
  private val incs = mutable.HashMap.empty[Int, (Gen.Docs, Array[Array[Double]])]
  private var spark: SparkSession = _
  private var query: StreamingQuery = _
  private var centroids: DataFrame = _
  private var root: String = _
  private var nextInc = 0
  private var nextBatch = 0L
  /** Ids in the IVF index, for the brute-force recall check. */
  private val indexed = mutable.ArrayBuffer.empty[(String, Array[Double])]
  private var ingestedTextBytes = 0L

  private val ingestMs = mutable.ArrayBuffer.empty[Double]
  private val ingestDocs = mutable.ArrayBuffer.empty[Int]
  private val knnMs = mutable.ArrayBuffer.empty[Double]
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val tracedBatches = mutable.ArrayBuffer.empty[Long]

  private val docSchema = StructType(Seq(StructField("doc_id", StringType),
    StructField("text", StringType)))

  def generate(s: SparkSession): Unit = {
    import s.implicits._
    val b = boot.docs
    b.ids.indices.map(i => (b.ids(i), b.text(i)))
      .toDF("doc_id", "text").write.parquet(s"$dir/boot_docs")
    b.ids.indices.map(i => (b.ids(i), b.vecs(i).toSeq))
      .toDF("post_id", "v").write.parquet(s"$dir/boot_vecs")
    new File(s"$dir/staging").mkdirs()
  }

  private def steps(i: Int): Int = if (i < 0) 1 else StepsPerOp

  /** Writes the next op's increments as JSON files in the staging
    * directory and their embeddings as parquet; the warm-up op gets one
    * small increment. */
  override def prepare(i: Int): Unit =
    (nextInc until nextInc + steps(i)).foreach(k => stage(k, warm = i < 0))

  private def stage(k: Int, warm: Boolean): Unit = {
    val s = spark
    import s.implicits._
    val (docs, queries) = if (warm) Gen.liveIncrement(seed, k, boot, WarmDocs, 1)
      else Gen.liveIncrement(seed, k, boot, IncDocs, QueriesPerInc)
    incs(k) = (docs, queries)
    val w = new PrintWriter(s"$dir/staging/inc-$k.json", "UTF-8")
    try docs.ids.indices.foreach { j =>
      w.println(Json.obj(Seq("doc_id" -> Json.str(docs.ids(j)),
        "text" -> Json.str(docs.text(j)))))
    } finally w.close()
    docs.ids.indices.map(j => (docs.ids(j), docs.vecs(j).toSeq))
      .toDF("post_id", "v").write.parquet(s"$dir/inc_vecs/$k")
  }

  private var bootDocs, bootVecs: DataFrame = _

  def warmsUp: Boolean = true

  def setup(s: SparkSession): Unit = {
    spark = s
    bootDocs = s.read.parquet(s"$dir/boot_docs")
    bootVecs = s.read.parquet(s"$dir/boot_vecs")
  }

  /** The stream, the store and the index. The stream idles until the
    * first increment lands in its topic directory. */
  override def build(): Unit = {
    val s = spark
    root = s"$dir/live"
    new File(s"$root/topic").mkdirs()
    indexed.clear()
    indexed ++= boot.docs.ids.zip(boot.docs.vecs)
    ingestedTextBytes = boot.docs.text.map(_.getBytes("UTF-8").length.toLong).sum
    nextBatch = 0L
    rec.span("setup.stream_start_s") {
      query = Streams.ingestGateSink(Streams.subscribe(s, s"$root/topic", docSchema),
          "doc_id", "text", s"$root/store", s"$root/out", s"$root/ckpt")
        .trigger(Trigger.ProcessingTime(0L))
        .start()
    }
    rec.span("setup.bootstrap_store_s") {
      Streams.bootstrapIngestStore(bootDocs, "doc_id", "text", s"$root/store")
    }
    rec.span("setup.ivf_build_s") {
      centroids = Ann.kmeansCentroids(bootVecs, "post_id", "v", NList)
      Ann.writeIvfIndex(bootVecs, "post_id", "v", centroids, s"$root/ivf")
    }
  }

  final case class Step(inc: Int, batch: Long, accepted: Array[String],
      knn: Seq[(Array[Double], Array[(String, Double)])])

  type Out = Seq[Step]

  def op(i: Int): Out = (0 until steps(i)).map(_ => step(i))

  private def step(i: Int): Step = {
    val k = nextInc
    nextInc += 1
    val batch = nextBatch
    nextBatch += 1
    val t0 = System.nanoTime()
    rec.span("streaming.ingest_batch") {
      Files.move(new File(s"$dir/staging/inc-$k.json").toPath,
        new File(s"$root/topic/inc-$k.json").toPath, StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
    }
    val accepted = rec.span("similarity.ivf_append") {
      val keep = spark.read.parquet(s"$root/out/batch=$batch")
        .filter(!col("drop_doc")).select(col("doc_id").as("post_id"))
      val acc = spark.read.parquet(s"$dir/inc_vecs/$k").join(keep, "post_id")
      val assigned = Ann.ivfAssign(acc, "post_id", "v", centroids).cache()
      assigned.write.partitionBy("cell").mode("append").parquet(s"$root/ivf")
      val ids = assigned.select("post_id").collect().map(_.getString(0))
      assigned.unpersist(blocking = false)
      ids
    }
    val ingest = (System.nanoTime() - t0) / 1e6
    val knn = incs(k)._2.toSeq.map { q =>
      val t = System.nanoTime()
      val top = rec.span("similarity.knn") {
        Ann.ivfTopKFromIndex(spark, s"$root/ivf", centroids, "post_id", "v",
          typedLit(q.toSeq), 5, NProbe).collect()
          .map(r => (r.getString(0), r.getDouble(1)))
      }
      if (i >= 0) knnMs += (System.nanoTime() - t) / 1e6
      (q, top)
    }
    if (i >= 0) {
      ingestMs += ingest
      ingestDocs += incs(k)._1.ids.length
      if (rec.tracing) tracedBatches += batch
    }
    Step(k, batch, accepted, knn)
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d, na, nb = 0.0
    var j = 0
    while (j < a.length) { d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1 }
    d / math.sqrt(na * nb)
  }

  /** Verdicts match the planted exact / near / novel labels, the store
    * and the index hold exactly the accepted posts, and each lookup
    * returns exact scores with recall@5 against brute force at or above
    * [[RecallFloor]] on average. */
  def check(i: Int, out: Out): Seq[String] = out.flatMap(checkStep(i, _))

  private def checkStep(i: Int, o: Step): Seq[String] = {
    val inc = incs(o.inc)._1
    val problems = Seq.newBuilder[String]
    val verdicts = spark.read.parquet(s"$root/out/batch=${o.batch}")
      .select("doc_id", "exact_dup", "drop_doc").collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    val wrong = inc.ids.indices.count { j =>
      val expected = inc.kind(j) match {
        case Gen.Exact => (true, true)
        case Gen.Near => (false, true)
        case _ => (false, false)
      }
      !verdicts.get(inc.ids(j)).contains(expected)
    }
    if (wrong > 0 || verdicts.size != inc.ids.length)
      problems += s"increment ${o.inc}: $wrong wrong verdicts, ${verdicts.size} of ${inc.ids.length}"
    val novel = inc.ids.indices.filter(inc.kind(_) == Gen.Novel)
    if (o.accepted.sorted.toSeq != novel.map(inc.ids(_)).sorted)
      problems += s"increment ${o.inc}: ${o.accepted.length} posts indexed, ${novel.length} novel"
    val stored = spark.read.parquet(s"$root/store/batch=${o.batch}").count()
    if (stored != novel.length)
      problems += s"increment ${o.inc}: store batch holds $stored fingerprints, ${novel.length} accepted"
    novel.foreach { j =>
      indexed += inc.ids(j) -> inc.vecs(j)
      ingestedTextBytes += inc.text(j).getBytes("UTF-8").length
    }
    val byId = indexed.toMap
    val stepRecall = o.knn.map { case (q, top) =>
      val truth = indexed.map { case (id, v) => (id, cosine(q, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSet
      if (top.length != 5 || top.exists { case (id, s) =>
          !byId.contains(id) || math.abs(cosine(q, byId(id)) - s) > 1e-9 })
        problems += s"increment ${o.inc}: a lookup returned ${top.length} rows or inexact scores"
      top.count(t => truth(t._1)) / 5.0
    }
    if (i >= 0) recalls ++= stepRecall
    val mean = stepRecall.sum / stepRecall.length
    if (mean < RecallFloor)
      problems += f"increment ${o.inc}: recall@5 $mean%.2f below $RecallFloor"
    problems.result()
  }

  override def close(): Unit = if (query != null) { query.stop(); query = null }

  /** Store size counts the fingerprint partitions and their idx/bloom
    * sidecars, which trade bytes for cheaper gate reads. */
  def extras(): Map[String, Double] = {
    rec.drain()
    val walk = Files.walk(new File(s"$root/store").toPath)
    val storeFiles = try walk.iterator.asScala.filter(Files.isRegularFile(_)).toVector
      finally walk.close()
    val storeBytes = storeFiles.map(Files.size).sum
    val addBatch = tracedBatches.flatMap(b => rec.progress.addBatchMs.get(b)).map(_.toDouble)
    Map(
      "streaming.add_batch_ms" -> (if (addBatch.isEmpty) 0.0 else Stats.median(addBatch.toSeq)),
      "ingest_p50_ms" -> Stats.median(ingestMs.toSeq),
      "ingest_docs_per_s" -> ingestDocs.sum / (ingestMs.sum / 1e3),
      "knn_p50_ms" -> Stats.median(knnMs.toSeq),
      "similarity.knn.recall_at_5" -> (if (recalls.isEmpty) 0.0 else recalls.sum / recalls.length),
      "dedup.ingest_store.files" -> storeFiles.length.toDouble,
      "dedup.ingest_store.mb" -> storeBytes / 1e6,
      "store_bytes_per_doc_byte" -> storeBytes.toDouble / ingestedTextBytes)
  }
}

object LiveIngest {
  val BootDocs = 2000
  val StepsPerOp = 2
  val IncDocs = 500
  val WarmDocs = 100
  /** Top-5 lookups after each increment. An assumption: the reference
    * reports top-5 results but no lookup rate. */
  val QueriesPerInc = 4
  val NList = 16
  val NProbe = 3
  /** Mean recall@5 of one increment's lookups must reach this. */
  val RecallFloor = 0.6
}
