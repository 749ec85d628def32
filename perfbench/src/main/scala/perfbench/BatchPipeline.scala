package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.{VectorFunctions, VectorMean}
import graft.graph.{GraphAlgos, KCore, Leiden, Louvain, Projection}
import graft.metrics.CommunityMetrics
import graft.util.BlockRelease
import graft.warehouse.Scd2

/** The engine's batch side as one job. First the paper's EP2 path on a
  * crawl with planted communities: co-engagement projection, four
  * community detectors, per-user ideology vectors, structure / modularity
  * / ECS / homophily, and the SCD-2 membership merge written to parquet.
  * Then the four compact near-dup group forms over a crawl corpus of
  * light families and a templated boilerplate minority, whose dense band
  * buckets give the density-gated star path work.
  *
  * `graph`, `functions`, `metrics`, `warehouse` and the group forms of
  * `dedup` do the work; `streaming` and `similarity` never run, so
  * [[LiveIngest]] is the workload that bypasses all of them. A batch job
  * runs in a fresh JVM, so its users pay class loading and JIT compilation
  * on every run: the op is timed cold, with no warm-up. */
final class BatchPipeline(dir: String, seed: Long, rec: Recorder) extends Workload {
  import BatchPipeline._

  lazy val crawl: Gen.Crawl = Gen.crawl(seed, Users, Communities, LikesPerUser)
  lazy val corpus: Gen.Corpus = Gen.corpus(seed, Docs)
  private var spark: SparkSession = _
  private var likes, posts, membership, docs: DataFrame = _

  def warmsUp: Boolean = false

  def generate(s: SparkSession): Unit = {
    import s.implicits._
    val c = crawl
    c.likeUser.indices.map(i => (c.likeUser(i).toLong, c.likePost(i).toLong))
      .toDF("user", "post").write.parquet(s"$dir/likes")
    c.postVecs.indices.map(p => (p.toLong, c.postVecs(p).toSeq))
      .toDF("post", "v").write.parquet(s"$dir/posts")
    val rows = (0 until c.users).flatMap { u =>
      val open = (u.toLong, c.prevLabel(u).toLong, Since, null: Timestamp)
      if (c.closedHistory(u)) Seq((u.toLong, -1L, Origin, Since), open) else Seq(open)
    }
    rows.toDF("user", "label", "valid_from", "valid_to").write.parquet(s"$dir/membership")
    val d = corpus
    d.ids.indices.map(j => (d.ids(j), d.source(j), d.text(j)))
      .toDF("doc_id", "source", "text").write.parquet(s"$dir/docs")
  }

  def setup(s: SparkSession): Unit = {
    spark = s
    likes = s.read.parquet(s"$dir/likes")
    posts = s.read.parquet(s"$dir/posts")
    membership = s.read.parquet(s"$dir/membership")
    docs = s.read.parquet(s"$dir/docs")
  }

  final case class Echo(edges: Long, weight: Double, detectors: Map[String, Array[(Long, Long)]],
      vecCount: Long, vecNormSq: Double, structureRows: Array[Row],
      modularity: Double, ecsRows: Array[Row], homophily: Row,
      scd2Path: String)

  /** Per group form: (doc_id, canon_id, group_size) of every document. */
  type Groups = Seq[(String, Array[(Long, Long, Long)])]

  type Out = (Echo, Groups)

  def op(i: Int): Out = (echo(), groups())

  private def labels(df: DataFrame, label: String): Array[(Long, Long)] =
    df.select(col("node").cast("long"), col(label).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  private def echo(): Echo = {
    // building the cache computes every column; the digest it returns is
    // what the check compares against the generator's own projection
    val (edges, digest) = rec.span("graph.projection") {
      val e = Projection.coEngagementSalted(likes, "user", "post").cache()
      (e, e.agg(count(lit(1)), sum(col("weight"))).head())
    }
    val (louvainDf, louvain) = rec.span("graph.louvain") {
      val d = Louvain.run(edges)
      (d, labels(d, "label"))
    }
    val leiden = rec.span("graph.leiden")(labels(Leiden.run(edges), "label"))
    val lpa = rec.span("graph.lpa")(labels(GraphAlgos.labelPropagationDF(edges), "label"))
    val kcore = rec.span("graph.kcore")(labels(KCore.run(edges), "core"))
    val (userVecs, vecDigest) = rec.span("functions.user_vectors") {
      val v = likes.join(posts, "post")
        .groupBy(col("user")).agg(VectorMean(col("v")).as("m"))
        .select(col("user").as("node"), VectorFunctions.l2normalize(col("m")).as("v"))
        .cache()
      (v, v.agg(count(lit(1)), sum(VectorFunctions.normSq(col("v")))).head())
    }
    val (structure, modularity) = rec.span("metrics.community") {
      (CommunityMetrics.structure(edges, louvainDf).collect(),
        CommunityMetrics.modularity(edges, louvainDf).head().getDouble(0))
    }
    val (ecs, homophily) = rec.span("metrics.embedding") {
      val members = louvainDf.join(userVecs, "node").select(col("label"), col("v"))
      (CommunityMetrics.ecs(members).collect(),
        CommunityMetrics.homophily(edges, userVecs).head())
    }
    val scd2Path = s"$dir/scd2_out"
    rec.span("warehouse.scd2") {
      Scd2.scd2Merge(membership,
        louvainDf.select(col("node").as("user"), col("label")), "user",
        lit(Merged)).write.mode("overwrite").parquet(scd2Path)
    }
    rec.span("util.release")(BlockRelease.release(Seq(edges, userVecs)))
    Echo(digest.getLong(0), digest.getDouble(1),
      Map("louvain" -> louvain, "leiden" -> leiden, "lpa" -> lpa, "kcore" -> kcore),
      vecDigest.getLong(0), vecDigest.getDouble(1), structure, modularity, ecs,
      homophily, scd2Path)
  }

  private val forms: Seq[(String, DataFrame => DataFrame)] = Seq(
    "dedup.minhash_groups" -> (d => Dedup.minhashNearDupGroups(d, "doc_id", "text",
      threshold = 0.5)),
    "dedup.jaccard_groups" -> (d => Dedup.jaccardNearDupGroups(d, "doc_id", "text",
      scopeCol = "source", threshold = 0.5, n = 3)),
    "dedup.simhash_groups" -> (d => Dedup.simhashNearDupGroupsMd5(d, "doc_id", "text",
      maxDist = 3)),
    "dedup.cosine_groups" -> (d => Dedup.shingleCosineGroups(d, "doc_id", "text",
      scopeCol = "source", tauCos = 0.6, n = 3)))

  private def groups(): Groups = forms.map { case (name, form) =>
    val (df, rows) = rec.span(name) {
      val g = form(docs)
      (g, g.select("doc_id", "canon_id", "group_size").collect()
        .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
          r.getAs[Number](2).longValue)))
    }
    rec.span("util.release")(BlockRelease.release(df))
    name -> rows
  }

  def check(i: Int, out: Out): Seq[String] = checkEcho(out._1) ++ checkGroups(out._2)

  private def checkEcho(o: Echo): Seq[String] = {
    val c = crawl
    val problems = Seq.newBuilder[String]
    def expect(ok: Boolean, what: => String): Unit = if (!ok) problems += what
    expect(o.edges == c.edges.size && o.weight == c.totalWeight.toDouble,
      s"projection: ${o.edges} edges / weight ${o.weight}, expected " +
        s"${c.edges.size} / ${c.totalWeight}")
    o.detectors.foreach { case (name, ls) =>
      expect(ls.length == c.nodes.size && ls.map(_._1).toSet == c.nodes,
        s"$name: ${ls.length} labels for ${c.nodes.size} nodes, not one each")
    }
    val planted = c.modularity(u => c.userComm(u.toInt).toLong)
    Seq("louvain", "leiden").foreach { name =>
      val m = o.detectors(name).toMap
      val q = c.modularity(m)
      expect(q >= planted - ModularityTolerance,
        f"$name modularity $q%.4f below planted $planted%.4f - $ModularityTolerance")
      if (name == "louvain") expect(math.abs(o.modularity - q) < 1e-6,
        f"metrics modularity ${o.modularity}%.6f for louvain, recomputed $q%.6f")
    }
    val leiden = o.detectors("leiden")
    leiden.groupBy(_._2).foreach { case (label, members) =>
      val in = members.map(_._1).toSet
      val seen = scala.collection.mutable.HashSet(members.head._1)
      val stack = scala.collection.mutable.Stack(members.head._1)
      while (stack.nonEmpty) c.adjacency(stack.pop()).foreach { n =>
        if (in(n) && seen.add(n)) stack.push(n) }
      expect(seen.size == in.size, s"leiden community $label is not connected")
    }
    expect(o.detectors("kcore").forall(_._2 >= 1), "kcore: a node with core < 1")
    val louvainLabels = o.detectors("louvain").map(_._2).distinct
    expect(o.structureRows.length == louvainLabels.length,
      s"structure: ${o.structureRows.length} rows for ${louvainLabels.length} communities")
    expect(o.ecsRows.length == louvainLabels.length &&
        o.ecsRows.map(_.getAs[Number]("label").longValue).toSet == louvainLabels.toSet,
      s"ecs: ${o.ecsRows.length} rows for ${louvainLabels.length} communities")
    val likers = c.likeUser.distinct.length
    expect(o.vecCount == likers && math.abs(o.vecNormSq - likers) < 1e-6 * likers,
      s"user vectors: ${o.vecCount} rows, sum |v|^2 ${o.vecNormSq}, expected $likers unit vectors")
    expect(o.homophily.getLong(1) == c.edges.size && o.homophily.getDouble(0) > 0.0,
      s"homophily: ${o.homophily}")
    val scd = spark.read.parquet(o.scd2Path)
    val open = scd.filter(col("valid_to").isNull).groupBy(col("user")).count()
    val bad = open.filter(col("count") =!= 1).count()
    val openUsers = open.count()
    expect(bad == 0 && openUsers == c.users,
      s"scd2: $openUsers users with an open interval of ${c.users}, $bad with several")
    problems.result()
  }

  /** Each planted family lands in one group, no group spans two families,
    * every document appears once, and group sizes match the groups. */
  private def checkGroups(out: Groups): Seq[String] = {
    val c = corpus
    val family = c.ids.indices.map(j => c.ids(j) -> c.family(j)).toMap
    out.flatMap { case (name, rows) =>
      val canon = rows.map(r => r._1 -> r._2).toMap
      val sizes = rows.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
      val split = c.ids.indices.groupBy(c.family(_)).count { case (_, js) =>
        js.map(j => canon.get(c.ids(j))).distinct.length != 1 }
      val mixed = rows.groupBy(_._2).count { case (_, ms) =>
        ms.map(m => family(m._1)).distinct.length != 1 }
      val badSize = rows.count(r => sizes(r._2) != r._3)
      Seq(
        (rows.length != c.ids.length || canon.size != c.ids.length) ->
          s"$name: ${rows.length} rows for ${c.ids.length} documents",
        (split > 0) -> s"$name: $split planted families split across groups",
        (mixed > 0) -> s"$name: $mixed groups span two families",
        (badSize > 0) -> s"$name: $badSize rows with a wrong group_size")
        .collect { case (true, p) => p }
    }
  }

  def extras(): Map[String, Double] =
    Map("graph.projection.edges" -> crawl.edges.size.toDouble)
}

object BatchPipeline {
  val Users = 1000
  val Communities = 30
  val LikesPerUser = 10
  val Docs = 2000
  /** Louvain and Leiden must reach the planted partition's modularity less
    * this much. */
  val ModularityTolerance = 0.02
  private val Origin = Timestamp.valueOf("2025-01-01 00:00:00")
  private val Since = Timestamp.valueOf("2025-06-01 00:00:00")
  private val Merged = Timestamp.valueOf("2025-07-01 00:00:00")
}
