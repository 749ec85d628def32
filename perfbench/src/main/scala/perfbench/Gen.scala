package perfbench

import java.security.MessageDigest

import scala.collection.mutable

/** Seeded, deterministic input generators.
  *
  * Everything here is plain Scala over `java.util.Random(seed)`: the same
  * seed gives identical inputs, and the program under test only ever sees
  * the parquet / JSON files each workload writes from these values. The
  * generators also keep the planted ground truth (communities, near-dup
  * families, ingest verdicts) that the output checks compare against.
  */
object Gen {

  /** Post-embedding width of the reference's sentence model. */
  val Dim = 384

  /** Likers kept per post, the reference crawler's MAX_LIKERS. */
  val MaxLikers = 20

  private val Vocab = 30000

  def token(r: java.util.Random): String = "t" + r.nextInt(Vocab)

  def randomText(r: java.util.Random, minTokens: Int, maxTokens: Int): Array[String] =
    Array.fill(minTokens + r.nextInt(maxTokens - minTokens + 1))(token(r))

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.iterator.map(x => x * x).sum)
    v.map(_ / n)
  }

  def gaussian(r: java.util.Random, dim: Int): Array[Double] =
    Array.fill(dim)(r.nextGaussian())

  /** Unit vector `noise` away from `centre`, which is itself unit. */
  def around(r: java.util.Random, centre: Array[Double], noise: Double): Array[Double] = {
    val s = noise / math.sqrt(centre.length.toDouble)
    unit(centre.map(_ + s * r.nextGaussian()))
  }

  // ---- batch, first half: a Bluesky-shaped like crawl with planted communities ----

  /** Users, each the author of one post (post id = author id), who like
    * posts mostly inside their own planted community.
    *
    * @param userComm planted community of each user (and of their post)
    * @param likeUser / likePost the like edges, at most [[MaxLikers]] per post
    * @param postVecs unit post embeddings clustered by community
    * @param prevLabel each user's label in the previous SCD-2 snapshot
    */
  final case class Crawl(userComm: Array[Int], likeUser: Array[Int],
      likePost: Array[Int], postVecs: Array[Array[Double]],
      prevLabel: Array[Int], closedHistory: Array[Boolean]) {
    def users: Int = userComm.length

    /** Co-engagement weights computed independently of the program:
      * key = src * users + dst with src < dst. */
    lazy val edges: mutable.LongMap[Int] = {
      val likers = Array.fill(users)(mutable.ArrayBuffer.empty[Int])
      likeUser.indices.foreach(i => likers(likePost(i)) += likeUser(i))
      val m = mutable.LongMap.empty[Int]
      likers.foreach { ls =>
        val a = ls.distinct.sorted
        var i = 0
        while (i < a.length) {
          var j = i + 1
          while (j < a.length) {
            val k = a(i).toLong * users + a(j)
            m.update(k, m.getOrElse(k, 0) + 1)
            j += 1
          }
          i += 1
        }
      }
      m
    }

    /** Users with at least one co-engagement edge: the projection's nodes. */
    lazy val nodes: Set[Long] = edges.keysIterator.flatMap(k =>
      Iterator(k / users, k % users)).toSet

    lazy val totalWeight: Long = edges.valuesIterator.map(_.toLong).sum

    /** Modularity of a labelling over [[edges]]. */
    def modularity(label: Long => Long): Double = {
      val m = totalWeight.toDouble
      var intra = 0.0
      val deg = mutable.HashMap.empty[Long, Double]
      edges.foreach { case (k, w) =>
        val (a, b) = (k / users, k % users)
        val (la, lb) = (label(a), label(b))
        if (la == lb) intra += w
        deg(la) = deg.getOrElse(la, 0.0) + w
        deg(lb) = deg.getOrElse(lb, 0.0) + w
      }
      intra / m - deg.valuesIterator.map(d => d * d).sum / (4 * m * m)
    }

    /** Adjacency lists over [[edges]], for the connectivity check. */
    lazy val adjacency: Map[Long, Array[Long]] = {
      val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
      edges.keysIterator.foreach { k =>
        val (a, b) = (k / users, k % users)
        adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
        adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
      }
      adj.iterator.map { case (k, v) => k -> v.toArray }.toMap
    }
  }

  /** Share of a user's likes that go to their own community's posts. An
    * assumption: the reference publishes no such figure. */
  private val OwnCommunityLikes = 0.8

  /** Share of users whose previous SCD-2 history holds a closed interval
    * before the open one. An assumption, like [[OwnCommunityLikes]]. */
  private val ClosedHistory = 0.3

  def crawl(seed: Long, users: Int, communities: Int, likesPerUser: Int): Crawl = {
    val r = new java.util.Random(seed)
    val userComm = Array.fill(users)(r.nextInt(communities))
    val byComm = userComm.indices.groupBy(userComm(_)).map { case (c, ps) =>
      c -> ps.toArray }
    val likers = new Array[Int](users)
    val lu = mutable.ArrayBuilder.make[Int]
    val lp = mutable.ArrayBuilder.make[Int]
    for (u <- 0 until users) {
      val chosen = mutable.HashSet.empty[Int]
      var attempts = 0
      while (chosen.size < likesPerUser && attempts < 20 * likesPerUser) {
        attempts += 1
        val own = byComm(userComm(u))
        val p = if (r.nextDouble() < OwnCommunityLikes) own(r.nextInt(own.length))
          else r.nextInt(users)
        if (p != u && likers(p) < MaxLikers && chosen.add(p)) {
          likers(p) += 1
          lu += u
          lp += p
        }
      }
    }
    val centres = Array.fill(communities)(unit(gaussian(r, Dim)))
    val postVecs = userComm.map(c => around(r, centres(c), 1.0))
    // the previous run's labels: the planted community, relabelled, with a
    // closed interval before it for some users
    val prevLabel = userComm.map(_ + 1000)
    val closed = Array.fill(users)(r.nextDouble() < ClosedHistory)
    Crawl(userComm, lu.result(), lp.result(), postVecs, prevLabel, closed)
  }

  // ---- batch, second half: a crawl corpus with planted near-dup families ----

  /** Documents with their planted family: every document of a family is a
    * near-duplicate of the family's first document under all four group
    * relations, and documents of different families share nothing. */
  final case class Corpus(ids: Array[Long], source: Array[String],
      text: Array[String], family: Array[Int])

  /** 64-bit md5 SimHash over lowercased whitespace tokens, the
    * fingerprint `Dedup.simhashNearDupGroupsMd5` compares: bit j sums
    * +1/-1 over tokens of bit j of md5(token) (bytes 4..7 for j < 32,
    * bytes 0..3 above) and is set when the sum is positive. Used only to
    * pick edits that keep planted copies within Hamming distance 3. */
  def simhash(text: String): Long =
    fingerprint(sums(text.trim.toLowerCase.split("\\s+")))

  /** One token's +1/-1 vote per SimHash bit. */
  private def votes(t: String): Array[Int] = {
    val d = MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
    def word(o: Int): Long = ((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) |
      ((d(o + 2) & 0xffL) << 8) | (d(o + 3) & 0xffL)
    val (hi, lo) = (word(0), word(4))
    Array.tabulate(64) { j =>
      if (((if (j < 32) lo >> j else hi >> (j - 32)) & 1L) == 1L) 1 else -1 }
  }

  private def sums(tokens: Array[String]): Array[Int] = {
    val s = new Array[Int](64)
    tokens.foreach { t => val v = votes(t); var j = 0; while (j < 64) { s(j) += v(j); j += 1 } }
    s
  }

  private def fingerprint(s: Array[Int]): Long =
    (0 until 64).foldLeft(0L)((fp, j) => if (s(j) > 0) fp | (1L << j) else fp)

  /** `base` (lowercase tokens) with one token replaced, chosen so the
    * SimHash moves by at most 3 bits; the unchanged copy when no such
    * edit turns up. */
  def nearCopy(r: java.util.Random, base: Array[String], positions: Seq[Int]): Array[String] = {
    val s0 = sums(base)
    val fp = fingerprint(s0)
    var attempt = 0
    while (attempt < 64) {
      attempt += 1
      val p = positions(r.nextInt(positions.length))
      val t = token(r)
      val (out, in) = (votes(base(p)), votes(t))
      val s = Array.tabulate(64)(j => s0(j) - out(j) + in(j))
      if (java.lang.Long.bitCount(fingerprint(s) ^ fp) <= 3) {
        val c = base.clone()
        c(p) = t
        return c
      }
    }
    base.clone()
  }

  /** `docs` documents: about 30% in light families of 2–4 copies, 12% in
    * templated boilerplate families of at least 100 documents each, the
    * rest singletons. Ids are shuffled so families are not contiguous. */
  private val Sources = 6

  def corpus(seed: Long, docs: Int): Corpus = {
    val r = new java.util.Random(seed)
    val text = mutable.ArrayBuffer.empty[String]
    val src = mutable.ArrayBuffer.empty[String]
    val fam = mutable.ArrayBuffer.empty[Int]
    var family = 0
    def add(t: Array[String], s: String): Unit = {
      text += t.mkString(" "); src += s; fam += family
    }
    val templated = docs * 12 / 100
    val templates = math.max(1, templated / 100)
    for (f <- 0 until templates) {
      val tpl = randomText(r, 50, 50)
      val slots = Seq(5, 17, 41)
      val s = s"src${r.nextInt(Sources)}"
      add(tpl, s)
      val members = templated / templates + (if (f < templated % templates) 1 else 0)
      for (_ <- 1 until members) add(nearCopy(r, tpl, slots), s)
      family += 1
    }
    val light = docs * 30 / 100
    while (text.length < templated + light) {
      val base = randomText(r, 40, 60)
      val s = s"src${r.nextInt(Sources)}"
      add(base, s)
      val copies = 1 + r.nextInt(3)
      for (_ <- 0 until copies if text.length < templated + light)
        add(if (r.nextDouble() < 0.3) base else nearCopy(r, base, base.indices), s)
      family += 1
    }
    while (text.length < docs) {
      add(randomText(r, 40, 60), s"src${r.nextInt(Sources)}")
      family += 1
    }
    val order = shuffled(r, docs)
    Corpus(order.map(i => i.toLong + 1), order.map(src), order.map(text),
      order.map(fam))
  }

  private def shuffled(r: java.util.Random, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  // ---- live_ingest: a bootstrapped store plus crawl increments ----

  val Novel: Byte = 0
  val Exact: Byte = 1
  val Near: Byte = 2

  final case class Docs(ids: Array[String], text: Array[String],
      vecs: Array[Array[Double]], kind: Array[Byte])

  /** The already-deduplicated corpus the store and the index start from,
    * with the community centres its embeddings cluster around. */
  final case class LiveBoot(docs: Docs, centres: Array[Array[Double]])

  private val LiveCommunities = 32

  def liveBoot(seed: Long, n: Int): LiveBoot = {
    val r = new java.util.Random(seed)
    val centres = Array.fill(LiveCommunities)(unit(gaussian(r, Dim)))
    val b = Array.fill(n)((randomText(r, 40, 60).mkString(" "),
      around(r, centres(r.nextInt(LiveCommunities)), 1.0)))
    LiveBoot(Docs(Array.tabulate(n)(i => s"b$i"), b.map(_._1), b.map(_._2),
      Array.fill(n)(Novel)), centres)
  }

  /** Shares of exact and near copies in a crawl increment. The repo's
    * ingest-gate record (BENCH_LOCAL_r13.md, section 1.2) names a
    * 100%-novel batch the production crawl-increment shape; an increment
    * here plants only enough copies to keep the verdict check meaningful. */
  val ExactShare = 0.02
  val NearShare = 0.02

  /** Crawl increment `k` of `n` posts, drawn from its own stream of the
    * seed so a run can make as many as it needs: at least one exact copy
    * and one near copy, then novel posts. Exact copies are whitespace/case
    * variants of a bootstrap post (same normalized md5), near copies
    * replace its last token (all but one 8-gram shared), novel posts are
    * fresh text. Copies repost the source's embedding. Also returns the
    * kNN query vectors issued after the increment. */
  def liveIncrement(seed: Long, k: Int, boot: LiveBoot, n: Int,
      queries: Int): (Docs, Array[Array[Double]]) = {
    val r = new java.util.Random(seed * 1000003L + k)
    val b = boot.docs
    val exact = math.max(1, math.round(n * ExactShare).toInt)
    val near = math.max(1, math.round(n * NearShare).toInt)
    val rows = Array.tabulate(n) { j =>
      val id = s"i${k}_$j"
      if (j < exact) {
        val s = r.nextInt(b.ids.length)
        val t = b.text(s).split(" ").map(w =>
          if (r.nextBoolean()) w.toUpperCase else w).mkString("  ")
        (id, " " + t, b.vecs(s), Exact)
      } else if (j < exact + near) {
        val s = r.nextInt(b.ids.length)
        val toks = b.text(s).split(" ")
        var t = token(r)
        while (t == toks.last) t = token(r)
        toks(toks.length - 1) = t
        (id, toks.mkString(" "), b.vecs(s), Near)
      } else {
        (id, randomText(r, 40, 60).mkString(" "),
          around(r, boot.centres(r.nextInt(boot.centres.length)), 1.0), Novel)
      }
    }
    val qs = Array.fill(queries)(around(r, b.vecs(r.nextInt(b.ids.length)), 0.3))
    (Docs(rows.map(_._1), rows.map(_._2), rows.map(_._3), rows.map(_._4)), qs)
  }
}
