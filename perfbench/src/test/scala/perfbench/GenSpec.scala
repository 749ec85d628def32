package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives the same inputs, another seed different ones") {
    val (a, b, c) = (Gen.crawl(7, 300, 10, 10), Gen.crawl(7, 300, 10, 10),
      Gen.crawl(8, 300, 10, 10))
    assert(a.likeUser.sameElements(b.likeUser) && a.likePost.sameElements(b.likePost))
    assert(a.postVecs.zip(b.postVecs).forall { case (x, y) => x.sameElements(y) })
    assert(!a.likePost.sameElements(c.likePost))

    val (d, e) = (Gen.corpus(7, 500), Gen.corpus(7, 500))
    assert(d.text.sameElements(e.text) && d.family.sameElements(e.family) &&
      d.ids.sameElements(e.ids))
    assert(!d.text.sameElements(Gen.corpus(8, 500).text))

    val boot = Gen.liveBoot(7, 100)
    assert(boot.docs.text.sameElements(Gen.liveBoot(7, 100).docs.text))
    val (i1, q1) = Gen.liveIncrement(7, 3, boot, 50, 2)
    val (i2, q2) = Gen.liveIncrement(7, 3, boot, 50, 2)
    assert(i1.text.sameElements(i2.text) && i1.kind.sameElements(i2.kind))
    assert(q1.zip(q2).forall { case (x, y) => x.sameElements(y) })
    assert(!i1.text.sameElements(Gen.liveIncrement(7, 4, boot, 50, 2)._1.text))
  }

  test("crawl keeps at most MaxLikers likers per post") {
    val c = Gen.crawl(1, 500, 5, 30)
    assert(c.likePost.groupBy(identity).values.map(_.length).max <= Gen.MaxLikers)
  }

  test("every planted copy is within SimHash distance 3 of its family's first document") {
    val c = Gen.corpus(3, 1500)
    val byFamily = c.ids.indices.groupBy(c.family(_))
    assert(byFamily.values.exists(_.length >= 100), "no templated family of 100+")
    byFamily.foreach { case (family, members) =>
      val fps = members.map(j => Gen.simhash(c.text(j)))
      // the family's first document is one of them
      assert(fps.exists(f => fps.forall(g => java.lang.Long.bitCount(f ^ g) <= 3)),
        s"family $family")
    }
  }

  test("planted live verdict kinds: exact copies normalize equal, near copies differ in one token") {
    val boot = Gen.liveBoot(5, 200)
    val (inc, _) = Gen.liveIncrement(5, 0, boot, 300, 1)
    def norm(t: String) = t.trim.toLowerCase.split("\\s+").mkString(" ")
    val texts = boot.docs.text.toSet
    inc.ids.indices.foreach { j =>
      inc.kind(j) match {
        case Gen.Exact => assert(texts(norm(inc.text(j))))
        case Gen.Near =>
          val toks = inc.text(j).split(" ")
          assert(!texts(inc.text(j)) &&
            boot.docs.text.exists(t => t.split(" ").init.sameElements(toks.init)))
        case _ => assert(!texts(norm(inc.text(j))))
      }
    }
    assert(Set(Gen.Exact, Gen.Near, Gen.Novel).subsetOf(inc.kind.toSet))
  }
}
