package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StreamGenSpec extends AnyFunSuite {

  test("the same seed gives the same input, another seed another") {
    val a = StreamGen(500, 100, 7L)
    val b = StreamGen(500, 100, 7L)
    assert(a.texts.sameElements(b.texts) && a.repeatOf.sameElements(b.repeatOf) &&
      a.nearOf.sameElements(b.nearOf) && a.resends == b.resends)
    assert(!StreamGen(500, 100, 8L).texts.sameElements(a.texts))
  }

  test("every repeat copies a first-seen text inside the watermark horizon") {
    val g = StreamGen(2000, 250, 3L)
    val repeats = (0 until g.n).filter(g.repeatOf(_) >= 0)
    assert(repeats.nonEmpty)
    repeats.foreach { i =>
      val base = g.repeatOf(i)
      assert(g.repeatOf(base) < 0 && g.texts(i) == g.texts(base))
      // 10 s horizon at 100 docs per event-time second
      assert(g.tsMs(i) - g.tsMs(base) < 10000L)
    }
    assert(g.firstSeenIds(g.n).size + g.repeatIds(g.n).size == g.n)
    // first-seen texts are pairwise distinct, in every prefix
    Seq(250, 1000, g.n).foreach { upTo =>
      val first = g.firstSeenIds(upTo)
      assert(first.map(id => g.texts((id - 1).toInt)).size == first.size)
      assert(first.size + g.repeatIds(upTo).size == upTo)
    }
  }

  test("near-duplicates carry an original's tokens under another text") {
    val g = StreamGen(2000, 250, 3L)
    val tokens = (i: Int) => g.texts(i).split("[^\\p{L}]+").filter(_.nonEmpty).toSeq
    val near = (0 until g.n).filter(g.nearOf(_) >= 0)
    assert(near.nonEmpty)
    near.foreach { i =>
      val o = g.nearOf(i)
      assert(g.repeatOf(i) < 0 && g.repeatOf(o) < 0 && g.nearOf(o) < 0)
      assert(tokens(i) == tokens(o) && g.texts(i) != g.texts(o))
      assert(g.tsMs(i) - g.tsMs(o) < 10000L)
    }
    val pairs = g.nearPairs(g.n)
    assert(pairs.size >= near.size && pairs.forall { case (a, b) => a < b })
    assert(pairs.flatMap { case (a, b) => Seq(a, b) }.intersect(g.repeatIds(g.n)).isEmpty)
    // a prefix only pairs documents inside it
    assert(g.nearPairs(500).forall { case (a, b) => b <= 500 } &&
      g.nearPairs(500).subsetOf(pairs))
  }

  test("batches partition the ids; re-sends come from the batch before") {
    val g = StreamGen(1000, 300, 5L)
    assert(g.batches.flatten == (0 until 1000))
    assert(g.batches.map(_.size) == Seq(300, 300, 300, 100))
    assert(g.resends.head.isEmpty)
    g.resends.zipWithIndex.drop(1).foreach { case (r, b) =>
      assert(r.forall(g.batches(b - 1).contains))
    }
  }
}
