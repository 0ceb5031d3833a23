package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextPipeline

/** Pins for `pipe_drift` (TextPipeline.driftOf): a planted corpus
  * where one source's docs are systematically longer recomputed
  * independently in plain Scala (same bucket/JSD/integerization
  * formulas, different execution path), exact row equality asserted —
  * including the zero-P buckets that only contribute through the
  * mixture M and the top-bucket tiebreak.
  */
class DriftSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tokens(t: String): Int =
    t.split("[^\\p{L}]+").count(_.nonEmpty)

  test("planted long-doc source drifts; scalars match the Scala recompute") {
    val s = spark
    import s.implicits._
    val word = "w"
    def doc(n: Int) = Seq.fill(n)(word).mkString(" ")
    // base: 12 docs in bucket 1 and 8 in bucket 2; drifted: 10 docs
    // in bucket 9 (>=90 tokens) — a shape base never reaches
    val rows =
      (1 to 12).map(i => (i.toLong, "base", doc(15))) ++
      (13 to 20).map(i => (i.toLong, "base", doc(25))) ++
      (21 to 30).map(i => (i.toLong, "drifted", doc(95)))
    val docs = rows.toDF("doc_id", "source", "text")

    val got = TextPipeline.driftOf(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))).toMap

    // independent recompute
    val bucketed = rows.map { case (_, src, t) =>
      (src, math.min(tokens(t) / 10, 9).toLong)
    }
    val nSb = bucketed.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val nS = bucketed.groupBy(_._1).map { case (k, xs) => k -> xs.size.toLong }
    val nB = bucketed.groupBy(_._2).map { case (k, xs) => k -> xs.size.toLong }
    val nTot = bucketed.size.toDouble
    def pr4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val expected = nS.map { case (src, ns) =>
      val terms = nB.toSeq.map { case (b, nb) =>
        val p = nSb.getOrElse((src, b), 0L).toDouble / ns
        val q = nb / nTot
        val m = (p + q) / 2
        val term = ((if (p > 0) p * math.log(p / m) else 0.0) +
          q * math.log(q / m)) / 2 / math.log(2.0)
        val qi = math.floor(term * 1e6 + 0.5).toLong
        val gap = math.floor((p - q) * 1e6 + 0.5).toLong
        (b, qi, gap)
      }
      val jsd = pr4(terms.map(_._2).sum.toDouble / 1e6)
      val top = terms.maxBy { case (b, _, g) => math.abs(g) * 100 + (99 - b) }
      src -> ((ns, jsd, top._1, pr4(top._3.toDouble / 1e6)))
    }
    assert(got == expected, s"\ngot      $got\nexpected $expected")
    assert(got("drifted")._2 > got("base")._2, "drifted source must score higher")
    assert(got("drifted")._3 == 9L, "drift driven by the long bucket")
  }
}
