package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ApproxTopK.approx_top_k
import graft.functions.CrossEngine.tokens

/** Space-saving aggregate: the presence guarantee (every term with
  * true count > N/capacity is in the summary) on the real 26k-word
  * reference corpus and on the fixture corpus, overestimation (sketch
  * count >= true count), and partitioning invariance of the
  * guaranteed set.
  */
class ApproxTopKSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def refWords = spark.read.text(ReferenceData.corpus)
    .select(explode(tokens(col("value"))).as("word"))

  private def fixtureWords = ReferenceData.fixtureDocs(spark)
    .select(explode(tokens(col("text"))).as("word"))

  private def presence(source: DataFrame, cap: Int): Unit = {
    val words = source.cache()
    try {
      val n = words.count()
      val sketch = words.agg(approx_top_k(col("word"), cap).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h.term").as("word"), col("h.cnt").as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(sketch.size <= cap)
      val exact = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * cap > n)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(exact.nonEmpty, "corpus should have heavy hitters at this capacity")
      val missing = exact.keySet -- sketch.keySet
      assert(missing.isEmpty, s"guaranteed heavy hitters missing: $missing")
      // space-saving never undercounts a surviving term
      exact.foreach { case (t, c) => assert(sketch(t) >= c, s"$t under-counted") }
    } finally words.unpersist()
  }

  test("presence guarantee on the reference corpus (26k distinct words)") {
    presence(refWords, cap = 256)
  }

  // the fixture corpus has ~80 distinct words, so its capacity stays
  // below that: the sketch must evict for the guarantee to be tested
  test("presence guarantee on the fixture corpus") {
    presence(fixtureWords, cap = 32)
  }

  /** The guaranteed set at 2 and at 13 partitions. */
  private def guaranteedAt(source: DataFrame, cap: Int): (Set[String], Set[String]) = {
    def guaranteed(parts: Int): Set[String] = {
      val words = source.repartition(parts)
      val n = words.count()
      val cands = words.agg(approx_top_k(col("word"), cap).as("hh"))
        .select(explode(col("hh")).as("h")).select(col("h.term").as("word"))
      words.join(broadcast(cands), "word")
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * cap > n)
        .collect().map(_.getString(0)).toSet
    }
    (guaranteed(2), guaranteed(13))
  }

  test("guaranteed set is partitioning-invariant") {
    val (two, thirteen) = guaranteedAt(refWords, cap = 128)
    assert(two === thirteen)
  }

  test("guaranteed set is partitioning-invariant on the fixture corpus") {
    val (two, thirteen) = guaranteedAt(fixtureWords, cap = 32)
    assert(two.nonEmpty && two === thirteen)
  }

  test("registered in SQL") {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    Seq("a", "b", "a", "c", "a").toDF("w").createOrReplaceTempView("hh_in")
    val top = spark.sql(
      "SELECT approx_top_k(w, 8) AS hh FROM hh_in")
      .selectExpr("hh[0].term", "hh[0].cnt").head()
    assert(top.getString(0) === "a" && top.getLong(1) === 3L)
  }
}
