package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextAnalytics

/** Golden fidelity: our word count over the reference corpus must
  * reproduce /root/reference/mr-out-final line-for-line (the
  * reference's own correctness artifact — SURVEY.md §5).
  */
class WordCountGoldenSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  def corpus = ReferenceData.corpus
  def golden = ReferenceData.golden

  lazy val expected: Array[String] = {
    val src = scala.io.Source.fromFile(golden)(scala.io.Codec.UTF8)
    try src.getLines().toArray finally src.close()
  }

  test("word count matches the reference golden output exactly") {
    val counts = TextAnalytics.wordCountFiles(spark, corpus)
    val got = TextAnalytics.toOutputLines(counts).collect()
    assert(got.length == expected.length,
      s"distinct words: got ${got.length}, expected ${expected.length}")
    val mismatches = got.zip(expected).zipWithIndex.collect {
      case ((g, e), i) if g != e => s"line ${i + 1}: got [$g] expected [$e]"
    }
    assert(mismatches.isEmpty, mismatches.take(10).mkString("\n"))
  }

  test("totals match the reference cardinalities") {
    import spark.implicits._
    val counts = TextAnalytics.wordCount(TextAnalytics.documents(spark, corpus))
    val (distinct, total) = counts
      .agg(org.apache.spark.sql.functions.count($"word"),
           org.apache.spark.sql.functions.sum($"count"))
      .as[(Long, Long)].head()
    assert(distinct == 26010L)
    assert(total == 598551L)
  }

  test("count is invariant under partitioning (X1/A4 semantics)") {
    import org.apache.spark.sql.functions._
    val docs = TextAnalytics.documents(spark, corpus)
    val base = TextAnalytics.wordCount(docs)
    val repart = TextAnalytics.wordCount(docs.repartition(13))
    assert(base.except(repart).isEmpty && repart.except(base).isEmpty)
  }

  test("count is invariant under partitioning on the fixture corpus") {
    val docs = ReferenceData.fixtureDocs(spark)
    val base = TextAnalytics.wordCount(docs)
    val repart = TextAnalytics.wordCount(docs.repartition(13))
    assert(base.count() > 0)
    assert(base.except(repart).isEmpty && repart.except(base).isEmpty)
  }
}
