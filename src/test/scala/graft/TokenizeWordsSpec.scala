package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TokenizeWords.tokenize_words

/** Differential spec: the codegen'd tokenizer must agree with the
  * regex path (`split` on `[^\p{L}]+` + empties filter) on everything
  * — edge cases, the fixture and reference corpora, and generated Unicode
  * incl. supplementary-plane code points.
  */
class TokenizeWordsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def regexTokens(c: org.apache.spark.sql.Column) =
    filter(split(c, "[^\\p{L}]+"), t => length(t) > 0)

  test("agrees with the regex tokenizer on generated Unicode strings") {
    import spark.implicits._
    val charGen = Gen.frequency(
      5 -> Gen.alphaChar.map(_.toString),
      2 -> Gen.oneOf(" ", ".", "1", "\n", "-", "'", "\t"),
      2 -> Gen.oneOf("æ", "ß", "ϰ", "ח", "中", "の"),
      1 -> Gen.oneOf("𝐀", "😀")) // 𝐀 (letter), 😀 (not)
    val strGen = Gen.listOf(charGen).map(_.mkString)
    val seed0 = org.scalacheck.rng.Seed(7L)
    val strings = Iterator.iterate((seed0, List.empty[String])) { case (sd, acc) =>
      val r = strGen.doPureApply(Gen.Parameters.default, sd)
      (r.seed.next, r.retrieve.get :: acc)
    }.drop(200).next()._2
    val df = strings.toDF("text")
    val diff = df.select(
        tokenize_words(col("text")).as("fast"),
        regexTokens(col("text")).as("slow"))
      .filter(not(col("fast") === col("slow")))
    assert(diff.isEmpty, diff.take(5).mkString("\n"))
  }

  test("agrees with the regex tokenizer on the whole reference corpus") {
    val docs = spark.read.text(ReferenceData.corpus)
      .withColumnRenamed("value", "text")
    val diff = docs.select(
        tokenize_words(col("text")).as("fast"),
        regexTokens(col("text")).as("slow"))
      .filter(not(col("fast") === col("slow")))
    assert(diff.isEmpty)
  }

  test("agrees with the regex path on the fixture corpus") {
    val docs = ReferenceData.fixtureDocs(spark).select(col("text"))
    val diff = docs.select(col("text"),
        tokenize_words(col("text")).as("fast"),
        regexTokens(col("text")).as("slow"))
      .filter(not(col("fast") === col("slow")))
    assert(docs.count() > 0 && diff.isEmpty, diff.take(3).mkString("\n"))
  }

  test("stays inside whole-stage codegen") {
    val df = spark.range(3).select(tokenize_words(concat(lit("a b"), col("id"))).as("t"))
    assert(df.queryExecution.executedPlan.toString.contains("*(1) Project"))
  }
}
