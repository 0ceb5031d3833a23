package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.NormalizeText.normalize_text

/** Differential spec: the codegen'd normalizer must agree with the
  * regex form it replaces —
  * trim(regexp_replace(lower(text), "[^\p{L}\p{N}]+", " ")) —
  * on edge cases, generated Unicode, and the fixture and reference
  * corpora.
  */
class NormalizeTextSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def regexNorm(c: org.apache.spark.sql.Column) =
    trim(regexp_replace(lower(c), "[^\\p{L}\\p{N}]+", " "))

  test("agrees with the regex normalizer on generated Unicode strings") {
    import spark.implicits._
    val charGen = Gen.frequency(
      5 -> Gen.alphaChar.map(_.toString),
      2 -> Gen.oneOf(" ", ".", "1", "9", "\n", "-", "'", "\t", "_"),
      2 -> Gen.oneOf("Æ", "ß", "Ϙ", "ח", "中", "の", "Ⅻ"),
      1 -> Gen.oneOf("𝐀", "😀", "٣")) // math letter, emoji, Arabic digit
    val strGen = Gen.listOf(charGen).map(_.mkString)
    val seed0 = org.scalacheck.rng.Seed(11L)
    val strings = Iterator.iterate((seed0, List.empty[String])) { case (sd, acc) =>
      val r = strGen.doPureApply(Gen.Parameters.default, sd)
      (r.seed.next, r.retrieve.get :: acc)
    }.drop(300).next()._2
    val df = ("" :: "   " :: ".,;" :: strings).toDF("text")
    val diff = df.select(col("text"),
        normalize_text(col("text")).as("fast"),
        regexNorm(col("text")).as("slow"))
      .filter(not(col("fast") === col("slow")))
    assert(diff.isEmpty, diff.take(5).mkString("\n"))
  }

  test("agrees with the regex normalizer on the whole reference corpus") {
    val docs = spark.read.text(ReferenceData.corpus)
      .withColumnRenamed("value", "text")
    val diff = docs.select(
        normalize_text(col("text")).as("fast"),
        regexNorm(col("text")).as("slow"))
      .filter(not(col("fast") === col("slow")))
    assert(diff.isEmpty)
  }

  test("agrees with the regex path on the fixture corpus") {
    val docs = ReferenceData.fixtureDocs(spark).select(col("text"))
    val diff = docs.select(col("text"),
        normalize_text(col("text")).as("fast"),
        regexNorm(col("text")).as("slow"))
      .filter(not(col("fast") === col("slow")))
    assert(docs.count() > 0 && diff.isEmpty, diff.take(3).mkString("\n"))
  }

  test("stays inside whole-stage codegen and is SQL-registered") {
    val df = spark.range(1).selectExpr("normalize_text('  A.b--C1 ') AS n")
    assert(df.head().getString(0) === "a b c1")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // whole-stage codegen span
  }
}
