package graft

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{MapReduceJob, TextAnalytics, WordCountJob}

/** The plugin surface (SURVEY §2.9): differential test against the
  * built-in pipeline, plus a second job proving the API generalizes.
  */
class MapReduceJobSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("WordCountJob matches the TextAnalytics pipeline on the reference corpus") {
    import spark.implicits._
    val corpus = ReferenceData.corpus
    val viaJob = WordCountJob.overFiles(spark, corpus)
      .toDF("word", "count")
    val viaPipeline = TextAnalytics.wordCount(TextAnalytics.documents(spark, corpus))
    assert(viaJob.except(viaPipeline).isEmpty)
    assert(viaPipeline.except(viaJob).isEmpty)
  }

  test("WordCountJob matches the TextAnalytics pipeline on the fixture corpus") {
    import spark.implicits._
    val docs = ReferenceData.fixtureDocs(spark)
    val viaJob = WordCountJob.run(docs.as[(String, String)]).toDF("word", "count")
    val viaPipeline = TextAnalytics.wordCount(docs)
    assert(viaPipeline.count() > 0)
    assert(viaJob.except(viaPipeline).isEmpty)
    assert(viaPipeline.except(viaJob).isEmpty)
  }

  test("a custom job (max line length per first letter) runs through the same engine") {
    import spark.implicits._
    object MaxLenJob extends MapReduceJob[String, Int, Int] {
      def map(id: String, contents: String): IterableOnce[(String, Int)] =
        contents.split("\\s+").filter(_.nonEmpty)
          .map(w => (w.substring(0, 1), w.length))
      val reduce: Aggregator[Int, Int, Int] = new Aggregator[Int, Int, Int] {
        def zero = 0
        def reduce(b: Int, a: Int): Int = math.max(b, a)
        def merge(a: Int, b: Int): Int = math.max(a, b)
        def finish(b: Int): Int = b
        def bufferEncoder: Encoder[Int] = Encoders.scalaInt
        def outputEncoder: Encoder[Int] = Encoders.scalaInt
      }
    }
    val docs = Seq(("d1", "apple axe banana"), ("d2", "avocado bee")).toDS()
    val got = MaxLenJob.run(docs).collect().toMap
    assert(got == Map("a" -> 7, "b" -> 6))
  }
}
