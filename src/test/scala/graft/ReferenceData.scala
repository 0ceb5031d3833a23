package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.Assertions.fail

/** The reference implementation's input corpus and its word-count
  * output, which some specs compare against byte for byte. A checkout
  * without them fails each of those tests with one precondition
  * message instead of a read error.
  */
object ReferenceData {
  private val Dir = "/root/reference"

  private def need(path: String): Unit =
    if (!Files.exists(Paths.get(path)))
      fail(s"needs $Dir/data or mr-out-final, absent in this checkout")

  /** Glob over the corpus text files. */
  def corpus: String = { need(s"$Dir/data"); s"$Dir/data/*.txt" }

  /** The reference's final word-count output. */
  def golden: String = { need(s"$Dir/mr-out-final"); s"$Dir/mr-out-final" }

  /** The generated fixture corpus every checkout has, for the
    * properties that do not depend on the reference corpus: sf0.01
    * `documents` as (doc_id as string, text) rows.
    */
  def fixtureDocs(spark: SparkSession): DataFrame =
    graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
}
