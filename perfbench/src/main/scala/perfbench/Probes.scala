package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions._
import graft.sources.Tables

/** Traced-run probes of single layers, each timed as a standalone
  * select into the noop sink over a fixture column.
  */
object Probes {
  private val Reps = 3
  /** Copies of each fixture column per probe input (10,000 documents,
    * 4,000 vectors at sf0.1): long enough to time, short enough that
    * the slowest function (BPE) keeps a traced run inside its budget.
    */
  private val Copies = 2

  private def noopSeconds(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of [[Reps]] timed runs after one untimed one. */
  private def timed(df: DataFrame): Double = {
    noopSeconds(df)
    Stats.median(Seq.fill(Reps)(noopSeconds(df)))
  }

  /** `functions.<f>.rows_per_s` for each probed engine function. The
    * inputs (text, tokens, vectors) are cached first, so a probe times
    * its function alone.
    */
  def functions(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val copies = spark.range(Copies).toDF("copy")
    val docs = Tables.documents(spark, ctx.data).select(col("text"))
      .crossJoin(copies).select(col("text")).cache()
    val toks = docs.select(TokenizeWords.tokenize_words(col("text")).as("tk")).cache()
    val vecs = Tables.embeddings(spark, ctx.data)
      .select(col("embedding").cast("array<double>").as("embedding"))
      .crossJoin(copies).select(col("embedding")).cache()
    try {
      val nDocs = docs.count().toDouble
      toks.count()
      val nVecs = vecs.count().toDouble
      val probes: Seq[(String, DataFrame, Double)] = Seq(
        ("tokenize_words", docs.select(TokenizeWords.tokenize_words(col("text"))), nDocs),
        ("normalize_text", docs.select(NormalizeText.normalize_text(col("text"))), nDocs),
        ("minhash_slots", toks.select(MinHashSlots.minhash_slots(col("tk"))), nDocs),
        ("simhash64", toks.select(SimHash64.simhash64(col("tk"))), nDocs),
        ("distinct_gram_hashes",
          toks.select(DistinctGramHashes.distinct_gram_hashes(col("tk"), 3)), nDocs),
        ("gram_pos_hashes", toks.select(GramPosHashes.gram_pos_hashes(col("tk"), 13)), nDocs),
        ("bpe_pieces", docs.select(BpePieces.bpe_pieces(col("text"))), nDocs),
        ("dot_product",
          vecs.select(DotProduct.dot_product(col("embedding"), col("embedding"))), nVecs))
      probes.map { case (f, df, rows) =>
        ctx.tracer.span("functions.probe", 0L, Map("function" -> f)) { id =>
          s"functions.$f.rows_per_s" -> Recorder.under(ctx.sc, id)(rows / timed(df))
        }._1
      }.toMap
    } finally { docs.unpersist(); toks.unpersist(); vecs.unpersist() }
  }

  /** `sources.load_s`: building each table the workload's plans scan
    * through [[Tables]] and scanning it whole, summed over the tables.
    */
  def sources(ctx: Ctx, tables: Seq[String]): Double =
    tables.map { t =>
      ctx.tracer.span("sources.load", 0L, Map("table" -> t)) { id =>
        Recorder.under(ctx.sc, id)(timed(table(ctx, t)))
      }._1
    }.sum

  /** `events` has its own reader (its timestamp encoding varies). */
  private def table(ctx: Ctx, t: String): DataFrame =
    if (t == "events") Tables.events(ctx.spark, ctx.data)
    else Tables.load(ctx.spark, ctx.data, t)
}
