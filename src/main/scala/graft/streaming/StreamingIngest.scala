package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed LIVE ingest pipeline — the streaming twin of the
  * batch `pipe_clean` composition: documents arrive, low-content ones
  * are gated out map-side, exact duplicates drop against
  * watermark-bounded state, and the survivors stream into near-dup
  * candidate detection. Three library operators in ONE continuous
  * query; each stage is individually spec-proven equal to its batch
  * twin, and StreamingIngestSpec proves the composition equals the
  * batch composition end-to-end.
  *
  * Scale shape: the quality gate is a codegen'd per-row expression
  * (no state); exact dedup keys 16-byte md5 into RocksDB
  * ([[ContentDedup]]); near-dup detection signs survivors map-side
  * and keeps only ids, timestamps and lower-band signatures per LSH
  * bucket ([[NearDedup]]).
  * Document text never enters any state store, so state is
  * O(documents within the watermark horizon) at every stage.
  */
object StreamingIngest {

  /** Quality gate + exact dedup: the "keep" stream of first-seen,
    * substantive documents. stream: (doc_id, text, ts).
    */
  def cleanse(stream: DataFrame, minTokens: Int = 5,
              watermark: String = "10 seconds"): DataFrame =
    ContentDedup.firstSeen(
      stream.filter(
        graft.functions.ColumnShims.countTokens(col("text")) >= minTokens),
      watermark)

  /** Map-side decontamination gate for live ingest: documents sharing
    * any 13-gram with `evalSet` are dropped AS THEY ARRIVE. The eval
    * set's gram sketch is built ONCE when the pipeline starts (one
    * batch aggregation over the eval table — the k-means build-time
    * pattern; streaming pipelines construct once and run forever) and
    * embedded in the plan as bytes, so the per-document check is a
    * stateless codegen'd probe ([[graft.functions.HasGramInBloom]]) —
    * no joins, no state, no per-batch work beyond the scan. Error
    * direction: contaminated documents can NEVER pass (Bloom has no
    * false negatives); a clean document is wrongly dropped at the
    * sketch's fpp, with the exact batch `txt_decontam` scan as the
    * reconciliation path — the right trade for a live gate.
    */
  def decontamGate(stream: DataFrame, evalSet: DataFrame,
                   n: Int = graft.operators.Decontam.GramWidth,
                   numBits: Long = 0L): DataFrame = {
    val bits =
      if (numBits == 0L)
        graft.operators.BloomDedup.estimatedBits(evalSet, bytesPerKey = 4L)
      else numBits
    val sketch = evalSet
      .select(graft.functions.CrossEngine.tokens(col("text")).as("tk"))
      .select(graft.functions.DistinctGramHashes
        .distinct_gram_hashes(col("tk"), n))
      .select(col("gh")).distinct()
      .agg(expr(s"bloom_filter_agg(gh, ${bits / 8}L, ${bits}L)").as("bf"))
      .head().getAs[Array[Byte]](0)
    if (sketch == null) stream // empty eval set: nothing to gate
    else stream.filter(!graft.functions.HasGramInBloom.has_gram_in_bloom(
      graft.functions.CrossEngine.tokens(col("text")), n, sketch))
  }

  /** SEMANTIC decontamination gate for live ingest — the
    * embedding-level twin of [[decontamGate]] (13-gram overlap
    * misses paraphrased benchmark leakage, the `smp_decontam_sem`
    * rationale applied live): each arriving row's `embedding` is
    * scored against the FROZEN eval set and dropped when its max
    * cosine reaches the threshold. Eval vectors collect once when
    * the pipeline starts ([[graft.operators.Similarity.collectUnitEvals]]
    * — eval sets are small and fixed, the broadcast contract) and
    * embed in the plan as ONE array-of-struct literal, so the
    * per-row check is a stateless map-side higher-order-function
    * fold over the literal — no joins, no state, no per-batch work.
    *
    * Exactness: per-eval cosine arithmetic (dot / (nrm·evnrm)) and
    * the pround-6 → micro-integer chain mirror the batch report
    * term by term, and max commutes with the monotone rounding, so
    * kept/dropped EQUALS filtering batch `smp_decontam_sem` at the
    * same threshold — spec-pinned, not approximate. Zero-norm
    * embeddings pass (cosine to everything is undefined; they are
    * near nothing).
    */
  def semanticGate(stream: DataFrame, evalVecs: DataFrame,
                   thresholdMicro: Long = 950000L): DataFrame = {
    val evs = graft.operators.Similarity.collectUnitEvals(evalVecs)
    if (evs.isEmpty) stream // empty eval set: nothing to gate
    else {
      val v = transform(col("embedding"), x => x.cast("double"))
      val nrm = sqrt(graft.functions.DotProduct.dot_product(v, v))
      val maxCos = array_max(transform(typedLit(evs), ev =>
        graft.functions.DotProduct.dot_product(v, ev.getField("_1"))
          / (nrm * ev.getField("_2"))))
      val micro = floor(graft.functions.CrossEngine.pround(maxCos, 6)
        * lit(1000000d) + lit(0.5)).cast("long")
      stream.filter(nrm === 0d || micro < thresholdMicro)
    }
  }

  /** Learned-quality gate for live ingest: each arriving document is
    * scored by the FROZEN Naive Bayes classifier
    * ([[graft.operators.Classifier]]) and kept only when its log-odds
    * clear zero. The ≤ 256-weight model collects once when the
    * pipeline starts (the decontamGate sketch-build pattern; load it
    * from [[graft.operators.Classifier.loadModel]] in production) and
    * embeds in the plan as a literal map, so the per-document check
    * is a stateless map-side expression — no joins, no state, and
    * scores are bit-identical to the batch `txt_classifier` query
    * (spec-pinned). Documents with no tokens carry the bare class
    * prior and fall with it.
    */
  def classifierGate(stream: DataFrame, model: DataFrame): DataFrame =
    graft.operators.Classifier.collectModel(model) match {
      case None => stream // untrained model: nothing to gate on
      case Some((wi, kc, pc)) =>
        stream.filter(
          graft.operators.Classifier.scoreExpr(col("text"), wi, kc, pc) > 0L)
    }

  /** [[ingest]] with the decontamination gate ahead of the quality
    * gate — the four-stage live pipeline: decontam → quality gate →
    * exact dedup → near-dup candidates, still ONE continuous query.
    */
  def ingestDecontaminated(stream: DataFrame, evalSet: DataFrame,
                           minTokens: Int = 5,
                           watermark: String = "10 seconds"): DataFrame =
    ingest(decontamGate(stream, evalSet), minTokens, watermark)

  /** Full ingest: near-dup candidate pairs among the cleansed
    * survivors — what a live dedup service alerts on.
    */
  def ingest(stream: DataFrame, minTokens: Int = 5,
             watermark: String = "10 seconds"): DataFrame =
    // the cleanse stage already declared the watermark; redefining it
    // below another stateful operator is an analysis error, so the
    // pair stage joins the chain pre-watermarked
    NearDedup.candidatePairsPreWatermarked(
      cleanse(stream, minTokens, watermark)
        .select(col("doc_id"), col("text"), col("ts")))

  /** Ingest health metrics: per event-time window, how many
    * documents the cleanse ADMITTED and their token volume — the
    * dashboard a live pipeline watches (admitted vs arrival counts
    * gives the combined gate+dup drop rate). Windowed aggregation
    * chains below the dedup on the propagated watermark; windows
    * finalize (append mode) once the watermark passes them.
    */
  def metrics(stream: DataFrame, windowLen: String = "5 seconds",
              minTokens: Int = 5,
              watermark: String = "10 seconds"): DataFrame =
    cleanse(stream, minTokens, watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("n_docs"),
           sum(graft.functions.ColumnShims.countTokens(col("text")))
             .as("n_tokens"))
      .select(col("window.start").as("win_start"),
              col("window.end").as("win_end"),
              col("n_docs"), col("n_tokens"))
}
