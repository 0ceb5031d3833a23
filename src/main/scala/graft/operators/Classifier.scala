package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.CrossEngine.{portableHash, portableHashSql, tokens}

/** Trained quality-classifier gate — the GPT-3/WebText-style learned
  * document filter: train a classifier on a "high-quality" seed set
  * vs the rest of the corpus, score every document, keep the best.
  * Where DSIR ([[Sampling.dsirModelOf]]) reweights by an importance
  * RATIO of unigram distributions, this is the discriminative
  * companion: a hashed-unigram multinomial Naive Bayes whose per-doc
  * decision is a sum of per-token log-likelihood ratios plus a class
  * prior (GPT-3 appendix A trains logistic regression on the same
  * hashed-ngram features; NB shares the feature space and — decisive
  * here — trains in ONE aggregate pass with no iterative fit, so the
  * gate stays a single lazy plan).
  *
  * Seed labels are metadata-selected, the DSIR precedent: positives
  * are the curated source tier (source number < [[HqSourceCeiling]] —
  * the same tier [[Sampling]]'s mixture weights promote), negatives
  * everything else. On the synthetic corpus source is content-
  * uncorrelated, so gate scores sit near the prior (structurally
  * exercised, the scrub-counter precedent); ClassifierSpec plants a
  * separable corpus to pin real selection behavior.
  *
  * Determinism contract (the txt_lm_score / DSIR discipline): every
  * per-bucket log term and every corpus constant integerizes at 1e6
  * ONCE, so per-document scores are order-free BIGINT sums — bit-
  * identical on any engine, any partitioning, hash-exact vs DuckDB.
  *
  * Scale shape: training is one token-bucket aggregate (256 rows out,
  * map-side partials do the work) plus two scalar aggregates; the
  * model rides into scoring as ONE broadcast join (constants as
  * COLUMNS on the bucket rows — [[Sampling.dsirModelOf]]'s
  * reuse-friendly shape). Scoring is stateless per document, so a
  * frozen model scores tomorrow's ingest batch bit-identically
  * ([[saveModel]]/[[loadModel]], the DSIR/Bloom cross-run-state
  * pattern).
  */
object Classifier {

  /** Hashed-feature space size. Wider than DSIR's 64 ratio buckets —
    * a discriminative filter wants more capacity — and still a
    * trivially broadcastable model (256 rows).
    */
  private val ClsBuckets = 256

  /** Sources numbered below this are the curated "high-quality" seed
    * tier (matches the top tier of [[Sampling]]'s mixture weights).
    */
  private val HqSourceCeiling = 4

  /** Documents kept by [[classifierDocs]] — a selection BUDGET (top-k
    * by score) rather than a fixed threshold: thresholding at 0 keeps
    * whatever the prior dictates, while pipelines provision for a
    * byte budget. k ties break by doc_id, total-ordered cross-engine.
    */
  private val SelectBudget = 100

  private def isHq(source: org.apache.spark.sql.Column) =
    substring(source, 4, 10).cast("int") < HqSourceCeiling

  /** The trained model: one row per populated bucket —
    * (b, wi, kc, pc) with the two corpus constants REPEATED on every
    * row so scoring consumes the whole model through one broadcast
    * join (see [[Sampling.dsirModelOf]] for why that shape keeps the
    * heavy token aggregate reused across plan branches):
    *  - wi = ⌊(ln(cp_b+1) − ln(cn_b+1))·1e6⌉ — the per-token bucket
    *    log-likelihood ratio (add-1 smoothing),
    *  - kc = ⌊(ln(N+B) − ln(P+B))·1e6⌉ — the per-token normalizer
    *    (P/N = total positive/negative token counts, B buckets),
    *  - pc = ⌊(ln(Dp+1) − ln(Dn+1))·1e6⌉ — the class prior from doc
    *    counts.
    * A document's NB log-odds is then Σ_t wi(b_t) + n_tokens·kc + pc,
    * exactly [[scoreWith]]'s integer sum.
    */
  private[graft] def modelOf(docs: DataFrame): DataFrame = {
    val (buckets, kc, pc) = modelPieces(docs)
    buckets.crossJoin(broadcast(kc)).crossJoin(broadcast(pc))
  }

  /** The model's three independent frames — (per-bucket weights,
    * kc scalar, pc scalar) — for composed plans that score in the
    * SAME plan as they train: scoring consumes the weights through a
    * bucket join and the two scalars through a cross-join (they are
    * corpus constants, not per-bucket values — recovering them from
    * MATCHED model rows, as the first cut did, scored a document
    * whose every token misses the model with kc = pc = 0 instead of
    * the normalizer and prior). Composed callers take the pieces so
    * the scalar cross-join never re-evaluates the bucket aggregate.
    */
  private def modelPieces(docs: DataFrame):
      (DataFrame, DataFrame, DataFrame) = {
    val toks = docs
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .withColumn("b", portableHash(col("word")) % ClsBuckets)
      .filter(col("b").isNotNull) // no-op; reuse parity (see dsirToks)
    val bc = toks.groupBy(col("b")).agg(
      count(lit(1)).as("ctot"),
      sum(when(isHq(col("source")), 1L).otherwise(0L)).as("cp"))
    // ctot referenced before cp in BOTH consumers, so the two
    // branches' physical aggregates canonicalize equal and the token
    // exchange is computed once (the dsirModelOf ordering rule);
    // (0 − ln(cn+1)) + ln(cp+1) is IEEE-identical to the difference
    val buckets = bc.select(col("b"),
      floor(((lit(0.0) - log(col("ctot") - col("cp") + lit(1.0)))
        + log(col("cp") + lit(1.0))) * lit(1000000d) + lit(0.5))
        .cast("long").as("wi"))
    val kc = bc.agg(sum(col("ctot")).as("t"), sum(col("cp")).as("p"))
      .select(floor((log(col("t") - col("p") + lit(ClsBuckets.toDouble)) -
                     log(col("p") + lit(ClsBuckets.toDouble)))
        * lit(1000000d) + lit(0.5)).cast("long").as("kc"))
    val pc = docs.agg(
        sum(when(isHq(col("source")), 1L).otherwise(0L)).as("dp"),
        count(lit(1)).as("dall"))
      .select(floor((log(col("dp") + lit(1.0)) -
                     log(col("dall") - col("dp") + lit(1.0)))
        * lit(1000000d) + lit(0.5)).cast("long").as("pc"))
    (buckets, kc, pc)
  }

  /** The (kc, pc) scalar row of an ASSEMBLED model frame (the model
    * repeats both constants on every row, so max() recovers them
    * without caring which rows a scoring join would match); empty
    * model (untrained) → 0/0, matching [[collectModel]]'s None
    * contract. Cheap for its callers: [[scoreWith]] consumes LOADED
    * ≤ 256-row models, never the in-plan composed aggregate.
    */
  private def modelConsts(model: DataFrame): DataFrame =
    model.agg(coalesce(max(col("kc")), lit(0L)).as("kc"),
              coalesce(max(col("pc")), lit(0L)).as("pc"))

  /** Persist a trained model (≤ 256 rows) as parquet. */
  def saveModel(docs: DataFrame, path: String): Unit =
    modelOf(docs).write.mode("overwrite").parquet(path)

  /** Load a persisted model, schema pinned (no footer-inference job
    * at plan build).
    */
  def loadModel(s: SparkSession, path: String): DataFrame =
    s.read.schema("b BIGINT, wi BIGINT, kc BIGINT, pc BIGINT").parquet(path)

  /** Score an arbitrary (doc_id, text) frame against an explicit
    * model — the incremental-ingest entry. Buckets the model never
    * saw score the smoothing-faithful wi = 0 (unseen in both classes
    * is uninformative); kc and pc apply to EVERY scored document —
    * including one whose every token misses the model — because they
    * are corpus constants cross-joined onto the score, not values
    * recovered from matched model rows (identical to [[scoreExpr]],
    * which always applies the prior; ClassifierSpec pins the all-miss
    * document's score = n·kc + pc against it). Zero-token documents
    * never enter the token stream and are absent from the output, as
    * in every token-derived query.
    */
  def scoreWith(docs: DataFrame, model: DataFrame): DataFrame =
    scoresUnsorted(docs, model.select(col("b"), col("wi")),
        modelConsts(model))
      .orderBy(col("doc_id"))

  private def scoresUnsorted(docs: DataFrame, weights: DataFrame,
                             consts: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .withColumn("b", portableHash(col("word")) % ClsBuckets)
      .filter(col("b").isNotNull)
      .join(broadcast(weights), Seq("b"), "left")
      .withColumn("wi", coalesce(col("wi"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("wi")).as("sw"))
      // the scalar row joins AFTER the per-doc aggregate — one row
      // per doc, so the constants never widen the token shuffle
      .crossJoin(broadcast(consts))
      .select(col("doc_id"), col("n_tokens"),
        (col("sw") + col("n_tokens") * col("kc") + col("pc"))
          .as("logodds_micro"))
      .withColumn("is_hq", col("logodds_micro") > 0L)

  /** Map-side score expression against a COLLECTED model — the
    * streaming-gate form: the ≤ 256 (bucket → wi) weights embed in
    * the plan as a literal map (the decontamGate sketch-in-plan
    * pattern), so a live pipeline scores each arriving document with
    * zero joins and zero state. Arithmetic is identical to
    * [[scoreWith]]: pc + Σ_tokens (wi(b) + kc), so
    * StreamingClassifierSpec can assert score equality with the
    * batch query, not approximate agreement. A document with no
    * tokens scores bare pc — the batch query never emits such docs,
    * while a GATE must still decide them (they fall with the prior).
    */
  def scoreExpr(text: org.apache.spark.sql.Column,
                wi: Map[Long, Long], kc: Long, pc: Long):
      org.apache.spark.sql.Column =
    aggregate(tokens(text), lit(pc), (acc, w) =>
      acc + coalesce(
        element_at(typedLit(wi), portableHash(w) % ClsBuckets), lit(0L))
          + lit(kc))

  /** Collect a model frame into the (wi map, kc, pc) triple
    * [[scoreExpr]] embeds. Empty model (untrained) → None.
    */
  def collectModel(model: DataFrame): Option[(Map[Long, Long], Long, Long)] = {
    val rows = model.collect()
    if (rows.isEmpty) None
    else Some((rows.map(r => r.getLong(0) -> r.getLong(1)).toMap,
               rows.head.getLong(2), rows.head.getLong(3)))
  }

  /** Gate query: train on the corpus's metadata labels and score
    * every document — model build + scoring composed as ONE lazy
    * plan (the dsirWeightsOf shape).
    */
  def classifierScores(s: SparkSession, d: String): DataFrame =
    classifierScoresOf(Tables.documents(s, d))

  private[graft] def classifierScoresOf(docs: DataFrame): DataFrame = {
    val (buckets, kc, pc) = modelPieces(docs)
    scoresUnsorted(docs, buckets, kc.crossJoin(broadcast(pc)))
      .orderBy(col("doc_id"))
  }

  /** Gate query: the selection itself — the [[SelectBudget]] best-
    * scoring documents (ties by doc_id), with their sources. The
    * budgeted top-k runs over the SCORED frame (one row per doc, tiny
    * next to the corpus) and only then joins source metadata back.
    */
  def classifierDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val (buckets, kc, pc) = modelPieces(docs)
    val top = scoresUnsorted(docs, buckets, kc.crossJoin(broadcast(pc)))
      .orderBy(col("logodds_micro").desc, col("doc_id"))
      .limit(SelectBudget)
    top.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("logodds_micro"))
      .orderBy(col("logodds_micro").desc, col("doc_id"))
  }

  /** Calibration/reliability audit of the trained classifier — the
    * table a pipeline reads before trusting the gate's threshold:
    * scores bucketed into 10 equal-width bins over the observed
    * integer log-odds range, each bin reporting document count,
    * predicted-HQ count (score > 0) and ACTUAL-HQ count (the
    * metadata label the model trained on). A well-calibrated model
    * shows actual-HQ fraction rising monotonically with the bin; a
    * collapsed table (everything in 2 bins) flags an over-confident
    * model. All arithmetic is BIGINT (bin width
    * (max−min+10) div 10, bin = (score−min) div width, both engines
    * truncate identically on the non-negative operands) so the gate
    * is hash-exact. Scale: one broadcast min/max scalar row + the
    * shared one-token-pass score aggregate; the no-op guard on the
    * scored frame keeps its two consumers (range scalar, binning)
    * planning the identical subtree so exchange reuse computes the
    * token aggregate once (the ccnet discipline).
    */
  def classifierCalibration(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val (buckets, kc, pc) = modelPieces(docs)
    val sc = scoresUnsorted(docs, buckets, kc.crossJoin(broadcast(pc)))
      .join(docs.select(col("doc_id"), isHq(col("source")).as("hq_actual")),
        "doc_id")
      .filter(col("doc_id").isNotNull && col("n_tokens") >= 0 &&
        col("logodds_micro").isNotNull && col("hq_actual").isNotNull)
    val rng = sc.agg(min(col("logodds_micro")).as("mn"),
                     max(col("logodds_micro")).as("mx"))
    sc.crossJoin(broadcast(rng))
      .withColumn("bucket",
        least(expr("(logodds_micro - mn) div ((mx - mn + 10) div 10)"), lit(9L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("logodds_micro") > 0L, 1L).otherwise(0L)).as("n_pred_hq"),
           sum(when(col("hq_actual"), 1L).otherwise(0L)).as("n_actual_hq"),
           min(col("logodds_micro")).as("lo_min"),
           max(col("logodds_micro")).as("lo_max"))
      .orderBy(col("bucket"))
  }

  private val builtModel =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def modelRootFor(d: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    s"${System.getProperty("java.io.tmpdir")}/graft_clsmodel_$h"
  }

  /** Serving twin of [[classifierDocs]] over a FROZEN model (the
    * `dedup_keep_best_idx` discipline): the in-plan twin re-trains the
    * NB model every run; a pipeline trains ONCE, freezes the ≤ 256-row
    * model to parquet, and scores every later batch against it — this
    * query is that steady state, so the bench's build/steady split has
    * a real steady-state number for the classifier family. Result —
    * and oracle — are identical to `smp_classifier_docs`: training is
    * deterministic and the integerized weights round-trip parquet
    * bit-exactly.
    */
  def classifierDocsIdx(s: SparkSession, d: String): DataFrame = {
    val path = builtModel.computeIfAbsent(d, _ => {
      val p = modelRootFor(d)
      saveModel(Tables.documents(s, d), p)
      p
    })
    val docs = Tables.documents(s, d)
    val model = loadModel(s, path)
    val top = scoresUnsorted(docs, model.select(col("b"), col("wi")),
        modelConsts(model))
      .orderBy(col("logodds_micro").desc, col("doc_id"))
      .limit(SelectBudget)
    top.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("logodds_micro"))
      .orderBy(col("logodds_micro").desc, col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "txt_classifier" -> classifierScores _,
    "txt_classifier_calib" -> classifierCalibration _,
    "smp_classifier_docs" -> classifierDocs _,
    "smp_classifier_docs_idx" -> classifierDocsIdx _,
  )

  private val hqSql =
    s"CAST(substr(source, 4) AS INT) < $HqSourceCeiling"

  /** The train+score CTE chain, mirroring [[modelOf]]/[[scoreWith]]
    * stage by stage (the DsirCteSql pattern; every sum that reaches
    * an output column casts to BIGINT — DuckDB sums are HUGEINT).
    */
  private val clsCte: String =
    s"""ctoks AS (SELECT doc_id, source, word,
       |    ${portableHashSql("word")} % $ClsBuckets AS b
       |  FROM (SELECT doc_id, source,
       |          unnest(regexp_split_to_array(text, '[^\\p{L}]+')) AS word
       |        FROM documents) u
       |  WHERE word <> ''),
       |cbc AS (SELECT b, count(*) AS ctot,
       |          sum(CASE WHEN $hqSql THEN 1 ELSE 0 END) AS cp
       |        FROM ctoks GROUP BY b),
       |cbk AS (SELECT b, CAST(floor((ln(cp + 1.0) - ln(ctot - cp + 1.0))
       |          * 1000000 + 0.5) AS BIGINT) AS wi FROM cbc),
       |ckc AS (SELECT CAST(floor((ln(sum(ctot) - sum(cp) + $ClsBuckets.0)
       |          - ln(sum(cp) + $ClsBuckets.0)) * 1000000 + 0.5) AS BIGINT)
       |          AS kc FROM cbc),
       |cpc AS (SELECT CAST(floor((ln(sum(CASE WHEN $hqSql THEN 1 ELSE 0 END) + 1.0)
       |          - ln(sum(CASE WHEN $hqSql THEN 0 ELSE 1 END) + 1.0))
       |          * 1000000 + 0.5) AS BIGINT) AS pc FROM documents),
       |csc AS (SELECT t.doc_id, count(*) AS n_tokens,
       |          CAST(sum(k.wi) AS BIGINT) AS sw
       |        FROM ctoks t JOIN cbk k ON t.b = k.b GROUP BY t.doc_id)""".stripMargin

  private val oraclesBase: Map[String, String] = Map(
    "txt_classifier" ->
      s"""WITH $clsCte
         |SELECT doc_id, n_tokens,
         |  CAST(sw + n_tokens * ckc.kc + cpc.pc AS BIGINT) AS logodds_micro,
         |  (sw + n_tokens * ckc.kc + cpc.pc) > 0 AS is_hq
         |FROM csc, ckc, cpc
         |ORDER BY doc_id""".stripMargin,
    "smp_classifier_docs" ->
      s"""WITH $clsCte,
         |top AS (SELECT doc_id, n_tokens,
         |          CAST(sw + n_tokens * ckc.kc + cpc.pc AS BIGINT)
         |            AS logodds_micro
         |        FROM csc, ckc, cpc
         |        ORDER BY logodds_micro DESC, doc_id LIMIT $SelectBudget)
         |SELECT t.doc_id, d.source, t.n_tokens, t.logodds_micro
         |FROM top t JOIN documents d ON d.doc_id = t.doc_id
         |ORDER BY t.logodds_micro DESC, t.doc_id""".stripMargin,
  )

  private val calibSql: String =
    s"""WITH $clsCte,
       |act AS (SELECT doc_id, $hqSql AS hq FROM documents),
       |sc2 AS (SELECT t.doc_id,
       |          CAST(t.sw + t.n_tokens * ckc.kc + cpc.pc AS BIGINT) AS lo,
       |          a.hq
       |        FROM csc t, ckc, cpc, act a
       |        WHERE a.doc_id = t.doc_id),
       |rng AS (SELECT min(lo) AS mn, max(lo) AS mx FROM sc2)
       |SELECT CAST(least((lo - mn) // ((mx - mn + 10) // 10), 9) AS BIGINT) AS bucket,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN lo > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_hq,
       |  CAST(sum(CASE WHEN hq THEN 1 ELSE 0 END) AS BIGINT) AS n_actual_hq,
       |  min(lo) AS lo_min, max(lo) AS lo_max
       |FROM sc2, rng
       |GROUP BY 1 ORDER BY bucket""".stripMargin

  // the frozen-model serving twin is output-identical by construction
  // (deterministic train, bit-exact BIGINT round-trip), so its oracle
  // is the in-plan twin's SQL verbatim — the gate CHECKS the
  // equivalence instead of assuming it
  val oracles: Map[String, String] = oraclesBase +
    ("smp_classifier_docs_idx" -> oraclesBase("smp_classifier_docs")) +
    ("txt_classifier_calib" -> calibSql)
}
