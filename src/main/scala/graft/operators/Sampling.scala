package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.CrossEngine.{portableHash, portableHashSql, pround, tokens}

/** Reproducible sampling and split assignment — the data-mixing ops
  * of a pretraining pipeline. Random samplers are useless at 100 TB
  * (non-reproducible across runs/retries, not joinable across
  * tables); production pipelines hash a stable key into buckets and
  * select bucket ranges, which is exactly reproducible on any engine,
  * any partitioning, any retry — and lets a later run extend the
  * sample (rate 10% ⊂ rate 20%) or join per-example labels computed
  * elsewhere.
  *
  * The hash is the cross-engine H(x) = first-8-hex(md5) used across
  * the library; keys are salted with a purpose prefix ("sample:",
  * "split:") so the sample and the split are independent.
  */
object Sampling {

  private val Buckets = 1000
  private val SampleBuckets = 100 // 10%
  private val ValBuckets = 10     // 1% val, 1% test, rest train

  private def bucket(prefix: String): org.apache.spark.sql.Column =
    portableHash(concat(lit(prefix), col("doc_id").cast("string"))) % Buckets

  /** The 10% reproducible sample itself (rows, not a summary). */
  def sample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("bucket", bucket("sample:"))
      .filter(col("bucket") < SampleBuckets)
      .select(col("doc_id"), col("source"), col("bucket"))
      .orderBy(col("doc_id"))

  /** Train/val/test assignment counts per source: buckets [0,980) →
    * train, [980,990) → val, [990,1000) → test.
    */
  def splitCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("bucket", bucket("split:"))
      .withColumn("split",
        when(col("bucket") < Buckets - 2 * ValBuckets, "train")
          .when(col("bucket") < Buckets - ValBuckets, "val")
          .otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("source"), col("split"))

  /** Stratified-rate check: per-source sampled fraction (hash buckets
    * approximate the rate per stratum without a per-stratum pass).
    */
  def sampleRates(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("sampled",
        (bucket("sample:") < SampleBuckets).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
           sum(col("sampled")).as("n_sampled"))
      .select(col("source"), col("n_total"), col("n_sampled"),
              pround(col("n_sampled") / col("n_total"), 4).as("rate"))
      .orderBy(col("source"))

  // per-language sampling rates in buckets-of-1000 — the data-mixing
  // knob of a pretraining corpus (downsample the dominant language,
  // keep more of the low-resource ones); unknown langs fall back to
  // the default. Rates are per-stratum bucket THRESHOLDS on the same
  // salted hash, so every stratum's sample is independently
  // reproducible and extendable, with no per-stratum pass.
  private val StratRates: Seq[(String, Int)] =
    Seq("en" -> 100, "zh" -> 500, "es" -> 500, "de" -> 500, "fr" -> 500)
  private val StratDefault = 250

  /** The stratified selection applied to any (doc_id, lang, …) frame
    * — shared by [[stratifiedSample]] and the decontamination-aware
    * composition in [[Decontam]]. Map-side; no ordering.
    */
  private[operators] def stratifiedOf(docs: DataFrame): DataFrame = {
    val threshold = StratRates.foldRight(lit(StratDefault): org.apache.spark.sql.Column) {
      case ((lang, rate), acc) => when(col("lang") === lang, rate).otherwise(acc)
    }
    docs
      .withColumn("bucket", bucket("strat:"))
      .filter(col("bucket") < threshold)
      .select(col("doc_id"), col("lang"), col("bucket"))
  }

  /** Stratified reproducible sample: per-language rates, one
    * map-side pass (rows, not a summary).
    */
  def stratifiedSample(s: SparkSession, d: String): DataFrame =
    stratifiedOf(Tables.documents(s, d)).orderBy(col("doc_id"))

  /** Oracle fragment: the stratified bucket predicate on `documents`
    * rows (mirrors [[stratifiedOf]] exactly).
    */
  private[operators] def stratWhereSql: String =
    s"""${bucketSql("strat:")} <
       |  (CASE ${StratRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")}
       |        ELSE $StratDefault END)""".stripMargin

  private[operators] def stratBucketSql: String = bucketSql("strat:")

  // --- token-budget source mixture ----------------------------------
  // The data-mixture computation of a pretraining run (Pile/LLaMA
  // style): target WEIGHTS per source × a global token budget →
  // per-source sampling rates, with an `epochs` repeat factor where a
  // small high-quality source must be seen more than once to hit its
  // target. All arithmetic is INTEGER (weights in millis, targets in
  // tokens, rates in buckets-of-1000) so the plan is bit-identical
  // across engines and partitionings. The budget derives from the
  // corpus itself (half its tokens) so the query exercises every rate
  // regime at any SF: dominant sources get downsampled, small ones
  // capped at rate 1000 with epochs > 1.

  /** Deterministic per-source mixture weight in millis (Σ = 1000
    * over the 20 generator sources): head sources dominate, a
    * mid-band, and a long tail — the shape real mixtures have.
    */
  private def weightMillis: org.apache.spark.sql.Column = {
    val n = substring(col("source"), 4, 8).cast("int")
    (when(n < 4, 150).when(n < 10, 50).otherwise(10)).cast("long")
  }

  private val MixtureDenom = 2 // budget = corpus tokens / 2

  /** Per-source mixture plan: (source, n_docs, tokens_total,
    * weight_millis, target_tokens, rate_buckets, epochs). One
    * aggregate over per-doc token counts (map-side partials), a
    * broadcast grand total, then pure integer arithmetic.
    */
  def mixturePlan(s: SparkSession, d: String): DataFrame = {
    val perSrc = Tables.documents(s, d)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("ntok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tokens_total"))
    val grand = perSrc.agg(sum(col("tokens_total")).as("grand"))
    perSrc.crossJoin(broadcast(grand))
      .withColumn("weight_millis", weightMillis)
      .withColumn("target_tokens",
        expr(s"weight_millis * (grand div $MixtureDenom) div 1000"))
      .withColumn("rate_buckets",
        least(lit(1000L), expr("target_tokens * 1000 div tokens_total")))
      .withColumn("epochs",
        greatest(lit(1L),
          expr("(target_tokens + tokens_total - 1) div tokens_total")))
      .select(col("source"), col("n_docs"), col("tokens_total"),
              col("weight_millis"), col("target_tokens"),
              col("rate_buckets"), col("epochs"))
      .orderBy(col("source"))
  }

  /** One epoch of the mixture: the documents each source admits at
    * its computed rate — rates broadcast onto the corpus, selection
    * is the usual salted-hash bucket predicate (reproducible,
    * extendable; a later run with a bigger budget strictly grows
    * every source's selection). Sources with epochs > 1 repeat this
    * whole selection per epoch downstream.
    */
  def mixtureDocs(s: SparkSession, d: String): DataFrame = {
    val rates = mixturePlan(s, d).select(col("source"), col("rate_buckets"))
    Tables.documents(s, d)
      .join(broadcast(rates), Seq("source"))
      .withColumn("bucket", bucket("mix:"))
      .filter(col("bucket") < col("rate_buckets"))
      .select(col("doc_id"), col("source"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-scaled language sampling (XLM-R, Conneau et al.
    * 2020 §3.1; also mBERT/mT5): q_l ∝ p_l^α with α = 0.3, where p_l
    * is a language's natural token share — the standard fix for
    * high-resource languages drowning out low-resource ones in a
    * multilingual mixture. Output per language: natural share and
    * temperature share in ppm, and the resulting boost factor
    * (q/p ×1000) — >1000 means the language is oversampled.
    *
    * Determinism: shares integerize through single-rounded double
    * arithmetic on exact integer inputs (floor(x·10⁶ + 0.5) — the
    * txt_lm_score convention, with pow trusted cross-engine like ln);
    * the temperature denominator then sums the already-integerized
    * per-language values, so it is an exact BIGINT in both engines.
    *
    * Scale shape: ONE aggregate over per-doc token counts (map-side
    * partials, ≤ n_langs rows out); the grand total and the
    * temperature denominator re-aggregate those rows (the
    * derive-from-the-smaller-table rule) and ride back as broadcast
    * scalars. Everything else is per-row arithmetic.
    */
  def temperatureMixture(s: SparkSession, d: String): DataFrame =
    temperatureMixtureOf(Tables.documents(s, d))

  /** [[temperatureMixture]] over an explicit frame (spec entry). */
  private[graft] def temperatureMixtureOf(docs: DataFrame): DataFrame = {
    val perLang = docs
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("ntok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tokens_total"))
    // grand references (n_docs, tokens_total) in perLang's own output
    // order so both consumers read the identical aggregate and its
    // exchange is planned once (the pipe_modern reuse lesson)
    val grand = perLang.agg(sum(col("n_docs")).as("docs_grand"),
                            sum(col("tokens_total")).as("grand"))
    val scaled = perLang.crossJoin(broadcast(grand))
      .withColumn("p_ppm",
        floor(col("tokens_total").cast("double") / col("grand")
          * lit(1000000d) + lit(0.5)).cast("long"))
      .withColumn("s_temp",
        floor(pow(col("tokens_total").cast("double") / col("grand"), lit(0.3))
          * lit(1000000d) + lit(0.5)).cast("long"))
    val denom = scaled.groupBy().agg(sum(col("s_temp")).as("s_sum"))
    scaled.crossJoin(broadcast(denom))
      .withColumn("q_ppm",
        floor(col("s_temp").cast("double") / col("s_sum")
          * lit(1000000d) + lit(0.5)).cast("long"))
      .withColumn("boost_x1000",
        floor(col("q_ppm").cast("double") / greatest(col("p_ppm"), lit(1L))
          * lit(1000d) + lit(0.5)).cast("long"))
      .select(col("lang"), col("n_docs"), col("tokens_total"),
              col("p_ppm"), col("q_ppm"), col("boost_x1000"))
      .orderBy(col("lang"))
  }

  /** One epoch of the temperature mixture: rate_l ∝ boost_l (= q/p),
    * normalized so the most-boosted language keeps every document
    * (rate 1000) and the rest downsample toward the q ∝ p^α token
    * shares — [[mixtureDocs]]' salted-bucket selection driven by the
    * temperature plan instead of hand-set weights. The rate table is
    * n_langs rows (two tiny re-aggregates over the mixture output)
    * broadcast onto the corpus; selection is one map-side predicate,
    * reproducible and extendable like every sampler here.
    */
  def temperatureDocs(s: SparkSession, d: String): DataFrame = {
    val tm = temperatureMixture(s, d).select(col("lang"), col("boost_x1000"))
    val mx = tm.agg(max(col("boost_x1000")).as("boost_max"))
    val rates = tm.crossJoin(broadcast(mx))
      .withColumn("rate_buckets", expr("boost_x1000 * 1000 div boost_max"))
      .select(col("lang"), col("rate_buckets"))
    Tables.documents(s, d)
      .join(broadcast(rates), Seq("lang"))
      .withColumn("bucket", bucket("temp:"))
      .filter(col("bucket") < col("rate_buckets"))
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  private val EvalPerLang = 10

  /** Balanced eval split: exactly k documents PER LANGUAGE, chosen by
    * salted-hash order (purpose prefix "eval:") — the
    * equal-representation eval set a multilingual benchmark wants,
    * where proportional sampling would starve low-resource languages.
    * Hash order makes the choice reproducible and disjoint-by-salt
    * from every other sampler here; the rank filter plans through the
    * custom TopKPerGroup operator (partial top-k below the exchange:
    * ≤ k rows per language per input partition shuffle — never the
    * corpus), not a full per-language window sort.
    */
  def evalBalanced(s: SparkSession, d: String): DataFrame = {
    val h = portableHash(concat(lit("eval:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), h.as("h"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= EvalPerLang)
      .select(col("doc_id"), col("lang"), col("rnk"))
      .orderBy(col("doc_id"))
  }

  // --- DSIR importance resampling -----------------------------------
  // Data Selection via Importance Resampling (Xie et al. 2023): score
  // every raw document by how much more likely its tokens are under a
  // TARGET distribution than under the raw-corpus distribution, using
  // hashed unigram features — the published cheap alternative to
  // model-based quality scoring. Target here = the corpus's docs with
  // lang = 'en' (a metadata-defined target set, the DSIR setup of
  // "wiki+books vs raw web"); features = portable-hash(word) mod 64
  // buckets with add-1 smoothing. Per-doc weight = mean over tokens of
  // ln(p_target(b)/p_raw(b)).
  //
  // Determinism: the per-BUCKET term ln(ct+1) − ln(cr+1) integerizes
  // once (64 rows), the corpus-constant ln(R+B) − ln(T+B) integerizes
  // once, and the per-doc aggregate is then an order-free BIGINT sum —
  // the txt_lm_score integerization applied to DSIR.
  //
  // Scale shape: token stream → two bucket-count groupBys (64 rows
  // out, map-side partials do all the work), the bucket table and the
  // corpus constant ride back as broadcasts, one per-doc aggregate.
  // Everything is linear in token count — the same budget word count
  // runs at. The synthetic corpus's lang column is content-
  // uncorrelated, so gate weights sit near 0 (structurally exercised,
  // the scrub-counter precedent); a planted bimodal corpus pins the
  // real selection behavior in DsirSpec.
  private val DsirBuckets = 64
  private val DsirTargetLang = "en"

  def dsirWeights(s: SparkSession, d: String): DataFrame =
    dsirWeightsOf(Tables.documents(s, d))

  // The explicit isNotNull below is semantically a no-op (b is a hash
  // of a non-null token) but load-bearing for plan reuse: the scoring
  // join INFERS isnotnull(b) onto its model branch, and exchange reuse
  // compares subtrees verbatim — carrying the same filter on every
  // consumer keeps the heavy token aggregate canonically identical
  // across branches so it is computed once (spec-asserted).
  private def dsirToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .withColumn("b", portableHash(col("word")) % DsirBuckets)
      .filter(col("b").isNotNull)

  /** The trained DSIR "model": one row per populated bucket —
    * (b, qi, kc) with the corpus constant kc REPEATED on every row
    * (≤ 64 rows total, the ONLY state scoring needs). The
    * BloomDedup/ANN-state design applied to DSIR: train once on the
    * raw+target corpus, persist, score any later ingest batch against
    * the frozen model (scoring is stateless per document, so
    * incremental batches compose exactly).
    *
    * Shape matters here: kc rides as a COLUMN, not a separate row or
    * frame, so scoring consumes the model through ONE broadcast join
    * — no per-branch filters whose pushdown would de-duplicate-proof
    * the plan. And the model itself derives from ONE heavy
    * aggregation (`bc`): both consumers below read the identical
    * unfiltered aggregate, so the physical planner reuses its
    * exchange and the token explode + per-token md5 run ONCE. The
    * previous 3-aggregate + union(-1 row) form ran that 20M-token
    * pass three times at the 50× ladder point and was the bulk of
    * pipe_modern's full-evaluation cost there.
    */
  private[graft] def dsirModelOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .withColumn("b", portableHash(col("word")) % DsirBuckets)
      .filter(col("b").isNotNull) // no-op; see dsirToks — reuse parity
    val bc = toks.groupBy(col("b")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L)).as("ct"))
    // qi references cr BEFORE ct on purpose: each consumer branch's
    // physical aggregate orders its function list by first downstream
    // reference, and exchange reuse compares those lists verbatim —
    // referencing (cr, ct) here matches the kc branch's (sum(cr),
    // sum(ct)) order, so the two branches canonicalize equal and the
    // heavy exchange is computed once. (0 − ln(cr+1)) + ln(ct+1) is
    // bit-identical to ln(ct+1) − ln(cr+1) in IEEE arithmetic.
    val buckets = bc.select(col("b"),
      floor((lit(0.0) - log(col("cr") + lit(1.0)) + log(col("ct") + lit(1.0)))
        * lit(1000000d) + lit(0.5)).cast("long").as("qi"))
    val kc = bc.agg(sum(col("cr")).as("r"), sum(col("ct")).as("t"))
      .select(floor((log(col("r") + lit(DsirBuckets.toDouble)) -
                     log(col("t") + lit(DsirBuckets.toDouble)))
        * lit(1000000d) + lit(0.5)).cast("long").as("kc"))
    buckets.crossJoin(broadcast(kc))
  }

  /** Persist a DSIR model (a few dozen rows) as parquet. */
  def saveDsirModel(docs: DataFrame, path: String): Unit =
    dsirModelOf(docs).write.mode("overwrite").parquet(path)

  /** Load a persisted DSIR model with the schema pinned. */
  def loadDsirModel(s: SparkSession, path: String): DataFrame =
    s.read.schema("b BIGINT, qi BIGINT, kc BIGINT").parquet(path)

  /** Score an arbitrary (doc_id, text) frame against an explicit
    * model — the incremental-ingest entry. Tokens hitting a bucket
    * the model never saw (possible only for models trained on a
    * DIFFERENT corpus) take the smoothing-faithful qi = 0: unseen in
    * both distributions means ln((0+1)/(0+1)), uninformative — they
    * still count toward n_tokens (and a document NONE of whose tokens
    * hit the model scores a neutral 0, unselected). Identical to an
    * inner join whenever the model covers every bucket (always true
    * for same-corpus models, so the registered smp_dsir gate is
    * unchanged).
    */
  def dsirScoreWith(docs: DataFrame, model: DataFrame): DataFrame =
    dsirScoresUnsorted(docs, model).orderBy(col("doc_id"))

  /** [[dsirScoreWith]] without the final sort — the composition entry
    * ([[TextPipeline.pipeModern]] joins it mid-plan, where an
    * intermediate global sort would be pure waste). ONE broadcast
    * join against the (b, qi, kc) model — see [[dsirModelOf]] for why
    * the shape is reuse-friendly.
    */
  private[operators] def dsirScoresUnsorted(docs: DataFrame,
                                            model: DataFrame): DataFrame =
    dsirToks(docs)
      .join(broadcast(model), Seq("b"), "left")
      .withColumn("qi", coalesce(col("qi"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("qi")).as("sq"),
           coalesce(max(col("kc")), lit(0L)).as("kc"))
      .select(col("doc_id"), col("n_tokens"),
        pround((col("sq") + col("n_tokens") * col("kc"))
          / col("n_tokens") / lit(1000000d), 4).as("avg_logratio"))
      .withColumn("selected", col("avg_logratio") > 0.0)

  /** [[dsirWeights]] over an explicit documents frame (spec entry) —
    * model build + scoring composed as ONE lazy plan.
    */
  private[graft] def dsirWeightsOf(docs: DataFrame): DataFrame =
    dsirScoreWith(docs, dsirModelOf(docs))

  private val Shards = 16

  /** Deterministic training-order shuffle + shard assignment, audited
    * per shard. Training runs need the corpus globally shuffled into
    * S equal-ish shards with an order that is reproducible on any
    * engine, any partitioning, any retry — so, like every sampler
    * here, the "random" order is the portable hash: shard =
    * H("shuffle:" || doc_id) % S, within-shard order = ascending H.
    *
    * The 100 TB shape: shard assignment is a pure map-side projection
    * (no ntile/global row_number — a total order means ONE
    * range-sorted reducer chain, where the hash-prefix assignment
    * needs zero coordination), and the physical write is one
    * repartition(S, shard) + within-partition sort — the canonical
    * single-shuffle shuffled-write. The audit emits per-shard
    * counts/bytes (balance check: uniform hash → shards within a few
    * % of each other), the hash range covered, and the first doc in
    * training order: the [[Argmin]] on (H, doc_id). The oracle breaks
    * 32-bit hash collisions by doc_id via the FIXED-WIDTH HEX key
    * `%016x(H) || %016x(doc_id)`; H lies in [0, 2³²), so for
    * non-negative ids its lexicographic order is the numeric order on
    * (H, doc_id), with no doc_id ceiling (a 100 TB corpus has more
    * than 2³¹ documents).
    */
  def shuffleShards(s: SparkSession, d: String): DataFrame =
    shuffleShardsOf(Tables.documents(s, d))

  private[graft] def shuffleShardsOf(docs: DataFrame): DataFrame = {
    val h = portableHash(concat(lit("shuffle:"), col("doc_id").cast("string")))
    // %x of a NEGATIVE id renders differently across engines (Java
    // two's-complement vs DuckDB signed rendering), so the oracle's
    // hex order would diverge silently: fail LOUDLY instead
    val id = when(col("doc_id") < 0L, raise_error(concat(
        lit("shuffleShards: negative doc_id unsupported: "),
        col("doc_id").cast("string"))))
      .otherwise(col("doc_id"))
    Argmin(docs.select(id.as("doc_id"), col("n_chars"), h.as("h"),
                       (h % Shards).as("shard")),
        Seq("shard"), "h", "doc_id", "shuffleShards",
        extra = Seq(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("h")).as("min_h"), max(col("h")).as("max_h")))
      .select(col("shard"), col("n_docs"), col("sum_chars"),
        col("doc_id").as("first_doc"), col("min_h"), col("max_h"))
      .orderBy(col("shard"))
  }

  // --- Leakage-free split (near-dup-group-aware) ---------------------

  /** [[splitCounts]]' bucket→split rule applied to an arbitrary
    * grouping key (same "split:" salt, same thresholds — hashing a
    * doc_id reproduces the naive document-level split exactly).
    */
  private def splitOfGroup(group: org.apache.spark.sql.Column) = {
    val b = portableHash(concat(lit("split:"), group.cast("string"))) % Buckets
    when(b < Buckets - 2 * ValBuckets, "train")
      .when(b < Buckets - ValBuckets, "val")
      .otherwise("test")
  }

  /** Leakage-free train/val/test split — the salted-hash split
    * assignment lifted from DOCUMENTS to NEAR-DUP COMPONENTS, so a
    * near-duplicate pair can never straddle train and test. This is
    * the benchmark-leakage failure mode document-level hashing cannot
    * prevent: two 95%-identical documents hash independently, and at
    * corpus scale thousands of near-dup pairs land on opposite sides
    * of a naive split — the held-out side then measures memorization,
    * not generalization (Lee et al. 2022 §6.2 measure exactly this
    * train/valid near-dup leakage).
    *
    * Grouping key = the verified near-dup component label —
    * `dedup_components`' machinery verbatim (exact-collapse prepass,
    * corpus-adaptive banding, exact-Jaccard verify, min-label
    * propagation); a document outside every component groups as
    * itself, and because the salt, hash and thresholds are
    * [[splitCounts]]' applied to the group id, an unclustered
    * document's assignment EQUALS its naive one — adopting the
    * leak-free split only moves near-dup members (onto their
    * component's min-id label), nothing else (LeakFreeSplitSpec pins
    * both properties).
    *
    * 100 TB shape: the components subplan is the scale-safe collapsed
    * one; on top of it this adds one narrow doc_id left join and a
    * map-side hash — nothing new shuffles wide.
    */
  def splitLeakFree(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    splitLeakFreeOver(docs,
      Dedup.componentsCollapsedOf(docs, Dedup.bandGeometryOf(docs)))
  }

  /** Serving twin of [[splitLeakFree]] over the FROZEN dedup-graph
    * component labels (the `dedup_keep_best_idx` discipline): the
    * in-plan twin re-derives minhash → bands → verify → label rounds
    * every run; this one reads the persisted labels and runs only
    * the narrow join + map-side hash — the form a pipeline queries
    * between ingests. Result — and oracle — are identical to
    * `smp_split_leakfree`: the index build is deterministic and a
    * BIGINT parquet round-trip is bit-exact.
    */
  def splitLeakFreeIdx(s: SparkSession, d: String): DataFrame =
    splitLeakFreeOver(Tables.documents(s, d),
      Dedup.loadGraphLabels(s, Dedup.fullGraphPath(s, d)))

  /** Core of [[splitLeakFree]] over an explicit (doc_id,
    * component_id) label frame — the testable seam.
    */
  private[graft] def splitLeakFreeOver(docs: DataFrame,
                                       comp: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("component_id"), col("doc_id")))
      .select(col("doc_id"), col("group_id"),
        splitOfGroup(col("group_id")).as("split"))
      .orderBy(col("doc_id"))

  // --- UniMax token-budget allocation ---------------------------------

  /** Max epochs any source may repeat (UniMax's N). */
  private val UniMaxEpochCap = 2L
  /** Budget = total corpus tokens div this (half an epoch overall). */
  private val UniMaxBudgetDen = 2L

  /** UniMax per-source token-budget allocation (Chung et al. 2023,
    * "UniMax: Fairer and More Effective Language Sampling"): given a
    * token budget B and a per-source repeat cap of [[UniMaxEpochCap]]
    * epochs, allocate B as UNIFORMLY as possible across sources —
    * the waterfill that replaced temperature sampling for PaLM-2-era
    * multilingual mixing (temperature sampling over-repeats
    * low-resource sources and the boost depends on corpus
    * composition; UniMax bounds repetition explicitly). Sources are
    * waterfilled in ascending-capacity order: any source whose cap is
    * below an equal share of the remaining budget is exhausted at its
    * cap, the rest share the remainder equally (the capped set is a
    * prefix of the ascending order — if even sharing exceeds a cap,
    * it exceeds every smaller cap too).
    *
    * Everything is exact BIGINT arithmetic: the equal share is an
    * integer division, its remainder goes one token each to the
    * lowest-capacity uncapped sources (deterministic, engine-exact).
    * Output per source: capacity base `tok` (letter tokens, the
    * txt_token_counts unit), `cap`, capped flag, allocated tokens,
    * and the resulting repeat factor `epochs_x1e6`.
    *
    * 100 TB shape: ONE corpus aggregation (map-side partial count per
    * source), then every waterfill step runs on the ≤|sources|-row
    * aggregate — broadcast theta-joins over a bounded frame, no
    * global window (the library's single-partition-window ban), no
    * driver loop. Sources are a fixed domain; data growth only
    * changes the counts.
    */
  def unimaxAllocation(s: SparkSession, d: String): DataFrame =
    unimaxOver(
      Tables.documents(s, d)
        .select(col("source"),
          graft.functions.ColumnShims.countTokens(col("text"))
            .cast("long").as("t"))
        .groupBy(col("source")).agg(sum(col("t")).as("tok")),
      UniMaxEpochCap, UniMaxBudgetDen)

  /** [[unimaxAllocation]] keyed by LANGUAGE — the paper's native axis
    * (UniMax §1: epoch-capped uniform budget across languages, the
    * fix for temperature sampling's over-repetition of low-resource
    * languages). Same waterfill over the per-lang token counts; the
    * temperature twin to compare against is `smp_temperature`.
    *
    * A NULL lang coalesces to the 'und' (undetermined) sentinel
    * BEFORE grouping: otherwise NULL would silently form its own
    * allocation stratum, and the final ordered compare could diverge
    * cross-engine (Spark sorts NULLS FIRST ascending, DuckDB
    * defaults NULLS LAST). The gate corpus happens to have no NULL
    * langs, so the sentinel is inert there — this hardens the query
    * for corpora where language-ID abstained.
    */
  def unimaxLangAllocation(s: SparkSession, d: String): DataFrame =
    unimaxOver(
      Tables.documents(s, d)
        .select(coalesce(col("lang"), lit("und")).as("source"),
          graft.functions.ColumnShims.countTokens(col("text"))
            .cast("long").as("t"))
        .groupBy(col("source")).agg(sum(col("t")).as("tok")),
      UniMaxEpochCap, UniMaxBudgetDen)
      .withColumnRenamed("source", "lang")

  /** Core waterfill over an explicit (source, tok) frame — the
    * testable seam. `budget = sum(tok) div budgetDen`.
    */
  private[graft] def unimaxOver(tokBySource: DataFrame, epochCap: Long,
                                budgetDen: Long): DataFrame = {
    val caps = tokBySource.select(col("source"), col("tok"),
      (col("tok") * epochCap).as("cap"))
    val tot = caps.agg(count(lit(1)).as("m"), sum(col("tok")).as("ttok"))
      .select(col("m"), expr(s"ttok div $budgetDen").as("budget"))
    val b = caps.select(col("source").as("src_b"), col("cap").as("cap_b"))
    // rank i (1-based) and INCLUSIVE prefix sum pi over the
    // (cap, source) ascending order, via a bounded theta-join on the
    // per-source aggregate instead of a single-partition window
    val ranked = caps.join(broadcast(b),
        col("cap_b") < col("cap") ||
          (col("cap_b") === col("cap") && col("src_b") <= col("source")))
      .groupBy(col("source"), col("tok"), col("cap"))
      .agg(count(lit(1)).as("i"), sum(col("cap_b")).as("pi"))
    val flags = ranked.crossJoin(broadcast(tot))
      .withColumn("capped",
        col("cap") * (col("m") - col("i") + lit(1L)) <
          col("budget") - (col("pi") - col("cap")))
    val cs = flags.agg(
      coalesce(sum(when(col("capped"), lit(1L))), lit(0L)).as("tcap"),
      coalesce(sum(when(col("capped"), col("cap"))), lit(0L)).as("pt"))
    flags.crossJoin(broadcast(cs))
      // uncapped share u = (B - pt) div n_unc; remainder r goes one
      // token each to the r lowest-capacity uncapped sources
      // (i - tcap is the 1-based rank among the uncapped). B - pt ≥ 0:
      // each capped prefix sum stays < B by induction on the capped
      // condition. The otherwise-branch never evaluates when every
      // source is capped (CASE short-circuits in both engines).
      .withColumn("alloc",
        when(col("capped"), col("cap")).otherwise(
          expr("(budget - pt) div (m - tcap)") +
            when(col("i") - col("tcap") <= expr("(budget - pt) % (m - tcap)"),
              lit(1L)).otherwise(lit(0L))))
      .select(col("source"), col("tok"), col("cap"),
        col("capped").cast("long").as("capped"), col("alloc"),
        when(col("tok") > 0, expr("alloc * 1000000 div tok"))
          .otherwise(lit(0L)).as("epochs_x1e6"))
      .orderBy(col("source"))
  }

  /** UniMax made actionable — the per-DOCUMENT repeat manifest the
    * allocation implies: every document of source s trains
    * `alloc_s div tok_s` full epochs, and the partial epoch
    * (`alloc_s mod tok_s` tokens) is filled by documents in
    * salted-hash order ("umax:" salt — reproducible, layout- and
    * retry-independent, extendable like every bucket sampler here)
    * until the token budget is spent: a document joins the partial
    * epoch iff the running token sum BEFORE it is still under the
    * partial budget, so the selection overshoots by at most one
    * document and never undershoots. Documents with zero repeats are
    * absent (this IS the training manifest).
    *
    * 100 TB shape: the running sum is [[ScaleOps.prefixSumBy]] —
    * range buckets crossed with the source key and a broadcast carry,
    * so a single giant source still sums in parallel (the
    * single-partition-window ban, per stratum); the ≤|sources|-row
    * allocation broadcasts onto the doc stream. Two narrow corpus
    * passes (the allocation's count and the doc-level manifest),
    * nothing wide shuffles.
    */
  def unimaxDocs(s: SparkSession, d: String): DataFrame = {
    val docsTok = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        graft.functions.ColumnShims.countTokens(col("text"))
          .cast("long").as("n_tokens"))
    val alloc = unimaxOver(
      docsTok.groupBy(col("source")).agg(sum(col("n_tokens")).as("tok")),
      UniMaxEpochCap, UniMaxBudgetDen)
      .select(col("source"), col("tok"), col("alloc"))
    val ordered = docsTok.withColumn("h",
      portableHash(concat(lit("umax:"), col("doc_id").cast("string"))))
    ScaleOps.prefixSumBy(ordered, "source", "h", "n_tokens", "cum")
      .join(broadcast(alloc), Seq("source"))
      // tok = 0 would make both divisions ANSI-fail, but such a source
      // always allocates 0 (cap 0 is exhausted immediately): guard to 0
      .withColumn("full_ep",
        when(col("tok") > 0, expr("alloc div tok")).otherwise(lit(0L)))
      .withColumn("part_tok",
        when(col("tok") > 0, expr("alloc % tok")).otherwise(lit(0L)))
      .withColumn("n_repeats",
        col("full_ep") +
          when(col("cum") - col("n_tokens") < col("part_tok"), lit(1L))
            .otherwise(lit(0L)))
      .filter(col("n_repeats") > 0)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("n_repeats"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "smp_dsir" -> dsirWeights _,
    "smp_split_leakfree" -> splitLeakFree _,
    "smp_split_leakfree_idx" -> splitLeakFreeIdx _,
    "smp_unimax" -> unimaxAllocation _,
    "smp_unimax_lang" -> unimaxLangAllocation _,
    "smp_unimax_docs" -> unimaxDocs _,
    "smp_sample" -> sample _,
    "smp_split"  -> splitCounts _,
    "smp_rates"  -> sampleRates _,
    "smp_stratified" -> stratifiedSample _,
    "smp_mixture" -> mixturePlan _,
    "smp_mixture_docs" -> mixtureDocs _,
    "smp_temperature" -> temperatureMixture _,
    "smp_temperature_docs" -> temperatureDocs _,
    "smp_eval_balanced" -> evalBalanced _,
    "smp_shuffle_shards" -> shuffleShards _,
  )

  private[operators] def bucketSql(prefix: String) =
    s"${portableHashSql(s"'$prefix' || CAST(doc_id AS VARCHAR)")} % $Buckets"

  // mirrors weightMillis + the integer mixture arithmetic exactly
  private val weightSql =
    """CAST(CASE WHEN CAST(substr(source, 4) AS INT) < 4 THEN 150
      |          WHEN CAST(substr(source, 4) AS INT) < 10 THEN 50
      |          ELSE 10 END AS BIGINT)""".stripMargin
  private val mixCte =
    s"""toks AS (SELECT source,
       |  CAST(len(list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), t -> t <> '')) AS BIGINT) AS ntok
       |  FROM documents),
       |per AS (SELECT source, count(*) AS n_docs,
       |          CAST(sum(ntok) AS BIGINT) AS tokens_total
       |        FROM toks GROUP BY source),
       |g AS (SELECT CAST(sum(tokens_total) AS BIGINT) AS grand FROM per),
       |mix AS (SELECT source, n_docs, tokens_total,
       |          $weightSql AS weight_millis,
       |          $weightSql * (grand // $MixtureDenom) // 1000 AS target_tokens,
       |          least(1000, $weightSql * (grand // $MixtureDenom) // 1000 * 1000 // tokens_total) AS rate_buckets,
       |          greatest(1, ($weightSql * (grand // $MixtureDenom) // 1000 + tokens_total - 1) // tokens_total) AS epochs
       |        FROM per, g)""".stripMargin

  /** The DSIR model+score CTE chain (toks, cr, ct, bk, kc) — reused
    * verbatim by the smp_dsir oracle and by TextPipeline's composed
    * pipe_modern oracle.
    */
  private[operators] val DsirCteSql: String =
    s"""toks AS (SELECT doc_id, lang, word,
       |    ${portableHashSql("word")} % $DsirBuckets AS b
       |  FROM (SELECT doc_id, lang,
       |          unnest(regexp_split_to_array(text, '[^\\p{L}]+')) AS word
       |        FROM documents) u
       |  WHERE word <> ''),
       |cr AS (SELECT b, count(*) AS cr FROM toks GROUP BY b),
       |ct AS (SELECT b, count(*) AS ct FROM toks
       |       WHERE lang = '$DsirTargetLang' GROUP BY b),
       |bk AS (SELECT cr.b,
       |    CAST(floor((ln(coalesce(ct.ct, 0) + 1.0) - ln(cr.cr + 1.0))
       |           * 1000000 + 0.5) AS BIGINT) AS qi
       |  FROM cr LEFT JOIN ct ON cr.b = ct.b),
       |kc AS (SELECT CAST(floor((ln(count(*) + $DsirBuckets.0)
       |    - ln(sum(CASE WHEN lang = '$DsirTargetLang' THEN 1 ELSE 0 END)
       |         + $DsirBuckets.0)) * 1000000 + 0.5) AS BIGINT) AS kc
       |  FROM toks)""".stripMargin

  // smp_temperature/_docs shared CTE chain (mirrors
  // temperatureMixtureOf stage by stage)
  private val tempCte =
    s"""toks AS (SELECT lang,
       |  CAST(len(list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), t -> t <> '')) AS BIGINT) AS ntok
       |  FROM documents),
       |per AS (SELECT lang, count(*) AS n_docs,
       |          CAST(sum(ntok) AS BIGINT) AS tokens_total
       |        FROM toks GROUP BY lang),
       |g AS (SELECT CAST(sum(tokens_total) AS BIGINT) AS grand FROM per),
       |sc AS (SELECT lang, n_docs, tokens_total,
       |    CAST(floor(CAST(tokens_total AS DOUBLE) / grand * 1000000 + 0.5) AS BIGINT) AS p_ppm,
       |    CAST(floor(pow(CAST(tokens_total AS DOUBLE) / grand, 0.3) * 1000000 + 0.5) AS BIGINT) AS s_temp
       |  FROM per, g),
       |dn AS (SELECT CAST(sum(s_temp) AS BIGINT) AS s_sum FROM sc),
       |bo AS (SELECT lang, n_docs, tokens_total, p_ppm,
       |    CAST(floor(CAST(s_temp AS DOUBLE) / s_sum * 1000000 + 0.5) AS BIGINT) AS q_ppm,
       |    CAST(floor(CAST(CAST(floor(CAST(s_temp AS DOUBLE) / s_sum * 1000000 + 0.5) AS BIGINT) AS DOUBLE)
       |      / greatest(p_ppm, 1) * 1000 + 0.5) AS BIGINT) AS boost_x1000
       |  FROM sc, dn)""".stripMargin

  /** The full smp_unimax oracle — embedded verbatim as a CTE by the
    * smp_unimax_docs oracle, so both gates replay the IDENTICAL
    * waterfill arithmetic; [[unimaxOracleSqlFor]] re-keys the same
    * SQL for the language-axis twin.
    */
  private lazy val UnimaxOracleSql: String = unimaxOracleSqlFor("source")

  private def unimaxOracleSqlFor(key: String): String =
    s"""WITH tokc AS (SELECT $key AS source,
       |    CAST(sum(len(list_filter(regexp_split_to_array(text, '[^\\p{L}]+'),
       |      t -> t <> ''))) AS BIGINT) AS tok
       |  FROM documents GROUP BY $key),
       |caps AS (SELECT source, tok, tok * $UniMaxEpochCap AS cap FROM tokc),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS m,
       |          CAST(sum(tok) // $UniMaxBudgetDen AS BIGINT) AS budget
       |        FROM caps),
       |rk AS (SELECT source, tok, cap,
       |         CAST(row_number() OVER (ORDER BY cap, source) AS BIGINT) AS i,
       |         CAST(sum(cap) OVER (ORDER BY cap, source
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pi
       |       FROM caps),
       |fl AS (SELECT r.source, r.tok, r.cap, r.i, t.m, t.budget,
       |         (r.cap * (t.m - r.i + 1) < t.budget - (r.pi - r.cap)) AS capped
       |       FROM rk r, tot t),
       |cs AS (SELECT CAST(coalesce(sum(CASE WHEN capped THEN 1 END), 0) AS BIGINT) AS tcap,
       |         CAST(coalesce(sum(CASE WHEN capped THEN cap END), 0) AS BIGINT) AS pt
       |       FROM fl),
       |al AS (SELECT f.source, f.tok, f.cap,
       |         CAST(CASE WHEN f.capped THEN 1 ELSE 0 END AS BIGINT) AS capped,
       |         CAST(CASE WHEN f.capped THEN f.cap
       |           ELSE (f.budget - c.pt) // (f.m - c.tcap)
       |             + (CASE WHEN f.i - c.tcap <= (f.budget - c.pt) % (f.m - c.tcap)
       |                THEN 1 ELSE 0 END)
       |         END AS BIGINT) AS alloc
       |       FROM fl f, cs c)
       |SELECT source, tok, cap, capped, alloc,
       |  CAST(CASE WHEN tok > 0 THEN alloc * 1000000 // tok ELSE 0 END AS BIGINT)
       |    AS epochs_x1e6
       |FROM al ORDER BY source""".stripMargin

  /** The smp_split_leakfree oracle — shared verbatim by the
    * `smp_split_leakfree_idx` serving twin: only where the labels
    * COME FROM differs, which is exactly what that gate pins (frozen
    * labels reproduce the in-plan ones bit-for-bit).
    */
  private lazy val SplitLeakFreeOracleSql: String =
    s"""WITH comp AS (${Dedup.ComponentsOracleSql}),
       |g AS (SELECT d.doc_id,
       |        coalesce(c.component_id, d.doc_id) AS group_id
       |      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
       |SELECT doc_id, group_id,
       |  CASE WHEN ${portableHashSql("'split:' || CAST(group_id AS VARCHAR)")} % $Buckets
       |         < ${Buckets - 2 * ValBuckets} THEN 'train'
       |       WHEN ${portableHashSql("'split:' || CAST(group_id AS VARCHAR)")} % $Buckets
       |         < ${Buckets - ValBuckets} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM g ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "smp_unimax" -> UnimaxOracleSql,
    "smp_unimax_lang" ->
      s"""WITH u AS (${unimaxOracleSqlFor("coalesce(lang, 'und')")})
         |SELECT source AS lang, tok, cap, capped, alloc, epochs_x1e6
         |FROM u ORDER BY lang""".stripMargin,
    "smp_split_leakfree_idx" -> SplitLeakFreeOracleSql,
    "smp_unimax_docs" ->
      s"""WITH alloc AS ($UnimaxOracleSql),
         |dt AS (SELECT doc_id, source,
         |         CAST(len(list_filter(regexp_split_to_array(text, '[^\\p{L}]+'),
         |           t -> t <> '')) AS BIGINT) AS n_tokens,
         |         ${portableHashSql("'umax:' || CAST(doc_id AS VARCHAR)")} AS h
         |       FROM documents),
         |cm AS (SELECT doc_id, source, n_tokens,
         |         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h)
         |           AS BIGINT) AS cum
         |       FROM dt),
         |rep AS (SELECT c.doc_id, c.source, c.n_tokens,
         |         (CASE WHEN a.tok > 0 THEN a.alloc // a.tok ELSE 0 END)
         |           + (CASE WHEN c.cum - c.n_tokens <
         |                (CASE WHEN a.tok > 0 THEN a.alloc % a.tok ELSE 0 END)
         |              THEN 1 ELSE 0 END) AS n_repeats
         |       FROM cm c JOIN alloc a ON a.source = c.source)
         |SELECT doc_id, source, n_tokens, CAST(n_repeats AS BIGINT) AS n_repeats
         |FROM rep WHERE n_repeats > 0
         |ORDER BY doc_id""".stripMargin,
    "smp_split_leakfree" -> SplitLeakFreeOracleSql,
    "smp_temperature" ->
      s"""WITH $tempCte
         |SELECT lang, n_docs, tokens_total, p_ppm, q_ppm, boost_x1000
         |FROM bo
         |ORDER BY lang""".stripMargin,
    "smp_temperature_docs" ->
      s"""WITH $tempCte,
         |mx AS (SELECT max(boost_x1000) AS bmax FROM bo),
         |rates AS (SELECT lang, boost_x1000 * 1000 // bmax AS rate_buckets
         |          FROM bo, mx)
         |SELECT d.doc_id, d.lang, ${bucketSql("temp:").replace("doc_id", "d.doc_id")} AS bucket
         |FROM documents d JOIN rates r ON r.lang = d.lang
         |WHERE ${bucketSql("temp:").replace("doc_id", "d.doc_id")} < r.rate_buckets
         |ORDER BY d.doc_id""".stripMargin,
    "smp_eval_balanced" ->
      s"""SELECT doc_id, lang, rnk FROM (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${portableHashSql("'eval:' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rnk
         |  FROM documents) t
         |WHERE rnk <= $EvalPerLang
         |ORDER BY doc_id""".stripMargin,
    "smp_dsir" ->
      s"""WITH $DsirCteSql,
         |per AS (SELECT doc_id, count(*) AS n_tokens, sum(qi) AS sq
         |  FROM toks JOIN bk ON toks.b = bk.b GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  pround((sq + n_tokens * kc) / n_tokens / 1000000, 4) AS avg_logratio,
         |  pround((sq + n_tokens * kc) / n_tokens / 1000000, 4) > 0.0 AS selected
         |FROM per, kc
         |ORDER BY doc_id""".stripMargin,
    "smp_mixture" ->
      s"""WITH $mixCte
         |SELECT source, n_docs, tokens_total, weight_millis,
         |  target_tokens, rate_buckets, epochs
         |FROM mix
         |ORDER BY source""".stripMargin,
    "smp_mixture_docs" ->
      s"""WITH $mixCte
         |SELECT d.doc_id, d.source, ${bucketSql("mix:").replace("doc_id", "d.doc_id")} AS bucket
         |FROM documents d JOIN mix ON mix.source = d.source
         |WHERE ${bucketSql("mix:").replace("doc_id", "d.doc_id")} < mix.rate_buckets
         |ORDER BY d.doc_id""".stripMargin,
    "smp_sample" ->
      s"""SELECT doc_id, source, ${bucketSql("sample:")} AS bucket
         |FROM documents
         |WHERE ${bucketSql("sample:")} < $SampleBuckets
         |ORDER BY doc_id""".stripMargin,
    "smp_split" ->
      s"""SELECT source,
         |  CASE WHEN ${bucketSql("split:")} < ${Buckets - 2 * ValBuckets} THEN 'train'
         |       WHEN ${bucketSql("split:")} < ${Buckets - ValBuckets} THEN 'val'
         |       ELSE 'test' END AS split,
         |  count(*) AS n
         |FROM documents
         |GROUP BY 1, 2
         |ORDER BY source, split""".stripMargin,
    "smp_stratified" ->
      s"""SELECT doc_id, lang, ${bucketSql("strat:")} AS bucket
         |FROM documents
         |WHERE ${bucketSql("strat:")} <
         |  (CASE ${StratRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")}
         |        ELSE $StratDefault END)
         |ORDER BY doc_id""".stripMargin,
    "smp_rates" ->
      s"""SELECT source, count(*) AS n_total,
         |  CAST(sum(CASE WHEN ${bucketSql("sample:")} < $SampleBuckets
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |  pround(CAST(sum(CASE WHEN ${bucketSql("sample:")} < $SampleBuckets
         |                  THEN 1 ELSE 0 END) AS BIGINT)
         |         / count(*), 4) AS rate
         |FROM documents
         |GROUP BY source
         |ORDER BY source""".stripMargin,
    "smp_shuffle_shards" -> {
      val hSql = portableHashSql("'shuffle:' || CAST(doc_id AS VARCHAR)")
      s"""SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  min_by(doc_id, printf('%016x', h) || printf('%016x', doc_id)) AS first_doc,
         |  min(h) AS min_h, max(h) AS max_h
         |FROM (SELECT doc_id, n_chars, $hSql AS h, $hSql % $Shards AS shard
         |      FROM documents) t
         |GROUP BY shard
         |ORDER BY shard""".stripMargin
    },
  )
}
