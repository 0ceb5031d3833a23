package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.CrossEngine.{pround, portableHash, tokens}

/** Deduplication operators over `documents` — the core of a
  * pretraining-data pipeline at 100 TB.
  *
  * All variants follow the same scale shape: compute a compact per-doc
  * signature in one narrow pass (map-side, codegen'd), then join only
  * on signature buckets — never an unpruned all-pairs comparison.
  *  - exact:    group on md5(text) (fixed 16-byte shuffle key instead
  *              of shuffling whole documents).
  *  - MinHash:  k=16 affine-permutation mins over word-3-gram
  *              shingles, banded 4x4 → LSH candidate pairs via a
  *              bucket join (shingle→minhash→band→bucket-join).
  *  - SimHash:  64-bit tf-weighted fingerprint (Manku et al.,
  *              WWW'07); near-dups = Hamming distance ≤ 3. Pairs
  *              found by pigeonhole blocking (4 blocks of 16 bits,
  *              equi-join on agreeing blocks; per-block random
  *              collision 2⁻¹⁶) — the all-pairs scan survives only
  *              as a differential-test baseline.
  *  - n-gram Jaccard: exact pairwise Jaccard over pairs sharing ≥1
  *              shingle (inverted-index join prunes the quadratic
  *              space).
  *
  * The cross-engine hash H(x) = int(md5(x)[:8 hex]) keeps every
  * signature bit-identical between Spark and the DuckDB oracle.
  */
object Dedup {

  private val MinhashK = 16
  private[graft] val BandRows = 4
  private val MersennePrime = 2147483647L // 2^31-1
  private val JaccardThreshold = 0.1
  private val SimhashBits = 64
  private val HammingMax = 3

  /** Exact dedup: one group per distinct text, keeper = min doc_id. */
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("text_md5"))
      .orderBy(col("keep_id"))

  /** Normalized ("fuzzy-exact") dedup: case-fold, collapse every
    * non-alphanumeric run to one space, trim — then group like
    * [[exact]]. Catches the near-copies that differ only in casing /
    * punctuation / whitespace, at exactly the cost of exact dedup
    * (16-byte md5 shuffle keys; documents never shuffle).
    */
  def normalized(s: SparkSession, d: String): DataFrame = {
    val norm = graft.functions.NormalizeText.normalize_text(col("text"))
    Tables.documents(s, d)
      .groupBy(md5(norm.cast("binary")).as("norm_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("norm_md5"))
      .orderBy(col("keep_id"))
  }

  // At sf0.01 the shingle document-frequency tail tops out at 7, so
  // the cap is set where it actually prunes; production corpora use a
  // much higher absolute cap (or a df/N fraction), same plan shape.
  private val DfCap = 5

  /** DF-capped n-gram Jaccard — the scale knob called out in SCALE.md:
    * shingles appearing in more than `DfCap` documents are dropped
    * before the inverted-index join. Non-discriminative shingles are
    * exactly the ones that explode the candidate pair space (a shingle
    * shared by m docs contributes m(m-1)/2 joined rows), so the cap
    * bounds join fan-out at DfCap²/2 per shingle while barely moving
    * the scores of true near-dups. Jaccard here is over the CAPPED
    * shingle sets (self-consistent sizes).
    */
  def ngramJaccardCapped(s: SparkSession, d: String): DataFrame = {
    // hashed gram rows like [[ngramJaccard]]; the per-doc size window
    // stays because Jaccard here is over the CAPPED shingle sets, so
    // sizes can only be counted after the df filter
    val capped = underCap(gramHashRows(s, d).select(col("doc_id"), col("gh")),
      Seq("gh"), DfCap)
    val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    // one explicit shuffle by gh shared by both join sides (identical
    // subtree → the second side reuses the first's exchange instead of
    // recomputing the whole gram chain; measured 2x at sf0.1)
    jaccardPairs(capped.withColumn("n", count(lit(1)).over(wn))
      .repartition(col("gh")))
  }

  // --- shared near-dup stages: candidates → exact overlap → accept ---

  /** Every pair sharing a posting of `ngn` (doc_id, gh, n), scored by
    * rounded Jaccard and kept at ≥ [[JaccardThreshold]] — the tail of
    * both n-gram Jaccard queries. `ngn` arrives gh-partitioned, so the
    * two join sides reuse one exchange.
    */
  private def jaccardPairs(ngn: DataFrame): DataFrame =
    postings(ngn, "doc_a", "na").join(postings(ngn, "doc_b", "nb"), Seq("gh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("c"))
      .withColumn("jaccard", jaccard4)
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** One side of a gram-posting self-join: (id, gh, n AS size). */
  private def postings(grams: DataFrame, id: String, size: String): DataFrame =
    grams.select(col("doc_id").as(id), col("gh"), col("n").as(size))

  /** `rows` restricted to key values held by at most `cap` rows — the
    * occupancy / document-frequency cap that bounds one bucket's pair
    * fan-out at C(cap, 2) however template-correlated the corpus is.
    */
  private def underCap(rows: DataFrame, keys: Seq[String], cap: Long): DataFrame =
    rows.join(rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= cap).select(keys.map(col): _*), keys)

  /** Candidate pairs (doc_a < doc_b) of `rows` (doc_id + `keys`) that
    * share a key value — the bucket self-join every near-dup family
    * runs (LSH band signature, gram posting). Callers repartition
    * `rows` on the keys where both sides should reuse one exchange.
    */
  private def pairsSharing(rows: DataFrame, keys: String*): DataFrame = {
    def side(id: String) = rows.select(col("doc_id").as(id) +: keys.map(col): _*)
    side("doc_a").join(side("doc_b"), keys)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Exact overlap of each candidate pair against FULL gram rows:
    * (doc_a, doc_b, na, nb, c) with na, nb the docs' distinct-gram
    * counts and c the shared ones. The inner joins restrict gram
    * movement to candidate endpoints by themselves.
    */
  private def overlapCounts(cand: DataFrame, grams: DataFrame): DataFrame =
    cand.join(postings(grams, "doc_a", "na"), "doc_a")
      .join(postings(grams, "doc_b", "nb"), Seq("doc_b", "gh"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("c"))

  /** pround(J, 4) over [[overlapCounts]] columns. */
  private val jaccard4 = pround(col("c") / (col("na") + col("nb") - col("c")), 4)

  /** Candidates verified on the EXACT rational predicate
    * 5c ≥ 4(na+nb−c), not on pround(J,4) ≥ 0.8: the rounded form
    * accepts true J ≥ 0.79995, but prefix-candidate completeness is
    * proven only for J ≥ 0.8 — a pair in [0.79995, 0.8) could pass a
    * rounded brute filter while missing from the prefix candidate set,
    * breaking the exactness claim. Integer arithmetic keeps both
    * engines boundary-identical. (doc_a, doc_b, jaccard).
    */
  private def exactVerified(cand: DataFrame, grams: DataFrame): DataFrame =
    overlapCounts(cand, grams)
      .filter(col("c") * 5 >= (col("na") + col("nb") - col("c")) * 4)
      .withColumn("jaccard", jaccard4)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Distinct word-3-gram shingles per document: (doc_id, g).
    *
    * Emitted by the [[graft.functions.WordNGrams]] custom Generator
    * (plain-JVM loop: concat + dedup set, streamed one row at a
    * time) rather than the `array_distinct(transform(sequence(...)))`
    * composition this started as: higher-order functions are
    * CodegenFallback — an interpreted expression tree PER GRAM — and
    * switching the shingle source measured ~25% off
    * dedup_ngram_jaccard at sf0.1 (mean-of-3: 5.4 → 4.0 s isolated
    * runs; the remaining cost is the inverted-index join, not gram
    * construction). WordNGramsSpec pins output equality of the two
    * forms. The token array still materializes in its own projection
    * so the generator's child is a bound reference, not a
    * re-evaluated tokenizer.
    */
  private[graft] def shingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        graft.functions.WordNGrams.word_ngrams(col("tk"), 3).as("g"))

  /** (doc_id, gh, n): one row per distinct gram HASH with the doc's
    * distinct-gram count alongside — the Jaccard join input, ONE
    * map-side pass of the [[graft.functions.DistinctGramHashes]]
    * generator (no gram strings, no per-doc window for the size).
    */
  private def gramHashRows(s: SparkSession, d: String): DataFrame =
    gramHashRowsOf(Tables.documents(s, d))

  private[graft] def gramHashRowsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        graft.functions.DistinctGramHashes.distinct_gram_hashes(col("tk"), 3))

  /** All 16 minhash slots computed MAP-SIDE per document by the
    * [[graft.functions.MinHashSlots]] expression — no shingle
    * explode, no aggregation, no shuffle (the evolution, each step
    * measured: explode×16 17 s at sf0.1 → 16-min groupBy ~1 s →
    * this, where the signature is a projection in the scan stage and
    * the per-gram md5 — the cross-engine contract's inherent cost —
    * is all that remains). Bit-identity with the relational chain is
    * spec-pinned (MinHashSlotsSpec) and oracle-gated.
    */
  private def minhashCols(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        graft.functions.MinHashSlots.minhash_slots(col("tk")).as("sl"))
      .filter(size(col("sl")) > 0)
      .select(col("doc_id") +: (0 until MinhashK).map(i =>
        element_at(col("sl"), i + 1).as(s"mh$i")): _*)

  /** Full 16-slot minhash signature per doc, rendered as a string. */
  def minhashSignature(s: SparkSession, d: String): DataFrame =
    minhashCols(s, d)
      .select(col("doc_id"),
              concat_ws(",", (0 until MinhashK).map(i => col(s"mh$i")): _*)
                .as("minhash_sig"))
      .orderBy(col("doc_id"))

  /** Per-ROW form of the banded minhash signature, for streams: maps
    * any DataFrame with a text column to the same rows plus a `bands`
    * column `array<struct<band:long, sig:string>>` — bit-identical to
    * [[minhashBands]]'s (band, sig) pairs for the same text AND band
    * geometry (spec-enforced — both forms share the ONE MinHashSlots
    * expression), computed entirely map-side, so a streaming
    * micro-batch pays no shuffle to sign its documents. Docs with
    * <3 tokens get an empty array, mirroring the batch chain where
    * they never produce shingles.
    *
    * `bandRows` is an EXPLICIT static parameter here, not the
    * corpus-adaptive in-plan scalar the batch chain derives: a stream
    * has no corpus to count — it bands with the geometry of the state
    * it joins (frozen at that state's birth, like the persisted
    * dedup-graph index pins its geometry), and the streaming twins
    * keep the default.
    */
  private[graft] def withBandKeys(df: DataFrame, textCol: String,
                                  bandRows: Int = BandRows): DataFrame = {
    val sl = col("__sl")
    val bands = (0 until MinhashK / bandRows).map { b =>
      struct(lit(b.toLong).as("band"),
             concat_ws(",", (0 until bandRows).map { r =>
               element_at(sl, b * bandRows + r + 1)
             }: _*).as("sig"))
    }
    df.withColumn("__sl",
        graft.functions.MinHashSlots.minhash_slots(tokens(col(textCol))))
      .withColumn("bands",
        when(size(sl) > 0, array(bands: _*))
          .otherwise(array().cast("array<struct<band:bigint,sig:string>>")))
      .drop("__sl")
  }

  /** Corpus docs where 2-row bands are affordable (see
    * [[bandGeometryOf]]); chosen so every gate SF (and the ingest
    * halves the incremental-components gate splits them into) sits on
    * the small side, while the 100× ladder rung crosses to 4-row
    * bands.
    */
  private val AdaptSmallMax = 8192L

  /** Corpus-adaptive band geometry — ONE broadcast-scalar row
    * (r = rows per band, nb = band count, r·nb = [[MinhashK]]),
    * derived IN-PLAN from the corpus count (the embedNearDupLsh
    * adaptive-planes pattern: no driver job at plan build).
    *
    * The derivation, from the target threshold and the corpus size:
    * an (nb, r) banding approximates a step at t* = (1/nb)^(1/r) —
    * 16 slots offer t* ≈ 0.35 (8×2), 0.71 (4×4), 0.92 (2×8). Rows
    * of 8 sit ABOVE the J = 0.8 verify threshold (structural recall
    * loss at exactly the pairs the pipeline promises to catch), so
    * the choice is between 2- and 4-row bands, and it is a VERIFY
    * BUDGET question: t* ≈ 0.35 means every pair down to J ≈ 0.35
    * becomes a candidate the exact-Jaccard join must score — free on
    * a small corpus (and worth it: at J = 0.8 the 8×2 miss rate is
    * (1−0.8²)⁴ ≈ 1.7e-2 vs 4×4's ≈ 0.12, measured by
    * `dedup_minhash_recall`), quadratic poison on a large one, where
    * 4×4's t* ≈ 0.71 aligns with the 0.8 verify gate. The boundary
    * (8 Ki docs) keeps the sub-threshold candidate mass affordable —
    * beyond it, recall is bought with more slots, not looser bands.
    */
  private[graft] def bandGeometryOf(docs: DataFrame): DataFrame =
    geomOfStats(docs.agg(count(lit(1)).as("n")))

  /** [[bandGeometryOf]]'s formula over any row carrying the corpus
    * count `n`.
    */
  private def geomOfStats(stats: DataFrame): DataFrame =
    stats.select(
      when(col("n") <= AdaptSmallMax, lit(2L))
        .otherwise(lit(BandRows.toLong)).as("r"),
      when(col("n") <= AdaptSmallMax, lit(MinhashK.toLong / 2))
        .otherwise(lit(MinhashK.toLong / BandRows)).as("nb"))

  /** Slot-array form of [[minhashCols]] (the dynamic-geometry band
    * builder consumes the array, not the 16 pivoted columns).
    */
  private def slotArrays(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        graft.functions.MinHashSlots.minhash_slots(col("tk")).as("sl"))
      .filter(size(col("sl")) > 0)

  /** Band table from slot arrays under an explicit geometry frame:
    * band b = slots [b·r+1, b·r+r] joined with ','. The higher-order
    * transform is CodegenFallback, but it runs once per DOCUMENT over
    * ≤ 8 elements — not the per-gram hot path the WordNGrams lesson
    * is about.
    */
  private def bandedOf(slots: DataFrame, geom: DataFrame): DataFrame =
    slots.crossJoin(broadcast(geom))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0L), col("nb") - 1), b =>
          struct(b.as("band"),
            array_join(transform(
              slice(col("sl"), b * col("r") + 1, col("r")),
              x => x.cast("string")), ",").as("sig")))).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))

  /** LSH band table: (doc_id, band, band-signature string), geometry
    * corpus-adaptive ([[bandGeometryOf]]).
    */
  private[graft] def minhashBands(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    bandedOf(slotArrays(docs), bandGeometryOf(docs))
  }

  /** Candidate near-dup pairs: same signature in any band — the join
    * key is (band, sig), so only colliding buckets ever meet.
    */
  def minhashPairs(s: SparkSession, d: String): DataFrame =
    // shared explicit exchange on the join key for both aliases (see
    // ngramJaccard — avoids recomputing the minhash chain per side)
    pairsSharing(minhashBands(s, d).repartition(col("band"), col("sig")),
      "band", "sig")
      .orderBy(col("doc_a"), col("doc_b"))

  /** LSH quality audit: recall and precision of the banded MinHash
    * candidate generator against the EXACT Jaccard pair set at the
    * pipeline's [[DropThreshold]] — the measurement that justifies
    * (or indicts) the banding parameters before a 100 TB run trusts
    * them. Exact pairs come from the inverted gram index (complete:
    * any pair at J ≥ 0.8 shares grams, so no true pair can be
    * missed); candidates from [[minhashPairs]]. Both pair sets meet
    * in ONE full-outer join and reduce to a scalar row — counts,
    * recall among exact pairs, precision of candidates at the
    * threshold. At scale both inputs are the already-bounded pair
    * streams; nothing quadratic is introduced by auditing them.
    */
  def minhashRecall(s: SparkSession, d: String): DataFrame = {
    val exact = ngramJaccard(s, d)
      .filter(col("jaccard") >= DropThreshold)
      .select(col("doc_a"), col("doc_b"), lit(1).as("ex"))
    val cand = minhashPairs(s, d)
      .select(col("doc_a"), col("doc_b"), lit(1).as("cd"))
    exact.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(col("ex")).as("n_exact"),
           count(col("cd")).as("n_candidates"),
           count(when(col("ex") === 1 && col("cd") === 1, 1)).as("n_found"))
      .select(col("n_exact"), col("n_candidates"), col("n_found"),
        pround(col("n_found") / col("n_exact"), 4).as("recall"),
        pround(col("n_found") / col("n_candidates"), 4).as("precision"))
  }

  /** Floor of the probe-sample modulus for [[minhashRecallSample]]:
    * never probe more than 1-in-10 docs.
    */
  private val RecallProbeMod = 10

  /** Probe-mass target the adaptive modulus aims at: the modulus
    * grows with corpus size so the probe set stays ~this many docs
    * and exact-side fan-out stays ~CONSTANT per audit, not linear.
    * 3000 keeps both gate SFs on the modulus floor (mod = 10
    * unchanged — ⌈5000/3000⌉ = 2 < 10) while the clone-replicated
    * 100× rung lands at mod 167 (~3 k probes): measured 91.6 s
    * full-eval at target 5000, proportionally less here, vs the
    * fixed-rate form's 632 s.
    */
  private val RecallProbeTarget = 3000L

  /** Corpus-adaptive probe modulus — ONE broadcast-scalar row
    * (`pmod`), derived IN-PLAN from the corpus count (the
    * [[bandGeometryOf]] pattern): max(10, ⌈n / target⌉), in exact
    * integer arithmetic both engines replay identically.
    */
  private[graft] def probeModOf(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n"))
      .select(greatest(lit(RecallProbeMod.toLong),
        expr(s"(n + ${RecallProbeTarget - 1}) div $RecallProbeTarget"))
        .as("pmod"))

  /** SAMPLED LSH quality audit — the production form of
    * [[minhashRecall]], per SCALE.md's honest negative: the full
    * audit's exact side is the UNCAPPED inverted-gram self-join,
    * whose candidate fan-out grows with the square of posting-list
    * length (46 GB of spill at the replicated 100× rung). This form
    * audits only pairs INCIDENT TO a hash-sampled probe set (1 in
    * `pmod` docs — portable hash, independent of every other
    * sampler's salt): the probe docs' grams join the full index, so
    * exact-side fan-out is bounded by |probe|·posting-length. The
    * modulus is CORPUS-ADAPTIVE ([[probeModOf]]: ~[[RecallProbeTarget]]
    * probes at any scale), so the audit's cost is ~posting-length ×
    * a CONSTANT probe mass — the fixed-rate form still ballooned
    * 620× on the clone-replicated 100× rung, where posting lists and
    * probe count both grew 100×. Unbiasedness is unchanged: at any
    * modulus the probe hash is a function of doc_id alone (never of
    * content or of the banding hashes), so recall over
    * probe-incident pairs estimates corpus recall without bias —
    * the modulus only sets the sample's variance. Candidates are the
    * banded pairs filtered to the same incidence predicate; both
    * sides meet in the same full-outer + scalar agg, with the probe
    * count folded in as a broadcast scalar.
    */
  def minhashRecallSample(s: SparkSession, d: String): DataFrame = {
    val pm = probeModOf(Tables.documents(s, d))
    def probe(c: org.apache.spark.sql.Column) =
      portableHash(concat(lit("recall:"), c.cast("string"))) % col("pmod") === 0
    val ngn = gramHashRows(s, d).repartition(col("gh"))
    val a = postings(ngn.crossJoin(broadcast(pm)).filter(probe(col("doc_id"))),
      "doc_a", "na")
    val exact = a.join(postings(ngn, "doc_b", "nb"), Seq("gh"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("c"))
      .filter(jaccard4 >= DropThreshold)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
              greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .distinct()
      .withColumn("ex", lit(1))
    val cand = minhashPairs(s, d).crossJoin(broadcast(pm))
      .filter(probe(col("doc_a")) || probe(col("doc_b")))
      .select(col("doc_a"), col("doc_b"), lit(1).as("cd"))
    val nProbe = Tables.documents(s, d).crossJoin(broadcast(pm))
      .filter(probe(col("doc_id")))
      .agg(count(lit(1)).as("n_probe"))
    exact.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(col("ex")).as("n_exact"),
           count(col("cd")).as("n_candidates"),
           count(when(col("ex") === 1 && col("cd") === 1, 1)).as("n_found"))
      .crossJoin(broadcast(nProbe))
      .select(col("n_probe"), col("n_exact"), col("n_candidates"),
        col("n_found"),
        pround(col("n_found") / col("n_exact"), 4).as("recall"),
        pround(col("n_found") / col("n_candidates"), 4).as("precision"))
  }

  /** Cross-source near-duplicate overlap matrix — the dataset-audit
    * view of [[minhashPairs]] (the Dolma/RedPajama-style "how much of
    * corpus A is also in corpus B" report): LSH-candidate pairs
    * attributed to their sources, counted per unordered source pair
    * (least/greatest canonicalization). The per-pair source lookup
    * joins only the PAIR LIST (≪ corpus) against the 2-column
    * (doc_id, source) projection, so the matrix costs two slim joins
    * on top of the signature machinery it shares with every other
    * minhash query.
    */
  def sourceOverlap(s: SparkSession, d: String): DataFrame =
    sourcePairCounts(minhashPairs(s, d), Tables.documents(s, d))

  /** Near-dup pairs attributed to their sources and counted per
    * unordered source pair — the tail both overlap matrices share.
    */
  private def sourcePairCounts(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
               greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Band-bucket occupancy cap for the bounded source-overlap twin —
    * the [[OccCap]] knob at the MinHash seam. On a clone-degenerate
    * corpus (the 100× replication rung, or a real template farm) one
    * (band, sig) bucket holds every clone of a cluster and
    * contributes C(m,2) pairs; capping bounds any bucket at
    * C(50,2). At the gate SFs clone clusters are ~10 docs, so the
    * cap never binds there and the capped matrix equals the full one
    * (spec-pinned); where it binds, both engines drop the SAME
    * buckets (the oracle mirrors the cap), so the gate stays
    * hash-exact.
    */
  private val BandOccCap = 50

  /** Production-tier bounded twin of [[sourceOverlap]] — the
    * dataset-audit overlap matrix WITHOUT materializing the full
    * candidate pair stream: (band, sig) buckets holding more than
    * [[BandOccCap]] docs are dropped from pairing entirely (the
    * `dedup_simhash_capped` occupancy pattern), so per-bucket
    * join fan-out — and with it the whole matrix cost — is linear in
    * the corpus no matter how clone-degenerate it is. The audit
    * answer survives: overlap RANKING is preserved wherever every
    * source pair loses proportionally (hot buckets are exactly the
    * mass that dominates every cell), and at the gate SFs the cap
    * doesn't bind at all, so the matrix is equal, not just
    * rank-equal (SourceOverlapSpec pins both).
    */
  def sourceOverlapCapped(s: SparkSession, d: String): DataFrame =
    sourceOverlapCappedOf(Tables.documents(s, d), BandOccCap)

  /** [[sourceOverlapCapped]] over an explicit documents frame with an
    * explicit cap (spec entry; cap = Long.MaxValue replays the
    * uncapped matrix for differential pinning).
    */
  private[graft] def sourceOverlapCappedOf(docs: DataFrame,
                                           cap: Long): DataFrame = {
    val b = bandedOf(slotArrays(docs), bandGeometryOf(docs))
      .repartition(col("band"), col("sig"))
    sourcePairCounts(
      pairsSharing(underCap(b, Seq("band", "sig"), cap), "band", "sig"), docs)
  }

  /** 64-bit tf-weighted SimHash per document. */
  def simhash(s: SparkSession, d: String): DataFrame =
    simhashTable(s, d).orderBy(col("doc_id"))

  /** The whole fingerprint MAP-SIDE per document via the
    * [[graft.functions.SimHash64]] expression — no per-word explode,
    * no (doc, word) tf aggregation, no 64-conditional-sum aggregate
    * (each step of that relational evolution is recorded in
    * SimHash64's Scaladoc; bit-identity is spec-pinned in
    * SimHash64Spec and oracle-gated). What remains is one md5 per
    * distinct word — the cross-engine hash contract's inherent cost.
    */
  private def simhashTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"),
        graft.functions.SimHash64.simhash64(col("tk")).as("simhash"))

  /** All-pairs baseline for SimHash near-dup pairs — NOT the shipped
    * query. Broadcast nested-loop over the (doc_id, simhash) signature
    * table (only 16 bytes per doc move, never documents). O(N²)
    * compute, so it dies at 100×; it survives purely as the
    * differential-test twin of the shipped, oracle-checked default
    * [[simhashPairsBlocked]] (output-identical, spec-enforced).
    */
  def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val t = simhashTable(s, d)
    val a = t.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = t.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(broadcast(b), col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)"))
      .filter(col("hamming") <= HammingMax)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Pigeonhole-blocked SimHash pair scan — the shipped
    * `dedup_simhash_pairs` query, in the Manku et al. (WWW'07)
    * configuration: 64-bit fingerprint split into 4 blocks of 16
    * bits. A pair within Hamming distance 3 differs in at most 3
    * blocks, so it MUST agree exactly on ≥1 of the 4 — an equi-join
    * on (block_id, block_value) finds every such pair without
    * enumerating all pairs. Identical output to [[simhashPairs]]
    * (spec-enforced). Per-block random collision is 2⁻¹⁶, so on
    * non-adversarial corpora candidate volume tracks true near-dups
    * (≈ 4·C(N,2)/65536 background pairs), not N² — this is the
    * 100 TB path. (The previous 8×4-bit blocking collided at
    * p=1/16 per block ⇒ ≈N²/4 background candidates: structurally
    * correct, asymptotically useless. SCALE.md carries the measured
    * candidate-count curve.)
    */
  def simhashPairsBlocked(s: SparkSession, d: String): DataFrame =
    simhashPairsFrom(blockedTable(s, d))

  /** The Manku blocked Hamming-pair join over ANY 64-bit signature
    * table (doc_id, simhash) — the same plan `dedup_simhash_pairs`
    * ships, reusable for other fingerprints (perceptual image dHash
    * in [[Multimodal.imageDedup]]): pairs within Hamming ≤ 3 of each
    * other, found via the 4×16-bit pigeonhole equi-join, never
    * all-pairs.
    */
  private[graft] def hammingPairs64(sig: DataFrame): DataFrame =
    simhashPairsFrom(blockedOf(sig))

  private def blockedTable(s: SparkSession, d: String): DataFrame =
    blockedOf(simhashTable(s, d))

  /** (doc_id, simhash, blk, bv): one row per 16-bit block of each
    * fingerprint, pre-partitioned on the (blk, bv) join key.
    */
  private def blockedOf(sig: DataFrame): DataFrame = {
    val nBlocks = 4
    sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until nBlocks).map { b =>
        struct(lit(b).as("blk"),
               expr(s"(simhash >> ${16 * b}) & 65535").as("bv"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
              col("bb.blk").as("blk"), col("bb.bv").as("bv"))
      .repartition(col("blk"), col("bv"))
  }

  private def simhashPairsFrom(blocked: DataFrame): DataFrame = {
    val a = blocked.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"),
                           col("blk"), col("bv"))
    val b = blocked.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"),
                           col("blk"), col("bv"))
    // hamming-filter BEFORE the dedup shuffle: bit_count is codegen'd
    // and free at candidate production, so non-matching colliding
    // candidates never reach the distinct's exchange. Neutral on this
    // dense corpus (nearly all candidates are matches); on a sparse
    // real corpus the filtered-out fraction dominates.
    a.join(b, Seq("blk", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)"))
      .filter(col("hamming") <= HammingMax)
      .select(col("doc_a"), col("doc_b"), col("hamming")).distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // Bucket-occupancy cap for the capped variant. The honest residual
  // of blocked SimHash on a template-correlated corpus is hot
  // (blk, bv) buckets: boilerplate drives many fingerprints to agree
  // on a block, and one bucket of occupancy m contributes C(m,2)
  // candidates. At sf0.01 clone clusters are ~10 docs, so 50 keeps
  // every true near-dup reachable while bounding any bucket's
  // contribution at C(50,2); production corpora set it from the
  // occupancy histogram (same knob as the shingle DF cap).
  private val OccCap = 50

  /** Occupancy-capped blocked SimHash — the DF-cap analogue for the
    * pigeonhole join: (blk, bv) buckets holding more than [[OccCap]]
    * fingerprints are dropped from candidate generation ENTIRELY, so
    * per-bucket join fan-out is bounded by C(OccCap, 2) no matter how
    * template-correlated the corpus is. Documented recall trade: a
    * pair is missed only if EVERY block it agrees on is over-occupied.
    * Measured (SimhashScale + output diff): at sf0.001/sf0.01 no
    * bucket exceeds the cap — output identical to the uncapped scan
    * (DedupSpec pins sf0.001); at sf0.1 the correlated corpus makes
    * the cap bind — candidates 191k → 74k (2.6×) at the cost of
    * 37/312 pairs whose agreeing blocks were all hot. The oracle
    * mirrors the cap exactly, so the gate stays hash-exact wherever
    * it binds; the uncapped [[simhashPairsBlocked]] remains the
    * default, this is the bounded-worst-case knob.
    */
  def simhashPairsCapped(s: SparkSession, d: String): DataFrame =
    simhashPairsFrom(underCap(blockedTable(s, d), Seq("blk", "bv"), OccCap))

  /** Exact n-gram Jaccard over candidate pairs that share a shingle.
    * Set sizes come MAP-SIDE from the fused GramRunStats expression
    * (the count of distinct grams per doc — previously a per-doc
    * window, i.e. an extra shuffle before the join), and the join
    * keys on xxhash64 of the gram instead of the gram string: 8-byte
    * shuffle keys for ~40-byte grams, at the usual accepted 64-bit
    * within-join collision risk (~grams²/2⁶⁵ — the string-keyed
    * DuckDB oracle re-checks every gate run). One shuffle total
    * before the pair aggregation, shared by both join sides.
    */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    jaccardPairs(gramHashRows(s, d).repartition(col("gh")))

  /** EXACT Jaccard ≥ [[DropThreshold]] pairs via AllPairs prefix
    * filtering (Bayardo et al., WWW'07; Chaudhuri et al., ICDE'06) —
    * same output as the brute inverted-index join at the near-dup
    * threshold, radically smaller candidate space. Under a global
    * gram order (ascending document frequency, gh tiebreak), two
    * docs with J ≥ t MUST share a gram inside both docs' first
    * |x| − ⌈t·|x|⌉ + 1 grams: if the smallest shared gram g* missed
    * a's prefix, ALL shared grams would sit in a's suffix, so
    * c ≤ ⌈t·|a|⌉ − 1 < t·|a| ≤ t·|a∪b| ≤ c — contradiction (and
    * symmetrically for b). So indexing only each doc's prefix —
    * at t = 0.8 the RAREST ~20% of its grams, whose posting lists
    * are the shortest by construction — generates a complete
    * candidate set; candidates are then verified exactly against the
    * full gram sets. This is the principled form of the df-cap's
    * fan-out bound: `dedup_ngram_capped` changes the score's
    * semantics, prefix filtering provably does not (the oracle is
    * the brute join's SQL verbatim at the 0.8 threshold, and
    * PrefixJoinSpec pins plan-level equality with the uncapped
    * query's ≥ 0.8 slice).
    *
    * 100 TB shape: the df join adds one vocab-sized exchange, the
    * per-doc prefix window one doc-keyed exchange — both linear —
    * and the quadratic term collapses from Σ df² over ALL posting
    * lists to Σ df² over prefix postings, which the df-ascending
    * prefix order biases toward df ≈ 1.
    */
  def ngramPrefixJoin(s: SparkSession, d: String): DataFrame =
    ngramPrefixAdaptiveOf(Tables.documents(s, d))

  /** [[ngramPrefixJoin]] over an explicit documents frame. */
  private[graft] def ngramPrefixAdaptiveOf(docs: DataFrame): DataFrame = {
    // duplicate-mass-adaptive (the dropList branch rule): a
    // clone-replicated corpus destroys the df≈1 tail the prefix
    // filter's pruning rides on (every gram's df ≥ the clone factor —
    // the 100× rung timed the direct plan out), and the exact-collapse
    // prepass RESTORES it: J(clone, x) = J(rep, x), so the rep-level
    // prefix join over distinct texts sees the original df
    // distribution, and member pairs expand in closed form. On a
    // clone-light corpus the identity frames make the prepass a no-op.
    val (reps, members) = adaptiveGroups(docs, dupMassFlag(docs))
    ngramPrefixOverGroups(reps, members)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Prefix-filtered exact Jaccard over explicit (reps, members)
    * frames — rep-level AllPairs join + closed-form member-pair
    * expansion:
    *  - within-group pairs: every (a < b) of a clone group at J = 1,
    *    iff the group's text yields ≥ 1 shingle (gram-less clones
    *    share nothing in the uncollapsed join);
    *  - cross-group pairs: a verified rep pair (ra, rb, j) expands to
    *    all (member(ra), member(rb)) at the SAME j — J(a, b) =
    *    J(ra, rb) because clones carry identical gram sets.
    * Identity members (the direct side) make `within` empty and the
    * expansion joins identity maps, so this same pipeline IS the
    * uncollapsed plan there. Output is provably the uncollapsed
    * join's ≥ 0.8 pair set — and the oracle still replays the
    * UNCOLLAPSED brute slice, so the gate checks the equivalence.
    * Scale: the expansion joins are output-proportional (pair
    * enumeration is output-bound on a clone rung for ANY algorithm);
    * the quadratic candidate space the direct plan drowned in is
    * never touched. AdaptiveCollapseSpec forces each side through
    * [[adaptiveGroups]] with a constant flag frame.
    */
  private[graft] def ngramPrefixOverGroups(reps: DataFrame,
                                           members: DataFrame,
                                           repJoin: DataFrame => DataFrame =
                                             ngramPrefixJoinOf): DataFrame = {
    val repPairs = repJoin(gramHashRowsOf(reps))
    val mG = members.filter(col("gramful"))
    val within = mG.select(col("rep"), col("doc_id").as("doc_a"))
      .join(mG.select(col("rep"), col("doc_id").as("doc_b")), Seq("rep"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(1.0).as("jaccard"))
    val ma = members.select(col("rep").as("doc_a"), col("doc_id").as("ida"))
    val mb = members.select(col("rep").as("doc_b"), col("doc_id").as("idb"))
    val cross = repPairs.join(ma, Seq("doc_a")).join(mb, Seq("doc_b"))
      .select(least(col("ida"), col("idb")).as("doc_a"),
              greatest(col("ida"), col("idb")).as("doc_b"),
              col("jaccard"))
    within.unionByName(cross)
  }

  /** The complete candidate set of the prefix filter: doc pairs
    * sharing at least one gram inside both docs' df-ascending
    * prefixes (exposed for the spec's candidate-space comparison).
    */
  private[graft] def prefixCandidatesOf(grams: DataFrame): DataFrame = {
    val df = grams.groupBy(col("gh")).agg(count(lit(1)).as("df"))
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("gh"))
    // prefix length n − ⌈0.8·n⌉ + 1 in EXACT integer arithmetic:
    // ⌈4n/5⌉ = (4n + 4) div 5 (a double 0.8·n overshoots for n ≡ 0
    // mod 5 and would silently shorten the prefix — a missed-pair bug)
    val prefix = grams.join(df, "gh")
      .withColumn("rn", row_number().over(wn))
      .filter(col("rn") <= col("n") - expr("(4 * n + 4) div 5") + 1)
      .select(col("doc_id"), col("gh"))
      .repartition(col("gh"))
    pairsSharing(prefix, "gh")
  }

  /** Prefix candidates verified exactly against FULL gram sets. */
  private[graft] def ngramPrefixJoinOf(grams: DataFrame): DataFrame =
    exactVerified(prefixCandidatesOf(grams), grams)

  /** Distinct-text document-frequency cap for the BOUNDED prefix-twin
    * candidate stream ([[ngramPrefixCapped]]): grams carried by more
    * than this many DISTINCT texts are dropped from candidate
    * generation (verification always runs over FULL gram sets). 8 =
    * just above the sf0.01 rep-level df tail (tops out at 7), the
    * [[DfCap]] set-where-it-prunes discipline: the candidate join is
    * then Σ_{df≤8} df² ≤ 8·Σdf — a TIGHT linear bound (a first cut
    * at 50 kept essentially every gram of the 100× rung's rep corpus
    * and degenerated to the brute inverted join, measured 2× the
    * uncapped query). A true ≥0.8 pair of distinct texts shares the
    * rare grams around its differing tokens, so the pruning drops
    * boilerplate mass, not near-dup signal; where it binds, both
    * engines drop the SAME grams (the oracle mirrors the cap).
    * Production corpora tune the absolute cap (or a df/N fraction) —
    * same plan shape.
    */
  private val PrefixDfCap = 8L

  /** Production-tier bounded twin of [[ngramPrefixJoin]] — exact
    * Jaccard ≥ 0.8 pairs with the candidate stream bounded by
    * [[PrefixDfCap]] instead of the prefix-filter proof. Same
    * duplicate-mass-adaptive prepass as the uncapped twin (identity
    * frames on a clone-light corpus; exact collapse to one rep per
    * distinct text where duplicate mass is high — so df is rep-level
    * df exactly when clones would flatten the distribution), then
    * candidates = rep pairs sharing a gram held by ≤ [[PrefixDfCap]]
    * reps, verified exactly against FULL gram sets, member pairs in
    * closed form. Candidate fan-out is Σ_{df≤cap} df² ≤ cap · Σ df —
    * LINEAR in rep-level gram mass at any clone degeneracy (the
    * uncapped prefix join's pruning relies on the df≈1 tail and
    * still pays the full candidate stream when boilerplate flattens
    * it). Semantics change vs the uncapped twin: a pair whose EVERY
    * shared gram is in > cap reps is missed — rank among returned
    * pairs is preserved because every returned pair carries its
    * exact full-set Jaccard (PrefixCappedSpec pins containment +
    * score equality + cap-not-binding equality). The DuckDB oracle
    * mirrors the whole pipeline INCLUDING the adaptive branch (the
    * bandsCteSql corpus-adaptive precedent), so the gate checks
    * whichever side the corpus selects.
    */
  def ngramPrefixCapped(s: SparkSession, d: String): DataFrame =
    ngramPrefixCappedOf(Tables.documents(s, d))

  /** [[ngramPrefixCapped]] over an explicit documents frame — spec
    * entry for forcing each adaptive side.
    */
  private[graft] def ngramPrefixCappedOf(docs: DataFrame): DataFrame = {
    val (reps, members) = adaptiveGroups(docs, dupMassFlag(docs))
    ngramPrefixOverGroups(reps, members, ngramDfCappedJoinOf(_, PrefixDfCap))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** [[ngramPrefixJoinOf]]'s exact-verification pipeline with the
    * candidate set df-capped instead of prefix-filtered (spec entry:
    * cap = Long.MaxValue replays every shared-gram candidate, i.e.
    * the brute candidate set, for differential pinning). One explicit
    * gh repartition shared by the df count and the posting self-join
    * (the [[ngramJaccardCapped]] exchange-reuse trick).
    */
  private[graft] def ngramDfCappedJoinOf(grams: DataFrame,
                                         cap: Long): DataFrame = {
    val g = grams.select(col("doc_id"), col("gh")).repartition(col("gh"))
    exactVerified(pairsSharing(underCap(g, Seq("gh"), cap), "gh"), grams)
  }

  /** Span width for substring-level exact dedup: a duplicated region
    * must repeat at least this many consecutive tokens. 13 matches
    * the decontamination gram width (GPT-3 appendix C / Gopher) —
    * the corpus-size-robust "too long to repeat by chance" setting;
    * Lee et al. (2022) use 50 BPE tokens at web scale, a config
    * knob, not a different plan.
    */
  private val SubstrK = 13

  /** Substring-level exact dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): find every maximal
    * region of ≥ [[SubstrK]] consecutive tokens that occurs more than
    * once ANYWHERE in the corpus — across documents or repeated
    * inside one. Doc-level dedup (exact/minhash/simhash) misses
    * boilerplate shared between otherwise-distinct pages; this is the
    * pass that catches it.
    *
    * Plan (the distributed stand-in for their suffix array, which is
    * inherently sequential to build): every K-token window becomes an
    * 8-byte rolling hash with its position ([[graft.functions.GramPosHashes]],
    * one map-side generator pass — no gram strings, no window
    * shuffle); a window is duplicated iff its hash occurs ≥ 2 times
    * corpus-wide. One explicit repartition on gh is shared by the
    * occurrence count and the semi-join back to positions (identical
    * subtree → exchange reuse, the [[ngramJaccardCapped]] pattern).
    * Duplicated windows then fold into maximal spans per document:
    * two windows merge iff they overlap (start delta ≤ K-1), a
    * gaps-and-islands pass partitioned BY DOCUMENT — no global
    * window, no driver loop. Output: (doc_id, span_start, span_end,
    * span_tokens), token positions 1-based inclusive.
    *
    * At 100 TB: rows shuffled are one (pos, gh) pair per token —
    * linear, the same volume word count shuffles — and the per-doc
    * island window is bounded by document length. The hash-keyed
    * count accepts the usual 64-bit collision risk (~windows²/2⁶⁵;
    * the string-keyed DuckDB oracle re-checks every gate run).
    */
  def substrSpans(s: SparkSession, d: String): DataFrame =
    substrSpansOf(Tables.documents(s, d))

  /** [[substrSpans]] over an explicit documents frame (spec entry).
    *
    * No explicit repartition on gh (unlike [[ngramJaccardCapped]]):
    * the duplicated-gram set is far smaller than the positional
    * stream, so the semi-join broadcasts it and the only shuffles of
    * the full stream are the occurrence-count aggregate and the
    * per-doc island window — an explicit gh repartition measured as
    * a third full exchange sitting uselessly above the broadcast
    * join.
    */
  private[graft] def substrSpansOf(docs: DataFrame): DataFrame = {
    val pg = docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        graft.functions.GramPosHashes.gram_pos_hashes(col("tk"), SubstrK))
    val dup = pg.groupBy(col("gh")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select(col("gh"))
    val dupPos = pg.join(dup, Seq("gh"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wd) <= SubstrK - 1, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("isl", sum(col("brk")).over(wd))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
           (max(col("pos")) + lit(SubstrK - 1).cast("long")).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + lit(1L))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("span_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** The ACTION step of substring dedup (Lee et al. 2022 drop the
    * duplicated span, keeping the surrounding text): every token
    * inside a duplicated span is removed and the remainder re-joined
    * with single spaces (token-normalized output — original
    * whitespace/punctuation between kept tokens is not preserved,
    * which is exactly what a tokenizer-bound training pipeline
    * consumes). Output: per-doc kept-token count and the md5 of the
    * cleaned text (null when nothing survives), alongside the
    * original token count.
    *
    * Shape: the token stream left-anti-joins the tiny span table on
    * (doc_id, pos ∈ [start, end]) — doc_id is the equi key, the
    * range is a residual predicate over the handful of spans a
    * document has. Reconstruction sorts each document's kept tokens
    * once (a per-doc array sort, not a global window).
    */
  def substrStrip(s: SparkSession, d: String): DataFrame =
    substrStripOf(Tables.documents(s, d))

  private[graft] def substrStripOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
    val nTok = toks.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
    val tokPos = toks
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("w"))
    val spans = substrSpansOf(docs)
      .select(col("doc_id").as("s_doc"), col("span_start"), col("span_end"))
    val kept = tokPos.join(spans,
      col("doc_id") === col("s_doc") &&
        col("pos").between(col("span_start"), col("span_end")), "left_anti")
    val ka = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        expr("md5(array_join(transform(sort_array(collect_list(struct(pos, w))), x -> x.w), ' '))")
          .as("clean_md5"))
    nTok.join(ka, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        col("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** Per-document duplicated-token fraction — the quality signal a
    * pipeline filters on ("how much of this doc is boilerplate"):
    * total tokens inside [[substrSpans]] spans over total tokens.
    * Spans are disjoint by construction (overlapping windows merged),
    * so the sum is exact. Docs with no duplicated span are reported
    * with dup_tokens = 0 — the join is a broadcast-friendly LEFT
    * join of the (small) span summary onto the map-side token count.
    */
  def substrStats(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nTok = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val dup = substrSpansOf(docs)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_tokens")).as("dup_tokens"))
    nTok.join(dup, Seq("doc_id"), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_frac",
        pround(col("dup_tokens") / greatest(col("n_tokens"), lit(1L)), 4))
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"), col("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Line-granular dedup rows: (doc_id, lpos, line, lkey) — one row
    * per NON-EMPTY line (empty-after-normalization lines carry no
    * dedupable content and are excluded from both counts and strip),
    * lkey = md5 of the [[graft.functions.NormalizeText]]-normalized
    * line so casing/punctuation variants of a boilerplate line share
    * a key (the [[normalized]] whole-doc precedent, applied per line).
    */
  private def lineRows(docs: DataFrame): DataFrame = {
    val norm = graft.functions.NormalizeText.normalize_text(col("line"))
    docs
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n", -1)).as(Seq("p0", "line")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("lpos"),
        col("line"), norm.as("norm"))
      .filter(col("norm") =!= "")
      .select(col("doc_id"), col("lpos"), col("line"),
        md5(col("norm").cast("binary")).as("lkey"))
  }

  /** Per-line corpus-wide dedup stats (RefinedWeb §3 / CCNet per-line
    * boilerplate removal) — the dedup granularity BETWEEN
    * [[normalized]] (whole doc) and [[substrSpans]] (token spans): a
    * line whose normalized md5 occurs ≥ 2 times ANYWHERE in the
    * corpus (across or within documents — boilerplate headers repeat
    * both ways) is duplicated. Output per doc: non-empty line count,
    * duplicated-line count, duplicated fraction.
    *
    * At 100 TB: the line stream is linear in corpus bytes and
    * shuffles 16-byte md5 keys (never line text) for the occurrence
    * count; the duplicated-key set — small by the same boilerplate
    * skew that motivates the pass — broadcasts into a semi-join, the
    * [[substrSpansOf]] shape at line granularity. Docs whose every
    * line normalizes to empty have nothing to dedup and are excluded
    * (the gopherRules n_words > 0 precedent). The synthetic corpus is
    * single-line, so the gate exercises the degenerate point (per-doc
    * frac ∈ {0, 1}, agreeing with [[normalized]]'s planted dup
    * groups); planted multi-line docs pin the per-line arithmetic in
    * LineDedupSpec.
    */
  def linesStats(s: SparkSession, d: String): DataFrame =
    linesStatsOf(Tables.documents(s, d))

  /** [[linesStats]] over an explicit documents frame (spec entry). */
  private[graft] def linesStatsOf(docs: DataFrame): DataFrame = {
    val lr = lineRows(docs)
    val dup = lr.groupBy(col("lkey")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select(col("lkey"))
    val per = lr.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lines"))
    val dd = lr.join(dup, Seq("lkey"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_lines"))
    per.join(dd, Seq("doc_id"), "left")
      .withColumn("dup_lines", coalesce(col("dup_lines"), lit(0L)))
      .withColumn("dup_line_frac",
        pround(col("dup_lines") / col("n_lines"), 4))
      .select(col("doc_id"), col("n_lines"), col("dup_lines"),
        col("dup_line_frac"))
      .orderBy(col("doc_id"))
  }

  /** The ACTION step of line dedup: drop every duplicated line (ALL
    * copies — boilerplate is noise wherever it appears, the RefinedWeb
    * semantic) and rejoin the survivors in original order with \n.
    * Output per doc: line count, kept-line count, md5 of the cleaned
    * text (null when nothing survives) — [[substrStripOf]]'s contract
    * at line granularity. Kept lines keep their ORIGINAL text; only
    * the dedup KEY is normalized.
    */
  def linesStrip(s: SparkSession, d: String): DataFrame =
    linesStripOf(Tables.documents(s, d))

  private[graft] def linesStripOf(docs: DataFrame): DataFrame = {
    val lr = lineRows(docs)
    val dup = lr.groupBy(col("lkey")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select(col("lkey"))
    val per = lr.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lines"))
    val ka = lr.join(dup, Seq("lkey"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_lines"),
        expr("md5(array_join(transform(sort_array(collect_list(" +
          "struct(lpos, line))), x -> x.line), chr(10)))").as("clean_md5"))
    per.join(ka, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("kept_lines"), lit(0L)).as("kept_lines"),
        col("clean_md5"))
      .orderBy(col("doc_id"))
  }

  private val DropThreshold = 0.8

  /** The full near-dup dedup pipeline, end to end:
    * shingle → minhash → LSH bands → candidate pairs → EXACT Jaccard
    * verification (computed only for candidates — the quadratic space
    * is never touched) → greedy drop list (keep the lowest doc_id of
    * each verified pair). This is the query a pretraining pipeline
    * actually runs; the corpus contains planted near-dups at
    * J ≈ 0.99 that LSH surfaces.
    */
  def dropList(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // duplicate-mass-adaptive: the collapse prepass transforms the
    // clone-replicated rung (direct plan t/o → seconds) but is pure
    // overhead on a clone-light corpus (measured 0.73 → 1.73 s at
    // sf0.1) — so the reps/members frames branch on the in-plan
    // dup-mass scalar while the pipeline exists once. Geometry is
    // pinned to the FULL corpus count either way (the oracle bands at
    // corpus scale), and geometry + flag derive from ONE fused stats
    // aggregate (exchange reuse — not two scans).
    val stats = corpusStats(docs)
    val (reps, members) = adaptiveGroups(docs, flagOfStats(stats))
    dropListOverGroups(reps, members, geomOfStats(stats))
      .orderBy(col("drop_id"))
  }

  /** The drop-list pipeline over explicit (reps, members) frames —
    * `members` = (doc_id, rep, gramful), both from [[adaptiveGroups]]
    * (AdaptiveCollapseSpec forces each side with a constant flag
    * frame): band the reps, verify LSH candidates exactly
    * ([[lshRepPairs]]), then derive each member's drop row in closed
    * form from rep-level pairs. The uncollapsed pair list is
    * quadratic per clone group; here it is never materialized
    * (J(member, x) = J(rep, x), see [[componentsCollapsedOf]]) —
    * member b's drop row derives from rep-level pairs:
    *  - a within-group pair at J = 1 exists below b iff b is not its
    *    group's rep (the rep is the group minimum);
    *  - a cross-group pair (a, b) with a < b exists iff b's rep has a
    *    verified neighbor rep r* with r* < b (r* is its group's min,
    *    so r* < b decides member availability, and the pair (r*, b)
    *    itself is real), contributing kept candidate r* at the rep
    *    pair's jaccard.
    * kept_id = min over those candidates = min doc_a over the
    * uncollapsed pairs; max_jaccard likewise. Identity members
    * (rep = doc_id) make `within` empty and `cross` the plain per-pair
    * reduction, so the direct plan is this same pipeline. The DuckDB
    * oracle still replays the UNCOLLAPSED derivation, so the gate
    * checks the equivalence. Scale shape: the symmetric rep-pair list
    * is tiny (near-dup pairs among distinct texts), so the member join
    * is a broadcast — the whole query is the exact-dedup groupBy plus
    * map-side work.
    */
  private[graft] def dropListOverGroups(reps: DataFrame, members: DataFrame,
                                        geom: DataFrame): DataFrame = {
    val repPairs = lshRepPairs(reps, geom)
    val sym = repPairs.select(col("doc_a").as("rep"), col("doc_b").as("r_other"),
        col("jaccard"))
      .unionByName(repPairs.select(col("doc_b").as("rep"),
        col("doc_a").as("r_other"), col("jaccard")))
    // within-group drops exist only where clones actually SHARE grams
    // (a duplicated <3-token text pairs with nothing in the
    // uncollapsed join — the expandRepLabels gramful rule)
    val within = members.filter(col("doc_id") =!= col("rep") && col("gramful"))
      .select(col("doc_id").as("drop_id"), col("rep").as("kept_cand"),
        lit(1.0).as("j"))
    val cross = members.join(broadcast(sym), Seq("rep"))
      .filter(col("r_other") < col("doc_id"))
      .select(col("doc_id").as("drop_id"), col("r_other").as("kept_cand"),
        col("jaccard").as("j"))
    within.unionByName(cross)
      .groupBy(col("drop_id"))
      .agg(min(col("kept_cand")).as("kept_id"), max(col("j")).as("max_jaccard"))
  }

  /** The LSH rep-pair chain shared by the drop list and the
    * components: band the reps under `geom`, pair them on shared
    * (band, sig) buckets, verify exactly at [[DropThreshold]] —
    * (doc_a < doc_b, jaccard), the near-dup edge set [[dropList]]
    * reduces greedily and [[components]] closes transitively.
    */
  private def lshRepPairs(reps: DataFrame, geom: DataFrame): DataFrame = {
    val bands = bandedOf(slotArrays(reps), geom)
      .repartition(col("band"), col("sig"))
    verifiedPairsOver(pairsSharing(bands, "band", "sig"), gramHashRowsOf(reps))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Exact-Jaccard verification of an explicit candidate pair set
    * against gram rows at the ROUNDED accept pround(J, 4) ≥
    * [[DropThreshold]] (the drop-list/components oracles' rule) —
    * shared by [[lshRepPairs]], the incremental path
    * ([[componentsIncOf]]) and the index builder
    * ([[buildDedupGraphIndex]]), so every candidate set is verified
    * through the identical arithmetic. Production layouts
    * additionally prune the gram scan by doc-partitioned storage.
    */
  private def verifiedPairsOver(cand: DataFrame, grams: DataFrame): DataFrame =
    // A PPJoin-style length prefilter (5·na ≥ 4·nb ∧ 5·nb ≥ 4·na,
    // exact for J ≥ 0.8) was measured here in round 12 and REMOVED:
    // at the gate SF the corpus' docs are too similar in length for
    // it to prune, and on the clone-replicated rung the collapsed rep
    // sets are small and 4×4-banded (t* ≈ 0.71) so sub-threshold
    // candidate mass is already minor — the extra sizes aggregate +
    // two joins cost more than they saved at every measured rung.
    overlapCounts(cand, grams)
      .withColumn("jaccard", jaccard4)
      .filter(col("jaccard") >= DropThreshold)

  /** Label-propagation rounds for [[components]]: 4 fixed rounds find
    * the exact min-id component label for any component of DIAMETER
    * ≤ 4 — near-dup components are (near-)cliques by construction
    * (every clone pair passes the Jaccard verify), so real diameters
    * are 1-2. With the final SHORTCUT step (see [[componentsOf]]) the
    * exact path-reach is ~2×rounds rather than `rounds`, so 4 rounds
    * cover chain-shaped components to diameter ~8 — far past
    * anything a near-dup graph produces. The fixed count keeps the
    * query ONE lazy plan (no driver convergence loop, per the
    * library's plan contract) and the oracle unrolls the SAME
    * rounds, so the gate is hash-exact by construction at any
    * diameter.
    */
  private val LabelRounds = 4

  /** Connected components of the verified near-dup graph — what a
    * pipeline actually dedups by: documents transitively linked
    * through near-dup pairs form ONE group keeping a single
    * representative, where the pairwise drop list can keep two docs
    * that never shared an LSH bucket edge directly.
    */
  def components(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    componentsCollapsedOf(docs, bandGeometryOf(docs))
      .orderBy(col("doc_id"))
  }

  /** [[components]] with the EXACT-DUPLICATE COLLAPSE prepass — the
    * plan that survives a clone-heavy corpus. Byte-identical texts
    * have identical shingle sets, so for any clone a of rep r and any
    * doc x, J(a, x) = J(r, x): every LSH/verify/label decision about
    * a is the one already made about r. The pipeline therefore
    * groups by text (the dedup_exact pass), runs the full near-dup
    * machinery over one REPRESENTATIVE per group (the min doc_id),
    * and expands labels back to members. Output is provably
    * IDENTICAL to the uncollapsed plan — reps carry their group's
    * min id, so the component min over members equals the min over
    * reps; multi-copy groups whose rep pairs with nothing are
    * components of their own (their members pair with each other at
    * J = 1 in the uncollapsed graph); singleton reps with no pairs
    * stay absent — and the DuckDB oracle still replays the
    * UNCOLLAPSED derivation, so the gate checks the equivalence, not
    * assumes it.
    *
    * Why it matters at 100 TB: a corpus where each document has k
    * byte-identical copies makes the TRUE near-dup pair set ~k²/2 per
    * group — the exhaustive 100× ladder sweep measured the
    * uncollapsed plan timing out (> 240 s) on the clone-replicated
    * rung, where this plan collapses 500k docs to 5k reps and
    * finishes at sf0.1 cost plus a few linear text-shuffle passes.
    * Near-dup banding per copy is pure waste; exact-collapse first is
    * the production ordering (Lee et al. 2022 run exact substring/
    * document dedup before fuzzy passes for the same reason).
    *
    * Geometry is pinned to the ORIGINAL corpus size (not the
    * collapsed rep count): the oracle's uncollapsed candidate
    * generator bands at corpus scale, and clone signatures equal
    * their rep's, so candidate equivalence needs the same geometry on
    * both plans.
    */
  private[graft] def componentsCollapsedOf(docs: DataFrame,
                                           geom: DataFrame): DataFrame = {
    val groups = collapsedGroups(docs)
    val repPairs = lshRepPairs(groups.select(col("rep").as("doc_id"), col("text")), geom)
      .select(col("doc_a"), col("doc_b"))
    expandRepLabels(docs, groups, componentsOf(repPairs))
  }

  /** Min-label propagation with a FINAL SHORTCUT over an undirected
    * pair list. Rounds are pure relaxes
    *   lab(v) ← min over self+neighbors' labels
    * then one shortcut lab(v) ← min(lab(v), lab(lab(v))) — sound
    * because labels are vertex ids with lab(u) ≤ u invariant (init
    * lab=v, min-only updates), so lab(lab(v)) labels a vertex of the
    * SAME component and can only be smaller. On a path this extends
    * exact reach from `rounds` to ~2×rounds hops. Each relax is ONE
    * join + aggregation over the (small) set of paired documents;
    * DedupSpec proves equality with a driver union-find and pins a
    * diameter-7 chain that plain 4-round relax gets wrong.
    */
  private[graft] def componentsOf(pairs0: DataFrame): DataFrame = {
    // LAZY LINEAGE CUT (r14): the relax rounds below reference the
    // pair list ~7× statically (4 relax rounds + verts + the 2-ref
    // shortcut), and every reference INLINES the caller's pair
    // DERIVATION — for the collapsed LSH pipeline that multiplied
    // the static tree to ~4.7k formatted-plan lines / 164 Exchanges
    // per components-family query, ~0.8-1.3 s of driver planning per
    // run (measured, QueryProbe) before a single task launched.
    // LazySeal computes the derivation ONCE per invocation at first
    // action (zero jobs at plan build — the PlanContractSpec
    // contract; see the LazySeal scaladoc for why neither
    // localCheckpoint nor persist can express this), so every
    // bench/oracle run still computes from parquet. The pair list is
    // the SMALL frame here by design (near-dup pairs, already
    // banded+verified) — the corpus-sized frames stay lazy behind
    // exchange reuse.
    val pairs = graft.plans.LazySeal.seal(pairs0)
    // SELF-LOOPS make each relax round reference the label table
    // exactly ONCE (the v=v edge carries the current label into the
    // min, replacing the left-join-merge form that referenced it
    // twice). Plan-tree discipline matters here: a DataFrame
    // referenced k times per round grows the UNROLLED logical tree
    // k^rounds-fold — the two-ref relax + two-ref shortcut form
    // measured 45.9 s at sf0.1 (256× duplicated subtree, pure
    // planning cost) vs ~2 s for this 2^rounds shape.
    //
    // The symmetric closure + self-loops come from ONE explode over
    // ONE `pairs` reference — NOT a union of selects (a union
    // re-evaluates its input subtree once per branch, the
    // ann_ivf_pq_res lesson): the union-built edge list referenced
    // `pairs` 4× per edgesS, ~18× across the unrolled rounds, which
    // multiplied against the collapse prepass' deeper pair pipeline
    // into a 330-scan plan (14.9 s at sf0.1 where the uncollapsed
    // r10 form ran 2.5 s — pure tree growth, the data is 241 pairs).
    // Self-loops emit once per INCIDENCE (duplicates), which the
    // min-aggregate relax absorbs by construction.
    val edgesS = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")),
        struct(col("doc_a").as("src"), col("doc_a").as("dst")),
        struct(col("doc_b").as("src"), col("doc_b").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val verts = edgesS.filter(col("src") === col("dst"))
      .select(col("src").as("v")).distinct()
    var lab = verts.select(col("v"), col("v").as("lab"))
    for (_ <- 1 to LabelRounds) {
      lab = edgesS
        .join(lab.select(col("v").as("src"), col("lab")), "src")
        .groupBy(col("dst").as("v")).agg(min(col("lab")).as("lab"))
    }
    // one shortcut at the end (2 refs — the only tree doubling):
    // every-round shortcutting measured 5.7 s warm at sf0.1 vs 2.2 s
    // for 2^rounds reach the near-clique graphs never need
    val out = lab.join(
        lab.select(col("v").as("lab"), col("lab").as("jlab")),
        Seq("lab"), "left")
      .select(col("v"),
        least(col("lab"), coalesce(col("jlab"), col("lab"))).as("lab"))
    out.select(col("v").as("doc_id"), col("lab").as("component_id"))
  }

  /** Quality-aware representative selection over the near-dup
    * components: per component keep the LONGEST member (n_chars —
    * "keep the most complete copy", the standard near-dup keep rule),
    * ties to the lowest doc_id. [[dropList]] keeps the lowest id of
    * each PAIR; this is the component-level policy a pipeline
    * actually applies after transitive closure. The argmax is an
    * [[Argmin]].
    */
  def keepBest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    keepBestOf(componentsCollapsedOf(docs, bandGeometryOf(docs)), docs)
  }

  /** [[keepBest]] over explicit (doc_id, component_id) and documents
    * frames (spec entry — the argmax/tie/guard logic under planted
    * memberships; the component machinery itself is DedupSpec's).
    */
  private[graft] def keepBestOf(comp: DataFrame, docs: DataFrame): DataFrame =
    Argmin(comp.join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id")),
        Seq("component_id"), "n_chars", "doc_id", "keepBest", desc = true,
        carry = Seq("n_chars"), extra = Seq(count(lit(1)).as("n_members")))
      .select(col("component_id"), col("n_members"), col("doc_id").as("kept_id"),
        col("n_chars").cast("long").as("kept_chars"))
      .orderBy(col("component_id"))

  // --- persisted dedup-graph state + incremental components --------

  /** Build-once memo per (JVM, corpus dir, tag) — the persisted-ANN
    * pattern ([[Similarity]] `builtIdx`) applied to the near-dup
    * graph: the FIRST call trains and freezes the artifact (the
    * sanctioned one-time build, like file listing); every steady-state
    * call returns a lazy plan over the frozen parquet.
    */
  private val builtGraph =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def graphRootFor(d: String, tag: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    s"${System.getProperty("java.io.tmpdir")}/graft_dgraph_${tag}_$h"
  }

  /** LSH band table of an explicit documents frame under an explicit
    * geometry — bit-identical to [[minhashBands]] at the same
    * geometry (one MinHashSlots expression, one band builder). The
    * geometry arrives as a frame because a persisted index PINS its
    * geometry at build time ([[buildDedupGraphIndex]] freezes it
    * alongside the labels) — an ingest batch must band the way the
    * state it merges into was banded, not by its own size.
    */
  private[graft] def minhashBandsOf(docs: DataFrame,
                                    geom: DataFrame): DataFrame =
    bandedOf(slotArrays(docs.select(col("doc_id"), col("text"))), geom)

  /** Text-group frame shared by the collapsed plans: one row per
    * distinct text — (h = md5, rep = min member doc_id, n_copies,
    * text). Grouped on the 16-byte md5, NEVER the raw text (the
    * [[exact]] discipline): the text-keyed first cut made the hash
    * aggregate compare kilobyte keys and the member-expansion join
    * shuffle corpus bytes — measured 3.9 → 11.1 s on
    * `dedup_keep_best` at sf0.1; md5 keys brought it back to ~4 s
    * with the 100× collapse win intact. `first(text)` is sound
    * because every member of a group is byte-identical (md5
    * collisions excluded by the same cryptographic assumption
    * [[exact]] rides on — and the gate's uncollapsed oracle would
    * catch one).
    */
  private[graft] def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_copies"),
           // max, NOT first: every member of a group is byte-identical
           // so both return the text — but Catalyst marks First
           // non-deterministic, which fails sameResult for every
           // subtree ABOVE it and silently disables ALL exchange
           // reuse in the collapsed plans (measured: 327 parquet
           // scans / 421 exchanges / 0 ReusedExchange in one
           // dedup_components plan)
           max(col("text")).as("text"))

  /** [[exactGroups]] behind a no-op guard referencing EVERY column —
    * the ccnet/smp_dsir exchange-reuse discipline: the collapsed
    * plans reference the group frame from ~5 branches (bands, grams,
    * member expansion, self-components), and per-branch column
    * pruning would otherwise drop different aggregate functions per
    * branch, de-identifying the partial-agg exchange so AQE re-runs
    * the full-corpus groupBy once PER BRANCH (measured: the collapse
    * prepass tripled dedup_keep_best at sf0.1, 3.9 → 12.2 s, almost
    * entirely repeated exactGroups evals). The filter forces all four
    * columns below it in every branch, so every consumer plans the
    * VERBATIM-identical exchange and runtime reuse computes it once.
    * Semantics: only all-null-text groups are dropped — which the
    * uncollapsed derivation never pairs anyway (no tokens → no
    * shingles). `n_copies >= 0` (not isNotNull) because count is
    * non-nullable and a provably-true IsNotNull constant-folds away,
    * taking the column reference with it.
    */
  private def collapsedGroups(docs: DataFrame): DataFrame =
    exactGroups(docs).filter(
      col("h").isNotNull && col("rep").isNotNull &&
        col("n_copies") >= 0 && col("text").isNotNull)

  /** Average copies per distinct text above which the exact-collapse
    * prepass pays for itself: below it the "collapsed" rep set ≈ the
    * corpus and the prepass (md5 groupBy + member-expansion join) is
    * pure overhead on top of the direct plan; above it, banding and
    * shingling per clone is the waste. Measured boundary behavior:
    * at ratio ≈ 1 (sf0.1 gate corpus) the prepass cost
    * `dedup_drop_list` 0.73 → 1.73 s; at ratio 100 (the replicated
    * 100× rung) the DIRECT plan times out while the collapsed one
    * finishes in seconds — 2 is comfortably inside both regimes.
    */
  private val CollapseWorthItCopies = 2L

  /** One corpus-stats row (n docs, nd distinct texts) shared by the
    * band-geometry and duplicate-mass scalars — derived IN-PLAN (the
    * [[bandGeometryOf]] adaptive-boundary pattern: no driver job at
    * plan build); the distinct count shuffles 16-byte md5 keys only.
    * The no-op guard references BOTH columns so every consumer plans
    * the identical aggregate and exchange reuse computes it once
    * (the [[collapsedGroups]] pruning discipline).
    */
  private def corpusStats(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n"),
        countDistinct(md5(col("text").cast("binary"))).as("nd"))
      .filter(col("n") >= 0 && col("nd") >= 0)

  private def flagOfStats(stats: DataFrame): DataFrame =
    stats.select((col("n") >= col("nd") * lit(CollapseWorthItCopies))
      .as("collapse"))

  /** One broadcast-scalar row `(collapse BOOLEAN)`:
    * n_docs ≥ [[CollapseWorthItCopies]] · n_distinct_texts.
    */
  private[graft] def dupMassFlag(docs: DataFrame): DataFrame =
    flagOfStats(corpusStats(docs))

  /** `gramful`: the text yields ≥ 1 word-3-gram shingle. Clones of a
    * shorter text share no grams, so the uncollapsed join never pairs
    * them and no collapsed closed form may either.
    */
  private val gramful = (size(tokens(col("text"))) >= 3).as("gramful")

  /** Corpus-adaptive (reps, members) frames — the exact-collapse
    * prepass as a RUNTIME branch folded into ONE downstream pipeline.
    * The duplicate-mass flag cross-joins onto the docs with
    * complementary filters; the collapse side groups by text and
    * yields (rep per distinct text, member → rep), the direct side
    * yields the IDENTITY frames (every doc its own rep) — so exactly
    * one side contributes rows at runtime, and the heavy machinery
    * downstream (banding, gram verify, pair reduction) exists ONCE in
    * the plan over the UNION of the two rep frames instead of once
    * per branch (the first cut united two full query plans: ~2× the
    * static tree, ~2× the planning cost per run and a full extra
    * corpus scan per disabled pipeline). Identity members make the
    * within-group legs provably empty (doc_id = rep) and the
    * member-expansion joins no-ops, so the direct side degenerates to
    * exactly the uncollapsed plan's semantics. Output-equivalence of
    * the two sides is the documented J(clone, x) = J(rep, x) argument;
    * AdaptiveCollapseSpec pins side-for-side equality by passing a
    * constant `flag` frame that forces each side, and the gate's
    * UNCOLLAPSED oracle checks whichever side the gate corpus selects.
    */
  private[graft] def adaptiveGroups(docs: DataFrame,
                                    flag: DataFrame): (DataFrame, DataFrame) = {
    val docsC = docs.crossJoin(broadcast(flag))
      .filter(col("collapse")).drop("collapse")
    val docsD = docs.crossJoin(broadcast(flag))
      .filter(!col("collapse")).drop("collapse")
    val groups = collapsedGroups(docsC)
    val reps = groups.select(col("rep").as("doc_id"), col("text"))
      .unionByName(docsD.select(col("doc_id"), col("text")))
    val members = docsC
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .join(groups.select(col("h"), col("rep"), gramful), Seq("h"))
      .select(col("doc_id"), col("rep"), col("gramful"))
      .unionByName(docsD.select(col("doc_id"), col("doc_id").as("rep"), gramful))
    (reps, members)
  }

  /** Expand rep-level component labels back to every member:
    * member → its group's rep → the rep's label, with multi-copy
    * groups whose rep carries no rep-level label becoming components
    * of their own (their members pair at J = 1 in the uncollapsed
    * graph). `repLabels`: (doc_id = rep, component_id).
    */
  private def expandRepLabels(docs: DataFrame, groups: DataFrame,
                              repLabels: DataFrame): DataFrame =
    // ONE reference each to docs, groups and repLabels (repLabels is
    // the unrolled label-propagation tree — referencing it twice, as
    // the first cut's anti-join + union did, doubles that whole
    // subtree): member → group on the 16-byte md5 key computed
    // map-side (text never enters the exchange), left-join the rep's
    // label, and resolve in closed form — labeled rep → its label;
    // unlabeled rep of a multi-copy group → self-component (members
    // pair at J = 1 in the uncollapsed graph — PROVIDED the text
    // yields ≥ 1 shingle: a duplicated <3-token text shares no grams
    // with its own clones in the uncollapsed join, so it must stay
    // absent here too; `gramful` is a map-side token count over the
    // one group row, no join); unlabeled singleton → absent.
    docs.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .join(groups.select(col("h"), col("rep"), col("n_copies"), gramful),
        Seq("h"))
      .join(repLabels.withColumnRenamed("doc_id", "rep"), Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("component_id"),
          when(col("n_copies") >= 2 && col("gramful"), col("rep")))
          .as("component_id"))
      .filter(col("component_id").isNotNull)

  /** One-shot dedup-graph index build: freeze to parquet under `path`
    *  - `bands`  — the LSH band signatures of `docs` (the probe table
    *               tomorrow's ingest joins against),
    *  - `pairs`  — the verified near-dup pair list (edge set), and
    *  - `labels` — its connected-component labels.
    * This is the artifact a 100 TB pipeline materializes ONCE and
    * serves many policies from (keep-best, drop lists, overlap
    * audits), instead of re-deriving LSH → verify → label rounds
    * in-plan per query — and the state tomorrow's batch merges into
    * ([[componentsIncOf]]) without rescanning the historical corpus.
    * Each stage reads its predecessor's frozen parquet, so the saved
    * artifacts are self-consistent by construction.
    */
  private[graft] def buildDedupGraphIndex(s: SparkSession, docs: DataFrame,
      path: String, geom: DataFrame = null): Unit = {
    val g = Option(geom).getOrElse(bandGeometryOf(docs))
    g.write.mode("overwrite").parquet(s"$path/geom")
    // bands/pairs persist at REPRESENTATIVE level (the exact-collapse
    // prepass of [[componentsCollapsedOf]]): clone signatures equal
    // their rep's, so rep bands answer every probe the member bands
    // would — at a fraction of the size on a clone-heavy corpus —
    // while labels persist at FULL membership (the serving surface).
    val groups = collapsedGroups(docs)
    val reps = groups.select(col("rep").as("doc_id"), col("text"))
    minhashBandsOf(reps, loadGraphGeom(s, path))
      .write.mode("overwrite").parquet(s"$path/bands")
    val saved = loadGraphBands(s, path).repartition(col("band"), col("sig"))
    // the edge set keeps only what its reader declares
    verifiedPairsOver(pairsSharing(saved, "band", "sig"), gramHashRowsOf(reps))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .write.mode("overwrite").parquet(s"$path/pairs")
    expandRepLabels(docs, groups,
        componentsOf(s.read.schema("doc_a BIGINT, doc_b BIGINT, jaccard DOUBLE")
          .parquet(s"$path/pairs").select(col("doc_a"), col("doc_b"))))
      .write.mode("overwrite").parquet(s"$path/labels")
    // rep-level gram hash rows — the verify side tomorrow's delta
    // candidates join against, so the incremental merge never
    // re-shingles text it already indexed (the same artifact the
    // streaming maintainer keeps in its state)
    gramHashRowsOf(reps).write.mode("overwrite").parquet(s"$path/grams")
  }

  /** Frozen-artifact loaders with PINNED schemas — schema inference
    * on a bare `read.parquet` is a driver-side footer job, which the
    * steady-state plan-build contract forbids (the ANN loadCentroids
    * discipline).
    */
  private[graft] def loadGraphLabels(s: SparkSession, path: String): DataFrame =
    s.read.schema("doc_id BIGINT, component_id BIGINT")
      .parquet(s"$path/labels")

  private[graft] def loadGraphBands(s: SparkSession, path: String): DataFrame =
    s.read.schema("doc_id BIGINT, band BIGINT, sig STRING")
      .parquet(s"$path/bands")

  /** The geometry the index was built with — frozen state, like the
    * labels themselves: a later batch must band identically.
    */
  private[graft] def loadGraphGeom(s: SparkSession, path: String): DataFrame =
    s.read.schema("r BIGINT, nb BIGINT").parquet(s"$path/geom")

  private[graft] def loadGraphGrams(s: SparkSession, path: String): DataFrame =
    s.read.schema("doc_id BIGINT, gh BIGINT, n BIGINT")
      .parquet(s"$path/grams")

  /** Serving twin of [[keepBest]] over FROZEN component labels — the
    * 20×-cheaper form a pipeline actually queries between ingests
    * (the `ann_ivf_pq_idx` serving-twin discipline): the in-plan twin
    * re-derives minhash → bands → verify → 4 label rounds every run;
    * this one reads the persisted labels and runs only the
    * argmax against the documents table. Result — and oracle — are
    * identical to `dedup_keep_best`: the build is deterministic and a
    * BIGINT parquet round-trip is bit-exact.
    */
  def keepBestIdx(s: SparkSession, d: String): DataFrame =
    keepBestOf(loadGraphLabels(s, fullGraphPath(s, d)),
      Tables.documents(s, d))

  /** Memoized full-corpus dedup-graph index path (built once per
    * (JVM, corpus) on first use) — the frozen-label state every
    * serving twin reads ([[keepBestIdx]],
    * [[Sampling.splitLeakFreeIdx]]).
    */
  private[graft] def fullGraphPath(s: SparkSession, d: String): String =
    builtGraph.computeIfAbsent(s"full:$d", _ => {
      val p = graphRootFor(d, "full")
      buildDedupGraphIndex(s, Tables.documents(s, d), p)
      p
    })

  /** Incremental connected components: merge a NEW ingest batch into
    * persisted dedup-graph state WITHOUT re-running LSH over the
    * historical corpus — the operation a daily 100 TB ingest actually
    * needs. Historical state = the frozen `labels` + `bands` +
    * rep-level `grams` of the even-doc_id half (standing in for
    * "yesterday's corpus"); the new batch is the odd half. The delta
    * candidates verify against the PERSISTED gram rows ∪ the new
    * batch's own rep grams — historical TEXT is never re-shingled
    * (the first cut passed gramHashRowsOf(allDocs) to the verify
    * join, which quietly re-tokenized the whole corpus twice per
    * run — exactly the rescan this query exists to avoid; the
    * streaming maintainer's state layout, applied back to batch).
    * The gate's claim is exact: the merged output equals the full
    * recompute (`dedup_components`) row for row — the oracle IS that
    * query's SQL verbatim.
    */
  def componentsInc(s: SparkSession, d: String): DataFrame = {
    val path = builtGraph.computeIfAbsent(s"hist:$d", _ => {
      val p = graphRootFor(d, "hist")
      // geometry pinned to the corpus the index SERVES (historical +
      // future ingest), not the historical half alone — banding
      // geometry is part of the index contract, never re-derived per
      // batch (a half-corpus count could straddle the adaptive
      // boundary and band incompatibly with the batches it merges)
      buildDedupGraphIndex(s,
        Tables.documents(s, d).filter(col("doc_id") % 2 === 0), p,
        geom = bandGeometryOf(Tables.documents(s, d)))
      p
    })
    val newDocs = Tables.documents(s, d).filter(col("doc_id") % 2 === 1)
    val newReps = collapsedGroups(newDocs)
      .select(col("rep").as("doc_id"), col("text"))
    componentsIncOverGrams(newDocs,
      loadGraphLabels(s, path), loadGraphBands(s, path),
      loadGraphGeom(s, path),
      loadGraphGrams(s, path).unionByName(gramHashRowsOf(newReps)))
  }

  /** The merge itself, over explicit frames (spec entry).
    *
    * Delta-proportional by construction:
    *  1. band-sign the new batch map-side; candidate pairs come from
    *     probing the new bands against (persisted ∪ new) bands — every
    *     candidate touches ≥ 1 new doc, and old–old pairs are never
    *     regenerated;
    *  2. exact-Jaccard verify the delta candidates (identical
    *     arithmetic to the full pipeline via [[verifiedPairsOver]]);
    *  3. CONTRACT the historical graph: each delta edge endpoint maps
    *     through the persisted labels (absent → itself), so old
    *     components become super-nodes — min-label relax then runs
    *     over the contracted DELTA graph only, never the historical
    *     edge set;
    *  4. re-point touched old labels through the merged labels and
    *     emit untouched ones unchanged.
    *
    * Exactness: labels are component-min doc_ids, and a contracted
    * vertex id is itself the min of its old component, so the min
    * over a merged contracted component equals the min over all
    * original members — the incremental answer is the full
    * recompute's answer, not an approximation of it. Contraction can
    * only SHORTEN label-propagation distances, so any graph within
    * [[componentsOf]]'s documented diameter reach converges here too.
    */
  private[graft] def componentsIncOf(allDocs: DataFrame, newDocs: DataFrame,
      oldLabels: DataFrame, oldBands: DataFrame,
      geom: DataFrame): DataFrame =
    componentsIncOverGrams(newDocs, oldLabels, oldBands, geom,
      gramHashRowsOf(allDocs))

  /** [[componentsIncOf]] with the verify-gram frame EXPLICIT — the
    * streaming maintainer ([[graft.streaming.StreamingComponents]])
    * has no historical TEXT to re-shingle (the corpus left the
    * stream long ago); it verifies delta pairs against the rep-level
    * gram rows persisted in its state instead. `verifyGrams` must
    * cover every candidate endpoint exactly once (duplicated gram
    * rows would double-count the intersection); candidates only ever
    * touch representative ids (bands are rep-level on both sides),
    * so rep-level grams suffice.
    */
  private[graft] def componentsIncOverGrams(newDocs: DataFrame,
      oldLabels: DataFrame, oldBands: DataFrame,
      geom: DataFrame, verifyGrams: DataFrame): DataFrame = {
    // the new batch gets the SAME exact-collapse prepass as the full
    // plan (daily ingest is clone-heavy too: without it, new–new
    // clone pairs alone are quadratic per group at the 100× rung):
    // band/verify one rep per distinct text, expand at the end.
    // J-equivalence of clones makes rep-level connectivity identical
    // to member-level, and the persisted index's bands are themselves
    // rep-level — a probe that would hit a member hits its rep's
    // identical signature instead.
    val newGroups = collapsedGroups(newDocs)
    val newReps = newGroups.select(col("rep").as("doc_id"), col("text"))
    val newBands = minhashBandsOf(newReps, geom)
    val probe = newBands.select(col("doc_id").as("doc_n"), col("band"), col("sig"))
    val table = oldBands.unionByName(newBands)
      .select(col("doc_id").as("doc_o"), col("band"), col("sig"))
    val cand = probe.join(table, Seq("band", "sig"))
      .filter(col("doc_n") =!= col("doc_o"))
      .select(least(col("doc_n"), col("doc_o")).as("doc_a"),
              greatest(col("doc_n"), col("doc_o")).as("doc_b"))
      .distinct()
    val delta = verifiedPairsOver(cand, verifyGrams)
      .select(col("doc_a"), col("doc_b"))
    val la = oldLabels.select(col("doc_id").as("doc_a"),
                              col("component_id").as("la"))
    val lb = oldLabels.select(col("doc_id").as("doc_b"),
                              col("component_id").as("lb"))
    val contracted = delta
      .join(la, Seq("doc_a"), "left").join(lb, Seq("doc_b"), "left")
      .select(coalesce(col("la"), col("doc_a")).as("doc_a"),
              coalesce(col("lb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val merged = componentsOf(contracted) // (doc_id = super-node, label)
    val upd = merged.select(col("doc_id").as("component_id"),
                            col("component_id").as("newlab"))
    // three output legs, disjoint by construction:
    //  1. every historical doc, its label re-pointed where touched
    val oldOut = oldLabels.join(upd, Seq("component_id"), "left")
      .select(col("doc_id"),
        coalesce(col("newlab"), col("component_id")).as("component_id"))
    //  2. new-batch members, expanded through their reps (multi-copy
    //     groups whose rep merged with nothing are components alone)
    val newOut = expandRepLabels(newDocs, newGroups,
      merged.join(oldLabels.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .join(newGroups.select(col("rep").as("doc_id")), Seq("doc_id"),
          "left_semi"))
    //  3. historical PAIRLESS singletons first linked by this delta:
    //     super-nodes that are neither old labels nor new reps
    val oldTouched = merged
      .join(oldLabels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .join(newGroups.select(col("rep").as("doc_id")), Seq("doc_id"),
        "left_anti")
    oldOut.unionByName(newOut).unionByName(oldTouched)
      .orderBy(col("doc_id"))
  }

  /** Per-source dedup impact report — the effectiveness summary a
    * pipeline reads after a dedup pass (a source with a high
    * near-drop ratio signals crawl overlap or template spam; distinct
    * texts vs docs measures exact-clone mass): document and
    * distinct-text counts, near-dup drop counts and characters
    * removed (from [[dropList]]'s greedy reduction, verbatim — the
    * report attributes THE registered drop list, whose oracle it
    * embeds), and the drop ratio. One narrow doc_id left join on the
    * drop list + a per-source aggregate with an exact distinct on the
    * 16-byte text fingerprint — nothing beyond the drop list's own
    * cost class.
    */
  def dedupReport(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        md5(col("text").cast("binary")).as("h"))
      .join(dropList(s, d).select(col("drop_id").as("doc_id"),
        lit(1L).as("dropped")), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct_texts"),
        coalesce(sum(col("dropped")), lit(0L)).as("n_near_dropped"),
        coalesce(sum(when(col("dropped") === 1L, col("n_chars"))), lit(0L))
          .as("chars_near_dropped"))
      .select(col("source"), col("n_docs"), col("n_distinct_texts"),
        col("n_near_dropped"), col("chars_near_dropped"),
        pround(col("n_near_dropped") / col("n_docs"), 4)
          .as("near_drop_ratio"))
      .orderBy(col("source"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_report"        -> dedupReport _,
    "dedup_keep_best"     -> keepBest _,
    "dedup_keep_best_idx" -> keepBestIdx _,
    "dedup_components_inc" -> componentsInc _,
    "dedup_drop_list"     -> dropList _,
    "dedup_components"    -> components _,
    "dedup_exact"         -> exact _,
    "dedup_norm"          -> normalized _,
    "dedup_ngram_capped"  -> ngramJaccardCapped _,
    "dedup_minhash_sig"   -> minhashSignature _,
    "dedup_minhash_pairs" -> minhashPairs _,
    "dedup_minhash_recall" -> minhashRecall _,
    "dedup_minhash_recall_sample" -> minhashRecallSample _,
    "dedup_simhash"       -> simhash _,
    "dedup_simhash_pairs" -> simhashPairsBlocked _,
    "dedup_simhash_capped" -> simhashPairsCapped _,
    "dedup_ngram_jaccard" -> ngramJaccard _,
    "dedup_ngram_prefix" -> ngramPrefixJoin _,
    "dedup_ngram_prefix_capped" -> ngramPrefixCapped _,
    "dedup_substr"        -> substrSpans _,
    "dedup_substr_stats"  -> substrStats _,
    "dedup_substr_strip"  -> substrStrip _,
    "dedup_lines"         -> linesStats _,
    "dedup_lines_strip"   -> linesStrip _,
    "dedup_source_overlap" -> sourceOverlap _,
    "dedup_source_overlap_capped" -> sourceOverlapCapped _,
  )

  /** Shared line-dedup CTEs for the two oracle entries: split on \n
    * with 1-based positions (DuckDB zips parallel unnests), normalize
    * per line exactly as the dedup_norm oracle does per doc, drop
    * empty-normalized lines, flag keys occurring ≥ 2 times.
    */
  private val lineCte =
    """lr AS (SELECT doc_id,
      |         unnest(generate_series(1, len(parts))) AS lpos,
      |         unnest(parts) AS line
      |       FROM (SELECT doc_id, string_split(text, chr(10)) AS parts
      |             FROM documents)),
      |nz AS (SELECT doc_id, lpos, line,
      |         md5(trim(regexp_replace(lower(line), '[^\p{L}\p{N}]+', ' ', 'g'))) AS lkey
      |       FROM lr
      |       WHERE trim(regexp_replace(lower(line), '[^\p{L}\p{N}]+', ' ', 'g')) <> ''),
      |dup AS (SELECT lkey FROM nz GROUP BY lkey HAVING count(*) >= 2),
      |per AS (SELECT doc_id, count(*) AS n_lines FROM nz GROUP BY doc_id)""".stripMargin

  private val tokSql =
    "list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), t -> t <> '')"
  private val hSql = "CAST(('0x' || substr(md5(%s), 1, 8)) AS BIGINT)"

  /** Shared CTE: distinct word-3-gram shingles per doc.
    * (generate_series instead of range: DuckDB's range() table
    * function rejects lateral column arguments.)
    */
  private val ngCte =
    s"""toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
       |idx AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM toks),
       |ng AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
       |       FROM idx)""".stripMargin

  private val mhCte =
    s"""$ngCte,
       |mh AS (SELECT doc_id, i,
       |         min((${hSql.format("g")} * (i * 2 + 1) + (i * i + 7)) % $MersennePrime) AS mh
       |       FROM ng, range(0, $MinhashK) r2(i)
       |       GROUP BY doc_id, i)""".stripMargin

  /** Corpus-adaptive banding CTE, mirroring [[bandGeometryOf]] +
    * [[bandedOf]]: the geometry derives from count(documents) inside
    * the query, so ONE static SQL string is exact at every gate SF.
    */
  private val bandsCteSql =
    s"""geo AS (SELECT CASE WHEN count(*) <= $AdaptSmallMax
       |                    THEN 2 ELSE $BandRows END AS r
       |        FROM documents),
       |bands AS (SELECT doc_id, i // geo.r AS band,
       |            string_agg(mh::VARCHAR, ',' ORDER BY i) AS sig
       |          FROM mh, geo GROUP BY doc_id, i // geo.r)""".stripMargin

  // 64 hash bits per word from the two md5 halves (hex 9..16 → bits
  // 0..31, hex 1..8 → bits 32..63), mirroring simhashTable. bit 63's
  // literal is spelled out: DuckDB rejects 1::BIGINT << 63 as an
  // overflow, and bit_or (not sum) assembles the fingerprint so the
  // sign bit needs no HUGEINT detour.
  private val hLoSql = "CAST(('0x' || substr(md5(%s), 9, 8)) AS BIGINT)"
  private val simhashCte =
    s"""tf AS (SELECT doc_id, word, count(*) AS tf
       |       FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '[^\\p{L}]+')) AS word
       |             FROM documents) u
       |       WHERE word <> '' GROUP BY doc_id, word),
       |hb AS (SELECT doc_id, b,
       |         sum(CASE WHEN (CASE WHEN b < 32 THEN ${hLoSql.format("word")} >> b
       |                        ELSE ${hSql.format("word")} >> (b - 32) END) & 1 = 1
       |             THEN tf ELSE -tf END) AS s
       |       FROM tf, range(0, $SimhashBits) r(b)
       |       GROUP BY doc_id, b),
       |sh AS (SELECT doc_id,
       |         CAST(bit_or(CASE WHEN s > 0 THEN
       |                (CASE WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
       |                 ELSE CAST(1 AS BIGINT) << b END)
       |              ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
       |       FROM hb GROUP BY doc_id)""".stripMargin

  /** The uncollapsed LSH candidate → exact-overlap CTE chain both
    * near-dup graph oracles replay: minhash, adaptive bands, distinct
    * (band, sig)-sharing `pairs`, per-doc gram `sizes`, and
    * `verified` (doc_a, doc_b, na, nb, c) — the SQL mirror of
    * [[lshRepPairs]] before its accept rule.
    */
  private val verifiedCte =
    s"""$mhCte,
       |$bandsCteSql,
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
       |          WHERE a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM ng GROUP BY doc_id),
       |verified AS (
       |  SELECT p.doc_a, p.doc_b, na.n AS na, nb.n AS nb, count(*) AS c
       |  FROM pairs p
       |  JOIN ng x ON x.doc_id = p.doc_a
       |  JOIN ng y ON y.doc_id = p.doc_b AND y.g = x.g
       |  JOIN sizes na ON na.doc_id = p.doc_a
       |  JOIN sizes nb ON nb.doc_id = p.doc_b
       |  GROUP BY 1, 2, 3, 4)""".stripMargin

  /** The full dedup_components oracle — also embedded verbatim as a
    * CTE by the dedup_keep_best oracle, so both gates replay the
    * IDENTICAL unrolled label propagation (relax + shortcut rounds
    * mirroring [[componentsOf]] exactly).
    */
  private[operators] lazy val ComponentsOracleSql: String = {
    val rounds = (1 to 4).map { i =>
      val prev = s"l${i - 1}"
      // AS MATERIALIZED: each round references its predecessor
      // twice (relax join + shortcut self-join); inlining would
      // re-evaluate the whole upstream chain exponentially
      s"""l$i AS MATERIALIZED (SELECT e.dst AS v, min(l.lab) AS lab
         |  FROM edges_s e JOIN $prev l ON e.src = l.v GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $verifiedCte,
       |vp AS (SELECT doc_a, doc_b FROM verified
       |       WHERE pround(c / (na + nb - c), 4) >= $DropThreshold),
       |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM vp
       |          UNION ALL SELECT doc_b, doc_a FROM vp),
       |edges_s AS MATERIALIZED (SELECT src, dst FROM edges
       |          UNION ALL SELECT DISTINCT src, src FROM edges),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lab FROM edges),
       |$rounds,
       |sc AS (SELECT l.v, least(l.lab, coalesce(j.lab, l.lab)) AS lab
       |       FROM l4 l LEFT JOIN l4 j ON j.v = l.lab)
       |SELECT v AS doc_id, lab AS component_id FROM sc
       |ORDER BY doc_id""".stripMargin
  }

  /** The full dedup_drop_list oracle — embedded verbatim as a CTE by
    * the dedup_report oracle, so both gates replay the IDENTICAL
    * banding/verify/greedy-reduce derivation.
    */
  private lazy val DropListOracleSql: String =
    s"""WITH $verifiedCte
       |SELECT doc_b AS drop_id, min(doc_a) AS kept_id,
       |  max(pround(c / (na + nb - c), 4)) AS max_jaccard
       |FROM verified
       |WHERE pround(c / (na + nb - c), 4) >= $DropThreshold
       |GROUP BY doc_b
       |ORDER BY drop_id""".stripMargin

  /** The dedup_keep_best oracle — shared verbatim by the
    * `dedup_keep_best_idx` serving twin: only where the labels COME
    * FROM differs, which is exactly what that gate pins (frozen
    * labels reproduce the in-plan ones bit-for-bit).
    */
  private lazy val KeepBestOracleSql: String =
    s"""WITH comp AS ($ComponentsOracleSql),
       |m AS (SELECT c.component_id,
       |        d.n_chars * 4398046511104 +
       |          (4398046511103 - d.doc_id) AS enc
       |      FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
       |SELECT component_id, count(*) AS n_members,
       |  CAST(4398046511103 - max(enc) % 4398046511104 AS BIGINT)
       |    AS kept_id,
       |  CAST(max(enc) // 4398046511104 AS BIGINT) AS kept_chars
       |FROM m GROUP BY 1
       |ORDER BY component_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_keep_best" -> KeepBestOracleSql,
    "dedup_keep_best_idx" -> KeepBestOracleSql,
    // incremental merge == full recompute — the oracle IS the full
    // dedup_components SQL, so the gate proves the equality claim
    "dedup_components_inc" -> ComponentsOracleSql,
    "dedup_drop_list" -> DropListOracleSql,
    "dedup_report" ->
      s"""WITH dl AS ($DropListOracleSql)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(count(DISTINCT md5(d.text)) AS BIGINT) AS n_distinct_texts,
         |  CAST(coalesce(sum(CASE WHEN dl.drop_id IS NOT NULL THEN 1 END), 0)
         |    AS BIGINT) AS n_near_dropped,
         |  CAST(coalesce(sum(CASE WHEN dl.drop_id IS NOT NULL THEN d.n_chars END), 0)
         |    AS BIGINT) AS chars_near_dropped,
         |  pround(coalesce(sum(CASE WHEN dl.drop_id IS NOT NULL THEN 1 END), 0)
         |    / count(*), 4) AS near_drop_ratio
         |FROM documents d LEFT JOIN dl ON dl.drop_id = d.doc_id
         |GROUP BY d.source
         |ORDER BY d.source""".stripMargin,
    // mirrors the FIXED label-propagation rounds exactly (unrolled),
    // so Spark and DuckDB agree at any component diameter
    "dedup_components" -> ComponentsOracleSql,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies, md5(text) AS text_md5
        |FROM documents
        |GROUP BY text
        |ORDER BY keep_id""".stripMargin,
    "dedup_norm" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        |  md5(trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g'))) AS norm_md5
        |FROM documents
        |GROUP BY 3
        |ORDER BY keep_id""".stripMargin,
    "dedup_lines" ->
      s"""WITH $lineCte,
         |dd AS (SELECT doc_id, count(*) AS dup_lines
         |       FROM nz JOIN dup USING (lkey) GROUP BY doc_id)
         |SELECT p.doc_id, p.n_lines,
         |  coalesce(d.dup_lines, 0) AS dup_lines,
         |  pround(coalesce(d.dup_lines, 0) / p.n_lines, 4) AS dup_line_frac
         |FROM per p LEFT JOIN dd d ON d.doc_id = p.doc_id
         |ORDER BY p.doc_id""".stripMargin,
    "dedup_lines_strip" ->
      s"""WITH $lineCte,
         |ka AS (SELECT n.doc_id, count(*) AS kept_lines,
         |         md5(string_agg(n.line, chr(10) ORDER BY n.lpos)) AS clean_md5
         |       FROM nz n LEFT JOIN dup u ON u.lkey = n.lkey
         |       WHERE u.lkey IS NULL
         |       GROUP BY n.doc_id)
         |SELECT p.doc_id, p.n_lines,
         |  coalesce(k.kept_lines, 0) AS kept_lines, k.clean_md5
         |FROM per p LEFT JOIN ka k ON k.doc_id = p.doc_id
         |ORDER BY p.doc_id""".stripMargin,
    "dedup_ngram_capped" ->
      s"""WITH $ngCte,
         |keep AS (SELECT g FROM (SELECT g, count(*) AS df FROM ng GROUP BY g) t
         |         WHERE df <= $DfCap),
         |capped AS (SELECT ng.doc_id, ng.g FROM ng JOIN keep ON ng.g = keep.g),
         |sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
         |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |           FROM capped a JOIN capped b ON a.g = b.g
         |           WHERE a.doc_id < b.doc_id
         |           GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b,
         |  pround(c / (na.n + nb.n - c), 4) AS jaccard
         |FROM common
         |JOIN sizes na ON na.doc_id = doc_a
         |JOIN sizes nb ON nb.doc_id = doc_b
         |WHERE pround(c / (na.n + nb.n - c), 4) >= $JaccardThreshold
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_minhash_sig" ->
      s"""WITH $mhCte
         |SELECT doc_id, string_agg(mh::VARCHAR, ',' ORDER BY i) AS minhash_sig
         |FROM mh GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_minhash_pairs" ->
      s"""WITH $mhCte,
         |$bandsCteSql
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         |WHERE a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_minhash_recall" ->
      s"""WITH $mhCte,
         |$bandsCteSql,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         |         WHERE a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ng GROUP BY doc_id),
         |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |           FROM ng a JOIN ng b ON a.g = b.g
         |           WHERE a.doc_id < b.doc_id
         |           GROUP BY a.doc_id, b.doc_id),
         |exact AS (SELECT doc_a, doc_b FROM common
         |          JOIN sizes na ON na.doc_id = doc_a
         |          JOIN sizes nb ON nb.doc_id = doc_b
         |          WHERE pround(c / (na.n + nb.n - c), 4) >= $DropThreshold),
         |j AS (SELECT e.doc_a IS NOT NULL AS ex, c.doc_a IS NOT NULL AS cd
         |      FROM exact e FULL OUTER JOIN cand c
         |        ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b)
         |SELECT count(CASE WHEN ex THEN 1 END) AS n_exact,
         |  count(CASE WHEN cd THEN 1 END) AS n_candidates,
         |  count(CASE WHEN ex AND cd THEN 1 END) AS n_found,
         |  pround(count(CASE WHEN ex AND cd THEN 1 END) /
         |         count(CASE WHEN ex THEN 1 END), 4) AS recall,
         |  pround(count(CASE WHEN ex AND cd THEN 1 END) /
         |         count(CASE WHEN cd THEN 1 END), 4) AS precision
         |FROM j""".stripMargin,
    "dedup_minhash_recall_sample" -> {
      // adaptive probe modulus, replayed in the SAME exact integer
      // arithmetic as probeModOf (DuckDB // floors, Spark div
      // truncates — identical on the non-negative operands here)
      def probeSql(e: String) =
        s"(CAST(('0x' || substr(md5('recall:' || CAST($e AS VARCHAR)), 1, 8)) AS BIGINT) % (SELECT pmod FROM pm) = 0)"
      s"""WITH $mhCte,
         |$bandsCteSql,
         |pm AS (SELECT greatest(10, (count(*) + ${RecallProbeTarget - 1}) // $RecallProbeTarget) AS pmod
         |       FROM documents),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         |         WHERE a.doc_id < b.doc_id
         |           AND (${probeSql("a.doc_id")} OR ${probeSql("b.doc_id")})),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ng GROUP BY doc_id),
         |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |           FROM ng a JOIN ng b ON a.g = b.g
         |           WHERE a.doc_id < b.doc_id
         |             AND (${probeSql("a.doc_id")} OR ${probeSql("b.doc_id")})
         |           GROUP BY a.doc_id, b.doc_id),
         |exact AS (SELECT doc_a, doc_b FROM common
         |          JOIN sizes na ON na.doc_id = doc_a
         |          JOIN sizes nb ON nb.doc_id = doc_b
         |          WHERE pround(c / (na.n + nb.n - c), 4) >= $DropThreshold),
         |np AS (SELECT count(*) AS n_probe FROM documents
         |       WHERE ${probeSql("doc_id")}),
         |j AS (SELECT e.doc_a IS NOT NULL AS ex, c.doc_a IS NOT NULL AS cd
         |      FROM exact e FULL OUTER JOIN cand c
         |        ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b)
         |SELECT (SELECT n_probe FROM np) AS n_probe,
         |  count(CASE WHEN ex THEN 1 END) AS n_exact,
         |  count(CASE WHEN cd THEN 1 END) AS n_candidates,
         |  count(CASE WHEN ex AND cd THEN 1 END) AS n_found,
         |  pround(count(CASE WHEN ex AND cd THEN 1 END) /
         |         count(CASE WHEN ex THEN 1 END), 4) AS recall,
         |  pround(count(CASE WHEN ex AND cd THEN 1 END) /
         |         count(CASE WHEN cd THEN 1 END), 4) AS precision
         |FROM j""".stripMargin
    },
    "dedup_source_overlap" ->
      s"""WITH $mhCte,
         |$bandsCteSql,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         |          WHERE a.doc_id < b.doc_id)
         |SELECT least(da.source, db.source) AS source_a,
         |       greatest(da.source, db.source) AS source_b,
         |       count(*) AS n_pairs
         |FROM pairs
         |JOIN documents da ON da.doc_id = pairs.doc_a
         |JOIN documents db ON db.doc_id = pairs.doc_b
         |GROUP BY 1, 2
         |ORDER BY source_a, source_b""".stripMargin,
    // mirrors the occupancy cap exactly (the dedup_simhash_capped
    // convention): where the cap binds, both engines drop the SAME
    // buckets, so the gate stays hash-exact
    "dedup_source_overlap_capped" ->
      s"""WITH $mhCte,
         |$bandsCteSql,
         |keep AS (SELECT band, sig FROM bands
         |         GROUP BY band, sig HAVING count(*) <= $BandOccCap),
         |kept AS (SELECT bands.* FROM bands
         |         JOIN keep ON bands.band = keep.band AND bands.sig = keep.sig),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM kept a JOIN kept b
         |            ON a.band = b.band AND a.sig = b.sig
         |          WHERE a.doc_id < b.doc_id)
         |SELECT least(da.source, db.source) AS source_a,
         |       greatest(da.source, db.source) AS source_b,
         |       count(*) AS n_pairs
         |FROM pairs
         |JOIN documents da ON da.doc_id = pairs.doc_a
         |JOIN documents db ON db.doc_id = pairs.doc_b
         |GROUP BY 1, 2
         |ORDER BY source_a, source_b""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH $simhashCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= $HammingMax
         |ORDER BY doc_a, doc_b""".stripMargin,
    // mirrors the BLOCKING + CAP exactly (unlike the uncapped pair
    // oracle, which can use the all-pairs form because the blocked
    // join is output-equivalent to it)
    "dedup_simhash_capped" ->
      s"""WITH $simhashCte,
         |blocked AS (
         |  SELECT doc_id, simhash, blk, (simhash >> (16 * blk)) & 65535 AS bv
         |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS blk) blks),
         |keep AS (SELECT blk, bv FROM blocked GROUP BY blk, bv
         |         HAVING count(*) <= $OccCap),
         |kept AS (SELECT blocked.* FROM blocked
         |         JOIN keep ON blocked.blk = keep.blk AND blocked.bv = keep.bv)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM kept a JOIN kept b
         |  ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= $HammingMax
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $ngCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM ng GROUP BY doc_id),
         |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |           FROM ng a JOIN ng b ON a.g = b.g
         |           WHERE a.doc_id < b.doc_id
         |           GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b,
         |  pround(c / (na.n + nb.n - c), 4) AS jaccard
         |FROM common
         |JOIN sizes na ON na.doc_id = doc_a
         |JOIN sizes nb ON nb.doc_id = doc_b
         |WHERE pround(c / (na.n + nb.n - c), 4) >= $JaccardThreshold
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the brute inverted-index derivation at the 0.8 threshold — the
    // prefix-filtered plan must reproduce it EXACTLY (that is the
    // operator's whole claim). The accept predicate is the exact
    // rational 5c ≥ 4(na+nb−c) on BOTH engines (not pround ≥ 0.8,
    // whose 0.79995 effective threshold sits below the proven
    // prefix-completeness bound).
    "dedup_ngram_prefix" ->
      s"""WITH $ngCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM ng GROUP BY doc_id),
         |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |           FROM ng a JOIN ng b ON a.g = b.g
         |           WHERE a.doc_id < b.doc_id
         |           GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b,
         |  pround(c / (na.n + nb.n - c), 4) AS jaccard
         |FROM common
         |JOIN sizes na ON na.doc_id = doc_a
         |JOIN sizes nb ON nb.doc_id = doc_b
         |WHERE 5 * c >= 4 * (na.n + nb.n - c)
         |ORDER BY doc_a, doc_b""".stripMargin,
    // string-keyed mirror of the capped twin's full pipeline,
    // INCLUDING the duplicate-mass-adaptive prepass (the bandsCteSql
    // corpus-adaptive precedent): collapse to one rep per distinct
    // text iff n_docs >= 2 * n_distinct_texts, else identity frames;
    // rep-level df cap on candidate generation, exact full-set
    // Jaccard at the rational 0.8 accept, closed-form member
    // expansion (within-group pairs at J = 1 iff the group's text
    // yields >= 1 shingle; provably empty on the identity side)
    "dedup_ngram_prefix_capped" ->
      s"""WITH stats AS (SELECT count(*) AS n,
         |                 count(DISTINCT md5(text)) AS nd FROM documents),
         |grp AS (SELECT md5(text) AS h, min(doc_id) AS rep
         |        FROM documents WHERE text IS NOT NULL
         |        GROUP BY md5(text)),
         |rtexts AS (SELECT g.rep AS doc_id, d.text
         |           FROM grp g JOIN documents d ON d.doc_id = g.rep
         |           CROSS JOIN stats s WHERE s.n >= 2 * s.nd
         |           UNION ALL
         |           SELECT d.doc_id, d.text FROM documents d
         |           CROSS JOIN stats s WHERE s.n < 2 * s.nd),
         |mem AS (SELECT d.doc_id, g.rep, (len($tokSql) >= 3) AS gramful
         |        FROM documents d JOIN grp g ON md5(d.text) = g.h
         |        CROSS JOIN stats s WHERE s.n >= 2 * s.nd
         |        UNION ALL
         |        SELECT d.doc_id, d.doc_id AS rep,
         |          (len($tokSql) >= 3) AS gramful
         |        FROM documents d CROSS JOIN stats s WHERE s.n < 2 * s.nd),
         |rtoks AS (SELECT doc_id, $tokSql AS tk FROM rtexts),
         |ridx AS (SELECT doc_id, tk,
         |           unnest(generate_series(1, len(tk) - 2)) AS i FROM rtoks),
         |rng AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
         |        FROM ridx),
         |sizes AS (SELECT doc_id, count(*) AS n FROM rng GROUP BY doc_id),
         |keep AS (SELECT g FROM (SELECT g, count(*) AS df FROM rng GROUP BY g) t
         |         WHERE df <= $PrefixDfCap),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM rng a JOIN keep k ON a.g = k.g
         |         JOIN rng b ON a.g = b.g AND a.doc_id < b.doc_id),
         |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |           FROM rng a JOIN rng b ON a.g = b.g
         |           WHERE a.doc_id < b.doc_id
         |           GROUP BY a.doc_id, b.doc_id),
         |reppairs AS (SELECT cm.doc_a, cm.doc_b,
         |               pround(cm.c / (na.n + nb.n - cm.c), 4) AS jaccard
         |             FROM cand JOIN common cm
         |               ON cm.doc_a = cand.doc_a AND cm.doc_b = cand.doc_b
         |             JOIN sizes na ON na.doc_id = cm.doc_a
         |             JOIN sizes nb ON nb.doc_id = cm.doc_b
         |             WHERE 5 * cm.c >= 4 * (na.n + nb.n - cm.c)),
         |winp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |           CAST(1.0 AS DOUBLE) AS jaccard
         |         FROM mem a JOIN mem b
         |           ON a.rep = b.rep AND a.doc_id < b.doc_id
         |         WHERE a.gramful),
         |crossp AS (SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
         |             greatest(ma.doc_id, mb.doc_id) AS doc_b, rp.jaccard
         |           FROM reppairs rp
         |           JOIN mem ma ON ma.rep = rp.doc_a
         |           JOIN mem mb ON mb.rep = rp.doc_b)
         |SELECT doc_a, doc_b, jaccard
         |FROM (SELECT * FROM winp UNION ALL SELECT * FROM crossp) u
         |ORDER BY doc_a, doc_b""".stripMargin,
    // string-keyed mirror of the hash-keyed span scan: every K-window
    // as its literal token string, duplicated iff it occurs >= 2
    // times corpus-wide, then the identical overlap-merge island pass
    "dedup_substr" ->
      s"""WITH $substrCte
         |SELECT doc_id, span_start, span_end, span_tokens FROM spans
         |ORDER BY doc_id, span_start""".stripMargin,
    "dedup_substr_stats" ->
      s"""WITH $substrCte,
         |nt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks),
         |ds AS (SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
         |       FROM spans GROUP BY doc_id)
         |SELECT nt.doc_id, nt.n_tokens,
         |  coalesce(ds.dup_tokens, 0) AS dup_tokens,
         |  pround(coalesce(ds.dup_tokens, 0) / greatest(nt.n_tokens, 1), 4) AS dup_frac
         |FROM nt LEFT JOIN ds ON ds.doc_id = nt.doc_id
         |ORDER BY nt.doc_id""".stripMargin,
    "dedup_substr_strip" ->
      s"""WITH $substrCte,
         |tp AS (SELECT doc_id, tk,
         |         unnest(generate_series(1, len(tk))) AS p
         |       FROM toks),
         |tw AS (SELECT doc_id, p, tk[p] AS w FROM tp),
         |kept AS (SELECT t.doc_id, t.p, t.w FROM tw t
         |         WHERE NOT EXISTS (SELECT 1 FROM spans s
         |            WHERE s.doc_id = t.doc_id
         |              AND t.p BETWEEN s.span_start AND s.span_end)),
         |ka AS (SELECT doc_id, count(*) AS kept_tokens,
         |         md5(string_agg(w, ' ' ORDER BY p)) AS clean_md5
         |       FROM kept GROUP BY doc_id),
         |nt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks)
         |SELECT nt.doc_id, nt.n_tokens,
         |  coalesce(ka.kept_tokens, 0) AS kept_tokens, ka.clean_md5 AS clean_md5
         |FROM nt LEFT JOIN ka ON ka.doc_id = nt.doc_id
         |ORDER BY nt.doc_id""".stripMargin,
  )

  /** Shared CTE chain for the substring-span family: toks → windows →
    * duplicated positions → overlap-merged `spans`.
    */
  private def substrCte: String =
    s"""toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
       |pos AS (SELECT doc_id, tk,
       |          unnest(generate_series(1, len(tk) - ${SubstrK - 1})) AS p
       |        FROM toks),
       |pg AS (SELECT doc_id, p,
       |         array_to_string(tk[p:p+${SubstrK - 1}], ' ') AS g
       |       FROM pos),
       |dup AS (SELECT g FROM pg GROUP BY g HAVING count(*) >= 2),
       |dp AS (SELECT doc_id, p FROM pg WHERE g IN (SELECT g FROM dup)),
       |brk AS (SELECT doc_id, p,
       |          CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
       |                    <= ${SubstrK - 1}
       |               THEN 0 ELSE 1 END AS b
       |        FROM dp),
       |isl AS (SELECT doc_id, p,
       |          sum(b) OVER (PARTITION BY doc_id ORDER BY p) AS isl
       |        FROM brk),
       |spans AS (SELECT doc_id, min(p) AS span_start,
       |            max(p) + ${SubstrK - 1} AS span_end,
       |            max(p) + ${SubstrK - 1} - min(p) + 1 AS span_tokens
       |          FROM isl GROUP BY doc_id, isl)""".stripMargin
}
