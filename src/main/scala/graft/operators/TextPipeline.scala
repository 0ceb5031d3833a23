package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.CrossEngine.{pround, portableHash, tokens}

/** Text-analysis operators over the `documents` table — the
  * reference's tokenize+count surface (wc/wc.go:26-47) generalized to
  * the LLM-pipeline feature set: token stats, quality scoring,
  * language ID, fingerprinting.
  *
  * Everything is built-ins (split/explode/aggregate/regexp) — no UDFs,
  * the whole pipeline stays in whole-stage codegen. Each query has an
  * exact DuckDB mirror; the portable cross-engine hash is
  * H(x) = first-8-hex-digits(md5(x)) as int, identical in both.
  */
object TextPipeline {

  /** Separator regex shared with TextAnalytics (wc.go:28 semantics). */
  private val Sep = TextAnalytics.SeparatorRegex

  private val stopwords = Seq("the", "a", "an", "and", "of", "to", "in", "is")
  private val StopSql = stopwords.map("'" + _ + "'").mkString("(", ", ", ")")

  /** Heavy hitters in ONE pass via the space-saving aggregate
    * (graft.functions.ApproxTopK): the sketch discovers the candidate
    * set without a full per-term shuffle (only capacity-sized buffers
    * move), then exact counts are computed for candidates ONLY (a
    * broadcast semi-join, bounded by capacity) and thresholded at the
    * guarantee bound cnt·capacity > N. The space-saving guarantee
    * makes the final set identical to the exact computation — which
    * is precisely what the DuckDB oracle recomputes.
    */
  def wcHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val cap = 64
    val words = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
    // N and the sketch come out of the SAME aggregate — one corpus
    // scan produces both, and the query is one lazy plan (no driver
    // .count() action; at 100 TB the extra scan was the dominant cost)
    val cands = words
      .agg(count(lit(1)).as("n"),
           graft.functions.ApproxTopK.approx_top_k(col("word"), cap).as("hh"))
      .select(col("n"), explode(col("hh")).as("h"))
      .select(col("n"), col("h.term").as("word"))
    words.join(broadcast(cands), "word")
      .groupBy(col("word"), col("n")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * cap > col("n"))
      .select(col("word"), col("cnt"))
      .orderBy(col("cnt").desc, col("word"))
  }

  /** Reference word count applied to the documents table, top 50. */
  def wcTopWords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(50)

  /** Per-document token statistics (count / distinct / mean length). */
  def tokenStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
           countDistinct(col("word")).as("n_types"),
           pround(avg(length(col("word"))), 2).as("avg_len"))
      .orderBy(col("doc_id"))

  /** Quality scoring: length, stopword ratio, non-text-character ratio
    * — the standard cheap filters of a pretraining data pipeline.
    * Entirely map-side: counts come from the TokenMembershipCounts
    * expression, no explode/aggregation (docs with no tokens are
    * absent, as in the unnest-based oracle).
    */
  def quality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        graft.functions.TokenMembershipCounts.token_membership_counts(
          tokens(col("text")), Seq("stop_hits" -> stopwords)).as("p"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[\\p{L} ]", ""))).as("n_nonalpha"))
      .filter(col("p.n_tokens") > 0)
      .select(col("doc_id"), col("p.n_tokens").as("n_tokens"), col("n_chars"),
        pround(col("p.stop_hits") / col("p.n_tokens"), 4).as("stop_ratio"),
        pround(col("n_nonalpha") / col("n_chars"), 4).as("nonalpha_ratio"))
      .orderBy(col("doc_id"))

  /** Entropy quality signals: per-document Shannon entropy (log2) of
    * the codepoint distribution and of the token distribution — the
    * cheap detectors for fill text (flat char histograms score near
    * zero) and shuffled repetition (low token entropy at normal char
    * entropy) that the run-length repetition gate misses.
    *
    * Both entropies are single map-side codegen expressions
    * ([[graft.functions.EntropyOf]]) — the explode → groupBy(doc,
    * value) → groupBy(doc) derivation would shuffle every character
    * of the corpus twice for a per-row scalar; this plan shuffles
    * nothing (the final orderBy is the only exchange, over one row
    * per doc). Token-less documents are absent, as in quality. The
    * oracle mirrors with DuckDB's entropy() aggregate over
    * string_split(text,'') / the token unnest — same
    * log2(n) - Σ c·log2(c)/n identity, pround(4) absorbing libm ulps.
    */
  def entropyScore(s: SparkSession, d: String): DataFrame =
    entropyOf(Tables.documents(s, d))

  private[graft] def entropyOf(docs: DataFrame): DataFrame =
    docs
      .filter(size(tokens(col("text"))) > 0)
      .select(col("doc_id"),
        pround(graft.functions.EntropyOf.codepoint_entropy(col("text")), 4)
          .as("char_entropy"),
        pround(graft.functions.EntropyOf.array_entropy(tokens(col("text"))), 4)
          .as("word_entropy"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"))

  /** Per-source distribution-drift audit: Jensen–Shannon divergence
    * (in bits) between each source's token-length histogram and the
    * corpus-wide baseline, plus the bucket driving the drift — the
    * dataset-monitoring number that flags a source whose content
    * shape changed between ingest runs (truncation bugs, template
    * floods, new boilerplate) before it poisons a mixture.
    *
    * Shape: ONE corpus pass buckets docs map-side (CountTokens-fused
    * token count, 10 width-10 buckets); everything downstream derives
    * from the tiny (source × bucket) count table — per-source totals,
    * per-bucket baseline, grand total (broadcast scalar) — so the
    * wire carries at most |sources|·10 rows after the first partial
    * agg. A source × bucket scaffold (cross join of two derived
    * aggregates) restores buckets a source never hit (P=0 terms
    * still contribute through the mixture M = (P+Q)/2). Each JSD
    * term integerizes at 1e6 BEFORE the sum (the lm_score/q31
    * trick) so the per-source aggregate is an order-free BIGINT sum
    * — hash-exact across engines and partitionings; the top-drift
    * bucket is an [[Argmin]] on |gap|, ties to the lowest b.
    */
  def driftReport(s: SparkSession, d: String): DataFrame =
    driftOf(Tables.documents(s, d))

  private[graft] def driftOf(docs: DataFrame): DataFrame = {
    val bucketed = docs.select(col("source"),
      least(floor(size(tokens(col("text"))).cast("double") / 10), lit(9d))
        .cast("long").as("b"))
    val sb = bucketed.groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("n_sb"))
    val bySrc = sb.groupBy(col("source")).agg(sum(col("n_sb")).as("n_s"))
    val byB = sb.groupBy(col("b")).agg(sum(col("n_sb")).as("n_b"))
    val tot = byB.agg(sum(col("n_b")).cast("double").as("n_tot"))
    val terms = bySrc.crossJoin(byB)
      .join(sb, Seq("source", "b"), "left")
      .na.fill(0L, Seq("n_sb"))
      .crossJoin(broadcast(tot))
      .withColumn("p", col("n_sb").cast("double") / col("n_s").cast("double"))
      .withColumn("q", col("n_b").cast("double") / col("n_tot"))
      .withColumn("m", (col("p") + col("q")) / 2)
      .withColumn("term",
        (when(col("p") > 0, col("p") * log(col("p") / col("m"))).otherwise(lit(0d))
          + col("q") * log(col("q") / col("m"))) / 2 / lit(math.log(2.0)))
      .withColumn("qi", floor(col("term") * 1e6 + 0.5).cast("long"))
      .withColumn("gap_int",
        floor((col("p") - col("q")) * 1e6 + 0.5).cast("long"))
    Argmin(terms.withColumn("abs_gap", abs(col("gap_int"))), Seq("source"),
        "abs_gap", "b", "driftOf", desc = true, carry = Seq("gap_int"),
        extra = Seq(max(col("n_s")).as("n_docs"), sum(col("qi")).as("jsd_int")))
      .select(col("source"), col("n_docs"),
        pround(col("jsd_int").cast("double") / 1e6, 4).as("jsd_bits"),
        col("b").as("top_bucket"),
        pround(col("gap_int").cast("double") / 1e6, 4).as("top_gap"))
      .orderBy(col("source"))
  }

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "an", "and", "of", "is", "to", "in"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "y", "en"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "les", "des", "et", "est", "dans"))

  /** Language ID: stopword-profile hits per language + CJK-script char
    * count; deterministic arg-max with fixed tie order (en,es,de,fr).
    * Map-side like [[quality]] — one expression, no explode/groupBy.
    */
  def langId(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        graft.functions.TokenMembershipCounts.token_membership_counts(
          tokens(col("text")),
          markers.map { case (lang, ws) => (s"${lang}_hits", ws) }).as("p"))
      .filter(col("p.n_tokens") > 0)
      .select((col("doc_id") +:
        markers.map { case (lang, _) =>
          col(s"p.${lang}_hits").as(s"${lang}_hits") }) :+
        (length(col("text")) -
         length(regexp_replace(col("text"), "[\\x{4e00}-\\x{9fff}]", "")))
          .cast("long").as("zh_chars"): _*)
      .withColumn("lang_guess",
        when(col("zh_chars") > 0, "zh")
          .when(col("en_hits") === 0 && col("es_hits") === 0 &&
                col("de_hits") === 0 && col("fr_hits") === 0, "und")
          .when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits") &&
                col("en_hits") >= col("fr_hits"), "en")
          .when(col("es_hits") >= col("de_hits") && col("es_hits") >= col("fr_hits"), "es")
          .when(col("de_hits") >= col("fr_hits"), "de")
          .otherwise("fr"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprints: md5 of the token-normalized text plus a
    * 31-polynomial rolling hash over portable token hashes — the
    * rolling-hash fingerprint of a near-dup pipeline, exactly
    * reproducible in any engine with md5.
    */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      // materialize the token array once — lambda bodies re-evaluate
      // their subtree per element, so split() must not be inlined
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
              md5(array_join(col("tk"), " ").cast("binary")).as("fp_md5"),
              aggregate(transform(col("tk"), t => portableHash(t)), lit(0L),
                (acc, h) => (acc * 31 + h) % 1000000007L).as("fp_roll"))
      .orderBy(col("doc_id"))

  /** TF-IDF: top-5 highest-weighted terms per document (probe slice
    * doc_id < 20; document frequencies computed over the FULL corpus).
    * idf = ln(N / df); ranking on pround(tfidf, 6) with term tiebreak
    * keeps ordering engine-stable (ln differs by <=1 ulp across
    * libms; pround absorbs it).
    */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    val tokd = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
    val tf = tokd.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    // document frequencies derive from tf (one row per (doc, word)
    // already), not a second distinct pass over the token stream —
    // same derivable-consumer rule as txt_lm_score's context counts
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    // corpus size folded in as a broadcast scalar — the query is one
    // lazy plan instead of a driver-side .count() job plus the query
    val n = Tables.documents(s, d)
      .agg(count(lit(1)).cast("double").as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(pround(col("tfidf"), 6).desc, col("word"))
    tf.filter(col("doc_id") < 20)
      .join(df, "word")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * log(col("n_docs") / col("df")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("doc_id"), col("rnk"), col("word"),
              col("tf"), col("df"), pround(col("tfidf"), 4).as("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Corpus collocations: top-20 ADJACENT token pairs by pointwise
    * mutual information, pmi = ln(c_xy·N / (c_x·c_y)), over
    * case-folded tokens with a c_xy ≥ 3 noise floor — the standard
    * phrase-mining statistic (and the corpus-level complement of
    * txt_lm_score's per-doc bigram log-prob).
    *
    * Scale shape: bigrams are built MAP-SIDE by zipping the token
    * array with its own tail (no posexplode + window — a window
    * keyed (doc, pos) would shuffle every token of the corpus just to
    * pair neighbours), so the only corpus-sized exchanges are the two
    * partially-aggregated groupBys (pair counts, unigram counts) —
    * both shrink to vocabulary size before the wire. Unigram counts
    * are a second scan of the token stream rather than a derivation
    * from pair counts (the last token of each doc has no pair row, so
    * the marginals are NOT derivable — unlike tfidf's df-from-tf).
    * The two marginal joins key on the c_xy ≥ 3 filtered pair side
    * (small); N folds in as a broadcast scalar. Ranking on
    * pround(pmi, 6) with (w1, w2) tiebreak keeps the global top-20
    * cut engine-stable, and orderBy+limit stays a distributed
    * TakeOrdered, never a single-partition window.
    */
  def pmi(s: SparkSession, d: String): DataFrame =
    pmiOf(Tables.documents(s, d))

  private[graft] def pmiOf(docs: DataFrame): DataFrame = {
    val tk = docs.select(tokens(lower(col("text"))).as("tk"))
    val pairs = tk
      .filter(size(col("tk")) >= 2)
      .select(explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 3)
    val uni = tk.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val n = uni.agg(sum(col("c")).cast("double").as("n_tok"))
    big
      .join(uni.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .crossJoin(broadcast(n))
      .withColumn("pmi", log(col("c_xy") * col("n_tok") / (col("c_x") * col("c_y"))))
      .orderBy(pround(col("pmi"), 6).desc, col("w1"), col("w2"))
      .limit(20)
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
              pround(col("pmi"), 4).as("pmi"))
  }

  /** BPE-ish pre-tokenizer pattern (GPT-2 style: contractions,
    * letter runs, digit runs, punctuation runs, whitespace) — the
    * token-count approximation a data pipeline uses for budgeting.
    * Kept character-for-character as published, so its `\s` is the
    * one pattern NOT converted to the [[Ws]] engine-pinned classes:
    * on vertical-tab text Java counts VT as whitespace while RE2
    * folds it into the punctuation-run branch (corpus carries no VT;
    * divergence documented rather than silently re-speced).
    */
  private val BpePattern =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Token budgeting four ways: whitespace tokens, BPE pre-tokenizer
    * pieces, Unicode letter-run tokens (count_tokens, array-free),
    * and true BPE subword pieces after rank-ordered merges
    * ([[graft.functions.BpeTokenizer]] — what an LLM tokenizer
    * actually sees; both engines run the same merge list).
    */
  def tokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(trim(col("text")), s"$Ws+")).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).as("n_bpe_pieces"),
        graft.functions.ColumnShims.countTokens(col("text")).as("n_letter_tokens"),
        graft.functions.BpeTokenizer.subwordCount(col("text")).as("n_subword"))
      .orderBy(col("doc_id"))

  /** Scrubbing pass of a pretraining pipeline: redact URLs/emails and
    * strip stopwords, with counts of what was removed and a
    * fingerprint of the scrubbed text. The synthetic corpus carries
    * no URLs/emails (counters structurally exercised, zero-valued);
    * the stopword strip does real work. One narrow map-side pass —
    * scrubbing never shuffles.
    */
  def scrub(s: SparkSession, d: String): DataFrame = {
    val stopPat = "\\b(" + stopwords.mkString("|") + ")\\b"
    val scrubbed = trim(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(lower(col("text")),
        s"https?://$NonWs+", " "), "[a-z0-9._%+-]+@[a-z0-9.-]+", " "),
      stopPat, " "), s"$Ws+", " "))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(s"https?://$NonWs+"), lit(0)))
          .cast("long").as("n_urls"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z0-9._%+-]+@[a-z0-9.-]+"), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(lower(col("text")), lit(stopPat), lit(0)))
          .cast("long").as("n_stopwords"),
        md5(scrubbed.cast("binary")).as("scrub_md5"))
      .orderBy(col("doc_id"))
  }

  /** PII categories and their engine-portable patterns (kept to
    * syntax RE2 and java.util.regex agree on: no lookarounds, no
    * backrefs). Redaction applies them IN THIS ORDER; counts are
    * per-pattern on the original (lowercased) text.
    */
  private[graft] val PiiPatterns: Seq[(String, String)] = Seq(
    "email"   -> "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}",
    "ssn"     -> "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b",
    "ipv4"    -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
    "phone"   -> "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b",
    "longnum" -> "\\b[0-9]{13,19}\\b")

  /** PII detection + redaction — the privacy pass of a pretraining
    * pipeline (emails, SSN-shaped ids, IPv4 addresses, separator-form
    * phone numbers, 13-19-digit card-like runs): per-category counts
    * plus the md5 of the text with every match replaced by `<PII>`,
    * applied in a fixed order mirrored exactly by the oracle. One
    * narrow map-side pass, like [[scrub]] — redaction never shuffles,
    * so the pass costs one corpus scan at any scale. The synthetic
    * corpus carries no PII (counters structurally exercised at 0, the
    * scrub precedent); planted documents pin every category's count
    * and the redacted fingerprint in PiiScrubSpec.
    */
  def pii(s: SparkSession, d: String): DataFrame =
    piiOf(Tables.documents(s, d))

  /** [[pii]] over an explicit documents frame (spec entry). */
  private[graft] def piiOf(docs: DataFrame): DataFrame = {
    val low = lower(col("text"))
    val redacted = PiiPatterns.foldLeft(low) { case (acc, (_, p)) =>
      regexp_replace(acc, p, "<PII>")
    }
    val counts = PiiPatterns.map { case (name, p) =>
      size(regexp_extract_all(low, lit(p), lit(0))).cast("long").as(s"n_$name")
    }
    docs.select((col("doc_id") +: counts) :+
        md5(redacted.cast("binary")).as("pii_md5"): _*)
      .withColumn("n_pii",
        PiiPatterns.map { case (n, _) => col(s"n_$n") }.reduce(_ + _))
      .orderBy(col("doc_id"))
  }

  /** Intra-document repetition scoring — the quality signal (Gopher/
    * C4-style rules) that catches boilerplate and degenerate
    * generation: the fraction of word-3-gram OCCURRENCES that are
    * repeats of an earlier occurrence in the same document, plus the
    * hottest 3-gram's count. Docs with <3 tokens carry no 3-gram and
    * are absent (mirrored in the oracle).
    *
    * Deliberately ZERO-shuffle: the metric is a pure per-document
    * function, computed by ONE custom expression over the token
    * array — [[graft.functions.GramRunStats]]: per-token xxhash64,
    * ordered 3-gram hash combine, primitive long sort, one run scan
    * → (n_grams, n_distinct, max_rep). The evolution is measured at
    * sf0.1: (doc, gram) groupBy shuffle 8.0 s → map-side gram-string
    * array + array_distinct + run scan 4.5 s → this form ~0.6 s.
    * The killer in the middle form was NOT the string sort but the
    * gram array construction itself: `transform(sequence(...))` is a
    * higher-order function, which Spark evaluates as CodegenFallback
    * — an interpreted expression tree per element — so the per-gram
    * cost was interpretation overhead regardless of what the lambda
    * computed. The custom expression is the 100 TB shape: the query
    * scales like the corpus scan, all primitive loops, no
    * per-element expression evaluation. (Collision caveat and the
    * exact string-keyed oracle: see the GramRunStats Scaladoc.)
    */
  def repetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), graft.functions.GramRunStats.gram_run_stats(
        tokens(col("text"))).as("rs"))
      .select(col("doc_id"), col("rs.n_grams").as("n_grams"),
        col("rs.n_distinct").as("n_distinct"), col("rs.max_rep").as("max_rep"))
      .filter(col("n_grams") > 0)
      .select(col("doc_id"), col("n_grams"), col("n_distinct"), col("max_rep"),
        pround(lit(1.0) - col("n_distinct") / col("n_grams"), 4).as("dup_ratio"))
      .withColumn("flag_repetitive", col("dup_ratio") >= 0.2)
      .orderBy(col("doc_id"))

  private val ChunkTokens = 40
  private val ChunkStride = 32
  private val ChunkOverlap = ChunkTokens - ChunkStride

  /** Fixed-window document chunking with overlap — the sequence-prep
    * step of a pretraining pipeline: long documents become training
    * examples of ≤ `ChunkTokens` tokens starting every `ChunkStride`
    * (consecutive chunks share `ChunkOverlap` tokens so no context is
    * cut at a boundary). Chunk count = max(1, ceil((n - overlap) /
    * stride)), which always covers the final token and keeps the last
    * chunk longer than the overlap. One map-side pass: tokens are
    * materialized once per doc, chunks are array slices — nothing
    * shuffles but the final sort. Output carries md5(chunk text)
    * rather than the text (compare-friendly; a real pipeline writes
    * the text column too, same plan).
    *
    * Invariant (spec-enforced): Σ n_chunk_tokens = n + overlap ×
    * (chunks − 1) per doc — every token appears exactly once outside
    * the shared overlap regions.
    */
  def chunkDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")))
      .filter(col("n") > 0)
      .withColumn("nchunks",
        greatest(lit(1),
          expr(s"(n - $ChunkOverlap + ${ChunkStride - 1}) div $ChunkStride")))
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), col("nchunks").cast("long") - 1)))
      .withColumn("start", (col("chunk_idx") * ChunkStride + 1).cast("int"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(ChunkTokens.toLong), (col("n") - col("start") + 1).cast("long"))
          .as("n_chunk_tokens"),
        md5(concat_ws(" ",
          slice(col("tk"), col("start"), lit(ChunkTokens))).cast("binary"))
          .as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val ChunkPieces = 80
  private val ChunkPieceStride = 64
  private val ChunkPieceOverlap = ChunkPieces - ChunkPieceStride

  /** [[chunkDocs]] in SUBWORD PIECES — the unit an LLM context window
    * is actually measured in, and the same unit [[packShards]]
    * budgets with, so chunk sizes and shard budgets compose without a
    * conversion fudge factor. Pieces come from the library's BPE
    * tokenizer ([[graft.functions.BpeTokenizer.subwordPieces]]) and
    * cover the WHOLE text (spaces and punctuation are pieces too), so
    * concatenating a chunk's pieces reconstructs the exact substring
    * — `chunk_md5` is over that reconstruction. Same map-side
    * plan shape and the same coverage invariant as the word-token
    * form, restated in pieces: Σ n_chunk_pieces = n + overlap ×
    * (chunks − 1) per doc (spec-enforced).
    */
  def chunkDocsBpe(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.BpeTokenizer.subwordPieces(col("text")).as("pc"))
      .withColumn("n", size(col("pc")))
      .filter(col("n") > 0)
      .withColumn("nchunks",
        greatest(lit(1),
          expr(s"(n - $ChunkPieceOverlap + ${ChunkPieceStride - 1}) div $ChunkPieceStride")))
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), col("nchunks").cast("long") - 1)))
      .withColumn("start", (col("chunk_idx") * ChunkPieceStride + 1).cast("int"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(ChunkPieces.toLong), (col("n") - col("start") + 1).cast("long"))
          .as("n_chunk_pieces"),
        md5(concat_ws("",
          slice(col("pc"), col("start"), lit(ChunkPieces))).cast("binary"))
          .as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val ShardBudget = 2000L

  /** Token-budget shard packing — the sequence-packing step of a
    * training-data pipeline: documents are laid out in a stable order
    * (doc_id) and cut into shards of ~`ShardBudget` tokens by the
    * running token total. The running total is computed by
    * [[ScaleOps.prefixSum]] — range-bucketed partial sums plus a
    * broadcast carry, NOT a global-order window — so the layout pass
    * scales to any corpus size while remaining deterministic (the
    * oracle recomputes it with a plain window, which DuckDB can
    * afford single-node).
    */
  def packShards(s: SparkSession, d: String): DataFrame = {
    // budget in BPE subword pieces — the unit an LLM context window
    // is actually measured in — not the letter-run proxy
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.BpeTokenizer.subwordCount(col("text")).as("n_tokens"))
    ScaleOps.prefixSum(toks, "doc_id", "n_tokens", "cum")
      .withColumn("shard_id",
        expr(s"(cum - n_tokens) div $ShardBudget"))
      .select(col("doc_id"), col("n_tokens"), col("shard_id"))
      .orderBy(col("doc_id"))
  }

  /** Fixed-length context-window size of [[packSeqs]], in BPE
    * subword pieces. */
  private val SeqLen = 512L

  /** Context-window sequence packing — the tensor-layout step
    * [[packShards]] stops short of: documents concatenate in stable
    * doc_id order and are CUT at fixed [[SeqLen]]-token boundaries
    * (the GPT-style pack-and-split batch layout), so a document can
    * SPAN windows. Per document: its start window and offset, its
    * end window, and how many windows it touches — exactly the
    * metadata a loader needs to materialize training sequences from
    * the corpus (and an attention-masking pass needs to find the
    * boundaries inside each window). Same distributed prefix sum as
    * the shard packer (range-bucketed partials + broadcast carry, no
    * global-order window); everything after the running total is
    * map-side integer arithmetic. Zero-token documents report
    * n_seqs = 0 at their layout position.
    */
  def packSeqs(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.BpeTokenizer.subwordCount(col("text")).as("n_tokens"))
    ScaleOps.prefixSum(toks, "doc_id", "n_tokens", "cum")
      .withColumn("start", col("cum") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"start div $SeqLen").as("start_seq"),
        expr(s"start % $SeqLen").as("start_off"),
        expr(s"CASE WHEN n_tokens > 0 THEN (cum - 1) div $SeqLen" +
          s" ELSE start div $SeqLen END").as("end_seq"),
        expr(s"CASE WHEN n_tokens > 0 THEN (cum - 1) div $SeqLen" +
          s" - start div $SeqLen + 1 ELSE 0 END").as("n_seqs"))
      .orderBy(col("doc_id"))
  }

  /** The full pretraining cleanse, composed end-to-end in ONE plan:
    * quality metrics → language ID → filter (enough tokens, English)
    * → normalized dedup (keep lowest doc_id per normalized content
    * among survivors) → train/val/test assignment. The query a
    * pipeline actually ships; every stage is one of this library's
    * operators, and Catalyst fuses the whole thing (shared scans,
    * broadcast keep-list at this SF / shuffle join at scale).
    */
  def pipeClean(s: SparkSession, d: String): DataFrame = {
    // quality metrics + language profile + normalized fingerprint in
    // ONE map-side projection: per-doc token counts come from the
    // TokenMembershipCounts expression, so there is no explode, no
    // aggregation, and no metrics⋈norm join left in the plan — the
    // first shuffle is the dedup rank filter. The round-6 history:
    // the fused explode+groupBy form measured 4.0 s at sf0.1, over
    // half of it whole-stage-codegen COMPILATION of the generated
    // lower(word) IN (...) aggregate; the map-side form is ~1 s.
    // The oracle recomputes via the independent CTE forms, so the
    // plan shape is verified, not trusted.
    val p = graft.functions.TokenMembershipCounts.token_membership_counts(
      tokens(col("text")),
      ("stop_hits" -> stopwords) +:
        markers.map { case (lang, ws) => (s"${lang}_hits", ws) })
    val profiled = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), p.as("p"),
        md5(graft.functions.NormalizeText.normalize_text(col("text"))
          .cast("binary")).as("norm_md5"))
      .select(col("doc_id"), col("norm_md5"),
        col("p.n_tokens").as("n_tokens"),
        pround(col("p.stop_hits") / col("p.n_tokens"), 4).as("stop_ratio"),
        col("p.en_hits").as("en_hits"), col("p.es_hits").as("es_hits"),
        col("p.de_hits").as("de_hits"), col("p.fr_hits").as("fr_hits"),
        (length(col("text")) -
         length(regexp_replace(col("text"), "[\\x{4e00}-\\x{9fff}]", "")))
          .cast("long").as("zh_chars"))
      .withColumn("lang_guess",
        when(col("zh_chars") > 0, "zh")
          .when(col("en_hits") === 0 && col("es_hits") === 0 &&
                col("de_hits") === 0 && col("fr_hits") === 0, "und")
          .when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits") &&
                col("en_hits") >= col("fr_hits"), "en")
          .when(col("es_hits") >= col("de_hits") && col("es_hits") >= col("fr_hits"), "es")
          .when(col("de_hits") >= col("fr_hits"), "de")
          .otherwise("fr"))
    val filtered = profiled
      .filter(col("n_tokens") >= 20 && col("lang_guess") === "en")
    // keep lowest doc_id per normalized content as a rank-1 filter,
    // NOT a groupBy+self-join: the self-join form computed the whole
    // metrics+norm chain twice (no shared exchange between a doc_id
    // join and a norm_md5 aggregation) and was over half this query's
    // cost (measured 4.0 s at sf0.1 → 1.5 s). The row_number form is
    // one pass, and the library's RewriteRankFilterToTopK turns it
    // into the map-side partial top-1 operator.
    val wKeep = org.apache.spark.sql.expressions.Window
      .partitionBy(col("norm_md5")).orderBy(col("doc_id"))
    filtered
      .withColumn("__rn", row_number().over(wKeep))
      .filter(col("__rn") === 1)
      .withColumn("split",
        when(portableHash(concat(lit("split:"), col("doc_id").cast("string")))
               % 1000 < 980, "train")
          .when(portableHash(concat(lit("split:"), col("doc_id").cast("string")))
               % 1000 < 990, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("n_tokens"),
              pround(col("stop_ratio"), 4).as("stop_ratio"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** The Gopher document-level rule set (Rae et al. 2021, §A1.1) —
    * the published heuristic filter every large English pretraining
    * corpus runs before model-based scoring. Per document: word count
    * in [50, 100k], mean word length in [3, 10], symbol-to-word
    * ratio (# and …) < 0.1, < 90% of lines bullet-started, < 30% of
    * lines ellipsis-ended, ≥ 80% of words containing an alphabetic
    * character, and ≥ 2 distinct members of the required-stopword
    * set present. All seven metrics AND the verdict in one row.
    *
    * Entirely map-side (regexp counts + one token-array scan — the
    * same zero-shuffle shape as [[quality]]): at 100 TB the rule
    * pass is a single corpus scan, and its selectivity is exactly
    * what the later (expensive) stages are budgeted on. Words here
    * are WHITESPACE tokens — the rule set measures raw text, so the
    * letter-run tokenizer would hide precisely the symbol noise the
    * rules exist to catch. The synthetic corpus is single-line, so
    * the two line-shape fractions are structurally exercised at 0
    * (the [[scrub]] URL-counter precedent); planted multi-line docs
    * pin their arithmetic in the spec.
    */
  def gopherRules(s: SparkSession, d: String): DataFrame =
    gopherRulesOf(Tables.documents(s, d))

  /** Gopher's "must contain ≥2 of" stopword list — not [[stopwords]]
    * (that is the generic ratio list; the rule set names these 8).
    */
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Engine-pinned whitespace classes. Java's `\s` additionally
    * matches vertical tab (\x0B) and its `(?m)` anchors honor \r,
    * NEL (U+0085) and LS/PS (U+2028/9) as line breaks, while
    * DuckDB's RE2 `\s` is
    * exactly [ \t\n\f\r] and its multiline anchors honor only \n —
    * parity held on the (VT/CRLF-free) synthetic corpus but would
    * diverge on real-world text. These explicit classes are used
    * VERBATIM on both sides, and Java-side `(?m)` patterns carry the
    * UNIX_LINES flag `d` (RE2 is \n-only already and has no `d`
    * flag), pinning identical semantics on ANY input. The one
    * deliberate exception is the BPE piece pattern ([[BpePattern]]):
    * it reproduces the published GPT-2 regex character-for-character,
    * whose `\s` divergence on VT is documented there instead.
    */
  private[operators] val Ws = "[ \\t\\n\\f\\r]"
  private[operators] val NonWs = "[^ \\t\\n\\f\\r]"

  /** [[gopherRules]] over an explicit documents frame (spec entry). */
  private[graft] def gopherRulesOf(docs: DataFrame): DataFrame = {
    val tk = tokens(lower(col("text")))
    val raw = docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(s"$NonWs+"), lit(0)))
        .cast("long").as("n_words"),
      length(regexp_replace(col("text"), Ws, "")).cast("long").as("n_wchars"),
      ((length(col("text")) - length(translate(col("text"), "#", ""))) +
        size(regexp_extract_all(col("text"), lit("\\.\\.\\.|…"), lit(0))))
        .cast("long").as("n_symbols"),
      size(regexp_extract_all(col("text"), lit(s"$NonWs*\\p{L}$NonWs*"), lit(0)))
        .cast("long").as("n_alpha_words"),
      size(split(col("text"), "\n", -1)).cast("long").as("n_lines"),
      size(regexp_extract_all(col("text"), lit("(?md)^[ \\t]*[-*•]"), lit(0)))
        .cast("long").as("n_bullet_lines"),
      size(regexp_extract_all(col("text"), lit("(?md)(\\.\\.\\.|…)[ \\t]*$"), lit(0)))
        .cast("long").as("n_ellipsis_lines"),
      GopherStops.map(w => when(array_contains(tk, w), 1L).otherwise(0L))
        .reduce(_ + _).as("n_stop_kinds"))
    raw.filter(col("n_words") > 0)
      .select(col("doc_id"), col("n_words"),
        pround(col("n_wchars") / col("n_words"), 4).as("mean_word_len"),
        pround(col("n_symbols") / col("n_words"), 4).as("symbol_ratio"),
        pround(col("n_alpha_words") / col("n_words"), 4).as("alpha_word_frac"),
        pround(col("n_bullet_lines") / col("n_lines"), 4).as("bullet_line_frac"),
        pround(col("n_ellipsis_lines") / col("n_lines"), 4).as("ellipsis_line_frac"),
        col("n_stop_kinds"))
      .withColumn("gopher_pass",
        col("n_words").between(50L, 100000L) &&
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
        col("symbol_ratio") < 0.1 &&
        col("bullet_line_frac") < 0.9 &&
        col("ellipsis_line_frac") < 0.3 &&
        col("alpha_word_frac") >= 0.8 &&
        col("n_stop_kinds") >= 2L)
      .orderBy(col("doc_id"))
  }

  /** pipe_modern's required-stopword-kinds threshold. The published
    * Gopher rule wants ≥ 2, which admits ZERO synthetic docs (the
    * generator vocabulary carries only "the" of the 8 required
    * stopwords) — so the COMPOSED pipeline runs the corpus-tuned ≥ 1
    * (251 of 500 docs pass at sf0.01), the dedup_semantic
    * ε-threshold precedent; the faithful ≥ 2 rule set remains
    * untouched in [[gopherRules]].
    */
  private val ModernStopKinds = 1L

  /** The modern pretraining cleanse, composed end-to-end in ONE lazy
    * plan from this round's operators: Gopher quality gate (corpus-
    * tuned, see [[ModernStopKinds]]) → PII count ([[pii]]'s patterns)
    * → normalized dedup (keep lowest doc_id, the rank-1 /
    * TopKPerGroup shape) → DSIR selection (model trained on the RAW
    * corpus — the published setup; the per-doc scores join back to
    * survivors) → split assignment. Line-shape rules are omitted
    * from the gate (single-line corpus; they live in
    * [[gopherRules]]).
    *
    * Scale shape: stage 1 is one map-side projection (gopher metrics
    * + PII counts + normalized fingerprint share a single scan); the
    * dedup rank-1 is the partial TopKPerGroup; DSIR is two 64-row
    * aggregates over the raw token stream plus one per-doc score
    * aggregate over the same stream (scoring all docs keeps the
    * metric+TopK subtree evaluated ONCE — see the inline r14 note).
    * Every stage is linear; the whole composition is 3 corpus scans
    * in one plan — the multi-pass shape CCNet-class pipelines run.
    */
  def pipeModern(s: SparkSession, d: String): DataFrame =
    pipeModernOf(Tables.documents(s, d))

  /** [[pipeModern]] over an explicit documents frame (spec + chaos
    * entry). */
  private[graft] def pipeModernOf(docs: DataFrame): DataFrame = {
    val tk = tokens(lower(col("text")))
    val low = lower(col("text"))
    val piiCount = PiiPatterns.map { case (_, p) =>
      size(regexp_extract_all(low, lit(p), lit(0))).cast("long")
    }.reduce(_ + _)
    val raw = docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(s"$NonWs+"), lit(0)))
        .cast("long").as("n_words"),
      length(regexp_replace(col("text"), Ws, "")).cast("long").as("n_wchars"),
      ((length(col("text")) - length(translate(col("text"), "#", ""))) +
        size(regexp_extract_all(col("text"), lit("\\.\\.\\.|…"), lit(0))))
        .cast("long").as("n_symbols"),
      size(regexp_extract_all(col("text"), lit(s"$NonWs*\\p{L}$NonWs*"), lit(0)))
        .cast("long").as("n_alpha_words"),
      GopherStops.map(w => when(array_contains(tk, w), 1L).otherwise(0L))
        .reduce(_ + _).as("n_stop_kinds"),
      piiCount.as("n_pii"),
      md5(graft.functions.NormalizeText.normalize_text(col("text"))
        .cast("binary")).as("norm_md5"))
    val passed = raw.filter(col("n_words") > 0)
      .withColumn("mean_word_len", pround(col("n_wchars") / col("n_words"), 4))
      .withColumn("symbol_ratio", pround(col("n_symbols") / col("n_words"), 4))
      .withColumn("alpha_frac", pround(col("n_alpha_words") / col("n_words"), 4))
      .filter(col("n_words").between(50L, 100000L) &&
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
        col("symbol_ratio") < 0.1 && col("alpha_frac") >= 0.8 &&
        col("n_stop_kinds") >= ModernStopKinds)
    val wKeep = org.apache.spark.sql.expressions.Window
      .partitionBy(col("norm_md5")).orderBy(col("doc_id"))
    val kept = passed
      .withColumn("__rn", row_number().over(wKeep))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("n_words"), col("n_pii"))
    // DSIR scores ALL documents (r14; the dropReasonsOf note): the
    // keepers semi-join re-derived the metric+TopK subtree as its
    // build side — a second evaluation of the regex metrics —
    // while `selected`/`avg_logratio` are per-doc absolutes against
    // the all-docs model, so the inner join below reads identical
    // values either way and non-keeper scores are simply unmatched.
    val scored = Sampling.dsirScoresUnsorted(
      docs, Sampling.dsirModelOf(docs))
    kept.join(scored, Seq("doc_id"))
      .withColumn("split",
        when(portableHash(concat(lit("split:"), col("doc_id").cast("string")))
               % 1000 < 980, "train")
          .when(portableHash(concat(lit("split:"), col("doc_id").cast("string")))
               % 1000 < 990, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("n_words"), col("n_pii"),
              col("avg_logratio"), col("selected"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Drop-reason attribution for the composed modern cleanse — the
    * per-document "why is this document not in the training set"
    * record every production pipeline keeps (debugging a cleanse
    * without attribution means re-running it stage by stage; at
    * 100 TB that is the difference between one query and a week).
    * Stage predicates are [[pipeModernOf]]'s VERBATIM — same gate
    * arithmetic, same normalized-md5 keep rule, same DSIR scoring of
    * gate survivors — so the report attributes THE pipeline, not a
    * parallel reimplementation; `reason` is the FIRST failing stage
    * in pipeline order: `quality` (Gopher-style gate, including the
    * zero-word guard), `duplicate` (a gate-passing doc that lost the
    * min-doc_id keep within its normalized-text group), `dsir`
    * (kept representative whose importance score fell below the
    * selection threshold), else `kept` — so `kept` rows are exactly
    * pipe_modern's selected output rows.
    *
    * One-frame keeper trick (r14 form): rep_id is an unordered
    * window aggregate — min(when(gate_pass, doc_id)) over partition
    * norm_md5 — so the keeper attaches to every row of its group
    * with NO self-join of the metric frame and the regex-heavy gate
    * metrics are evaluated exactly once (the aggregate+join-back
    * form evaluated them twice; see the inline note). DSIR keepers
    * always score: the gate requires ≥ 1 required stopword, so
    * every keeper has a letter token and enters the token stream.
    *
    * Scale shape: gate metrics + fingerprint are one map-side
    * projection; the keeper window is one partitioned
    * (high-cardinality norm_md5) exchange+sort; DSIR adds the
    * pipe_modern token-stream aggregates over survivors. Linear —
    * the parent pipeline's cost class.
    */
  def dropReasons(s: SparkSession, d: String): DataFrame =
    dropReasonsOf(Tables.documents(s, d))

  /** [[dropReasons]] over an explicit documents frame (spec entry). */
  private[graft] def dropReasonsOf(docs: DataFrame): DataFrame = {
    val tk = tokens(lower(col("text")))
    val raw = docs.select(col("doc_id"), col("source"),
      size(regexp_extract_all(col("text"), lit(s"$NonWs+"), lit(0)))
        .cast("long").as("n_words"),
      length(regexp_replace(col("text"), Ws, "")).cast("long").as("n_wchars"),
      ((length(col("text")) - length(translate(col("text"), "#", ""))) +
        size(regexp_extract_all(col("text"), lit("\\.\\.\\.|…"), lit(0))))
        .cast("long").as("n_symbols"),
      size(regexp_extract_all(col("text"), lit(s"$NonWs*\\p{L}$NonWs*"), lit(0)))
        .cast("long").as("n_alpha_words"),
      GopherStops.map(w => when(array_contains(tk, w), 1L).otherwise(0L))
        .reduce(_ + _).as("n_stop_kinds"),
      md5(graft.functions.NormalizeText.normalize_text(col("text"))
        .cast("binary")).as("norm_md5"))
    // the division guards ride the when-branch (CASE short-circuits):
    // a zero-word doc must fail the gate, not ANSI-fail the query
    val gatePass = when(col("n_words") > 0,
        col("n_words").between(50L, 100000L) &&
        pround(col("n_wchars") / col("n_words"), 4) >= 3.0 &&
        pround(col("n_wchars") / col("n_words"), 4) <= 10.0 &&
        pround(col("n_symbols") / col("n_words"), 4) < 0.1 &&
        pround(col("n_alpha_words") / col("n_words"), 4) >= 0.8 &&
        col("n_stop_kinds") >= ModernStopKinds)
      .otherwise(lit(false))
    // keeper per normalized-text group as an UNORDERED WINDOW
    // AGGREGATE — min(when(gate_pass, doc_id)) over partition
    // norm_md5 — NOT the aggregate-then-join-back form (r14 rewrite):
    // aggregate+join consumed the metric frame from TWO distinct
    // subtrees (partial-agg→Exchange for reps vs plain Exchange for
    // the join's left), which Catalyst cannot exchange-reuse, so the
    // regex-heavy gate metrics above were EVALUATED TWICE per run —
    // QueryProbe attributed 2× ~5 s (the two dominant stages) to
    // exactly that duplicate at sf0.1, and the cost doubles corpus
    // CPU at any scale. The window form puts ONE Exchange(norm_md5)
    // above ONE metric evaluation; the DSIR keeper set below filters
    // the SAME window subtree, so AQE stage reuse serves it from
    // shuffle files instead of recomputing the metrics. (This is not
    // the first cut's rank-window — no rank filter, so the
    // TopKPerGroup rewrite that split the plan then does not fire;
    // min-over-partition plans as a plain WindowExec on the same
    // exchange+sort the old SMJ join needed anyway.)
    val flagged = raw.withColumn("gate_pass", gatePass)
    val wGroup = org.apache.spark.sql.expressions.Window
      .partitionBy(col("norm_md5"))
    // a gate-passer's group always has a rep (itself at worst), so
    // rep_id is null only on quality rows, which match first
    val withRep = flagged.withColumn("rep_id",
      min(when(col("gate_pass"), col("doc_id"))).over(wGroup))
    // DSIR scores ALL documents, not a keepers semi-join (r14): the
    // semi-join's build side re-derived the whole metric+window
    // subtree (a SECOND evaluation of the regex metrics — column
    // pruning makes the two subtrees canonically different, so
    // exchange reuse can never serve it), while `selected` is a
    // PER-DOC absolute predicate (avg_logratio > 0 against the
    // all-docs model), so scoring non-keepers changes nothing the
    // reason CASE ever reads — non-keeper rows match quality/
    // duplicate before the selected branch. Net: one metric pass
    // instead of two, no semi-join, for one extra tokenize pass
    // over the dropped slice (tokenize ≪ the 6-regex metric pass).
    val scored = Sampling.dsirScoresUnsorted(
      docs, Sampling.dsirModelOf(docs))
    withRep
      .join(scored.select(col("doc_id"), col("selected")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        when(!col("gate_pass"), "quality")
          .when(col("doc_id") =!= col("rep_id"), "duplicate")
          .when(!col("selected"), "dsir")
          .otherwise("kept").as("reason"))
      .orderBy(col("doc_id"))
  }

  /** The per-source cleanse funnel: how many documents each stage
    * drops per source — the operational rollup of [[dropReasons]]
    * (a source whose `quality` share spikes signals an upstream
    * extraction regression; a `duplicate` spike, a crawl overlap).
    */
  def dropReport(s: SparkSession, d: String): DataFrame =
    dropReasonsOf(Tables.documents(s, d))
      .groupBy(col("source"), col("reason"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("reason"))

  /** Bigram-LM fluency scoring (the CCNet/RefinedWeb "perplexity
    * filter" shape): train a bigram language model ON the corpus
    * itself — c(w1,w2) and context counts c(w1·) from one occurrence
    * stream — and score every document by its mean bigram log
    * probability Σ ln(c12/c1) / n. Word-salad and boilerplate score
    * low; text made of common transitions scores high. Self-scoring
    * means every bigram has c12 ≥ 1 — no OOV smoothing needed.
    *
    * Determinism: each term integerizes BEFORE the sum
    * (floor((ln c12 − ln c1)·10⁶ + 0.5) — the q31_corr
    * integer-sufficient-statistics trick), so the per-doc aggregate
    * is an order-free BIGINT sum and the only float ops are two
    * single-rounded ln calls on identical integers in both engines.
    *
    * Scale shape: the occurrence stream is one row per token (word
    * count's volume); bigram/context counts are two map-side-partial
    * groupBys; the score join shuffles on the bigram key. All terms
    * linear in corpus size — this is how LM filtering runs at 100 TB
    * (CCNet hashes its LM the same way). Bigrams build from
    * arrays_zip(slice, slice) — no higher-order-function lambdas in
    * the hot path (the round-6 CodegenFallback lesson).
    */
  def lmScore(s: SparkSession, d: String): DataFrame =
    lmScoreOf(Tables.documents(s, d))

  /** [[lmScore]] over an explicit documents frame (spec entry). */
  private[graft] def lmScoreOf(docs: DataFrame): DataFrame = {
    val n = size(col("tk"))
    val occ = docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(n >= 2)
      .select(col("doc_id"),
        explode(arrays_zip(slice(col("tk"), lit(1), n - 1).as("w1"),
                           slice(col("tk"), lit(2), n - 1).as("w2"))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      // Semantically a no-op (equal-length slices zip with no null
      // padding) but load-bearing for exchange reuse — the dsirToks
      // discipline: the c12 join infers isnotnull(w1, w2) onto its
      // branch while the c1 join (keyed on w1 alone) infers only
      // isnotnull(w1), and runtime stage reuse compares subtrees
      // verbatim. Carrying both filters in the DEFINITION keeps the
      // c12 aggregate canonically identical under both consumers, so
      // the tokenize+explode+count pass runs ONCE for c12 and c1
      // (measured: 3 full token passes → 2; plans/r15/txt_lm_score).
      .filter(col("w1").isNotNull && col("w2").isNotNull)
    val c12 = occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    // context counts derive from the BIGRAM table, not a second pass
    // over the occurrence stream: c(w1·) = Σ_w2 c(w1,w2) exactly, and
    // the re-aggregation runs over distinct bigrams (≪ occurrences) —
    // the dsir-model lesson: never hand a lazy plan two heavy
    // evaluations of the same explode when one consumer's result is
    // derivable from the other's
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    occ
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .select(col("doc_id"),
        floor((log(col("c12").cast("double")) - log(col("c1").cast("double")))
          * lit(1000000d) + lit(0.5)).cast("long").as("qi"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        pround(sum(col("qi")) / count(lit(1)) / lit(1000000d), 4).as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): split each
    * language's documents into head/middle/tail TERCILES of LM score —
    * the published method for grading web text by fluency (CCNet keeps
    * head+middle, drops tail). Score = [[lmScore]]'s bigram mean log
    * probability (higher = more fluent), thresholds = per-language
    * exact terciles, bucket = map-side comparison against the
    * broadcast thresholds.
    *
    * One corpus pass: the threshold aggregate and the bucket join both
    * consume the SAME scored projection (doc_id, lang, avg_logp) with
    * an explicit no-op lang.isNotNull on the shared frame, so the
    * broadcast join's inferred null filter and column pruning cannot
    * de-identify the branches — the heavy bigram subtree plans ONE
    * exchange, reused (the smp_dsir lesson; spec-pinned).
    *
    * Determinism: thresholds pround to 6dp. Terciles interpolate
    * between adjacent 4dp-rounded order statistics with fraction 1/3
    * or 2/3, so the 7th decimal digit of an inexact threshold is
    * always 3 or 6 — never within an ulp of the rounding boundary —
    * and a threshold only lands ON the 4dp score grid when both
    * engines compute it exactly. `score >= t` therefore buckets
    * identically in Spark and DuckDB.
    *
    * Scale: per-lang exact percentile buffers a group's values in
    * executor memory (the statsApprox caveat) — the oracle-exact gate
    * form. At 100 TB swap the threshold aggregate for
    * approx_percentile with the rank-count tolerance check; bucketing
    * stays map-side either way.
    */
  def ccnetBuckets(s: SparkSession, d: String): DataFrame =
    ccnetBucketsOf(Tables.documents(s, d))

  /** [[ccnetBuckets]] over an explicit documents frame (spec entry). */
  private[graft] def ccnetBucketsOf(docs: DataFrame): DataFrame = {
    val scored = ccnetScoredOf(docs)
    ccnetBucketAgainst(scored, ccnetCutsOf(scored))
  }

  /** Per-doc LM score with the language carried — the shared scored
    * projection both the threshold aggregate and the bucket join
    * consume (identical columns + the no-op isNotNull keep the two
    * subtrees verbatim-equal for runtime exchange reuse).
    */
  private def ccnetScoredOf(docs: DataFrame): DataFrame =
    lmScoreOf(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .filter(col("lang").isNotNull)
      .select(col("doc_id"), col("lang"), col("avg_logp"))

  /** The trained CCNet threshold MODEL — one (lang, t1, t2) row per
    * language. Like the DSIR bucket table and the ANN centroids,
    * this is the only state bucketing needs: train once on a
    * reference corpus, persist with [[saveCcnetCuts]], and bucket any
    * later ingest batch against the frozen cuts. (Unlike ANN
    * assignment, the LM score itself is cohort-dependent — the bigram
    * LM self-trains on the batch being scored — so the pinned
    * properties are the save/load round-trip identity and frozen-
    * threshold determinism, not cross-batch slice equality.)
    */
  private[graft] def ccnetCutsOf(scored: DataFrame): DataFrame =
    ScaleOps.sortedPercentiles(scored.select(col("lang"), col("avg_logp")),
        "lang", "avg_logp", Seq(1.0 / 3 -> "t1", 2.0 / 3 -> "t2"))
      .select(col("lang"),
        pround(col("t1"), 6).as("t1"), pround(col("t2"), 6).as("t2"))

  /** Bucket a scored frame against an explicit (frozen or in-plan)
    * threshold model. */
  private def ccnetBucketAgainst(scored: DataFrame,
                                 cuts: DataFrame): DataFrame =
    scored.join(broadcast(cuts), Seq("lang"))
      .withColumn("bucket",
        when(col("avg_logp") >= col("t2"), "head")
          .when(col("avg_logp") >= col("t1"), "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("avg_logp"), col("bucket"))
      .orderBy(col("doc_id"))

  /** Train the threshold model from a corpus directory. */
  def ccnetCuts(s: SparkSession, d: String): DataFrame =
    ccnetCutsOf(ccnetScoredOf(Tables.documents(s, d)))

  /** Persist the threshold model (the BloomDedup/ANN-state pattern). */
  def saveCcnetCuts(cuts: DataFrame, path: String): Unit =
    cuts.select(col("lang"), col("t1"), col("t2"))
      .write.mode("overwrite").parquet(path)

  /** Load a persisted threshold model with the schema pinned. */
  def loadCcnetCuts(s: SparkSession, path: String): DataFrame =
    s.read.schema("lang STRING, t1 DOUBLE, t2 DOUBLE").parquet(path)

  /** Bucket a documents frame against a PERSISTED threshold model —
    * the incremental-ingest form: no threshold pass over the new
    * batch, one broadcast of the tiny cuts table.
    */
  def ccnetBucketsWith(docs: DataFrame, cuts: DataFrame): DataFrame =
    ccnetBucketAgainst(ccnetScoredOf(docs), cuts)

  /** The 100 TB form of [[ccnetBuckets]]' thresholds: per-language
    * APPROX terciles (t-digest-style sketch — bounded memory per
    * group, unlike exact percentile's buffer-everything) verified
    * in-query by rank counts — the fraction of scores at or below
    * each approximate cut must sit within ±0.07 of 1/3 and 2/3. The
    * stats_approx contract: sketch values differ per engine, so each
    * engine checks ITS OWN sketch against its own exact counts and
    * exports only the deterministic columns (exact n + the
    * within-tolerance booleans).
    */
  def ccnetApprox(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val scored = lmScoreOf(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .filter(col("lang").isNotNull)
      .select(col("doc_id"), col("lang"), col("avg_logp"))
    val agg = scored.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_scored"),
        expr("approx_percentile(avg_logp, CAST(1 AS DOUBLE)/3, 10000)").as("at1"),
        expr("approx_percentile(avg_logp, CAST(2 AS DOUBLE)/3, 10000)").as("at2"))
    // the verification aggregate carries n_scored through (min of the
    // broadcast constant) so the output needs no third consumer of
    // the scored subtree — two passes is the floor for sketch+verify
    scored
      .join(broadcast(agg), Seq("lang"))
      .groupBy(col("lang"))
      .agg(min(col("n_scored")).as("n_scored"),
           sum(when(col("avg_logp") <= col("at1"), 1L).otherwise(0L)).as("nb1"),
           sum(when(col("avg_logp") <= col("at2"), 1L).otherwise(0L)).as("nb2"))
      .select(col("lang"), col("n_scored"),
        (col("nb1") / col("n_scored")).between(0.26, 0.40).as("t1_ok"),
        (col("nb2") / col("n_scored")).between(0.60, 0.74).as("t2_ok"))
      .orderBy(col("lang"))
  }

  /** The dataset card: per-SOURCE corpus accounting a pipeline
    * publishes with a release — document/token volumes, stopword
    * density, Gopher pass rate, PII density, mean LM fluency. One
    * lazy plan over three corpus passes (map-side profile+PII
    * projection, the Gopher metric projection, the bigram-LM score) —
    * the honest multi-pass report shape; every exported figure is
    * integer or floor-integerized so per-source means are order-free
    * exact in both engines (negative LM sums use explicit
    * floor(double) — Spark's `div` truncates toward zero while
    * DuckDB's `//` floors, so raw integer division is only portable
    * for non-negative values).
    */
  def pipeReport(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val piiTotal = PiiPatterns.map { case (_, p) =>
      size(regexp_extract_all(lower(col("text")), lit(p), lit(0))).cast("long")
    }.reduce(_ + _)
    val base = docs.select(col("doc_id"), col("source"),
        graft.functions.TokenMembershipCounts.token_membership_counts(
          tokens(col("text")), Seq("stop_hits" -> stopwords)).as("p"),
        piiTotal.as("n_pii"))
      .select(col("doc_id"), col("source"),
        col("p.n_tokens").as("n_tokens"), col("p.stop_hits").as("stop_hits"),
        col("n_pii"))
    val gp = gopherRules(s, d).select(col("doc_id"), col("gopher_pass"))
    val lm = lmScore(s, d).select(col("doc_id"),
      floor(col("avg_logp") * lit(10000d) + lit(0.5)).cast("long").as("lmq"))
    base.join(gp, Seq("doc_id"), "left").join(lm, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("n_tokens"),
           sum(col("stop_hits")).as("stop_hits"),
           sum(when(col("gopher_pass"), 1L).otherwise(0L)).as("n_gopher_pass"),
           sum(col("n_pii")).as("n_pii"),
           count(col("lmq")).as("n_scored"),
           sum(col("lmq")).as("lm_sum"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("stop_hits * 10000 div n_tokens").as("stop_x10k"),
        col("n_gopher_pass"), col("n_pii"),
        floor(col("lm_sum").cast("double") / col("n_scored")).cast("long")
          .as("lm_mean_x10k"))
      .orderBy(col("source"))
  }

  /** BM25 retrieval scoring — the ranked-search complement of
    * [[tfidf]] (and the scoring function behind contamination /
    * quality "find documents about X" audits over a pretraining
    * corpus). Fixed 3-term query, Robertson/Okapi parameters
    * k1 = 1.2, b = 0.75, idf = ln(1 + (N − df + ½)/(df + ½)).
    *
    * Scale shape — NO token-stream shuffle at all: per-term tf and
    * doc length are computed MAP-SIDE from the token array
    * (`size(filter(tk, = term))` per query term — the term list is a
    * compile-time constant, so no explode→groupBy over the corpus
    * tokens), corpus statistics (N, Σdl, per-term df) fold into ONE
    * scalar aggregate broadcast back over the per-doc stream, and the
    * top-20 cut is a distributed TakeOrdered on pround(score, 6) with
    * doc_id tiebreak (the tfidf ln-ulp discipline). Cost = two narrow
    * scans of documents (the per-doc pass and the stats pass — no
    * exchange for AQE to reuse, the tfidf n-scalar precedent).
    */
  def bm25(s: SparkSession, d: String): DataFrame =
    bm25Of(Tables.documents(s, d))

  private val Bm25Terms = Seq("hash", "merge", "window")

  /** [[bm25]] over an explicit documents frame (spec entry). */
  private[graft] def bm25Of(docs: DataFrame): DataFrame = {
    val ti = Bm25Terms.indices
    val per = docs
      .select(col("doc_id"), tokens(lower(col("text"))).as("tk"))
      .select(col("doc_id") +: size(col("tk")).cast("long").as("dl") +:
        Bm25Terms.zipWithIndex.map { case (t, i) =>
          size(filter(col("tk"), x => x === lit(t))).cast("long").as(s"tf$i")
        }: _*)
    val corpus = per.agg(
      count(lit(1)).as("n"),
      sum(col("dl")).as("sum_dl") +:
        ti.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
    // avgdl and the per-term idf/tf saturation — the SAME expression
    // tree the oracle SQL spells out, so the double arithmetic is
    // bit-identical cross-engine given identical integer inputs
    val avgdl = col("sum_dl").cast("double") / col("n")
    val score = ti.map { i =>
      val tf = col(s"tf$i"); val df = col(s"df$i")
      val idf = log(lit(1.0) + (col("n") - df + lit(0.5)) / (df + lit(0.5)))
      idf * (tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    }.reduce(_ + _)
    val nHit = ti.map(i =>
      when(col(s"tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _)
    per.crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("dl"), nHit.as("n_hit"),
        pround(score, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  private val CdcMask = 64L // boundary when gram hash % 64 == 0 → E[chunk] ≈ 64 tokens
  private val CdcGram = 3

  /** Content-defined chunking (the Rabin-mask / FastCDC idea at token
    * granularity): a chunk boundary falls AFTER token p whenever the
    * hash of the [[CdcGram]]-gram ending at p masks to zero — so
    * boundaries are decided by LOCAL content, not absolute offsets.
    * That is the property [[chunk]]'s fixed windows lack: insert one
    * word at the top of a document and every fixed window shifts
    * (nothing dedups), while CDC re-synchronizes after the
    * insertion's own chunk and every downstream chunk md5 is
    * UNCHANGED — chunk-level dedup that survives shifted content
    * (rsync/backup-dedup's trick, applied to corpus text; the
    * stability pin in CdcChunkSpec).
    *
    * Scale shape: the boundary decision is one portable md5 hash per
    * token position, map-side (the dedup_ngram cost class); chunk ids
    * come from the per-doc exclusive prefix sum over cut flags (the
    * substrSpans island-window precedent — partitioned by doc, never
    * global); the rejoin's collect_list is chunk-bounded in
    * expectation (mask 1/[[CdcMask]] → ~64 tokens) and doc-bounded
    * worst case (the linesStrip contract).
    */
  def chunkCdc(s: SparkSession, d: String): DataFrame =
    chunkCdcOf(Tables.documents(s, d))

  /** [[chunkCdc]] over an explicit documents frame (spec entry).
    *
    * ONE map-side pass via the [[graft.functions.CdcChunks]]
    * generator — no token explode, no per-doc window, no
    * collect_list rebuild: the original relational derivation
    * shuffled every (pos, token) struct through the chunk-group
    * exchange and rebuilt chunk text with interpreted HOF lambdas,
    * measured 222 s full-eval at the 100× rung (compute-bound, 101×
    * its 1× cost). Chunking is per-document sequential work, so it
    * runs in the scan stage; only chunk rows leave it. The oracle
    * STILL replays the explode/window/group derivation in DuckDB, so
    * the gate proves the fusion bit-exact at every SF (the
    * GramRunStats/DistinctGramHashes fusion discipline), and
    * CdcChunkSpec's plain-Scala differential pins it in-suite.
    */
  private[graft] def chunkCdcOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.CdcChunks.cdc_chunks(tokens(col("text")), CdcMask,
          CdcGram))
      .orderBy(col("doc_id"), col("chunk_seq"))

  /** Chunk-level dedup over the CDC chunks — [[chunkCdc]]'s purpose,
    * composed end to end (the dedup_lines shape at chunk granularity):
    * a chunk whose md5 occurs ≥ 2 times ANYWHERE in the corpus is
    * duplicated content, and because CDC boundaries re-synchronize,
    * this catches shared regions even when they sit at DIFFERENT
    * offsets in each document — the case fixed-window chunk dedup
    * structurally misses. Output per doc: chunk count, duplicated
    * chunks, duplicated fraction.
    *
    * Scale shape: the chunk stream shuffles 32-char md5 keys (never
    * chunk text) for the occurrence count; the duplicated-key set —
    * small by the boilerplate skew that motivates the pass —
    * broadcasts into a semi-join (the linesStats precedent verbatim).
    */
  def dedupCdcChunks(s: SparkSession, d: String): DataFrame =
    dedupCdcChunksOf(Tables.documents(s, d))

  /** [[dedupCdcChunks]] over an explicit documents frame (spec entry). */
  private[graft] def dedupCdcChunksOf(docs: DataFrame): DataFrame = {
    val ch = chunkCdcOf(docs).select(col("doc_id"), col("chunk_md5"))
    val dup = ch.groupBy(col("chunk_md5")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select(col("chunk_md5"))
    val per = ch.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
    val dd = ch.join(dup, Seq("chunk_md5"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_chunks"))
    per.join(dd, Seq("doc_id"), "left")
      .withColumn("dup_chunks", coalesce(col("dup_chunks"), lit(0L)))
      .withColumn("dup_chunk_frac",
        pround(col("dup_chunks") / col("n_chunks"), 4))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_cdc_chunks" -> dedupCdcChunks _,
    "txt_chunk_cdc"    -> chunkCdc _,
    "txt_bm25"         -> bm25 _,
    "pipe_clean"       -> pipeClean _,
    "pipe_modern"      -> pipeModern _,
    "pipe_drop_reasons" -> dropReasons _,
    "pipe_drop_report" -> dropReport _,
    "pipe_report"      -> pipeReport _,
    "pipe_drift"       -> driftReport _,
    "txt_ccnet_buckets" -> ccnetBuckets _,
    "txt_ccnet_approx" -> ccnetApprox _,
    "txt_gopher_rules" -> gopherRules _,
    "txt_pii"          -> pii _,
    "txt_lm_score"     -> lmScore _,
    "wc_heavy_hitters" -> wcHeavyHitters _,
    "txt_scrub"        -> scrub _,
    "txt_token_counts" -> tokenCounts _,
    "txt_chunk"       -> chunkDocs _,
    "txt_chunk_bpe"   -> chunkDocsBpe _,
    "txt_repetition"  -> repetition _,
    "txt_pack_shards" -> packShards _,
    "txt_pack_seqs"   -> packSeqs _,
    "txt_tfidf"       -> tfidf _,
    "wc_top_words"    -> wcTopWords _,
    "txt_token_stats" -> tokenStats _,
    "txt_quality"     -> quality _,
    "txt_langid"      -> langId _,
    "txt_fingerprint" -> fingerprint _,
    "txt_entropy"     -> entropyScore _,
    "txt_pmi"         -> pmi _,
  )

  private val tokSql =
    s"list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), t -> t <> '')"

  /** Hoisted oracle SQL strings, reused as CTEs by pipe_clean. */
  private val QualityOracleSql: String =
    s"""SELECT doc_id, count(*) AS n_tokens, min(n_chars) AS n_chars,
      |  pround(sum(CASE WHEN lower(word) IN $StopSql THEN 1 ELSE 0 END)
      |        / count(*), 4) AS stop_ratio,
      |  pround(min(n_nonalpha) / min(n_chars), 4) AS nonalpha_ratio
      |FROM (SELECT doc_id, n_chars,
      |        unnest(regexp_split_to_array(text, '[^\\p{L}]+')) AS word,
      |        length(text) - length(regexp_replace(text, '[\\p{L} ]', '', 'g')) AS n_nonalpha
      |      FROM documents) t
      |WHERE word <> ''
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  private val LangIdOracleSql: String = {
      def hitsSql(ws: Seq[String]) = ws.map("'" + _ + "'").mkString("(", ", ", ")")
      s"""SELECT doc_id,
        |  ${markers.map { case (l, ws) =>
             s"CAST(sum(CASE WHEN lower(word) IN ${hitsSql(ws)} THEN 1 ELSE 0 END) AS BIGINT) AS ${l}_hits"
           }.mkString(",\n  ")},
        |  min(length(text)) - min(length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g'))) AS zh_chars,
        |  CASE
        |    WHEN min(length(text)) - min(length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g'))) > 0 THEN 'zh'
        |    WHEN sum(CASE WHEN lower(word) IN ${hitsSql(markers(0)._2)} THEN 1 ELSE 0 END) = 0
        |     AND sum(CASE WHEN lower(word) IN ${hitsSql(markers(1)._2)} THEN 1 ELSE 0 END) = 0
        |     AND sum(CASE WHEN lower(word) IN ${hitsSql(markers(2)._2)} THEN 1 ELSE 0 END) = 0
        |     AND sum(CASE WHEN lower(word) IN ${hitsSql(markers(3)._2)} THEN 1 ELSE 0 END) = 0 THEN 'und'
        |    WHEN sum(CASE WHEN lower(word) IN ${hitsSql(markers(0)._2)} THEN 1 ELSE 0 END) >= sum(CASE WHEN lower(word) IN ${hitsSql(markers(1)._2)} THEN 1 ELSE 0 END)
        |     AND sum(CASE WHEN lower(word) IN ${hitsSql(markers(0)._2)} THEN 1 ELSE 0 END) >= sum(CASE WHEN lower(word) IN ${hitsSql(markers(2)._2)} THEN 1 ELSE 0 END)
        |     AND sum(CASE WHEN lower(word) IN ${hitsSql(markers(0)._2)} THEN 1 ELSE 0 END) >= sum(CASE WHEN lower(word) IN ${hitsSql(markers(3)._2)} THEN 1 ELSE 0 END) THEN 'en'
        |    WHEN sum(CASE WHEN lower(word) IN ${hitsSql(markers(1)._2)} THEN 1 ELSE 0 END) >= sum(CASE WHEN lower(word) IN ${hitsSql(markers(2)._2)} THEN 1 ELSE 0 END)
        |     AND sum(CASE WHEN lower(word) IN ${hitsSql(markers(1)._2)} THEN 1 ELSE 0 END) >= sum(CASE WHEN lower(word) IN ${hitsSql(markers(3)._2)} THEN 1 ELSE 0 END) THEN 'es'
        |    WHEN sum(CASE WHEN lower(word) IN ${hitsSql(markers(2)._2)} THEN 1 ELSE 0 END) >= sum(CASE WHEN lower(word) IN ${hitsSql(markers(3)._2)} THEN 1 ELSE 0 END) THEN 'de'
        |    ELSE 'fr' END AS lang_guess
        |FROM (SELECT doc_id, text,
        |        unnest(regexp_split_to_array(text, '[^\\p{L}]+')) AS word
        |      FROM documents) t
        |WHERE word <> ''
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
  }

  /** Shared CDC-chunk CTEs: final CTE `cdc` carries one row per
    * (doc_id, chunk_seq, start_pos, n_tokens, chunk_md5) — replayed
    * verbatim by both the chunker gate and the chunk-dedup gate.
    */
  private lazy val CdcCte: String = {
    val h = graft.functions.CrossEngine.portableHashSql(
      "tk[p-2] || ' ' || tk[p-1] || ' ' || tk[p]")
    s"""tk AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(text, '[^\\p{L}]+'),
       |                x -> x <> '') AS tk
       |  FROM documents),
       |nz AS (SELECT doc_id, tk FROM tk WHERE len(tk) > 0),
       |tr AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS p, tk
       |       FROM nz),
       |rows_ AS (SELECT doc_id, p, tk[p] AS t,
       |    CASE WHEN p >= $CdcGram AND ($h) % $CdcMask = 0
       |         THEN 1 ELSE 0 END AS cut
       |  FROM tr),
       |ch AS (SELECT doc_id, p, t,
       |    1 + CAST(coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS chunk_seq
       |  FROM rows_),
       |cdc AS MATERIALIZED (
       |  SELECT doc_id, chunk_seq, min(p) AS start_pos,
       |    count(*) AS n_tokens, md5(string_agg(t, ' ' ORDER BY p)) AS chunk_md5
       |  FROM ch GROUP BY 1, 2)""".stripMargin
  }

  /** The full pipe_drop_reasons oracle — embedded verbatim as a CTE
    * by the pipe_drop_report oracle. Stage arithmetic mirrors the
    * pipe_modern oracle's CTEs term by term; the gate rides a CASE so
    * zero-word documents attribute `quality` instead of dividing by
    * zero, and the keep rank partitions by (norm_md5, gate_pass) —
    * the same one-frame trick as the Spark plan.
    */
  private lazy val DropReasonsOracleSql: String = {
    val lowTok =
      "list_filter(regexp_split_to_array(lower(text), '[^\\p{L}]+'), t -> t <> '')"
    val stopKinds = GopherStops
      .map(w => s"(CASE WHEN list_contains($lowTok, '$w') THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH ${Sampling.DsirCteSql},
       |pm AS (SELECT doc_id, source,
       |  CAST(len(regexp_extract_all(text, '${NonWs}+')) AS BIGINT) AS n_words,
       |  CAST(length(regexp_replace(text, '$Ws', '', 'g')) AS BIGINT) AS n_wchars,
       |  CAST(length(text) - length(replace(text, '#', ''))
       |     + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS BIGINT) AS n_symbols,
       |  CAST(len(regexp_extract_all(text, '${NonWs}*\\p{L}${NonWs}*')) AS BIGINT) AS n_alpha_words,
       |  CAST($stopKinds AS BIGINT) AS n_stop_kinds,
       |  md5(trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g'))) AS norm_md5
       |FROM documents),
       |fl AS (SELECT doc_id, source, norm_md5,
       |  (CASE WHEN n_words > 0 THEN
       |     n_words BETWEEN 50 AND 100000
       |     AND pround(n_wchars / n_words, 4) >= 3.0
       |     AND pround(n_wchars / n_words, 4) <= 10.0
       |     AND pround(n_symbols / n_words, 4) < 0.1
       |     AND pround(n_alpha_words / n_words, 4) >= 0.8
       |     AND n_stop_kinds >= $ModernStopKinds
       |   ELSE false END) AS gate_pass
       |FROM pm),
       |rp AS (SELECT norm_md5, min(doc_id) AS rep_id
       |  FROM fl WHERE gate_pass GROUP BY norm_md5),
       |per AS (SELECT t.doc_id, count(*) AS n_tokens, sum(qi) AS sq
       |  FROM toks t
       |  JOIN bk ON t.b = bk.b
       |  JOIN (SELECT rep_id AS doc_id FROM rp) k
       |    ON k.doc_id = t.doc_id
       |  GROUP BY t.doc_id),
       |sel AS (SELECT doc_id,
       |  pround((sq + n_tokens * kc) / n_tokens / 1000000, 4) > 0.0 AS selected
       |  FROM per, kc)
       |SELECT f.doc_id, f.source,
       |  CASE WHEN NOT f.gate_pass THEN 'quality'
       |       WHEN f.doc_id <> rp.rep_id THEN 'duplicate'
       |       WHEN NOT s.selected THEN 'dsir'
       |       ELSE 'kept' END AS reason
       |FROM fl f
       |LEFT JOIN rp ON rp.norm_md5 = f.norm_md5
       |LEFT JOIN sel s ON s.doc_id = f.doc_id
       |ORDER BY f.doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "txt_chunk_cdc" ->
      s"""WITH $CdcCte
         |SELECT doc_id, chunk_seq, start_pos, n_tokens, chunk_md5
         |FROM cdc ORDER BY doc_id, chunk_seq""".stripMargin,
    "dedup_cdc_chunks" ->
      s"""WITH $CdcCte,
         |dup AS (SELECT chunk_md5 FROM cdc GROUP BY chunk_md5
         |        HAVING count(*) >= 2),
         |per AS (SELECT doc_id, count(*) AS n_chunks FROM cdc GROUP BY 1),
         |dd AS (SELECT c.doc_id, count(*) AS dup_chunks
         |       FROM cdc c JOIN dup USING (chunk_md5) GROUP BY 1)
         |SELECT p.doc_id, p.n_chunks,
         |  coalesce(d.dup_chunks, 0) AS dup_chunks,
         |  pround(coalesce(d.dup_chunks, 0) / p.n_chunks, 4) AS dup_chunk_frac
         |FROM per p LEFT JOIN dd d ON d.doc_id = p.doc_id
         |ORDER BY p.doc_id""".stripMargin,
    "txt_bm25" -> {
      val ti = Bm25Terms.indices
      val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(tk, x -> x = '$t')) AS tf$i" }.mkString(",\n    ")
      val dfCols = ti.map(i =>
        s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
        .mkString(",\n    ")
      val score = ti.map(i =>
        s"""ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * 2.2) /
           |      (tf$i + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n)))"""
          .stripMargin).mkString("\n    + ")
      val nHit = ti.map(i => s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH tk AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(lower(text), '[^\\p{L}]+'),
         |                x -> x <> '') AS tk
         |  FROM documents),
         |per AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
         |    $tfCols
         |  FROM tk),
         |corpus AS (
         |  SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sum_dl,
         |    $dfCols
         |  FROM per),
         |scored AS (
         |  SELECT doc_id, dl,
         |    CAST($nHit AS BIGINT) AS n_hit,
         |    $score AS score
         |  FROM per CROSS JOIN corpus)
         |SELECT doc_id, dl, n_hit, pround(score, 6) AS score
         |FROM scored
         |ORDER BY pround(score, 6) DESC, doc_id LIMIT 20""".stripMargin
    },
    "pipe_modern" -> {
      val piiSum = PiiPatterns
        .map { case (_, p) => s"len(regexp_extract_all(lower(text), '$p'))" }
        .mkString(" + ")
      val lowTok =
        "list_filter(regexp_split_to_array(lower(text), '[^\\p{L}]+'), t -> t <> '')"
      val stopKinds = GopherStops
        .map(w => s"(CASE WHEN list_contains($lowTok, '$w') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val splitHash = graft.functions.CrossEngine.portableHashSql(
        "'split:' || CAST(p.doc_id AS VARCHAR)")
      s"""WITH ${Sampling.DsirCteSql},
         |pm AS (SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${NonWs}+')) AS BIGINT) AS n_words,
         |  CAST(length(regexp_replace(text, '$Ws', '', 'g')) AS BIGINT) AS n_wchars,
         |  CAST(length(text) - length(replace(text, '#', ''))
         |     + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS BIGINT) AS n_symbols,
         |  CAST(len(regexp_extract_all(text, '${NonWs}*\\p{L}${NonWs}*')) AS BIGINT) AS n_alpha_words,
         |  CAST($stopKinds AS BIGINT) AS n_stop_kinds,
         |  CAST($piiSum AS BIGINT) AS n_pii,
         |  md5(trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g'))) AS norm_md5
         |FROM documents),
         |passed AS (SELECT doc_id, n_words, n_pii, norm_md5
         |  FROM pm
         |  WHERE n_words > 0
         |    AND n_words BETWEEN 50 AND 100000
         |    AND pround(n_wchars / n_words, 4) >= 3.0
         |    AND pround(n_wchars / n_words, 4) <= 10.0
         |    AND pround(n_symbols / n_words, 4) < 0.1
         |    AND pround(n_alpha_words / n_words, 4) >= 0.8
         |    AND n_stop_kinds >= $ModernStopKinds),
         |keep AS (SELECT min(doc_id) AS doc_id FROM passed GROUP BY norm_md5),
         |per AS (SELECT t.doc_id, count(*) AS n_tokens, sum(qi) AS sq
         |  FROM toks t
         |  JOIN bk ON t.b = bk.b
         |  JOIN keep k ON k.doc_id = t.doc_id
         |  GROUP BY t.doc_id)
         |SELECT p.doc_id, p.n_words, p.n_pii,
         |  pround((sq + n_tokens * kc) / n_tokens / 1000000, 4) AS avg_logratio,
         |  pround((sq + n_tokens * kc) / n_tokens / 1000000, 4) > 0.0 AS selected,
         |  CASE WHEN $splitHash % 1000 < 980 THEN 'train'
         |       WHEN $splitHash % 1000 < 990 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM passed p
         |JOIN keep k ON k.doc_id = p.doc_id
         |JOIN per ON per.doc_id = p.doc_id, kc
         |ORDER BY p.doc_id""".stripMargin
    },
    "pipe_drop_reasons" -> DropReasonsOracleSql,
    "pipe_drop_report" ->
      s"""WITH rr AS ($DropReasonsOracleSql)
         |SELECT source, reason, count(*) AS n_docs
         |FROM rr GROUP BY 1, 2
         |ORDER BY source, reason""".stripMargin,
    "txt_gopher_rules" -> {
      val lowTok =
        "list_filter(regexp_split_to_array(lower(text), '[^\\p{L}]+'), t -> t <> '')"
      val stopKinds = GopherStops
        .map(w => s"(CASE WHEN list_contains($lowTok, '$w') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH m AS (SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${NonWs}+')) AS BIGINT) AS n_words,
         |  CAST(length(regexp_replace(text, '$Ws', '', 'g')) AS BIGINT) AS n_wchars,
         |  CAST(length(text) - length(replace(text, '#', ''))
         |     + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS BIGINT) AS n_symbols,
         |  CAST(len(regexp_extract_all(text, '${NonWs}*\\p{L}${NonWs}*')) AS BIGINT) AS n_alpha_words,
         |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         |  CAST(len(regexp_extract_all(text, '(?m)^[ \\t]*[-*•]')) AS BIGINT) AS n_bullet_lines,
         |  CAST(len(regexp_extract_all(text, '(?m)(\\.\\.\\.|…)[ \\t]*$$')) AS BIGINT) AS n_ellipsis_lines,
         |  CAST($stopKinds AS BIGINT) AS n_stop_kinds
         |FROM documents),
         |r AS (SELECT doc_id, n_words,
         |  pround(n_wchars / n_words, 4) AS mean_word_len,
         |  pround(n_symbols / n_words, 4) AS symbol_ratio,
         |  pround(n_alpha_words / n_words, 4) AS alpha_word_frac,
         |  pround(n_bullet_lines / n_lines, 4) AS bullet_line_frac,
         |  pround(n_ellipsis_lines / n_lines, 4) AS ellipsis_line_frac,
         |  n_stop_kinds
         |FROM m WHERE n_words > 0)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac,
         |  bullet_line_frac, ellipsis_line_frac, n_stop_kinds,
         |  (n_words BETWEEN 50 AND 100000
         |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |   AND symbol_ratio < 0.1 AND bullet_line_frac < 0.9
         |   AND ellipsis_line_frac < 0.3 AND alpha_word_frac >= 0.8
         |   AND n_stop_kinds >= 2) AS gopher_pass
         |FROM r
         |ORDER BY doc_id""".stripMargin
    },
    "txt_pii" -> {
      // patterns embed VERBATIM (the Scala values already hold the
      // single-backslash regex text RE2 expects)
      val counts = PiiPatterns.map { case (n, p) =>
        s"CAST(len(regexp_extract_all(lower(text), '$p')) AS BIGINT) AS n_$n"
      }.mkString(",\n  ")
      val red = PiiPatterns.foldLeft("lower(text)") { case (acc, (_, p)) =>
        s"regexp_replace($acc, '$p', '<PII>', 'g')"
      }
      val names = PiiPatterns.map { case (n, _) => s"n_$n" }
      s"""SELECT doc_id, ${names.mkString(", ")}, pii_md5,
         |  ${names.mkString(" + ")} AS n_pii
         |FROM (SELECT doc_id,
         |  $counts,
         |  md5($red) AS pii_md5
         |FROM documents) t
         |ORDER BY doc_id""".stripMargin
    },
    "txt_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |occ AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
         |        FROM (SELECT doc_id, tk,
         |                unnest(generate_series(1, len(tk) - 1)) AS i
         |              FROM toks)),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM occ GROUP BY w1, w2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM occ GROUP BY w1),
         |terms AS (SELECT o.doc_id,
         |    CAST(floor((ln(b.c12) - ln(u.c1)) * 1000000 + 0.5) AS BIGINT) AS qi
         |  FROM occ o
         |  JOIN c12 b ON b.w1 = o.w1 AND b.w2 = o.w2
         |  JOIN c1 u ON u.w1 = o.w1)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  pround(sum(qi) / count(*) / 1000000, 4) AS avg_logp
         |FROM terms GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    "pipe_report" -> {
      val lowTok =
        "list_filter(regexp_split_to_array(lower(text), '[^\\p{L}]+'), t -> t <> '')"
      val stopKinds = GopherStops
        .map(w => s"(CASE WHEN list_contains($lowTok, '$w') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val piiSum = PiiPatterns.map { case (_, p) =>
        s"CAST(len(regexp_extract_all(lower(text), '$p')) AS BIGINT)"
      }.mkString(" + ")
      s"""WITH pb AS (SELECT doc_id, source,
         |    CAST(len($tokSql) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter($tokSql, t -> lower(t) IN $StopSql)) AS BIGINT) AS stop_hits,
         |    $piiSum AS n_pii
         |  FROM documents),
         |gm AS (SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${NonWs}+')) AS BIGINT) AS n_words,
         |  CAST(length(regexp_replace(text, '$Ws', '', 'g')) AS BIGINT) AS n_wchars,
         |  CAST(length(text) - length(replace(text, '#', ''))
         |     + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS BIGINT) AS n_symbols,
         |  CAST(len(regexp_extract_all(text, '${NonWs}*\\p{L}${NonWs}*')) AS BIGINT) AS n_alpha_words,
         |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         |  CAST(len(regexp_extract_all(text, '(?m)^[ \\t]*[-*•]')) AS BIGINT) AS n_bullet_lines,
         |  CAST(len(regexp_extract_all(text, '(?m)(\\.\\.\\.|…)[ \\t]*$$')) AS BIGINT) AS n_ellipsis_lines,
         |  CAST($stopKinds AS BIGINT) AS n_stop_kinds
         |FROM documents),
         |gpp AS (SELECT doc_id,
         |  (n_words BETWEEN 50 AND 100000
         |   AND pround(n_wchars / n_words, 4) >= 3.0
         |   AND pround(n_wchars / n_words, 4) <= 10.0
         |   AND pround(n_symbols / n_words, 4) < 0.1
         |   AND pround(n_bullet_lines / n_lines, 4) < 0.9
         |   AND pround(n_ellipsis_lines / n_lines, 4) < 0.3
         |   AND pround(n_alpha_words / n_words, 4) >= 0.8
         |   AND n_stop_kinds >= 2) AS gopher_pass
         |  FROM gm WHERE n_words > 0),
         |lt AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |lo AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
         |       FROM (SELECT doc_id, tk,
         |               unnest(generate_series(1, len(tk) - 1)) AS i
         |             FROM lt)),
         |lc12 AS (SELECT w1, w2, count(*) AS c12 FROM lo GROUP BY w1, w2),
         |lc1 AS (SELECT w1, count(*) AS c1 FROM lo GROUP BY w1),
         |lterms AS (SELECT o.doc_id,
         |    CAST(floor((ln(b.c12) - ln(u.c1)) * 1000000 + 0.5) AS BIGINT) AS qi
         |  FROM lo o
         |  JOIN lc12 b ON b.w1 = o.w1 AND b.w2 = o.w2
         |  JOIN lc1 u ON u.w1 = o.w1),
         |lsc AS (SELECT doc_id,
         |    CAST(floor(pround(sum(qi) / count(*) / 1000000, 4) * 10000 + 0.5) AS BIGINT) AS lmq
         |  FROM lterms GROUP BY doc_id)
         |SELECT b.source, count(*) AS n_docs,
         |  CAST(sum(b.n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(b.stop_hits) AS BIGINT) * 10000 // CAST(sum(b.n_tokens) AS BIGINT) AS stop_x10k,
         |  CAST(sum(CASE WHEN g.gopher_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_pass,
         |  CAST(sum(b.n_pii) AS BIGINT) AS n_pii,
         |  CAST(floor(CAST(sum(l.lmq) AS DOUBLE) / count(l.lmq)) AS BIGINT) AS lm_mean_x10k
         |FROM pb b
         |LEFT JOIN gpp g ON g.doc_id = b.doc_id
         |LEFT JOIN lsc l ON l.doc_id = b.doc_id
         |GROUP BY b.source
         |ORDER BY b.source""".stripMargin
    },
    "txt_ccnet_approx" ->
      s"""WITH toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |occ AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
         |        FROM (SELECT doc_id, tk,
         |                unnest(generate_series(1, len(tk) - 1)) AS i
         |              FROM toks)),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM occ GROUP BY w1, w2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM occ GROUP BY w1),
         |terms AS (SELECT o.doc_id,
         |    CAST(floor((ln(b.c12) - ln(u.c1)) * 1000000 + 0.5) AS BIGINT) AS qi
         |  FROM occ o
         |  JOIN c12 b ON b.w1 = o.w1 AND b.w2 = o.w2
         |  JOIN c1 u ON u.w1 = o.w1),
         |scored AS (SELECT t.doc_id, d.lang,
         |    pround(sum(qi) / count(*) / 1000000, 4) AS avg_logp
         |  FROM terms t JOIN documents d ON d.doc_id = t.doc_id
         |  GROUP BY t.doc_id, d.lang),
         |ag AS (SELECT lang, count(*) AS n_scored,
         |    approx_quantile(avg_logp, CAST(CAST(1 AS DOUBLE)/3 AS FLOAT)) AS at1,
         |    approx_quantile(avg_logp, CAST(CAST(2 AS DOUBLE)/3 AS FLOAT)) AS at2
         |  FROM scored GROUP BY lang),
         |bl AS (SELECT s.lang,
         |    sum(CASE WHEN s.avg_logp <= ag.at1 THEN 1 ELSE 0 END) AS nb1,
         |    sum(CASE WHEN s.avg_logp <= ag.at2 THEN 1 ELSE 0 END) AS nb2
         |  FROM scored s JOIN ag ON ag.lang = s.lang
         |  GROUP BY s.lang)
         |SELECT ag.lang, ag.n_scored,
         |  nb1 / ag.n_scored BETWEEN 0.26 AND 0.40 AS t1_ok,
         |  nb2 / ag.n_scored BETWEEN 0.60 AND 0.74 AS t2_ok
         |FROM ag JOIN bl ON bl.lang = ag.lang
         |ORDER BY ag.lang""".stripMargin,
    "txt_ccnet_buckets" ->
      s"""WITH toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |occ AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
         |        FROM (SELECT doc_id, tk,
         |                unnest(generate_series(1, len(tk) - 1)) AS i
         |              FROM toks)),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM occ GROUP BY w1, w2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM occ GROUP BY w1),
         |terms AS (SELECT o.doc_id,
         |    CAST(floor((ln(b.c12) - ln(u.c1)) * 1000000 + 0.5) AS BIGINT) AS qi
         |  FROM occ o
         |  JOIN c12 b ON b.w1 = o.w1 AND b.w2 = o.w2
         |  JOIN c1 u ON u.w1 = o.w1),
         |scored AS (SELECT t.doc_id, d.lang,
         |    pround(sum(qi) / count(*) / 1000000, 4) AS avg_logp
         |  FROM terms t JOIN documents d ON d.doc_id = t.doc_id
         |  GROUP BY t.doc_id, d.lang),
         |cuts AS (SELECT lang,
         |    pround(quantile_cont(avg_logp, CAST(1 AS DOUBLE)/3), 6) AS t1,
         |    pround(quantile_cont(avg_logp, CAST(2 AS DOUBLE)/3), 6) AS t2
         |  FROM scored GROUP BY lang)
         |SELECT s.doc_id, s.lang, s.avg_logp,
         |  CASE WHEN s.avg_logp >= c.t2 THEN 'head'
         |       WHEN s.avg_logp >= c.t1 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM scored s JOIN cuts c ON c.lang = s.lang
         |ORDER BY s.doc_id""".stripMargin,
    "txt_scrub" -> {
      val stopPat = "\\b(" + stopwords.mkString("|") + ")\\b"
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, 'https?://${NonWs}+')) AS BIGINT) AS n_urls,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9._%+-]+@[a-z0-9.-]+')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(lower(text), '$stopPat')) AS BIGINT) AS n_stopwords,
         |  md5(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower(text),
         |    'https?://${NonWs}+', ' ', 'g'), '[a-z0-9._%+-]+@[a-z0-9.-]+', ' ', 'g'),
         |    '$stopPat', ' ', 'g'), '$Ws+', ' ', 'g'))) AS scrub_md5
         |FROM documents
         |ORDER BY doc_id""".stripMargin
    },
    "txt_token_counts" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(trim(text), '${NonWs}+')) AS n_ws_tokens,
         |  len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+')) AS n_bpe_pieces,
         |  len(list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), t -> t <> '')) AS n_letter_tokens,
         |  ${graft.functions.BpeTokenizer.subwordCountSql("text")} AS n_subword
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
    "txt_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |idx AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
         |        FROM toks WHERE len(tk) >= 3),
         |ng AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
         |       FROM idx),
         |gc AS (SELECT doc_id, g, count(*) AS c FROM ng GROUP BY doc_id, g),
         |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         |          count(*) AS n_distinct, max(c) AS max_rep
         |        FROM gc GROUP BY doc_id)
         |SELECT doc_id, n_grams, n_distinct, max_rep,
         |  pround(1.0 - n_distinct / n_grams, 4) AS dup_ratio,
         |  pround(1.0 - n_distinct / n_grams, 4) >= 0.2 AS flag_repetitive
         |FROM agg
         |ORDER BY doc_id""".stripMargin,
    "txt_chunk" ->
      s"""SELECT doc_id, chunk_idx,
         |  least($ChunkTokens, n - (chunk_idx * $ChunkStride + 1) + 1) AS n_chunk_tokens,
         |  md5(array_to_string(tk[(chunk_idx * $ChunkStride + 1):(chunk_idx * $ChunkStride + $ChunkTokens)], ' ')) AS chunk_md5
         |FROM (SELECT doc_id, tk, n,
         |        unnest(generate_series(0, nchunks - 1)) AS chunk_idx
         |      FROM (SELECT doc_id, tk, len(tk) AS n,
         |              greatest(1, (len(tk) - $ChunkOverlap + ${ChunkStride - 1}) // $ChunkStride) AS nchunks
         |            FROM (SELECT doc_id, $tokSql AS tk FROM documents) t
         |            WHERE len(tk) > 0) x) y
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "txt_chunk_bpe" ->
      s"""SELECT doc_id, chunk_idx,
         |  least($ChunkPieces, n - (chunk_idx * $ChunkPieceStride + 1) + 1) AS n_chunk_pieces,
         |  md5(array_to_string(pc[(chunk_idx * $ChunkPieceStride + 1):(chunk_idx * $ChunkPieceStride + $ChunkPieces)], '')) AS chunk_md5
         |FROM (SELECT doc_id, pc, n,
         |        unnest(generate_series(0, nchunks - 1)) AS chunk_idx
         |      FROM (SELECT doc_id, pc, len(pc) AS n,
         |              greatest(1, (len(pc) - $ChunkPieceOverlap + ${ChunkPieceStride - 1}) // $ChunkPieceStride) AS nchunks
         |            FROM (SELECT doc_id,
         |                    ${graft.functions.BpeTokenizer.subwordPiecesSql("text")} AS pc
         |                  FROM documents) t
         |            WHERE len(pc) > 0) x) y
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "txt_pack_shards" ->
      s"""SELECT doc_id, n_tokens,
         |  CAST((cum - n_tokens) // $ShardBudget AS BIGINT) AS shard_id
         |FROM (SELECT doc_id, n_tokens,
         |        sum(n_tokens) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM (SELECT doc_id,
         |              ${graft.functions.BpeTokenizer.subwordCountSql("text")} AS n_tokens
         |            FROM documents) t) c
         |ORDER BY doc_id""".stripMargin,
    "txt_pack_seqs" ->
      s"""SELECT doc_id, n_tokens,
         |  CAST(start // $SeqLen AS BIGINT) AS start_seq,
         |  CAST(start % $SeqLen AS BIGINT) AS start_off,
         |  CAST(CASE WHEN n_tokens > 0 THEN (cum - 1) // $SeqLen
         |       ELSE start // $SeqLen END AS BIGINT) AS end_seq,
         |  CAST(CASE WHEN n_tokens > 0 THEN (cum - 1) // $SeqLen
         |       - start // $SeqLen + 1 ELSE 0 END AS BIGINT) AS n_seqs
         |FROM (SELECT doc_id, n_tokens, cum, cum - n_tokens AS start
         |      FROM (SELECT doc_id, n_tokens,
         |              sum(n_tokens) OVER (ORDER BY doc_id
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |            FROM (SELECT doc_id,
         |                    ${graft.functions.BpeTokenizer.subwordCountSql("text")} AS n_tokens
         |                  FROM documents) t) c) z
         |ORDER BY doc_id""".stripMargin,
    "txt_tfidf" ->
      """WITH tok AS (SELECT doc_id, word
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word
        |        FROM documents) u
        |  WHERE word <> ''),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word),
        |df AS (SELECT word, count(*) AS df
        |       FROM (SELECT DISTINCT doc_id, word FROM tok) x GROUP BY word),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, rnk, word, tf, df, pround(tfidf, 4) AS tfidf
        |FROM (SELECT tf.doc_id, tf.word, tf.tf, df.df,
        |        tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) AS tfidf,
        |        row_number() OVER (PARTITION BY tf.doc_id
        |          ORDER BY pround(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) DESC,
        |                   tf.word) AS rnk
        |      FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
        |      WHERE tf.doc_id < 20) t
        |WHERE rnk <= 5
        |ORDER BY doc_id, rnk""".stripMargin,
    "wc_top_words" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word
        |      FROM documents) t
        |WHERE word <> ''
        |GROUP BY word
        |ORDER BY cnt DESC, word
        |LIMIT 50""".stripMargin,
    "txt_token_stats" ->
      """SELECT doc_id, count(*) AS n_tokens, count(DISTINCT word) AS n_types,
        |  pround(avg(length(word)), 2) AS avg_len
        |FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word
        |      FROM documents) t
        |WHERE word <> ''
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "txt_quality" -> QualityOracleSql,
    "txt_langid" -> LangIdOracleSql,
    "pipe_drift" ->
      s"""WITH bucketed AS (SELECT source,
         |        least(CAST(floor(len($tokSql) / 10) AS BIGINT), 9) AS b
         |      FROM documents),
         |sb AS (SELECT source, b, count(*) AS n_sb FROM bucketed GROUP BY 1, 2),
         |bysrc AS (SELECT source, CAST(sum(n_sb) AS BIGINT) AS n_s
         |          FROM sb GROUP BY 1),
         |byb AS (SELECT b, CAST(sum(n_sb) AS BIGINT) AS n_b FROM sb GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_b) AS DOUBLE) AS n_tot FROM byb),
         |terms AS (SELECT s.source, bb.b, s.n_s,
         |    CAST(floor(((CASE WHEN COALESCE(x.n_sb, 0) > 0
         |       THEN (CAST(COALESCE(x.n_sb, 0) AS DOUBLE) / CAST(s.n_s AS DOUBLE))
         |            * ln((CAST(COALESCE(x.n_sb, 0) AS DOUBLE) / CAST(s.n_s AS DOUBLE))
         |                 / (((CAST(COALESCE(x.n_sb, 0) AS DOUBLE) / CAST(s.n_s AS DOUBLE))
         |                     + (CAST(bb.n_b AS DOUBLE) / t.n_tot)) / 2))
         |       ELSE 0 END
         |      + (CAST(bb.n_b AS DOUBLE) / t.n_tot)
         |        * ln((CAST(bb.n_b AS DOUBLE) / t.n_tot)
         |             / (((CAST(COALESCE(x.n_sb, 0) AS DOUBLE) / CAST(s.n_s AS DOUBLE))
         |                 + (CAST(bb.n_b AS DOUBLE) / t.n_tot)) / 2))
         |     ) / 2 / ln(2)) * 1000000 + 0.5) AS BIGINT) AS qi,
         |    CAST(floor(((CAST(COALESCE(x.n_sb, 0) AS DOUBLE) / CAST(s.n_s AS DOUBLE))
         |                - (CAST(bb.n_b AS DOUBLE) / t.n_tot)) * 1000000 + 0.5)
         |         AS BIGINT) AS gap_int
         |  FROM bysrc s CROSS JOIN byb bb CROSS JOIN tot t
         |  LEFT JOIN sb x ON x.source = s.source AND x.b = bb.b)
         |SELECT source, max(n_s) AS n_docs,
         |  pround(CAST(sum(qi) AS DOUBLE) / 1000000, 4) AS jsd_bits,
         |  max_by(b, abs(gap_int) * 100 + (99 - b)) AS top_bucket,
         |  pround(CAST(max_by(gap_int, abs(gap_int) * 100 + (99 - b)) AS DOUBLE)
         |         / 1000000, 4) AS top_gap
         |FROM terms GROUP BY source
         |ORDER BY source""".stripMargin,
    "txt_entropy" ->
      """WITH ch AS (SELECT doc_id, entropy(c) AS char_entropy
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
        |        FROM documents) u
        |  GROUP BY doc_id),
        |tok AS (SELECT doc_id, entropy(word) AS word_entropy,
        |          count(*) AS n_tokens
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word
        |        FROM documents) u
        |  WHERE word <> ''
        |  GROUP BY doc_id)
        |SELECT ch.doc_id, pround(ch.char_entropy, 4) AS char_entropy,
        |  pround(tok.word_entropy, 4) AS word_entropy, tok.n_tokens
        |FROM ch JOIN tok ON ch.doc_id = tok.doc_id
        |ORDER BY ch.doc_id""".stripMargin,
    "txt_pmi" ->
      """WITH tks AS (SELECT list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
        |                t -> t <> '') AS tk
        |             FROM documents),
        |occ AS (SELECT tk[i] AS w1, tk[i + 1] AS w2
        |        FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
        |              FROM tks WHERE len(tk) >= 2)),
        |big AS (SELECT w1, w2, count(*) AS c_xy FROM occ
        |        GROUP BY w1, w2 HAVING count(*) >= 3),
        |uni AS (SELECT w, count(*) AS c
        |        FROM (SELECT unnest(tk) AS w FROM tks) u GROUP BY w),
        |n AS (SELECT CAST(sum(c) AS DOUBLE) AS n_tok FROM uni)
        |SELECT w1, w2, c_xy, c_x, c_y, pround(pmi, 4) AS pmi
        |FROM (SELECT big.w1, big.w2, big.c_xy, x.c AS c_x, y.c AS c_y,
        |        ln(big.c_xy * n.n_tok / (x.c * y.c)) AS pmi
        |      FROM big
        |      JOIN uni x ON x.w = big.w1
        |      JOIN uni y ON y.w = big.w2
        |      CROSS JOIN n) t
        |ORDER BY pround(pmi, 6) DESC, w1, w2
        |LIMIT 20""".stripMargin,
    "wc_heavy_hitters" ->
      """WITH w AS (SELECT word
        |  FROM (SELECT unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word
        |        FROM documents) u
        |  WHERE word <> ''),
        |n AS (SELECT count(*) AS n FROM w),
        |g AS (SELECT word, count(*) AS cnt FROM w GROUP BY word)
        |SELECT word, cnt
        |FROM g, n
        |WHERE cnt * 64 > n.n
        |ORDER BY cnt DESC, word""".stripMargin,
    "pipe_clean" ->
      s"""WITH lid AS ($LangIdOracleSql),
         |qual AS ($QualityOracleSql),
         |norm AS (SELECT doc_id,
         |           md5(trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g'))) AS norm_md5
         |         FROM documents),
         |filtered AS (
         |  SELECT q.doc_id, q.n_tokens, q.stop_ratio, n.norm_md5
         |  FROM qual q
         |  JOIN lid l ON q.doc_id = l.doc_id
         |  JOIN norm n ON q.doc_id = n.doc_id
         |  WHERE q.n_tokens >= 20 AND l.lang_guess = 'en'),
         |keep AS (SELECT min(doc_id) AS doc_id FROM filtered GROUP BY norm_md5)
         |SELECT f.doc_id, f.n_tokens, pround(f.stop_ratio, 4) AS stop_ratio,
         |  CASE WHEN ${graft.functions.CrossEngine.portableHashSql(
                  "'split:' || CAST(f.doc_id AS VARCHAR)")} % 1000 < 980 THEN 'train'
         |       WHEN ${graft.functions.CrossEngine.portableHashSql(
                  "'split:' || CAST(f.doc_id AS VARCHAR)")} % 1000 < 990 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM filtered f JOIN keep k ON f.doc_id = k.doc_id
         |ORDER BY f.doc_id""".stripMargin,
    "txt_fingerprint" ->
      s"""SELECT doc_id,
        |  md5(array_to_string($tokSql, ' ')) AS fp_md5,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform($tokSql,
        |        t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT))),
        |    (acc, h) -> (acc * 31 + h) % 1000000007) AS fp_roll
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
  )
}
