package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.TextAnalytics
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query is deterministic: explicit total-order ORDER BY and
  * floating aggregates rounded, so the DuckDB-oracle hash compare is
  * stable across engines.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The composed MODERN cleanse (round 8) chains the Gopher
    * quality gate, PII counting, normalized dedup, DSIR selection and
    * split assignment in one lazy plan (non-empty at every gate SF —
    * 251 rows at sf0.01; PipeModernSpec pins sf0.001 non-emptiness).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("pipe_modern")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Relational.queries ++
    operators.TextPipeline.queries ++
    operators.Dedup.queries ++
    operators.BloomDedup.queries ++
    operators.Decontam.queries ++
    operators.Similarity.queries ++
    operators.Multimodal.queries ++
    operators.Sampling.queries ++
    operators.Gossip.queries ++
    operators.Graph.queries ++
    operators.Classifier.queries ++
    operators.Expectations.queries ++
    operators.MapReduceSql.queries

  /** DIFFERENTIAL-BASELINE queries: registered (and oracle-gated)
    * because they are the brute/audit twins the scale-safe forms are
    * proven against — NOT the plan a 100 TB pipeline runs. Each entry
    * names its production counterpart; everything not listed here is
    * production-tier, meaning its plan completes the 100× ladder
    * sweep inside the per-query budget or carries an explicit
    * output/compute lower-bound note in [[scaleNotes]]. The bench
    * reports the two tiers separately so a cross-round perf read
    * never mistakes a documented-quadratic baseline for a production
    * regression.
    */
  val baselineQueries: Map[String, String] = Map(
    "dedup_minhash_recall" -> "dedup_minhash_recall_sample", // full banding audit: exact side is the uncapped gram self-join, quadratic on clone-degenerate corpora
    "dedup_ngram_jaccard"  -> "dedup_ngram_prefix_capped",   // brute inverted-index Jaccard; the df-capped prefix join equals it where the cap does not bind, and a subset with exact Jaccards where it does
    "dedup_semantic"       -> "dedup_semantic_capped",       // uncapped SemDeDup baseline; capped form bounds per-bucket fan-out
    "sim_near_dup"         -> "sim_near_dup_lsh",            // brute all-pairs cosine twin; LSH bucket join is the scale path
    "q27_range_join"       -> "q27_range_join_bucketed",     // interval join keyed per user: candidates quadratic in per-user activity
    "dedup_source_overlap" -> "dedup_source_overlap_capped", // attributes the FULL candidate pair stream (output-bound on clone rungs); capped twin bounds per-bucket fan-out, rank-preserving
    "dedup_ngram_prefix"   -> "dedup_ngram_prefix_capped",   // provably-exact prefix-filtered form: pruning rides the df~1 tail, which boilerplate-flat corpora destroy; df-capped twin bounds candidate fan-out linearly (r15, ordered by the r14 verdict)
  )

  /** Queries backed by a ONE-TIME persisted artifact (dedup-graph
    * index, IVF-PQ index, frozen classifier model) memoized per
    * (JVM, corpus dir): their FIRST call pays build + serve, every
    * later call only serve. The bench times the two separately
    * (`queries_build` = first-call − steady mean) so cross-round
    * comparisons never conflate a one-time build with steady cost.
    */
  val buildBackedQueries: Set[String] = Set(
    "dedup_keep_best_idx", "dedup_components_inc",
    "ann_ivf_pq_idx", "ann_ivf_pq_res_idx", "smp_classifier_docs_idx",
    "smp_split_leakfree_idx",
    "graph_pagerank") // r13: memoized persisted (columnar-cached) edge list

  /** Scale tier per registered query: "production" | "baseline". */
  def scaleClass: Map[String, String] =
    queries.keysIterator
      .map(k => k -> (if (baselineQueries.contains(k)) "baseline"
                      else "production"))
      .toMap

  /** Production-tier queries whose 100× ladder cost is LOWER-BOUNDED
    * by their output or per-row compute — linear/output-proportional
    * plans that legitimately scale super-linearly on the
    * clone-replicated rung (SCALE.md documents each), kept distinct
    * from plans that would be FIXED by a better shape.
    */
  val scaleNotes: Map[String, String] = Map(
    "dedup_minhash_pairs"  -> "output-bound: the true near-dup pair set grows ~quadratically in the clone factor",
    "dedup_simhash_pairs"  -> "output-bound (same clone-pair growth) + Manku pigeonhole background term C(N,2)/2^16",
    "dedup_audio"          -> "compute-bound map-side codec + blocked-Hamming background term; sampled-guard knob halves steady decode cost",
    "dedup_image"          -> "compute-bound map-side PNG decode (x2 with the in-plan cross-decoder guard; knob: SPARK_GRAFT_CODEC_GUARD_MOD)",
    "mm_decode"            -> "compute-bound map-side codec work, nothing amortizes (knob: SPARK_GRAFT_CODEC_GUARD_MOD)",
    "mm_resize"            -> "compute-bound map-side codec + resample work (knob: SPARK_GRAFT_CODEC_GUARD_MOD)",
    "dedup_minhash_recall_sample" -> "audit with corpus-adaptive probe rate: exact-side fan-out bounded at ~constant probe mass",
    "pipe_drop_reasons"    -> "output-bound: per-document drop attribution emits one row per corpus document, so full evaluation is corpus-proportional by contract (count-mode measures the plan shape)",
    "dedup_substr"         -> "compute-bound: full evaluation pays one linear map-side pass of positional-gram hashing over every document; count-mode prunes the per-gram expressions by design (same contract for the _stats/_strip twins)",
    "dedup_substr_stats"   -> "compute-bound: see dedup_substr — the gram-hash pass is the full-evaluation floor",
    "dedup_substr_strip"   -> "compute-bound: see dedup_substr — the gram-hash pass plus the strip rewrite is the full-evaluation floor",
    "txt_pack_seqs"        -> "output-bound: sequence packing emits one row per packed sequence (corpus-proportional); count-mode measures the prefix-sum plan shape",
    "smp_decontam_sem"     -> "scale-adaptive since r13: the registered entry branches IN-PLAN on eval-set cardinality — brute broadcast screen below 1024 evals (every gate SF, oracle-exact), IVF-pruned screen beyond (the 100x rung's growing synthetic eval slice); the IVF branch inherits smp_decontam_sem_ivf's documented lower-bound contract",
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    (operators.Relational.oracles ++
     operators.TextPipeline.oracles ++
     operators.Dedup.oracles ++
     operators.BloomDedup.oracles ++
     operators.Decontam.oracles ++
     operators.Similarity.oracles ++
     operators.Multimodal.oracles ++
     operators.Sampling.oracles ++
     operators.Gossip.oracles ++
     operators.Graph.oracles ++
     operators.Classifier.oracles ++
     operators.Expectations.oracles ++
     operators.MapReduceSql.oracles)
      .map { case (k, v) =>
        k -> graft.functions.CrossEngine.expandProundSql(v)
      }
}
