package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.CrossEngine.{portableHash, pround, tokens}

/** Similarity search over the `embeddings` table (array<float>, 64-d).
  *
  * Two paths, mirroring a production ANN pipeline:
  *  - brute force: exact cosine top-k for a bounded probe set — the
  *    correctness baseline. Probes are broadcast; candidates stream —
  *    never a quadratic shuffle.
  *  - LSH: sign-random-projection buckets (4 deterministic ±1
  *    hyperplanes derived from md5, identical literals in the DuckDB
  *    oracle); search touches only the probe's bucket — this is the
  *    100 TB path (bucket count scales with corpus size).
  *
  * Every probe-bounded search (brute, LSH, IVF, IVF-PQ) is one
  * filter-and-refine skeleton, each stage written once: the probe set
  * ([[probesOf]]) → its nearest coarse lists ([[probeLists]]) → an
  * ADC shortlist inside them ([[adcSearch]]) → the exact-cosine
  * rerank ([[rerank]]). A search skips the stages it has no index
  * for; the oracle SQL builds each stage from one string as well.
  *
  * Cosine is the codegen'd dot product over precomputed norms (no
  * UDF); ranking uses pround(cos, 6) with vec_id tie-break so the
  * ordering is engine-stable.
  */
object Similarity {

  private val NumPlanes = 4
  private val MaxPlanes = 16
  private val Dims = 64
  private val ProbeCount = 10
  private val TopK = 5
  private val LshTopK = 3

  /** Deterministic ±1 hyperplane entries: parity of md5("hp_<p>_<d>").
    * Planes 0..3 are the fixed index of the probe-bounded ann_*
    * queries; the full-corpus near-dup scan draws from the same
    * family up to [[MaxPlanes]], adaptively ([[embedNearDupLsh]]).
    */
  private[operators] val planeSigns: Seq[Seq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until MaxPlanes).map { p =>
      (0 until Dims).map { dd =>
        val h = md.digest(s"hp_${p}_$dd".getBytes("UTF-8"))
        if ((h(0) & 1) == 1) 1 else -1
      }
    }
  }

  private def signArray(p: Int): Column =
    array(planeSigns(p).map(v => lit(v.toDouble)): _*)

  /** Codegen'd dot product (graft.functions.DotProduct) — the
    * interpreted zip_with/aggregate fold was the profile hotspot.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot_product(a, b)

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Vectors with their norm precomputed once — cosine inside a join
    * must not re-derive both norms per candidate pair (3x the flops,
    * measured 3-4 s at sf0.1 for the brute-force probes).
    */
  private def vectors(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(graft.functions.DotProduct.dot_product(col("v"), col("v"))))

  // --- The shared ANN stages (the skeleton in the object scaladoc);
  // callers pass only what differs: list count, carried columns, ADC
  // key, output columns.

  /** The probe set (vec_id < [[ProbeCount]]) as (query_id, qv, qnrm),
    * then `carry`.
    */
  private def probesOf(e: DataFrame, carry: Column*): DataFrame =
    e.filter(col("vec_id") < ProbeCount)
      .select(Seq(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm")) ++ carry: _*)

  /** Sign-projection bucket of `v` over the fixed [[NumPlanes]] planes. */
  private def signBucket: Column =
    (0 until NumPlanes).map(p =>
      when(dot(col("v"), signArray(p)) >= 0, 1 << p).otherwise(0))
      .reduce(_ + _)

  /** Each probe's `n` nearest coarse lists by (pround(pcos, 6) desc,
    * cid), projected to `out`; probes and centroids (cid, cv, cnrm)
    * are both broadcast.
    */
  private def probeLists(probes: DataFrame, cents: DataFrame, n: Int,
                         out: String*): DataFrame = {
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(pround(col("pcos"), 6).desc, col("cid"))
    broadcast(probes).crossJoin(broadcast(cents))
      .withColumn("pcos", dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")))
      .withColumn("prnk", row_number().over(wp))
      .filter(col("prnk") <= n)
      .select(out.map(col): _*)
  }

  /** Each query's top `k` rows by (pround(score, 6) desc, neighbor_id),
    * projected to `cols` and ordered by (query_id, rank).
    */
  private def topPerQuery(cand: DataFrame, score: String, k: Int,
                          cols: Column*): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(pround(col(score), 6).desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(cols: _*)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Exact-cosine rerank: [[topPerQuery]] on `cos` over candidate rows
    * carrying (query_id, qv, qnrm, neighbor_id, v, nrm).
    */
  private def rerank(cand: DataFrame, k: Int, cols: Column*): DataFrame =
    topPerQuery(cand.withColumn("cos",
      dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))), "cos", k, cols: _*)

  private def cosSim: Column = pround(col("cos"), 4).as("cos_sim")

  /** Exact cosine top-k for probe vectors (vec_id < 10). */
  def annBrute(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
    val c = e.select(col("vec_id").as("neighbor_id"), col("label"), col("v"), col("nrm"))
    rerank(broadcast(probesOf(e)).join(c, col("neighbor_id") =!= col("query_id")),
      TopK, col("query_id"), col("rank"), col("neighbor_id"), cosSim, col("label"))
  }

  /** Per-vector LSH bucket id (the index build of the ANN pipeline). */
  def lshBuckets(s: SparkSession, d: String): DataFrame =
    vectors(s, d)
      .withColumn("bucket", signBucket)
      .select(col("vec_id"), col("label"), col("bucket"))
      .orderBy(col("vec_id"))

  /** ANN via bucket-restricted search: probe joins only its bucket. */
  def annLsh(s: SparkSession, d: String): DataFrame = {
    val b = vectors(s, d).withColumn("bucket", signBucket)
    val c = b.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"), col("bucket"))
    rerank(broadcast(probesOf(b, col("bucket"))).join(c, Seq("bucket"))
        .filter(col("neighbor_id") =!= col("query_id")),
      LshTopK, col("query_id"), col("bucket"), col("rank"), col("neighbor_id"), cosSim)
  }

  /** Multi-probe ANN — the recall lever of the sign-LSH path at a
    * fixed index: each probe searches its own bucket PLUS the
    * NumPlanes Hamming-1 neighbor buckets (one sign flipped), the
    * buckets a true neighbor most likely fell into when a single
    * hyperplane disagreed. The plan shape is IDENTICAL to [[annLsh]]
    * — broadcast probe side (now (1+NumPlanes)× rows, still tiny)
    * equi-joined on `bucket` — so cost grows only with the probed
    * fraction of the corpus ((1+NumPlanes)/2^NumPlanes), never a
    * nested-loop scan. Candidates can't duplicate: a vector lives in
    * exactly one bucket and a probe's expanded keys are distinct.
    * Recall is structurally ≥ [[annLsh]]'s (its candidate set is a
    * superset — mask 0 is the home bucket); AnnRecallSpec pins the
    * measured floors.
    */
  def annLshMultiProbe(s: SparkSession, d: String): DataFrame = {
    val b = vectors(s, d).withColumn("bucket", signBucket)
    val masks = array((lit(0) +: (0 until NumPlanes).map(p => lit(1 << p))): _*)
    val q = probesOf(b, col("bucket").as("home"))
      .withColumn("m", explode(masks))
      .select(col("query_id"), col("qv"), col("qnrm"),
              expr("home ^ m").as("bucket"))
    val c = b.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"),
                     col("bucket"))
    rerank(broadcast(q).join(c, Seq("bucket"))
        .filter(col("neighbor_id") =!= col("query_id")),
      LshTopK, col("query_id"), col("rank"), col("neighbor_id"), cosSim)
  }

  /** Per-probe recall@[[LshTopK]] of an approximate ANN surface
    * against the brute truth — the `dedup_minhash_recall` discipline
    * applied to the vector index: the measurement a pipeline runs
    * BEFORE trusting bucket/list parameters at scale, registered as
    * a first-class oracle-gated query rather than buried in a spec.
    * Truth = [[annBrute]]'s exact top-k restricted to the same k;
    * hits resolve by a (query, neighbor) left join, so the report is
    * integer-exact (n_true, n_hit, recall·1000 truncated) in both
    * engines. Cost rides the two registered surfaces it audits —
    * probe-bounded, so the truth side stays a broadcast nested loop
    * over the corpus and the audit adds only a tiny join.
    */
  private def recallVsBrute(s: SparkSession, d: String,
                            approx: DataFrame): DataFrame = {
    val truth = annBrute(s, d).filter(col("rank") <= LshTopK)
      .select(col("query_id"), col("neighbor_id"))
    val got = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("hit", lit(1L))
    truth.join(got, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_true"),
           sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_true"), col("n_hit"),
        expr("n_hit * 1000 div n_true").as("recall_x1000"))
      .orderBy(col("query_id"))
  }

  /** recall@3 of the IVF probe search ([[annIvf]]) vs brute. */
  def annIvfRecall(s: SparkSession, d: String): DataFrame =
    recallVsBrute(s, d, annIvf(s, d))

  /** recall@3 of the sign-LSH bucket search ([[annLsh]]) vs brute. */
  def annLshRecall(s: SparkSession, d: String): DataFrame =
    recallVsBrute(s, d, annLsh(s, d))

  /** Embedding near-dup scan: nearest neighbor for a deterministic
    * probe slice, flagged when cosine exceeds the dup threshold.
    */
  def embedNearDup(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
    val q = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
    nearestMate(broadcast(q).join(c, col("neighbor_id") =!= col("query_id")),
      "embedNearDup")
  }

  /** Each query's nearest candidate by (pround(cos, 6) desc,
    * neighbor_id), flagged at the dup threshold — the shared tail of
    * the near-dup scans. `cand` carries (query_id, qv, qnrm,
    * neighbor_id, v, nrm).
    */
  private def nearestMate(cand: DataFrame, tag: String): DataFrame =
    Argmin(cand.select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cos")),
      Seq("query_id"), "cos", "neighbor_id", tag, desc = true, carry = Seq("cos"))
      .select(col("query_id"), col("neighbor_id"),
              pround(col("cos"), 4).as("cos_sim"),
              (pround(col("cos"), 4) >= 0.95).as("is_dup"))
      .orderBy(col("query_id"))

  /** Near-dup scan over the FULL corpus via LSH buckets — the scale
    * path for embedding near-dup detection. [[embedNearDup]]'s probe
    * slice (every 20th vector) grows with the corpus, so its
    * broadcast side is unbounded at 100x; here every vector finds its
    * nearest mate WITHIN ITS SIGN-PROJECTION BUCKET via a bucket
    * equi-join (one shared exchange for both aliases) — work scales
    * with bucket occupancy. Vectors alone in their bucket have no
    * candidate mate and are absent (the approximation LSH trades for
    * boundedness — the brute variant remains the spec/oracle
    * baseline).
    *
    * The plane count ADAPTS to the corpus: a fixed bucket count
    * makes per-bucket occupancy — and the join — quadratic in N
    * (measured: 214× runtime for 50× vectors at 4 fixed planes,
    * SCALE.md). nplanes = clamp(4, 16, bit_length(N div 32)) targets
    * ~32 vectors per bucket at any N, keeping the join ~linear; the
    * count is an integer formula (`length(bin(...))`), bit-identical
    * in the oracle, folded in as a broadcast scalar so the plan
    * stays lazy. Unused planes' dot products short-circuit in
    * codegen.
    */
  def embedNearDupLsh(s: SparkSession, d: String): DataFrame = {
    val nAgg = vectors(s, d).agg(count(lit(1)).as("nvecs"))
      .select(least(lit(MaxPlanes),
        greatest(lit(NumPlanes),
          length(bin(greatest(lit(1L), expr("nvecs div 32")))))).as("np"))
    val b = vectors(s, d)
      .crossJoin(broadcast(nAgg))
      .withColumn("bucket",
        (0 until MaxPlanes).map(p =>
          when(lit(p) < col("np") && dot(col("v"), signArray(p)) >= 0, 1 << p)
            .otherwise(0))
          .reduce(_ + _))
      .drop("np")
      .repartition(col("bucket"))
    val a = b.select(col("vec_id").as("query_id"), col("v").as("qv"),
                     col("nrm").as("qnrm"), col("bucket"))
    val c = b.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"),
                     col("bucket"))
    nearestMate(a.join(c, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id")), "embedNearDupLsh")
  }

  /** Symmetric int8 quantization + search — the embedding-compression
    * path of a 100 TB pipeline (4x smaller vectors, SIMD-friendly
    * integer dot products; here the arithmetic story is what's
    * modeled). Each vector gets a per-vector scale 127/max|x|;
    * quantized code q_i = floor(x_i * scale + 0.5) (portable
    * rounding). The quantized cosine reconstructs from integer dot
    * products — exact in double for any summation order (|q|<=127, so
    * a 64-dim product sum < 2^21), which makes the value
    * cross-engine-deterministic where a float dot product would not
    * be. Output: top-3 per probe by quantized cosine, with the exact
    * cosine alongside and a <=0.05 quantization-error bound flag.
    */
  def quantizedSearch(s: SparkSession, d: String): DataFrame = {
    // all-zero vectors make scale = 127/0 = Inf and NaN cosines whose
    // ordering is engine-dependent — excluded on both sides
    val e = vectors(s, d)
      .filter(array_max(transform(col("v"), abs(_))) > 0)
      .withColumn("scale", lit(127.0) / array_max(transform(col("v"), abs(_))))
      // floor() yields LongType — cast back so the codegen'd dot
      // product (array<double>-only) applies; values stay integral
      .withColumn("q",
        transform(col("v"), x => floor(x * col("scale") + 0.5).cast("double")))
      .withColumn("qnorm", sqrt(dot(col("q"), col("q"))) / col("scale"))
    val probes = e.filter(col("vec_id") < ProbeCount)
      .select(col("vec_id").as("query_id"), col("q").as("pq"),
              col("scale").as("pscale"), col("qnorm").as("pqnorm"),
              col("v").as("pv"), col("nrm").as("pnrm"))
    val cands = e.select(col("vec_id").as("neighbor_id"), col("q"), col("scale"),
                         col("qnorm"), col("v"), col("nrm"))
    topPerQuery(broadcast(probes).join(cands, col("neighbor_id") =!= col("query_id"))
        .withColumn("qcos",
          dot(col("pq"), col("q")) / (col("pscale") * col("scale"))
            / (col("pqnorm") * col("qnorm")))
        .withColumn("cos", dot(col("pv"), col("v")) / (col("pnrm") * col("nrm"))),
      "qcos", LshTopK, col("query_id"), col("rank"), col("neighbor_id"),
      pround(col("qcos"), 4).as("qcos_sim"), cosSim,
      (abs(col("qcos") - col("cos")) <= 0.05).as("err_ok"))
  }

  private val ProjDims = 8

  /** Random-projection dimensionality reduction (Johnson-
    * Lindenstrauss): 64d → 8d via a deterministic ±1 matrix (md5
    * parity, same literals in the oracle), scaled by 1/√d. One
    * codegen'd map-side pass — the standard cheap pre-step before
    * clustering/ANN at scale (4-8x less vector I/O downstream).
    * Output dims are scalar columns (p0..p7), probe slice bounds the
    * dump.
    */
  def projectEmbeddings(s: SparkSession, d: String): DataFrame = {
    val projSigns: Seq[Seq[Int]] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until ProjDims).map { p =>
        (0 until Dims).map { dd =>
          val h = md.digest(s"rp_${p}_$dd".getBytes("UTF-8"))
          if ((h(0) & 1) == 1) 1 else -1
        }
      }
    }
    val scale = 1.0 / math.sqrt(Dims.toDouble)
    val cols = (0 until ProjDims).map { p =>
      val row = array(projSigns(p).map(v => lit(v.toDouble)): _*)
      pround(dot(col("v"), row) * scale, 4).as(s"p$p")
    }
    Tables.embeddings(s, d)
      .filter(col("vec_id") < 50)
      .select(col("vec_id") +: asDouble(col("embedding")).as("v") +: Nil: _*)
      .select(col("vec_id") +: cols: _*)
      .orderBy(col("vec_id"))
  }

  private[operators] def projSignsSql: Seq[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until ProjDims).map { p =>
      (0 until Dims).map { dd =>
        val h = md.digest(s"rp_${p}_$dd".getBytes("UTF-8"))
        if ((h(0) & 1) == 1) "1.0" else "-1.0"
      }.mkString("[", ", ", "]")
    }
  }

  private val CentroidEvery = 50
  private val NProbe = 2

  /** Coarse-centroid sampling stride, derived IN-PLAN from the corpus
    * count (broadcast scalar, no driver job): stride =
    * max(50, 2^(bitlen(N)/2)) ≈ √N, so list COUNT and list SIZE both
    * grow as √N and the assignment pass costs N^1.5 — the textbook
    * IVF sizing the Scaladoc always promised. The fixed stride it
    * replaces made list count linear in N, degrading assignment to
    * N²/50: measured as the dominant term of the 50× ladder point
    * (100k vectors → 2,000 lists → 200M ranked dot products).
    * Identical to the fixed stride at every oracle-gated SF.
    */
  private def ivfStride(e: DataFrame): DataFrame =
    e.agg(count(lit(1)).as("nvecs"))
      .select(expr(s"greatest(${CentroidEvery}L, " +
        "shiftleft(1L, cast(length(bin(nvecs)) / 2 as int)))").as("stride"))

  /** Every stride-th vector — the deterministic coarse-centroid
    * sample shared by all IVF variants. Same columns as `e`.
    */
  private def sampledVecs(e: DataFrame): DataFrame =
    e.crossJoin(broadcast(ivfStride(e)))
      .filter(col("vec_id") % col("stride") === 0)
      .drop("stride")

  /** The sampled coarse centroids as (cid, cv, cnrm). */
  private def centroidsOf(e: DataFrame): DataFrame =
    sampledVecs(e)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))

  /** IVF index build: deterministic coarse centroids (every 50th
    * vector — the sampling stand-in for k-means), each vector assigned
    * to its nearest centroid. Centroids broadcast; one codegen'd pass
    * over the corpus. Build cost N x C with C ~ sqrt(N) at scale.
    */
  def ivfLists(s: SparkSession, d: String): DataFrame =
    ivfAssignment(s, d)
      .select(col("vec_id"), col("cid"),
              pround(col("ccos"), 4).as("centroid_cos"))
      .orderBy(col("vec_id"))

  /** Clustering-quality audit: per-IVF-cluster label purity against
    * the embeddings table's ground-truth `label` — the standard
    * external evaluation a clustering step ships with (purity =
    * majority-label fraction). The majority label is an [[Argmin]]
    * (highest count, smallest label; a null label fails the query).
    * Cost on top of the
    * shared assignment: one (cid,label) aggregate whose output is
    * clusters × labels.
    */
  def clusterPurity(s: SparkSession, d: String): DataFrame =
    clusterPurityOf(vectors(s, d),
      Tables.embeddings(s, d).select(col("vec_id"), col("label")))

  /** [[clusterPurity]] over explicit (vec_id, v, nrm) vectors and a
    * (vec_id, label) frame (spec entry). Labels join back onto the
    * NARROW assignment — they never ride the ranked stream.
    */
  private[graft] def clusterPurityOf(e: DataFrame, lbl: DataFrame): DataFrame = {
    // labels join onto the assignment first, so only labels that enter
    // the argmax are policed; a stray row for an absent vector drops
    val counts = ivfAssignmentOf(e)
      .join(lbl, Seq("vec_id"))
      .groupBy(col("cid"), col("label"))
      .agg(count(lit(1)).as("n"))
    Argmin(counts, Seq("cid"), "n", "label", "clusterPurity", desc = true,
        carry = Seq("n"), extra = Seq(sum(col("n")).as("n_vecs")))
      .select(col("cid"), col("n_vecs"),
        col("label").cast("int").as("majority_label"),
        col("n").as("n_majority"),
        floor(col("n").cast("double")
          / col("n_vecs") * lit(1000d) + lit(0.5)).cast("long").as("purity_x1000"))
      .orderBy(col("cid"))
  }

  /** Nearest coarse centroid per vector: (vec_id, cid, ccos) — NARROW
    * on purpose. The ranked stream is |corpus|×|cents| rows; keeping
    * the 64-d array in those rows made the per-candidate payload ~20×
    * wider and was the dominant term of the 50× ladder point (ann_ivf
    * 99 s → 13 s after narrowing). Callers that need the vector back
    * ([[ivfSearch]]) re-join `e` on vec_id — one corpus-proportional
    * hash join, far cheaper than moving arrays per candidate.
    */
  private def ivfAssignment(s: SparkSession, d: String): DataFrame =
    ivfAssignmentOf(vectors(s, d))

  private def ivfAssignmentOf(e: DataFrame): DataFrame =
    assignAgainst(e, centroidsOf(e))

  /** IVF search: probe the nprobe nearest centroid lists only. */
  def annIvf(s: SparkSession, d: String): DataFrame =
    ivfSearch(s, d, centroidsOf(vectors(s, d)), ivfAssignment(s, d))

  /** IVF search against trained (Lloyd) centroids — same plan shape
    * as [[annIvf]] (spec-asserted), only the centroid table differs.
    * Training is unrolled declaratively (checkpoint = false), so the
    * registered query stays one lazy plan with a DuckDB-mirrorable
    * oracle.
    */
  def annIvfTrained(s: SparkSession, d: String): DataFrame = {
    val cents = trainIvfCentroids(s, d, iters = TrainIters, checkpoint = false)
      .withColumn("cnrm", sqrt(dot(col("cv"), col("cv"))))
    ivfSearch(s, d, cents, assignAgainst(vectors(s, d), cents))
  }

  /** Nearest-centroid assignment of an arbitrary vector frame against
    * an EXPLICIT centroid table (cid, cv, cnrm) — narrow ranking,
    * like [[ivfAssignment]]; callers re-join vectors as needed.
    * Stateless per vector, so incremental batches compose exactly
    * (IvfStateSpec pins slice == full-assignment restriction). An
    * [[Argmin]] carrying the winner's unrounded ccos: it sorts
    * none of the |corpus|×|cents| candidate rows and the exchange
    * moves one row per vector. A zero-norm vector or centroid gives a
    * NULL ccos (try_divide, so the guard names it instead of a bare
    * DIVIDE_BY_ZERO).
    */
  private def assignAgainst(e: DataFrame, cents: DataFrame): DataFrame =
    Argmin(e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"),
          try_divide(dot(col("v"), col("cv")), col("nrm") * col("cnrm")).as("ccos")),
      Seq("vec_id"), "ccos", "cid", "assignAgainst", desc = true, carry = Seq("ccos"))

  // --- Persistent index state ---------------------------------------
  // The BloomDedup-state design applied to the ANN family: the INDEX
  // (trained centroids, PQ codebooks — a few KB) is the only state
  // carried between runs; the corpus never is. Train once on a
  // sample, persist, then every later ingest batch assigns/encodes
  // against the frozen index — assignment is stateless per vector,
  // so incremental batches compose exactly with a one-shot build.

  /** Persist trained coarse centroids (cid, cv) as parquet. */
  def saveCentroids(cents: DataFrame, path: String): Unit =
    cents.select(col("cid"), col("cv")).write.mode("overwrite").parquet(path)

  /** Load persisted centroids with the schema pinned (no inference). */
  def loadCentroids(s: SparkSession, path: String): DataFrame =
    s.read.schema("cid BIGINT, cv ARRAY<DOUBLE>").parquet(path)

  /** IVF search against a persisted centroid table — identical plan
    * shape to [[annIvfTrained]], only the centroid source differs.
    */
  def annIvfWithCentroids(s: SparkSession, d: String,
                          cents: DataFrame): DataFrame = {
    val c = cents.withColumn("cnrm", sqrt(dot(col("cv"), col("cv"))))
    ivfSearch(s, d, c, assignAgainst(vectors(s, d), c))
  }

  /** Assignment of an explicit vector frame (vec_id, v, nrm) against
    * persisted centroids — the incremental-ingest encode step.
    */
  def assignWithCentroids(e: DataFrame, cents: DataFrame): DataFrame =
    assignAgainst(e,
      cents.withColumn("cnrm", sqrt(dot(col("cv"), col("cv")))))

  /** Persist per-subspace PQ codebooks (m, kid, kv) as parquet. */
  def savePqCodebooks(cb: DataFrame, path: String): Unit =
    cb.select(col("m"), col("kid"), col("kv")).write.mode("overwrite").parquet(path)

  def loadPqCodebooks(s: SparkSession, path: String): DataFrame =
    s.read.schema("m INT, kid BIGINT, kv ARRAY<DOUBLE>").parquet(path)

  /** PQ-encode an explicit unit-normalized vector frame (vec_id, v)
    * against persisted codebooks: (vec_id, m, kid) — 4 bytes per
    * vector, the incremental encode of a frozen PQ index.
    */
  def pqEncodeWith(en: DataFrame, cb: DataFrame): DataFrame =
    assignCodesNarrow(subVectors(en), cb)

  /** Persist the PQ-encoded corpus (vec_id, m, kid) as parquet. */
  def savePqCodes(codes: DataFrame, path: String): Unit =
    codes.select(col("vec_id"), col("m"), col("kid"))
      .write.mode("overwrite").parquet(path)

  def loadPqCodes(s: SparkSession, path: String): DataFrame =
    s.read.schema("vec_id BIGINT, m INT, kid BIGINT").parquet(path)

  /** Persist the coarse assignment (vec_id, cid) as parquet. */
  def saveCoarseAssignment(a: DataFrame, path: String): Unit =
    a.select(col("vec_id"), col("cid")).write.mode("overwrite").parquet(path)

  def loadCoarseAssignment(s: SparkSession, path: String): DataFrame =
    s.read.schema("vec_id BIGINT, cid BIGINT").parquet(path)

  /** One-shot IVF-PQ index build: coarse centroids, PQ codebooks,
    * the PQ-encoded corpus, and the coarse assignment — everything
    * search needs except the raw vectors (touched again only for the
    * shortlist re-rank) — persisted under `path` as four parquet
    * tables. Codes are encoded against the codebooks AS LOADED, so
    * search provably runs against the frozen bytes, not a live
    * training subtree. A deliberate, bounded persistence action (the
    * [[corpusSketch]]-style contract): at 100 TB the index is the
    * √N·d centroids + M·K codewords + 4 bytes/vector — the thing a
    * production ANN service ships to serving, rebuilt on ingest
    * epochs, not per query.
    */
  def buildIvfPqIndex(s: SparkSession, d: String, path: String): Unit =
    buildIvfPqIndexOf(vectors(s, d), path)

  /** [[buildIvfPqIndex]] over an EXPLICIT (vec_id, v, nrm) vector
    * frame — the entry the streaming index maintainer
    * ([[graft.streaming.StreamingAnnIndex]]) initializes and retrains
    * through (its corpus is a stream; there is no table dir to name).
    */
  def buildIvfPqIndexOf(e: DataFrame, path: String): Unit = {
    val s = e.sparkSession
    val en = e.select(col("vec_id"),
      transform(col("v"), x => x / col("nrm")).as("v"))
    saveCentroids(sampledVecs(e)
      .select(col("vec_id").as("cid"), col("v").as("cv")), s"$path/centroids")
    savePqCodebooks(trainPqCodebooks(en), s"$path/codebooks")
    val frozen = loadPqCodebooks(s, s"$path/codebooks")
    savePqCodes(pqEncodeWith(en, frozen), s"$path/codes")
    saveCoarseAssignment(ivfAssignmentOf(e)
      .select(col("vec_id"), col("cid")), s"$path/coarse")
  }

  /** (vec_id, v, nrm) from an explicit raw (vec_id, embedding) frame —
    * [[vectors]] without the table read (streaming batches).
    */
  private[graft] def vectorsOf(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Search-only IVF-PQ against a persisted index: identical output
    * to [[annIvfPq]] (the build is deterministic), but the plan scans
    * four small index tables instead of carrying the training
    * subtree — the cost profile of a serving query.
    */
  def annIvfPqSearch(s: SparkSession, d: String, idxPath: String): DataFrame =
    ivfPqSearchFrom(vectors(s, d),
      loadPqCodebooks(s, s"$idxPath/codebooks"),
      loadPqCodes(s, s"$idxPath/codes"),
      loadCoarseAssignment(s, s"$idxPath/coarse"),
      loadCentroids(s, s"$idxPath/centroids")
        .withColumn("cnrm", sqrt(dot(col("cv"), col("cv")))))

  // Registered-query memo: one index build per corpus dir per JVM.
  // The FIRST builder call trains and persists (PlanContractSpec's
  // sanctioned one-time-first-build work, like file listing); every
  // steady-state build returns the lazy search plan over the frozen
  // parquet — zero driver jobs, and Bench's timed runs (after its
  // untimed warm-up) measure pure search.
  private val builtIdx =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def idxRootFor(d: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_$h"
  }

  /** Driver-gate query: IVF-PQ search against the persisted index of
    * this corpus (built+frozen on first touch). Result — and oracle —
    * identical to `ann_ivf_pq`; only where the index COMES FROM
    * differs, which is exactly what the gate pins: a saved index
    * reproduces the in-plan one bit-for-bit.
    */
  def annIvfPqIdx(s: SparkSession, d: String): DataFrame = {
    val path = builtIdx.computeIfAbsent(d, dir => {
      val p = idxRootFor(dir)
      buildIvfPqIndex(s, dir, p)
      p
    })
    annIvfPqSearch(s, d, path)
  }

  /** One-shot RESIDUAL IVF-PQ index build ([[buildIvfPqIndex]]'s
    * contract for the IVFADC form): residuals are computed against
    * the centroids and coarse assignment AS SAVED, then the residual
    * codebooks train and the corpus residual-encodes against the
    * frozen codebook bytes.
    */
  def buildIvfPqResIndex(s: SparkSession, d: String, path: String): Unit = {
    val e = vectors(s, d)
    val en = e.select(col("vec_id"),
      transform(col("v"), x => x / col("nrm")).as("v"))
    saveCentroids(sampledVecs(e)
      .select(col("vec_id").as("cid"), col("v").as("cv")), s"$path/centroids")
    saveCoarseAssignment(ivfAssignmentOf(e)
      .select(col("vec_id"), col("cid")), s"$path/coarse")
    val centsN = loadCentroids(s, s"$path/centroids")
      .select(col("cid"), transform(col("cv"),
        x => x / sqrt(dot(col("cv"), col("cv")))).as("cvn"))
    val resid = en.join(loadCoarseAssignment(s, s"$path/coarse"), "vec_id")
      .join(broadcast(centsN), "cid")
      .select(col("vec_id"),
        zip_with(col("v"), col("cvn"), (a, b) => a - b).as("v"))
    savePqCodebooks(trainPqCodebooks(resid, countOn = Some(en)),
      s"$path/codebooks")
    savePqCodes(pqEncodeWith(resid,
      loadPqCodebooks(s, s"$path/codebooks")), s"$path/codes")
  }

  /** Search-only residual IVF-PQ against a persisted index —
    * identical output to [[annIvfPqRes]].
    */
  def annIvfPqResSearch(s: SparkSession, d: String, idxPath: String): DataFrame =
    ivfPqResSearchFrom(vectors(s, d),
      loadPqCodebooks(s, s"$idxPath/codebooks"),
      loadPqCodes(s, s"$idxPath/codes"),
      loadCoarseAssignment(s, s"$idxPath/coarse"),
      loadCentroids(s, s"$idxPath/centroids")
        .withColumn("cnrm", sqrt(dot(col("cv"), col("cv")))))

  /** Driver-gate query: the [[annIvfPqIdx]] contract for the
    * residual form — the suite's most expensive query
    * (`ann_ivf_pq_res`) gets its serving twin.
    */
  def annIvfPqResIdx(s: SparkSession, d: String): DataFrame = {
    val path = builtIdx.computeIfAbsent(s"res:$d", _ => {
      val p = idxRootFor(d) + "_res"
      buildIvfPqResIndex(s, d, p)
      p
    })
    annIvfPqResSearch(s, d, path)
  }

  // --- IVF-PQ -------------------------------------------------------
  // Product quantization (Jégou et al., TPAMI 2011): 64-d vectors
  // split into 4 subspaces of 16 dims; each subspace gets its own
  // small codebook (k-means over slices — the SAME integerized
  // VectorMean machinery as annIvfTrained, so means are order- and
  // engine-exact). A vector is stored as 4 one-byte codeword ids —
  // 4 bytes instead of 256, the memory design that makes 100 TB ANN
  // fit: the compression pays for probing MORE coarse lists (nprobe
  // 4 vs annIvf's 2) at the same memory budget, which is where the
  // recall win comes from. Search is asymmetric distance (ADC): per
  // probe, a 4×|codebook| distance table over the probe's EXACT
  // subvectors; candidate distance = integer sum of 4 table entries
  // (floor(pround(d2,6)·2²⁰+0.5) BIGINTs — order-free, cross-engine
  // identical), then an exact-cosine re-rank of the top shortlist.
  // PQ codes and ADC tables live in UNIT-NORMALIZED space: the search
  // metric is cosine, and for unit vectors ||q−x||² = 2·(1−cos(q,x)) —
  // Euclidean ADC ranking is then exactly cosine ranking. Quantizing
  // the raw vectors instead lets norm variance swamp the angular
  // signal (measured: recall@3 collapsed to 0.13 vs 0.57 IVF).
  private val PqM = 4
  private val PqSubDims = Dims / PqM
  private val PqCodewordEvery = 16   // stride floor (≈ N/16 codewords at tiny N)
  private val PqCodebookTarget = 256 // codewords/subspace the stride converges to
  private val PqTrainTarget = 2048   // vectors the training sample converges to
  private val PqIters = 2
  private val PqNProbe = 4
  private val PqShortlist = 50

  /** Codeword sampling stride, derived IN-PLAN from the corpus count
    * (a broadcast scalar, no driver job — the [[embedNearDupLsh]]
    * adaptive-planes pattern): stride = max(16, 2^bitlen(N/256)),
    * so the per-subspace codebook converges to 128-256 codewords at
    * any corpus size. A fixed stride would grow the codebook — and
    * the N×K encode cost — linearly with the corpus; a fixed-SIZE
    * codebook is the actual PQ design (8-bit codes at web scale).
    */
  private def pqStride(e: DataFrame): DataFrame =
    e.agg(count(lit(1)).as("nvecs"))
      .select(expr(s"greatest(${PqCodewordEvery}L, " +
        s"shiftleft(1L, length(bin(nvecs div $PqCodebookTarget))))").as("stride"))

  /** Training-sample stride: 2^floor(log2(N / [[PqTrainTarget]])),
    * 1 while the corpus is within the target — so codebook TRAINING
    * cost is O(sample × codebook), independent of corpus size, which
    * is the actual web-scale PQ protocol (codebooks train on a fixed
    * ~100k sample; only the one-pass ENCODE touches all N). Power of
    * two, so the [[pqStride]] init centroids (stride ≥ 16× larger,
    * also a power of two) are always inside the sample and round-0
    * codebooks are unchanged. Identity (stride 1) at every
    * oracle-gated SF — sampling changes nothing below 2× the target.
    */
  private def pqTrainStride(e: DataFrame): DataFrame =
    e.agg(count(lit(1)).as("nvecs"))
      .select(expr(
        s"shiftleft(1L, length(bin(nvecs div $PqTrainTarget)) - 1)").as("tstride"))

  /** (vec_id, m, sv): the m-th 16-dim slice of every vector. ONE
    * projection + explode, not a union of PqM selects — a union
    * evaluates its input subtree once per branch, which priced the
    * residual variant at 4× its (join + assignment) construction
    * cost per consumer (measured: residual codes 4.6 s → the
    * explode form re-evaluates the input once).
    */
  private[graft] def subVectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(array((0 until PqM).map { m =>
          struct(lit(m).as("m"),
                 slice(col("v"), m * PqSubDims + 1, PqSubDims).as("sv"))
        }: _*)).as("p"))
      .select(col("vec_id"), col("p.m").as("m"), col("p.sv").as("sv"))

  /** Squared Euclidean distance between slice `sv` and the codeword kv. */
  private def sliceD2(sv: String): Column =
    dot(col(sv), col(sv)) - lit(2.0) * dot(col(sv), col("kv")) +
      dot(col("kv"), col("kv"))

  /** Nearest codeword per (vector, subspace), NARROW: (vec_id, m,
    * kid) — the [[Argmin]] of squared Euclidean distance with kid
    * tiebreak, for ARBITRARY input vectors. It serves both TRAINING
    * ([[assignCodes]], over the [[pqTrainStride]]-bounded sample,
    * whose vectors may be unnormalized: PqTrainSampleSpec trains
    * with per-slice d2 in the thousands) and the corpus-scale encode.
    */
  private[graft] def assignCodesNarrow(sub: DataFrame, cb: DataFrame): DataFrame =
    Argmin(codeD2(sub, cb), Seq("vec_id", "m"), "d2", "kid", "assignCodesNarrow")

  /** (vec_id, m, kid, d2): every slice against its subspace's codewords. */
  private def codeD2(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"), col("kid"), sliceD2("sv").as("d2"))

  /** [[assignCodesNarrow]] with the slice payload re-attached — the
    * TRAINING form (the Lloyd round's mean needs sv back). The
    * re-attach is a BROADCAST join of the narrow assignment, sound
    * because training only ever assigns the [[pqTrainStride]]-bounded
    * sample (≤ ~4096 vectors × PqM rows at any corpus size — the
    * bound is the contract that makes codebook training
    * corpus-size-independent); corpus-scale encodes go through
    * [[assignCodesNarrow]] directly and never pay this join.
    */
  private def assignCodes(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(assignCodesNarrow(sub, cb)), Seq("vec_id", "m"))
      .select(col("vec_id"), col("m"), col("kid"), col("sv"))

  /** Per-subspace PQ codebooks: init = sampled vectors' slices
    * (vec_id % [[PqCodewordEvery]]), then [[PqIters]] Lloyd rounds —
    * all subspaces train in ONE plan (grouped by (m, kid)), unrolled
    * lazily so the DuckDB oracle mirrors every round. Rounds scan
    * only the [[pqTrainStride]] sample (identity below 2× the
    * [[PqTrainTarget]]), so training cost stops growing with the
    * corpus; the full-corpus pass is the single encode.
    */
  /** `checkpoint = true` (the programmatic/scale entry, mirroring
    * [[trainIvfCentroids]]) cuts lineage per round with
    * `localCheckpoint()`; the registered `ann_ivf_pq` query passes
    * `false` so its unrolled plan stays one lazy, oracle-mirrorable
    * tree.
    */
  /** `countOn`: an optional cheaper frame with the SAME row count as
    * `e` to derive the stride scalars from — [[annIvfPqResOf]] passes
    * the map-side normalized vectors so the two in-plan counts don't
    * each re-evaluate the residual join+assignment subtree (one row
    * per vector either way, so the strides are identical; measured
    * ~2 of the residual query's assignment re-evaluations saved).
    */
  private[graft] def trainPqCodebooks(e: DataFrame,
                                          checkpoint: Boolean = false,
                                          countOn: Option[DataFrame] = None): DataFrame = {
    val cnt = countOn.getOrElse(e)
    // training reads only the bounded sample; callers encode all of
    // `e` against the returned codebooks in one separate pass.
    // LAZY LINEAGE CUT (r14): the sample is SEALED — the Lloyd
    // rounds below reference it from both sides of the
    // [[assignCodes]] re-attach and every unrolled round inlines the
    // prior round's tree, so the static plan carries ~6 copies of
    // the sample DERIVATION, and for the residual caller that
    // derivation embeds a FULL-CORPUS coarse-assignment argmin (the
    // stride filter references the crossJoined scalar, so it can
    // never push below the join — each copy re-ran the whole
    // argmin; QueryProbe at the 100× rung attributed 3×
    // 200–500 core-s scan stages to exactly this). The sample is
    // the SMALL frame by the [[pqTrainStride]] contract (≤ ~2·target
    // vectors × PqM slices at ANY corpus size).
    val sub = graft.plans.LazySeal.seal(subVectors(
      e.crossJoin(broadcast(pqTrainStride(cnt)))
        .filter(col("vec_id") % col("tstride") === 0)
        .drop("tstride")))
    var cb = sub.crossJoin(broadcast(pqStride(cnt)))
      .filter(col("vec_id") % col("stride") === 0)
      .select(col("m"), col("vec_id").as("kid"), col("sv").as("kv"))
    for (_ <- 0 until PqIters) {
      val next = assignCodes(sub, cb)
        .groupBy(col("m"), col("kid"))
        .agg(graft.functions.VectorMean.vector_mean(col("sv"), MeanScale).as("kv"))
      cb = if (checkpoint) next.localCheckpoint() else next
    }
    // LAZY LINEAGE CUT (r14): the trained codebook is consumed from
    // two branches downstream (the corpus encode and the per-probe
    // ADC distance table), each statically inlining the whole
    // unrolled training tree. LazySeal (zero jobs at plan build —
    // the PlanContractSpec contract; computed once at first action,
    // blocks freed on GC, nothing survives the invocation) halves
    // the static tree and executes training exactly once per run
    // regardless of consumer count. The codebook is PqM·K rows —
    // the small frame by construction.
    if (checkpoint) cb else graft.plans.LazySeal.seal(cb)
  }

  /** IVF-PQ search: coarse IVF lists pruned to [[PqNProbe]], PQ-code
    * ADC ranking inside them, exact-cosine re-rank of the top
    * [[PqShortlist]]. Output shape matches [[annIvf]] (plus the
    * approximate distance), so recall is directly comparable.
    *
    * Scale shape: the only corpus-sized tables are the coarse
    * assignment and the codes (4 small ints per vector); both stream
    * through broadcast joins against probe-sized tables (probe lists,
    * distance tables) — nothing corpus-sized is ever shuffled wider
    * than its groupBy key, and raw vectors are touched again only for
    * the |probes|·[[PqShortlist]] re-rank rows.
    */
  def annIvfPq(s: SparkSession, d: String): DataFrame =
    annIvfPqOf(vectors(s, d))

  /** [[annIvfPq]] over an explicit vector frame (vec_id, v, nrm) —
    * the spec entry for corpora with planted cluster structure.
    */
  private[graft] def annIvfPqOf(e: DataFrame): DataFrame = {
    val en = e.select(col("vec_id"),
      transform(col("v"), x => x / col("nrm")).as("v"))
    val cb = trainPqCodebooks(en)
    val codes = assignCodesNarrow(subVectors(en), cb)
    val coarse = ivfAssignmentOf(e).select(col("vec_id"), col("cid"))
    ivfPqSearchFrom(e, cb, codes, coarse, centroidsOf(e))
  }

  /** The SEARCH stage of IVF-PQ, parametrized by the four index
    * frames — in-plan subtrees ([[annIvfPqOf]]) or persisted parquet
    * ([[annIvfPqSearch]]) interchangeably, since the build is
    * deterministic and doubles round-trip parquet bit-exactly.
    *
    * @param e      corpus vectors (vec_id, v, nrm) — probes and the
    *               re-rank shortlist read it; the bulk ranking never
    *               touches raw vectors
    * @param cb     PQ codebooks (m, kid, kv)
    * @param codes  PQ-encoded corpus (vec_id, m, kid)
    * @param coarse coarse assignment (vec_id, cid)
    * @param cents  coarse centroids (cid, cv, cnrm)
    */
  private[graft] def ivfPqSearchFrom(e: DataFrame, cb: DataFrame,
      codes: DataFrame, coarse: DataFrame, cents: DataFrame): DataFrame = {
    val probes = probesOf(e)
    // per-probe ADC slices: exact NORMALIZED probe slice (same space
    // as the codes)
    val slices = subVectors(
        probes.select(col("query_id").as("vec_id"),
          transform(col("qv"), x => x / col("qnrm")).as("v")))
      .select(col("vec_id").as("query_id"), col("m"), col("sv").as("qsv"))
    adcSearch(e, probes, probeLists(probes, cents, PqNProbe, "query_id", "cid"),
      slices, cb, codes, coarse, "query_id", "m", "kid")
  }

  /** ADC search inside the probed lists, then the exact-cosine rerank
    * of each probe's shortlist — the shared tail of both IVF-PQ forms.
    * The distance table is `slices` (its `keys` but kid, plus qsv)
    * against the codebooks `cb`, integerized per entry; a candidate's
    * distance is the integer sum over its codes, and each probe keeps
    * its [[PqShortlist]] smallest by (ad2, neighbor_id). `keys` is
    * (query_id, m, kid); the residual form's table is per list, so
    * its key adds cid.
    */
  private def adcSearch(e: DataFrame, probes: DataFrame, lists: DataFrame,
      slices: DataFrame, cb: DataFrame, codes: DataFrame, coarse: DataFrame,
      keys: String*): DataFrame = {
    val dtab = slices.join(broadcast(cb), Seq("m"))
      .withColumn("d2", sliceD2("qsv"))
      .select(keys.map(col) :+
        floor(pround(col("d2"), 6) * lit(MeanScale) + lit(0.5)).as("pd2i"): _*)
    // candidates = codes of vectors in probed lists; ADC = integer sum
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("ad2"), col("neighbor_id"))
    val shortlist = codes
      .join(coarse, "vec_id")
      .join(broadcast(lists), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(dtab), keys)
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("pd2i")).as("ad2"))
      .withColumn("srnk", row_number().over(ws))
      .filter(col("srnk") <= PqShortlist)
      .select(col("query_id"), col("neighbor_id"), col("ad2"))
    rerank(shortlist
        .join(e.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm")),
          "neighbor_id")
        .join(broadcast(probes), "query_id"),
      LshTopK, col("query_id"), col("rank"), col("neighbor_id"), cosSim,
      pround(col("ad2") / lit(MeanScale), 4).as("approx_d2"))
  }

  /** IVF-PQ over RESIDUALS (IVFADC proper, Jégou et al. 2011 §III):
    * vectors are PQ-coded as (v_unit − c_unit) for their assigned
    * coarse centroid, not as raw positions. Residuals concentrate
    * near 0 with far smaller variance than positions WHEN the coarse
    * quantizer explains the data, so the same 4-byte code budget
    * quantizes finer — the published recall lever on top of
    * [[annIvfPq]] at identical memory. The caveat is the flip side of
    * the same identity: mean ‖residual‖² = 2·(1 − mean best-centroid
    * cos), so on a corpus the coarse lists DON'T explain, residuals
    * are LARGER than positions and coding them costs recall. Both
    * regimes are measured in AnnRecallSpec: the near-isotropic
    * driver corpus (best-centroid cos ≈ 0.5 ⇒ residual variance
    * 1.99× position; recall 0.33 vs 0.60) and a planted clustered
    * corpus (the case IVFADC is built for) where residual coding
    * must not lose. Production guidance: pick position-PQ vs
    * residual-PQ from the measured mean centroid cosine of the
    * corpus — the number the coarse-assignment pass already yields
    * for free. ADC becomes per-LIST: for each probed list the
    * query's residual against THAT centroid is tabled, and since
    * ‖q−x‖² = ‖(q−c) − (x−c)‖², ranking residual distances per list
    * is exactly ranking unit-space distances — no approximation is
    * added by the residual transform itself.
    *
    * Scale shape: identical to [[annIvfPq]] except the ADC table
    * grows by the nprobe factor (probes × nprobe × M × K rows —
    * still KBs, still broadcast) and the residual construction is
    * one map-side zip_with against broadcast centroids. Codebooks
    * still train on the bounded [[pqTrainStride]] sample.
    */
  def annIvfPqRes(s: SparkSession, d: String): DataFrame =
    annIvfPqResOf(vectors(s, d))

  /** [[annIvfPqRes]] over an explicit vector frame (spec entry). */
  private[graft] def annIvfPqResOf(e: DataFrame): DataFrame = {
    val en = e.select(col("vec_id"),
      transform(col("v"), x => x / col("nrm")).as("v"))
    // LAZY LINEAGE CUT (r14): the coarse assignment feeds THREE
    // statically distinct consumers here — the residual derivation
    // under training, the corpus residual encode, and the search's
    // shortlist join — and each inlined copy re-ran the full-corpus
    // centroid argmin (no two copies canonicalize equal, so exchange
    // reuse never serves them; QueryProbe attributed the 100×
    // regression's dominant scan stages to these re-runs). Sealed,
    // the argmin runs once per invocation. The frame is (vec_id,
    // cid) — two ints per corpus vector, the narrowest
    // corpus-proportional frame in the plan; a true 100 TB serve
    // uses the PERSISTED-index twin (ann_ivf_pq_res_idx), where the
    // assignment is parquet, exactly like this seal but durable.
    val coarse = graft.plans.LazySeal.seal(
      ivfAssignmentOf(e).select(col("vec_id"), col("cid")))
    val cents = centroidsOf(e)
    val centsN = cents.select(col("cid"),
      transform(col("cv"), x => x / col("cnrm")).as("cvn"))

    // residuals in unit space: one map-side pass, centroids broadcast
    val resid = en.join(coarse, "vec_id").join(broadcast(centsN), "cid")
      .select(col("vec_id"),
        zip_with(col("v"), col("cvn"), (a, b) => a - b).as("v"))
    val cb = trainPqCodebooks(resid, countOn = Some(en))
    val codes = assignCodesNarrow(subVectors(resid), cb)
    ivfPqResSearchFrom(e, cb, codes, coarse, cents)
  }

  /** The SEARCH stage of residual IVF-PQ — [[ivfPqSearchFrom]]'s
    * contract for the IVFADC form: index frames in-plan
    * ([[annIvfPqResOf]]) or persisted ([[annIvfPqResSearch]])
    * interchangeably. `cb`/`codes` here are RESIDUAL codebooks/codes;
    * the ADC table is per-(probe, list).
    */
  private def ivfPqResSearchFrom(e: DataFrame, cb: DataFrame,
      codes: DataFrame, coarse: DataFrame, cents: DataFrame): DataFrame = {
    val centsN = cents.select(col("cid"),
      transform(col("cv"), x => x / col("cnrm")).as("cvn"))
    val probes = probesOf(e)
    val lists = probeLists(probes, cents, PqNProbe, "query_id", "cid")

    // per-(probe, list) residual ADC slices: the query's residual
    // against THAT list's centroid, sliced per subspace
    val rq = broadcast(lists).join(broadcast(centsN), "cid")
      .join(broadcast(probes), "query_id")
      .select(col("query_id"), col("cid"),
        zip_with(transform(col("qv"), x => x / col("qnrm")), col("cvn"),
          (a, b) => a - b).as("rv"))
    val slices = (0 until PqM).map { m =>
        rq.select(col("query_id"), col("cid"), lit(m).as("m"),
          slice(col("rv"), m * PqSubDims + 1, PqSubDims).as("qsv"))
      }.reduce(_ unionByName _)
    adcSearch(e, probes, lists, slices, cb, codes, coarse,
      "query_id", "cid", "m", "kid")
  }

  private def ivfSearch(s: SparkSession, d: String,
                        cents: DataFrame, assign: DataFrame): DataFrame = {
    val e = vectors(s, d)
    val lists = probeLists(probesOf(e), cents, NProbe, "query_id", "qv", "qnrm", "cid")
    // assign arrives narrow (vec_id, cid, ccos); vectors re-join here
    val assignFull = assign.select(col("vec_id"), col("cid"))
      .join(e.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
    rerank(lists.join(assignFull.select(col("vec_id").as("neighbor_id"),
                                        col("v"), col("nrm"), col("cid")), Seq("cid"))
        .filter(col("neighbor_id") =!= col("query_id")),
      LshTopK, col("query_id"), col("rank"), col("neighbor_id"), cosSim)
  }

  private val TrainIters = 3
  // Mean scaling: coordinates are summed as floor(x·2^20 + 0.5)
  // BIGINTs — exact in any order (|sum| far below 2^53), so the
  // per-iteration centroid means are bit-identical across engines and
  // partitionings, where a double avg() would drift by summation
  // order and cascade into different assignments next iteration.
  private val MeanScale = 1048576.0

  /** Lloyd's k-means for IVF centroids, DataFrame-native: assignment
    * is the [[Argmin]] over broadcast centroids (ranked on
    * pround(d2, 6) with cid tiebreak — engine-stable), the update
    * step recomputes element-wise means via posexplode → (cid, dim) exact integerized mean →
    * array rebuild. Deterministic: init = the sampled centroids,
    * fixed iteration count, squared-Euclidean objective (monotone
    * under Lloyd — asserted in AnnRecallSpec).
    *
    * `checkpoint = true` (the programmatic/scale default) cuts
    * lineage with a `localCheckpoint()` per iteration — without it
    * the nested plan grows linearly with iteration count and
    * replanning cost explodes past ~10 iters. The registered
    * `ann_ivf_trained` query passes `checkpoint = false`: 3 unrolled
    * iterations stay a single lazy declarative plan whose DuckDB
    * oracle mirrors every iteration exactly.
    */
  def trainIvfCentroids(s: SparkSession, d: String, iters: Int = TrainIters,
                        checkpoint: Boolean = true): DataFrame = {
    // clustered on vec_id once (one exchange, reused by every round),
    // so each round's argmin aggregates and joins back shuffle-free
    val e = vectors(s, d).select(col("vec_id"), col("v")).repartition(col("vec_id"))
    var cents = sampledVecs(e)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    for (i <- 0 until iters) {
      // sealed (a few KB), each round's centroids are a leaf of the
      // next round instead of its whole unrolled tree: every trained
      // round plans and runs once
      val assigned = assignToCentroids(e,
        if (checkpoint || i == 0) cents else graft.plans.LazySeal.seal(cents))
      // one groupBy(cid) with the integerized vector-mean aggregate —
      // the posexplode + (cid, dim) agg + collect_list/sort/transform
      // re-assembly this replaces multiplied the aggregation input by
      // the dimension count every iteration. Identical values: the
      // per-element floor(x·scale+0.5) terms are integers, so sums
      // are order-exact and the mean matches the relational form and
      // the oracle bit-for-bit (VectorMeanSpec pins it).
      val next = assigned
        .groupBy(col("cid"))
        .agg(graft.functions.VectorMean
          .vector_mean(col("v"), MeanScale).as("cv"))
      cents = if (checkpoint) next.localCheckpoint() else next
    }
    cents
  }

  /** Nearest centroid per vector by squared Euclidean distance,
    * expanded as |v|² − 2·v·c + |c|² so the hot per-pair work is ONE
    * codegen'd dot product (the direct zip_with/aggregate fold is
    * interpreted — boxing per element — and measured ~6x slower on
    * the training crossJoin). The norms are computed once per row
    * per side, not per pair. Ranking on pround(d2, 6) + cid absorbs
    * the ≤1-ulp difference vs the fold form.
    */
  private def assignToCentroids(e: DataFrame, cents: DataFrame): DataFrame = {
    val ev = e.withColumn("vv", dot(col("v"), col("v")))
    val cc = cents.withColumn("cc", dot(col("cv"), col("cv")))
    // rank narrow (no v in the candidate stream — see [[ivfAssignment]]),
    // then re-join the vectors the mean update needs
    val top = Argmin(ev.crossJoin(broadcast(cc))
        .select(col("vec_id"), col("cid"),
          (col("vv") - lit(2.0) * dot(col("v"), col("cv")) + col("cc")).as("d2")),
      Seq("vec_id"), "d2", "cid", "assignToCentroids", carry = Seq("d2"))
    top.join(e.select(col("vec_id"), col("v")), Seq("vec_id"))
      .select(col("vec_id"), col("v"), col("cid"), col("d2"))
  }

  /** Sum of squared distances to assigned centroids (k-means loss). */
  def ivfInertia(s: SparkSession, d: String, cents: DataFrame): Double = {
    val e = vectors(s, d).select(col("vec_id"), col("v"))
    assignToCentroids(e, cents).agg(sum(col("d2"))).head().getDouble(0)
  }

  // --- Semantic dedup ----------------------------------------------
  /** Cosine threshold above which two same-cluster embeddings count
    * as semantic duplicates. SemDeDup's 1−ε is a per-corpus knob
    * (the paper tunes ε against downstream loss); real duplicated
    * corpora sit at 0.95+, but the synthetic test embeddings are
    * near-isotropic (max pairwise cosine ≈ 0.52 — the AnnRecallSpec
    * observation), so the registered gate runs at the relaxed 0.40
    * where the corpus has a non-trivial duplicate tail (17/22/132
    * dropped docs at sf0.001/0.01/0.1) and the whole
    * cluster→pairwise→greedy-reduce path is exercised for real.
    */
  private[graft] val SemDupThreshold = 0.40

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): embedding-SPACE dedup — catches paraphrases
    * and re-encodings that share no n-grams, the duplicate family
    * every lexical pass (exact/minhash/simhash/Jaccard) is blind to.
    *
    * Plan: each vector is assigned to its nearest coarse centroid
    * (the shared [[ivfAssignment]] — broadcast argmin, narrow
    * ranking); pairwise exact cosine runs WITHIN clusters only, via
    * a cid equi-join — never all-pairs. Pairs at or above
    * [[SemDupThreshold]] reduce greedily to a drop list exactly like
    * the lexical `dedup_drop_list`: for every droppable doc, the
    * minimum same-cluster mate is the kept representative (the
    * deterministic stand-in for the paper's keep-one-per-group rule).
    *
    * At 100 TB: cluster count grows as √N (the [[ivfStride]]
    * formula), so expected occupancy is √N and the within-cluster
    * pairwise term is Σ occ² ≈ N^1.5 — the same order as the
    * family's assignment pass, and the reason SemDeDup clusters
    * FIRST instead of comparing the corpus quadratically. Both sides
    * of the pair join share one exchange on cid (identical subtree);
    * only (cid, id, v) rows shuffle.
    */
  def semanticDedup(s: SparkSession, d: String): DataFrame =
    semanticPairsToDropList(
      ivfAssignment(s, d)
        .join(vectors(s, d), Seq("vec_id"))
        .select(col("cid"), col("vec_id"), col("v"), col("nrm")))

  /** Per-cluster pairwise ceiling for [[semanticDedupCapped]]: at most
    * C(cap, 2) comparisons per cluster regardless of occupancy.
    */
  private[graft] val SemCap = 512

  /** Occupancy-capped [[semanticDedup]] — the safety valve for
    * DEGENERATE clusters. Clone-heavy corpora collapse the coarse
    * clustering: identical vectors share a nearest centroid, so a
    * corpus with a large clone family piles it into one cluster and
    * the within-cluster pairwise goes clone²-quadratic (measured:
    * the 50× mechanically-replicated ladder corpus — 50 identical
    * copies of everything — degenerates to ~8 clusters of ~12.5k
    * members = 625 M cosine pairs, 80-160 s; the cap bounds it at
    * C(512, 2)·k). Only each cluster's [[SemCap]] members NEAREST
    * THE CENTROID pair up (rank by (ccos desc, vec_id) — the
    * deterministic [[dedup_simhash_capped]] recipe); overflow
    * members keep their cluster but skip pairing, trading recall on
    * clusters that exceed the cap for a hard fan-out bound. Output
    * is identical to the uncapped pass whenever every cluster fits
    * (all oracle-gated SFs).
    */
  def semanticDedupCapped(s: SparkSession, d: String): DataFrame =
    semanticDedupCappedOf(
      ivfAssignment(s, d).join(vectors(s, d), Seq("vec_id")), SemCap)

  private[graft] def semanticDedupCappedOf(assigned: DataFrame,
                                           cap: Int): DataFrame = {
    val wc = Window.partitionBy(col("cid"))
      .orderBy(pround(col("ccos"), 6).desc, col("vec_id"))
    semanticPairsToDropList(
      assigned
        .withColumn("crk", row_number().over(wc))
        .filter(col("crk") <= cap)
        .select(col("cid"), col("vec_id"), col("v"), col("nrm")))
  }

  /** Shared tail of the semantic-dedup family: within-cluster
    * pairwise cosine at [[SemDupThreshold]], greedily reduced to the
    * drop-list shape. `m` must carry (cid, vec_id, v, nrm).
    */
  private def semanticPairsToDropList(m: DataFrame): DataFrame = {
    val a = m.select(col("cid"), col("vec_id").as("doc_a"),
                     col("v").as("av"), col("nrm").as("anrm"))
    val b = m.select(col("cid"), col("vec_id").as("doc_b"),
                     col("v").as("bv"), col("nrm").as("bnrm"))
    a.join(b, Seq("cid"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("cos",
        pround(dot(col("av"), col("bv")) / (col("anrm") * col("bnrm")), 4))
      .filter(col("cos") >= SemDupThreshold)
      .groupBy(col("doc_b").as("drop_id"))
      .agg(min(col("doc_a")).as("kept_id"), max(col("cos")).as("max_cos"))
      .orderBy(col("drop_id"))
  }

  /** Eval-holdout modulus for [[semanticDecontam]]: vec_id % 50 = 0
    * stands in for the eval/benchmark set (the decontamination
    * precedent: `smp_decontam`'s eval slice, at the embedding level).
    */
  private val SemEvalMod = 50

  /** SEMANTIC eval-set decontamination report — the embedding-level
    * complement of the 13-gram `txt_decontam`: n-gram overlap misses
    * paraphrased benchmark leakage, so pipelines ALSO screen by
    * embedding similarity against the eval set (the published
    * contamination audits' "semantic dedup vs test set" pass). For
    * every non-eval document, its NEAREST eval-set vector and the
    * micro-integerized cosine — the surface a drop threshold is
    * applied to (thresholding is a filter on this report; emitting
    * the whole report keeps the gate's coverage corpus-wide instead
    * of empty-at-low-contamination).
    *
    * 100 TB shape: eval sets are SMALL and FIXED (thousands of
    * vectors) — they broadcast, the corpus never shuffles, and the
    * per-doc argmax is an [[Argmin]] (partial = one row per doc
    * per partition). Linear in the corpus at fixed eval size; an eval
    * set too large to broadcast would go through the LSH bucket join
    * ([[embedNearDupLsh]]'s path) instead. Ties (equal micro-cosine
    * to two eval vectors) resolve to the LOWEST eval id.
    */
  def semanticDecontam(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
    nearestEvalReport(evalCos(e.filter(col("vec_id") % SemEvalMod =!= 0)
      .crossJoin(broadcast(semEvalSide(e)))), "semanticDecontam")
  }

  /** The eval side of the decontam screen: (eval_id, evv, evnrm). */
  private def semEvalSide(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % SemEvalMod === 0)
      .select(col("vec_id").as("eval_id"), col("v").as("evv"),
        col("nrm").as("evnrm"))

  /** (doc_id, eval_id, cos) per (doc, eval) candidate row. */
  private def evalCos(cand: DataFrame): DataFrame =
    cand.select(col("vec_id").as("doc_id"), col("eval_id"),
      (dot(col("v"), col("evv")) / (col("nrm") * col("evnrm"))).as("cos"))

  /** Nearest eval vector per doc: (doc_id, eval_id, max_cos_x1e6) —
    * shared verbatim by every branch of the decontam family so brute,
    * IVF and the adaptive union are bit-compatible on rounding.
    */
  private def nearestEvalReport(rows: DataFrame, tag: String): DataFrame =
    Argmin(rows, Seq("doc_id"), "cos", "eval_id", tag, desc = true, carry = Seq("cos"))
      .select(col("doc_id"), col("eval_id"),
        floor(col("cos") * lit(1000000d) + lit(0.5)).cast("long").as("max_cos_x1e6"))
      .orderBy(col("doc_id"))

  /** Per-DIMENSION embedding statistics — the health/whitening audit
    * a pipeline runs before trusting cosine geometry or scalar
    * quantization: a dead dimension (zero variance) wastes code
    * bits, a scale-outlier dimension dominates every distance, and a
    * drifting mean breaks residual quantizers. One posexplode pass,
    * per-dim exact integerized sums (the MeanScale discipline —
    * values at 2²⁰, squares at 2³⁰: order-free BIGINT sums, so the
    * stats are engine/partition/retry exact), mean and variance then
    * DERIVED from those identical integers with a literally-mirrored
    * double chain. Map-side partials; output is [[Dims]] rows.
    */
  def embDimStats(s: SparkSession, d: String): DataFrame = {
    val x = Tables.embeddings(s, d)
      .select(posexplode(asDouble(col("embedding"))).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("dim"), col("x"))
    x.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x") * lit(1048576d) + lit(0.5)).cast("long")).as("sx"),
        sum(floor(col("x") * col("x") * lit(1073741824d) + lit(0.5))
          .cast("long")).as("sxx"),
        pround(min(col("x")), 6).as("min_x"),
        pround(max(col("x")), 6).as("max_x"))
      .select(col("dim"), col("n"),
        floor(col("sx").cast("double") / lit(1048576d) / col("n")
          * lit(1000000d) + lit(0.5)).cast("long").as("mean_x1e6"),
        floor((col("sxx").cast("double") / lit(1073741824d) / col("n")
          - (col("sx").cast("double") / lit(1048576d) / col("n"))
            * (col("sx").cast("double") / lit(1048576d) / col("n")))
          * lit(1000000d) + lit(0.5)).cast("long").as("var_x1e6"),
        col("min_x"), col("max_x"))
      .orderBy(col("dim"))
  }

  /** Eval embeddings collected ONCE at pipeline start — the build
    * step of the streaming semantic gate
    * ([[graft.streaming.StreamingIngest.semanticGate]]), following
    * the decontamGate sketch-build pattern. Returns (vector, norm)
    * pairs with zero-norm rows dropped (they can be near nothing);
    * vectors stay RAW (not pre-normalized) so the gate's per-eval
    * cosine arithmetic is bit-identical to [[semanticDecontam]]'s.
    * Sized by the real-world contract: eval sets are small and
    * fixed — this is sanctioned one-time driver work, like the
    * Bloom sketch and classifier-model builds.
    */
  def collectUnitEvals(evalVecs: DataFrame): Seq[(Seq[Double], Double)] =
    evalVecs.select(asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") > 0d)
      .collect().map(r => (r.getSeq[Double](0).toSeq, r.getDouble(1))).toSeq

  /** IVF-pruned semantic decontamination — [[semanticDecontam]]'s
    * scale path for the case its scaladoc defers: an eval set too
    * large to broadcast against every document (the synthetic
    * contract's eval slice grows WITH the corpus, so the brute
    * doc×eval screen is quadratic on the ladder; real pipelines hit
    * this when screening against aggregated benchmark suites or a
    * held-out shard). Standard IVF pruning, the [[annIvf]] recipe
    * applied corpus-wide: eval vectors land in their nearest coarse
    * list (top-1, [[assignAgainst]]), every document probes its
    * [[NProbe]] nearest lists, and the nearest-eval argmax runs only
    * over (doc, eval) pairs that share a probed list — the same
    * [[nearestEvalReport]] as the brute form, so ties and rounding
    * are bit-compatible.
    *
    * Differences from the brute report, by construction: a document
    * whose probed lists contain no eval vector has no candidates and
    * is ABSENT from the report (brute emits every doc), and the
    * reported max is a lower bound of the true one when the nearest
    * eval hides outside the probed lists — per-doc dominance and
    * high-cosine recall are pinned in SemDecontamCalibSpec. A
    * contaminated document whose embedding EQUALS an eval vector is
    * always caught: identical vectors rank centroids identically, so
    * the doc's top-1 probed list is the eval's list.
    *
    * 100 TB shape: centroids broadcast once; both ranking passes are
    * narrow (vec_id, cid, cos) — vectors re-join by id after the
    * row_number filter (the [[ivfAssignment]] narrowing lesson); the
    * candidate join is cid-equi (AQE broadcasts the eval side while
    * it fits, shuffles by cid beyond) with per-doc fan-out ≈
    * NProbe·|evals|/C instead of |evals|.
    *
    * Geometry is derived IN-PLAN from the corpus (the
    * `bandGeometryOf` discipline): total cost ≈ N·C (assignment
    * ranking) + N·NProbe·E/C (candidate cosines) is minimized at
    * C = √(NProbe·E), which for the contract's E = N/[[SemEvalMod]]
    * is √N/5 — a 4-5× COARSER grid than the shared ann stride's
    * C ≈ √N, so the stride here is the shared formula widened two
    * bits (≈ 4√N; measured at the 100× rung: the √N grid spent
    * twice the whole brute screen on assignment ranking alone, the
    * widened grid beats brute ~2×). Coarser lists cost no recall
    * headroom for the screen's purpose: the argument above is
    * geometry-independent, and per-list eval fan-out stays bounded
    * at NProbe·E/C ≈ 2√N/10.
    */
  def semanticDecontamIvf(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
    nearestEvalReport(evalCos(semIvfCandidates(e,
        e.filter(col("vec_id") % SemEvalMod =!= 0),
        e.filter(col("vec_id") % SemEvalMod === 0))), "semanticDecontamIvf")
  }

  /** IVF candidate machinery shared by [[semanticDecontamIvf]] and
    * the adaptive branch: (doc, eval) rows that share a probed
    * coarse list, with the vector/norm columns of both sides
    * attached. `docsE`/`evalsE` are (possibly gated) subsets of `e`
    * in its native (vec_id, v, nrm) shape; geometry derives from the
    * FULL corpus count so the grid is identical whichever branch is
    * live (the `bandGeometryOf` discipline — no driver job).
    */
  private def semIvfCandidates(e: DataFrame, docsE: DataFrame,
                               evalsE: DataFrame): DataFrame = {
    val dstride = e.agg(count(lit(1)).as("nvecs"))
      .select(expr(s"greatest(${CentroidEvery}L, " +
        "shiftleft(1L, cast(2 + length(bin(nvecs)) / 2 as int)))").as("stride"))
    val cents = e.crossJoin(broadcast(dstride))
      .filter(col("vec_id") % col("stride") === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val ev = assignAgainst(evalsE, cents)
      .select(col("vec_id").as("eval_id"), col("cid"))
      .join(e.select(col("vec_id").as("eval_id"), col("v").as("evv"),
        col("nrm").as("evnrm")), Seq("eval_id"))
    val wp = Window.partitionBy(col("vec_id"))
      .orderBy(pround(col("pcos"), 6).desc, col("cid"))
    val probed = docsE
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        (dot(col("v"), col("cv")) / (col("nrm") * col("cnrm"))).as("pcos"))
      .withColumn("prnk", row_number().over(wp))
      .filter(col("prnk") <= NProbe)
      .select(col("vec_id"), col("cid"))
      .join(e.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
    probed.join(ev, Seq("cid"))
  }

  /** Eval-set size up to which the brute broadcast screen is the
    * right plan: N·E dot products at E = 1024 stay in the tens of
    * millions up to ~50 K docs, while the broadcast itself stays a
    * few MB. Past it, the IVF-pruned path wins (measured at the
    * 100× rung, E = 4000: brute quadratic death vs IVF ≈ 4-14 s).
    */
  private val SemBruteEvalMax = 1024L

  /** SCALE-ADAPTIVE semantic decontamination — ONE registered entry
    * that picks [[semanticDecontam]]'s broadcast screen or
    * [[semanticDecontamIvf]]'s pruned screen IN-PLAN from the
    * eval-set cardinality (the `bandGeometryOf` discipline: the
    * branch scalar is a broadcast aggregate, no driver job). Both
    * branches are built with BOTH input sides gated on the scalar
    * BEFORE their joins, so the dead branch degenerates to empty
    * linear scans — the quadratic cross join streams zero rows and
    * the unused broadcast builds empty — and the live branch's rows
    * flow through the SHARED [[nearestEvalReport]]
    * tail, bit-compatible with both standalone forms.
    *
    * At every gate SF the eval slice (N/[[SemEvalMod]]) sits under
    * [[SemBruteEvalMax]], so the oracle compare exercises the brute
    * branch and the existing exact-screen SQL is unchanged; on the
    * 100× ladder rung (E = 4000) the IVF branch is live, inheriting
    * its documented contract (docs with no candidate in a probed
    * list are absent; the reported max is a lower bound when the
    * true nearest hides outside the probed lists —
    * SemDecontamCalibSpec pins dominance and high-cosine recall).
    */
  def semanticDecontamAdaptive(s: SparkSession, d: String): DataFrame =
    semanticDecontamAdaptiveOf(vectors(s, d), SemBruteEvalMax)

  /** [[semanticDecontamAdaptive]] over an explicit vector frame with
    * an explicit branch threshold (spec entry — lets a 500-vector
    * corpus exercise the IVF branch).
    */
  private[graft] def semanticDecontamAdaptiveOf(e: DataFrame,
                                                bruteMax: Long): DataFrame = {
    val gate = e.agg(coalesce(sum(
        when(col("vec_id") % SemEvalMod === 0, lit(1L)).otherwise(lit(0L))),
        lit(0L)).as("n_eval"))
      .select((col("n_eval") <= bruteMax).as("use_brute"))
    def gated(df: DataFrame, brute: Boolean): DataFrame =
      df.crossJoin(broadcast(gate))
        .filter(if (brute) col("use_brute") else !col("use_brute"))
        .drop("use_brute")
    val docs = e.filter(col("vec_id") % SemEvalMod =!= 0)
    val evals = e.filter(col("vec_id") % SemEvalMod === 0)
    val bruteRows = gated(docs, brute = true)
      .crossJoin(broadcast(gated(semEvalSide(e), brute = true)))
    val ivfRows = semIvfCandidates(e, gated(docs, brute = false),
        gated(evals, brute = false))
    nearestEvalReport(evalCos(bruteRows).unionByName(evalCos(ivfRows)),
      "semanticDecontamAdaptive")
  }

  /** Cluster-balanced temperature selection — the temperature-scaled
    * sampler (`smp_temperature_docs`, Conneau et al. 2020 §3.1) with
    * EMBEDDING CLUSTERS as the strata instead of languages: the
    * cluster-rebalancing curation pass of SemDeDup/DSIR-era pipelines
    * (flatten topical over-representation the metadata can't see).
    * Per IVF cluster (doc_id ↔ vec_id, the corpus contract): natural
    * token share p_c, temperature share q_c ∝ p_c^0.3, boost = q/p;
    * rates normalize so the most-boosted cluster keeps every
    * document, and selection is the salted-hash bucket predicate
    * ("ctemp:" purpose prefix — reproducible, extendable,
    * independent of every other sampler's salt).
    *
    * Scale shape: the per-cluster aggregate is one corpus pass with
    * map-side partials (≤ √N cluster rows out); the temperature chain
    * re-aggregates those rows and rides back as broadcast scalars;
    * selection is a broadcast rate join + map-side predicate. The
    * guarded doc⋈assignment frame is referenced by the aggregate and
    * the selection through the identical subtree (exchange reuse —
    * the temperatureDocs discipline). Integerization mirrors
    * temperatureMixture exactly (floor(x·10⁶ + 0.5), BIGINT sums).
    */
  def clusterTemperatureDocs(s: SparkSession, d: String): DataFrame = {
    val assign = ivfAssignmentOf(vectors(s, d))
      .select(col("vec_id").as("doc_id"), col("cid"))
    val dc = Tables.documents(s, d)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("ntok"))
      .join(assign, "doc_id")
      .filter(col("doc_id").isNotNull && col("ntok") >= 0 &&
        col("cid").isNotNull)
    val perC = dc.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tokens_total"))
    val grand = perC.agg(sum(col("n_docs")).as("docs_grand"),
                         sum(col("tokens_total")).as("grand"))
    val scaled = perC.crossJoin(broadcast(grand))
      .withColumn("p_ppm",
        floor(col("tokens_total").cast("double") / col("grand")
          * lit(1000000d) + lit(0.5)).cast("long"))
      .withColumn("s_temp",
        floor(pow(col("tokens_total").cast("double") / col("grand"), lit(0.3))
          * lit(1000000d) + lit(0.5)).cast("long"))
    val denom = scaled.groupBy().agg(sum(col("s_temp")).as("s_sum"))
    val boosted = scaled.crossJoin(broadcast(denom))
      .withColumn("q_ppm",
        floor(col("s_temp").cast("double") / col("s_sum")
          * lit(1000000d) + lit(0.5)).cast("long"))
      .withColumn("boost_x1000",
        floor(col("q_ppm").cast("double") / greatest(col("p_ppm"), lit(1L))
          * lit(1000d) + lit(0.5)).cast("long"))
    val mx = boosted.agg(max(col("boost_x1000")).as("boost_max"))
    val rates = boosted.crossJoin(broadcast(mx))
      .withColumn("rate_buckets", expr("boost_x1000 * 1000 div boost_max"))
      .select(col("cid"), col("rate_buckets"))
    dc.join(broadcast(rates), Seq("cid"))
      .withColumn("bucket",
        portableHash(concat(lit("ctemp:"), col("doc_id").cast("string")))
          % lit(1000L))
      .filter(col("bucket") < col("rate_buckets"))
      .select(col("doc_id"), col("cid"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "smp_decontam_sem" -> semanticDecontamAdaptive _,
    "smp_decontam_sem_ivf" -> semanticDecontamIvf _,
    "smp_cluster_temp" -> clusterTemperatureDocs _,
    "ann_brute"     -> annBrute _,
    "ann_lsh_buckets" -> lshBuckets _,
    "ann_lsh"       -> annLsh _,
    "ann_lsh_mp"    -> annLshMultiProbe _,
    "ann_ivf_lists" -> ivfLists _,
    "ann_cluster_purity" -> clusterPurity _,
    "ann_ivf"       -> annIvf _,
    "ann_ivf_recall" -> annIvfRecall _,
    "ann_lsh_recall" -> annLshRecall _,
    "ann_ivf_trained" -> annIvfTrained _,
    "ann_ivf_pq"    -> annIvfPq _,
    "ann_ivf_pq_idx" -> annIvfPqIdx _,
    "ann_ivf_pq_res" -> annIvfPqRes _,
    "ann_ivf_pq_res_idx" -> annIvfPqResIdx _,
    "emb_dim_stats" -> embDimStats _,
    "sim_near_dup"  -> embedNearDup _,
    "sim_near_dup_lsh" -> embedNearDupLsh _,
    "sim_quantized" -> quantizedSearch _,
    "sim_project"   -> projectEmbeddings _,
    "dedup_semantic" -> semanticDedup _,
    "dedup_semantic_capped" -> semanticDedupCapped _,
  )

  private def signSql(p: Int): String =
    planeSigns(p).map(v => s"$v.0").mkString("[", ", ", "]")

  private val bucketSql: String =
    (0 until NumPlanes).map(p =>
      s"(CASE WHEN list_dot_product(v, ${signSql(p)}) >= 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")

  // adaptive-plane variant (np from the pp CTE), mirroring
  // embedNearDupLsh's clamp(4, 16, bit_length(N div 32))
  private val adaptiveBucketSql: String =
    (0 until MaxPlanes).map(p =>
      s"(CASE WHEN $p < np AND list_dot_product(v, ${signSql(p)}) >= 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")

  private val vecCte =
    "e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"

  // the sampled coarse centroids (centroidsOf)
  private val centsCte =
    s"""st AS (SELECT greatest($CentroidEvery, 1 << (length(bin(count(*))) // 2)) AS stride FROM e),
       |cents AS (SELECT vec_id AS cid, v AS cv FROM e, st WHERE vec_id % stride = 0)""".stripMargin

  // ... and the narrow coarse assignment the PQ searches join codes to
  private val cassignCte =
    s"""$centsCte,
       |cassign AS (SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY pround(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS crnk
       |    FROM e, cents c) t WHERE crnk = 1)""".stripMargin

  private val ivfCte =
    s"""$vecCte,
       |$centsCte,
       |assign AS (
       |  SELECT vec_id, v, cid, ccos FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      list_cosine_similarity(e.v, c.cv) AS ccos,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY pround(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS crnk
       |    FROM e, cents c) t
       |  WHERE crnk = 1)""".stripMargin

  /** One Lloyd iteration as DuckDB CTEs: argmin assignment on
    * pround(d2, 6) + cid tiebreak, then the exact integerized
    * element-wise mean — both bit-compatible with the Spark side.
    */
  private def lloydIterSql(k: Int): String = {
    val d2 =
      s"list_sum([ (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]) FOR i IN generate_series(1,$Dims) ])"
    val prev = s"c${k - 1}"
    s"""a$k AS (SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY pround($d2, 6), c.cid) AS rnk
       |    FROM e, $prev c) t WHERE rnk = 1),
       |c$k AS (SELECT cid, array_agg(m ORDER BY dim) AS cv FROM (
       |    SELECT cid, dim,
       |      CAST(sum(CAST(floor(x * 1048576.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |        / count(*) / 1048576.0 AS m
       |    FROM (SELECT cid, unnest(v) AS x,
       |            unnest(generate_series(1, $Dims)) AS dim FROM a$k) u
       |    GROUP BY cid, dim) g GROUP BY cid)""".stripMargin
  }

  private val trainedCte: String =
    s"""$vecCte,
       |st AS (SELECT greatest($CentroidEvery, 1 << (length(bin(count(*))) // 2)) AS stride FROM e),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e, st WHERE vec_id % stride = 0),
       |${(1 to TrainIters).map(lloydIterSql).mkString(",\n")}""".stripMargin

  // --- IVF-PQ oracle ------------------------------------------------
  // Mirrors annIvfPq CTE by CTE: all subspaces train jointly (grouped
  // by (m, kid)), means integerized exactly like lloydIterSql, ADC as
  // an integer sum of floor(pround(d2,6)·2²⁰+0.5) table entries.
  private val pqD2 =
    "pround(list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.kv)" +
      " + list_dot_product(c.kv, c.kv), 6)"

  private def pqIterSql(k: Int): String = {
    val prev = s"cb${k - 1}"
    s"""pa$k AS (SELECT vec_id, m, sv, kid FROM (
       |    SELECT s.vec_id, s.m, s.sv, c.kid,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY $pqD2, c.kid) AS rnk
       |    FROM tsub s JOIN $prev c ON c.m = s.m) t WHERE rnk = 1),
       |cb$k AS (SELECT m, kid, array_agg(mn ORDER BY dim) AS kv FROM (
       |    SELECT m, kid, dim,
       |      CAST(sum(CAST(floor(x * $MeanScale + 0.5) AS BIGINT)) AS DOUBLE)
       |        / count(*) / $MeanScale AS mn
       |    FROM (SELECT m, kid, unnest(sv) AS x,
       |            unnest(generate_series(1, $PqSubDims)) AS dim FROM pa$k) u
       |    GROUP BY m, kid, dim) g GROUP BY m, kid)""".stripMargin
  }

  // The PQ training and coding chain over `en`, shared by both PQ
  // preambles below.
  private val pqCodesCte: String =
    s"""mm AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
       |sub AS (SELECT vec_id, m,
       |          list_slice(v, m * $PqSubDims + 1, (m + 1) * $PqSubDims) AS sv
       |        FROM en, mm),
       |ts AS (SELECT 1 << (length(bin(count(*) // $PqTrainTarget)) - 1) AS tstride FROM e),
       |tsub AS (SELECT s.* FROM sub s, ts WHERE s.vec_id % tstride = 0),
       |ps AS (SELECT greatest($PqCodewordEvery, 1 << length(bin(count(*) // $PqCodebookTarget))) AS stride FROM e),
       |cb0 AS (SELECT m, vec_id AS kid, sv AS kv FROM sub, ps
       |        WHERE vec_id % stride = 0),
       |${(1 to PqIters).map(pqIterSql).mkString(",\n")},
       |codes AS (SELECT vec_id, m, kid FROM (
       |    SELECT s.vec_id, s.m, c.kid,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY $pqD2, c.kid) AS rnk
       |    FROM sub s JOIN cb$PqIters c ON c.m = s.m) t WHERE rnk = 1)""".stripMargin

  // Residual-PQ (IVFADC) oracle preamble: coarse assignment first,
  // then the SAME training/coding chain as pqCte, but over residual
  // vectors en = v_unit − c_unit (so pqIterSql and the codes CTE
  // apply unchanged — they only reference `en`-derived names).
  private val pqResCte: String =
    s"""$vecCte,
       |$cassignCte,
       |cnorm AS (SELECT cid, [x / sqrt(list_dot_product(cv, cv)) FOR x IN cv] AS cvn FROM cents),
       |un AS (SELECT vec_id, [x / sqrt(list_dot_product(v, v)) FOR x IN v] AS v FROM e),
       |en AS (SELECT u.vec_id,
       |         list_transform(generate_series(1, $Dims), i -> u.v[i] - cn.cvn[i]) AS v
       |       FROM un u JOIN cassign ca ON ca.vec_id = u.vec_id
       |       JOIN cnorm cn ON cn.cid = ca.cid),
       |$pqCodesCte""".stripMargin

  private val pqCte: String =
    s"""$vecCte,
       |en AS (SELECT vec_id,
       |         [x / sqrt(list_dot_product(v, v)) FOR x IN v] AS v FROM e),
       |$pqCodesCte""".stripMargin

  // --- ANN search oracle stages (the SQL twins of probesOf,
  // probeLists, adcSearch and rerank) ---------------------------------
  private val probesCte =
    s"probes AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $ProbeCount)"

  /** Each probe's `n` nearest coarse lists, carrying the probe columns
    * `carry` between query_id and cid.
    */
  private def plistsCte(n: Int, carry: String*): String = {
    val out = (("query_id" +: carry) :+ "cid").mkString(", ")
    val in = (("p.query_id" +: carry.map("p." + _)) :+ "c.cid").mkString(", ")
    s"""plists AS (SELECT $out FROM (
       |    SELECT $in,
       |      row_number() OVER (PARTITION BY p.query_id
       |        ORDER BY pround(list_cosine_similarity(p.qv, c.cv), 6) DESC, c.cid) AS prnk
       |    FROM probes p, cents c) t
       |  WHERE prnk <= $n)""".stripMargin
  }

  // IVF search over `cents` and `assign`: probe lists, then the exact
  // rerank of every vector in them (ivfSearch)
  private val ivfSearchSql =
    s"""$probesCte,
       |${plistsCte(NProbe, "qv")}
       |SELECT query_id, rank, neighbor_id, cos_sim FROM (
       |  SELECT pl.query_id, a.vec_id AS neighbor_id,
       |    pround(list_cosine_similarity(pl.qv, a.v), 4) AS cos_sim,
       |    row_number() OVER (PARTITION BY pl.query_id
       |      ORDER BY pround(list_cosine_similarity(pl.qv, a.v), 6) DESC, a.vec_id) AS rank
       |  FROM plists pl
       |  JOIN assign a ON a.cid = pl.cid AND a.vec_id <> pl.query_id) t
       |WHERE rank <= $LshTopK
       |ORDER BY query_id, rank""".stripMargin

  /** ADC sums over the probed lists' codes (the distance table joined
    * on `dtabOn`), each probe's shortlist, then the exact rerank
    * (adcSearch).
    */
  private def adcSearchSql(dtabOn: String): String =
    s"""adc AS (SELECT pl.query_id, k.vec_id AS neighbor_id, sum(dt.pd2i) AS ad2
       |  FROM plists pl
       |  JOIN cassign a ON a.cid = pl.cid AND a.vec_id <> pl.query_id
       |  JOIN codes k ON k.vec_id = a.vec_id
       |  JOIN dtab dt ON $dtabOn
       |  GROUP BY pl.query_id, k.vec_id),
       |short AS (SELECT query_id, neighbor_id, ad2 FROM (
       |    SELECT query_id, neighbor_id, ad2,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY ad2, neighbor_id) AS srnk
       |    FROM adc) t WHERE srnk <= $PqShortlist)
       |SELECT query_id, rank, neighbor_id, cos_sim, approx_d2 FROM (
       |  SELECT s.query_id, n.vec_id AS neighbor_id,
       |    pround(list_cosine_similarity(p.qv, n.v), 4) AS cos_sim,
       |    pround(s.ad2 / $MeanScale, 4) AS approx_d2,
       |    row_number() OVER (PARTITION BY s.query_id
       |      ORDER BY pround(list_cosine_similarity(p.qv, n.v), 6) DESC, n.vec_id) AS rank
       |  FROM short s
       |  JOIN e n ON n.vec_id = s.neighbor_id
       |  JOIN probes p ON p.query_id = s.query_id) t
       |WHERE rank <= $LshTopK
       |ORDER BY query_id, rank""".stripMargin

  // the probes and their exact top-LshTopK (recallVsBrute's truth)
  private val bruteTruthCte =
    s"""$probesCte,
       |bt AS (SELECT query_id, neighbor_id FROM (
       |    SELECT p.query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY p.query_id
       |        ORDER BY pround(list_cosine_similarity(p.qv, c.v), 6) DESC, c.vec_id) AS rank
       |    FROM probes p JOIN e c ON c.vec_id <> p.query_id) t
       |  WHERE rank <= $LshTopK)""".stripMargin

  /** recallVsBrute's report: `bt` left-joined to the approximate top-k
    * CTE `approx`, aliased `a`.
    */
  private def recallSql(approx: String, a: String): String =
    s"""SELECT b.query_id AS query_id, count(*) AS n_true,
       |  CAST(sum(CASE WHEN $a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST(sum(CASE WHEN $a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000 // count(*) AS recall_x1000
       |FROM bt b LEFT JOIN $approx $a
       |  ON $a.query_id = b.query_id AND $a.neighbor_id = b.neighbor_id
       |GROUP BY b.query_id
       |ORDER BY query_id""".stripMargin

  private val oraclesBase: Map[String, String] = Map(
    "smp_decontam_sem" ->
      s"""WITH $vecCte,
         |ev AS (SELECT vec_id AS eval_id, v AS evv FROM e
         |       WHERE vec_id % $SemEvalMod = 0),
         |sc AS (SELECT e.vec_id AS doc_id,
         |         CAST(floor(pround(list_cosine_similarity(e.v, ev.evv), 6)
         |           * 1000000 + 0.5) AS BIGINT) + 1000000 AS cosm,
         |         ev.eval_id
         |       FROM e, ev WHERE e.vec_id % $SemEvalMod <> 0),
         |mx AS (SELECT doc_id,
         |         max(cosm * 4398046511104 + (4398046511104 - 1 - eval_id)) AS enc
         |       FROM sc GROUP BY doc_id)
         |SELECT doc_id,
         |  CAST(4398046511104 - 1 - enc % 4398046511104 AS BIGINT) AS eval_id,
         |  CAST(enc // 4398046511104 - 1000000 AS BIGINT) AS max_cos_x1e6
         |FROM mx ORDER BY doc_id""".stripMargin,
    "smp_decontam_sem_ivf" ->
      s"""WITH $vecCte,
         |st AS (SELECT greatest($CentroidEvery, 1 << (2 + length(bin(count(*))) // 2)) AS stride FROM e),
         |cents AS (SELECT vec_id AS cid, v AS cv FROM e, st WHERE vec_id % stride = 0),
         |ev AS (SELECT eval_id, cid, evv FROM (
         |    SELECT e.vec_id AS eval_id, e.v AS evv, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY pround(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS crnk
         |    FROM e, cents c WHERE e.vec_id % $SemEvalMod = 0) t WHERE crnk = 1),
         |pl AS (SELECT doc_id, v, cid FROM (
         |    SELECT e.vec_id AS doc_id, e.v, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY pround(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS prnk
         |    FROM e, cents c WHERE e.vec_id % $SemEvalMod <> 0) t WHERE prnk <= $NProbe),
         |sc AS (SELECT p.doc_id,
         |         CAST(floor(pround(list_cosine_similarity(p.v, ev.evv), 6)
         |           * 1000000 + 0.5) AS BIGINT) + 1000000 AS cosm,
         |         ev.eval_id
         |       FROM pl p JOIN ev ON ev.cid = p.cid),
         |mx AS (SELECT doc_id,
         |         max(cosm * 4398046511104 + (4398046511104 - 1 - eval_id)) AS enc
         |       FROM sc GROUP BY doc_id)
         |SELECT doc_id,
         |  CAST(4398046511104 - 1 - enc % 4398046511104 AS BIGINT) AS eval_id,
         |  CAST(enc // 4398046511104 - 1000000 AS BIGINT) AS max_cos_x1e6
         |FROM mx ORDER BY doc_id""".stripMargin,
    "smp_cluster_temp" ->
      s"""WITH $ivfCte,
         |dt AS (SELECT d.doc_id, a.cid,
         |         CAST(len(list_filter(regexp_split_to_array(d.text, '[^\\p{L}]+'),
         |           t -> t <> '')) AS BIGINT) AS ntok
         |       FROM documents d JOIN assign a ON a.vec_id = d.doc_id),
         |pc AS (SELECT cid, count(*) AS n_docs,
         |         CAST(sum(ntok) AS BIGINT) AS tokens_total
         |       FROM dt GROUP BY cid),
         |gr AS (SELECT CAST(sum(tokens_total) AS BIGINT) AS grand FROM pc),
         |sc AS (SELECT cid, tokens_total,
         |         CAST(floor(CAST(tokens_total AS DOUBLE) / grand * 1000000
         |           + 0.5) AS BIGINT) AS p_ppm,
         |         CAST(floor(pow(CAST(tokens_total AS DOUBLE) / grand, 0.3)
         |           * 1000000 + 0.5) AS BIGINT) AS s_temp
         |       FROM pc, gr),
         |dn AS (SELECT CAST(sum(s_temp) AS BIGINT) AS s_sum FROM sc),
         |bo AS (SELECT cid,
         |         CAST(floor(CAST(q_ppm AS DOUBLE) / greatest(p_ppm, 1) * 1000
         |           + 0.5) AS BIGINT) AS boost_x1000
         |       FROM (SELECT cid, p_ppm,
         |               CAST(floor(CAST(s_temp AS DOUBLE) / s_sum * 1000000
         |                 + 0.5) AS BIGINT) AS q_ppm
         |             FROM sc, dn) q),
         |mxb AS (SELECT max(boost_x1000) AS boost_max FROM bo),
         |rt AS (SELECT cid, boost_x1000 * 1000 // boost_max AS rate_buckets
         |       FROM bo, mxb)
         |SELECT doc_id, cid, bucket FROM (
         |  SELECT dt.doc_id AS doc_id, dt.cid AS cid,
         |    ${graft.operators.Sampling.bucketSql("ctemp:")} AS bucket,
         |    rt.rate_buckets AS rate_buckets
         |  FROM dt JOIN rt ON rt.cid = dt.cid) z
         |WHERE bucket < rate_buckets
         |ORDER BY doc_id""".stripMargin,
    "ann_ivf_trained" ->
      s"""WITH $trainedCte,
         |cents AS (SELECT cid, cv FROM c$TrainIters),
         |assign AS (SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY pround(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS crnk
         |    FROM e, cents c) t WHERE crnk = 1),
         |$ivfSearchSql""".stripMargin,
    "ann_ivf_pq" ->
      s"""WITH $pqCte,
         |$cassignCte,
         |$probesCte,
         |${plistsCte(PqNProbe)},
         |dtab AS (SELECT s.query_id, s.m, c.kid,
         |    CAST(floor($pqD2 * $MeanScale + 0.5) AS BIGINT) AS pd2i
         |  FROM (SELECT p.query_id, mm.m,
         |          list_slice([x / sqrt(list_dot_product(p.qv, p.qv)) FOR x IN p.qv],
         |                     mm.m * $PqSubDims + 1, (mm.m + 1) * $PqSubDims) AS sv
         |        FROM probes p, mm) s
         |  JOIN cb$PqIters c ON c.m = s.m),
         |${adcSearchSql("dt.query_id = pl.query_id AND dt.m = k.m AND dt.kid = k.kid")}""".stripMargin,
    "ann_ivf_pq_res" ->
      s"""WITH $pqResCte,
         |$probesCte,
         |${plistsCte(PqNProbe)},
         |rq AS (SELECT pl.query_id, pl.cid,
         |         list_transform(generate_series(1, $Dims),
         |           i -> p.qv[i] / sqrt(list_dot_product(p.qv, p.qv)) - cn.cvn[i]) AS rv
         |       FROM plists pl
         |       JOIN cnorm cn ON cn.cid = pl.cid
         |       JOIN probes p ON p.query_id = pl.query_id),
         |dtab AS (SELECT s.query_id, s.cid, s.m, c.kid,
         |    CAST(floor($pqD2 * $MeanScale + 0.5) AS BIGINT) AS pd2i
         |  FROM (SELECT query_id, cid, mm.m,
         |          list_slice(rv, mm.m * $PqSubDims + 1, (mm.m + 1) * $PqSubDims) AS sv
         |        FROM rq, mm) s
         |  JOIN cb$PqIters c ON c.m = s.m),
         |${adcSearchSql("dt.query_id = pl.query_id AND dt.cid = pl.cid\n" +
                          "              AND dt.m = k.m AND dt.kid = k.kid")}""".stripMargin,
    "ann_brute" ->
      s"""WITH $vecCte
         |SELECT query_id, rank, neighbor_id, cos_sim, label
         |FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
         |        pround(list_cosine_similarity(q.v, c.v), 4) AS cos_sim,
         |        row_number() OVER (PARTITION BY q.vec_id
         |          ORDER BY pround(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
         |      FROM e q JOIN e c ON c.vec_id <> q.vec_id
         |      WHERE q.vec_id < $ProbeCount) t
         |WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin,
    "ann_lsh_buckets" ->
      s"""WITH $vecCte
         |SELECT vec_id, label, $bucketSql AS bucket
         |FROM e
         |ORDER BY vec_id""".stripMargin,
    "ann_lsh" ->
      s"""WITH $vecCte,
         |b AS (SELECT vec_id, label, v, $bucketSql AS bucket FROM e)
         |SELECT query_id, bucket, rank, neighbor_id, cos_sim
         |FROM (SELECT q.vec_id AS query_id, q.bucket AS bucket, c.vec_id AS neighbor_id,
         |        pround(list_cosine_similarity(q.v, c.v), 4) AS cos_sim,
         |        row_number() OVER (PARTITION BY q.vec_id
         |          ORDER BY pround(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
         |      FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
         |      WHERE q.vec_id < $ProbeCount) t
         |WHERE rank <= $LshTopK
         |ORDER BY query_id, rank""".stripMargin,
    "ann_lsh_mp" ->
      s"""WITH $vecCte,
         |b AS (SELECT vec_id, v, $bucketSql AS bucket FROM e),
         |probes AS (SELECT q.vec_id AS query_id, q.v AS qv, xor(q.bucket, m.m) AS bucket
         |           FROM b q, (VALUES ${(0 +: (0 until NumPlanes).map(1 << _).toList).map(v => s"($v)").mkString(", ")}) m(m)
         |           WHERE q.vec_id < $ProbeCount)
         |SELECT query_id, rank, neighbor_id, cos_sim
         |FROM (SELECT p.query_id, c.vec_id AS neighbor_id,
         |        pround(list_cosine_similarity(p.qv, c.v), 4) AS cos_sim,
         |        row_number() OVER (PARTITION BY p.query_id
         |          ORDER BY pround(list_cosine_similarity(p.qv, c.v), 6) DESC, c.vec_id) AS rank
         |      FROM probes p JOIN b c ON p.bucket = c.bucket AND c.vec_id <> p.query_id) t
         |WHERE rank <= $LshTopK
         |ORDER BY query_id, rank""".stripMargin,
    "ann_ivf_lists" ->
      s"""WITH $ivfCte
         |SELECT vec_id, cid, pround(ccos, 4) AS centroid_cos
         |FROM assign
         |ORDER BY vec_id""".stripMargin,
    "ann_cluster_purity" ->
      s"""WITH $ivfCte,
         |pc AS (SELECT a.cid, l.label, count(*) AS n
         |       FROM assign a JOIN embeddings l ON l.vec_id = a.vec_id
         |       GROUP BY a.cid, l.label),
         |agg AS (SELECT cid, CAST(sum(n) AS BIGINT) AS n_vecs,
         |          max(n * 1000000 + (999999 - label)) AS sc
         |        FROM pc GROUP BY cid)
         |SELECT cid, n_vecs,
         |  CAST(999999 - sc % 1000000 AS INT) AS majority_label,
         |  CAST(sc // 1000000 AS BIGINT) AS n_majority,
         |  CAST(floor(CAST(sc // 1000000 AS DOUBLE) / n_vecs * 1000 + 0.5) AS BIGINT) AS purity_x1000
         |FROM agg
         |ORDER BY cid""".stripMargin,
    "dedup_semantic" ->
      s"""WITH $ivfCte,
         |sempairs AS (
         |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         |    pround(list_cosine_similarity(a.v, b.v), 4) AS cos
         |  FROM assign a
         |  JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         |SELECT doc_b AS drop_id, min(doc_a) AS kept_id, max(cos) AS max_cos
         |FROM sempairs
         |WHERE cos >= $SemDupThreshold
         |GROUP BY doc_b
         |ORDER BY drop_id""".stripMargin,
    "dedup_semantic_capped" ->
      s"""WITH $ivfCte,
         |cm AS (SELECT vec_id, v, cid FROM (
         |    SELECT vec_id, v, cid,
         |      row_number() OVER (PARTITION BY cid
         |        ORDER BY pround(ccos, 6) DESC, vec_id) AS crk
         |    FROM assign) t WHERE crk <= $SemCap),
         |sempairs AS (
         |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         |    pround(list_cosine_similarity(a.v, b.v), 4) AS cos
         |  FROM cm a
         |  JOIN cm b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         |SELECT doc_b AS drop_id, min(doc_a) AS kept_id, max(cos) AS max_cos
         |FROM sempairs
         |WHERE cos >= $SemDupThreshold
         |GROUP BY doc_b
         |ORDER BY drop_id""".stripMargin,
    "ann_ivf" ->
      s"""WITH $ivfCte,
         |$ivfSearchSql""".stripMargin,
    "emb_dim_stats" ->
      s"""WITH $vecCte,
         |x AS (SELECT unnest(v) AS x,
         |        CAST(unnest(generate_series(1, $Dims)) AS BIGINT) AS dim
         |      FROM e),
         |agg AS (SELECT dim, count(*) AS n,
         |          CAST(sum(CAST(floor(x * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS sx,
         |          CAST(sum(CAST(floor(x * x * 1073741824.0 + 0.5) AS BIGINT)) AS BIGINT) AS sxx,
         |          pround(min(x), 6) AS min_x,
         |          pround(max(x), 6) AS max_x
         |        FROM x GROUP BY dim)
         |SELECT dim, n,
         |  CAST(floor(CAST(sx AS DOUBLE) / 1048576.0 / n
         |    * 1000000.0 + 0.5) AS BIGINT) AS mean_x1e6,
         |  CAST(floor((CAST(sxx AS DOUBLE) / 1073741824.0 / n
         |    - (CAST(sx AS DOUBLE) / 1048576.0 / n)
         |      * (CAST(sx AS DOUBLE) / 1048576.0 / n))
         |    * 1000000.0 + 0.5) AS BIGINT) AS var_x1e6,
         |  min_x, max_x
         |FROM agg ORDER BY dim""".stripMargin,
    "ann_ivf_recall" ->
      s"""WITH $ivfCte,
         |$bruteTruthCte,
         |${plistsCte(NProbe, "qv")},
         |iv AS (SELECT query_id, neighbor_id FROM (
         |    SELECT pl.query_id, a.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY pl.query_id
         |        ORDER BY pround(list_cosine_similarity(pl.qv, a.v), 6) DESC, a.vec_id) AS rank
         |    FROM plists pl
         |    JOIN assign a ON a.cid = pl.cid AND a.vec_id <> pl.query_id) t
         |  WHERE rank <= $LshTopK)
         |${recallSql("iv", "i")}""".stripMargin,
    "ann_lsh_recall" ->
      s"""WITH $vecCte,
         |bk AS (SELECT vec_id, v, $bucketSql AS bucket FROM e),
         |$bruteTruthCte,
         |lv AS (SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY pround(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
         |    FROM bk q JOIN bk c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
         |    WHERE q.vec_id < $ProbeCount) t
         |  WHERE rank <= $LshTopK)
         |${recallSql("lv", "l")}""".stripMargin,
    "sim_project" -> {
      val cols = projSignsSql.zipWithIndex.map { case (row, p) =>
        s"pround(list_dot_product(v, $row) / sqrt(64.0), 4) AS p$p"
      }.mkString(",\n  ")
      s"""WITH $vecCte
         |SELECT vec_id,
         |  $cols
         |FROM e
         |WHERE vec_id < 50
         |ORDER BY vec_id""".stripMargin
    },
    "sim_quantized" ->
      s"""WITH $vecCte,
         |qv AS (SELECT vec_id, v,
         |         127.0 / list_max(list_transform(v, x -> abs(x))) AS scale
         |       FROM e
         |       WHERE list_max(list_transform(v, x -> abs(x))) > 0),
         |qq AS (SELECT vec_id, v, scale,
         |         list_transform(v, x -> floor(x * scale + 0.5)) AS q
         |       FROM qv),
         |qn AS (SELECT vec_id, v, scale, q,
         |         sqrt(list_dot_product(q, q)) / scale AS qnorm,
         |         sqrt(list_dot_product(v, v)) AS nrm
         |       FROM qq)
         |SELECT query_id, rank, neighbor_id, qcos_sim, cos_sim,
         |       abs(qcos - cos) <= 0.05 AS err_ok
         |FROM (SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         |        list_dot_product(p.q, c.q) / (p.scale * c.scale)
         |          / (p.qnorm * c.qnorm) AS qcos,
         |        list_dot_product(p.v, c.v) / (p.nrm * c.nrm) AS cos,
         |        pround(list_dot_product(p.q, c.q) / (p.scale * c.scale)
         |          / (p.qnorm * c.qnorm), 4) AS qcos_sim,
         |        pround(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 4) AS cos_sim,
         |        row_number() OVER (PARTITION BY p.vec_id
         |          ORDER BY pround(list_dot_product(p.q, c.q) / (p.scale * c.scale)
         |            / (p.qnorm * c.qnorm), 6) DESC, c.vec_id) AS rank
         |      FROM qn p JOIN qn c ON c.vec_id <> p.vec_id
         |      WHERE p.vec_id < $ProbeCount) t
         |WHERE rank <= $LshTopK
         |ORDER BY query_id, rank""".stripMargin,
    "sim_near_dup_lsh" ->
      s"""WITH $vecCte,
         |pp AS (SELECT least($MaxPlanes, greatest($NumPlanes,
         |         length(bin(greatest(1, count(*) // 32))))) AS np FROM e),
         |b AS (SELECT vec_id, v, $adaptiveBucketSql AS bucket FROM e, pp)
         |SELECT query_id, neighbor_id, cos_sim, cos_sim >= 0.95 AS is_dup
         |FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |        pround(list_cosine_similarity(q.v, c.v), 4) AS cos_sim,
         |        row_number() OVER (PARTITION BY q.vec_id
         |          ORDER BY pround(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
         |      FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id) t
         |WHERE rank = 1
         |ORDER BY query_id""".stripMargin,
    "sim_near_dup" ->
      s"""WITH $vecCte
         |SELECT query_id, neighbor_id, cos_sim, cos_sim >= 0.95 AS is_dup
         |FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |        pround(list_cosine_similarity(q.v, c.v), 4) AS cos_sim,
         |        row_number() OVER (PARTITION BY q.vec_id
         |          ORDER BY pround(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
         |      FROM e q JOIN e c ON c.vec_id <> q.vec_id
         |      WHERE q.vec_id % 20 = 0) t
         |WHERE rank = 1
         |ORDER BY query_id""".stripMargin,
  )

  /** `ann_ivf_pq_idx` searches the PERSISTED index; the build is
    * deterministic, so its oracle is `ann_ivf_pq`'s verbatim — the
    * gate then pins save→load→search == in-plan train→search.
    */
  val oracles: Map[String, String] =
    oraclesBase +
      ("ann_ivf_pq_idx" -> oraclesBase("ann_ivf_pq")) +
      ("ann_ivf_pq_res_idx" -> oraclesBase("ann_ivf_pq_res"))
}
