package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Pins for the duplicate-mass-adaptive plan branch
  * (`Dedup.adaptiveGroups`, used by `dedup_drop_list`,
  * `dedup_ngram_prefix` and `dedup_ngram_prefix_capped`): the two
  * branches must be output-equivalent on ANY corpus (the branched
  * query itself is checked on whichever side the gate corpus selects —
  * here each side is FORCED through the production branch by a
  * constant `collapse` flag frame and compared against the other
  * side, on planted clone-light and clone-heavy corpora), the flag must
  * flip exactly at the documented boundary, and the degenerate
  * short-clone corpus (duplicated <3-token texts, which share no
  * shingles with their own clones) must produce NOTHING on either
  * path — the uncollapsed derivation never pairs them.
  */
class AdaptiveCollapseSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft_adapt")
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val base = "the quick brown fox jumps over the lazy dog while " +
    "the rain in spain stays mainly on the plain every single day"
  private val other = "completely different prose about catalyst rules " +
    "whole stage codegen and adaptive query execution in spark engines"

  // clone-light: 6 distinct texts, one near-dup pair (1, 2)
  private val cloneLight = Seq(
    (1L, base), (2L, base + " extra"), (3L, other),
    (4L, "unrelated words concerning parquet footers and row groups"),
    (5L, "more text about broadcast joins and shuffle partitions here"),
    (6L, "final entirely distinct document mentioning watermarks"))

  // clone-heavy: the same corpus with 5 byte-identical copies of each
  private val cloneHeavy = cloneLight.flatMap { case (id, t) =>
    (0 until 5).map(k => (id + 100L * k, t))
  }

  private def pairsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** (reps, members) of `docs` with the branch forced to one side. */
  private def forcedGroups(docs: DataFrame, collapse: Boolean) = {
    val s = spark
    import s.implicits._
    Dedup.adaptiveGroups(docs, Seq(collapse).toDF("collapse"))
  }

  private def dropListForced(docs: DataFrame, geom: DataFrame, collapse: Boolean) = {
    val (reps, members) = forcedGroups(docs, collapse)
    Dedup.dropListOverGroups(reps, members, geom)
  }

  private def prefixJoinForced(docs: DataFrame, collapse: Boolean) = {
    val (reps, members) = forcedGroups(docs, collapse)
    Dedup.ngramPrefixOverGroups(reps, members)
  }

  test("dup-mass flag flips at the documented copies-per-text boundary") {
    val s = spark
    import s.implicits._
    def flag(rows: Seq[(Long, String)]): Boolean =
      Dedup.dupMassFlag(rows.toDF("doc_id", "text"))
        .collect().head.getBoolean(0)
    assert(!flag(cloneLight), "distinct texts must take the direct branch")
    assert(flag(cloneHeavy), "5 copies per text must take the collapsed branch")
    // exactly at the boundary: 2 copies each → collapse
    assert(flag(cloneLight.flatMap { case (id, t) => Seq((id, t), (id + 50L, t)) }))
  }

  test("drop list: branched output equals BOTH pure forms on both corpora") {
    for (corpus <- Seq(cloneLight, cloneHeavy)) {
      val dir = writeDocs(corpus)
      val docs = graft.sources.Tables.documents(spark, dir)
      val geom = Dedup.bandGeometryOf(docs)
      val branched = pairsOf(Dedup.dropList(spark, dir))
      val direct = pairsOf(dropListForced(docs, geom, collapse = false))
      val collapsed = pairsOf(dropListForced(docs, geom, collapse = true))
      assert(direct == collapsed,
        s"the two branch plans disagree on ${corpus.size} docs:\n" +
          s"only-direct ${direct -- collapsed}\nonly-collapsed ${collapsed -- direct}")
      assert(branched == direct)
      assert(branched.nonEmpty, "planted near-dups must surface")
    }
  }

  test("prefix join: branched output equals the direct brute-slice on both corpora") {
    for (corpus <- Seq(cloneLight, cloneHeavy)) {
      val dir = writeDocs(corpus)
      val docs = graft.sources.Tables.documents(spark, dir)
      val branched = pairsOf(Dedup.ngramPrefixJoin(spark, dir))
      val direct = pairsOf(Dedup.ngramPrefixJoinOf(Dedup.gramHashRowsOf(docs)))
      val collapsed = pairsOf(prefixJoinForced(docs, collapse = true))
      assert(direct == collapsed,
        s"only-direct ${direct -- collapsed}\nonly-collapsed ${collapsed -- direct}")
      assert(branched == direct)
      assert(branched.nonEmpty)
    }
  }

  test("duplicated short texts (no shingles) pair with nothing on either path") {
    // 4 copies of a 2-token text + 3 copies of a 1-token text: the
    // corpus is clone-HEAVY (flag = collapse), but none of these
    // clones share a single 3-gram, so the uncollapsed join — and
    // therefore the collapsed closed form — must emit zero rows
    val corpus = (1L to 4L).map(i => (i, "hello world")) ++
      (11L to 13L).map(i => (i, "singleton"))
    val dir = writeDocs(corpus)
    val docs = graft.sources.Tables.documents(spark, dir)
    val geom = Dedup.bandGeometryOf(docs)
    assert(Dedup.dropList(spark, dir).isEmpty)
    assert(dropListForced(docs, geom, collapse = true).isEmpty)
    assert(Dedup.ngramPrefixJoin(spark, dir).isEmpty)
    assert(prefixJoinForced(docs, collapse = true).isEmpty)
    assert(Dedup.components(spark, dir).isEmpty,
      "short clones must not form components (they share no grams)")
    // and a MIXED corpus keeps the long-text component while still
    // excluding the short clones
    val mixed = corpus ++ Seq((21L, base), (22L, base), (23L, base + " tail"))
    val dirM = writeDocs(mixed)
    val comp = Dedup.components(spark, dirM).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(comp == Set((21L, 21L), (22L, 21L), (23L, 21L)), s"got $comp")
  }
}
