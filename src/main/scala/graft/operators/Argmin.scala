package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** The engine's one exact per-key argmin: one row per `keys` group —
  * the row `row_number() over (partition by keys order by score, id)
  * = 1` keeps, exactly. A double score ranks on the integer behind
  * pround(score, 6), floor(score·10⁶ + 0.5); an integral score on its
  * value. `desc` ranks that INTEGER descending (an argmax): negating
  * the double instead would move the half-micro rounding ties away
  * from `pround(score, 6) DESC`.
  *
  * The caller's declared [[Bound]] picks the form:
  *  - bounded: ONE codegen'd map-side-partial HashAggregate over the
  *    packed long (rank − lo)·(idHi + 1) + id (hi − rank for `desc`);
  *    min() of it decodes the winning id, and carried columns ride as
  *    min_by(c, pack). Every buffer is a primitive, which is what
  *    keeps the plan a HashAggregate: the obvious
  *    min_by(id, struct(score, id)) has a struct buffer that is not
  *    UnsafeRow-mutable, so it plans a SortAggregate that re-sorts the
  *    candidate stream — the sort this helper exists to remove.
  *  - unbounded: a score with no declared range cannot share a long
  *    with the id, so two passes — min (max for `desc`) of the
  *    integer per key, a join-back of the rows on it, then min(id)
  *    among the tied rows. The rows are evaluated twice and the
  *    per-key winners are broadcast to the join-back, so keep `rows`
  *    cheap to recompute and the key count broadcastable.
  *
  * A NULL or NaN score, a NULL id and, in the bounded form, a value
  * outside the bound fail the query with `tag` in the message, BEFORE
  * any integerization (floor(NaN) is 0 and would rank silently).
  * Output: keys, id (BIGINT), `carry`, then the `extra` aggregates,
  * which ride in the same groupBy. Carried columns must be
  * fixed-width so the plan stays a HashAggregate.
  */
private[graft] object Argmin {

  /** The packed form's envelope: the ranked integer in [lo, hi], the
    * id in [0, idHi].
    */
  final case class Bound(lo: Long, hi: Long, idHi: Long) {
    require(lo <= hi && idHi >= 0 &&
      BigInt(hi) - lo + 1 <= BigInt(Long.MaxValue) / (BigInt(idHi) + 1),
      s"Argmin.Bound($lo, $hi, $idHi) does not pack into a long")
  }

  /** |score| bound of the unbounded form: its micro integer must fit a long. */
  private val MaxMicro = 9.0e12

  def apply(rows: DataFrame, keys: Seq[String], score: String, id: String,
            tag: String, desc: Boolean = false, bound: Option[Bound] = None,
            carry: Seq[String] = Nil, extra: Seq[Column] = Nil): DataFrame = {
    val s = col(score)
    val i = col(id)
    val micro = rows.schema(score).dataType == DoubleType
    val rank = if (micro) floor(s * lit(1000000d) + lit(0.5)).cast("long")
               else s.cast("long")
    def fail(what: String): Column = raise_error(concat(
      lit(s"$tag: $what: $id="), coalesce(i.cast("string"), lit("NULL")),
      lit(s", $score="), coalesce(s.cast("string"), lit("NULL"))))
    val checked = when(s.isNull || (if (micro) isnan(s) else lit(false)),
        fail(s"NULL or NaN $score"))
      .when(i.isNull, fail(s"null $id"))
    val g = keys.map(col)
    val carried = (c: Column) => carry.map(n => min_by(col(n), c).as(n))
    bound match {
      case Some(b) =>
        val ranked = if (desc) lit(b.hi) - rank else rank - lit(b.lo)
        val pack = checked
          .when(rank.between(b.lo, b.hi) && i.between(0L, b.idHi),
            ranked * lit(b.idHi + 1) + i)
          .otherwise(fail(s"outside packed range ($score rank in " +
            s"[${b.lo}, ${b.hi}], $id in [0, ${b.idHi}])"))
        val out = rows.withColumn("__pack", pack).groupBy(g: _*)
          .agg(min(col("__pack")).as("__pack"),
            carried(col("__pack")) ++ extra: _*)
        out.select(g ++ ((col("__pack") % lit(b.idHi + 1)).as(id) +:
          out.columns.drop(keys.size + 1).map(col)): _*)
      case None =>
        val ranked = checked
          .when(if (micro) abs(s) <= lit(MaxMicro) else lit(true), rank)
          .otherwise(fail(s"|$score| above $MaxMicro"))
        // never NULL (those rows raise); declared non-nullable so the
        // join-back infers no isnotnull filter that would re-evaluate
        // the score expression below the join
        val r = rows.withColumn("__rank", coalesce(ranked, lit(0L)))
        val best = r.groupBy(g: _*).agg(
          (if (desc) max(col("__rank")) else min(col("__rank"))).as("__rank"),
          extra: _*)
        val extraNames = best.columns.drop(keys.size + 1)
        r.join(broadcast(best), keys :+ "__rank")
          .groupBy((g ++ extraNames.map(col)): _*)
          .agg(min(i.cast("long")).as(id), carried(i): _*)
          .select((g ++ (Seq(id) ++ carry ++ extraNames).map(col)): _*)
    }
  }
}
