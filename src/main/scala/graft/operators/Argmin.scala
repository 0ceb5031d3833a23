package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  CreateStruct, EqualTo, Expression, GreaterThan, If, IsNull, LessThan,
  Literal, Or, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** The engine's one exact per-key argmin: one row per `keys` group —
  * the row `row_number() over (partition by keys order by score, id)
  * = 1` keeps, exactly. A double score ranks on the integer behind
  * pround(score, 6), floor(score·10⁶ + 0.5); an integral score on its
  * value. `desc` compares that INTEGER descending (an argmax), ties
  * still to the lowest id: negating the double instead would move the
  * half-micro rounding ties away from `pround(score, 6) DESC`, and
  * negating the integer would overflow at Long.MinValue.
  *
  * One `groupBy(keys)` with the [[ArgminBy]] aggregate: a map-side
  * partial plus a final HashAggregate, one pass over `rows`, no sort
  * and no join. Any id (negative, or beyond 2⁴²) ranks as the window
  * does.
  *
  * A NULL or NaN score, a NULL id, and a double score with |score|
  * above [[MaxMicro]] (its micro integer would not fit a long) fail
  * the query with `tag` in the message, BEFORE any integerization
  * (floor(NaN) is 0 and would rank silently). Output: keys, id
  * (BIGINT), `carry`, then the `extra` aggregates, which ride in the
  * same groupBy. Carried columns must be fixed-width (UnsafeRow-
  * mutable): a variable-width buffer slot would plan a SortAggregate.
  */
private[graft] object Argmin {

  /** |score| bound of a double score: its micro integer must fit a long. */
  private val MaxMicro = 9.0e12

  def apply(rows: DataFrame, keys: Seq[String], score: String, id: String,
            tag: String, desc: Boolean = false,
            carry: Seq[String] = Nil, extra: Seq[Column] = Nil): DataFrame = {
    for (c <- carry)
      require(UnsafeRow.isMutable(rows.schema(c).dataType),
        s"$tag: carried column $c (${rows.schema(c).dataType.simpleString}) " +
          "is not fixed-width; it would plan a SortAggregate")
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
    val ranked =
      if (micro) checked.when(abs(s) <= lit(MaxMicro), rank)
        .otherwise(fail(s"|$score| above $MaxMicro"))
      else checked.otherwise(rank)
    val best = ColumnBridge.column(ArgminBy(
      ColumnBridge.expression(col("__rank")),
      ColumnBridge.expression(i.cast("long")),
      carry.map(n => ColumnBridge.expression(col(n))), id +: carry, desc)
      .toAggregateExpression())
    val g = keys.map(col)
    val out = rows.withColumn("__rank", ranked).groupBy(g: _*)
      .agg(best.as("__best"), extra: _*)
    out.select(g ++ (col("__best.*") +: out.columns.drop(keys.size + 1).map(col)): _*)
  }
}

/** The aggregate behind [[Argmin]], on Spark's `MaxMinBy` template:
  * keeps the input row that is smallest on (rank, id) — rank compared
  * descending when `desc` — and returns struct(id, carry…) under
  * `names`. Its buffer is primitive slots only (best rank, best id,
  * one per carried column), so it plans as a HashAggregate; an empty
  * buffer has a NULL rank and loses every comparison.
  */
private[graft] case class ArgminBy(rank: Expression, id: Expression,
                                   carry: Seq[Expression], names: Seq[String],
                                   desc: Boolean)
    extends DeclarativeAggregate {

  override def children: Seq[Expression] = rank +: id +: carry
  override def nullable: Boolean = true
  override def dataType: DataType = evaluateExpression.dataType

  private lazy val slots: Seq[AttributeReference] =
    AttributeReference("rank", LongType)() +:
      names.zip(id +: carry).map { case (n, e) => AttributeReference(n, e.dataType)() }

  override lazy val aggBufferAttributes: Seq[AttributeReference] = slots
  override lazy val initialValues: Seq[Expression] =
    slots.map(a => Literal.create(null, a.dataType))

  /** Whether the candidate (r, i) replaces the best (br, bi). */
  private def wins(r: Expression, i: Expression, br: Expression, bi: Expression) =
    Or(IsNull(br), Or(if (desc) GreaterThan(r, br) else LessThan(r, br),
      And(EqualTo(r, br), LessThan(i, bi))))

  override lazy val updateExpressions: Seq[Expression] = {
    val take = wins(rank, id, slots(0), slots(1))
    children.zip(slots).map { case (v, b) => If(take, v, b) }
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val take = wins(slots(0).right, slots(1).right, slots(0).left, slots(1).left)
    slots.map(b => If(take, b.right, b.left))
  }

  override lazy val evaluateExpression: Expression = CreateStruct(slots.tail)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArgminBy =
    copy(rank = newChildren(0), id = newChildren(1), carry = newChildren.drop(2))
}
