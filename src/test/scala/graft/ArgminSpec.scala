package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CrossEngine.pround
import graft.operators.{Argmin, Similarity}

/** Property spec for the one argmin primitive: it equals the window
  * reference `row_number() over (partition by k order by score, id) =
  * 1` (score micro-rounded when double), carried columns and extra
  * aggregates included, for any id and any integral rank; NULL, NaN,
  * null ids and |score| above its micro range fail the query.
  */
class ArgminSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Generated (k, id, score, c) groups; ids repeat within a key, and
    * rows tied on (k, id, ranked score) are kept once so the reference
    * is unambiguous.
    */
  private def groups(seed: Long, n: Int)(score: scala.util.Random => Double): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(12).toLong, score(rnd), rnd.nextLong()))
      .groupBy { case (k, id, sc, _) => (k, id, math.floor(sc * 1e6 + 0.5)) }
      .values.map(_.head).toSeq
      .toDF("k", "id", "score", "c")
  }

  private def reference(rows: DataFrame, desc: Boolean): Set[Row] = {
    val micro = rows.schema("score").dataType.typeName == "double"
    val r = if (micro) pround(col("score"), 6) else col("score")
    val w = Window.partitionBy(col("k")).orderBy(if (desc) r.desc else r, col("id"))
    val n = rows.groupBy(col("k")).agg(count(lit(1)).as("n"))
    rows.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(n, Seq("k"))
      .select(col("k"), col("id"), col("c"), col("score"), col("n"))
      .collect().toSet
  }

  private def argmin(rows: DataFrame, desc: Boolean): Set[Row] =
    Argmin(rows, Seq("k"), "score", "id", "spec", desc = desc,
      carry = Seq("c", "score"), extra = Seq(count(lit(1)).as("n")))
      .collect().toSet

  private def agrees(rows: DataFrame): Unit =
    for (desc <- Seq(false, true)) {
      val ref = reference(rows, desc)
      assert(ref.size > 10)
      assert(argmin(rows, desc) === ref, s"desc=$desc")
    }

  test("the argmin equals the window on micro-rounding ties, negatives and repeated ids") {
    // every score sits within ±4e-7 of j/1e6, so rows with equal j
    // tie after micro-rounding while their raw scores differ
    agrees(groups(1L, 600)(r => (r.nextInt(7) - 3) * 1e-6 + (r.nextDouble() - 0.5) * 8e-7))
    agrees(groups(2L, 600)(r => -r.nextDouble() * 4.0))
  }

  test("the argmin equals the window on integral scores") {
    agrees(groups(3L, 600)(r => (r.nextInt(9) - 4).toDouble)
      .withColumn("score", col("score").cast("long")))
  }

  test("the argmin equals the window on negative ids and ids beyond 2^42") {
    for (base <- Seq(-(1L << 50), 1L << 42, Long.MaxValue - 100L))
      agrees(groups(4L, 600)(r => (r.nextInt(7) - 3) * 1e-6)
        .withColumn("id", col("id") * 7L - 30L + lit(base)))
  }

  test("the argmin equals the window on integral ranks at Long.MaxValue and Long.MinValue") {
    // ties at both extremes: a desc rank computed by negation would
    // overflow at Long.MinValue and sort it first
    val extremes = Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, Long.MaxValue - 1, Long.MaxValue)
    agrees(groups(5L, 600)(r => r.nextInt(extremes.size).toDouble)
      .withColumn("score", element_at(typedLit(extremes), col("score").cast("int") + 1)))
  }

  test("the argmin equals the window on d2 in the thousands") {
    // the PqTrainSampleSpec corpus, scaled and shifted so per-slice d2
    // against unperturbed codewords runs into the thousands
    val v = spark.range(256).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), d -> cos(cast(id * 67 + d AS double)))").as("v"))
    val sub = Similarity.subVectors(
      v.select(col("vec_id"), expr("transform(v, x -> x * 7.0 + 7.0)").as("v")))
    val cb = Similarity.subVectors(v.filter(col("vec_id") % 16 === 0))
      .select(col("m"), col("vec_id").as("kid"), col("sv").as("kv"))
    val rows = sub.join(cb, Seq("m"))
      .select(
        (col("vec_id") * 4 + col("m")).as("k"), col("kid").as("id"),
        expr("aggregate(zip_with(sv, kv, (a, b) -> (a - b) * (a - b)), 0d, (s, x) -> s + x)")
          .as("score"),
        col("vec_id").as("c"))
    assert(rows.agg(max(col("score"))).head().getDouble(0) > 1000d)
    agrees(rows)
  }

  private def assertRaises(rows: DataFrame, what: String): Unit =
    for (desc <- Seq(false, true)) {
      val err = intercept[Exception](
        Argmin(rows, Seq("k"), "score", "id", "spec", desc = desc).collect())
      val messages = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(messages.exists(m => m.contains("spec:") && m.contains(what)),
        s"desc=$desc: expected '$what', got: ${messages.head}")
    }

  test("NULL, NaN, null ids and |score| above the micro range raise") {
    val s = spark
    import s.implicits._
    def rows(bad: (Long, java.lang.Long, java.lang.Double)): DataFrame =
      Seq[(Long, java.lang.Long, java.lang.Double)]((1L, 1L, 0.5), (1L, 2L, 0.25), bad)
        .toDF("k", "id", "score")
    assertRaises(rows((1L, 3L, Double.NaN)), "NULL or NaN score")
    assertRaises(rows((1L, 3L, null)), "NULL or NaN score")
    assertRaises(rows((1L, null, 0.1)), "null id")
    assertRaises(rows((1L, 3L, 9.1e12)), "|score| above")
    assertRaises(rows((1L, 3L, Double.NegativeInfinity)), "|score| above")
  }

  test("a variable-width carried column is refused when the query is built") {
    val s = spark
    import s.implicits._
    val rows = Seq((1L, 1L, 0.5, "a")).toDF("k", "id", "score", "txt")
    val err = intercept[IllegalArgumentException](
      Argmin(rows, Seq("k"), "score", "id", "spec", carry = Seq("txt")))
    assert(err.getMessage.contains("carried column txt"), err.getMessage)
  }

  test("a NaN vector fails the decontam report and the PQ encode loudly") {
    val s = spark
    import s.implicits._
    def messages(err: Throwable): Seq[String] =
      Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    def vec(i: Long, nan: Boolean): Seq[Double] =
      (0 until 64).map(d => if (nan && d == 5) Double.NaN else math.cos(i * 67.0 + d))
    // brute branch: 2 evals (ids 0, 50) under a bruteMax of 10;
    // the NaN component sits in a document, then in an eval vector
    for (badId <- Seq(7L, 50L)) {
      val e = (0L until 60L).map(i => (i, vec(i, i == badId))).toDF("vec_id", "v")
        .withColumn("nrm", sqrt(graft.functions.DotProduct.dot_product(col("v"), col("v"))))
      val err = intercept[Exception](
        Similarity.semanticDecontamAdaptiveOf(e, 10L).collect())
      assert(messages(err).exists(_.contains("semanticDecontamAdaptive: NULL or NaN cos")),
        messages(err).head)
    }
    val en = (0L until 8L).map(i => (i, vec(i, i == 3L))).toDF("vec_id", "v")
      .select(col("vec_id"),
        expr("transform(v, x -> x / sqrt(aggregate(v, 0d, (a, y) -> a + y * y)))").as("v"))
    val cb = Similarity.subVectors(en.filter(col("vec_id") < 2))
      .select(col("m"), col("vec_id").as("kid"), col("sv").as("kv"))
    val err = intercept[Exception](Similarity.pqEncodeWith(en, cb).collect())
    assert(messages(err).exists(_.contains("assignCodesNarrow: NULL or NaN d2")),
      messages(err).head)
  }
}
