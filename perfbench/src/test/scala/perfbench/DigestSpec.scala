package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def table = spark.range(0, 500).select(
    col("id"), (col("id") % 7).as("k"), (col("id") * 0.5).as("x"),
    concat(lit("s"), col("id").cast("string")).as("s"),
    array(col("id"), col("id") + 1).as("arr"),
    map(lit("a"), col("id")).as("m"))

  test("digest ignores row order and partitioning") {
    val base = Digest.of(table)
    assert(Digest.rows(base) == 500L)
    assert(Digest.of(table.orderBy(col("id").desc)) == base)
    assert(Digest.of(table.repartition(1)) == base)
    assert(Digest.of(table.repartition(7, col("k"))) == base)
  }

  test("digest changes when a value, a row or a duplicate changes") {
    val base = Digest.of(table)
    assert(Digest.of(table.withColumn("x", when(col("id") === 3, 0.0).otherwise(col("x")))) != base)
    assert(Digest.of(table.filter(col("id") =!= 42)) != base)
    assert(Digest.of(table.union(table.filter(col("id") === 42))) != base)
  }

  test("duplicate column names and empty results are digestible") {
    val t = table.select(col("id"), col("k"))
    // k = id % 7 over 0..499: three groups of 72 ids, four of 71
    assert(Digest.rows(Digest.of(t.join(t, "k"))) == 3L * 72 * 72 + 4L * 71 * 71)
    val dup = t.select(col("id").as("a"), col("k").as("a"))
    assert(Digest.rows(Digest.of(dup)) == 500L)
    assert(Digest.of(t.filter(lit(false))) == "0:0")
  }
}
