package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CrossEngine.pround
import graft.operators.Relational
import graft.sources.Tables

/** `q2_revenue_by_nation` aggregates on the integer nation key after a
  * single probe per lineitem row; it must return exactly the rows of
  * the five-way star join aggregated by (r_name, n_name) that it
  * replaced.
  */
class RevenueByNationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.01"

  private def fiveWayJoin() = {
    val c = Tables.customer(spark, sf); val o = Tables.orders(spark, sf)
    val l = Tables.lineitem(spark, sf); val n = Tables.nation(spark, sf)
    val r = Tables.region(spark, sf)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(pround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  test("q2 equals the five-way star join aggregated by name at sf0.01") {
    val got = Relational.q2RevenueByNation(spark, sf).collect().toSeq
    assert(got.size == 25)
    assert(got == fiveWayJoin().collect().toSeq)
  }
}
