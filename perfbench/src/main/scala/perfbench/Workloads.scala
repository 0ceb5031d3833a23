package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The batch workload: a fixed list of production-tier registered
  * queries over the fixture tables. The seed only permutes the order
  * each pass runs them in. perfbench/WORKLOADS.md records why each
  * list was chosen and what it reads.
  */
object Workloads {
  type Query = (SparkSession, String) => DataFrame

  final case class Batch(name: String, queries: Seq[String])

  val relational: Batch = Batch("relational",
    Seq("q1_pricing_summary", "q2_revenue_by_nation",
      "q7_top_orders_per_customer", "ops_agg_pushdown", "merge_lww"))

  val batch: Map[String, Batch] = Seq(relational).map(b => b.name -> b).toMap

  val names: Seq[String] = Seq(relational.name, StreamWorkload.Name)

  /** The registered functions for `b`, failing loudly if a name is
    * missing or is a baseline twin rather than a production query.
    */
  def resolve(b: Batch): Seq[(String, Query)] = {
    val reg = SparkEntry.queries
    b.queries.map { q =>
      require(reg.contains(q), s"${b.name}: query $q is not registered")
      require(!SparkEntry.baselineQueries.contains(q),
        s"${b.name}: query $q is a baseline twin, not production-tier")
      q -> reg(q)
    }
  }
}
