package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a query result: the row count
  * plus the sum of a 64-bit hash of every column of every row.
  * Summing makes it independent of row order and of how the rows are
  * partitioned, so it can be recorded once and checked on any core
  * count.
  */
object Digest {

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType       => true
    case a: ArrayType     => hasMap(a.elementType)
    case s: StructType    => s.fields.exists(f => hasMap(f.dataType))
    case _                => false
  }

  /** `rows:hashsum` for `df`. Columns are renamed by position first,
    * so duplicate output names hash like any other; map-typed columns
    * (which Spark's hash refuses) go through their JSON rendering.
    */
  def of(df: DataFrame): String = {
    val fields = df.schema.fields
    val positional = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.map { case (f, i) =>
      if (hasMap(f.dataType)) to_json(col(s"c$i")) else col(s"c$i")
    }
    val row = positional
      .select(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    s"${row.getLong(0)}:${row.getDecimal(1).toBigInteger}"
  }

  def rows(digest: String): Long = digest.takeWhile(_ != ':').toLong
}
