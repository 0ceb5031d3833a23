package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration on one gate without paying the full dump)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // expected tables for the four codec queries (independent-decoder
    // oracle inputs) — must exist before the driver's DuckDB replay
    // of their oracle SQL; see graft.tools.ExpectedMedia
    val codecNames =
      Set("mm_decode", "mm_resize", "dedup_image", "dedup_audio")
    if (only.forall(f => codecNames.exists(f.contains)))
      try graft.tools.ExpectedMedia.writeAll(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] expected-media write failed: ${e.getMessage}")
      }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // a query that throws must leave no output, not a previous run's
      val out = new java.io.File(s"$outDir/$name")
      FileUtils.deleteQuietly(out)
      try fn(spark, sfDir).coalesce(1).write.parquet(out.getPath)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
