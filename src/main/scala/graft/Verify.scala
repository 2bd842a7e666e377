package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `runMain graft.Verify <sfDir> <outDir> [queryName...]` — extra
    * args subset the registry (local iteration; the driver passes 2). */
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val queries = SparkEntry.subset(args.drop(2).toSeq)
    val spark = LocalSession.build()
    run(spark, sfDir, outDir, queries,
      SparkEntry.oracleSql.view.filterKeys(queries.keySet).toMap)
    spark.stop()
  }

  /** The dump itself, parameterized for tests; returns the failure map
    * (also persisted as verify_errors.json — a query that throws must
    * not vanish from the round's ledger: r5's q17 threw, was omitted
    * from CORRECTNESS, and the all-pass summary overstated coverage).
    *
    * `oracleSql` is BY-NAME and must only be forced AFTER the query
    * loop: the k-means-family oracle strings (q36/q57/q58/...) embed
    * the codebook trained by the queries themselves (lastCodebook), so
    * forcing the map before the loop captures the untrained seed
    * fallback and every IVF/PQ oracle silently disagrees with the
    * dumped results (caught by the oracle gate when this was briefly a
    * strict parameter: 95/102). */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          queries: Map[String, (SparkSession, String) => DataFrame],
          oracleSql: => Map[String, String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
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
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
    failures.toMap
  }
}
