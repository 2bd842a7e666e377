package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Generated code compiles once per JVM, not once per session: the
  * stream rows open a fresh `newSession()` child on every run, and
  * Spark keys its codegen cache by the thread's context classloader,
  * which artifact isolation makes per-session (LocalSession.engineConfs). */
class CodegenReuseSpec extends SparkSpec {
  test("a parquet-scan query re-run in a fresh child session compiles nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_codegen").toString
    spark.range(0, 2000).selectExpr("id", "id % 7 AS k")
      .write.parquet(s"$dir/t")
    def compilesOfRunInFreshChild(): Long = {
      val child = spark.newSession()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val rows = child.read.parquet(s"$dir/t").filter(col("k") > 2)
        .groupBy(col("k")).agg(sum(col("id")).as("s")).collect()
      assert(rows.length === 4)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compilesOfRunInFreshChild() // fills the cache (or hits an earlier spec's entries)
    val second = compilesOfRunInFreshChild()
    assert(second === 0L,
      s"the second child session recompiled $second generated classes")
  }
}
