package graft

import org.apache.spark.sql.SparkSession

/** The ONE local-mode SparkSession factory for every runnable main in
  * this repo (Bench, Verify, the stress harnesses, the dev probes).
  * Nine hand-copied builder blocks drifted before this existed — the
  * round-6 q17 outage was exactly this class of drift (a config
  * present in some copies, absent where it mattered). Parallelism
  * comes from SPARK_GRAFT_CPUS (driver contract), shuffle partitions
  * match it (local mode: one core per partition is the right size,
  * not the 200 default), and [[engineConfs]] — the settings every
  * query path assumes — are applied unconditionally.
  */
object LocalSession {
  /** Engine-wide settings: the parquet/ICU/timezone behaviour every
    * query path assumes, plus the two that let generated code compile
    * once per JVM instead of once per session per run.
    *
    * `spark.sql.artifact.isolation.enabled=false`: Spark keys its
    * codegen cache by (the thread's context ClassLoader, source). With
    * isolation on, every SparkSession — each `newSession()` child the
    * stream rows open, and each stream's internal clone — gets its own
    * JobArtifactState, so its tasks run under a fresh per-session
    * classloader and every class it generates misses the cache, even
    * when byte-identical to one compiled a run earlier (CodegenReuseSpec:
    * one parquet-scan query recompiled 5 classes in a second child).
    * Isolation exists for Spark Connect and per-session jars; this
    * engine is single-tenant and adds no artifacts, so one shared
    * loader loses nothing.
    *
    * `spark.sql.codegen.cache.maxEntries`: Spark reads it once, at the
    * JVM's first compile. An LRU smaller than a cyclic working set
    * misses on every access, and the default of 100 was smaller than
    * even the two landed-artifact lifecycle rows: each pass of q157 +
    * q222 recompiled ~142 classes (~10 ms of driver CPU each, plus
    * re-JIT of every new class). One full sf0.01 board pass
    * (`graft.Verify`, `local[4]`, shared loader, unbounded cache)
    * compiles 4155 distinct classes; 8192 holds it with ~2× headroom. */
  val engineConfs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.icu.caseMappings.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "8192")

  def build(defaultCpus: String = "4",
            extra: Map[String, String] = Map.empty): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
    (engineConfs ++ extra).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
