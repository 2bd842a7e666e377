package graft

import org.apache.spark.sql.SparkSession

/** The ONE local-mode SparkSession factory for every runnable main in
  * this repo (Bench, Verify, Scale, StreamBench).
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
    * query path assumes, two that let generated code compile once per
    * JVM instead of once per session per run, and two that keep local
    * file I/O from starting processes.
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
    * compiles 4155 distinct classes; 8192 holds it with ~2× headroom.
    *
    * The last two keep local I/O in-process. Hadoop without its native
    * library (`libhadoop`) stands in for the native calls by forking: a
    * `chmod` for every created file and directory, and two `readlink`s
    * for every `FileContext` rename, the path Spark's default checkpoint
    * manager takes for every offset, commit, metadata and state-store
    * file. JFR counted 1127 `jdk.ProcessStart` events per timed pass
    * of perfbench's `ingest` workload (714 `chmod` and 1536 `readlink`
    * over 2 passes) and 468 on `lifecycle`, each with its own stderr
    * reader thread; with the two entries below, 2 and 0 (Spark's own
    * `rm -rf`), and ingest `pass_cpu_s` fell 6.23 → 4.35 s (PLANS.md).
    *
    * `spark.hadoop.fs.file.impl`: [[graft.io.LocalFs]], Hadoop's
    * checksummed `LocalFileSystem` whose raw layer sets permissions
    * through `java.nio` (the sticky bit, which NIO cannot express, keeps
    * Hadoop's `chmod`). The `.crc` sidecars stay.
    *
    * `spark.sql.streaming.checkpointFileManagerClass`: Spark's own
    * FileSystem-based checkpoint manager, so checkpoint files go through
    * `fs.file.impl` (the in-process `chmod`) and commit by
    * `RawLocalFileSystem.rename`, one `rename(2)`, atomic on a local
    * POSIX filesystem. Spark 4.1's state-file checksums wrap it as they
    * wrapped the `FileContext` one. With both, no local I/O path starts
    * a process (LocalFsSpec). */
  val engineConfs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.icu.caseMappings.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.LocalFs].getName,
    "spark.sql.streaming.checkpointFileManagerClass" ->
      ("org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager"))

  /** `local[SPARK_GRAFT_CPUS]`, 4 cores when unset. `extra` overrides
    * [[engineConfs]] (perfbench's traced run installs its counters). */
  def build(extra: Map[String, String] = Map.empty): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
    (engineConfs ++ extra).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
