package graft

import graft.ops.FoodPipeline
import graft.streaming.Streams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Streaming throughput micro-bench: pushes synthetic producer pages
  * (the reference's message shape, 100 products per page) through the
  * full parse → flatten → aggregate pipeline and reports products/sec
  * for three configurations:
  *  - `single`: one complete-mode aggregation (the round-1 number);
  *  - `fleet`: the reference's FULL 7-query fleet
  *    ([[Streams.foodQueryFleet]] — 5 update-mode upserts + 2
  *    per-batch top-K appends) running concurrently off one source,
  *    default (HDFS-backed) state store;
  *  - `fleet_rocksdb`: the same fleet on the RocksDB state store
  *    provider — the provider a production deployment would run, where
  *    state outgrows the JVM heap.
  *
  * Context: the reference's *designed* ingest rate is ~25 rows/s
  * (100-row page per 4 s of sleeps, BASELINE.md) — its Spark consumer
  * is never the bottleneck, the producer throttles. This measures what
  * the consumer side actually sustains on one node.
  */
object StreamBench {

  private def session(rocksdb: Boolean): SparkSession =
    LocalSession.build(extra =
      if (rocksdb)
        Map("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Map.empty)

  private def page(p: Int): String = graft.sources.PagesSource.pageJson(p, 100)

  /** One complete-mode aggregation over a memory sink. */
  private def runSingle(spark: SparkSession, pages: Int, batchSize: Int): Double = {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val counts = FoodPipeline.nutriscoreDistribution(FoodPipeline.parsePage(in.toDF()))
    val q = counts.writeStream.format("memory").queryName("bench_counts")
      .outputMode(OutputMode.Complete()).start()
    in.addData(page(0)); q.processAllAvailable() // warmup
    val t0 = System.nanoTime()
    (1 to pages).map(page).grouped(batchSize).foreach { g =>
      in.addData(g); q.processAllAvailable()
    }
    val sec = (System.nanoTime() - t0) / 1e9
    q.stop()
    sec
  }

  /** The full 7-query fleet off one MemoryStream. Each addData group
    * is drained by every query before the next lands (the fleet shares
    * the source, so the slowest member paces the batch — exactly the
    * production backpressure shape). */
  private def runFleet(spark: SparkSession, pages: Int, batchSize: Int): Double = {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_streambench")
    val in = MemoryStream[String]
    val parsed = FoodPipeline.parsePage(in.toDF())
    // start incrementally INSIDE the try: if the Nth start() throws,
    // the finally still stops the N-1 already-running queries instead
    // of leaking them into the next measurement
    val queries = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.streaming.StreamingQuery]
    try {
      Streams.foodQueryFleet(parsed, s"$dir/out", s"$dir/ckpt")
        .foreach(w => queries += w.start())
      in.addData(page(0)); queries.foreach(_.processAllAvailable()) // warmup
      val t0 = System.nanoTime()
      (1 to pages).map(page).grouped(batchSize).foreach { g =>
        in.addData(g); queries.foreach(_.processAllAvailable())
      }
      (System.nanoTime() - t0) / 1e9
    } finally queries.foreach(_.stop())
  }

  /** Stateful-operator throughput: the full sf corpus of events
    * through [[graft.streaming.StatefulTransitions]] in `batches`
    * micro-batches (event-time order, the q147 oracle wrapper's EXACT
    * distributed feed — range-sorted chunk files, one per trigger),
    * noop sink — measures the keyed state-store path (read-modify-
    * write one TransState per user per batch), not result
    * materialization. The feed is staged once; the stream runs twice
    * on fresh checkpoints and the second (JIT- and provider-warm) run
    * is reported — the per-batch-interleaved warmup of the old
    * MemoryStream harness, AvailableNow edition. Returns
    * (events, seconds) for the timed replay of all `batches`. */
  private def runStateful(spark: SparkSession, sfDir: String,
                          batches: Int): (Long, Double) = {
    import graft.streaming.{StatefulTransitions, Streams}
    val dir = Streams.scratchDir("graft_statebench")
    StatefulTransitions.stageOrderedFeed(spark, sfDir, s"$dir/feed", batches)
    val nEv = spark.read.parquet(s"$dir/feed").count()
    def run(tag: String): Double = {
      val t0 = System.nanoTime()
      Streams.runToCompletion(StatefulTransitions.transitions(
          StatefulTransitions.feedStream(spark, s"$dir/feed")).writeStream
        .format("noop").option("checkpointLocation", s"$dir/ckpt_$tag")
        .outputMode(OutputMode.Append()))
      (System.nanoTime() - t0) / 1e9
    }
    run("warm")
    (nEv, run("timed"))
  }

  /** The stateful leg at REPLICATED state size (r12 verdict item 5):
    * events cloned R× with FRESH user ids (user_id + rep·stride) so
    * keyed state grows ×R — the regime where the RocksDB-vs-default
    * A/B actually has something to disagree about (the 1× A/B measured
    * kilobyte state and correctly kept the default; its documented
    * inversion point — state ≫ heap — was untested). Three configs on
    * ONE staged feed, fresh checkpoints each run, warm + 3 timed,
    * MEDIANS reported: default HDFS-backed, RocksDB, and RocksDB with
    * changelog checkpointing (`...rocksdb.changelogCheckpointing
    * .enabled` — uploads per-batch changelogs instead of full
    * snapshots, the knob the 100 TB design cites for sub-second
    * triggers over large state). */
  private def runReplicated(spark: SparkSession, feedDir: String,
                            tag: String, timed: Int = 3): Seq[Double] = {
    import graft.streaming.{StatefulTransitions, Streams}
    def once(i: Int): Double = {
      val t0 = System.nanoTime()
      Streams.runToCompletion(StatefulTransitions.transitions(
          StatefulTransitions.feedStream(spark, feedDir)).writeStream
        .format("noop").option("checkpointLocation",
          s"$feedDir/../ckpt_${tag}_$i")
        .outputMode(OutputMode.Append()))
      (System.nanoTime() - t0) / 1e9
    }
    once(-1) // JIT + provider warmup
    (0 until timed).map(once)
  }

  private def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2 // true median for even runs
  }

  def main(args: Array[String]): Unit = {
    val pages = if (args.nonEmpty) args(0).toInt else 500
    val batchSize = if (args.length > 1) args(1).toInt else 50
    val reps = if (args.length > 2) args(2).toInt else 20
    val fleetPages = math.max(pages / 5, 20) // 7 concurrent queries — smaller page budget
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    val spark = session(rocksdb = false)
    spark.sparkContext.setLogLevel("ERROR")
    val singleSec = runSingle(spark, pages, batchSize)
    val fleetSec = runFleet(spark, fleetPages, batchSize)
    // the state store inherits shuffle.partitions at first start — 8
    // is the harness grain (the q113 sizing note)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val (nEv, statefulSec) = runStateful(spark, sfDir, 8)

    // stage the R×-state feed once (fresh user ids per replica; event
    // ids offset so the (ts, event_id) replay order stays total)
    import org.apache.spark.sql.functions._
    val bigDir = graft.streaming.Streams.scratchDir("graft_statebench_r")
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp_ltz").as("ts"),
        col("event_type"), col("event_id").cast("long").as("event_id"))
    val strides = ev.agg(max(col("user_id")), max(col("event_id"))).head()
    val (uS, eS) = (strides.getLong(0) + 1L, strides.getLong(1) + 1L)
    Streams.orderedChunkFeed(
      ev.crossJoin(spark.range(reps).toDF("rep"))
        .select((col("user_id") + col("rep") * uS).as("user_id"), col("ts"),
          col("event_type"), (col("event_id") + col("rep") * eS).as("event_id")),
      s"$bigDir/feed", 8, col("ts"), col("event_id"))
    val nBig = spark.read.parquet(s"$bigDir/feed").count()
    val bigDefault = runReplicated(spark, s"$bigDir/feed", "default")
    spark.stop()

    val sparkR = session(rocksdb = true)
    sparkR.sparkContext.setLogLevel("ERROR")
    val fleetRocksSec = runFleet(sparkR, fleetPages, batchSize)
    sparkR.conf.set("spark.sql.shuffle.partitions", "8")
    val (nEvR, statefulRocksSec) = runStateful(sparkR, sfDir, 8)
    val bigRocks = runReplicated(sparkR, s"$bigDir/feed", "rocksdb")
    sparkR.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    val bigRocksCl = runReplicated(sparkR, s"$bigDir/feed", "rocksdb_cl")
    sparkR.stop()

    val singleRate = pages * 100L / singleSec
    val fleetRate = fleetPages * 100L / fleetSec
    val fleetRocksRate = fleetPages * 100L / fleetRocksSec
    val statefulRate = nEv / statefulSec
    val statefulRocksRate = nEvR / statefulRocksSec
    println(f"""{"metric":"stream_products_per_sec","value":$singleRate%.0f,"fleet":$fleetRate%.0f,"fleet_rocksdb":$fleetRocksRate%.0f,"stateful_events_per_sec":$statefulRate%.0f,"stateful_rocksdb_events_per_sec":$statefulRocksRate%.0f,"stateful_events":$nEv,"pages":$pages,"fleet_pages":$fleetPages,"seconds":$singleSec%.2f,"fleet_seconds":$fleetSec%.2f,"fleet_rocksdb_seconds":$fleetRocksSec%.2f,"stateful_seconds":$statefulSec%.2f,"stateful_rocksdb_seconds":$statefulRocksSec%.2f,"state_reps":$reps,"stateful_r_events":$nBig,"stateful_r_default_med":${medianOf(bigDefault)}%.2f,"stateful_r_rocksdb_med":${medianOf(bigRocks)}%.2f,"stateful_r_rocksdb_changelog_med":${medianOf(bigRocksCl)}%.2f,"stateful_r_default_runs":"${bigDefault.map(t => f"$t%.2f").mkString(" ")}","stateful_r_rocksdb_runs":"${bigRocks.map(t => f"$t%.2f").mkString(" ")}","stateful_r_rocksdb_changelog_runs":"${bigRocksCl.map(t => f"$t%.2f").mkString(" ")}"}""")
  }
}
