package graft.streaming

import graft.ops.FoodPipeline
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import org.apache.hadoop.fs.{FileSystem, Path}

/** Streaming wiring: sources, per-query sinks/checkpoints, and the
  * reference's six concurrently-running aggregation queries
  * (reference Consumer.scala:86-183) rebuilt on Structured Streaming.
  *
  * Batch/stream duality is the design spine: every transform in
  * [[graft.ops]] is a plain `DataFrame => DataFrame`, so the exact
  * function verified against the DuckDB oracle in batch is what runs
  * under `readStream` here — nothing is reimplemented for streaming.
  *
  * Scale deltas vs the reference (SURVEY.md §4 physical quirks):
  * - The reference runs all aggregations in COMPLETE mode and
  *   drop-and-recreates its JDBC tables every micro-batch — O(distinct
  *   keys) state held forever and O(full result) written per batch.
  *   Default here is UPDATE mode + changed-keys-only upsert; complete
  *   mode stays available for reference-faithful demos.
  * - Event-time queries carry watermarks, so state is bounded and late
  *   data has defined semantics (the reference accepts everything
  *   forever; SURVEY.md §2.5).
  */
object Streams {

  /** Opt-in sub-phase timing (`-Dgraft.phaseLog=1`): prints wall time
    * of a machinery step — inside the hot helpers here, and around the
    * feed / stream run / vacuum / audit steps of a composed
    * [[graft.queries.StreamingQ]] row — so lifecycle-row costs are
    * attributable to a step, not a whole row. Dev-only; the guard is a
    * static boolean so the disabled path costs nothing. */
  private[graft] val PhaseLog = sys.props.get("graft.phaseLog").contains("1")
  @inline private[graft] def phase[A](label: String)(f: => A): A =
    if (!PhaseLog) f
    else {
      val t0 = System.nanoTime(); val r = f
      println(f"[phase] $label%-30s ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }

  /** Runs independent Spark actions CONCURRENTLY and waits for all
    * (optimization guide §2.6: actions are only sequential because the
    * driver calls them sequentially; overlapping lets the next job's
    * tasks back-fill executors the current job's tail leaves idle).
    * Only for actions with no data dependency — e.g. one micro-batch's
    * writes to DISTINCT artifact paths off already-persisted frames.
    * Failures propagate: the first exception rethrows after all tasks
    * settle, so no write is silently abandoned mid-flight.
    *
    * Implementation: one dedicated thread per task, NOT the global
    * ForkJoinPool (ADVICE-r15: pool threads snapshot Spark's
    * InheritableThreadLocal job group / local properties at POOL-thread
    * creation, so jobs submitted from a reused pool thread lose the
    * caller's job group and survive a query cancellation; nested use
    * also risked pool starvation without blocking markers). A thread
    * created HERE inherits the calling thread's local properties by
    * construction, the concurrency degree is exactly `tasks.size`
    * (contract-bounded: 2–5 landings), and nesting cannot starve —
    * each level brings its own threads. Thread-per-call overhead is
    * microseconds next to the Spark actions being overlapped. */
  private def inParallel(tasks: (() => Unit)*): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.zipWithIndex.map { case (t, i) =>
      val th = new Thread(() =>
        try t() catch { case e: Throwable => failures.add(e) },
        s"graft-inparallel-$i")
      th.setDaemon(true)
      th.start()
      th
    }
    threads.foreach(_.join()) // settle ALL before rethrowing
    val first = failures.peek()
    if (first != null) throw first
  }

  // ---------------------------------------------------------------- sources

  /** Kafka source, reference-identical options (Consumer.scala:50-56).
    *
    * Runtime constraint, verified round 5 (re-censused every round
    * since, latest round 14: zero kafka jars in /opt/spark/jars, none
    * in the coursier cache): the connector is a separate
    * artifact (`spark-sql-kafka-0-10` + `kafka-clients`) that is NOT in
    * `/opt/spark/jars`, not in the offline
    * coursier cache, and not resolvable (zero egress) — and an embedded
    * KRaft broker would need `kafka_2.13` server jars, equally absent.
    * So `.load()` here fails with DATA_SOURCE_NOT_FOUND in this
    * container; the construction is asserted in tests and the streaming
    * fleet runs on the file/memory/graft-pages twins, which exercise
    * the same micro-batch machinery (offsets, admission, checkpoint
    * recovery) end to end. On a real cluster this function is the
    * reference's exact read path. */
  def kafkaSource(spark: SparkSession, servers: String, topic: String): DataFrame =
    kafkaSourceOptions(servers, topic)
      .foldLeft(spark.readStream.format("kafka")) {
        case (r, (k, v)) => r.option(k, v)
      }.load()

  /** The Kafka source options as a pure value — the reference contract
    * (Consumer.scala:50-56: subscribe by topic, start from earliest,
    * tolerate data loss), testable without a broker or connector jar.
    * StreamsSpec pins each option so S3's wiring is contract-tested
    * even where the connector can't load. */
  def kafkaSourceOptions(servers: String, topic: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> servers,
      "subscribe" -> topic,
      "startingOffsets" -> "earliest",
      "failOnDataLoss" -> "false")

  /** File-drop source: the testbed stand-in for the Kafka topic. Each
    * dropped file IS one producer page (`wholetext` — a pretty-printed
    * multi-line page would otherwise split into per-line rows that all
    * fail from_json and vanish silently under PERMISSIVE parsing).
    * Schema-on-read happens downstream in FoodPipeline.parsePage, like
    * the reference. */
  def jsonFileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.format("text").option("wholetext", "true").load(dir)

  /** One-file-per-trigger parquet feed: the staged files under `dir`
    * replay as one micro-batch each, oldest modification time first
    * (see [[orderedChunkFeed]]), read with the explicit `ddl` schema.
    * The replay harness every streamed oracle row and dev probe runs
    * on. */
  def fileFeed(session: SparkSession, ddl: String, dir: String): DataFrame =
    session.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .option("maxFilesPerTrigger", "1").parquet(dir)

  /** Rate source for load/throughput experiments. */
  def rateSource(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()

  /** Distributed event-time-ordered chunk feed (the "streamedFrame,
    * ordered edition"): range-partition `base` on `orderCols` into `n`
    * chunks, sort within each chunk, and stage the chunk files under
    * `feedDir` with strictly increasing modification times, so a file
    * source with `maxFilesPerTrigger=1` replays them as up-to-`n`
    * in-order micro-batches (`FileStreamSource` admits files
    * oldest-mtime-first, and `RangePartitioner` assigns ascending key
    * ranges to ascending partition ids = ascending part-file names).
    * The corpus never touches the driver: ordering is a distributed
    * range shuffle + per-partition sort; the driver's only work is
    * O(chunks) renames. Calling again for the same `feedDir` APPENDS
    * chunks that sort after everything already staged — how sentinel
    * flush batches are added behind a corpus. Returns the number of
    * chunk files staged (an empty range writes no file).
    *
    * Portability note: mtime staging assumes a filesystem with
    * settable modification times (local/HDFS). On an object store,
    * stage each chunk with a separate sequenced PUT instead (upload
    * order sets the listed mtime order) — or skip the harness
    * entirely: a production stream IS the in-order source; this feed
    * exists to replay a batch corpus as one for the oracle. */
  def orderedChunkFeed(base: DataFrame, feedDir: String, n: Int,
                       orderCols: org.apache.spark.sql.Column*): Int = {
    val stage = java.nio.file.Files.createTempDirectory("graft_feedstage")
    base.repartitionByRange(n, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .write.mode("overwrite").parquet(stage.toString)
    val dst = new java.io.File(feedDir)
    dst.mkdirs()
    // strictly after both wall-clock now and every already-staged chunk
    val t0 = (Option(dst.listFiles()).getOrElse(Array.empty)
      .map(_.lastModified()) :+ System.currentTimeMillis()).max + 2000L
    val parts = new java.io.File(stage.toString).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      val out = new java.io.File(dst, f.getName)
      java.nio.file.Files.move(f.toPath, out.toPath)
      // setLastModified FAILS by returning false (not throwing) on
      // filesystems without settable mtimes — and the whole in-order
      // replay invariant rides on these mtimes, so a silent false
      // would surface only as an inexplicable oracle mismatch (or a
      // sentinel flush replaying BEFORE the corpus). Fail loudly here.
      require(out.setLastModified(t0 + i * 2000L),
        s"orderedChunkFeed: cannot set mtime on $out — this filesystem " +
          "cannot stage an ordered feed (see the portability note)")
    }
    // every data file just moved OUT; only _SUCCESS/.crc markers remain.
    // Delete the stage now — unlike scratchDir feeds, nothing returned
    // to the caller is backed by these files, and a bench sweep stages
    // one of these per feed (JVM-exit cleanup would let them pile up).
    val walk = java.nio.file.Files.walk(stage)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(q => { java.nio.file.Files.deleteIfExists(q); () })
    finally walk.close()
    parts.length
  }

  /** A temp work dir removed recursively at JVM exit. The streaming
    * oracle wrappers stage corpus-scale feeds, sinks and checkpoints;
    * without cleanup one bench sweep (warmup + 2 timed runs × several
    * wrappers) accumulates a dozen corpus copies under /tmp until
    * staging writes start failing. Deletion must wait for JVM exit —
    * each wrapper RETURNS a DataFrame lazily backed by these files,
    * so a finally-block delete would break the caller's plan. */
  def scratchDir(prefix: String): String = {
    cleanupHookInstalled
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(p)
    p.toString
  }
  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val cleanupHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach { p =>
        try {
          val s = java.nio.file.Files.walk(p)
          try s.sorted(java.util.Comparator.reverseOrder())
            .forEach(q => { java.nio.file.Files.deleteIfExists(q); () })
          finally s.close()
        } catch { case _: Throwable => () } // never fail JVM exit
      }))

  // ------------------------------------------------------------------ sinks

  /** foreachBatch parquet sink, overwrite-per-batch — the scale-sane
    * equivalent of the reference's drop-and-recreate JDBC sink
    * (Consumer.scala:282-300): idempotent on replay, no global lock
    * (each query owns its directory). Complete mode is hardcoded: with
    * any partial-output mode, overwriting the directory with only the
    * changed keys would silently delete every unchanged key's row. */
  def overwriteParquetSink(df: DataFrame, path: String, checkpoint: String)
      : DataStreamWriter[Row] =
    microBatches(df, checkpoint, OutputMode.Complete()) { (batch, _) =>
      batch.write.mode("overwrite").parquet(path)
    }

  /** Console debug sink (reference K2, Consumer.scala:89 et al. —
    * `batchDF.show(1000)` per batch). numRows is capped: the
    * reference's 1000-row dump per batch per query is log spam at any
    * real rate; default keeps the first rows as a heartbeat. */
  def consoleSink(df: DataFrame, checkpoint: String, numRows: Int = 20,
                  mode: OutputMode = OutputMode.Complete())
      : DataStreamWriter[Row] =
    df.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .format("console")
      .option("numRows", numRows.toString)
      .option("truncate", "false")

  /** Replay-idempotent per-batch write: each micro-batch lands in its
    * own batch_id=N partition via dynamic partition overwrite, so a
    * batch replayed after a crash-between-commit-and-checkpoint
    * OVERWRITES its own partition instead of appending duplicates —
    * exactly-once output from an at-least-once foreachBatch.
    *
    * File-count note for the prefix-partitioned writes: every task
    * writes a file into every partition dir it touches, so a batch
    * costs up to tasks × dirs small files. At production scale,
    * cluster by the prefix first (`batch.repartition(prefixCols)`) —
    * one file per touched dir per batch, and the extra shuffle moves
    * fingerprint-grain rows, not documents. NOT done here: measured at
    * sf0.1 / 8 tasks the added shuffles cost q159 ~0.8 s/run while the
    * listing they save is negligible (≤128 files/batch) — the
    * crossover is where dirs × tasks outruns the prefix-row shuffle,
    * i.e. exactly the regime the [[FpPrefixLen]]/[[AnnBucketGroups]]
    * grain rules push wide.
    *
    * `refCols` (when non-empty) also maintains the `_refs` vacuum-
    * detection sidecar: one bloom-summary row per partition this batch
    * landed, appended AFTER the data commit (a crash in between replays
    * the batch, which re-appends the identical rows — see
    * [[refsCandidatePartitions]] for why duplicates are absorbed). */
  private[streaming] def writeBatchPartition(batch: DataFrame, batchId: Long,
                                  path: String,
                                  prefixPartitionCols: Seq[String] = Nil,
                                  refCols: Seq[String] = Nil,
                                  zoneCols: Seq[String] = Nil): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    val manifested = Manifests.isEnabled(fs, root)
    val landed0 = batch.withColumn("batch_id", lit(batchId))
    // ZONE-ONLY sidecars with no prefix partitioning (the retention
    // partials, q222's family) summarize to ONE row — global min/max
    // of the zone columns plus a row count over this batch's single
    // batch_id partition. Those aggregates ride the data write itself
    // via Dataset.observe (guide §1.2: one pass, not two) — no persist,
    // no second aggregation job; only the one-row sidecar append
    // remains. The general path below (bloom refs, or per-prefix-dir
    // zones) still needs the grouped second pass.
    val zoneObs =
      if (refCols.isEmpty && zoneCols.nonEmpty && prefixPartitionCols.isEmpty
          && !manifested) {
        val obs = org.apache.spark.sql.Observation(s"zones_$batchId")
        Some(obs)
      } else None
    // when a second pass over the landed frame follows (a grouped
    // sidecar aggregation, or the manifest's touched-dirs collect), the
    // frame would be evaluated TWICE — persist it so the second pass
    // reads the cached batch instead of re-running the whole batch plan
    // (measured: the pairs sidecar append otherwise re-runs the LSH
    // candidate joins and costs as much as the write itself; ADVICE-r15
    // medium: the manifest collect had the same recomputation after the
    // sidecar released the persist too early). O(batch) rows, released
    // before return. (guide §1.2: don't compute things twice)
    val wantRefs =
      (refCols.nonEmpty || zoneCols.nonEmpty) && zoneObs.isEmpty
    val needTwice = wantRefs || manifested
    val landed = zoneObs match {
      case Some(obs) =>
        val aggs = zoneCols.flatMap(c => Seq(
          min(col(c)).as(s"zmin_$c"), max(col(c)).as(s"zmax_$c"))) :+
          count(lit(1)).as("__n")
        landed0.observe(obs, aggs.head, aggs.tail: _*)
      case None => if (needTwice) landed0.persist() else landed0
    }
    try {
      phase(s"wbp write $path") {
        landed.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(prefixPartitionCols :+ "batch_id": _*)
          .parquet(path)
      }
      if (wantRefs)
        phase(s"wbp refsAppend $path") {
          refsAppend(landed, path, refCols, prefixPartitionCols :+ "batch_id",
            zoneCols)
        }
      zoneObs.foreach { obs =>
        phase(s"wbp zoneAppend $path") {
          val m = obs.get
          // an empty batch wrote no partition — no summary row either
          // (refsSummaryOf's groupBy semantics: no groups, no rows)
          if (m("__n").asInstanceOf[Long] > 0L) {
            val spark = batch.sparkSession
            val fields = org.apache.spark.sql.types.StructField(
                "batch_id", org.apache.spark.sql.types.LongType) +:
              zoneCols.flatMap(c => Seq(
                org.apache.spark.sql.types.StructField(
                  s"zmin_$c", batch.schema(c).dataType),
                org.apache.spark.sql.types.StructField(
                  s"zmax_$c", batch.schema(c).dataType)))
            val row = Row.fromSeq(batchId +:
              zoneCols.flatMap(c => Seq(m(s"zmin_$c"), m(s"zmax_$c"))))
            spark.createDataFrame(
                java.util.Collections.singletonList(row),
                org.apache.spark.sql.types.StructType(fields))
              .coalesce(1)
              .write.mode("append").parquet(s"$path/$RefsDir")
          }
        }
      }
      // a manifest-enabled artifact stays snapshot-consistent across
      // continued ingest: publish (previous files minus this batch's
      // replaced partitions) + the just-written files. O(touched dirs)
      // metadata per batch. The dynamic overwrite itself only replaces
      // THIS batch's partitions — a replayed batch rewriting its own
      // files is the one place the no-overwrite staging rule yields to
      // replay idempotence.
      if (manifested) {
        val partCols = prefixPartitionCols :+ "batch_id"
        val dirs = landed.select(partCols.map(col): _*).distinct()
          .collect().map(relOfRow(_, partCols)).toSet
        val prev = Manifests.resolveFiles(fs, root).get
          .filterNot(f => dirs.exists(d => f.startsWith(d + "/")))
        val added = dirs.toSeq.flatMap { d =>
          Manifests.dataFilesUnder(fs, new org.apache.hadoop.fs.Path(root, d))
            .map(f => s"$d/$f")
        }
        Manifests.commit(fs, root, prev ++ added)
      }
    } finally if (needTwice) landed.unpersist()
  }

  /** The one micro-batch header: a checkpointed `foreachBatch` stream
    * whose `step` sees each micro-batch with its id. The checkpoint
    * makes the source replayable; a step that overwrites only what
    * its batch id keys (see [[writeBatchPartition]]) makes the sink
    * idempotent — together, exactly-once landing. */
  private def microBatches(rows: DataFrame, checkpoint: String,
                           mode: OutputMode = OutputMode.Append())
                          (step: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] =
    rows.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(step)

  /** THE way a per-batch partial lands: each micro-batch is folded and
    * written to its own batch_id partition by [[writeBatchPartition]]
    * (the three optional arguments are its own). Every single-landing
    * monitor below is one call of this.
    *
    * The fold is also the schema-evolution hook (q228): a pipeline
    * upgrade swaps the fold (e.g. the hourly counts gain a value_cents
    * column) while the SAME checkpoint and landed log continue. The
    * fold runs inside foreachBatch, so the streaming plan is just the
    * source — changing the fold between restarts is
    * checkpoint-compatible by construction. Older batch partitions keep
    * the v1 schema, newer ones the v2; snapshot readers merge schemas
    * (`option("mergeSchema", true)`) and see v1 rows with the new
    * columns NULL — the lake-evolution contract at any scale.
    *
    * `zoneCols`: partial columns whose per-partition min/max land in
    * the `_refs` zone-map sidecar as each batch commits — the
    * detection feed for [[retentionVacuumKeyed]] (age retention is a
    * range predicate over exactly these columns). */
  def incrementalPartials(rows: DataFrame, path: String, checkpoint: String,
                          prefixPartitionCols: Seq[String] = Nil,
                          refCols: Seq[String] = Nil,
                          zoneCols: Seq[String] = Nil)
                         (fold: DataFrame => DataFrame): DataStreamWriter[Row] =
    microBatches(rows, checkpoint) { (batch, batchId) =>
      writeBatchPartition(fold(batch), batchId, path, prefixPartitionCols,
        refCols, zoneCols)
    }

  /** Runs a stream to completion: starts it with the AvailableNow
    * trigger (every input available now, in as many micro-batches as
    * the source's admission limit makes, then stop), waits for it, and
    * returns the finished query so callers can read its progress. */
  def runToCompletion[T](w: DataStreamWriter[T]): StreamingQuery = {
    val q = w.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** foreachBatch append sink with batch id partition — the reference's
    * append tables carry batch_id the same way (init.sql:43,51), but
    * replay-idempotent (see writeBatchPartition). */
  def appendParquetSink(df: DataFrame, path: String, checkpoint: String,
                        refCols: Seq[String] = Nil)
      : DataStreamWriter[Row] =
    incrementalPartials(df, path, checkpoint, refCols = refCols)(identity)

  /** Update-mode upsert sink: writes only the keys whose aggregate
    * changed this micro-batch, one batch_id partition per batch
    * (replay-idempotent, see writeBatchPartition) — at scale this
    * writes O(changed keys), not O(all keys). Readers take the latest
    * batch per key (latestSnapshot below). */
  def upsertParquetSink(df: DataFrame, path: String, checkpoint: String)
      : DataStreamWriter[Row] =
    microBatches(df, checkpoint, OutputMode.Update()) { (batch, batchId) =>
      writeBatchPartition(batch, batchId, path)
    }

  /** Batch view reconstructing current state from an upsert log:
    * latest batch_id wins per key. */
  def latestSnapshot(spark: SparkSession, path: String, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("batch_id").desc)
    readLanded(spark, path) // snapshot-pinned when enabled
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "batch_id")
  }

  // ------------------------------------------- the reference's query fleet

  /** All six live reference queries (Q1-Q6; Consumer.scala:63-68)
    * plus the commented-out Q7, wired source → parse → transform →
    * sink, each with its own checkpoint subdir — ready to `.start()`
    * concurrently exactly like the reference's six stream-execution
    * threads. `complete=true` reproduces the reference's output modes;
    * default uses update+upsert (bounded writes).
    */
  def foodQueryFleet(parsed: DataFrame, outDir: String, checkpointDir: String,
                     complete: Boolean = false): Seq[DataStreamWriter[Row]] = {
    def agg(name: String, t: DataFrame => DataFrame): DataStreamWriter[Row] = {
      val res = parsed.transform(t)
      if (complete)
        overwriteParquetSink(res, s"$outDir/$name", s"$checkpointDir/$name")
      else upsertParquetSink(res, s"$outDir/$name", s"$checkpointDir/$name")
    }
    Seq(
      agg("nutriscore_counts", FoodPipeline.nutriscoreDistribution),
      agg("category_counts", FoodPipeline.categoryDistribution),
      agg("brand_counts", FoodPipeline.brandDistribution),
      agg("packaging_distribution", FoodPipeline.packagingDistribution),
      agg("nova_group_classification", FoodPipeline.novaGroupSummary),
      // Q6/Q7 aggregate per-batch inside foreachBatch (reference
      // semantics: append-mode per-batch top-K, Consumer.scala:147-165)
      perBatchTopK(parsed, s"$outDir/top_additive_products",
        s"$checkpointDir/top_additive_products"),
      perBatchTopSugary(parsed, s"$outDir/top_sugary_products_by_category",
        s"$checkpointDir/top_sugary_products_by_category"),
    )
  }

  /** Q6: the aggregation runs on the per-batch slice inside
    * foreachBatch (reference Consumer.scala:147-165), so each batch
    * appends its own top-10. */
  def perBatchTopK(parsed: DataFrame, path: String, checkpoint: String)
      : DataStreamWriter[Row] =
    incrementalPartials(parsed.transform(FoodPipeline.additivesExploded),
      path, checkpoint)(FoodPipeline.topAdditiveAgg(_))

  /** Q7: per-batch windowed rank (reference Consumer.scala:106-124). */
  def perBatchTopSugary(parsed: DataFrame, path: String, checkpoint: String)
      : DataStreamWriter[Row] =
    incrementalPartials(parsed.transform(FoodPipeline.sugarsByCategory),
      path, checkpoint)(graft.ops.Shapes.argmaxPerGroup(_, "main_category",
        Seq(col("sugar").desc, col("product_name").asc)))

  // --------------------------------------- event-time ops (beyond reference)

  /** Watermarked tumbling-window counts: bounded state, late events
    * beyond the watermark are dropped with defined semantics. */
  def windowedEventCounts(events: DataFrame, watermark: String = "10 minutes",
                          window_ : String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("event_count"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("event_count"))

  /** Sliding-window variant — the same geometry constants as the q213
    * oracle row ([[graft.queries.StreamingQ.SlideLenSec]]/
    * [[graft.queries.StreamingQ.SlideStepSec]]), so the spec-level
    * wrapper and the oracle-gated census can't drift. */
  def slidingEventCounts(events: DataFrame, watermark: String = "10 minutes")
      : DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"),
        s"${graft.queries.StreamingQ.SlideLenSec} seconds",
        s"${graft.queries.StreamingQ.SlideStepSec} seconds").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("event_count"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("event_count"))

  /** Session windows with a 30-minute gap — the streaming twin of the
    * batch sessionization oracle query (graft.queries.Events.q17). */
  def sessionWindowStats(events: DataFrame, watermark: String = "10 minutes")
      : DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("events_in_session"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("events_in_session"))

  /** Stream-stream interval join: match rows of two live streams on a
    * key within an event-time window (here: each left event to right
    * events at most `intervalSeconds` BEFORE it). Both sides carry
    * watermarks, so join state is bounded — Spark retains only rows
    * that can still find a partner and evicts the rest as the
    * watermark advances. The join itself hash-partitions both streams
    * on the key: at scale this is the one unavoidable shuffle, and
    * skewed keys split under AQE like any other join.
    * Column convention: left has (key, lts, ...), right (key, rts, ...).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   intervalSeconds: Long, watermark: String = "10 minutes")
      : DataFrame = {
    val l = left.withWatermark("lts", watermark)
    val r = right.withWatermark("rts", watermark)
    l.join(r, l(key) === r(key) &&
      col("rts") <= col("lts") &&
      col("rts") >= col("lts") - expr(s"INTERVAL $intervalSeconds SECONDS"))
      .drop(r(key))
  }

  /** Streaming exact dedup with bounded state: duplicates arriving
    * within the watermark horizon are dropped once, state expires
    * after it. */
  def dedupedEvents(events: DataFrame, watermark: String = "10 minutes")
      : DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  // ------------------------------------- ingest-time curation + sketches

  /** Ingest-time curation (batch/stream duality, curation edition):
    * the transform a pretraining ingest applies as data LANDS — PII
    * scrub ([[graft.queries.Text.redactPii]], the q76 scrubber) and
    * deterministic split assignment ([[graft.queries.Text.splitLabel]],
    * the q77 cut) — shared verbatim between this stream and the batch
    * oracle queries, so ingest-time and batch curation can never
    * drift. */
  def curateBatch(docs: DataFrame): DataFrame =
    docs
      .withColumn("text", graft.queries.Text.redactPii(col("text")))
      .withColumn("split", graft.queries.Text.splitLabel(col("doc_id")))

  /** Streaming cleaned-corpus writer: curated rows land partitioned by
    * (split, batch_id) — split readers prune at the directory level
    * (selecting `split=train` never lists eval bytes), and a replayed
    * micro-batch dynamically overwrites exactly its own partitions
    * (idempotent, see writeBatchPartition). */
  def curationIngest(docs: DataFrame, outPath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    incrementalPartials(curateBatch(docs), outPath, checkpoint,
      Seq("split"))(identity)

  /** Incremental count-min sketch — q68's streaming twin, and the
    * textbook justification for sketches in a pipeline: cells are
    * MERGEABLE integers, so each micro-batch contributes its partial
    * cells as a batch_id partition (replay-idempotent overwrite) and
    * the live sketch is just the per-cell SUM over partitions —
    * O(d·w) state total, never a token of history re-read. The cell
    * derivation is the exact batch code path (Stats.cmsCells). */
  def incrementalCms(docs: DataFrame, cellsPath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    incrementalPartials(docs, cellsPath, checkpoint) { batch =>
      graft.queries.Stats.cmsCells(batch
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= ""))
    }

  /** The live sketch: per-cell sums across all batch partitions. */
  def cmsSnapshot(spark: SparkSession, cellsPath: String): DataFrame =
    readPartialsOrEmpty(spark, cellsPath,
      "sketch_row int, bucket bigint, cell_count bigint, batch_id bigint")
      .groupBy(col("sketch_row"), col("bucket"))
      .agg(sum(col("cell_count")).as("cell_count"))

  /** Incremental per-source MinHash signatures — q81's streaming
    * twin, the MIN-merge sibling of [[incrementalCms]]'s SUM-merge:
    * each micro-batch lands its per-source signature partials
    * (Dedup.sourceSignatures, the exact batch code path) as a
    * batch_id partition; the live signature is the elementwise min
    * over partitions (set-union semantics — a feed's signature over
    * all batches equals its signature over the union corpus). State
    * is O(sources × 8) regardless of ingest age. */
  def incrementalSourceSignatures(docs: DataFrame, sigsPath: String,
                                  checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(docs, sigsPath, checkpoint)(
      graft.queries.Dedup.sourceSignatures)

  /** The live per-source signatures: elementwise min across batches. */
  def sourceSignatureSnapshot(spark: SparkSession, sigsPath: String): DataFrame = {
    val ms = 0 until graft.queries.Dedup.SourceMinHashes
    val mins = ms.map(j => min(col(s"m$j")).as(s"m$j"))
    readPartialsOrEmpty(spark, sigsPath,
      ms.map(j => s"m$j bigint").mkString("source string, ", ", ",
        ", batch_id bigint"))
      .groupBy(col("source")).agg(mins.head, mins.tail: _*)
  }

  /** Expectations-gate monitor (q202): each micro-batch of the
    * FK-flagged event feed (stream-static broadcast join upstream)
    * lands its per-(check, key) row/violation partials as a
    * replay-idempotent batch_id partition — the sum-merge family,
    * check-census edition. Keys are bounded (users × event types), so
    * per-batch state is O(keys), never O(rows). */
  def incrementalExpectations(flagged: DataFrame, checksPath: String,
                              checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(flagged, checksPath, checkpoint)(
      graft.queries.Relational.expectationPartials)

  /** The q202 census from the landed check partials: rows/violations
    * re-sum across batches; distinct_keys distincts the bounded key
    * column — exact because every batch lands every key it saw. */
  def expectationsSnapshot(spark: SparkSession, checksPath: String): DataFrame =
    readPartialsOrEmpty(spark, checksPath,
      "check_name string, key string, rows bigint, violations bigint, " +
        "batch_id bigint")
      .groupBy(col("check_name"))
      .agg(sum(col("rows")).as("rows_checked"),
        sum(col("violations")).as("violations"),
        countDistinct(col("key")).as("distinct_keys"))

  /** Integrity-root monitor (q203): each micro-batch folds its docs to
    * per-source root PARTIALS (the q200 combiners — bit_xor, sum mod
    * 2⁶¹−1, salted xor — are commutative AND associative, so a batch
    * partial is just the roots of that batch's docs) landed as a
    * replay-idempotent batch_id partition. O(sources) rows per batch;
    * texts never enter state. */
  def incrementalIntegrityRoots(docs: DataFrame, rootsPath: String,
                                checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(docs, rootsPath, checkpoint)(
      graft.queries.PipelineQ.integrityRoots)

  /** The corpus roots from landed per-batch partials: xor of xors IS
    * the corpus xor, and (Σ (sᵢ mod p)) mod p = (Σ sᵢ) mod p — the
    * merge is exact whatever the batch boundaries, which is the whole
    * reason q200 refuses order-dependent (Merkle-leaf-sorted)
    * commitments. */
  def integrityRootsSnapshot(spark: SparkSession, rootsPath: String)
      : DataFrame =
    graft.queries.PipelineQ.mergeRootPartials(
      readPartialsOrEmpty(spark, rootsPath,
        "source string, docs bigint, xor_root bigint, sum_root bigint, " +
          "xor_root_b bigint, batch_id bigint"))

  /** Contamination-gate monitor (q204): each micro-batch scores its
    * docs against the plan-constant sorted benchmark shingle array
    * and lands per-source (count, max-overlap) partials — both
    * mergeable, O(sources) rows per batch. The benchmark is static by
    * definition (that is what makes it a benchmark), so the one
    * size-gated driver pull happens before the stream starts. */
  def incrementalContamination(docs: DataFrame, bench: Seq[String],
                               hitsPath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    incrementalPartials(docs, hitsPath, checkpoint)(
      graft.queries.Text.contaminationPartials(_, bench))

  /** The q49 census from landed contamination partials: counts re-sum,
    * maxima re-max — exact whatever the batch boundaries. */
  def contaminationSnapshot(spark: SparkSession, hitsPath: String): DataFrame =
    readPartialsOrEmpty(spark, hitsPath,
      "source string, contaminated_docs bigint, max_overlap int, " +
        "batch_id bigint")
      .groupBy(col("source"))
      .agg(sum(col("contaminated_docs")).as("contaminated_docs"),
        max(col("max_overlap")).as("max_overlap"))

  /** Dataset-card monitor (q207): ONE pass over each arriving
    * micro-batch lands every member the q149 datasheet needs, each at
    * the grain you'd land at 100 TB —
    *   base:    1 sum-mergeable row (docs, tokens, ttr_sum, splits)
    *   sources/langs: the batch's distinct key rows (O(keys))
    *   fps:     the batch's distinct (fp, split) manifest (fingerprints
    *            shuffle, never text — the q151 discipline)
    *   pairs:   the audited [[lshDedupStep]] candidate log + signature
    *            index (q107's machinery, shared verbatim)
    * so the release datasheet is maintainable WHILE the crawl lands —
    * no nightly corpus re-scan, and the near-dup members come from the
    * same index the dedup pipeline already pays for. */
  def incrementalDatasetCard(docs: DataFrame, work: String,
                             checkpoint: String): DataStreamWriter[Row] =
    microBatches(docs, checkpoint) {
      (batch, batchId) =>
        val b = batch.persist()
        // five independent landings (distinct member paths, all off
        // the persisted batch) — overlap them (guide §2.6)
        inParallel(
          () => writeBatchPartition(graft.queries.PipelineQ.cardBase(b),
            batchId, s"$work/base"),
          () => writeBatchPartition(b.select(col("source")).distinct(),
            batchId, s"$work/sources"),
          () => writeBatchPartition(b.select(col("lang")).distinct(),
            batchId, s"$work/langs"),
          () => writeBatchPartition(b.select(
              graft.ops.TextOps.fingerprint(col("text")).as("fp"),
              graft.queries.Text.splitLabel(col("doc_id")).as("split"))
            .distinct(), batchId, s"$work/fps"),
          () => lshDedupStep(b.select(col("doc_id"), col("text")), batchId,
            s"$work/index", s"$work/pairs"))
        b.unpersist()
        ()
    }

  /** The q149 card from the landed member partials: base re-sums,
    * keys and fps distinct (duplication-tolerant), near-dup members
    * verify the logged candidates against the corpus — then the
    * SHARED [[graft.queries.PipelineQ.cardTail]] composes, so the
    * ingest card cannot drift from the batch card's arithmetic. */
  def datasetCardSnapshot(spark: SparkSession, work: String,
                          corpus: DataFrame): DataFrame = {
    val rawBase = readPartialsOrEmpty(spark, s"$work/base",
      "docs bigint, tokens bigint, ttr_sum bigint, train_docs bigint, " +
        "val_docs bigint, test_docs bigint, batch_id bigint")
    val base = rawBase
      .agg(sum(col("docs")).as("docs"), sum(col("tokens")).as("tokens"),
        sum(col("ttr_sum")).as("ttr_sum"),
        sum(col("train_docs")).as("train_docs"),
        sum(col("val_docs")).as("val_docs"),
        sum(col("test_docs")).as("test_docs"))
    val sources = readPartialsOrEmpty(spark, s"$work/sources",
      "source string, batch_id bigint")
      .select(col("source")).distinct().agg(count(lit(1)).as("sources"))
    val langs = readPartialsOrEmpty(spark, s"$work/langs",
      "lang string, batch_id bigint")
      .select(col("lang")).distinct().agg(count(lit(1)).as("langs"))
    val fps = readPartialsOrEmpty(spark, s"$work/fps",
      "fp string, split string, batch_id bigint")
      .select(col("fp"), col("split")).distinct()
    val edges = graft.queries.Dedup.verifiedEdgesFromLog(
      readPartialsOrEmpty(spark, s"$work/pairs",
        "doc_a bigint, doc_b bigint, batch_id bigint"), corpus)
    val card = graft.queries.PipelineQ.cardTail(base, sources, langs, fps,
      edges)
    // pre-first-commit the family's contract is "no data yet" = ZERO
    // rows — a global agg over empty partials would otherwise dress an
    // all-null row up as a datasheet
    if (rawBase.limit(1).count() == 0L) card.limit(0) else card
  }

  /** Write-path-gate monitor (q209): the whole q208 front door per
    * ARRIVING micro-batch — plant/redact/triage/screen run scan-side
    * on the batch (the shared [[graft.queries.PipelineQ.gateCensus]]
    * against the plan-constant bench array), and the per-source census
    * row (counts + the landed-xor PARTIAL) lands replay-idempotent.
    * Every member is mergeable (sums; xor of xors), so the gate's
    * verdict for the whole crawl-so-far is O(sources) to read at any
    * moment of the ingest. */
  def incrementalWritePathGate(docs: DataFrame, bench: Seq[String],
                               censusPath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    incrementalPartials(docs, censusPath, checkpoint) { batch =>
      graft.queries.PipelineQ.gateCensus(
        graft.queries.PipelineQ.gateStaged(batch).filter(col("doc_id") >= 20),
        typedLit(bench))
    }

  /** The q208 census from landed gate partials: counts re-sum, the
    * landed commitment re-xors (nulls — batches where a source landed
    * nothing — drop out of the fold, exactly as they must). */
  def writePathGateSnapshot(spark: SparkSession, censusPath: String)
      : DataFrame =
    readPartialsOrEmpty(spark, censusPath,
      "source string, docs_in bigint, emails_redacted bigint, " +
        "ips_redacted bigint, quarantined_quality bigint, " +
        "quarantined_contaminated bigint, landed_docs bigint, " +
        "landed_xor_root bigint, batch_id bigint")
      .groupBy(col("source"))
      .agg(sum(col("docs_in")).as("docs_in"),
        sum(col("emails_redacted")).as("emails_redacted"),
        sum(col("ips_redacted")).as("ips_redacted"),
        sum(col("quarantined_quality")).as("quarantined_quality"),
        sum(col("quarantined_contaminated")).as("quarantined_contaminated"),
        sum(col("landed_docs")).as("landed_docs"),
        expr("bit_xor(landed_xor_root)").as("landed_xor_root"))

  /** Calibration monitor (q210): each micro-batch lands its ≤10-row
    * per-bin SUM partials (n, Σpred, positives); the snapshot re-sums
    * and derives the ratio columns — means of sums, never sums of
    * means. A quality/language classifier's reliability diagram is
    * thus readable mid-ingest at O(bins) cost. */
  def incrementalCalibration(docs: DataFrame, binsPath: String,
                             checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(docs, binsPath, checkpoint)(
      graft.queries.Text.calibrationPartials)

  /** The q201 reliability table from landed bin partials. */
  def calibrationSnapshot(spark: SparkSession, binsPath: String): DataFrame =
    graft.queries.Text.calibrationFrom(
      readPartialsOrEmpty(spark, binsPath,
        "bin bigint, n_docs bigint, pred_sum bigint, positives bigint, " +
          "batch_id bigint")
        .groupBy(col("bin"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("pred_sum")).as("pred_sum"),
          sum(col("positives")).as("positives")))

  /** Z-order ingest maintenance (q211): arriving fact rows are
    * clustered to the curve AT WRITE TIME — each micro-batch computes
    * its curve positions scan-side, repartitions ONCE by the coarse
    * directory grain (zdir = zfile div 8, ≤128 dirs, so each batch
    * writes one file per touched dir — the writeBatchPartition
    * file-count note's "cluster by the prefix first" production
    * spelling), and lands as a replay-idempotent batch_id partition
    * of the curve-partitioned index. Readers prune directories by
    * zdir (partition pruning) and row groups by the in-file zfile
    * locality — zone maps stay tight WHILE data streams in, no
    * nightly OPTIMIZE rewrite of the whole table. */
  def incrementalZorder(facts: DataFrame, indexPath: String,
                        checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(facts, indexPath, checkpoint,
      prefixPartitionCols = Seq("zdir")) { batch =>
      graft.queries.Layout.curveFrame(batch)
        .withColumn("zdir", expr("zfile div 8"))
        .repartition(col("zdir"))
    }

  /** The q72 zone-map census over the landed curve index — bit-equal
    * to the batch census because the curve position is a pure
    * function of the row. */
  def zorderSnapshot(spark: SparkSession, indexPath: String): DataFrame =
    graft.queries.Layout.zoneCensus(
      readPartialsOrEmpty(spark, indexPath,
        "day bigint, o_custkey bigint, z bigint, zfile bigint, " +
          "zdir bigint, batch_id bigint"))

  /** Incremental mixture weights — q97's streaming twin, the simplest
    * member of the SUM-merge family: each micro-batch lands its
    * per-source token totals (Text.sourceTokenTotals, the exact batch
    * code path) as a batch_id partition; the live mixture is the
    * temperature math over the summed totals. State is O(sources ×
    * batches) tiny rows (compactable like every partitioned index
    * here), and the snapshot's weight step is O(sources). This is the
    * piece a streaming ingest actually wants live: sampling rates
    * that track the corpus as feeds grow at different speeds. */
  def incrementalSourceTokens(docs: DataFrame, tokensPath: String,
                              checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(docs, tokensPath, checkpoint)(
      graft.queries.Text.sourceTokenTotals)

  /** Read a landed-partials path, or an empty frame of the given
    * schema if no micro-batch has committed yet — monitoring callers
    * poll these snapshots and must not see AnalysisException in the
    * window between stream start and first commit. */
  private def readPartialsOrEmpty(spark: SparkSession, path: String,
                                  ddl: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // read with the EXPLICIT schema, never inference: a monitor whose
    // every batch landed an empty partial (e.g. all rows filtered by a
    // validity predicate) leaves a footer-less log that inference dies
    // on (UNABLE_TO_INFER_SCHEMA) — the finalizePipeline lesson, made
    // structural for the whole snapshot family; it also drops the
    // footer-read from every poll. [[readLanded]]: a log caught
    // mid-commit reads as committed, never silently short.
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    if (fs.exists(p)) readLanded(spark, path, Some(schema))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** The live mixture: summed totals through the exact batch weight
    * math — snapshot(union of batches) == q97(union corpus). */
  def mixtureWeightsSnapshot(spark: SparkSession, tokensPath: String,
                             tau: Double = 0.7): DataFrame =
    graft.queries.Text.mixtureWeightsFrom(
      readPartialsOrEmpty(spark, tokensPath,
        "source string, tokens bigint, batch_id bigint")
        .groupBy(col("source")).agg(sum(col("tokens")).as("tokens")), tau)

  /** Incremental KMV distinct sketch — distinct-chunk tracking at
    * ingest with O(k) state per (source, batch): each micro-batch
    * compacts its chunk-hash frame to the per-source k smallest
    * DISTINCT hashes (≤k rows landed per source per batch — the
    * KmvAgg kernel's partial-aggregation property, persisted) as a
    * replay-idempotent batch_id partition. k-min-of-union = k-min of
    * merged k-mins, so the live sketch never needs the history's full
    * distinct sets — the whole point of the sketch at ingest scale:
    * exact distinct tracking would grow state with the corpus; this
    * grows with batches × sources × k. */
  def incrementalKmv(docs: DataFrame, sketchPath: String,
                     checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(docs, sketchPath, checkpoint) { batch =>
      kmvMerge()(graft.queries.Stats.chunkHashesOf(batch))
    }

  /** The live sketch: KmvAgg over the union of landed k-min partials
    * — (source, n, kth), identical to the batch kernel's output on
    * the union corpus (the merge property, proved in KmvAggSpec and
    * asserted cross-batch in StreamsSpec). */
  def kmvSnapshot(spark: SparkSession, sketchPath: String): DataFrame =
    graft.queries.Stats.kmvSketchOf(
      readPartialsOrEmpty(spark, sketchPath,
        "source string, h bigint, batch_id bigint")
        .select(col("source"), col("h")))

  /** Incremental pairwise source-overlap sketches (q174) — "has
    * source A started mirroring source B?" AT INGEST: each
    * micro-batch lands its per-source k smallest DISTINCT fingerprint
    * hashes (60-bit domain, [[graft.queries.Dedup.OverlapK]]) as a
    * replay-idempotent batch_id partition — k-min-of-union = k-min of
    * merged k-mins ([[kmvMerge]]'s law on q171's hash frame), so the
    * snapshot's Beyer et al. estimates equal the batch q171 run's
    * bit-for-bit. State is O(sources · k) longs — the overlap matrix
    * a 100 TB ingest can afford to keep live (q171's exact audit is
    * the column it drops). */
  def incrementalOverlapSketch(docs: DataFrame, sketchPath: String,
                               checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(docs, sketchPath, checkpoint) { batch =>
      kmvMerge(graft.queries.Dedup.OverlapK)(
        graft.queries.Dedup.overlapHashesOf(batch))
    }

  /** The live overlap matrix: merged per-batch k-min partials through
    * q171's pairwise estimator — snapshot(union of batches) ==
    * q171's estimate columns on the union corpus. */
  def overlapSnapshot(spark: SparkSession, sketchPath: String): DataFrame =
    graft.queries.Dedup.overlapEstimates(
      graft.queries.Dedup.overlapSketchesOf(
        readPartialsOrEmpty(spark, sketchPath,
          "source string, h bigint, batch_id bigint")
          .select(col("source"), col("h"))))

  /** Incremental label centroids (q165) — embedding-drift monitoring
    * at ingest, and the monitor family's vector-valued SUM member:
    * each micro-batch lands its per-(label, dim) running-mean partials
    * (Σv, n — exactly what batch `avg()` partial-aggregates, made
    * persistent via [[graft.queries.Similarity.centroidPartialsOf]])
    * as a replay-idempotent batch_id partition. State is O(labels ×
    * dim × batches) tiny rows — compactable with
    * [[compactSummedPartials]] (Σ/n are both plain sums). The live
    * snapshot re-merges and runs the exact q110 matrix tail: an
    * encoder regression or a poisoned feed shows up as a centroid
    * pair collapsing toward cosine 1 (two labels become one) or a
    * label drifting from every other — without re-embedding anything.
    *
    * Float discipline, stated: Σv is a DOUBLE sum, so batch-boundary
    * re-association can move the last ulp vs the batch plan; the
    * 7-digit centroid round (q110's convention, shared tail) is what
    * absorbs it — the same slack that already absorbs engine-order
    * differences on the oracle row. */
  def incrementalCentroids(emb: DataFrame, centPath: String,
                           checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(emb, centPath, checkpoint)(
      graft.queries.Similarity.centroidPartialsOf)

  /** The live centroid-similarity matrix: merged Σ/n through the
    * shared q110 tail. */
  def centroidSnapshot(spark: SparkSession, centPath: String): DataFrame =
    graft.queries.Similarity.centroidSimFrom(
      readPartialsOrEmpty(spark, centPath,
        "label int, pos int, s double, n bigint, batch_id bigint")
        .groupBy(col("label"), col("pos"))
        .agg(round(sum(col("s")) / sum(col("n")), 7).as("c")))

  /** Incremental bottom-k quantile sample (min-merge family, sample
    * edition — the incrementalKmv discipline over (hash, value)
    * PAIRS): each micro-batch lands its own bottom-k (source, h, v)
    * rows — ≤[[graft.queries.Stats.SampleK]] per source per batch;
    * bottom-k-of-union = bottom-k of merged bottom-ks — as a
    * replay-idempotent batch_id partition. The live length
    * distribution is then [[quantileSnapshot]]'s re-merge. */
  def incrementalQuantileSample(docs: DataFrame, samplePath: String,
                                checkpoint: String,
                                k: Int = graft.queries.Stats.SampleK)
      : DataStreamWriter[Row] =
    incrementalPartials(docs, samplePath, checkpoint) { batch =>
      quantileSampleMerge(k)(graft.queries.Stats.quantileSampleOf(batch))
    }

  /** The live quantile census: the batch census tail over the merged
    * per-batch bottom-k partials (+ the caller's exact audit frame —
    * recomputed in batch, it exists to measure the sample). */
  def quantileSnapshot(spark: SparkSession, samplePath: String,
                       exact: DataFrame,
                       k: Int = graft.queries.Stats.SampleK): DataFrame =
    graft.queries.Stats.sampledQuantileCensus(
      readPartialsOrEmpty(spark, samplePath,
        "source string, h bigint, v bigint, batch_id bigint")
        .select(col("source"), col("h"), col("v")), exact, k)

  /** Incremental first-claim segment dedup — exact sub-document dedup
    * AT INGEST (the q134 pass as a monitor): each micro-batch lands
    * TWO partial sets, (a) per-fingerprint CLAIMS — the batch's
    * earliest (doc_id, off) occurrence with its source and width,
    * MIN-mergeable (first-claim-of-union = min of merged first-claims,
    * the novelty index's merge at segment grain) — and (b) per-doc
    * segment totals, SUM-mergeable. Both replay-idempotent batch_id
    * partitions. State is O(distinct fingerprints + docs) — the
    * honest price of EXACT dedup, the thing the KMV sketch
    * (incrementalKmv) approximates when that price is too high; at
    * ingest scale, partition the claims index by a fingerprint prefix
    * (the LSH index's band-partition discipline) and compact by
    * re-landing merged minima. */
  def incrementalSegmentDedup(docs: DataFrame, claimsPath: String,
                              docsPath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    microBatches(docs, checkpoint) {
      (batch, batchId) =>
        // persist: the segment fan-out (explode + substring + md5, the
        // monitor's dominant cost) feeds TWO write actions — without
        // this it re-runs per landed partial (the incrementalPipeline
        // multi-write discipline)
        val segs = graft.queries.Dedup.segmentsOf(batch).persist()
        try {
          writeBatchPartition(firstClaims(segs), batchId, claimsPath)
          val totals = segs.groupBy(col("source"), col("doc_id"))
            .agg(count(lit(1)).as("segs"),
              sum(col("slen")).cast("long").as("chars"))
          writeBatchPartition(totals, batchId, docsPath)
        } finally { segs.unpersist(); () }
    }

  /** Per-fingerprint earliest claim of a (fp, doc_id, off, source,
    * slen) frame — THE claim ordering, one definition for the
    * per-batch partials and the cross-batch merge (min-merge
    * correctness requires both sides selecting winners by the
    * identical struct order; the segmentsOf/segmentCensusFrom sharing
    * rule, claim edition). */
  private def firstClaims(segs: DataFrame): DataFrame =
    segs.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("off"), col("source"),
        col("slen"))).as("w"))
      .select(col("fp"), col("w.doc_id").as("doc_id"),
        col("w.off").as("off"), col("w.source").as("source"),
        col("w.slen").as("slen"))

  /** The live retention census: merged first-claims + summed doc
    * totals through the exact batch census tail
    * (Dedup.segmentCensusFrom) — snapshot(union of batches) ==
    * q134(union corpus). */
  def segmentDedupSnapshot(spark: SparkSession, claimsPath: String,
                           docsPath: String): DataFrame = {
    val winners = firstClaims(readPartialsOrEmpty(spark, claimsPath,
      "fp string, doc_id bigint, off int, source string, slen int, batch_id bigint"))
      .select(col("source"), col("doc_id"), col("slen"))
    val kept = winners.groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("kept_segs"),
        sum(col("slen")).cast("long").as("kept_chars"))
    val totals = readPartialsOrEmpty(spark, docsPath,
      "source string, doc_id bigint, segs bigint, chars bigint, batch_id bigint")
      .groupBy(col("source"), col("doc_id"))
      .agg(sum(col("segs")).as("segs"), sum(col("chars")).as("chars"))
    graft.queries.Dedup.segmentCensusFrom(
      totals.join(kept, Seq("source", "doc_id"), "left")
        .select(col("source"), col("doc_id"), col("segs"),
          coalesce(col("kept_segs"), lit(0L)).as("kept_segs"),
          col("chars"), coalesce(col("kept_chars"), lit(0L)).as("kept_chars")))
  }

  /** Incremental frequency-capped dedup — q172's controlled-
    * duplication census AT INGEST: each micro-batch lands TWO partial
    * sets, (a) per-fingerprint capped CLAIMS — the batch's ≤cap
    * survivors (fp, h, doc_id, source), chosen by the bottom-k kernel
    * exactly as the batch census chooses (same row-owned hash h, so
    * bottom-cap-of-union = bottom-cap of merged bottom-caps — the
    * quantile-sample merge law at fingerprint grain) — and (b) per
    * (source, fp) copy counts, SUM-mergeable. Both replay-idempotent
    * batch_id partitions. Claims state is O(cap · distinct
    * fingerprints) — the exact-dedup price with the cap as a
    * constant; the copies log is the same (source, fp) grain. At
    * ingest scale both logs take the fingerprint-prefix partition +
    * compaction discipline of the segment-claims index (re-land
    * merged bottom-caps / summed copies; bottom-k and SUM are both
    * fold-safe). */
  def incrementalCappedDedup(docs: DataFrame, claimsPath: String,
                             copiesPath: String, checkpoint: String,
                             cap: Int = graft.queries.Dedup.DupCap)
      : DataStreamWriter[Row] =
    microBatches(docs, checkpoint) {
      (batch, batchId) =>
        // fingerprint + survivor hash computed once feed both write
        // actions (the incrementalSegmentDedup persist discipline)
        val d = graft.queries.Dedup.cappedDocsOf(batch).persist()
        try {
          writeBatchPartition(
            graft.queries.Dedup.cappedKept(d, cap)
              .select(col("fp"), col("h"), col("doc_id"), col("source")),
            batchId, claimsPath)
          writeBatchPartition(
            d.groupBy(col("source"), col("fp"))
              .agg(count(lit(1)).as("copies")),
            batchId, copiesPath)
        } finally { d.unpersist(); () }
    }

  /** The capped-claims log's partial merge — per-fingerprint bottom-
    * cap by the (h, doc_id) survivor order, the SAME order the kernel
    * buffers, so merged claims equal the batch census's survivors.
    * The window partition is a fingerprint's CLAIMS (≤ cap·batches
    * rows — compaction folds it back to cap), never its corpus copies:
    * the hot-fingerprint sort q172 designs out stays designed out. */
  def cappedClaimsMerge(cap: Int)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("fp")).orderBy(col("h"), col("doc_id"))
    // project to the claim key THEN distinct (claim rows are fully
    // keyed by (fp,h,doc_id,source); the snapshot hands this merge the
    // raw log WITH batch_id, under which a merged copy and a
    // resurrected folded row are distinct): the min-merge family's
    // contract is duplication TOLERANCE — a folded batch partition
    // resurrected next to its merged copy re-presents its rows, and
    // without the distinct each duplicate would take a row_number slot
    // and evict a true bottom-cap survivor (kmvMerge already does this via the
    // snapshot's pre-select; the claims merge owns its projection).
    df.select(col("fp"), col("h"), col("doc_id"), col("source")).distinct()
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= cap)
      .select(col("fp"), col("h"), col("doc_id"), col("source"))
  }

  /** The live controlled-duplication census: merged capped claims +
    * summed (source, fp) copies through q172's census columns —
    * snapshot(union of batches) == q172(union corpus). */
  def cappedDedupSnapshot(spark: SparkSession, claimsPath: String,
                          copiesPath: String,
                          cap: Int = graft.queries.Dedup.DupCap): DataFrame = {
    val kept = cappedClaimsMerge(cap)(readPartialsOrEmpty(spark, claimsPath,
      "fp string, h bigint, doc_id bigint, source string, batch_id bigint"))
      .groupBy(col("source")).agg(count(lit(1)).as("kept_docs"))
    val copies = readPartialsOrEmpty(spark, copiesPath,
      "source string, fp string, copies bigint, batch_id bigint")
      .groupBy(col("source"), col("fp")).agg(sum(col("copies")).as("copies"))
    copies.groupBy(col("source"))
      .agg(sum(col("copies")).as("doc_count"),
        count(lit(1)).as("distinct_docs"))
      .join(broadcast(kept), Seq("source"), "left")
      .withColumn("kept_docs", coalesce(col("kept_docs"), lit(0L)))
      .withColumn("dropped_docs", col("doc_count") - col("kept_docs"))
  }

  /** Incremental token-budget selection (q178) — the terminal curation
    * act (q169's hard global budget) AT INGEST: each micro-batch scores
    * its documents with THE shared TTR discipline
    * ([[graft.queries.Selection.ttrScoredOf]] — one scoring definition,
    * batch and ingest can never drift) and lands the per-doc scored
    * rows (doc_id, source, t, r) as a replay-idempotent batch_id
    * partition. The snapshot re-reads the log and runs the exact q169
    * tail ([[graft.queries.Selection.budgetCensus]]): class masses,
    * keep/drop/boundary classification, doc_id-bucketed boundary
    * resolution — so snapshot(union of batches) == q169(union corpus)
    * bit-for-bit at any point of the ingest.
    *
    * State is the scored MANIFEST, O(docs) × ~32 B rows — doc-grain
    * metadata, never text. That is the honest price of an EXACT global
    * budget: the budget's boundary class is unknowable until snapshot
    * time (any score class can become the boundary as the corpus
    * grows), so per-doc (t, r) must survive — and a curation ingest
    * keeps exactly this manifest anyway to emit the kept-doc list.
    * Rows are fully keyed by doc_id (each doc arrives in exactly one
    * batch; a replayed batch overwrites its own partition), so the
    * log is duplication-TOLERANT under `distinct()` and folds through
    * [[compactMinMergePartials]] with the distinct merge, like the
    * capped-claims index. */
  def incrementalBudgetSelection(docs: DataFrame, scoredPath: String,
                                 checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(docs, scoredPath, checkpoint,
      refCols = Seq("doc_id"))(graft.queries.Selection.ttrScoredOf)

  /** The scored log's partial merge — rows are fully keyed, so the
    * merge is plain distinct (duplication tolerance; see
    * [[incrementalBudgetSelection]]). */
  def budgetScoredMerge(df: DataFrame): DataFrame = df.distinct()

  /** The live budget census: the merged scored manifest through the
    * exact q169 tail — snapshot(union of batches) == q169(union
    * corpus). */
  def budgetSnapshot(spark: SparkSession, scoredPath: String): DataFrame =
    graft.queries.Selection.budgetCensus(
      budgetScoredMerge(readPartialsOrEmpty(spark, scoredPath,
        "doc_id bigint, source string, t bigint, r bigint, batch_id bigint")
        .select(col("doc_id"), col("source"), col("t"), col("r"))))

  /** The live PER-SOURCE budget census (q183) — q178's landed scored
    * manifest through the exact q170 tail: the two budget policies
    * (one global pot vs per-source fairness) are SNAPSHOTS over the
    * same ingest state, so an operator can publish both censuses from
    * one monitor without re-scoring anything. */
  def sourceBudgetSnapshot(spark: SparkSession, scoredPath: String): DataFrame =
    graft.queries.Selection.sourceBudgetCensus(
      budgetScoredMerge(readPartialsOrEmpty(spark, scoredPath,
        "doc_id bigint, source string, t bigint, r bigint, batch_id bigint")
        .select(col("doc_id"), col("source"), col("t"), col("r"))))

  /** The live curriculum-decile census (q185) — a THIRD snapshot over
    * q178's landed scored manifest (q127's score IS the shared TTR
    * discipline: toks = t, score_pm = r): budget selection, per-source
    * fairness and curriculum ordering are all read-time POLICIES over
    * one monitor's state. The tail is the q181 HISTOGRAM spelling
    * ([[graft.queries.Text.histogramDecileCensus]]) — sort-free is the
    * natural at-ingest branch, and this row gives that branch an
    * oracle of its own (q181's registered row takes the exact branch
    * at driver scale). */
  def curriculumSnapshot(spark: SparkSession, scoredPath: String): DataFrame =
    graft.queries.Text.histogramDecileCensus(
      budgetScoredMerge(readPartialsOrEmpty(spark, scoredPath,
        "doc_id bigint, source string, t bigint, r bigint, batch_id bigint")
        .select(col("doc_id"), col("source"), col("t"), col("r")))
        .select(col("doc_id"), col("t").as("toks"), col("r").as("score_pm")))

  /** Incremental Pareto frontier (q182) — multi-objective selection AT
    * INGEST: each micro-batch scores its documents (the shared
    * [[graft.queries.Selection.ttrScoredOf]] discipline) and lands
    * only its own SKYLINE rows ([[graft.queries.Selection
    * .frontierKept]] — the exact batch dominance kernel) as a
    * replay-idempotent batch_id partition. The merge law is the
    * skyline's own: frontier(A ∪ B) ⊆ frontier(A) ∪ frontier(B)
    * (dominance is transitive — a doc dominated inside its batch is
    * dominated in every union containing it), so the snapshot
    * re-skylines the union of landed frontiers and equals batch q166
    * bit-for-bit. State is O(per-batch frontier × batches) rows —
    * typically a vanishing fraction of the corpus (the whole point of
    * a frontier), compactable with [[compactMinMergePartials]] and
    * [[frontierMerge]] (distinct-then-skyline: rows are fully
    * doc-keyed, so the fold is duplication-tolerant, and the skyline
    * is idempotent). */
  def incrementalFrontier(docs: DataFrame, frontierPath: String,
                          checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(docs, frontierPath, checkpoint) { batch =>
      graft.queries.Selection.frontierKept(
        graft.queries.Selection.ttrScoredOf(batch))
    }

  /** The frontier log's partial merge — distinct (rows fully doc-keyed;
    * a resurrected folded partition would otherwise present the same
    * doc as its own (t, r) TWIN and survive the skyline twice), then
    * the exact batch skyline. */
  def frontierMerge(df: DataFrame): DataFrame =
    graft.queries.Selection.frontierKept(
      df.select(col("doc_id"), col("source"), col("t"), col("r")).distinct())

  /** The live frontier: re-skylined union of per-batch skylines —
    * snapshot(union of batches) == q166(union corpus). */
  def frontierSnapshot(spark: SparkSession, frontierPath: String): DataFrame =
    frontierMerge(readPartialsOrEmpty(spark, frontierPath,
      "doc_id bigint, source string, t bigint, r bigint, batch_id bigint"))
      .select(col("doc_id"), col("source"),
        col("t").as("n_toks"), col("r").as("ttr_pm"))

  /** Incremental length-winsorize histogram (q186) — outlier-clipping
    * thresholds AT INGEST: each micro-batch lands its per-source
    * (n_chars, count) histogram partials
    * ([[graft.queries.Text.lengthHistogramOf]], the exact batch
    * stage) as a replay-idempotent batch_id partition. Histograms are
    * SUM-mergeable, so the live thresholds + census are the exact q88
    * arithmetic over the summed cells — state O(sources × distinct
    * lengths × batches) tiny rows, folded with
    * [[compactSummedPartials]] (SUM family: the stage-and-swap
    * protocol). This is the monitor that lets an ingest recompute its
    * clip bounds as feeds drift, without rescanning a byte. */
  def incrementalLengthHistogram(docs: DataFrame, histPath: String,
                                 checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(docs, histPath, checkpoint)(
      graft.queries.Text.lengthHistogramOf)

  /** The live winsorize census: summed histogram cells through the
    * exact q88 threshold + census arithmetic —
    * snapshot(union of batches) == q88(union corpus). */
  def winsorizeSnapshot(spark: SparkSession, histPath: String): DataFrame =
    graft.queries.Text.winsorizeCensus(
      readPartialsOrEmpty(spark, histPath,
        "source string, n_chars bigint, c bigint, batch_id bigint")
        .groupBy(col("source"), col("n_chars"))
        .agg(sum(col("c")).as("c")))

  /** Incremental χ² drift cells — each micro-batch lands its
    * (day, event_type, count) contingency partials as a
    * replay-idempotent batch_id partition (SUM-mergeable: cells from
    * any corpus split add — the mixture/OOV family's property, at
    * contingency grain). State is O(days × types × batches) tiny
    * rows; compaction = re-land summed cells, same as the CMS. */
  def incrementalDayTypeCells(events: DataFrame, cellsPath: String,
                              checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(events, cellsPath, checkpoint)(
      graft.queries.Events.dayTypeCells)

  /** The live drift verdicts: summed cells through the exact batch
    * χ² arithmetic — snapshot(union of batches) == q145(union
    * corpus). Note the census is over the mix INGESTED SO FAR: each
    * day's deviation is judged against the running corpus marginals,
    * which is what an ingest monitor wants (yesterday's verdict can
    * shift as the corpus baseline grows — rerun the snapshot, not
    * the corpus). */
  def chi2Snapshot(spark: SparkSession, cellsPath: String): DataFrame =
    graft.queries.Events.chi2CensusFrom(
      readPartialsOrEmpty(spark, cellsPath,
        "day bigint, event_type string, o bigint, batch_id bigint")
        .groupBy(col("day"), col("event_type"))
        .agg(sum(col("o")).as("o")))

  /** Incremental OOV monitoring — vocabulary-drift detection at
    * ingest: each micro-batch joins its tokens against a FROZEN
    * vocabulary (a static frame broadcast inside foreachBatch — the
    * stream-static shape) and lands per-source (tokens, oov)
    * SUM-mergeable partials as a batch_id partition. The live rate is
    * a sum; a new language, new slang, or a corrupted feed shows up as
    * an OOV-ppm jump against the trained artifact without rescoring
    * anything. State is O(sources × batches) tiny rows. */
  def incrementalOovStats(docs: DataFrame, vocab: DataFrame,
                          statsPath: String, checkpoint: String)
      : DataStreamWriter[Row] = {
    // freeze ONCE: without this every micro-batch would re-run the
    // whole vocab plan (a corpus scan for trainVocab) plus its
    // distinct shuffle before re-broadcasting. localCheckpoint, not
    // persist — no CacheManager entry to leak past the stream's life;
    // the materialized blocks are GC-reclaimed with the frame.
    val frozen = graft.queries.Text.frozenVocab(vocab).localCheckpoint()
    incrementalPartials(docs, statsPath, checkpoint)(
      graft.queries.Text.oovStatsFrozen(_, frozen))
  }

  /** The live OOV rate: summed partials, rate in integer ppm. */
  def oovRateSnapshot(spark: SparkSession, statsPath: String): DataFrame =
    readPartialsOrEmpty(spark, statsPath,
      "source string, tokens bigint, oov bigint, batch_id bigint")
      .groupBy(col("source"))
      .agg(sum(col("tokens")).as("tokens"), sum(col("oov")).as("oov"))
      .withColumn("oov_ppm", expr("oov * 1000000 div tokens"))

  /** Incremental lexicon index — q108's streaming half: each
    * micro-batch lands its (source, token, freq) partial as a
    * batch_id partition. Token counts are SUM-mergeable, so the
    * re-aggregated index IS the exact corpus lexicon at any point —
    * types and hapax counts (which are NOT mergeable at the census
    * level: a token hapax in two batches is not hapax in their union)
    * become exact again after the merge. State is O(sources × vocab ×
    * batches) rows, vocab-bounded like the OOV monitor's; compaction
    * (re-landing the merged index, the LSH-index discipline) bounds
    * the batch dimension. Replay-idempotent: a replayed batch
    * overwrites its own partition. */
  def incrementalLexicon(docs: DataFrame, lexPath: String,
                         checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(docs, lexPath, checkpoint)(
      graft.queries.Text.sourceLexicon)

  /** The live lexical-diversity census: merge the landed lexicon
    * partials, then the exact q108 tail —
    * snapshot(union of batches) == q108(union corpus). */
  def lexicalDiversitySnapshot(spark: SparkSession, lexPath: String): DataFrame =
    graft.queries.Text.lexicalCensusFrom(
      readPartialsOrEmpty(spark, lexPath,
        "source string, t string, freq bigint, batch_id bigint")
        .groupBy(col("source"), col("t"))
        .agg(sum(col("freq")).as("freq")))

  /** Incremental novelty tracking — q91's streaming half, a MIN-merge
    * on first-seen batch ids: each micro-batch lands its doc-distinct
    * gram set (one row per distinct gram, with its occurrence count —
    * the q74/q91 `ngram_set` kernel, exact batch code path) as a
    * batch_id partition. First-seen per gram = min(batch_id) over
    * partitions, replay-idempotent: a replayed batch overwrites its
    * own partition and cannot steal first-seen credit from an earlier
    * one. State is the distinct-gram set — the same asymptotics as
    * the batch q91 first-seen agg, here spread across partitions. */
  def incrementalNoveltyGrams(docs: DataFrame, gramsPath: String,
                              checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(docs, gramsPath, checkpoint) { batch =>
      batch.withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= graft.queries.Dedup.SpanK)
        .select(explode(graft.functions.NGramSetFunctions
          .ngram_set(col("toks"), graft.queries.Dedup.SpanK)).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("occ"))
    }

  /** The live novelty curve: per ingest batch, distinct grams seen,
    * gram-doc incidences, grams first seen there, the running
    * distinct total and the integer novelty pct — the q91 output
    * shape with the micro-batch AS the batch axis. */
  def noveltyCurveSnapshot(spark: SparkSession, gramsPath: String): DataFrame = {
    val bg = readPartialsOrEmpty(spark, gramsPath,
        "gram string, occ bigint, batch_id bigint")
      .select(col("batch_id").as("batch"), col("gram"), col("occ"))
    val seen = bg.groupBy(col("batch"))
      .agg(count(lit(1)).as("grams_seen"), sum(col("occ")).as("gram_docs"))
    val news = bg.groupBy(col("gram")).agg(min(col("batch")).as("fb"))
      .groupBy(col("fb").as("batch")).agg(count(lit(1)).as("new_grams"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("batch"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    seen.join(news, Seq("batch"), "left")
      .withColumn("new_grams", coalesce(col("new_grams"), lit(0L)))
      .withColumn("cum_new_grams", sum(col("new_grams")).over(w))
      .select(col("batch"), col("grams_seen"), col("gram_docs"),
        col("new_grams"), col("cum_new_grams"),
        expr("new_grams * 100 div grams_seen").as("novelty_pct"))
  }

  /** Incremental novelty curve, DATA-axis edition (q191) — q91's exact
    * census at ingest: each micro-batch lands its (batch, gram, occ)
    * partials with the batch axis computed FROM doc_id
    * ([[graft.queries.Dedup.noveltyGramsOf]] — a data property, so occ
    * counts are SUM-mergeable per (batch, gram) no matter which
    * micro-batch carried which doc), as a replay-idempotent batch_id
    * partition. The snapshot re-sums and runs the exact q91 tail —
    * snapshot(union of micro-batches) == q91(union corpus), closing
    * the one monitor the oracle board couldn't previously gate
    * (the arrival-axis sibling [[incrementalNoveltyGrams]] stays: its
    * micro-batch axis is the ops-monitoring view; this one is the q91
    * parity view). State is the distinct (batch, gram) set — the batch
    * q91 asymptotics, spread across partitions. */
  def incrementalNoveltyCurve(docs: DataFrame, gramsPath: String,
                              checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(docs, gramsPath, checkpoint)(
      graft.queries.Dedup.noveltyGramsOf)

  /** The live q91 census: summed (batch, gram) partials through the
    * exact batch tail. */
  def noveltyCurveExactSnapshot(spark: SparkSession,
                                gramsPath: String): DataFrame =
    graft.queries.Dedup.noveltyCensusFrom(
      readPartialsOrEmpty(spark, gramsPath,
        "batch bigint, gram string, occ bigint, batch_id bigint")
        .groupBy(col("batch"), col("gram"))
        .agg(sum(col("occ")).as("occ")))

  /** Incremental split-leakage guard — q93's streaming half: each
    * micro-batch lands its (fingerprint, split) counts (the exact
    * batch code path: q24's canonical fingerprint + q77's split
    * label) as a replay-idempotent batch_id partition. Counts are
    * SUM-mergeable; cross-split membership is recomputed from the
    * merged table, so a leak is visible the moment its second copy
    * ARRIVES — not at the next full-corpus audit. */
  def incrementalSplitGuard(docs: DataFrame, fpsPath: String,
                            checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(docs, fpsPath, checkpoint) { batch =>
      batch.select(
          graft.ops.TextOps.fingerprint(col("text")).as("fp"),
          graft.queries.Text.splitLabel(col("doc_id")).as("split"))
        .groupBy(col("fp"), col("split")).agg(count(lit(1)).as("c"))
    }

  /** Live leakage census: merge the per-batch (fp, split) partials,
    * then the SAME membership arithmetic as batch q93
    * (Text.leakageCensus — shared, can't drift). */
  def splitGuardSnapshot(spark: SparkSession, fpsPath: String): DataFrame =
    graft.queries.Text.leakageCensus(
      readPartialsOrEmpty(spark, fpsPath,
        "fp string, split string, c bigint, batch_id bigint")
        .groupBy(col("fp"), col("split")).agg(sum(col("c")).as("c")))

  /** Incremental hourly event counts — q90's streaming half and the
    * SUM-merge sibling of [[incrementalCms]]: each micro-batch lands
    * its own (hour_start, event_type, cnt) partials
    * (Events.hourlyCounts — the exact batch code path) as a batch_id
    * partition, replay-idempotent. Counts are mergeable, so the live
    * hourly table is a per-key sum; state is O(types·hours observed),
    * never the event log. */
  def incrementalHourlyCounts(events: DataFrame, countsPath: String,
                              checkpoint: String): DataStreamWriter[Row] =
    incrementalPartials(events, countsPath, checkpoint,
      zoneCols = Seq("hour_start"))(
      graft.queries.Events.hourlyCounts)

  /** Live anomaly verdicts: merge the hourly partials (per-key sum),
    * then run the SAME verdict window as batch q90
    * (Events.anomalyVerdicts) — so a verdict computed mid-ingest
    * equals the batch verdict over the union of all batches, which is
    * exactly what an ingest monitor must guarantee on replay. */
  def rateAnomalySnapshot(spark: SparkSession, countsPath: String): DataFrame =
    graft.queries.Events.anomalyVerdicts(
      readPartialsOrEmpty(spark, countsPath,
        "hour_start bigint, event_type string, cnt bigint, batch_id bigint")
        .groupBy(col("hour_start"), col("event_type"))
        .agg(sum(col("cnt")).as("cnt")))

  // ------------------------------------- incremental near-dup (ingest-side)

  /** Incremental MinHash-LSH dedup against a persistent signature
    * index — the ingest-side shape of the batch q26→q44 pipeline: each
    * micro-batch of NEW documents (doc_id, text)
    *  1. computes band signatures with the native one-digest kernel
    *     (graft.queries.Dedup.bandedSignatures — per-batch O(new docs),
    *     the corpus is never re-signed);
    *  2. joins them against the historical index on (band, sig) and
    *     emits candidate duplicate pairs — new-vs-history plus
    *     new-vs-new within the batch — into a batch_id-partitioned
    *     pairs log (replay-idempotent);
    *  3. appends its own signatures to the index, partitioned by
    *     (band, batch_id), so a replayed batch overwrites itself
    *     and never double-registers.
    * At scale the index is O(corpus × 4) short rows PARTITIONED BY
    * BAND (plus batch_id): the per-batch history read carries literal
    * partition filters (see [[lshIndexHistory]]) instead of scanning
    * the whole index, and [[compactLshIndex]] periodically folds the
    * accumulated batch_id partitions so the file count stays bounded
    * by the band fan-out, not by ingest age. The per-batch join is
    * broadcast when the batch is small (the common ingest case) and
    * AQE-planned otherwise.
    * Downstream, Jaccard verification and clustering run exactly as in
    * batch (q44/q46) over the pairs log — batch/stream duality again.
    */
  def incrementalLshDedup(docs: DataFrame, indexPath: String,
                          pairsPath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    microBatches(docs, checkpoint) {
      (batch, batchId) =>
        lshDedupStep(batch, batchId, indexPath, pairsPath)
    }

  /** One micro-batch of the incremental LSH dedup (shared by
    * [[incrementalLshDedup]] and [[incrementalPipeline]]): sign the
    * batch, pair within-batch and against pruned history, log
    * candidates, register signatures. */
  def lshDedupStep(batch: DataFrame, batchId: Long, indexPath: String,
                   pairsPath: String): Unit = {
    val spark = batch.sparkSession
    val sigs = graft.queries.Dedup.bandedSignatures(batch)
      .persist()
    val withinBatch = sigs.as("a")
      .join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val candidates =
      if (partitionedIndexHasHistory(spark, indexPath, "band=")) {
        // the history read's LITERAL band partition filter comes from
        // the geometry, not a per-batch collect: every signed doc
        // emits ALL NumBands bands (bandedSignaturesGeom's explode),
        // so the batch's distinct band set IS 0 until NumBands for any
        // non-empty batch — the old distinct().collect() was one
        // vestigial Spark job per micro-batch rediscovering a
        // structural constant (measured 0.08–0.26 s/batch at sf0.1)
        val batchBands = 0 until graft.queries.Dedup.NumBands
        val hist = lshIndexHistory(spark, indexPath, batchBands, batchId)
        val vsHistory = sigs.as("n")
          .join(hist.as("h"),
            col("n.band") === col("h.band") && col("n.sig") === col("h.sig") &&
              // a re-ingested doc_id must not pair with itself
              col("n.doc_id") =!= col("h.doc_id"))
          .select(
            least(col("n.doc_id"), col("h.doc_id")).as("doc_a"),
            greatest(col("n.doc_id"), col("h.doc_id")).as("doc_b"))
        withinBatch.unionByName(vsHistory)
      } else withinBatch
    // the two landings are independent (distinct artifact paths; the
    // candidate plan reads only batch_id < this one from the index, a
    // partition filter the concurrent index landing can't touch) —
    // overlap them so the second write's fixed job costs back-fill the
    // first's tail (guide §2.6). Both consume the persisted `sigs`;
    // concurrent cache materialization is block-locked, not duplicated.
    inParallel(
      () => writeBatchPartition(candidates.distinct(), batchId, pairsPath,
        refCols = Seq("doc_a", "doc_b")),
      () => writeBatchPartition(sigs, batchId, indexPath,
        prefixPartitionCols = Seq("band"), refCols = Seq("doc_id")))
    sigs.unpersist()
    ()
  }

  /** Dedup-at-admission as the WRITE-PATH gate (verdict-r14 "Next
    * round" #3) — q225 answered "is this a near-dup?" as a read-only
    * serve; a real crawler REJECTS at admission. Each micro-batch of
    * (doc_id, text, …) documents:
    *  1. signs itself (the q107 kernel — per-batch O(new docs));
    *  2. probes the LANDED signature index with the ladder's pruned
    *     distributed history join ([[lshDedupStep]]'s spelling: the
    *     read prunes to the touched band partitions, the batch's
    *     signatures stay distributed — admission cost tracks the
    *     request batch, never the corpus, and never the driver; the
    *     request-serve path [[lshServePairs]] stays the spelling for
    *     O(requests) checks like q225), and pairs within-batch exactly
    *     like [[lshDedupStep]];
    *  3. routes: a doc with any candidate collider of SMALLER doc_id
    *     is QUARANTINED to a reasons log — (doc_id, dup_of = its
    *     earliest collider) — instead of landing; the rest land in the
    *     admitted corpus log;
    *  4. registers the WHOLE batch's signatures and logs the candidate
    *     pairs, as the ungated ladder does.
    *
    * THE PINNED DEDUP LAW (the tie-break the oracle shares): a doc is
    * quarantined iff it LSH-collides with ANY smaller-id doc —
    * first-WRITER-wins, where the first presenter of a signature key
    * owns it whether or not it was itself admitted. Registering every
    * presented signature (step 4) is what makes the law exact under
    * collision CHAINS: if B is quarantined as a dup of A, a later C
    * colliding only with B still quarantines (dup region remembered by
    * its first writer) — had only admitted docs registered, C's fate
    * would depend on batch boundaries and no batch oracle could
    * reproduce it. Requires the feed ordered by doc_id (arrival order
    * = id order), which the registered row pins; an out-of-order
    * arrival degrades conservatively (both members of a late-arriving
    * smaller-id collision stay landed — admission never retracts).
    * Candidate-level gating is deliberate: a crawler quarantines
    * suspects cheaply at the door; Jaccard verification stays the
    * reviewer's composition, as everywhere in the dedup ladder. */
  def gatedLshIngest(docs: DataFrame, corpusPath: String,
                     quarantinePath: String, indexPath: String,
                     pairsPath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    microBatches(docs, checkpoint) {
      (batch, batchId) =>
        gatedAdmissionStep(batch, batchId, corpusPath, quarantinePath,
          indexPath, pairsPath)
    }

  /** One micro-batch of [[gatedLshIngest]] — package-visible so the
    * spec drives single batches and asserts the probe's plan. */
  private[streaming] def gatedAdmissionStep(batch: DataFrame, batchId: Long,
      corpusPath: String, quarantinePath: String, indexPath: String,
      pairsPath: String): Unit = {
    val spark = batch.sparkSession
    val sigs = graft.queries.Dedup.bandedSignatures(batch).persist()
    val withinBatch = sigs.as("a")
      .join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // the history probe is the LADDER's pruned distributed join
    // ([[lshDedupStep]]'s spelling), NOT the request-serve path
    // ([[lshServePairs]]): the serve path collects the request's
    // signatures to the driver and probes with literal sig pushdown —
    // right for an O(requests) admission check (q225), a driver bomb
    // for an INGEST gate whose "request" is every micro-batch of the
    // crawl (measured this round: the collect + a ~5k-literal isin per
    // batch at sf0.1, growing with batch size forever). Same candidate
    // law either way: pairs collide on (band, sig), self excluded,
    // normalized; the batch-law spec pins the equivalence.
    val candidates =
      (if (partitionedIndexHasHistory(spark, indexPath, "band=")) {
        // band filter from the geometry, not a per-batch collect —
        // the lshDedupStep note: every signed doc emits ALL bands
        val batchBands = 0 until graft.queries.Dedup.NumBands
        val vsHistory = sigs.as("n")
          .join(lshIndexHistory(spark, indexPath, batchBands, batchId).as("h"),
            col("n.band") === col("h.band") && col("n.sig") === col("h.sig") &&
              col("n.doc_id") =!= col("h.doc_id"))
          .select(least(col("n.doc_id"), col("h.doc_id")).as("doc_a"),
            greatest(col("n.doc_id"), col("h.doc_id")).as("doc_b"))
        withinBatch.unionByName(vsHistory)
      } else withinBatch).distinct().persist()
    // the routing: dup_of = the earliest collider (reasons-log grain).
    // Only pairs whose LATER member is in this batch quarantine here —
    // an already-landed doc flagged by a late-arriving smaller id is
    // never retracted (see the law note above).
    val dupOf = candidates.groupBy(col("doc_b"))
      .agg(min(col("doc_a")).as("dup_of"))
    val quarantined = batch.join(dupOf,
      batch("doc_id") === dupOf("doc_b"))
      .select(batch("doc_id"), col("dup_of"))
    val admitted = batch.join(dupOf,
      batch("doc_id") === dupOf("doc_b"), "left_anti")
    // four independent landings (distinct artifact paths, all off the
    // persisted sigs/candidates) — overlap them (guide §2.6)
    inParallel(
      () => writeBatchPartition(quarantined, batchId, quarantinePath,
        refCols = Seq("doc_id", "dup_of")),
      () => writeBatchPartition(admitted, batchId, corpusPath,
        refCols = Seq("doc_id")),
      () => writeBatchPartition(candidates, batchId, pairsPath,
        refCols = Seq("doc_a", "doc_b")),
      () => writeBatchPartition(sigs, batchId, indexPath,
        prefixPartitionCols = Seq("band"), refCols = Seq("doc_id")))
    candidates.unpersist()
    sigs.unpersist()
    ()
  }

  /** Partition-directory grain of the incremental ANN index: buckets
    * are stored under `bucket_grp = bucket % AnnBucketGroups` dirs, NOT
    * one dir per bucket — 2^planes directories per micro-batch (256 at
    * 8 planes, 65k at 16) would drown the index in tiny files and make
    * every history read's partition discovery O(batches × buckets).
    * Groups keep the directory count bounded while the history read
    * stays pruned: partition filters on the touched GROUPS, then
    * parquet row-group min/max stats on the `bucket` data column inside
    * them. At 100 TB, size this so a group partition meets the file-
    * size target (the same rule that picks a table's partition key). */
  val AnnBucketGroups = 16

  /** Incremental hyperplane-LSH ANN near-dup detection against a
    * persistent bucket index — the ingest-side twin of batch q31
    * (graft.queries.Similarity.q31EmbeddingNearDups), completing
    * batch/stream duality for the similarity leg the way
    * [[incrementalLshDedup]] does for the MinHash leg. Each micro-batch
    * of NEW embeddings (vec_id, v: array<double>)
    *  1. computes the 8-plane bucket code SCAN-SIDE with the native
    *     kernel (per-batch O(new vectors) — the corpus is never
    *     re-coded);
    *  2. pairs new-vs-new within the batch and new-vs-history on bucket
    *     equality, verifies every candidate with the native cosine and
    *     keeps pairs >= minCosine, writing (bucket, vec_a, vec_b,
    *     cos_sim) into a batch_id-partitioned pairs log
    *     (replay-idempotent via writeBatchPartition);
    *  3. appends (vec_id, v, bucket) to the index partitioned by
    *     (bucket_grp, batch_id) so a replayed batch overwrites itself.
    * Unlike the MinHash index the rows carry the vector itself —
    * cosine verification needs it; that is inherent to ANN, and it is
    * why the history read pruning matters even more here: the
    * per-batch join reads only the touched bucket-group partitions
    * ([[annIndexHistory]], ≤ [[AnnBucketGroups]] literal partition
    * filters + row-group stats on the exact buckets), not O(corpus)
    * vectors. [[compactLshIndex]] folds batch partitions for this
    * index too (bandCols = Seq("bucket_grp")).
    */
  def incrementalAnnNearDups(emb: DataFrame, indexPath: String,
                             pairsPath: String, checkpoint: String,
                             minCosine: Double = 0.35)
      : DataStreamWriter[Row] =
    microBatches(emb, checkpoint) {
      (batch, batchId) =>
        import graft.queries.Similarity.cosine
        val spark = batch.sparkSession
        val coded = batch
          .withColumn("bucket", graft.queries.Similarity.bucketCode(col("v")))
          .withColumn("bucket_grp", pmod(col("bucket"), lit(AnnBucketGroups)))
          .persist()
        def verified(pairs: DataFrame): DataFrame = pairs
          .withColumn("cos_sim", round(cosine(col("av"), col("bv")), 6))
          .filter(col("cos_sim") >= minCosine)
          .select(col("bucket"), col("vec_a"), col("vec_b"), col("cos_sim"))
        val withinBatch = verified(coded.as("a")
          .join(coded.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.bucket").as("bucket"),
            col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
            col("a.v").as("av"), col("b.v").as("bv")))
        val candidates =
          if (partitionedIndexHasHistory(spark, indexPath, "bucket_grp=")) {
            val batchBuckets = coded.select(col("bucket")).distinct()
              .collect().map(_.getLong(0)).toSeq
            val hist = annIndexHistory(spark, indexPath, batchBuckets, batchId)
            val vsHistory = verified(coded.as("n")
              .join(hist.as("h"),
                col("n.bucket") === col("h.bucket") &&
                  col("n.vec_id") =!= col("h.vec_id"))
              .select(col("n.bucket").as("bucket"),
                least(col("n.vec_id"), col("h.vec_id")).as("vec_a"),
                greatest(col("n.vec_id"), col("h.vec_id")).as("vec_b"),
                col("n.v").as("av"), col("h.v").as("bv")))
            withinBatch.unionByName(vsHistory)
          } else withinBatch
        // independent landings off the persisted `coded` — overlap
        // (guide §2.6; same disjoint-partition argument as lshDedupStep).
        // Index-landing note kept: sort by bucket inside each task —
        // rows of one bucket_grp dir otherwise interleave buckets
        // {g, g+16, ...} in arrival order and every row group's bucket
        // min/max spans the whole group, so the pushed bucket-isin
        // filter would prune nothing. Sorted, the row-group stats the
        // history read relies on are tight.
        inParallel(
          () => writeBatchPartition(candidates.distinct(), batchId,
            pairsPath, refCols = Seq("vec_a", "vec_b")),
          () => writeBatchPartition(
            coded.sortWithinPartitions(col("bucket")),
            batchId, indexPath, prefixPartitionCols = Seq("bucket_grp"),
            refCols = Seq("vec_id")))
        coded.unpersist()
        ()
    }

  /** The per-batch history read of the incremental ANN index: literal
    * bucket-GROUP isin → parquet PartitionFilters (≤ [[AnnBucketGroups]]
    * literals), then the exact bucket isin as a pushed data filter
    * (row-group min/max pruning inside each group dir); current batch
    * excluded (replay must not self-match). Factored out so tests
    * assert the plan of the EXACT read the ingest path performs. */
  def annIndexHistory(spark: SparkSession, indexPath: String,
                      buckets: Seq[Long], excludeBatchId: Long): DataFrame =
    readLanded(spark, indexPath)
      .filter(col("bucket_grp")
          .isin(buckets.map(b => math.floorMod(b, AnnBucketGroups.toLong))
            .distinct: _*) &&
        col("bucket").isin(buckets: _*) &&
        col("batch_id") =!= excludeBatchId)

  /** QUERY-TIME read of the ANN index for a probe-bucket set — the
    * serving twin of [[annIndexHistory]]: literal bucket-group isin →
    * parquet PartitionFilters, exact bucket isin as a pushed data
    * filter (row-group min/max inside each group dir; the ingest sorts
    * by bucket within partitions precisely so THIS read's stats are
    * tight). No batch_id exclusion: serving reads the whole maintained
    * history — merged batch_id=-1 partitions included. Package-visible
    * so the spec asserts the plan of the EXACT read q224 performs. */
  private[streaming] def annServeRead(spark: SparkSession, indexPath: String,
                                      buckets: Seq[Long]): DataFrame =
    readLanded(spark, indexPath) // snapshot-pinned when enabled
      .filter(col("bucket_grp")
          .isin(buckets.map(b => math.floorMod(b, AnnBucketGroups.toLong))
            .distinct: _*) &&
        col("bucket").isin(buckets: _*))

  /** Top-K neighbor SERVING against the landed ANN index (q224) — the
    * read payoff of the whole maintenance story (land → compact →
    * vacuum): each query probes its own hyperplane bucket plus every
    * Hamming-distance-1 bucket (q51's multiprobe), the index read
    * prunes to exactly those buckets' group partitions, candidates
    * verify with the native cosine, and the per-query top-K keeps a
    * deterministic tie-break (cos desc, neighbor asc). `queries` must
    * carry (query_id, qv, qb) and is O(request batch): collected once
    * for the probe-bucket literals, broadcast into the verify join —
    * the index never shuffles, the request never exceeds driver
    * bounds. */
  def annServeTopK(spark: SparkSession, indexPath: String,
                   queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the request batch is O(queries) BY CONTRACT (a serving call, not
    // a corpus): evaluate it once, keep it driver-local, broadcast it —
    // the serving analog of the ingest path's bounded batchBuckets
    // collect, and the index side never shuffles
    val proj = queries.select(col("query_id"), col("qv"), col("qb"))
    val qRows = proj.collect().toSeq
    val qs = spark.createDataFrame(
      spark.sparkContext.parallelize(qRows, 1), proj.schema)
    // probe fan-out per query: own bucket + 8 single-bit flips
    val probeBuckets = qRows.map(_.getLong(2))
      .flatMap(b => b +: (0 until 8).map(p => b ^ (1L << p)))
      .distinct
    val hits = annServeRead(spark, indexPath, probeBuckets)
      .join(broadcast(qs),
        col("vec_id") =!= col("query_id") &&
          bit_count(col("bucket").bitwiseXOR(col("qb"))) <= 1)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.queries.Similarity.cosine(col("qv"), col("v")), 6)
          .as("cos_sim"))
    hits.withColumn("rk", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id").asc)))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
  }

  /** QUERY-TIME read of the LSH signature index for a probe set (the
    * MinHash twin of [[annServeRead]]): literal band isin → parquet
    * PartitionFilters, the request's exact signatures as a pushed data
    * filter. Package-visible so the spec asserts the plan of the EXACT
    * read q225 performs. */
  private[streaming] def lshServeRead(spark: SparkSession, indexPath: String,
                                      bands: Seq[Int], sigs: Seq[String])
      : DataFrame =
    readLanded(spark, indexPath) // snapshot-pinned when enabled
      .filter(col("band").isin(bands: _*) && col("sig").isin(sigs: _*))

  /** Dedup-at-ADMISSION serving against the landed LSH index (q225):
    * "is this document a near-dup of the corpus?" answered at query
    * time from the maintained (compacted + vacuumed) signature index —
    * the MinHash family's read payoff next to [[annServeTopK]]. The
    * request batch arrives as its banded signatures (O(requests ×
    * bands) BY CONTRACT — an admission check, not a corpus), is
    * collected once for the probe literals and broadcast into the
    * candidate join; the index read prunes to the touched band
    * partitions with the request signatures pushed into the scan.
    * Returns normalized distinct candidate pairs (doc_a < doc_b) —
    * verification (true Jaccard) stays the caller's composition, as
    * everywhere in the dedup ladder. */
  def lshServePairs(spark: SparkSession, indexPath: String,
                    reqSigs: DataFrame): DataFrame = {
    val proj = reqSigs.select(col("doc_id").as("query_id"),
      col("band").as("qband"), col("sig").as("qsig"))
    val rows = proj.collect().toSeq
    val qs = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), proj.schema)
    val hits = lshServeRead(spark, indexPath,
      rows.map(_.getInt(1)).distinct, rows.map(_.getString(2)).distinct)
    hits.join(broadcast(qs),
        col("band") === col("qband") && col("sig") === col("qsig") &&
          col("doc_id") =!= col("query_id"))
      .select(least(col("doc_id"), col("query_id")).as("doc_a"),
        greatest(col("doc_id"), col("query_id")).as("doc_b"))
      .distinct()
  }

  // ------------------------- index geometry migration (reindex-while-serving)

  /** Geometry stamp of one index BUILD: a `.geom` file inside the
    * build dir (hidden from data reads) holding "bands rows". Written
    * when the build starts, immutable after — the snapshot that
    * references a build thereby pins its geometry, so one manifest
    * resolution fixes BOTH the file set and the signature function a
    * serve must use on its requests. */
  private[streaming] def writeGeom(fs: org.apache.hadoop.fs.FileSystem,
      buildDir: org.apache.hadoop.fs.Path, bands: Int, rows: Int): Unit = {
    fs.mkdirs(buildDir)
    val out = fs.create(new org.apache.hadoop.fs.Path(buildDir, ".geom"), true)
    try out.write(s"$bands $rows".getBytes("UTF-8")) finally out.close()
  }

  private[streaming] def readGeom(fs: org.apache.hadoop.fs.FileSystem,
      buildDir: org.apache.hadoop.fs.Path): (Int, Int) = {
    val in = fs.open(new org.apache.hadoop.fs.Path(buildDir, ".geom"))
    val line = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    val parts = line.split(' ')
    (parts(0).toInt, parts(1).toInt)
  }

  /** Streamed, checkpointed build of ONE signature-index version under
    * `root/build=<id>` at an explicit (b, r) geometry — the register
    * half of the q107 ladder, re-signable. The build dir is geometry-
    * stamped up front and is INVISIBLE to serving until a cutover
    * publishes it: the root's manifest keeps referencing the old build
    * while this one streams in. */
  def incrementalIndexBuild(docs: DataFrame, rootPath: String,
      buildId: Int, bands: Int, rows: Int, checkpoint: String)
      : DataStreamWriter[Row] = {
    val buildDir = new org.apache.hadoop.fs.Path(rootPath, s"build=$buildId")
    writeGeom(buildDir.getFileSystem(
      docs.sparkSession.sparkContext.hadoopConfiguration), buildDir,
      bands, rows)
    incrementalPartials(docs, buildDir.toString, checkpoint,
      prefixPartitionCols = Seq("band"), refCols = Seq("doc_id"))(
      graft.queries.Dedup.bandedSignaturesGeom(_, bands, rows))
  }

  /** The CUTOVER: one atomic manifest publish makes `buildId` the
    * served snapshot of the index root — the entire geometry migration
    * commits in a single rename (q228 evolved a log's COLUMNS; this
    * swaps the index's s-curve point while requests keep arriving).
    * Serves resolved before keep the old build's files (still on
    * disk); serves resolved after get the new build AND its geometry;
    * nobody can observe a mix ([[lshServeVersioned]] refuses a
    * snapshot referencing two builds). The old build's files reap at
    * the next mutator entry, like every superseded snapshot. */
  def reindexCutover(spark: SparkSession, rootPath: String,
                     buildId: Int): Unit = {
    val root = new org.apache.hadoop.fs.Path(rootPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Manifests
      .dataFilesUnder(fs, new org.apache.hadoop.fs.Path(root, s"build=$buildId"))
      .map(f => s"build=$buildId/$f")
    require(files.nonEmpty, s"reindexCutover: build=$buildId has no data")
    Manifests.commit(fs, root, files)
  }

  /** Geometry-versioned dedup serving over a migrating index root —
    * [[lshServePairs]] where the SNAPSHOT picks the signature
    * function: ONE manifest resolution pins the file set, the build,
    * and (via the build's geometry stamp) the banding the request is
    * signed with; the probe then runs exactly like q225 (request
    * collected once and broadcast, band/sig literals pushed into the
    * pruned read of the resolved files). A snapshot referencing more
    * than one build is refused loudly — v1 and v2 signatures must
    * never pair, mid-migration or ever. */
  def lshServeVersioned(spark: SparkSession, rootPath: String,
                        reqDocs: DataFrame): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(rootPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Manifests.resolveFiles(fs, root).getOrElse(
      throw new IllegalStateException(
        s"$rootPath: versioned serving needs a manifest-published build"))
    val builds = files.map(_.takeWhile(_ != '/')).distinct
    require(builds.length == 1 && builds.head.startsWith("build="),
      s"serve snapshot must reference exactly ONE index build, got " +
        s"$builds — mixing geometries would pair incomparable signatures")
    val (bands, rows) = readGeom(fs,
      new org.apache.hadoop.fs.Path(root, builds.head))
    val reqSigs = graft.queries.Dedup
      .bandedSignaturesGeom(reqDocs, bands, rows)
    val proj = reqSigs.select(col("doc_id").as("query_id"),
      col("band").as("qband"), col("sig").as("qsig"))
    val reqRows = proj.collect().toSeq
    val qs = spark.createDataFrame(
      spark.sparkContext.parallelize(reqRows, 1), proj.schema)
    val hits = spark.read.option("basePath", rootPath)
      .parquet(files.map(f => s"$rootPath/$f"): _*)
      .filter(col("band").isin(reqRows.map(_.getInt(1)).distinct: _*) &&
        col("sig").isin(reqRows.map(_.getString(2)).distinct: _*))
    hits.join(broadcast(qs),
        col("band") === col("qband") && col("sig") === col("qsig") &&
          col("doc_id") =!= col("query_id"))
      .select(least(col("doc_id"), col("query_id")).as("doc_a"),
        greatest(col("doc_id"), col("query_id")).as("doc_b"))
      .distinct()
  }

  /** Hadoop-FS check (portable across s3a/hdfs/local) that a
    * partitioned index already has `prefix`-partition directories.
    * An index whose top-level partitions exist but do NOT match the
    * expected prefix (e.g. a `batch_id=`-only layout from an older
    * pipeline version) fails LOUDLY: silently treating it as "no
    * history" would skip cross-history pairing AND then interleave
    * the new layout's directories with the old — an unreadable mix
    * ("Conflicting directory structures" on the next read). */
  private def partitionedIndexHasHistory(spark: SparkSession, path: String,
                                         prefix: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val partDirs = fs.listStatus(p).map(_.getPath.getName)
      .filter(_.contains("=")) // partition dirs only, not _SUCCESS etc.
    if (partDirs.exists(_.startsWith(prefix))) true
    else if (partDirs.nonEmpty) throw new IllegalStateException(
      s"index at $path has top-level partitions like '${partDirs.head}' " +
        s"but this pipeline expects '$prefix...' — an index from a " +
        "different layout/version; compact or migrate it before resuming")
    else false
  }

  /** The per-batch history read of the incremental LSH index: prunes
    * to the batch's touched band partitions (literal isin → parquet
    * PartitionFilters) and excludes the current batch_id partition
    * (a replayed batch must not self-match). Factored out so tests
    * assert the plan of the EXACT read the ingest path performs. */
  def lshIndexHistory(spark: SparkSession, indexPath: String,
                      bands: Seq[Int], excludeBatchId: Long): DataFrame =
    readLanded(spark, indexPath)
      .filter(col("band").isin(bands: _*) && col("batch_id") =!= excludeBatchId)

  // ---------------------------------- the composed pipeline, incrementally

  /** Partition-directory grain of the fingerprint index: 1 hex char =
    * 16 dirs per micro-batch. Round 9 defended the 2-hex/256-dir grain
    * in prose ("an fp index at ingest scale fills them"); round 10's
    * first actual bench falsified it at test scale — 256 dirs × tasks
    * per batch meant thousands of tiny files and an O(batches × dirs)
    * partition discovery on every history read, ~30 s/run for q159
    * where the streaming-family norm is ≤4 s (the q152 ANN-index
    * lesson, fingerprint edition). Exact-dedup pruning does not need
    * partition dirs that narrow: the prefix partition filter prunes
    * 16×, and parquet row-group min/max stats on the sorted-ish `fp`
    * data column prune inside a dir. At a true 100 TB ingest, where
    * every batch genuinely fills 256+ prefixes with file-sized
    * output, widen by the same file-size rule as [[AnnBucketGroups]]. */
  val FpPrefixLen = 1

  /** The q50 training-data pipeline's INGEST HALF, incrementally —
    * per micro-batch of raw (source, doc_id, text, n_chars) documents:
    *  1. quality triage (THE q22/q50 predicate — batch/stream duality);
    *  2. exact dedup: min doc_id per fingerprint within the batch,
    *     anti-join against the persistent fingerprint index
    *     (partitioned by [[FpPrefixLen]]-hex-char fp_prefix +
    *     batch_id, so the history read prunes to the touched prefixes
    *     exactly like the LSH band index), then register the
    *     survivors' fingerprints;
    *  3. append survivors to a batch_id-partitioned corpus log;
    *  4. the [[lshDedupStep]] over the survivors (band-partitioned
    *     signature index + candidate pairs log).
    * All four writes are replay-idempotent (writeBatchPartition).
    *
    * [[finalizePipeline]] runs the pipeline's BATCH HALF over the
    * accumulated logs. The split is the point: fuzzy-dedup clustering,
    * sampling and packing are corpus-GLOBAL decisions (a cluster can
    * span any two batches; bin boundaries move with every doc), so a
    * honest streaming pipeline streams the per-doc work and finalizes
    * the global stages on demand — not a fake per-batch "global"
    * answer.
    *
    * Exact-dedup semantics note: incremental keeps the FIRST-ARRIVED
    * doc per fingerprint (history always beats the new batch); batch
    * q50 keeps the min doc_id. The two agree whenever ingest is
    * doc_id-ordered (the duality test's shape, and the common
    * append-only ingest case); under out-of-order ingest
    * first-arrival is the only semantics an index-append pipeline can
    * offer without rewriting history.
    */
  def incrementalPipeline(docs: DataFrame, fpIndexPath: String,
                          survivorsPath: String, lshIndexPath: String,
                          pairsPath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    microBatches(docs, checkpoint) {
      (batch, batchId) =>
        import graft.ops.TextOps
        val spark = batch.sparkSession
        val quality = batch
          .withColumn("toks", TextOps.tokens(col("text")))
          .filter(TextOps.qualityBucket(col("toks"), col("n_chars")) === "ok")
          // the token array is dead weight past the predicate (every
          // downstream consumer uses text/fp only; finalize recomputes
          // tokens for packing) — persisting it roughly doubles the
          // cached row width for nothing
          .drop("toks")
          .withColumn("fp", TextOps.fingerprint(col("text")))
          .withColumn("fp_prefix", substring(col("fp"), 1, FpPrefixLen))
          .persist()
        val inBatch = quality.join(
          quality.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id")),
          Seq("fp", "doc_id"), "left_semi")
        val survivors =
          (if (partitionedIndexHasHistory(spark, fpIndexPath, "fp_prefix=")) {
            val prefixes = quality.select(col("fp_prefix")).distinct()
              .collect().map(_.getString(0)).toSeq
            inBatch.join(
              fpIndexHistory(spark, fpIndexPath, prefixes, batchId),
              Seq("fp"), "left_anti")
          } else inBatch).persist()
        // three independent landings (distinct artifact paths, all off
        // the persisted survivors) — overlap them (guide §2.6); the
        // lshDedupStep leg parallelizes its own two landings again
        inParallel(
          () => writeBatchPartition(
            survivors.select(col("fp_prefix"), col("fp")),
            batchId, fpIndexPath, prefixPartitionCols = Seq("fp_prefix")),
          () => writeBatchPartition(
            survivors.select(col("source"), col("doc_id"), col("text"),
              col("n_chars")),
            batchId, survivorsPath),
          () => lshDedupStep(survivors.select(col("doc_id"), col("text")),
            batchId, lshIndexPath, pairsPath))
        survivors.unpersist()
        quality.unpersist()
        ()
    }

  /** The fingerprint-index history read — literal fp_prefix isin →
    * parquet PartitionFilters; current batch excluded (replay must not
    * drop its own survivors). */
  def fpIndexHistory(spark: SparkSession, fpIndexPath: String,
                     prefixes: Seq[String], excludeBatchId: Long): DataFrame =
    readLanded(spark, fpIndexPath)
      .filter(col("fp_prefix").isin(prefixes: _*) &&
        col("batch_id") =!= excludeBatchId)
      .select(col("fp"))

  /** The pipeline's batch half over the accumulated logs: Jaccard-
    * verify the candidate pairs log against the survivor corpus,
    * cluster, keep canonicals, sample, pack — the SAME oracle-checked
    * stage kernels as q50 (Dedup.jaccardVerify/clustersFromEdges,
    * Text.sampleHashByte/packManifest), so streamed-ingest + finalize
    * equals the batch q50 manifest on the union corpus (StreamsSpec).
    */
  def finalizePipeline(spark: SparkSession, survivorsPath: String,
                       pairsPath: String): DataFrame = {
    import graft.queries.{Dedup, Text}
    val docs = readLanded(spark, survivorsPath)
    // a corpus with no LSH collisions writes ONLY empty per-batch
    // candidate partitions (no parquet footers at all), which
    // spark.read cannot infer a schema from — that is the cleanest
    // possible corpus, not an error: finalize with zero pairs
    val pairs = (try {
        val df = readLanded(spark, pairsPath)
        df.schema // schema inference is lazy — force it inside the try
        df
      } catch {
        case _: org.apache.spark.sql.AnalysisException =>
          spark.range(0).select(col("id").as("doc_a"), col("id").as("doc_b"))
      })
      .select(col("doc_a"), col("doc_b")).distinct()
    val edges = Dedup.verifiedEdgesFromLog(pairs, docs)
    val dropped = Dedup.clustersFromEdgesCounted(edges)._1
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id"))
    val kept = docs.join(dropped, Seq("doc_id"), "left_anti")
    val sampled = kept.filter(Text.sampleHashByte(col("doc_id")) < Text.SampleCut)
    Text.packManifest(sampled.select(col("source"), col("doc_id"),
      size(graft.ops.TextOps.tokens(col("text"))).cast("long").as("n_toks")))
  }

  /** Folds the incremental LSH index's accumulated per-batch
    * partitions into one merged batch_id=-1 partition per band, so
    * steady-state ingest reads O(bands) consolidated partitions instead
    * of O(ingest age) small files: [[compactPartials]] with the band
    * columns as the prefix and `distinct` as the merge. */
  def compactLshIndex(spark: SparkSession, indexPath: String,
                      bandCols: Seq[String] = Seq("band")): Unit =
    compactPartials(spark, indexPath, _.distinct(), bandCols)

  // ------------------------------------------- partials-log compaction

  /** Folds a partials log's accumulated `batch_id=` partitions into one
    * merged `batch_id=-1` partition (one per prefix directory when
    * `prefixCols` partition the log), keeping the LATEST batch
    * partition live — it is the only one a crash-recovery replay can
    * rewrite; everything older is immutable and safe to fold. `merge`
    * is the family's OWN partial merge (the same function the snapshot
    * applies to the union of partials), so snapshot(compacted) ==
    * snapshot(raw) by the merge's associativity. The folded partitions
    * and the previous merged one are replaced all-or-nothing through
    * [[commitRewrites]], so SUM families fold as safely as min /
    * bottom-k / distinct ones, and the `_refs` sidecar folds in the
    * same commit ([[refsFolded]]). Steady-state snapshot reads then see
    * O(1) consolidated partitions per prefix instead of O(ingest age)
    * small files. Idempotent (re-folding includes the previous merged
    * partition), and a no-op on a log with no row landed yet: never
    * written, or every batch empty. */
  private def compactPartials(spark: SparkSession, path: String,
                              merge: DataFrame => DataFrame,
                              prefixCols: Seq[String] = Nil): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!enter(fs, root)) return
    // every landed partition with its batch id, from the directory
    // names (FS metadata, no Spark job); a batch that landed no row has
    // no directory, so an all-empty log lists nothing
    val landed = partitionLeafDirs(fs, root).map { leaf =>
      relPath(root, leaf) -> leaf.getName.stripPrefix("batch_id=").toLong
    }
    if (landed.isEmpty) return
    val latest = landed.map(_._2).max
    if (!landed.exists { case (_, b) => b != latest && b != -1L }) return
    // the stage is a different directory from the one read, so the
    // merge streams straight into it — nothing to materialize first.
    // mergeSchema, as `vacuumAffectedRead`: a schema-evolved log's
    // v1 footer must not drop the v2 columns from the folded partition
    val merged = merge(spark.read.option("mergeSchema", "true").parquet(path)
        .filter(col("batch_id") =!= latest).drop("batch_id"))
      .withColumn("batch_id", lit(-1L))
    commitRewrites(spark, Seq(Rewrite(path, merged, prefixCols :+ "batch_id",
      landed.collect { case (d, b) if b != latest => d },
      refsFolded(spark, path, prefixCols, latest))))
  }

  /** [[compactPartials]] under its two public names: one fold, whatever
    * the merge (min / bottom-k / distinct, or a SUM); the prefix
    * columns are the only difference in what each exposes. */
  def compactMinMergePartials(spark: SparkSession, path: String,
                              merge: DataFrame => DataFrame): Unit =
    compactPartials(spark, path, merge)

  def compactSummedPartials(spark: SparkSession, path: String,
                            merge: DataFrame => DataFrame,
                            prefixCols: Seq[String] = Nil): Unit =
    compactPartials(spark, path, merge, prefixCols)

  /** The quantile sample log's partial merge — per-source bottom-k
    * over (h, v) pairs; bottom-k-of-union = bottom-k of merged
    * bottom-ks (the property [[incrementalQuantileSample]] lands on
    * and [[quantileSnapshot]] re-merges with). */
  def quantileSampleMerge(k: Int)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bottomk = Window.partitionBy(col("source")).orderBy(col("h"), col("v"))
    df.withColumn("rn", row_number().over(bottomk))
      .filter(col("rn") <= k)
      .select(col("source"), col("h"), col("v"))
  }

  /** The KMV sketch log's partial merge — per-source k smallest
    * DISTINCT hashes (k-min-of-union = k-min of merged k-mins). */
  def kmvMerge(k: Int = graft.queries.Stats.KmvK)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kmin = Window.partitionBy(col("source")).orderBy(col("h"))
    df.distinct()
      .withColumn("rn", row_number().over(kmin))
      .filter(col("rn") <= k)
      .select(col("source"), col("h"))
  }

  /** Z-order index compaction (q215): [[compactPartials]] with the zdir
    * prefix kept in the layout, so directory pruning survives the
    * fold. The index rows are FACTS (the duplication-intolerant
    * family), so the merge is row identity, clustered back to one file
    * per zdir (the repartition moves already-landed index rows, never
    * the source table). Steady-state reads then list O(zdirs)
    * consolidated files + the live batch instead of O(ingest age ×
    * zdirs) fragments. */
  def compactZorderIndex(spark: SparkSession, indexPath: String): Unit =
    compactPartials(spark, indexPath, _.repartition(col("zdir")), Seq("zdir"))

  // ------------------------------------------------------ the staged commit

  private val StageDir = ".graft_stage"
  private val OldDir = ".graft_old"
  private val CommitMarker = ".graft_commit"
  private val MarkerTmp = ".graft_commit.tmp"
  private val ManifestStageDir = ".graft_mstage"

  /** One artifact's rewrite: `kept`, partitioned by `partCols`, becomes
    * the whole content of the root-relative partition dirs `dirs` (a
    * dir `kept` has no row for vanishes), and `refs`, when the artifact
    * keeps a `_refs` sidecar, its whole new content. */
  private case class Rewrite(path: String, kept: DataFrame,
      partCols: Seq[String], dirs: Seq[String], refs: Option[DataFrame])

  /** THE commit of every rewrite of landed data: partials folds,
    * tombstone vacuums, retention, and the `_refs` sidecar each of them
    * refreshes. A mutator plans its [[Rewrite]] and calls this once;
    * this is the one place that picks the protocol.
    *
    * Staged swap (an artifact without a manifest):
    *   1. stage: `kept` lands under `<root>/.graft_stage` at the same
    *      relative partition paths, the new sidecar under
    *      `.graft_stage/_refs` (two concurrent Spark jobs; nothing live
    *      is touched, so `kept` may read the dirs it replaces);
    *   2. marker: `<root>/.graft_commit` lists every dir the commit
    *      moves, `+dir` with a staged replacement and `-dir` without
    *      (written under a temp name, then renamed in);
    *   3. renames in marker order, data dirs first and `_refs` last:
    *      the live dir to `.graft_old/<dir>`, then the staged one in;
    *   4. cleanup: delete the stage, then `.graft_old`, then the marker
    *      LAST.
    *
    * What [[recover]] does at each crash point:
    *   - in 1 or 2 (no marker): nothing live moved, the artifact is the
    *     pre-commit one; [[enter]] deletes the stale stage (roll back);
    *   - in 3 (marker): roll FORWARD. Every `+dir` still in the stage
    *     moves in, its live dir aside first if still there; every
    *     `-dir` still live moves aside. The result is exactly the
    *     post-commit artifact, for SUM folds as for any other;
    *   - in 4 (marker, nothing left to move): roll-forward only
    *     finishes the cleanup. A marker deleted before `.graft_old`
    *     would let a crash between the two deletes roll a FINISHED swap
    *     back and restore every partition it dropped.
    *
    * Manifest publish (an artifact with a manifest; several artifacts
    * in one call must all have one): each sidecar is staged as in 1,
    * then `kept` lands as fresh files next to the live ones
    * ([[stageNewFiles]]), each sidecar's marker goes in GATED on the
    * publish (`@file`: a live file the publish drops), ONE
    * [[Manifests.commitGroup]] publishes every artifact together, and
    * each sidecar swaps in through 3–4. Readers resolve a snapshot and
    * never see a half state. A crash before the publish leaves
    * unreferenced files that the next [[enter]] reaps, and [[recover]]
    * finds the gate file still listed and rolls the sidecar BACK; a
    * crash inside the publish rolls forward at the next touch of any
    * member; after it, the gate file is gone from the snapshot and the
    * sidecar rolls FORWARD. The sidecar thus always matches the
    * published data: a fold's old sidecar would not cover its new
    * merged partition, a vacuum's new one would not flag the rows the
    * old data still holds. (The gate is a dropped file, not a version
    * number: an ingest commit between the crash and the repair bumps
    * the version but keeps every file.)
    *
    * Directory rename is atomic on POSIX and HDFS; on an object store
    * the same crash analysis holds with the store's equivalent (e.g. a
    * manifest pointer swap). */
  private def commitRewrites(spark: SparkSession, rws: Seq[Rewrite]): Unit = {
    val fs = new Path(rws.head.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stageRefs(rw: Rewrite): Unit = rw.refs.foreach(_.coalesce(1)
      .write.mode("overwrite").parquet(s"${rw.path}/$StageDir/$RefsDir"))
    if (Manifests.isEnabled(fs, new Path(rws.head.path))) {
      val content = new Array[Seq[String]](rws.size)
      inParallel(rws.zipWithIndex.map { case (rw, i) => () => {
        val root = new Path(rw.path)
        // the sidecar stages FIRST: `kept` may re-read the dirs the new
        // files are about to move into
        stageRefs(rw)
        content(i) = Manifests.resolveFiles(fs, root).get
          .filterNot(f => rw.dirs.exists(d => f.startsWith(d + "/"))) ++
          stageNewFiles(spark, root, fs, rw.kept, rw.partCols)
      }}: _*)
      val sidecars = rws.filter(_.refs.isDefined).map { rw =>
        val root = new Path(rw.path)
        val gate = Manifests.resolveFiles(fs, root).get
          .find(f => rw.dirs.exists(d => f.startsWith(d + "/")))
          .getOrElse(sys.error(s"$root: the commit replaces no live file"))
        mark(fs, root, Seq("@" + gate, "+" + RefsDir))
        root
      }
      Manifests.commitGroup(fs, rws.map(rw => new Path(rw.path)).zip(content))
      sidecars.foreach(rollForward(fs, _, Seq("+" + RefsDir)))
    } else {
      require(rws.size == 1,
        s"${rws.map(_.path)}: a multi-artifact commit needs manifests")
      val rw = rws.head
      val root = new Path(rw.path)
      val stage = new Path(root, StageDir)
      // append, not overwrite: an overwrite would delete the sidecar
      // staging beside it ([[enter]] already removed any stale stage)
      inParallel(
        () => rw.kept.write.mode("append").partitionBy(rw.partCols: _*)
          .parquet(stage.toString),
        () => stageRefs(rw))
      val staged =
        if (!fs.exists(stage)) Nil
        else partitionLeafDirs(fs, stage).map(relPath(stage, _)).sorted
      val entries = (rw.dirs ++ staged).distinct
        .map(d => (if (staged.contains(d)) "+" else "-") + d) ++
        rw.refs.map(_ => "+" + RefsDir)
      mark(fs, root, entries)
      rollForward(fs, root, entries)
    }
  }

  /** Step 2 of [[commitRewrites]]: the marker, its `lines` written
    * under a temp name and renamed in. */
  private def mark(fs: FileSystem, root: Path, lines: Seq[String]): Unit = {
    val tmp = new Path(root, MarkerTmp)
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
    move(fs, tmp, new Path(root, CommitMarker))
  }

  /** Steps 3–4, idempotent: a `+dir` whose staged copy has already
    * moved in, or a `-dir` already aside, is skipped, so the commit and
    * [[recover]] run the same code from wherever the last run stopped. */
  private def rollForward(fs: FileSystem, root: Path,
                          entries: Seq[String]): Unit = {
    val (stage, old) = (new Path(root, StageDir), new Path(root, OldDir))
    entries.foreach { e =>
      val (staged, d) = (e.head == '+', e.tail)
      val live = new Path(root, d)
      if (!staged || fs.exists(new Path(stage, d))) {
        if (fs.exists(live)) move(fs, live, new Path(old, d))
        if (staged) move(fs, new Path(stage, d), live)
      }
    }
    Seq(stage, old, new Path(root, CommitMarker)).foreach(fs.delete(_, true))
  }

  private def move(fs: FileSystem, src: Path, dst: Path): Unit = {
    if (!fs.exists(dst.getParent)) fs.mkdirs(dst.getParent)
    require(fs.rename(src, dst), s"staged commit: rename $src -> $dst failed")
  }

  /** THE repair after a crash anywhere in [[commitRewrites]] (its doc
    * lists the crash points): finishes a crashed manifest publish, then
    * rolls a staged swap whose marker landed forward, or back when its
    * gate says the publish it waits for never happened. It moves files,
    * so only a mutator runs it, on entry ([[enter]]; single writer);
    * readers resolve the same post-commit view without moving anything
    * ([[readLanded]]). */
  private[streaming] def recover(fs: FileSystem, root: Path): Unit = {
    Manifests.recoverGroup(fs, root)
    val marker = new Path(root, CommitMarker)
    if (!fs.exists(marker)) return
    val (gate, entries) =
      Manifests.readLines(fs, marker).partition(_.startsWith("@"))
    val live = Manifests.resolveFiles(fs, root).getOrElse(Nil).toSet
    if (gate.forall(g => !live.contains(g.tail))) rollForward(fs, root, entries)
    else Seq(new Path(root, StageDir), marker).foreach(fs.delete(_, true))
  }

  /** The reader's side of [[commitRewrites]]: a landed artifact's
    * committed content, resolved WITHOUT moving anything, so a read
    * that overlaps a commit never races its renames. A manifest
    * artifact reads its latest snapshot. Otherwise the directory; where
    * a staged swap's marker stands (a crashed commit, or one in
    * flight), each dir it names is read from wherever its post-commit
    * copy is now: the stage while a `+dir` is still there, live once
    * moved in, nowhere for a `-dir`. A crash anywhere in the swap thus
    * reads as the post-commit artifact, never a short one. `schema`
    * fixes the columns; without it they are inferred, as a directory
    * read infers them. (A read that overlaps a commit in flight may
    * fail on a dir the commit just moved; only a manifest isolates
    * concurrent readers.) */
  private[streaming] def readLanded(spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rd(s: Option[org.apache.spark.sql.types.StructType]) =
      s.fold(spark.read)(spark.read.schema(_))
        .option("mergeSchema", mergeSchema.toString)
    def under(base: Path, dirs: Seq[String],
              s: Option[org.apache.spark.sql.types.StructType]) =
      rd(s).option("basePath", base.toString)
        .parquet(dirs.map(new Path(base, _).toString): _*)
    val marker = new Path(root, CommitMarker)
    Manifests.resolveFiles(fs, root) match {
      case Some(files) =>
        require(files.nonEmpty, s"manifest at $path lists no files")
        under(root, files, schema)
      case None if !fs.exists(marker) => rd(schema).parquet(path)
      case None =>
        val lines = Manifests.readLines(fs, marker)
        val stage = new Path(root, StageDir)
        val (staged, movedIn) = lines.filter(_.startsWith("+")).map(_.tail)
          .filter(_ != RefsDir).partition(d => fs.exists(new Path(stage, d)))
        val live = partitionLeafDirs(fs, root).map(relPath(root, _))
          .filterNot(lines.map(_.tail).toSet) ++
          movedIn.filter(d => fs.exists(new Path(root, d)))
        val sides = Seq(root -> live, stage -> staged).filter(_._2.nonEmpty)
        if (sides.isEmpty) return rd(schema).parquet(path)
        // one schema for both sides, so partition columns type alike
        val s = schema.getOrElse(sides.map { case (b, ds) => under(b, ds, None)
            .schema }.reduce((a, b) => b.foldLeft(a)((m, f) =>
              if (m.fieldNames.contains(f.name)) m else m.add(f))))
        sides.map { case (b, ds) => under(b, ds, Some(s)) }
          .reduce(_.unionByName(_))
    }
  }

  /** Mutator entry: [[recover]], then reap what no commit will use: an
    * undecided commit's stage (the roll-back) and, on a manifest
    * artifact, every file the snapshot does not list
    * ([[Manifests.cleanupUnreferenced]]; after it the directory listing
    * IS the snapshot, so the mutator's directory reads are
    * snapshot-consistent). False when the artifact was never written. */
  private def enter(fs: FileSystem, root: Path): Boolean = {
    if (!fs.exists(root)) return false
    recover(fs, root)
    Seq(StageDir, MarkerTmp, ManifestStageDir).map(new Path(root, _))
      .filter(fs.exists).foreach(fs.delete(_, true))
    Manifests.cleanupUnreferenced(fs, root)
    true
  }

  // --------------------------------------- tombstone vacuum (landed state)

  /** Right-to-be-forgotten for LANDED artifacts (q216): the write-path
    * purge (q199) keeps tombstoned subjects' rows from landing in NEW
    * batches, but rows already inside a persisted index (LSH
    * signatures, candidate-pair logs, fingerprint claims, scored
    * manifests) outlive the purge — this vacuum closes that gap.
    * It rewrites ONLY the partitions that still reference a tombstoned
    * id (bounded fan-out: the affected-partition list is O(purge
    * fan-out), collected as literal partition filters — the unaffected
    * 99.9% of a 100 TB index is never read, never rewritten), dropping
    * the referencing rows, through [[commitRewrites]]: a partition
    * whose EVERY row was tombstoned vanishes. After a crash anywhere,
    * [[recover]] leaves the pre- or the post-vacuum artifact, and the
    * vacuum is IDEMPOTENT (a rerun re-detects whatever is still
    * affected); [[tombstoneResiduals]] is the measured-zero gate (q193's
    * residual-audit discipline) that proves convergence.
    *
    * `tombstones`' FIRST column is the erased id; `refCols` are the
    * artifact's columns that reference it (an index row dies if ANY
    * of them matches — a pair log purges on either endpoint). The
    * tombstone side is O(erasure requests) and broadcast. */
  def vacuumTombstoned(spark: SparkSession, path: String,
                       tombstones: DataFrame, refCols: Seq[String],
                       partCols: Seq[String]): Unit =
    vacuumTombstonedGroup(spark, Seq((path, refCols, partCols)), tombstones)

  /** The tombstone side, prepared once per artifact: cast to the ref
    * columns' own type and broadcast, plus the hit predicate. The cast
    * comes before anything hashes or compares it: the `_refs` bloom
    * hashes string forms while the verify read compares natively, so a
    * type pairing whose numeric coercion matches but whose string forms
    * differ (double 11.0 vs long 11) would otherwise give the bloom a
    * FALSE negative — a skipped partition the full scan would have
    * vacuumed. One common type is required so there is exactly one
    * equality semantics for detection, verify, and rewrite alike. */
  private def tombPrep(spark: SparkSession, path: String,
                       tombstones: DataFrame, refCols: Seq[String])
      : (DataFrame, Column) = {
    // ref-column types from a single-footer schema probe first: ref
    // columns are core data columns present in every file, so the
    // default inference (one sampled footer, no distributed
    // footer-merge job) finds them; only if a ref column is MISSING
    // from the sampled footer (an evolved log where the column arrived
    // mid-life) pay for the full mergeSchema pass.
    // ASSUMPTION (ADVICE-r15, documented): the fast path requires ref
    // columns be TYPE-STABLE across the log's files — if footers
    // disagree on a ref column's type, the sampled type wins silently
    // and the refTypes guard below can't see the conflict. Every
    // artifact this repo lands satisfies it by construction (ref
    // columns are the keys the ingest writes identically every batch;
    // schema evolution adds/misses columns, never retypes keys — the
    // q228 contract), and the residual audit after every vacuum would
    // fail LOUDLY on a missed row. A log that retypes its keys mid-life
    // must take the mergeSchema branch (delete the fast-path guard).
    def refTypesOf(schema: org.apache.spark.sql.types.StructType) =
      schema.fields.filter(f => refCols.contains(f.name))
        .map(_.dataType).distinct
    val sampled = spark.read.parquet(path).schema
    val refTypes =
      if (refCols.forall(sampled.fieldNames.contains)) refTypesOf(sampled)
      else refTypesOf(
        spark.read.option("mergeSchema", "true").parquet(path).schema)
    require(refTypes.length == 1,
      s"vacuum: refCols $refCols span types ${refTypes.mkString(",")} — " +
        "one equality semantics required")
    // materialize the (small, O(erasure batch)) tombstone set ONCE:
    // detection, the verify read, the survivors anti-join and the
    // residual audit each put it on the build side of a join, and
    // without the checkpoint every one of those jobs re-runs the
    // caller's tombstone derivation (often a corpus scan + distinct)
    val tomb = broadcast(
      tombstones.select(col(tombstones.columns.head)
        .cast(refTypes.head).as("__t")).distinct()
        .localCheckpoint(true))
    (tomb, refCols.map(c => col(c) === col("__t")).reduce(_ || _))
  }

  /** Tombstone vacuum over several artifacts committed TOGETHER: one
    * [[commitRewrites]] call, so manifest-carrying members move in ONE
    * atomic publish — the index and its pair log (verdict-r14 "Next
    * round" #1: a crash between two separate vacuums left them mutually
    * inconsistent until a rerun converged; a concurrent reader could
    * see a half-swapped artifact). More than one member therefore
    * requires manifests on all of them.
    *
    * Per member, concurrently (each reads and stages only its own root
    * — guide §2.6): [[enter]], detect the affected partitions
    * ([[detectAffected]]: the `_refs` consult where the artifact keeps
    * one), and materialize the survivors ONCE (localCheckpoint): the
    * stage write and the sidecar refresh both consume them, where
    * re-deriving per consumer would re-read the affected partitions and
    * re-run the anti-join. O(purge fan-out) rows. */
  def vacuumTombstonedGroup(spark: SparkSession,
      artifacts: Seq[(String, Seq[String], Seq[String])],
      tombstones: DataFrame): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    require(artifacts.size == 1 || artifacts.forall { case (p, _, _) =>
        val root = new Path(p)
        Manifests.isEnabled(root.getFileSystem(hconf), root)
      }, s"${artifacts.map(_._1)}: a group vacuum needs a manifest on " +
        "every member; use vacuumTombstoned per artifact")
    def plan(path: String, refCols: Seq[String],
             partCols: Seq[String]): Option[Rewrite] = {
      val root = new Path(path)
      if (!enter(root.getFileSystem(hconf), root)) return None
      val (tomb, hit) = phase(s"vac tombPrep $path") {
        tombPrep(spark, path, tombstones, refCols)
      }
      val affected = phase(s"vac detect $path") {
        detectAffected(spark, path, tomb, hit, partCols)
      }
      if (affected.isEmpty) return None
      val survivors = phase(s"vac survivors $path") {
        vacuumAffectedRead(spark, path, affected, partCols)
          .join(tomb, hit, "left_anti")
          .localCheckpoint(true)
      }
      Some(Rewrite(path, survivors, partCols,
        affected.map(relOfRow(_, partCols)),
        refsRefreshed(spark, path, affected, refCols, partCols, survivors)))
    }
    val planned = Array.fill[Option[Rewrite]](artifacts.size)(None)
    inParallel(artifacts.zipWithIndex.map {
      case ((path, refCols, partCols), i) =>
        () => planned(i) = plan(path, refCols, partCols)
    }: _*)
    val rws = planned.toSeq.flatten
    if (rws.nonEmpty) phase("vac commit") { commitRewrites(spark, rws) }
  }

  /** Independent per-artifact tombstone vacuums run CONCURRENTLY
    * (optimization guide §2.6 — overlap independent jobs: actions are
    * only sequential because the driver calls them sequentially). Each
    * artifact's detect/stage/swap touches only its own root, so the
    * jobs share nothing but the scheduler; the second artifact's small
    * detection jobs back-fill executor slots the first one's tail
    * leaves idle. Semantics identical to calling [[vacuumTombstoned]]
    * once per artifact — same code path per artifact, same residuals.
    * NOTE: for MANIFEST-carrying artifacts that must move together use
    * [[vacuumTombstonedGroup]] (one atomic publish), not this. */
  def vacuumTombstonedPar(spark: SparkSession,
      artifacts: Seq[(String, Seq[String], Seq[String])],
      tombstones: DataFrame): Unit =
    // settle-all discipline (ADVICE-r15): inParallel joins every task
    // before rethrowing, so a caller catching a failure never starts
    // cleanup while a sibling vacuum is mid stage-and-swap
    inParallel(artifacts.map { case (path, refCols, partCols) =>
      () => vacuumTombstoned(spark, path, tombstones, refCols, partCols)
    }: _*)

  /** The residual audit over SEVERAL artifacts as ONE Spark action:
    * the per-artifact semi-join counts are independent, so summing
    * them in one job replaces N sequential small jobs (each with its
    * own fixed scheduling + tombstone-side evaluation). Returns the
    * total residual count — the same number as summing
    * [[tombstoneResiduals]] per artifact. */
  def tombstoneResidualsMany(spark: SparkSession,
      artifacts: Seq[(String, Seq[String])], tombstones: DataFrame): Long = {
    val tomb = broadcast(
      tombstones.select(col(tombstones.columns.head).as("__t")).distinct()
        .localCheckpoint(true))
    artifacts.map { case (path, refCols) =>
      readLanded(spark, path, mergeSchema = true)
        .join(tomb, refCols.map(c => col(c) === col("__t")).reduce(_ || _),
          "left_semi")
        .select(lit(1L).as("__one"))
    }.reduce(_.unionByName(_)).count()
  }

  /** Manifest-mode staging: write `kept` (partitioned) into a hidden
    * stage dir, then MOVE each data file into its live partition dir
    * under a fresh unique name — never overwriting, never renaming
    * existing files away, so every file a published snapshot lists
    * stays readable. Returns the new files' root-relative paths (the
    * commit's content delta). A crash mid-move leaves unreferenced
    * files only; [[Manifests.cleanupUnreferenced]] reaps them at the
    * next mutator entry. */
  private def stageNewFiles(spark: SparkSession,
      root: org.apache.hadoop.fs.Path, fs: org.apache.hadoop.fs.FileSystem,
      kept: DataFrame, partCols: Seq[String]): Seq[String] = {
    val stage = new org.apache.hadoop.fs.Path(root, ManifestStageDir)
    fs.delete(stage, true)
    kept.write.partitionBy(partCols: _*).parquet(stage.toString)
    val moved = Manifests.dataFilesUnder(fs, stage).map { f =>
      val slash = f.lastIndexOf('/')
      val dir = if (slash < 0) "" else f.substring(0, slash)
      val tgt = (if (dir.isEmpty) "" else dir + "/") +
        s"graft-${java.util.UUID.randomUUID()}.parquet"
      val live = new org.apache.hadoop.fs.Path(root, tgt)
      fs.mkdirs(live.getParent)
      require(fs.rename(new org.apache.hadoop.fs.Path(stage, f), live),
        s"manifest stage: move $f -> $tgt failed")
      tgt
    }
    fs.delete(stage, true)
    moved
  }

  /** Age-based retention for landed partial logs (q222) — the other
    * half of verdict-r12 item 6 next to the tombstone vacuum: monitor
    * logs grow with ingest AGE even when nothing is erased
    * (storage-limitation, not right-to-be-forgotten). Rewrites only
    * the partitions containing at least one `expired` row through the
    * SAME [[commitRewrites]] (a partition whose every row expired
    * vanishes — e.g. a whole old micro-batch of hourly partials), and
    * is idempotent exactly like the tombstone vacuum: a crashed run's
    * partitions hold either all their rows or only the retained ones,
    * and the rerun re-detects what is left. Valid for any log whose
    * snapshot semantics are per-key over the retained horizon
    * (time-keyed partials: dropping whole expired hours = dropping
    * their events); composes with compaction — after a fold,
    * retention rewrites the one merged partition. */
  def retentionVacuum(spark: SparkSession, path: String,
                      expired: org.apache.spark.sql.Column,
                      partCols: Seq[String]): Unit =
    retention(spark, path, expired, partCols, zoneKey = None)

  /** Keyed retention — [[retentionVacuum]] with the sidecar discipline
    * the tombstone family got in round 14 (verdict-r14 What's-wrong
    * #1: the generic flavor's detection is a full-log scan of the
    * retention key per run — O(artifact) when pointed at a corpus-
    * grain log). The expiry predicate is pinned to the shape every
    * registered retention actually has, `keyCol < cutoff`, which is a
    * RANGE predicate: detection consults the `_refs` zone maps
    * (per-partition min/max of the key — exact where a bloom is
    * probabilistic: a partition holds an expired row iff its zmin
    * clears the cutoff, modulo staleness) and then VERIFIES with a
    * read pruned to candidate partitions + uncovered leaves, the same
    * two-step the tombstone path runs. Stale zone rows (a rewrite
    * moved zmin up, a fold widened a range) only over-admit candidates
    * — the verify read kills false positives; never a false negative.
    * Falls back to the full scan on artifacts with no zone sidecar. */
  def retentionVacuumKeyed(spark: SparkSession, path: String,
                           keyCol: String, cutoff: Column,
                           partCols: Seq[String]): Unit =
    retention(spark, path, col(keyCol) < cutoff, partCols,
      zoneKey = Some((keyCol, cutoff)))

  /** The retention body: detect the partitions holding an `expired`
    * row — from the zone maps of `zoneKey` (key column, cutoff) when
    * given and present, else by a full scan — then commit their
    * retained rows and the refreshed sidecar. */
  private def retention(spark: SparkSession, path: String, expired: Column,
                        partCols: Seq[String],
                        zoneKey: Option[(String, Column)]): Unit = {
    val root = new Path(path)
    if (!enter(root.getFileSystem(spark.sparkContext.hadoopConfiguration),
        root)) return
    def expiredParts(read: DataFrame): Seq[Row] =
      read.filter(expired).select(partCols.map(col): _*).distinct()
        .collect().toSeq
    val affected = zoneKey.flatMap { case (keyCol, cutoff) =>
      refsZoneCandidates(spark, path, keyCol, (zmin, _) => zmin < cutoff,
        partCols)
    } match {
      case None =>
        expiredParts(spark.read.option("mergeSchema", "true").parquet(path))
      case Some((cands, uncov)) =>
        vacuumDetectRead(spark, path, cands, uncov, partCols)
          .map(expiredParts).getOrElse(Nil)
    }
    if (affected.isEmpty) return
    // three-valued logic: a row where `expired` evaluates to NULL is
    // not detected above, so the rewrite must RETAIN it — a bare
    // !expired would silently drop it from the rewritten partition
    val kept = vacuumAffectedRead(spark, path, affected, partCols)
      .filter(not(coalesce(expired, lit(false))))
    commitRewrites(spark, Seq(Rewrite(path, kept, partCols,
      affected.map(relOfRow(_, partCols)),
      refsRefreshed(spark, path, affected, Nil, partCols, kept))))
  }

  /** The vacuum's read of the affected partitions: an OR-of-ANDs of
    * LITERAL partition-column equalities, so the scan prunes to
    * exactly the affected directories (PartitionFilters) — the
    * unaffected bulk of a 100 TB index is never read, which is the
    * other half of "rewrite affected partitions only" (the no-rewrite
    * half is the same-files-same-mtimes spec). Package-visible so the
    * spec asserts the plan, not just the outcome.
    *
    * Null-SAFE equality (`<=>`): the swap renders a null partition
    * value as __HIVE_DEFAULT_PARTITION__ and finds the on-disk dir, so
    * the read must select that partition too — a bare `===` can never
    * match null and the rename-away would delete the whole null-valued
    * partition including its non-tombstoned rows. `<=>` with a literal
    * still partition-prunes (the file index evaluates any deterministic
    * predicate over partition values; the 2-of-4-dirs spec holds).
    *
    * mergeSchema: a landed log can carry mixed batch schemas after a
    * mid-life pipeline upgrade (q228's v1/v2 partials contract). A
    * single-footer inference could sample a v1 file and rewrite
    * affected partitions with the evolved column silently dropped;
    * merging keeps every column (v1 rows null in v2 columns — the same
    * never-fabricate law the readers follow). */
  private[streaming] def vacuumAffectedRead(spark: SparkSession,
      path: String, affected: Seq[Row], partCols: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
      .filter(affectedPredicate(affected, partCols))

  /** The OR-of-ANDs of null-safe literal partition equalities selecting
    * `affected`, its disjuncts in partition-value order (nulls first).
    * `affected` arrives in `collect()` order, which varies run to run;
    * the literals are inlined into the generated code, so an unsorted
    * predicate compiled a new class for the same vacuum on every run. */
  private def affectedPredicate(affected: Seq[Row],
                                partCols: Seq[String]): Column = {
    val byValues: Ordering[Row] = (a, b) =>
      partCols.indices.iterator.map { i =>
        (a.get(i), b.get(i)) match {
          case (null, null) => 0
          case (null, _) => -1
          case (_, null) => 1
          case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
        }
      }.find(_ != 0).getOrElse(0)
    affected.sorted(byValues).map(r => partCols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(r.get(i)) }.reduce(_ && _))
      .reduce(_ || _)
  }

  // ------------------------------ refs summaries (vacuum detection pruning)

  /** Sidecar directory holding the per-partition refs summary, INSIDE
    * the artifact root. Underscore-prefixed, so every Spark read of the
    * artifact (history reads, snapshots, the vacuum's own pruned reads)
    * ignores it — the sidecar can never leak into a census. */
  private[streaming] val RefsDir = "_refs"
  /** Bloom geometry: k hash positions per ref value over an m-position
    * space. Positions are stored as the partition's DISTINCT position
    * set (≤ m ints ≈ 32 KB saturated), so a partition with more
    * distinct refs than m/k degrades to "always a candidate" —
    * conservative, never false-negative. Size m to the expected
    * distinct refs per partition (a micro-batch band slice here). */
  private[streaming] val RefsBloomBits = 8192
  private[streaming] val RefsBloomK = 4

  /** The k bloom positions of one ref value. Values hash through their
    * STRING form so a long doc_id column and the (possibly differently
    * typed) tombstone side always hash identically. */
  private def refsPositions(v: Column): Column =
    array((0 until RefsBloomK).map(j =>
      pmod(xxhash64(v.cast("string"), lit(j)), lit(RefsBloomBits))
        .cast("int")): _*)

  /** One summary row per partition of `batch`: the partition values
    * plus the sorted distinct bloom positions of every ref value in
    * any of `refCols` (when tombstone detection is wanted) and the
    * per-partition min/max of each `zoneCols` column (zone maps —
    * range-predicate detection for [[retentionVacuumKeyed]]: retention
    * predicates are range predicates, so min/max is cheaper AND exact
    * where a bloom would be probabilistic). O(partition fan-out) rows,
    * a few KB each. */
  private def refsSummaryOf(batch: DataFrame, refCols: Seq[String],
                            partCols: Seq[String],
                            zoneCols: Seq[String] = Nil): DataFrame = {
    require(refCols.nonEmpty || zoneCols.nonEmpty,
      "refsSummaryOf: nothing to summarize")
    val zoneAggs = zoneCols.flatMap(c => Seq(
      min(col(c)).as(s"zmin_$c"), max(col(c)).as(s"zmax_$c")))
    if (refCols.isEmpty)
      batch.groupBy(partCols.map(col): _*)
        .agg(zoneAggs.head, zoneAggs.tail: _*)
    else
      // zone min/max ride the exploded rows unharmed: explode
      // duplicates a row once per ref column, which changes no extremum
      batch
        .select(partCols.map(col) ++ zoneCols.map(col) :+
          explode(array(refCols.map(c => col(c).cast("string")): _*))
            .as("__v"): _*)
        .select(partCols.map(col) ++ zoneCols.map(col) :+
          explode(refsPositions(col("__v"))).as("__p"): _*)
        .groupBy(partCols.map(col): _*)
        .agg(sort_array(collect_set(col("__p"))).as("positions"),
          zoneAggs: _*)
  }

  /** Appends the refs summary of a just-landed batch to the sidecar.
    * Replay-safe: a replayed batch re-appends IDENTICAL rows (the data
    * write overwrote the same partition), and detection unions
    * positions per partition — duplicates are absorbed. */
  private def refsAppend(landed: DataFrame, path: String,
                         refCols: Seq[String], partCols: Seq[String],
                         zoneCols: Seq[String] = Nil): Unit =
    refsSummaryOf(landed, refCols, partCols, zoneCols)
      .coalesce(1) // O(partitions-touched) rows — one small file per batch
      .write.mode("append").parquet(s"$path/$RefsDir")

  /** Does the sidecar exist with at least one data file? An empty or
    * absent sidecar means "no summary" (legacy artifact) — detection
    * falls back to the full scan rather than failing schema inference. */
  private def refsHasData(fs: org.apache.hadoop.fs.FileSystem,
                          refs: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(refs) && fs.listStatus(refs).exists(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))

  /** Partition leaf directories of a LIVE artifact: like [[leafDirs]]
    * but skipping hidden trees (`_refs`, a stage/old dot-dir) so only
    * real `col=value` leaves are listed. */
  private def partitionLeafDirs(fs: org.apache.hadoop.fs.FileSystem,
                                dir: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.Path] = {
    val st = fs.listStatus(dir).filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    val subs = st.filter(_.isDirectory).toSeq
      .flatMap(s => partitionLeafDirs(fs, s.getPath))
    val hasData = st.exists(_.isFile)
    (if (hasData) Seq(dir) else Nil) ++ subs
  }

  /** The Hive-escaped relative path of a partition-values row — the
    * SAME rendering the swap uses, so coverage comparison against
    * on-disk directory names can't drift. */
  private def relOfRow(r: Row, partCols: Seq[String]): String =
    partCols.zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString(c, Option(r.get(i)).map(_.toString).orNull)
    }.mkString("/")

  /** Detection's summary consult (verdict-r13 "What's wrong #1"): from
    * the sidecar alone, the CANDIDATE partitions — those whose bloom
    * may contain any tombstone — plus the on-disk leaves with no
    * summary row at all (a compaction-merged partition, a pre-summary
    * slice: conservatively candidates). Returns None when the artifact
    * has no sidecar (legacy → caller full-scans). The whole consult
    * reads O(partitions) tiny summary rows and FS metadata — never the
    * index data. */
  private[streaming] def refsCandidatePartitions(spark: SparkSession,
      path: String, tomb: DataFrame, partCols: Seq[String])
      : Option[(Seq[Row], Seq[org.apache.hadoop.fs.Path])] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val refs = new org.apache.hadoop.fs.Path(root, RefsDir)
    if (!refsHasData(fs, refs)) return None
    // ONE read of the sidecar (footer merge + file listing happen once;
    // a second spark.read of the same path re-lists and re-merges)
    val all = spark.read.option("mergeSchema", "true")
      .parquet(refs.toString)
    // a zone-only sidecar (retention artifacts) carries no bloom
    // positions — tombstone detection treats it as absent (full scan)
    if (!all.columns.contains("positions")) return None
    // positions per partition, duplicates from replays/appends unioned.
    // Rows with NULL positions (zone-only rows on a mixed-family
    // sidecar) summarize nothing bloom-wise: dropping them here makes
    // their partitions UNCOVERED below — a conservative candidate, not
    // a silent never-matches row.
    //
    // ONE bounded collect (O(partitions) rows of ≤[[RefsBloomBits]]
    // bits each — the same driver-size class as the candidate/coverage
    // lists this function always returned), then the candidate test —
    // "some tombstone has ALL its k positions in the partition's set"
    // — runs as driver bitset lookups. History of this spelling: a
    // literal OR-of-ANDs predicate was measured 4.6× slower at a
    // 500-request batch (Catalyst analysis dominated, round-14 A/B); a
    // position equi-join + hit-count fixed that but still paid three
    // small-stage jobs (summary agg + join-agg + coverage collect,
    // ~0.7 s of a ~2 s vacuum at sf0.1); the collect-and-test spelling
    // is one job + O(partitions × tombstones × k) driver bit-tests —
    // both factors contract-bounded (partition fan-out / erasure
    // batch). The tombstone positions still come from the SAME Catalyst
    // kernel ([[refsPositions]]), never a driver reimplementation.
    // SCALE GUARD (verdict-r15 "What's wrong #5"): the collect-and-
    // bitset spelling pulls O(partitions) rows × ≤RefsBloomBits bits to
    // the driver — bounded by the band/bucket × batch fan-out on every
    // artifact here, but at thousands of landed batches it would be the
    // first collect to outgrow "bounded metadata". Above the threshold
    // (live leaf-dir count — FS metadata, no job) fall back to the
    // distributed join spelling: slower at small fan-out (three small
    // stages, ~0.7 s of a ~2 s vacuum at sf0.1 — the r15 measurement
    // that motivated the bitset), but O(1) driver memory.
    val leaves = partitionLeafDirs(fs, root)
    if (leaves.size > RefsConsultDriverMax) {
      val summary = all.filter(col("positions").isNotNull)
        .groupBy(partCols.map(col): _*)
        .agg(array_distinct(flatten(collect_list(col("positions"))))
          .as("positions"))
        .persist()
      try {
        // tombstone bloom positions via the SAME kernel. Candidate test
        // — "some tombstone has ALL its k positions in the partition's
        // set" — as a position equi-join + per-(partition, tombstone)
        // hit count (NOT a literal OR-of-ANDs predicate, whose Catalyst
        // analysis dominated at a 500-request batch, round-14 A/B).
        val tombPos = tomb
          .select(col(tomb.columns.head).cast("string").as("__t"))
          .distinct()
          .select(col("__t"), explode(refsPositions(col("__t"))).as("__p"))
          .distinct()
        val kOf = tombPos.groupBy(col("__t"))
          .agg(count(lit(1)).as("__k"))
        val sumPos = summary
          .select(partCols.map(col) :+ explode(col("positions")).as("__p"): _*)
        val candidates = sumPos.join(broadcast(tombPos), "__p")
          .groupBy(partCols.map(col) :+ col("__t"): _*)
          .agg(count(lit(1)).as("__hits"))
          .join(broadcast(kOf), "__t")
          .filter(col("__hits") === col("__k"))
          .select(partCols.map(col): _*).distinct()
          .collect().toSeq
        val covered = summary.select(partCols.map(col): _*).collect()
          .map(relOfRow(_, partCols)).toSet
        val uncovered = leaves.filterNot(l => covered.contains(relPath(root, l)))
        return Some((candidates, uncovered))
      } finally summary.unpersist()
    }
    val summaryRows = phase(s"consult candidates $path") {
      all.filter(col("positions").isNotNull)
        .groupBy(partCols.map(col): _*)
        .agg(array_distinct(flatten(collect_list(col("positions"))))
          .as("positions"))
        .collect()
    }
    val tombPosRows = phase(s"consult tombpos $path") {
      tomb.select(col(tomb.columns.head).cast("string").as("__t"))
        .distinct()
        .select(refsPositions(col("__t")).as("__ps"))
        .collect()
        .map(_.getSeq[Int](0))
    }
    val candidates = summaryRows.filter { r =>
      val bits = new java.util.BitSet(RefsBloomBits)
      r.getSeq[Int](r.length - 1).foreach(bits.set)
      tombPosRows.exists(_.forall(bits.get))
    }.map(r => Row.fromSeq(r.toSeq.dropRight(1))).toSeq
    // coverage diff: O(partitions) keys + FS listing, both metadata
    val covered = summaryRows
      .map(r => relOfRow(Row.fromSeq(r.toSeq.dropRight(1)), partCols)).toSet
    val uncovered = leaves.filterNot(l => covered.contains(relPath(root, l)))
    Some((candidates, uncovered))
  }

  /** Leaf-dir count above which [[refsCandidatePartitions]] abandons
    * the driver bitset consult for the distributed join spelling —
    * the bound that keeps the consult's driver footprint O(threshold ×
    * RefsBloomBits) bits (~4 MB at the default) whatever the ingest
    * age. Prop-overridable so the spec can force the fallback on a
    * small artifact and pin its equivalence. */
  private[streaming] def RefsConsultDriverMax: Int =
    sys.props.get("graft.refsConsultMax").map(_.toInt).getOrElse(4096)

  /** Zone-map consult — [[refsCandidatePartitions]]' sibling for RANGE
    * predicates ([[retentionVacuumKeyed]]): from the sidecar's
    * per-partition zmin_/zmax_ rows alone, the partitions whose key
    * range may satisfy `candidate(zmin, zmax)`, plus the on-disk
    * leaves with no zone row (conservatively candidates). Duplicate
    * rows from replay appends merge by min/max — a widened (stale)
    * range only over-admits, and the caller's verify read kills false
    * positives. Rows whose zmin is NULL (an all-null-key batch, or a
    * pre-zone sidecar row under mergeSchema) stay candidates for the
    * same reason. Returns None when the sidecar carries no zone map
    * for `keyCol` (legacy → caller full-scans). O(partitions) summary
    * rows + FS metadata — never the artifact's data. */
  private[streaming] def refsZoneCandidates(spark: SparkSession,
      path: String, keyCol: String, candidate: (Column, Column) => Column,
      partCols: Seq[String])
      : Option[(Seq[Row], Seq[org.apache.hadoop.fs.Path])] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val refs = new org.apache.hadoop.fs.Path(root, RefsDir)
    if (!refsHasData(fs, refs)) return None
    val (zmin, zmax) = (s"zmin_$keyCol", s"zmax_$keyCol")
    val all = spark.read.option("mergeSchema", "true")
      .parquet(refs.toString)
    if (!all.columns.contains(zmin)) return None
    val summary = all
      .groupBy(partCols.map(col): _*)
      .agg(min(col(zmin)).as("__zmin"), max(col(zmax)).as("__zmax"))
      .persist()
    try {
      val candidates = summary
        .filter(candidate(col("__zmin"), col("__zmax")) ||
          col("__zmin").isNull)
        .select(partCols.map(col): _*).collect().toSeq
      val covered = summary.select(partCols.map(col): _*).collect()
        .map(relOfRow(_, partCols)).toSet
      val uncovered = partitionLeafDirs(fs, root)
        .filterNot(l => covered.contains(relPath(root, l)))
      Some((candidates, uncovered))
    } finally summary.unpersist()
  }

  /** Affected-partition detection for [[vacuumTombstoned]]. With a refs
    * sidecar: consult the summary (O(partitions) metadata), then VERIFY
    * with a read pruned to candidate partitions + uncovered leaves only
    * — bloom false positives die here, and the unaffected bulk of a
    * 100 TB index is never read, matching the rewrite's discipline.
    * Without a sidecar: the legacy full-index scan. */
  private[streaming] def detectAffected(spark: SparkSession, path: String,
      tomb: DataFrame, hit: Column, partCols: Seq[String]): Seq[Row] =
    phase(s"det consult $path") {
      refsCandidatePartitions(spark, path, tomb, partCols)
    } match {
      case None =>
        spark.read.option("mergeSchema", "true").parquet(path)
          .join(tomb, hit, "left_semi")
          .select(partCols.map(col): _*).distinct().collect().toSeq
      case Some((candidates, uncovered)) =>
        vacuumDetectRead(spark, path, candidates, uncovered, partCols) match {
          case None => Nil
          case Some(read) => phase(s"det verify $path") {
            read.join(tomb, hit, "left_semi")
              .select(partCols.map(col): _*).distinct().collect().toSeq
          }
        }
    }

  /** The EXACT read detection verifies candidates with — candidate
    * partitions via literal PartitionFilters, uncovered leaves by
    * direct path. Package-visible so the spec asserts its files-read
    * footprint (input_file_name ⊆ candidate dirs), the same discipline
    * [[vacuumAffectedRead]] gets for the rewrite. */
  private[streaming] def vacuumDetectRead(spark: SparkSession, path: String,
      candidates: Seq[Row], uncovered: Seq[org.apache.hadoop.fs.Path],
      partCols: Seq[String]): Option[DataFrame] = {
    val reads = Seq(
      if (candidates.nonEmpty)
        Some(vacuumAffectedRead(spark, path, candidates, partCols))
      else None,
      if (uncovered.nonEmpty)
        Some(spark.read.option("basePath", path)
          .option("mergeSchema", "true")
          .parquet(uncovered.map(_.toString): _*))
      else None).flatten
    // allowMissingColumns: on a schema-evolved log the candidate read
    // merges the whole root's columns while the uncovered-leaf read
    // merges only its leaves — absent columns fill as null, the same
    // law every evolved-log reader follows
    reads.reduceOption(_.unionByName(_, allowMissingColumns = true))
  }

  /** The sidecar's new content after a rewrite of `affected`: the old
    * rows of every other partition plus fresh summary rows of the
    * `survivors` (a vanished partition simply loses its row); None
    * without a sidecar. Staleness is never unsafe — a vacuum only
    * REMOVES rows, so a stale summary is a superset → false positives
    * only — but refreshing stops erased ids from re-flagging their old
    * partitions on every later vacuum. The frame reads the OLD `_refs`
    * files, which stay live until [[commitRewrites]] swaps the staged
    * copy in. */
  private def refsRefreshed(spark: SparkSession, path: String,
      affected: Seq[Row], refCols: Seq[String], partCols: Seq[String],
      survivors: DataFrame): Option[DataFrame] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val refs = new Path(root, RefsDir)
    if (!refsHasData(fs, refs)) return None
    // `<=>`: same null-safe predicate as vacuumAffectedRead, so a
    // null-valued affected partition's summary row is replaced too
    val affectedPred = affectedPredicate(affected, partCols)
    val old = spark.read.option("mergeSchema", "true")
      .parquet(refs.toString)
    // the sidecar's own schema says which families it maintains: bloom
    // positions (tombstone detection) and/or zmin_/zmax_ zone maps
    // (retention detection) — the refresh recomputes what it CAN
    // (positions need refCols; zones are schema-derived) and the
    // allowMissingColumns union nulls the rest, which the consults
    // treat as uncovered → conservative candidates, never a silent
    // never-matches row
    val zoneCols = old.columns.filter(_.startsWith("zmin_"))
      .map(_.stripPrefix("zmin_")).toSeq
    val keepOld = old.filter(!affectedPred)
    Some(if (refCols.isEmpty && zoneCols.isEmpty) keepOld
      else keepOld.unionByName(
        refsSummaryOf(survivors, refCols, partCols, zoneCols),
        allowMissingColumns = true))
  }

  /** Sidecar twin of [[compactPartials]]: the merged batch_id=-1
    * partition's summary row is the POSITION UNION of the folded rows —
    * derivable with no refCols knowledge. Exact when the fold only
    * moves rows; a superset when the merge drops rows
    * (distinct/min-merge) — conservative either way, and it keeps
    * detection pruned on compacted indexes instead of the merged bulk
    * partition turning into a permanent uncovered candidate. None
    * without a sidecar. */
  private def refsFolded(spark: SparkSession, path: String,
      prefixCols: Seq[String], latestBatchId: Long): Option[DataFrame] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!refsHasData(fs, new Path(root, RefsDir))) return None
    val summary = spark.read.option("mergeSchema", "true")
      .parquet(s"$path/$RefsDir")
    // schema-driven: fold whichever families the sidecar maintains —
    // position union for the bloom rows, min/max union for the zone
    // rows (both superset-safe when the data fold drops rows)
    val posAggs =
      if (summary.columns.contains("positions"))
        Seq(sort_array(array_distinct(flatten(collect_list(col("positions")))))
          .as("positions"))
      else Nil
    val zoneAggs = summary.columns.filter(_.startsWith("zmin_"))
      .map(_.stripPrefix("zmin_")).toSeq
      .flatMap(c => Seq(min(col(s"zmin_$c")).as(s"zmin_$c"),
        max(col(s"zmax_$c")).as(s"zmax_$c")))
    val aggs = posAggs ++ zoneAggs
    val keep = summary.filter(col("batch_id") === latestBatchId)
    val merged = summary.filter(col("batch_id") =!= latestBatchId)
      .groupBy(prefixCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("batch_id", lit(-1L))
    Some(keep.unionByName(merged, allowMissingColumns = true))
  }

  /** The q193 residual-audit discipline applied to a landed artifact:
    * rows still referencing a tombstoned id — a MEASURED zero after a
    * completed [[vacuumTombstoned]], and the convergence gate that
    * backs its crash-idempotence story. */
  def tombstoneResiduals(spark: SparkSession, path: String,
                         tombstones: DataFrame, refCols: Seq[String]): Long = {
    val tomb = broadcast(
      tombstones.select(col(tombstones.columns.head).as("__t")).distinct())
    // snapshot-aware: on a manifest artifact the audit reads the LIVE
    // file set (replaced files awaiting physical cleanup are not
    // residuals — no reader can resolve them anymore)
    readLanded(spark, path, mergeSchema = true)
      .join(tomb, refCols.map(c => col(c) === col("__t")).reduce(_ || _),
        "left_semi")
      .count()
  }

  private def relPath(base: org.apache.hadoop.fs.Path,
                      p: org.apache.hadoop.fs.Path): String =
    p.toUri.getPath.stripPrefix(base.toUri.getPath).stripPrefix("/")
}
