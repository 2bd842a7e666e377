package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{LocalSession, SparkEntry, Tables, Verify}

/** One benchmark run in one JVM: set-up, a warm-up that doubles as the
  * correctness dump (`graft.Verify.run`), timed passes over the
  * workload's rows until `--seconds` are used, the exactly-once feed
  * counts and, in the traced run, re-reads of each row's returned frame
  * and a heap census. It
  * writes every raw sample to `<out>/raw.json`; `run.py` turns them into
  * metrics and runs the DuckDB oracle over the dump.
  *
  *   perfbench.Main <dataDir> <outDir> <seconds> <seed> <trace 0|1> <warmups> <row>...
  */
object Main {
  private val ReadReps = 5
  private def now = System.currentTimeMillis()
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuMs = os.getProcessCpuTime / 1e6
  /** Janino compilations so far: generated classes that missed Spark's codegen cache. */
  private def codegens = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** CPU ms of the HotSpot compiler threads (from /proc/self/task); the
    * JVM keeps them for its whole life (-XX:-UseDynamicNumberOfCompilerThreads). */
  private def jitCpuMs: Double = Option(new File("/proc/self/task").listFiles()).toSeq.flatten
    .map { t =>
      try {
        val s = Files.readString(t.toPath.resolve("stat"))
        if (!s.substring(s.indexOf('(') + 1, s.lastIndexOf(')')).contains("CompilerThre")) 0.0
        else {
          val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * 10.0 // utime + stime, in 1/100 s
        }
      } catch { case _: java.io.IOException => 0.0 }
    }.sum

  final case class RowRun(name: String, start: Long, call: Long, end: Long,
                          error: Option[String], newDirs: Seq[File], cpuMs: Double, jitCpuMs: Double)

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, secondsArg, seedArg, traceArg, warmupsArg) = args.take(6)
    val rows = args.drop(6).toSeq
    val (seconds, seed, tracing) = (secondsArg.toDouble, seedArg.toLong, traceArg == "1")
    val unknown = rows.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown rows: ${unknown.mkString(", ")}")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val out = mutable.LinkedHashMap[String, Any]("rows" -> rows, "trace" -> tracing)

    val t0 = now
    val traced = if (!tracing) Map.empty[String, String] else Map(
      "spark.hadoop.fs.file.impl" -> classOf[CountingFileSystem].getName,
      "spark.sql.queryExecutionListeners" -> classOf[PlanListener].getName)
    val spark = LocalSession.build(extra = traced)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(Trace)
    if (tracing) org.apache.hadoop.fs.FileSystem.closeAll() // drop any uncounting instance
    val sessionMs = now - t0

    if (tracing) out("tables") = tableLoads(spark, dataDir)

    // warm-up 1: the correctness dump, outside every timed measurement
    val fns = rows.map(n => n -> SparkEntry.queries(n)).toMap
    val verifyStarts = mutable.ArrayBuffer[(String, Long)]()
    val marked = fns.map { case (n, f) =>
      n -> ((s: SparkSession, d: String) => { verifyStarts += n -> now; f(s, d) })
    }
    val tw = now
    val verifyFailures = Verify.run(spark, dataDir, s"$outDir/verify", marked,
      SparkEntry.oracleSql.view.filterKeys(rows.toSet).toMap)
    val verifyEnd = now
    // the traced run warms one pass more, so that its untraced and traced
    // passes compare at like JIT states
    val warmups = warmupsArg.toInt + (if (tracing) 1 else 0)
    for (w <- 1 until warmups) runPass(spark, dataDir, shuffled(rows, seed, -w), tmp, false)
    Trace.drain()
    val setupDone = now
    out("setup") = Map("setup_s" -> (setupDone - jvmStart) / 1000.0,
      "session_ms" -> sessionMs, "warmup_s" -> (setupDone - tw) / 1000.0,
      "jit_ms" -> jitMs, "gc_ms" -> gcMs, "cpu_ms" -> cpuMs,
      "jit_cpu_ms" -> jitCpuMs, "jvm_start" -> jvmStart)
    out("verify_failures") = verifyFailures

    // timed passes; in the traced run, odd passes record and even ones do not
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val lastFrames = mutable.Map[String, DataFrame]()
    val runs = mutable.ArrayBuffer[(Int, RowRun)]()
    val timedStart = now
    def avgPass = (now - timedStart).toDouble / passes.size.max(1)
    // whole passes, as many as end nearest to `seconds`
    val minPasses = if (tracing) 2 else 1
    while (passes.size < minPasses || (now - timedStart) + avgPass / 2 <= seconds * 1000) {
      val p = passes.size
      val on = tracing && p % 2 == 1
      val (gc0, jit0, cpu0, jc0, cg0, fs0) =
        (gcMs, jitMs, cpuMs, jitCpuMs, codegens, CountingFileSystem.snapshot)
      Trace.on = on
      val start = now
      val rs = runPass(spark, dataDir, shuffled(rows, seed, p), tmp, tracing)
      val end = now
      Trace.on = false
      rs.foreach { case (r, df) => runs += p -> r; df.foreach(lastFrames(r.name) = _) }
      val fs1 = CountingFileSystem.snapshot
      passes += Map("start" -> start, "end" -> end, "traced" -> on,
        "gc_ms" -> (gcMs - gc0), "jit_ms" -> (jitMs - jit0), "cpu_ms" -> (cpuMs - cpu0),
        "jit_cpu_ms" -> (jitCpuMs - jc0), "codegens" -> (codegens - cg0),
        "fs" -> fs1.map { case (k, v) => k -> (v - fs0(k)) },
        "tmp_mb" -> (if (tracing) dirBytes(tmp) / 1e6 else 0.0),
        "landed" -> (if (tracing) landed(rs.map(_._1)) else Map.empty))
    }
    Trace.drain()
    out("passes") = passes
    out("row_runs") = runs.map { case (p, r) => Map("pass" -> p, "row" -> r.name,
      "start" -> r.start, "call_ms" -> (r.call - r.start), "end" -> r.end,
      "result_ms" -> (r.end - r.call), "error" -> r.error,
      "cpu_ms" -> r.cpuMs, "jit_cpu_ms" -> r.jitCpuMs) }
    out("verify_starts") = verifyStarts.map { case (n, t) => Map("row" -> n, "start" -> t) }
    out("verify_end") = verifyEnd

    // the traced run only: live heap and re-reads of each row's returned frame
    if (tracing) {
      // live heap: what the heap pools held right after a full collection;
      // the pause lets the ContextCleaner drop broadcasts and shuffles that
      // the first collection found unreachable
      System.gc(); Thread.sleep(500); System.gc()
      out("heap_live_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

      out("reads") = rows.flatMap(n => lastFrames.get(n).map { df =>
        n -> (1 to ReadReps).map { _ =>
          val t = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t) / 1e6
        }
      }).toMap
    }

    Trace.drain()
    val progress = Trace.progress.asScala.toSeq
    out("batches") = progress.map(batch)
    out("feeds") = feedCounts(spark, progress)
    if (tracing) out ++= traceRecords(passes.toSeq)

    Files.writeString(Paths.get(s"$outDir/raw.json"), Json(out))
    spark.stop()
  }

  private def shuffled(rows: Seq[String], seed: Long, pass: Int) =
    new scala.util.Random(seed * 7919 + pass).shuffle(rows)

  /** Calls each row and executes the frame it returns into the `noop`
    * sink. The call span holds the row function's eager work (stream
    * runs, lifecycle steps); the result span holds the returned plan. */
  private def runPass(spark: SparkSession, dataDir: String, order: Seq[String],
                      tmp: File, trackDirs: Boolean): Seq[(RowRun, Option[DataFrame])] =
    order.map { name =>
      val before = if (trackDirs) tmp.listFiles().map(_.getName).toSet else Set.empty[String]
      val (cpu0, jit0) = (cpuMs, jitCpuMs)
      val start = now
      var call = start
      val (df, err) =
        try {
          val df = SparkEntry.queries(name)(spark, dataDir)
          call = now
          df.write.format("noop").mode("overwrite").save()
          (Some(df), None)
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          (None, Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
        }
      val end = now
      if (err.isDefined && call == start) call = end
      val dirs = if (trackDirs) tmp.listFiles().filterNot(f => before(f.getName)).toSeq else Nil
      (RowRun(name, start, call, end, err, dirs, cpuMs - cpu0, jitCpuMs - jit0), df)
    }

  /** Cold and cached `Tables.load` of every input table. */
  private def tableLoads(spark: SparkSession, dataDir: String): Map[String, Double] = {
    val names = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    def timeAll = names.map { n =>
      val t = System.nanoTime(); Tables.load(spark, dataDir, n); (System.nanoTime() - t) / 1e6
    }.sum
    val cold = timeAll
    Map("load_cold_ms" -> cold, "load_cached_ms" -> timeAll)
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
  private def dirBytes(f: File): Long = walk(f).map(_.length).sum

  private def landed(rs: Seq[RowRun]): Map[String, Any] = {
    val files = rs.flatMap(_.newDirs).flatMap(walk).filter(_.isFile)
    Map("files" -> files.size, "mb" -> files.map(_.length).sum / 1e6)
  }

  private def batch(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Map[String, Any] = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    Map("id" -> p.id.toString, "run_id" -> p.runId.toString, "batch" -> p.batchId,
      "ts" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "executed" -> d.contains("addBatch"), "input_rows" -> p.numInputRows,
      "durations" -> d,
      "state" -> p.stateOperators.toSeq.map(s => Map("rows" -> s.numRowsTotal,
        "updated" -> s.numRowsUpdated, "update_ms" -> s.allUpdatesTimeMs,
        "removed" -> s.numRowsRemoved, "remove_ms" -> s.allRemovalsTimeMs,
        "commit_ms" -> s.commitTimeMs, "mem_bytes" -> s.memoryUsedBytes)),
      "sources" -> p.sources.toSeq.map(s => Map("description" -> s.description,
        "input_rows" -> s.numInputRows)))
  }

  private val FileSource = """FileStreamSource\[(.*)\]""".r

  /** For every (query id, file source): rows the stream reported against
    * rows in the feed files the source names. */
  private def feedCounts(spark: SparkSession,
                         progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val ingested = mutable.LinkedHashMap[(String, String), Long]()
    for (p <- progress if p.durationMs.containsKey("addBatch"); s <- p.sources)
      s.description match {
        case FileSource(path) =>
          val k = (p.id.toString, path)
          ingested(k) = ingested.getOrElse(k, 0L) + s.numInputRows
        case _ =>
      }
    val cache = mutable.Map[String, Either[String, Long]]()
    ingested.toSeq.map { case ((id, path), n) =>
      val rows = cache.getOrElseUpdate(path, feedRows(spark, path))
      Map("id" -> id, "path" -> path, "ingested" -> n,
        "feed_rows" -> rows.toOption, "unchecked" -> rows.left.toOption)
    }
  }

  private def feedRows(spark: SparkSession, path: String): Either[String, Long] = {
    val dir = new File(new java.net.URI(if (path.contains(":")) path else s"file:$path"))
    val files = walk(dir).filter(f => f.isFile && !f.getName.startsWith("_") &&
      !f.getName.startsWith(".") && !f.getPath.contains("_spark_metadata"))
    val exts = files.map(_.getName.split('.').last).distinct
    exts match {
      case Seq() => Right(0L)
      case Seq("parquet") => Right(spark.read.parquet(dir.getPath).count())
      case Seq("json") => Right(files.map(f =>
        Files.readAllLines(f.toPath).asScala.count(_.trim.nonEmpty).toLong).sum)
      case other => Left(s"feed format ${other.mkString("/")} not counted")
    }
  }

  /** Per traced pass: job intervals, stage and task sums, plan actions. */
  private def traceRecords(passes: Seq[Map[String, Any]]): Map[String, Any] = {
    val traced = passes.filter(_("traced") == true)
      .map(p => (p("start").asInstanceOf[Long], p("end").asInstanceOf[Long]))
    def in(t: Long, iv: (Long, Long)) = t >= iv._1 && t <= iv._2 + 50
    val jobs = Trace.jobs.asScala.toSeq
    val stages = Trace.stages.asScala.toSeq
    val tasks = Trace.tasks.asScala.toSeq
    val actions = Trace.actions.asScala.toSeq
    Map("traced_passes" -> traced.map { iv =>
      val js = jobs.filter(j => in(j.start, iv))
      val ss = stages.filter(s => in(s.completed, iv))
      val ts = tasks.filter(t => in(t.finish, iv))
      val as = actions.filter(a => in(a.end, iv))
      def mb(v: Long) = v / 1e6
      val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
        val r = st.map(_.shReadBytes).sorted
        val med = r(r.size / 2)
        if (med > 0) r.last.toDouble / med else 0.0
      }.maxOption.getOrElse(0.0)
      Map("start" -> iv._1, "end" -> iv._2,
        "jobs" -> js.map(j => Seq(j.start, j.end)),
        "job_stages" -> js.map(_.stages).sum, "stages" -> ss.size,
        "tasks" -> ts.size, "task_run_ms" -> ts.map(_.runMs).sum,
        "task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
        "scan_mb" -> mb(ts.map(_.inBytes).sum), "scan_rows" -> ts.map(_.inRecords).sum,
        "shuffle_read_mb" -> mb(ts.map(_.shReadBytes).sum),
        "shuffle_write_mb" -> mb(ts.map(_.shWriteBytes).sum),
        "shuffle_records" -> ts.map(_.shWriteRecords).sum,
        "skew" -> skew,
        "collect_mb" -> mb(ts.filter(_.resultStage).map(_.resultBytes).sum),
        "actions" -> as.size, "plan_ms" -> as.map(_.planMs).sum,
        "action_spans" -> as.map(a => Seq(a.end - a.durMs, a.end.toDouble)),
        "scan_files" -> as.map(_.scanFiles).sum, "scan_ms" -> as.map(_.scanMs).sum)
    })
  }
}
