package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Every landed-artifact rewrite is crash-safe at EVERY crash point,
  * not at hand-built ones. For each protocol the spec runs the mutator
  * once uncrashed to count its N mutating filesystem calls, then for
  * each k in 1..N runs it on a fresh copy of the fixture with
  * [[CrashingFileSystem]] dying at call k, restarts (disarms) and
  * asserts:
  *   - before any repair, each artifact reads, through the reader the
  *     engine itself uses on it, as exactly its pre- or its
  *     post-mutation content (readers never repair);
  *   - after [[Streams.recover]], the census is exactly the pre- or
  *     the post-mutation answer;
  *   - the `_refs` sidecar still flags every partition holding a
  *     tombstoned or expired row (no false negative for detection);
  *   - a rerun of the mutator reaches the uncrashed census and leaves
  *     no `.graft_*` debris. */
class CrashPointSpec extends SparkSpec {
  import spark.implicits._

  /** A protocol under test. `roots` are its artifacts (dirs under one
    * work dir); `watch(root)` gives the rows that artifact's sidecar
    * must keep flagging and the detection consult that reads it;
    * `read(path)` is the engine's read of an artifact. */
  private case class Protocol(roots: Seq[String], partCols: Seq[String],
      build: String => Unit, mutate: String => Unit,
      watch: String => (Column, String => Option[(Seq[Row], Seq[Path])]),
      read: String => DataFrame = Streams.readLanded(spark, _))

  private def land(path: String, batches: Seq[(Long, DataFrame)],
                   prefix: Seq[String] = Nil, refCols: Seq[String] = Nil,
                   zoneCols: Seq[String] = Nil): Unit =
    batches.foreach { case (b, df) =>
      Streams.writeBatchPartition(df, b, path, prefix, refCols, zoneCols)
    }

  private def hours(rows: (Long, String, Long)*): DataFrame =
    rows.toDF("hour_start", "event_type", "cnt")
  private def sumHours(df: DataFrame): DataFrame =
    df.groupBy(col("hour_start"), col("event_type"))
      .agg(sum(col("cnt")).as("cnt"))
  private def expiredBefore(cutoff: Long, partCols: Seq[String]) =
    (col("hour_start") < cutoff, (path: String) =>
      Streams.refsZoneCandidates(spark, path, "hour_start",
        (zmin, _) => zmin < cutoff, partCols))
  private def referencing(ids: Seq[Long], refCols: Seq[String],
                          partCols: Seq[String]) =
    (refCols.map(c => col(c).isin(ids: _*)).reduce(_ || _), (path: String) =>
      Streams.refsCandidatePartitions(spark, path, ids.toDF("__t"), partCols))

  /** SUM fold of an hourly log with a zone sidecar: a merged partition
    * from an earlier fold plus batch 2 fold into -1, batch 3 stays. */
  private def hourlyLog(path: String): Unit = {
    land(path, Seq(
      0L -> hours((10L, "a", 1L), (20L, "a", 2L)),
      1L -> hours((10L, "a", 4L), (30L, "b", 1L)),
      2L -> hours((20L, "a", 1L), (40L, "b", 2L))), zoneCols = Seq("hour_start"))
    Streams.compactSummedPartials(spark, path, sumHours)
    land(path, Seq(3L -> hours((20L, "a", 5L), (50L, "a", 1L))),
      zoneCols = Seq("hour_start"))
  }
  private val sumFold = Protocol(Seq("log"), Seq("batch_id"),
    dir => hourlyLog(s"$dir/log"),
    dir => Streams.compactSummedPartials(spark, s"$dir/log", sumHours),
    _ => expiredBefore(25L, Seq("batch_id")))

  private val prefixedSumFold = {
    val parts = Seq("grp", "batch_id")
    def rows(r: (String, Long, Long)*) = r.toDF("grp", "hour_start", "cnt")
    Protocol(Seq("log"), parts,
      dir => land(s"$dir/log", Seq(
        0L -> rows(("x", 10L, 1L), ("y", 20L, 1L)),
        1L -> rows(("x", 10L, 2L), ("y", 30L, 1L)),
        2L -> rows(("x", 40L, 1L))),
        prefix = Seq("grp"), zoneCols = Seq("hour_start")),
      dir => Streams.compactSummedPartials(spark, s"$dir/log",
        _.groupBy(col("grp"), col("hour_start")).agg(sum(col("cnt")).as("cnt")),
        prefixCols = Seq("grp")),
      _ => expiredBefore(25L, parts))
  }

  /** The LSH index's distinct fold, read through the ingest's own
    * history read (a resumed ingest reads the index before any mutator
    * repairs it). */
  private val distinctFold = {
    val parts = Seq("band", "batch_id")
    def sigs(r: (Int, String, Long)*) = r.toDF("band", "sig", "doc_id")
    Protocol(Seq("index"), parts,
      dir => land(s"$dir/index", Seq(
        0L -> sigs((0, "a", 1L), (1, "b", 1L), (0, "c", 2L)),
        1L -> sigs((0, "a", 1L), (1, "d", 11L)),
        2L -> sigs((0, "e", 21L))), prefix = Seq("band"), refCols = Seq("doc_id")),
      dir => Streams.compactLshIndex(spark, s"$dir/index"),
      _ => referencing(Seq(1L, 11L), Seq("doc_id"), parts),
      read = Streams.lshIndexHistory(spark, _, Seq(0, 1), excludeBatchId = -2L))
  }

  // batch 0 loses one row, batch 2 every row, batch 1 none
  private val tombs = Seq(2L, 5L, 6L)
  private val bloomVacuum = Protocol(Seq("log"), Seq("batch_id"),
    dir => land(s"$dir/log", Seq(
      0L -> Seq(1L, 2L).toDF("doc_id"), 1L -> Seq(3L, 4L).toDF("doc_id"),
      2L -> Seq(5L, 6L).toDF("doc_id")), refCols = Seq("doc_id")),
    dir => Streams.vacuumTombstoned(spark, s"$dir/log", tombs.toDF("doc_id"),
      Seq("doc_id"), Seq("batch_id")),
    _ => referencing(tombs, Seq("doc_id"), Seq("batch_id")))

  // q222's shape: batch 0 expires whole, batch 1 in part, batch 2 stays
  private val zoneRetention = Protocol(Seq("hours"), Seq("batch_id"),
    dir => land(s"$dir/hours", Seq(
      0L -> hours((10L, "a", 1L), (12L, "b", 1L)),
      1L -> hours((14L, "a", 2L), (20L, "b", 1L)),
      2L -> hours((25L, "a", 1L), (30L, "b", 1L))), zoneCols = Seq("hour_start")),
    dir => Streams.retentionVacuumKeyed(spark, s"$dir/hours", "hour_start",
      lit(15L), Seq("batch_id")),
    _ => expiredBefore(15L, Seq("batch_id")))

  private def enable(path: String): Unit = {
    val root = new Path(path)
    Manifests.enableFromListing(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  // the index loses one row of batch 1 and all of batch 2; the pair log
  // all of batches 1 and 2
  private val groupTombs = Seq(11L, 21L)
  private val groupVacuum = Protocol(Seq("index", "pairs"), Seq("batch_id"),
    dir => {
      land(s"$dir/index", Seq(0L -> Seq(1L, 2L).toDF("doc_id"),
        1L -> Seq(11L, 12L).toDF("doc_id"), 2L -> Seq(21L).toDF("doc_id")),
        refCols = Seq("doc_id"))
      land(s"$dir/pairs", Seq(0L -> Seq((1L, 2L)).toDF("doc_a", "doc_b"),
        1L -> Seq((11L, 12L)).toDF("doc_a", "doc_b"),
        2L -> Seq((1L, 21L)).toDF("doc_a", "doc_b")),
        refCols = Seq("doc_a", "doc_b"))
      enable(s"$dir/index"); enable(s"$dir/pairs")
    },
    dir => Streams.vacuumTombstonedGroup(spark, Seq(
      (s"$dir/index", Seq("doc_id"), Seq("batch_id")),
      (s"$dir/pairs", Seq("doc_a", "doc_b"), Seq("batch_id"))),
      groupTombs.toDF("doc_id")),
    {
      case "index" => referencing(groupTombs, Seq("doc_id"), Seq("batch_id"))
      case _ => referencing(groupTombs, Seq("doc_a", "doc_b"), Seq("batch_id"))
    })

  /** A manifest-mode distinct fold whose bloom sidecar must move with
    * the publish: doc 11 lives only in batch 2, which folds into the -1
    * an earlier fold made, so the old sidecar's -1 row does not cover
    * the new -1. */
  private val manifestFold = Protocol(Seq("log"), Seq("batch_id"),
    dir => {
      val log = s"$dir/log"
      land(log, Seq(0L -> Seq(1L, 2L).toDF("doc_id"),
        1L -> Seq(2L, 3L).toDF("doc_id")), refCols = Seq("doc_id"))
      Streams.compactMinMergePartials(spark, log, _.distinct())
      land(log, Seq(2L -> Seq(3L, 11L).toDF("doc_id"),
        3L -> Seq(21L).toDF("doc_id")), refCols = Seq("doc_id"))
      enable(log)
    },
    dir => Streams.compactMinMergePartials(spark, s"$dir/log", _.distinct()),
    _ => referencing(Seq(11L), Seq("doc_id"), Seq("batch_id")))

  /** Each artifact's rows as one read sees them, collected once. */
  private def snapshot(p: Protocol, dir: String): Seq[DataFrame] =
    p.roots.map { r =>
      val df = p.read(s"$dir/$r")
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    }

  private def census(p: Protocol, dir: String): Seq[Seq[Seq[String]]] =
    snapshot(p, dir).map(rowsOf)

  private def rel(partCols: Seq[String])(r: Row): String =
    partCols.indices.map(i => s"${partCols(i)}=${r.get(i)}").mkString("/")

  private def assertSidecarsFlag(p: Protocol, dir: String,
                                 rows: Seq[DataFrame]): Unit =
    p.roots.zip(rows).foreach { case (r, df) =>
      val path = s"$dir/$r"
      val (bad, consult) = p.watch(r)
      val holders = df.filter(bad).select(p.partCols.map(col): _*).collect()
        .map(rel(p.partCols)).toSet
      // no consult answer = no sidecar: detection full-scans, flagging all
      if (holders.nonEmpty) consult(path).foreach { case (cands, uncovered) =>
        val flagged = cands.map(rel(p.partCols)).toSet ++
          uncovered.map(Manifests.rel(new Path(path), _))
        assert(holders.subsetOf(flagged),
          s"$r: the sidecar misses ${holders -- flagged}")
      }
    }

  private def debris(dir: String): Seq[String] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.toArray.toSeq.map(_.toString)
      .filter(_.split('/').exists(_.startsWith(".graft_")))
    finally walk.close()
  }

  private def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val walk = java.nio.file.Files.walk(s)
    try walk.forEach { f =>
      val t = java.nio.file.Paths.get(dst).resolve(s.relativize(f))
      if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(t)
      else { java.nio.file.Files.copy(f, t); () }
    } finally walk.close()
  }

  private def deleteDir(dir: String): Unit = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => { java.nio.file.Files.delete(f); () })
    finally walk.close()
  }

  private def withCrashingFs[A](f: => A): A = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set(keys.head, classOf[CrashingFileSystem].getName)
    conf.setBoolean(keys(1), true)
    try f finally {
      CrashingFileSystem.reset()
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }

  /** The mutator on `dir`, armed to crash at call `k`, under a job group
    * of its own. Returns whether it threw, the calls it made and the
    * call it crashed on. */
  private def armedRun(p: Protocol, dir: String, k: Long)
      : (Boolean, Long, Option[String]) = {
    val group = s"crash:$dir"
    spark.sparkContext.setJobGroup(group, group)
    CrashingFileSystem.arm(dir, k, group)
    val threw = try { p.mutate(dir); false } catch { case _: Throwable => true }
    val (n, at) = CrashingFileSystem.disarm(dir)
    spark.sparkContext.clearJobGroup()
    (threw, n, at)
  }

  private def everyCrashPoint(name: String, p: Protocol): Unit =
    withCrashingFs {
      val base = java.nio.file.Files.createTempDirectory(s"graft_crash_$name")
      val template = s"$base/template"
      p.build(template)
      val pre = census(p, template)
      val clean = s"$base/clean"
      copyDir(template, clean)
      val (_, n, _) = armedRun(p, clean, Long.MaxValue)
      info(s"$n crash points")
      val post = census(p, clean)
      assert(post !== pre, s"$name: the fixture must give the mutator work")
      assert(debris(clean).isEmpty, debris(clean))
      val fs = new Path(clean).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def crashAt(k: Long): Unit = {
        val dir = s"$base/k$k"
        copyDir(template, dir)
        val (threw, _, at) = armedRun(p, dir, k)
        withClue(s"$name, crash point $k of $n (${at.getOrElse("no crash")}): ") {
          assert(threw && at.nonEmpty)
          // a reader never repairs: each artifact must already read as
          // committed, before any mutator has touched it again
          census(p, dir).zip(pre.zip(post)).foreach {
            case (c, (a, b)) => assert(c === a || c === b)
          }
          p.roots.foreach(r => Streams.recover(fs, new Path(s"$dir/$r")))
          val rows = snapshot(p, dir)
          val repaired = rows.map(rowsOf)
          assert(repaired === pre || repaired === post)
          assertSidecarsFlag(p, dir, rows)
          p.mutate(dir)
          assert(census(p, dir) === post)
          assert(debris(dir).isEmpty, debris(dir))
        }
        deleteDir(dir)
      }
      // the crash points run concurrently, each on its own fixture copy
      val next = new java.util.concurrent.atomic.AtomicLong(1L)
      val failures =
        new java.util.concurrent.ConcurrentSkipListMap[Long, Throwable]()
      val workers = (1 to 4).map(_ => new Thread(() => {
        var k = next.getAndIncrement()
        while (k <= n) {
          try crashAt(k) catch { case t: Throwable => failures.put(k, t) }
          k = next.getAndIncrement()
        }
      }))
      workers.foreach(_.start())
      workers.foreach(_.join())
      if (!failures.isEmpty) throw failures.firstEntry.getValue
      deleteDir(base.toString)
    }

  test("every crash point: SUM fold") {
    everyCrashPoint("sumfold", sumFold)
  }
  test("every crash point: SUM fold with a prefix column") {
    everyCrashPoint("prefixfold", prefixedSumFold)
  }
  test("every crash point: LSH distinct fold, read by the ingest") {
    everyCrashPoint("distinctfold", distinctFold)
  }
  test("every crash point: tombstone vacuum with a bloom sidecar") {
    everyCrashPoint("vacuum", bloomVacuum)
  }
  test("every crash point: keyed retention with a zone sidecar") {
    everyCrashPoint("retention", zoneRetention)
  }
  test("every crash point: group vacuum over two manifest artifacts") {
    everyCrashPoint("groupvacuum", groupVacuum)
  }
  test("every crash point: manifest-mode distinct fold with a bloom sidecar") {
    everyCrashPoint("manifestfold", manifestFold)
  }
}
