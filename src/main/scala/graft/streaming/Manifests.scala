package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic snapshot manifests for landed artifacts — the lake-commit
  * layer the vacuum/retention/compaction family publishes through
  * (verdict-r14 "Next round" #1).
  *
  * The gap it closes: every mutator used to commit via N sequential
  * per-partition renames, so a CONCURRENT reader could observe
  * partition A new while partition B was still old (a half-swapped
  * census), and a crash between two artifacts' vacuums (an index and
  * its pair log) left them mutually inconsistent until a rerun
  * converged. At 100 TB with live readers that is the difference
  * between a maintenance pass and an outage.
  *
  * The protocol (the classic snapshot-log discipline, single-file
  * edition — cf. Iceberg's metadata pointer / Delta's _delta_log):
  *
  *  - `_manifest/v%08d.manifest` inside the artifact root lists the
  *    root-relative paths of every LIVE data file, one per line. The
  *    underscore prefix keeps the dir invisible to every Spark read
  *    of the artifact itself, like `_refs`.
  *  - A commit stages everything first (new data files land under
  *    fresh unique names NEXT TO the old ones — nothing is renamed
  *    away), then publishes with ONE atomic rename of the next
  *    manifest version. Readers that resolved version N keep reading
  *    N's files — all still on disk — while a mutation stages and even
  *    after it commits N+1; physical deletion of unreferenced files is
  *    deferred to the next mutator's entry ([[cleanupUnreferenced]];
  *    production would add a TTL grace on top).
  *  - A TWO-ARTIFACT mutation (an index and its pair log) commits
  *    through [[commitGroup]]: stage both manifests, write a txn
  *    intent into each root naming all participants, then flip the
  *    staged manifests to final. The intent is only written once every
  *    stage is complete, so [[recoverGroup]] can always roll FORWARD:
  *    a crash anywhere in the window leaves either no intent (nothing
  *    published — reruns converge from the old snapshots) or an intent
  *    whose staged files are complete (the next touch of EITHER
  *    artifact finishes both renames). Readers never participate in
  *    recovery — they only ever see final manifest files.
  *  - Artifacts WITHOUT a manifest behave exactly as before (directory
  *    listing); [[read]] falls back, and mutators commit through
  *    `Streams.commitRewrites`' staged swap instead of a publish
  *    (`Streams.readLanded` is the reader that also sees through a
  *    crashed swap). Enablement is one [[enableFromListing]] call on a
  *    quiesced artifact.
  */
object Manifests {
  /** Manifest directory inside the artifact root (underscore-hidden
    * from artifact data reads, like `_refs`). */
  val Dir = "_manifest"
  private val Suffix = ".manifest"
  private val IntentName = ".txn_intent"

  private def mdir(root: Path) = new Path(root, Dir)
  private def finalPath(root: Path, v: Long) =
    new Path(mdir(root), f"v$v%08d$Suffix")
  private def stagedPath(root: Path, v: Long) =
    new Path(mdir(root), s".staged_$v")

  def isEnabled(fs: FileSystem, root: Path): Boolean =
    latestVersion(fs, root).isDefined

  def latestVersion(fs: FileSystem, root: Path): Option[Long] = {
    val d = mdir(root)
    if (!fs.exists(d)) return None
    val vs = fs.listStatus(d).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(Suffix))
      .map(_.stripPrefix("v").stripSuffix(Suffix).toLong)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** The latest snapshot's root-relative data-file paths; None when
    * the artifact carries no manifest (legacy — callers list dirs). */
  def resolveFiles(fs: FileSystem, root: Path): Option[Seq[String]] =
    latestVersion(fs, root).map(v => readLines(fs, finalPath(root, v)))

  private[streaming] def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  private def writeAtomic(fs: FileSystem, target: Path,
                          content: String): Unit = {
    val tmp = new Path(target.getParent,
      s".tmp_${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, target),
      s"manifest: rename $tmp -> $target failed")
  }

  /** Publish a new snapshot: ONE atomic rename makes `files` the live
    * file set. Returns the committed version. Retains the last 5
    * versions (a reader holding an older resolution has until then —
    * a production deployment would pin retention to its read TTL). */
  def commit(fs: FileSystem, root: Path, files: Seq[String]): Long = {
    val next = latestVersion(fs, root).getOrElse(0L) + 1L
    fs.mkdirs(mdir(root))
    writeAtomic(fs, finalPath(root, next),
      files.distinct.sorted.mkString("\n"))
    prune(fs, root)
    next
  }

  private def prune(fs: FileSystem, root: Path, keep: Int = 5): Unit = {
    val d = mdir(root)
    if (!fs.exists(d)) return
    fs.listStatus(d).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(Suffix))
      .map(_.stripPrefix("v").stripSuffix(Suffix).toLong)
      .sorted.dropRight(keep)
      .foreach(v => fs.delete(finalPath(root, v), false))
  }

  /** First enablement on a quiesced artifact: snapshot = the current
    * directory listing. From here on, every mutation must publish
    * through [[commit]]/[[commitGroup]]. */
  def enableFromListing(fs: FileSystem, root: Path): Long =
    commit(fs, root, dataFilesUnder(fs, root))

  /** Every data file under `root` as root-relative paths, skipping
    * hidden (`_`/`.`) trees at any level — the same visibility rule
    * Spark's file index applies. */
  def dataFilesUnder(fs: FileSystem, root: Path): Seq[String] = {
    def walk(dir: Path): Seq[String] =
      fs.listStatus(dir).filterNot { s =>
        val n = s.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }.toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath) else Seq(rel(root, s.getPath))
      }
    if (fs.exists(root)) walk(root) else Nil
  }

  private[streaming] def rel(base: Path, p: Path): String =
    p.toUri.getPath.stripPrefix(base.toUri.getPath).stripPrefix("/")

  /** Snapshot-resolved read: the latest manifest's files, pinned at
    * CALL time — the returned plan keeps reading exactly that file set
    * while later mutations stage and commit (their new files land
    * under fresh names; deletion is deferred). Partition columns still
    * come from the directory layout (`basePath`), so literal partition
    * filters prune the listed files the same way they prune a
    * directory read. Falls back to the plain directory read on
    * manifest-less artifacts. */
  def read(spark: SparkSession, path: String,
           mergeSchema: Boolean = false): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rd = spark.read.option("mergeSchema", mergeSchema.toString)
    resolveFiles(fs, root) match {
      case None => rd.parquet(path)
      case Some(files) =>
        require(files.nonEmpty, s"manifest at $path lists no files")
        rd.option("basePath", path)
          .parquet(files.map(f => s"$path/$f"): _*)
    }
  }

  /** Physical cleanup, run at MUTATOR entry (single-writer): deletes
    * data files the latest manifest does not reference — both the
    * previous commit's replaced files (their snapshot-isolation window
    * ends here) and orphans from a commit that crashed before
    * publishing. After it, the directory listing equals the snapshot,
    * so a mutator's internal directory-based reads (detection, kept
    * rows) are snapshot-consistent. Returns the deleted paths. */
  def cleanupUnreferenced(fs: FileSystem, root: Path): Seq[String] =
    resolveFiles(fs, root) match {
      case None => Nil
      case Some(live0) =>
        val live = live0.toSet
        val orphans = dataFilesUnder(fs, root).filterNot(live)
        orphans.foreach(f => fs.delete(new Path(root, f), false))
        orphans
    }

  /** Atomic multi-artifact publish — index + pair log move together.
    * Stage ALL manifests, then write the txn intent (naming every
    * participant root and target version) into EACH root, then flip
    * staged → final. The intent's existence implies every stage was
    * complete, so recovery always rolls forward; a crash before any
    * intent leaves only hidden staged files that the next attempt
    * overwrites. */
  def commitGroup(fs: FileSystem,
                  parts: Seq[(Path, Seq[String])]): Unit = {
    parts.foreach { case (r, _) => recoverGroup(fs, r) }
    val versioned = parts.map { case (r, files) =>
      (r, latestVersion(fs, r).getOrElse(0L) + 1L, files)
    }
    versioned.foreach { case (r, v, files) =>
      fs.mkdirs(mdir(r))
      writeAtomic(fs, stagedPath(r, v),
        files.distinct.sorted.mkString("\n"))
    }
    val intent = versioned
      .map { case (r, v, _) => s"${r.toUri.getPath}|$v" }.mkString("\n")
    versioned.foreach { case (r, _, _) =>
      writeAtomic(fs, new Path(mdir(r), IntentName), intent)
    }
    versioned.foreach { case (r, v, _) =>
      require(fs.rename(stagedPath(r, v), finalPath(r, v)),
        s"manifest group commit: publish rename failed for $r v$v — " +
          "recoverGroup rolls forward from the staged manifest")
    }
    versioned.foreach { case (r, _, _) =>
      fs.delete(new Path(mdir(r), IntentName), false)
      prune(fs, r)
    }
  }

  /** Finish a crashed [[commitGroup]] from any participant root. The
    * intent is only ever written after all stages completed, so this
    * is always a roll-FORWARD: publish every staged manifest whose
    * final is missing (idempotent — already-published ones skip), then
    * drop the intents. Called at mutator entry; readers never call it
    * (they only see final manifests, so a crashed group is simply
    * invisible to them until repaired). */
  def recoverGroup(fs: FileSystem, root: Path): Unit = {
    val ip = new Path(mdir(root), IntentName)
    if (!fs.exists(ip)) return
    val entries = readLines(fs, ip).map { l =>
      val i = l.lastIndexOf('|')
      (new Path(l.substring(0, i)), l.substring(i + 1).toLong)
    }
    entries.foreach { case (r, v) =>
      if (!fs.exists(finalPath(r, v)) && fs.exists(stagedPath(r, v)))
        require(fs.rename(stagedPath(r, v), finalPath(r, v)),
          s"manifest recovery: publish rename failed for $r v$v")
    }
    entries.foreach { case (r, _) =>
      fs.delete(new Path(mdir(r), IntentName), false)
      prune(fs, r)
    }
  }
}
