package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The snapshot-manifest layer (verdict-r14 "Next round" #1): atomic
  * publishes, reader isolation while mutations run, and the
  * two-artifact group commit's crash recovery. */
class ManifestsSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  test("a reader that resolved the manifest pre-vacuum reads exactly the old census while and after the swap") {
    val dir = java.nio.file.Files.createTempDirectory("graft_miso")
    val log = s"$dir/log"
    (0L to 2L).foreach { b =>
      Streams.writeBatchPartition(
        Seq(b * 10 + 1, b * 10 + 2).toDF("doc_id"), b, log,
        refCols = Seq("doc_id"))
    }
    val fs = fsOf(log)
    Manifests.enableFromListing(fs, hp(log))
    // the pre-mutation reader: resolves the v1 snapshot NOW
    val oldReader = Manifests.read(spark, log)
    val oldCensus = Seq(Seq("1"), Seq("11"), Seq("12"), Seq("2"),
      Seq("21"), Seq("22"))
    assert(rowsOf(oldReader.select(col("doc_id"))) === oldCensus)
    // the vacuum: manifest protocol (stage fresh files, one publish,
    // physical cleanup DEFERRED)
    Streams.vacuumTombstoned(spark, log, Seq(11L).toDF("doc_id"),
      Seq("doc_id"), Seq("batch_id"))
    // the old reader's snapshot is intact — every file it resolved is
    // still on disk, the mutation never renamed anything away
    assert(rowsOf(oldReader.select(col("doc_id"))) === oldCensus,
      "pre-vacuum reader must keep its resolved census")
    // a NEW resolution sees the vacuumed snapshot, residuals zero
    assert(rowsOf(Manifests.read(spark, log).select(col("doc_id"))) ===
      oldCensus.filterNot(_ == Seq("11")))
    assert(Streams.tombstoneResiduals(spark, log, Seq(11L).toDF("doc_id"),
      Seq("doc_id")) === 0L)
    // deferral is real: the directory still holds more files than the
    // snapshot references…
    val live = Manifests.resolveFiles(fs, hp(log)).get.toSet
    val onDisk = Manifests.dataFilesUnder(fs, hp(log)).toSet
    assert(live.subsetOf(onDisk) && (onDisk -- live).nonEmpty,
      s"replaced files must survive until the next mutator entry")
    // …and the next mutator entry reaps them (a no-hit vacuum)
    Streams.vacuumTombstoned(spark, log, Seq(999L).toDF("doc_id"),
      Seq("doc_id"), Seq("batch_id"))
    assert(Manifests.dataFilesUnder(fs, hp(log)).toSet === live,
      "entry cleanup must reconcile the directory with the snapshot")
  }

  test("group commit publishes index and pairs atomically; a crash at any point rolls forward from either root") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mgroup")
    val (index, pairs) = (s"$dir/index", s"$dir/pairs")
    Seq((1L, 0L), (2L, 0L)).toDF("doc_id", "batch_id")
      .write.partitionBy("batch_id").parquet(index)
    Seq((1L, 2L, 0L)).toDF("doc_a", "doc_b", "batch_id")
      .write.partitionBy("batch_id").parquet(pairs)
    val fs = fsOf(index)
    Manifests.enableFromListing(fs, hp(index))
    Manifests.enableFromListing(fs, hp(pairs))
    // a successful group commit advances both
    Manifests.commitGroup(fs, Seq(
      hp(index) -> Manifests.dataFilesUnder(fs, hp(index)),
      hp(pairs) -> Manifests.dataFilesUnder(fs, hp(pairs))))
    assert(Manifests.latestVersion(fs, hp(index)) === Some(2L))
    assert(Manifests.latestVersion(fs, hp(pairs)) === Some(2L))
    // simulate a crash INSIDE the publish window: stage v3 for both,
    // intents written everywhere, only the INDEX rename happened (the
    // manifest format is line-oriented text, so the spec can stage by
    // hand exactly what commitGroup stages)
    def put(p: String, content: String): Unit = {
      val out = fs.create(hp(p), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    val idxFiles = Manifests.dataFilesUnder(fs, hp(index))
    val prFiles = Manifests.dataFilesUnder(fs, hp(pairs))
    val intent = s"${hp(index).toUri.getPath}|3\n${hp(pairs).toUri.getPath}|3"
    put(s"$index/_manifest/v00000003.manifest", idxFiles.mkString("\n"))
    put(s"$index/_manifest/.txn_intent", intent)
    put(s"$pairs/_manifest/.staged_3", prFiles.mkString("\n"))
    put(s"$pairs/_manifest/.txn_intent", intent)
    // recovery driven from the ALREADY-PUBLISHED artifact's intent
    // must finish the OTHER artifact's rename
    Manifests.recoverGroup(fs, hp(index))
    assert(Manifests.latestVersion(fs, hp(pairs)) === Some(3L),
      "roll-forward must publish the staged pair-log manifest")
    assert(!fs.exists(hp(s"$pairs/_manifest/.txn_intent")) &&
      !fs.exists(hp(s"$index/_manifest/.txn_intent")))
    // both resolve, consistently
    assert(Manifests.resolveFiles(fs, hp(pairs)).get === prFiles.sorted)
  }

  test("vacuumTombstonedGroup: index and pair log move in ONE publish; rerun after a staged-only crash converges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mgv")
    val (index, pairs) = (s"$dir/index", s"$dir/pairs")
    (0L to 1L).foreach { b =>
      Streams.writeBatchPartition(
        Seq(b * 10 + 1, b * 10 + 2).toDF("doc_id"), b, index,
        refCols = Seq("doc_id"))
      Streams.writeBatchPartition(
        Seq((b * 10 + 1, b * 10 + 2)).toDF("doc_a", "doc_b"), b, pairs,
        refCols = Seq("doc_a", "doc_b"))
    }
    val fs = fsOf(index)
    Manifests.enableFromListing(fs, hp(index))
    Manifests.enableFromListing(fs, hp(pairs))
    // a crashed earlier attempt left an orphan staged file in a live
    // partition dir (never referenced by any manifest)
    val orphan = s"$index/batch_id=0/graft-orphan.parquet"
    Seq(99L).toDF("doc_id").write.parquet(s"$dir/tmp_orphan")
    val src = Manifests.dataFilesUnder(fs, hp(s"$dir/tmp_orphan")).head
    fs.rename(hp(s"$dir/tmp_orphan/$src"), hp(orphan))
    val vIdx0 = Manifests.latestVersion(fs, hp(index)).get
    Streams.vacuumTombstonedGroup(spark,
      Seq((index, Seq("doc_id"), Seq("batch_id")),
        (pairs, Seq("doc_a", "doc_b"), Seq("batch_id"))),
      Seq(11L).toDF("doc_id"))
    // the orphan was reaped at entry, not folded into the new snapshot
    assert(!Manifests.resolveFiles(fs, hp(index)).get
      .exists(_.contains("graft-orphan")))
    assert(!fs.exists(hp(orphan)))
    // ONE publish each, erasure visible in both artifacts
    assert(Manifests.latestVersion(fs, hp(index)) === Some(vIdx0 + 1))
    assert(rowsOf(Manifests.read(spark, index).select(col("doc_id"))) ===
      Seq(Seq("1"), Seq("12"), Seq("2")))
    assert(rowsOf(Manifests.read(spark, pairs)
      .select(col("doc_a"), col("doc_b"))) === Seq(Seq("1", "2")))
    assert(Streams.tombstoneResiduals(spark, index,
      Seq(11L).toDF("doc_id"), Seq("doc_id")) === 0L)
    assert(Streams.tombstoneResiduals(spark, pairs,
      Seq(11L).toDF("doc_id"), Seq("doc_a", "doc_b")) === 0L)
    // idempotent rerun: nothing to do, snapshots unchanged
    val (vi, vp) = (Manifests.latestVersion(fs, hp(index)),
      Manifests.latestVersion(fs, hp(pairs)))
    Streams.vacuumTombstonedGroup(spark,
      Seq((index, Seq("doc_id"), Seq("batch_id")),
        (pairs, Seq("doc_a", "doc_b"), Seq("batch_id"))),
      Seq(11L).toDF("doc_id"))
    assert(Manifests.latestVersion(fs, hp(index)) === vi &&
      Manifests.latestVersion(fs, hp(pairs)) === vp)
  }

  test("reindex migration: mid-migration serves come from ONE build; a two-build snapshot is refused") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mreidx")
    val root = s"$dir/index"
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    val fs = fsOf(root)
    // v1 build (4x2) lands directly through the batch writer
    Streams.writeGeom(fs, hp(s"$root/build=1"), 4, 2)
    Streams.writeBatchPartition(
      graft.queries.Dedup.bandedSignaturesGeom(docs, 4, 2), 0L,
      s"$root/build=1", prefixPartitionCols = Seq("band"))
    Streams.reindexCutover(spark, root, 1)
    val req = docs.filter(col("doc_id") === 2L)
    val v1Serve = Streams.lshServeVersioned(spark, root, req)
    assert(rowsOf(v1Serve) === Seq(Seq("1", "2")))
    // v2 (2x4) builds ALONGSIDE — serving must not change…
    Streams.writeGeom(fs, hp(s"$root/build=2"), 2, 4)
    Streams.writeBatchPartition(
      graft.queries.Dedup.bandedSignaturesGeom(docs, 2, 4), 0L,
      s"$root/build=2", prefixPartitionCols = Seq("band"))
    assert(rowsOf(Streams.lshServeVersioned(spark, root, req)) ===
      Seq(Seq("1", "2")), "mid-migration serve must still be v1")
    // …and every row the mid-migration serve reads is a build=1 file
    val resolved = Manifests.resolveFiles(fs, hp(root)).get
    assert(resolved.nonEmpty && resolved.forall(_.startsWith("build=1/")),
      s"mid-migration snapshot must reference only build=1: $resolved")
    // a snapshot that references BOTH builds is refused loudly
    Manifests.commit(fs, hp(root),
      Manifests.dataFilesUnder(fs, hp(root)))
    val err = intercept[IllegalArgumentException] {
      Streams.lshServeVersioned(spark, root, req)
    }
    assert(err.getMessage.contains("exactly ONE index build"))
    // the cutover: one publish, v2 geometry serves
    Streams.reindexCutover(spark, root, 2)
    assert(rowsOf(Streams.lshServeVersioned(spark, root, req)) ===
      Seq(Seq("1", "2")))
    assert(Manifests.resolveFiles(fs, hp(root)).get
      .forall(_.startsWith("build=2/")))
  }

  test("a monitor snapshot of a manifest log counts the snapshot, not the files a fold replaced") {
    val dir = java.nio.file.Files.createTempDirectory("graft_msnap")
    val log = s"$dir/log"
    (0L to 2L).foreach { b =>
      Streams.writeBatchPartition(
        Seq(("a", 10L), ("b", 5L)).toDF("source", "tokens"), b, log)
    }
    Manifests.enableFromListing(fsOf(log), hp(log))
    def tokens = rowsOf(Streams.mixtureWeightsSnapshot(spark, log)
      .select(col("source"), col("tokens")))
    assert(tokens === Seq(Seq("a", "30"), Seq("b", "15")))
    Streams.compactSummedPartials(spark, log,
      _.groupBy(col("source")).agg(sum(col("tokens")).as("tokens")))
    // the replaced batch files stay on disk until the next mutator's
    // entry; the snapshot must not count them
    assert(tokens === Seq(Seq("a", "30"), Seq("b", "15")))
  }

  test("continued ingest and compaction keep an enabled manifest current") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ming")
    val log = s"$dir/log"
    (0L to 1L).foreach { b =>
      Streams.writeBatchPartition(Seq((b, 1L)).toDF("k", "cnt"), b, log)
    }
    val fs = fsOf(log)
    Manifests.enableFromListing(fs, hp(log))
    // a batch landed AFTER enablement publishes itself
    Streams.writeBatchPartition(Seq((9L, 1L)).toDF("k", "cnt"), 2L, log)
    assert(Manifests.latestVersion(fs, hp(log)) === Some(2L))
    assert(rowsOf(Manifests.read(spark, log).select(col("k"))) ===
      Seq(Seq("0"), Seq("1"), Seq("9")))
    // a replayed batch republishes its own partition, census unchanged
    Streams.writeBatchPartition(Seq((9L, 1L)).toDF("k", "cnt"), 2L, log)
    assert(rowsOf(Manifests.read(spark, log).select(col("k"))) ===
      Seq(Seq("0"), Seq("1"), Seq("9")))
    // compaction publishes through the manifest too — and a reader
    // resolved BEFORE it keeps its snapshot
    val pre = Manifests.read(spark, log)
    Streams.compactSummedPartials(spark, log,
      _.groupBy(col("k")).agg(sum(col("cnt")).as("cnt")))
    assert(rowsOf(pre.select(col("k"))) ===
      Seq(Seq("0"), Seq("1"), Seq("9")),
      "pre-compaction reader must keep its snapshot")
    assert(rowsOf(Manifests.read(spark, log).select(col("k"))) ===
      Seq(Seq("0"), Seq("1"), Seq("9")))
    assert(Manifests.read(spark, log)
      .filter(col("batch_id") === -1L).count() === 2L,
      "batches 0/1 must have folded into the merged partition")
  }
}
