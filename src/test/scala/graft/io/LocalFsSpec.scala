package graft.io

import graft.SparkSpec
import graft.streaming.Streams
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, ChecksumCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import scala.jdk.CollectionConverters._

/** The engine's local I/O starts no process: no `chmod` for a created
  * file or directory, no `readlink` / `stat` / `ls` for a checkpoint
  * rename, under the confs every session ships
  * ([[graft.LocalSession.engineConfs]]). */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  /** The command lines of the processes the JVM started during `f`
    * (JFR's `jdk.ProcessStart`, the only event recorded). */
  private def processStarts(f: => Unit): Seq[String] = {
    val rec = new Recording()
    val dump = Files.createTempFile("graft_jfr", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try f finally rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  private val forked = Set("chmod", "readlink", "stat", "ls")
  private def program(command: String): String =
    Paths.get(command.trim.split("\\s+").head).getFileName.toString

  private def localFs: FileSystem =
    FileSystem.get(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)

  test("file: resolves to the engine filesystem; checkpoints are FileSystem-based") {
    assert(localFs.getClass === classOf[LocalFs])
    val dir = Files.createTempDirectory("graft_ckptmgr").toString
    val mgr = CheckpointFileManager.create(new Path(dir),
      spark.sessionState.newHadoopConf())
    val inner = mgr match {
      case c: ChecksumCheckpointFileManager =>
        val f = classOf[ChecksumCheckpointFileManager]
          .getDeclaredField("underlyingFileMgr")
        f.setAccessible(true)
        f.get(c)
      case m => m
    }
    assert(inner.isInstanceOf[FileSystemBasedCheckpointFileManager],
      s"checkpoint manager is ${inner.getClass.getName}")
  }

  test("a checkpointed stream, a parquet write and a fold start no chmod/readlink/stat/ls") {
    val dir = Files.createTempDirectory("graft_nofork")
    val (feed, log) = (s"$dir/feed", s"$dir/log")
    val ddl = "event_id bigint, ts timestamp"
    val started = processStarts {
      // two feed files, every event twice
      Seq(0L, 1L).foreach { f =>
        (0L until 20L).map(i => (f * 20 + i % 10,
            new java.sql.Timestamp(3600000L * f + 1000L * i)))
          .toDF("event_id", "ts").coalesce(1)
          .write.mode("append").parquet(feed)
      }
      Streams.runToCompletion(Streams.fileFeed(spark, ddl, feed)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream.format("parquet").option("path", s"$dir/rows")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(OutputMode.Append()))
      assert(spark.read.parquet(s"$dir/rows").count() === 20L)
      (0L to 2L).flatMap(b => Seq(("a", b + 1, b), ("b", 1L, b)))
        .toDF("source", "tokens", "batch_id")
        .write.partitionBy("batch_id").parquet(log)
      Streams.compactSummedPartials(spark, log,
        _.groupBy(col("source")).agg(sum(col("tokens")).as("tokens")))
    }
    assert(rowsOf(spark.read.parquet(log)
        .groupBy(col("source")).agg(sum(col("tokens")))) ===
      Seq(Seq("a", "6"), Seq("b", "3")))
    assert(rowsOf(spark.read.parquet(log).select(col("batch_id")).distinct())
      === Seq(Seq("-1"), Seq("2")))
    val bad = started.filter(c => forked(program(c)))
    assert(bad.isEmpty, s"${bad.size} forks, e.g. ${bad.take(3).mkString("; ")}")
  }

  test("setPermission round-trips in-process; the sticky bit keeps Hadoop's chmod") {
    val dir = Files.createTempDirectory("graft_perm")
    val fs = localFs
    val modes = Seq("644" -> "rw-r--r--", "755" -> "rwxr-xr-x",
      "600" -> "rw-------", "640" -> "rw-r-----")
    val started = processStarts {
      modes.foreach { case (octal, symbolic) =>
        val f = dir.resolve(s"f$octal")
        Files.write(f, Array[Byte](1))
        fs.setPermission(new Path(f.toUri),
          new FsPermission(Integer.parseInt(octal, 8).toShort))
        assert(Files.getPosixFilePermissions(f) ===
          PosixFilePermissions.fromString(symbolic), s"mode $octal")
      }
    }
    assert(started.isEmpty, started.mkString("; "))
    // NIO cannot express the sticky bit: it takes Hadoop's own path,
    // which the recording sees as one chmod
    val sticky = Files.createDirectory(dir.resolve("sticky"))
    val chmods = processStarts {
      fs.setPermission(new Path(sticky.toUri),
        new FsPermission(Integer.parseInt("1755", 8).toShort))
    }
    assert(chmods.map(program) === Seq("chmod"))
    assert((Files.getAttribute(sticky, "unix:mode").asInstanceOf[Int] & 0xfff)
      === Integer.parseInt("1755", 8))
  }
}
