package graft.streaming

import graft.io.LocalFs
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A local filesystem that crashes a run at a chosen mutating call.
  * A run is armed on a scope directory with a crash point `k`: the k-th
  * `create` / `rename` / `delete` / `mkdirs` under that directory made
  * outside Spark task threads throws, and so does every later mutating
  * call under it — the process is dead — until the run is disarmed (the
  * restart). The run's Spark tasks, recognized by the run's job group,
  * stay dead even after the restart, so a task the crash left running
  * can never touch the files again. Read calls and paths outside every
  * armed scope always pass, so runs on different directories proceed
  * concurrently, each with its own count. Installed as `fs.file.impl`
  * with the filesystem cache disabled, so every `Path.getFileSystem` of
  * a local path returns one of these; it extends the engine's own
  * [[LocalFs]], so an armed run does the I/O the engine does. */
class CrashingFileSystem extends LocalFs {
  import CrashingFileSystem.mutating

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    mutating("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    mutating("rename", src); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutating("delete", f); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = {
    mutating("mkdirs", f); super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutating("mkdirs", f); super.mkdirs(f, permission)
  }
}

object CrashingFileSystem {
  private class Run(val crashAt: Long, val group: String) {
    var ops = 0L
    var crashed: Option[String] = None
  }
  private val runs = scala.collection.mutable.Map[String, Run]()
  private val deadGroups = scala.collection.mutable.Set[String]()

  /** Count the mutating calls under `scope`; the `k`-th crashes the run
    * whose Spark jobs carry job group `group`. */
  def arm(scope: String, k: Long, group: String): Unit = synchronized {
    runs(scope) = new Run(k, group)
  }

  /** Restart the run on `scope`: its calls pass again, except from its
    * crashed attempt's tasks. Returns the number of counted calls and
    * the call it crashed on (`#k op path`), if any. */
  def disarm(scope: String): (Long, Option[String]) = synchronized {
    runs.remove(scope).fold((0L, Option.empty[String]))(r => (r.ops, r.crashed))
  }

  /** Forget every run and dead job group. */
  def reset(): Unit = synchronized { runs.clear(); deadGroups.clear() }

  private def mutating(op: String, p: Path): Unit = synchronized {
    val task = Option(org.apache.spark.TaskContext.get())
    if (task.exists(t => deadGroups(t.getLocalProperty("spark.jobGroup.id"))))
      throw new java.io.IOException(s"task of a crashed run: $op $p")
    val path = p.toUri.getPath
    runs.collectFirst { case (s, r) if path.startsWith(s + "/") => r }
      .foreach { r =>
        r.crashed.foreach(c =>
          throw new java.io.IOException(s"process is dead (crashed at $c): $op $p"))
        if (task.isEmpty) {
          r.ops += 1
          if (r.ops == r.crashAt) {
            r.crashed = Some(s"#${r.ops} $op $path")
            deadGroups += r.group
            throw new java.io.IOException(s"crash point #${r.ops}: $op $p")
          }
        }
      }
  }
}
