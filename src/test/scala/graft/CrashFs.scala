package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system under the `crash:` scheme, for crash-point specs:
  * once armed on a directory, it counts every `create`, `rename` and
  * `delete` of an entry directly under that directory and fails the k-th
  * one and every one after it, as a writer killed at that step would stop.
  * Calls deeper in the tree (a parquet writer's own part files) pass
  * through uncounted. Register with `fs.crash.impl`. */
class CrashFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = CrashFs.Uri
  override def getScheme: String = "crash"

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CrashFs.step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CrashFs.step("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.step("rename", src)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.step("delete", p)
    super.delete(p, recursive)
  }
}

object CrashFs {
  val Uri: java.net.URI = java.net.URI.create("crash:///")

  @volatile private var armed: Option[String] = None
  @volatile private var crashAt = Int.MaxValue
  private val steps = new AtomicInteger(0)

  /** Count the steps under local directory `dir`; fail from step `k` on. */
  def arm(dir: String, k: Int = Int.MaxValue): Unit = {
    steps.set(0)
    crashAt = k
    armed = Some(new Path(dir).toUri.getPath)
  }

  /** Stop counting; returns the steps counted. */
  def disarm(): Int = {
    armed = None
    steps.get()
  }

  private def step(op: String, p: Path): Unit =
    if (armed.contains(new Path(p.toUri.getPath).getParent.toUri.getPath)) {
      val n = steps.incrementAndGet()
      if (n >= crashAt)
        throw new java.io.IOException(s"injected crash at step $n: $op $p")
    }
}
