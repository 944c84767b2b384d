package graft

import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/**
 * A local filesystem that CRASHES at a chosen mutating call — the
 * instrument for enumerating every crash point of a maintenance verb
 * (the [[NonAtomicCreateFileSystem]] pattern: a scheme of its own, 1:1 onto
 * the local fs, process-global hooks, test-tree only).
 *
 * Armed with `k`, it counts the DRIVER-side mutating calls (`create`,
 * `rename`, `delete`; a call from a Spark task thread is executor work
 * and not a commit step) and throws at the k-th one, before it takes
 * effect. From then on the "process" is dead: every further mutating call,
 * on any thread, throws too, so no cleanup the verb attempts on its way out
 * reaches the disk. [[disarm]] brings the store back for the recovery
 * steps (a reader, fsck, a retry).
 *
 * Register with `fs.crashfs.impl = graft.CrashPointFileSystem` and address
 * paths as `crashfs:/...`.
 */
class CrashPointFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import CrashPointFileSystem._

  override def getScheme: String = "crashfs"
  override def getUri: URI = URI.create("crashfs:///")

  // RawLocalFileSystem's permission and non-permission create overloads do
  // not route through each other (see NonAtomicCreateFileSystem)
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    step("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    step("rename", src)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    step("delete", p)
    super.delete(p, recursive)
  }
}

object CrashPointFileSystem {
  /** Thrown at the crash point and at every mutating call after it. */
  final class Crash(msg: String) extends java.io.IOException(msg)

  @volatile private var crashAt = 0
  @volatile private var dead = false
  private val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  /** The driver-side mutating calls seen since [[arm]] (with their kind). */
  val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Crash at the `k`-th driver-side mutating call from now on. */
  def arm(k: Int): Unit = {
    calls.set(0); log.clear(); dead = false; crashAt = k
  }

  /** Stop counting and revive the store. */
  def disarm(): Unit = { crashAt = 0; dead = false }

  /** Whether the armed run hit its crash point. */
  def crashed: Boolean = dead

  private def step(kind: String, p: Path): Unit = {
    if (dead) throw new Crash(s"crashed earlier; $kind $p refused")
    if (crashAt > 0 && org.apache.spark.TaskContext.get() == null) {
      val n = calls.incrementAndGet()
      log.add(s"$kind ${p.getName}")
      if (n == crashAt) {
        dead = true
        throw new Crash(s"crash point $n: $kind $p")
      }
    }
  }
}
