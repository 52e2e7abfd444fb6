package graft.sources

import java.io.File
import java.net.URI
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system under the `crash` scheme, for injecting faults
  * into the repo's own driver-side steps.
  *
  *  - Crash: it numbers the mutating calls (create, rename, delete,
  *    mkdirs) that graft code makes itself and, once armed with step k,
  *    throws [[CrashFs.Crash]] instead of making the k-th one. Calls made
  *    by Spark or Hadoop — the task-side writers and the job committer —
  *    are not counted, so the steps are the repo's commit points.
  *  - Vanish: once armed with a directory, the next listing of its parent
  *    parks it as a partition swap does, right after the parent is
  *    listed: the window in which a concurrent swap takes a partition
  *    away from a reader. */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("crash:///")

  override def listStatus(f: Path): Array[FileStatus] = {
    val out = super.listStatus(f)
    CrashFs.vanish.get.filter(_.getParentFile == pathToFile(f)).foreach { d =>
      CrashFs.vanish.set(None)
      assert(d.renameTo(new File(d.getParentFile, PqRepo.parkedName(d.getName))))
    }
    out
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CrashFs.step("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CrashFs.step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.step("rename", src)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.step("delete", p)
    super.delete(p, recursive)
  }

  override def mkdirs(f: Path): Boolean = {
    CrashFs.step("mkdirs", f)
    super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CrashFs.step("mkdirs", f)
    super.mkdirs(f, permission)
  }
}

object CrashFs {
  final class Crash(msg: String) extends RuntimeException(msg)

  val vanish = new AtomicReference[Option[File]](None)
  private val steps = new AtomicInteger(0)
  @volatile private var crashAt = 0

  /** Register the scheme on a Spark session's Hadoop configuration. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.crash.impl", classOf[CrashFs].getName)

  /** Run `body` with step `k` armed (0: none); the steps it took. */
  def run(k: Int)(body: => Unit): Int = {
    steps.set(0)
    crashAt = k
    try { body; steps.get } finally crashAt = 0
  }

  private def step(op: String, p: Path): Unit =
    if (byGraft) {
      val n = steps.incrementAndGet()
      if (n == crashAt) throw new Crash(s"injected crash at step $n: $op $p")
    }

  /** Whether the caller below the file system is graft code. */
  private def byGraft: Boolean =
    Thread.currentThread.getStackTrace.iterator.map(_.getClassName)
      .dropWhile(c => c.startsWith("java.") || c.startsWith("org.apache.hadoop.fs.") ||
        c.startsWith(classOf[CrashFs].getName))
      .nextOption().exists(_.startsWith("graft."))
}
