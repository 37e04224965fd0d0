package graft

import java.net.URI

import org.apache.hadoop.fs.{Path => HPath, FSDataOutputStream, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Fault-injecting local FileSystem under the `flaky://` scheme, for
  * exercising Warehouse's failure paths deterministically: a test arms a
  * bounded number of failures against a file-name predicate, and the next
  * matching `rename` calls fail. It also counts file creates by name.
  * Everything else delegates to the real local FS, so Spark parquet IO
  * over `flaky://` behaves normally.
  */
class FlakyFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("flaky:///")

  override def rename(src: HPath, dst: HPath): Boolean =
    if (FlakyFs.consumeRename(dst.getName)) false
    else super.rename(src, dst)

  override def create(f: HPath, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FlakyFs.created(f.getName)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: HPath, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FlakyFs.created(f.getName)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FlakyFs {
  @volatile private var renameFails: (String => Boolean, Int) = ((_: String) => false, 0)
  private val creates = new java.util.concurrent.ConcurrentHashMap[String, Int]()

  def failRenames(n: Int)(p: String => Boolean): Unit = synchronized { renameFails = (p, n) }
  def reset(): Unit = synchronized {
    renameFails = ((_: String) => false, 0)
    creates.clear()
  }
  def armed: Boolean = renameFails._2 > 0

  /** Files named `name` created since the last [[reset]]. */
  def createsOf(name: String): Int = creates.getOrDefault(name, 0)

  private[graft] def created(name: String): Unit = creates.merge(name, 1, (a: Int, b: Int) => a + b)

  private[graft] def consumeRename(name: String): Boolean = synchronized {
    val (p, n) = renameFails
    if (n > 0 && p(name)) { renameFails = (p, n - 1); true } else false
  }
}
