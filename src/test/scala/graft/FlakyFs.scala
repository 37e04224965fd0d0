package graft

import java.net.URI

import org.apache.hadoop.fs.{Path => HPath, FSDataInputStream, FSDataOutputStream, FileStatus,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Fault-injecting local FileSystem under the `flaky://` scheme, for
  * exercising Warehouse's failure paths deterministically: a test arms a
  * bounded number of failures against a file-name predicate, and the next
  * matching `rename` calls fail. It also counts file creates by name,
  * and records every open, status probe, listing and glob by path.
  * Everything else delegates to the real local FS, so Spark parquet IO
  * over `flaky://` behaves normally.
  */
class FlakyFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("flaky:///")

  override def rename(src: HPath, dst: HPath): Boolean =
    if (FlakyFs.consumeRename(dst.getName)) false
    else super.rename(src, dst)

  override def open(f: HPath, bufferSize: Int): FSDataInputStream = {
    FlakyFs.touched("open", f)
    super.open(f, bufferSize)
  }

  override def getFileStatus(f: HPath): FileStatus = {
    FlakyFs.touched("status", f)
    super.getFileStatus(f)
  }

  override def listStatus(f: HPath): Array[FileStatus] = {
    FlakyFs.touched("list", f)
    super.listStatus(f)
  }

  override def globStatus(pattern: HPath): Array[FileStatus] = {
    FlakyFs.touched("glob", pattern)
    super.globStatus(pattern)
  }

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
  private val touches = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()

  def failRenames(n: Int)(p: String => Boolean): Unit = synchronized { renameFails = (p, n) }
  def reset(): Unit = synchronized {
    renameFails = ((_: String) => false, 0)
    creates.clear()
    touches.clear()
  }
  def armed: Boolean = renameFails._2 > 0

  /** Files named `name` created since the last [[reset]]. */
  def createsOf(name: String): Int = creates.getOrDefault(name, 0)

  /** `op file` for each open, status probe, listing and glob since the
    * last [[reset]] of a path under `dir`, in call order; `file` is the
    * path relative to `dir`.
    */
  def touchedUnder(dir: String): Seq[String] = {
    val root = new HPath(dir).toUri.getPath.stripSuffix("/") + "/"
    import scala.jdk.CollectionConverters._
    touches.asScala.toSeq.collect { case (op, p) if p.startsWith(root) => s"$op ${p.stripPrefix(root)}" }
  }

  private[graft] def touched(op: String, f: HPath): Unit = touches.add(op -> f.toUri.getPath)

  private[graft] def created(name: String): Unit = creates.merge(name, 1, (a: Int, b: Int) => a + b)

  private[graft] def consumeRename(name: String): Boolean = synchronized {
    val (p, n) = renameFails
    if (n > 0 && p(name)) { renameFails = (p, n - 1); true } else false
  }
}
