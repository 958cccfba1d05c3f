package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with a counter on each metadata and mutation
  * call. Installed as `fs.file.impl` in traced runs only. A call made
  * from inside another counted call (say `exists` inside `create`) is
  * not counted again, so the counts are calls made by the program. */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  private def counted[T](c: AtomicLong)(body: => T): T = {
    val d = depth.get()
    if (d == 0) c.incrementAndGet()
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  override def getFileStatus(f: Path): FileStatus =
    counted(meta)(super.getFileStatus(f))
  override def exists(f: Path): Boolean = counted(meta)(super.exists(f))
  override def listStatus(f: Path): Array[FileStatus] = {
    if (depth.get() == 0) list.incrementAndGet()
    counted(meta)(super.listStatus(f))
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(creates)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    counted(renames)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(deletes)(super.delete(f, recursive))
}

object CountingFs {
  private val depth = ThreadLocal.withInitial[Int](() => 0)
  val meta, list, creates, renames, deletes = new AtomicLong()

  /** Current totals: call counts, then bytes read and written through
    * any `file:` file system (Hadoop's own per-scheme statistics). */
  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Map(
      "meta" -> meta.get, "list" -> list.get, "create" -> creates.get,
      "rename" -> renames.get, "delete" -> deletes.get,
      "bytes_read" -> st.map(_.getBytesRead).sum,
      "bytes_written" -> st.map(_.getBytesWritten).sum)
  }
}
