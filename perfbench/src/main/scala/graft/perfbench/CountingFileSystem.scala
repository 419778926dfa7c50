package graft.perfbench

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file://` with a count of every metadata and stream-opening call the
  * program makes. Installed only in traced runs, through
  * `spark.hadoop.fs.file.impl`; Hadoop's own storage statistics for the
  * local scheme count bytes but leave list and open counts at zero.
  *
  * Counts are process-global: the benchmark's client is one thread in a
  * closed loop, so the open span owns every call made while it runs,
  * whichever executor or merge thread makes it. Only the outermost call on
  * a thread counts, so a `listLocatedStatus` that lists through
  * `listStatus` is one listing, not two. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  private def counted[T](op: Int)(body: => T): T = {
    val d = depth.get
    if (d == 0) counts.incrementAndGet(op)
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  override def listStatus(f: Path): Array[FileStatus] =
    counted(List)(super.listStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    counted(List)(super.listStatusIterator(f))
  override def getFileStatus(f: Path): FileStatus =
    counted(Status)(super.getFileStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(Open)(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    counted(Create)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    counted(Create)(super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    counted(Rename)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(Delete)(super.delete(f, recursive))
}

object CountingFileSystem {
  val List = 0
  val Status = 1
  val Open = 2
  val Create = 3
  val Rename = 4
  val Delete = 5
  val Names: Seq[String] = Seq("list", "status", "open", "create", "rename", "delete")

  private val counts = new AtomicLongArray(Names.size)
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  /** Current totals, in [[Names]] order. */
  def snapshot(): Array[Long] = Array.tabulate(Names.size)(counts.get)
}
