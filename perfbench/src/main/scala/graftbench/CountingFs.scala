package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem,
  LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system, counting opens, writes (create, delete,
  * rename, mkdirs) and directory listings. Traced runs install it as
  * `fs.file.impl`; Hadoop's statistics for the local file system count
  * bytes only.
  */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import CountingLocalFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, flags: java.util.EnumSet[CreateFlag],
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet()
    super.delete(f, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet()
    super.rename(src, dst)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet()
    super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet()
    super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet()
    super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    lists.incrementAndGet()
    super.listStatusIterator(f)
  }
}

object CountingLocalFileSystem {
  val opens = new AtomicLong
  val writes = new AtomicLong
  val lists = new AtomicLong
}

/** Hadoop file-system counters for the `file` scheme. */
final case class FsCounters(readBytes: Long, writeBytes: Long, readOps: Long,
                            writeOps: Long, listOps: Long) {
  def -(o: FsCounters): FsCounters = FsCounters(readBytes - o.readBytes,
    writeBytes - o.writeBytes, readOps - o.readOps, writeOps - o.writeOps, listOps - o.listOps)
  def +(o: FsCounters): FsCounters = FsCounters(readBytes + o.readBytes,
    writeBytes + o.writeBytes, readOps + o.readOps, writeOps + o.writeOps, listOps + o.listOps)
}

object FsCounters {
  @annotation.nowarn("cat=deprecation")
  def now(): FsCounters = {
    import scala.jdk.CollectionConverters._
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    FsCounters(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum,
      CountingLocalFileSystem.opens.get, CountingLocalFileSystem.writes.get, CountingLocalFileSystem.lists.get)
  }

}
