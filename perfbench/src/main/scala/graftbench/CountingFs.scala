package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}

/** The local file system with a count of the calls that reach it to
  * stat, list or open a path — the per-file metadata traffic a scan's
  * planning sends to storage. Installed as `fs.file.impl` in traced
  * runs. A call made inside another counted call (`exists` through
  * `getFileStatus`, the checksum file an `open` looks up) is not
  * counted again. */
class CountingFs extends LocalFileSystem {
  private def counted[T](body: => T): T = {
    val d = CountingFs.depth.get
    if (d == 0) CountingFs.ops.incrementAndGet()
    CountingFs.depth.set(d + 1)
    try body
    finally CountingFs.depth.set(d)
  }
  override def getFileStatus(f: Path): FileStatus = counted(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = counted(super.listStatus(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(super.listLocatedStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    counted(super.listStatusIterator(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream = counted(super.open(f, bufferSize))
}

object CountingFs {
  val ops = new AtomicLong
  private val depth = ThreadLocal.withInitial[Int](() => 0)
}
