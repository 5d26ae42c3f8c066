package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with metadata and stream calls counted. Hadoop's
  * own storage statistics count bytes on `file:` but not operations, so
  * [[Main]] installs this class as `fs.file.impl` and reads [[CountingFs]].
  * Writes are creates, appends, renames, deletes and mkdirs; reads are
  * opens, listings and status probes.
  */
object CountingFs {
  val reads = new AtomicLong
  val writes = new AtomicLong
}

final class CountingRawFs extends RawLocalFileSystem {
  import CountingFs.{reads, writes}

  override def open(f: Path, bufferSize: Int) = { reads.incrementAndGet(); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = { reads.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { reads.incrementAndGet(); super.getFileStatus(f) }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.append(f, bufferSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { writes.incrementAndGet(); super.delete(p, recursive) }
  override def mkdirs(f: Path): Boolean = { writes.incrementAndGet(); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet()
    super.mkdirs(f, permission)
  }
}

final class CountingLocalFs extends LocalFileSystem(new CountingRawFs)
