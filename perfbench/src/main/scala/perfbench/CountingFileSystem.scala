package perfbench

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with its calls counted: installed for traced
  * gate runs as `fs.file.impl`, so the index-mutation gates' file
  * operations (creates, renames, deletes, mkdirs; opens, listings, status
  * lookups) can be told apart per gate. Hadoop's own local-FS statistics
  * count bytes but not these operations.
  */
final class CountingFileSystem extends LocalFileSystem(new CountingRawFileSystem)

object CountingFileSystem {
  val writeOps = new AtomicLong()
  val readOps = new AtomicLong()
}

final class CountingRawFileSystem extends RawLocalFileSystem {
  import CountingFileSystem.{readOps, writeOps}

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writeOps.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writeOps.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writeOps.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writeOps.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writeOps.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    writeOps.incrementAndGet(); super.delete(p, recursive)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    readOps.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    readOps.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    readOps.incrementAndGet(); super.getFileStatus(f)
  }
}
