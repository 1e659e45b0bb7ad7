package graftbench

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.impl.OpenFileParameters
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import java.util.concurrent.CompletableFuture
import java.util.concurrent.atomic.AtomicLong

/** The local filesystem with a count of the calls made into it, the
  * local stand-in for object-store requests. Registered for the `file`
  * scheme (`spark.hadoop.fs.file.impl`) in every run, so traced and
  * untraced runs use the same class. `RawLocalFileSystem` keeps no
  * operation counts of its own: Hadoop's storage statistics count only
  * bytes on a local table.
  *
  * Only the outermost call on a thread is counted: `globStatus` lists
  * and stats through this same object, and `open(Path)` goes through
  * `open(Path, Int)`, but each is one request from its caller. */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  private def counted[A](c: AtomicLong)(body: => A): A = {
    val d = depth.get
    if (d == 0) c.incrementAndGet()
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(reads)(super.open(f, bufferSize))
  override protected def openFileWithOptions(f: Path, p: OpenFileParameters)
      : CompletableFuture[FSDataInputStream] =
    counted(reads)(super.openFileWithOptions(f, p))

  override def listStatus(f: Path): Array[FileStatus] = counted(lists)(super.listStatus(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(lists)(super.listLocatedStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    counted(lists)(super.listStatusIterator(f))
  override def globStatus(f: Path): Array[FileStatus] = counted(lists)(super.globStatus(f))
  override def globStatus(f: Path, filter: PathFilter): Array[FileStatus] =
    counted(lists)(super.globStatus(f, filter))

  override def getFileStatus(f: Path): FileStatus = counted(stats)(super.getFileStatus(f))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    counted(writes)(super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    counted(writes)(super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    counted(writes)(super.createNonRecursive(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    counted(writes)(super.append(f, bufferSize, progress))
  override def rename(src: Path, dst: Path): Boolean = counted(writes)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(writes)(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted(writes)(super.mkdirs(f, permission))
  override def mkdirs(f: Path): Boolean = counted(writes)(super.mkdirs(f))
}

object CountingFs {
  private val depth: ThreadLocal[Int] = ThreadLocal.withInitial(() => 0)
  val reads = new AtomicLong
  val lists = new AtomicLong
  val stats = new AtomicLong
  val writes = new AtomicLong
}
