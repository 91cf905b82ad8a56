package graftbench

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with its calls counted: the store operations the
  * engine issues through Hadoop's FileSystem API, and Spark's own. Reads
  * are opens, listings and status calls; writes are creates, renames,
  * deletes and directory creations.
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs.{reads, writes}

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = { reads.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { reads.incrementAndGet(); super.getFileStatus(f) }
}

object CountingLocalFs {
  val reads = new AtomicLong
  val writes = new AtomicLong

  /** Make this JVM's cached `file:` file system a counting one. Call before
    * anything else resolves a local path: Hadoop caches one instance per
    * scheme and hands it to every later caller, whatever their
    * configuration.
    */
  def install(): Unit = {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    val fs = FileSystem.get(URI.create("file:///"), conf)
    require(fs.isInstanceOf[CountingLocalFs], s"file: is already bound to ${fs.getClass.getName}")
  }
}
