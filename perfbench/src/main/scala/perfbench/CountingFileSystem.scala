package perfbench

import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocatedFileStatus, LocalFileSystem, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file://` FileSystem that counts the operations its callers issue.
  *
  * Installed only by the traced run, through
  * `spark.hadoop.fs.file.impl` with `fs.file.impl.disable.cache=true`, so
  * every `file:` path the lake, Spark's file sources and the parquet
  * reader/writer open goes through it. Behaviour is the stock
  * [[LocalFileSystem]]'s. A call made from inside another counted call
  * (e.g. `create` making its parent directory) is not counted again: the
  * counts are operations as issued, not as implemented.
  *
  * Counters are process-wide because the disabled cache hands out a new
  * instance per `getFileSystem` call.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  private def counted[T](op: Int)(f: => T): T = {
    val d = depth.get
    if (d == 0) counts(op).increment()
    depth.set(d + 1)
    try f finally depth.set(d)
  }

  override def listStatus(p: Path): Array[FileStatus] = counted(List)(super.listStatus(p))
  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] =
    counted(List)(super.listStatusIterator(p))
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] =
    counted(List)(super.listLocatedStatus(p))
  override def getFileStatus(p: Path): FileStatus = counted(Status)(super.getFileStatus(p))
  override def open(p: Path, bufferSize: Int): FSDataInputStream = counted(Open) {
    val opened = recording
    if (opened != null && depth.get == 1) opened.add(p.toUri.getPath)
    super.open(p, bufferSize)
  }
  override def create(
      p: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(Create)(super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress))
  override def createNonRecursive(
      p: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(Create)(super.createNonRecursive(
      p, perm, overwrite, bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = counted(Rename)(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean = counted(Delete)(super.delete(p, recursive))
  override def mkdirs(p: Path, perm: FsPermission): Boolean = counted(Mkdirs)(super.mkdirs(p, perm))
  override def mkdirs(p: Path): Boolean = counted(Mkdirs)(super.mkdirs(p))
}

object CountingFileSystem {
  val Names: IndexedSeq[String] = IndexedSeq("list", "status", "open", "create", "rename", "delete", "mkdirs")
  private val List = 0
  private val Status = 1
  private val Open = 2
  private val Create = 3
  private val Rename = 4
  private val Delete = 5
  private val Mkdirs = 6
  private val counts = Array.fill(Names.size)(new LongAdder)
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  /** Paths opened while a recording set is installed (read probes). */
  @volatile private var recording: java.util.Set[String] = null

  /** Current totals, in [[Names]] order. */
  def snapshot(): IndexedSeq[Long] = counts.toIndexedSeq.map(_.sum())

  def record[T](f: => T): (T, Set[String]) = {
    val s = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    recording = s
    try {
      val out = f
      import scala.jdk.CollectionConverters._
      (out, s.asScala.toSet)
    } finally recording = null
  }

  def settings: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[CountingFileSystem].getName,
    "spark.hadoop.fs.file.impl.disable.cache" -> "true")
}
