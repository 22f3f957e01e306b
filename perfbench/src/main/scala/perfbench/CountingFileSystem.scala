package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLongArray

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext

/** The `file:` filesystem with per-call counting, installed for traced
  * runs through `spark.hadoop.fs.file.impl`.
  *
  * Each call is charged to the trace span that caused it: a task's span
  * comes from its job's local property, a driver call's from the
  * calling thread's open span; anything else (the streaming engine's
  * own thread, Spark internals) lands in span 0. Counts are kept apart
  * by run [[phase]]. Byte totals come from
  * Hadoop's per-scheme statistics ([[bytes]]), not per span. Only calls made through Hadoop `FileSystem` are
  * seen; `FileContext` users (Structured Streaming's checkpoint files)
  * and plain `java.nio` I/O are not.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    charge(Open); super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    charge(Create)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    charge(Rename); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    charge(Delete); super.delete(f, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    charge(List); super.listStatus(f)
  }

  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] = {
    charge(List); super.listStatus(f, filter)
  }

  override def getFileStatus(f: Path): FileStatus = {
    charge(Status); super.getFileStatus(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    charge(Mkdirs); super.mkdirs(f, permission)
  }
}

object CountingFileSystem {
  val Names = Seq("open", "create", "rename", "delete", "list_status",
    "get_file_status", "mkdirs")
  private val Open = 0
  private val Create = 1
  private val Rename = 2
  private val Delete = 3
  private val List = 4
  private val Status = 5
  private val Mkdirs = 6

  private val bySpan = new ConcurrentHashMap[String, AtomicLongArray]()

  /** The run phase calls are charged to (`setup`, `measure`, ...). */
  @volatile var phase = "setup"

  private def spanNow: String = {
    val tc = TaskContext.get()
    val fromTask = if (tc == null) null else tc.getLocalProperty(Trace.SpanKey)
    s"$phase/${if (fromTask != null) fromTask else Trace.current.toString}"
  }

  private def charge(kind: Int): Unit =
    bySpan.computeIfAbsent(spanNow, _ => new AtomicLongArray(Names.size))
      .incrementAndGet(kind)

  /** Bytes read and written through `file:` so far, all threads. */
  def bytes(): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  /** One JSON line per (phase, span): its counts by call kind. */
  def snapshot(): Iterable[String] = bySpan.asScala.map { case (key, c) =>
    val Array(ph, span) = key.split("/", 2)
    Json.obj(Seq("phase" -> ph, "span" -> span) ++
      Names.indices.map(i => Names(i) -> c.get(i)): _*)
  }
}
