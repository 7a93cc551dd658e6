package perfbench

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import scala.collection.mutable

/** One filesystem call the driver made on a watched path. `kind` is
  * `list` (a directory listing: `n` entries between `t0` and `t1`),
  * `probe` (a status lookup of a file inside a watched input directory —
  * the first thing `Splitter.splitOne` does) or `marker` (a `.json` file
  * created in a watched marker directory, `t0` at create, `t1` at close). */
final case class FsEvent(kind: String, path: String, t0: Long, t1: Long, n: Long)

/** Filesystem events of the traced call in progress. Only calls made on
  * the thread that [[arm]]ed the trace are kept: Spark tasks write through
  * the same filesystem from their own threads. */
object FsTrace {
  @volatile private var thread: Thread = null
  private var listDirs = Set.empty[String]
  private var probeDirs = Set.empty[String]
  private var markerDirs = Set.empty[String]
  private val events = mutable.ArrayBuffer.empty[FsEvent]
  private val inputRead = new java.util.concurrent.atomic.AtomicLong
  private val depth = new ThreadLocal[Int] { override def initialValue = 0 }

  def norm(p: String): String = {
    val s = new Path(p).toUri.getPath
    if (s.length > 1) s.stripSuffix("/") else s
  }

  /** Start recording on the calling thread. `listDirs` are the ledger
    * directories whose listings count, `probeDirs` the input directories
    * whose files' status lookups mark a split's start, `markerDirs` the
    * directories whose `.json` creations are commit markers. */
  def arm(list: Seq[String], probe: Seq[String], marker: Seq[String]): Unit =
    synchronized {
      listDirs = list.map(norm).toSet; probeDirs = probe.map(norm).toSet
      markerDirs = marker.map(norm).toSet; events.clear(); inputRead.set(0)
      thread = Thread.currentThread()
    }

  /** Stop recording; the events and the bytes read from files of the
    * input directories, by any thread, since [[arm]]. */
  def disarm(): (Seq[FsEvent], Long) = synchronized {
    thread = null
    val out = events.toList; events.clear(); (out, inputRead.get)
  }

  private[perfbench] def armed: Boolean = thread != null
  private[perfbench] def read(n: Long): Unit = if (n > 0) inputRead.addAndGet(n)

  private[perfbench] def mine: Boolean =
    (thread eq Thread.currentThread()) && depth.get == 0

  private[perfbench] def add(e: FsEvent): Unit = synchronized { events += e }

  private[perfbench] def isListDir(p: Path) = listDirs.contains(norm(p.toString))
  private[perfbench] def isProbe(p: Path) =
    p.getParent != null && probeDirs.contains(norm(p.getParent.toString))
  private[perfbench] def isMarker(p: Path) =
    p.getName.endsWith(".json") && p.getParent != null &&
      markerDirs.contains(norm(p.getParent.toString))

  /** Run `body` with nested filesystem calls hidden from the trace. */
  private[perfbench] def quiet[A](body: => A): A = {
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }
}

/** The local filesystem with the driver's ledger listings, split-start
  * probes and marker writes timed into [[FsTrace]], and the bytes read from
  * input files counted. Installed only in traced runs, as `fs.file.impl`;
  * results are the stock `LocalFileSystem`'s. */
class TracingFs extends LocalFileSystem {

  override def listFiles(f: Path, recursive: Boolean)
      : RemoteIterator[LocatedFileStatus] = {
    if (!(FsTrace.mine && FsTrace.isListDir(f)))
      return super.listFiles(f, recursive)
    val t0 = Clock.nowNs
    val it = FsTrace.quiet(super.listFiles(f, recursive))
    new RemoteIterator[LocatedFileStatus] {
      private var n = 0L
      private var done = false
      def hasNext: Boolean = {
        val more = FsTrace.quiet(it.hasNext)
        if (!more && !done) {
          done = true
          FsTrace.add(FsEvent("list", f.toString, t0, Clock.nowNs, n))
        }
        more
      }
      def next(): LocatedFileStatus = { n += 1; FsTrace.quiet(it.next()) }
    }
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    if (!(FsTrace.mine && FsTrace.isListDir(f))) return super.listStatus(f)
    val t0 = Clock.nowNs
    val out = FsTrace.quiet(super.listStatus(f))
    FsTrace.add(FsEvent("list", f.toString, t0, Clock.nowNs, out.length))
    out
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    if (FsTrace.armed && FsTrace.isProbe(f)) new FSDataInputStream(new CountingInput(in))
    else in
  }

  override def getFileStatus(f: Path): FileStatus = {
    if (FsTrace.mine && FsTrace.isProbe(f)) {
      val t = Clock.nowNs
      FsTrace.add(FsEvent("probe", f.toString, t, t, 0))
    }
    FsTrace.quiet(super.getFileStatus(f))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (!(FsTrace.mine && FsTrace.isMarker(f)))
      return super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    val t0 = Clock.nowNs
    val inner = FsTrace.quiet(super.create(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))
    new FSDataOutputStream(inner, null) {
      override def close(): Unit = {
        super.close()
        FsTrace.add(FsEvent("marker", f.toString, t0, Clock.nowNs, 0))
      }
    }
  }
}

/** An input stream that counts the bytes read through it into [[FsTrace]].
  * It offers only positioned and sequential reads, so a reader that would
  * use vectored or ByteBuffer reads on the stock stream reads through
  * these here, and every byte is counted. */
final class CountingInput(in: FSDataInputStream) extends FSInputStream {
  override def read(): Int = { val b = in.read(); if (b >= 0) FsTrace.read(1); b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val n = in.read(b, off, len); FsTrace.read(n); n
  }
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
    val n = in.read(pos, b, off, len); FsTrace.read(n); n
  }
  override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
    in.readFully(pos, b, off, len); FsTrace.read(len)
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}
