package perfbench

import java.io.File
import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.EnumSet
import java.util.concurrent.atomic.LongAdder
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Simulated object store: a Hadoop `FileSystem` on the `simstore`
  * scheme that keeps `simstore://<bucket>/<key>` under
  * `<fs.simstore.root>/<bucket>/<key>` on local disk and charges a fixed
  * latency (`fs.simstore.latency.ms`) per metadata or stream-opening
  * call. It is a latency model of a remote store, not a GCS replica:
  * figures measured on it describe this model only.
  *
  * Every public overload the engine can reach is counted: an overload
  * that delegates to another is charged once, at the outermost call
  * (a per-thread depth guard), so `exists` → `getFileStatus` or
  * `create(Path)` → `create(Path, FsPermission, …)` is one RPC. Metadata
  * calls use `java.nio` directly so no call forks a `stat`/`chmod`
  * process, which a remote store would not pay either.
  */
class SimStoreFileSystem extends RawLocalFileSystem {
  private var storeUri: URI = _
  private var latencyNanos: Long = 0L

  override def getScheme: String = "simstore"

  override def initialize(name: URI, conf: Configuration): Unit = {
    storeUri = URI.create(s"simstore://${name.getAuthority}")
    super.initialize(name, conf)
    latencyNanos = (conf.getDouble("fs.simstore.latency.ms", 0.0) * 1e6).toLong
    setWorkingDirectory(new Path(storeUri.toString + "/"))
  }

  override def getUri: URI = storeUri

  override def getInitialWorkingDirectory: Path =
    if (storeUri == null) new Path("/") else new Path(storeUri.toString + "/")

  override def pathToFile(path: Path): File = {
    val root = getConf.get("fs.simstore.root")
    require(root != null, "fs.simstore.root must be set")
    val u = path.toUri
    val bucket = Option(u.getAuthority).getOrElse(storeUri.getAuthority)
    new File(root, s"$bucket${Option(u.getPath).getOrElse("")}")
  }

  private def rpc[T](kind: String)(body: => T): T =
    SimStore.charge(kind, latencyNanos)(body)

  private def status(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    val a =
      try Files.readAttributes(file, classOf[BasicFileAttributes],
        LinkOption.NOFOLLOW_LINKS)
      catch { case _: java.nio.file.NoSuchFileException =>
        throw new java.io.FileNotFoundException(f.toString) }
    new FileStatus(if (a.isDirectory) 0L else a.size, a.isDirectory, 1,
      getDefaultBlockSize(f), a.lastModifiedTime.toMillis, makeQualified(f))
  }

  override def getFileStatus(f: Path): FileStatus = rpc("getFileStatus")(status(f))
  override def getFileLinkStatus(f: Path): FileStatus = rpc("getFileStatus")(status(f))
  override def exists(f: Path): Boolean =
    rpc("getFileStatus")(pathToFile(f).exists())

  override def listStatus(f: Path): Array[FileStatus] = rpc("list") {
    val local = pathToFile(f)
    if (local.isFile) Array(status(f))
    else {
      val names = local.list()
      if (names == null) throw new java.io.FileNotFoundException(f.toString)
      val out = names.sorted.map(n => status(new Path(f, n)))
      SimStore.listed.add(out.length)
      out
    }
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    rpc("list")(super.listStatusIterator(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    rpc("list")(super.listLocatedStatus(f))
  override def listFiles(f: Path, recursive: Boolean)
      : RemoteIterator[LocatedFileStatus] =
    rpc("list")(super.listFiles(f, recursive))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    rpc("open")(SimStore.countDigest(super.open(f, bufferSize)))
  override def open(f: PathHandle, bufferSize: Int): FSDataInputStream =
    rpc("open")(SimStore.countDigest(super.open(f, bufferSize)))

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable)
      : FSDataOutputStream =
    rpc("create")(super.create(f, overwrite, bufferSize, replication,
      blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    rpc("create")(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable,
      checksumOpt: Options.ChecksumOpt): FSDataOutputStream =
    rpc("create")(super.create(f, permission, flags, bufferSize,
      replication, blockSize, progress, checksumOpt))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    rpc("create")(super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    rpc("create")(super.createNonRecursive(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))
  override def append(f: Path, bufferSize: Int, progress: Progressable)
      : FSDataOutputStream =
    rpc("create")(super.append(f, bufferSize, progress))

  override def mkdirs(f: Path): Boolean = rpc("mkdirs")(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    rpc("mkdirs")(super.mkdirs(f, permission))

  override def delete(f: Path, recursive: Boolean): Boolean =
    rpc("delete")(super.delete(f, recursive))
  override def rename(src: Path, dst: Path): Boolean =
    rpc("rename")(super.rename(src, dst))
  override def truncate(f: Path, newLength: Long): Boolean =
    rpc("other")(super.truncate(f, newLength))
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit =
    rpc("other")(super.setTimes(p, mtime, atime))
  override def setOwner(p: Path, user: String, group: String): Unit =
    rpc("other")(())
  // object stores have no POSIX modes; RawLocalFileSystem would fork
  // `chmod` for every create and mkdirs without native Hadoop
  override def setPermission(p: Path, permission: FsPermission): Unit =
    rpc("other")(())
}

/** Process-wide RPC counters of the simulated store (executors run in
  * the driver's JVM under `local[n]`). */
object SimStore {
  val Kinds: Seq[String] =
    Seq("getFileStatus", "list", "open", "create", "mkdirs", "delete",
      "rename", "other")
  private val counts = Kinds.map(_ -> new LongAdder).toMap
  private val waitNanos = new LongAdder
  /** Entries returned by directory listings. */
  val listed = new LongAdder
  /** Bytes read through streams that `FileOps`'s content digests opened. */
  val digestBytes = new LongAdder
  private val depth = ThreadLocal.withInitial[Array[Int]](() => Array(0))
  /** How much longer than charged this thread has waited: when the host
    * wakes a parked thread late, the excess is credited to the thread's
    * next calls, so that on a busy host the store still adds the modelled
    * latency per call over a run of calls, not that latency plus the
    * host's wake-up delay on every one of them. */
  private val credit = ThreadLocal.withInitial[Array[Long]](() => Array(0L))

  def charge[T](kind: String, latencyNanos: Long)(body: => T): T = {
    val d = depth.get()
    if (d(0) == 0) {
      counts(kind).increment()
      if (latencyNanos > 0) {
        val c = credit.get()
        val t0 = System.nanoTime()
        val deadline = t0 + latencyNanos - c(0)
        var left = deadline - t0
        while (left > 0) {
          java.util.concurrent.locks.LockSupport.parkNanos(left)
          left = deadline - System.nanoTime()
        }
        val end = System.nanoTime()
        c(0) = end - deadline
        waitNanos.add(end - t0)
      }
    }
    d(0) += 1
    try body finally d(0) -= 1
  }

  /** The stream itself, or, when `FileOps.contentDigests` opened it (a
    * frame of that method is on the stack), a stream that counts the
    * bytes read through it into [[digestBytes]]. */
  def countDigest(in: FSDataInputStream): FSDataInputStream = {
    val digest: java.lang.Boolean = StackWalker.getInstance().walk(_.anyMatch(f =>
      f.getClassName.startsWith("graft.operators.FileOps") &&
        f.getMethodName.contains("contentDigests")))
    if (digest) new FSDataInputStream(new CountingInput(in, digestBytes)) else in
  }

  /** Bytes written so far through the local and the simulated file
    * systems: the `FileSystem.Statistics` that every output stream of
    * `RawLocalFileSystem` (and so of this store) updates. */
  @annotation.nowarn("cat=deprecation")
  def bytesWritten(): Long =
    Seq("file" -> classOf[RawLocalFileSystem],
      "simstore" -> classOf[SimStoreFileSystem]).map { case (scheme, cls) =>
      FileSystem.getStatistics(scheme, cls).getBytesWritten
    }.sum

  /** Current counters: RPCs per kind and total injected wait (s). */
  def snapshot(): (Map[String, Long], Double) =
    (counts.map { case (k, v) => k -> v.sum() }, waitNanos.sum() / 1e9)
}

/** An input stream that counts the bytes read through it into `bytes`. */
private final class CountingInput(in: FSDataInputStream, bytes: LongAdder)
    extends FSInputStream {
  override def read(): Int = {
    val b = in.read(); if (b >= 0) bytes.increment(); b
  }
  override def read(buf: Array[Byte], off: Int, len: Int): Int = {
    val n = in.read(buf, off, len); if (n > 0) bytes.add(n.toLong); n
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(target: Long): Boolean = false
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}
