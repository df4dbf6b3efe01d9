package graft

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext

/** Test-only Hadoop `FileSystem` schemes backed by the local disk.
  *
  * Registered per-test via `fs.<scheme>.impl` on the session's Hadoop
  * conf; instances share JVM-static state, which is exactly right for
  * `local[n]` where executors are threads. Two jobs:
  *
  *  - [[CountingFileSystem]] (`counting://`): counts `listStatus` calls
  *    per directory, so FileManifestSpec can assert the BFS scan issues
  *    exactly ONE list RPC per directory (the round-7 verdict's #1 ask —
  *    at 10^8 objects the listing RPCs dominate the scan cost, and the
  *    previous lazy two-job wave listed every level twice). It also
  *    counts the per-object store calls (`getFileStatus`, `exists`,
  *    `mkdirs`, `open`, `create`, `delete`) by kind, so a spec can bound
  *    the RPCs a moved object costs, and records which task partition
  *    created each file, so a spec can see how a sink placed its rows.
  *    [[CountingFileSystem.latencyMs]] makes each counted call sleep
  *    first, a store far enough away that a spec can stop an op midway,
  *    and [[CountingFileSystem.peakInFlight]] records the most counted
  *    calls running at once, so a spec can see how many an op overlaps.
  *  - [[MockSchemeFileSystem]] (`mock://`): a second non-`file` scheme so
  *    BlueprintsSpec can drive a CROSS-SCHEME move (the reference's
  *    two-bucket semantics, move_file.py:18-19) through the Hadoop
  *    stream path rather than the local nio fast path. Paths
  *    whose name contains [[MockSchemeFileSystem.CorruptMarker]] lie
  *    about their length (reported one byte short), simulating a copy
  *    that fails mid-flight so the verify-then-delete guard must keep
  *    the source.
  */
class CountingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "counting"
  override def getUri: URI = URI.create("counting:///")

  // RawLocal statuses load permissions LAZILY via java.io.File, which
  // rejects non-"file" URIs (LocatedFileStatus — built by listFiles —
  // touches them eagerly). Copy to a plain FileStatus so the lazy load
  // never fires under this scheme.
  private def eager(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getPath)

  import CountingFileSystem.rpc

  override def listStatus(f: Path): Array[FileStatus] = rpc("list") {
    CountingFileSystem.listCalls
      .computeIfAbsent(f.toUri.getPath, _ => new AtomicInteger)
      .incrementAndGet()
    super.listStatus(f).map(eager)
  }

  override def getFileStatus(f: Path): FileStatus =
    rpc("getFileStatus")(eager(super.getFileStatus(f)))
  override def exists(f: Path): Boolean = rpc("exists")(super.exists(f))
  override def mkdirs(f: Path): Boolean = rpc("mkdirs")(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    rpc("mkdirs")(super.mkdirs(f, permission))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    rpc("open")(super.open(f, bufferSize))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable)
      : FSDataOutputStream =
    rpc("create")(created(f)(super.create(f, overwrite, bufferSize,
      replication, blockSize, progress)))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    rpc("create")(created(f)(super.create(f, permission, overwrite,
      bufferSize, replication, blockSize, progress)))

  private def created[T](f: Path)(body: => T): T = {
    CountingFileSystem.createdIn.put(f.toUri.getPath,
      Option(TaskContext.get()).map(_.partitionId).getOrElse(-1))
    body
  }
  override def delete(f: Path, recursive: Boolean): Boolean =
    rpc("delete")(super.delete(f, recursive))
}

object CountingFileSystem {
  /** dir os-path -> number of listStatus calls observed. */
  val listCalls = new ConcurrentHashMap[String, AtomicInteger]()
  /** call kind -> store calls observed. A call is counted once, at the
    * outermost overload: what it delegates to (`exists` to
    * `getFileStatus`, `create` to the parent `mkdirs`, a listing to
    * its per-child statuses) is part of that one RPC.
    */
  val rpcCalls = new ConcurrentHashMap[String, AtomicInteger]()
  /** created file os-path -> partition id of the task that created it
    * (-1 on the driver).
    */
  val createdIn = new ConcurrentHashMap[String, Int]()
  /** Milliseconds each counted call sleeps before it runs (0: none). */
  @volatile var latencyMs = 0L
  private val depth = ThreadLocal.withInitial[Array[Int]](() => Array(0))
  private val inFlight = new AtomicInteger
  /** The most counted calls in flight at once since [[reset]], the
    * sleep of [[latencyMs]] included.
    */
  val peakInFlight = new AtomicInteger

  def rpc[T](kind: String)(body: => T): T = {
    val d = depth.get()
    val outer = d(0) == 0
    if (outer) {
      rpcCalls.computeIfAbsent(kind, _ => new AtomicInteger).incrementAndGet()
      peakInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max(_, _))
    }
    d(0) += 1
    try {
      if (outer && latencyMs > 0) Thread.sleep(latencyMs)
      body
    } finally {
      d(0) -= 1
      if (outer) inFlight.decrementAndGet()
    }
  }

  def reset(): Unit = {
    listCalls.clear(); rpcCalls.clear(); createdIn.clear(); peakInFlight.set(0)
  }
}

class MockSchemeFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "mock"
  override def getUri: URI = URI.create("mock:///")
  override def getFileStatus(f: Path): FileStatus = {
    val st = super.getFileStatus(f)
    if (st.isFile && f.getName.contains(MockSchemeFileSystem.CorruptMarker))
      // short constructor only: touching st.getPermission would lazily
      // stat via java.io.File, which rejects non-"file" URIs
      new FileStatus(math.max(0L, st.getLen - 1), st.isDirectory,
        st.getReplication, st.getBlockSize, st.getModificationTime,
        st.getPath)
    else st
  }
}

object MockSchemeFileSystem {
  val CorruptMarker = "corrupt"
}
