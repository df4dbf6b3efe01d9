package graft.operators

import java.io.{EOFException, FileNotFoundException, InputStream}
import java.net.URI
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.reflect.ClassTag
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.{HashPartitioner, RangePartitioner, SparkContext, TaskContext}
import org.apache.spark.rdd.{CoGroupedRDD, RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.SerializableConfiguration
import graft.core.BlueprintError
import graft.sources.{FileEntry, FileManifest}

/** Parallel file copy / move / delete over a manifest, on the driver or
  * on the executors.
  *
  * The reference executes one sequential driver-side loop per pipeline
  * (download_file.py:254-262, upload_file.py:242-253, move_file.py:185-196,
  * remove_file.py:156-158). Here each op is one pipeline of steps over
  * [[Rows]], written once: the rows are held on the driver ([[Held]], a
  * listing of at most `FileManifest.DriverRows` entries) or are an RDD
  * ([[Spread]]), and every step (the collision check's sort, the
  * enumeration's global sort, the sync's cogroup, a fold of each
  * partition) does the same on both. One size rule ([[onDriver]]) places
  * the byte work ([[Rows.run]]):
  *  - held rows, at most `DriverRows` of them moving at most one
  *    [[Range]] of bytes, run on the driver, one worker per row up to
  *    `Q.PoolThreads` (`Q.parallel`) — no Spark job, whose scheduling
  *    would cost more than the rows' own store round trips. A row is a
  *    few dependent store calls, so its worker waits rather than
  *    computes, and the rows in flight are the pool's, not the cores';
  *  - anything else is one job across executors, and each task opens
  *    its own `FileSystem` handles — the single biggest designed
  *    improvement for the 100 TB goal (SURVEY §4-P1).
  * Bytes stream through one copy kernel ([[copyFile]]), 1 MiB at a time;
  * past the driver bound, no row is materialized on the driver.
  *
  * Retry/speculation safety: per-file work is idempotent — a retried
  * row that finds the source already gone but the destination present
  * (a completed move from the first attempt) skips the file instead of
  * failing. Skips are counted per sink task (or per driver op), so
  * [[CopyStats]] separates planned vs actually-transferred rows.
  *
  * Spark work: on an RDD each decision — a copy's collision check, a
  * sync's diff count, the content compare — is one plain RDD job, never
  * a Catalyst aggregate that adaptive execution would split into one
  * job per shuffle stage. A sink is one more job over rows the decision
  * already shuffled, so Spark reuses that shuffle's output instead of
  * reading the plan again. The Hadoop conf is broadcast once per job.
  * Held rows build no RDD, broadcast or closure unless the size rule
  * sends their byte work to a job.
  *
  * Closures: the ClosureCleaner parses the bytecode of the class that
  * declares each closure it cleans, milliseconds of driver time apiece.
  * So a step's per-partition function runs inside the next stage's own
  * closure, one closure per stage, and jobs start through `runJob`, not
  * through RDD actions whose own wrappers would be cleaned too.
  * [[copy]]/[[delete]] adapt a DataFrame of `bucket`, `path` (+ `dest`,
  * optional `destBucket`).
  */
object FileOps {

  /** Outcome of a bulk copy/move. `planned` is the manifest row count;
    * `transferred` the rows whose bytes actually moved this run; `skipped`
    * the rows passed over (existing destination under `overwrite=false`,
    * or an idempotent-retry skip of an already-completed move). The
    * reference's sequential loop had no skip paths, so its printed count
    * was always the transfer count — reporting `planned` as "downloaded
    * N" would overstate when rows skip.
    */
  final case class CopyStats(planned: Long, transferred: Long, skipped: Long)

  /** Stream buffer of the copy kernel and of the content compare. */
  private val Buf = 1 << 20

  /** Bytes per content-compare task: a same-size pair is cut into
    * aligned ranges of this size, so one large object is verified by
    * many tasks instead of one task reading it serially.
    */
  private val Range = 32L << 20

  /** Partitions of a sink: one file per task
    * would drown in task overhead for millions of small files; fewer
    * tasks than cores wastes executors. `4 × defaultParallelism` keeps
    * partitions balanced under skewed file sizes at any manifest size.
    */
  private def parallelism(sc: SparkContext): Int = 4 * sc.defaultParallelism

  /** The size rule, the one place that picks driver workers or a job:
    * held rows run on the driver when they are at most
    * `FileManifest.DriverRows` rows moving at most one [[Range]] of
    * bytes. A delete moves none.
    */
  private def onDriver(rows: Int, bytes: Long): Boolean =
    rows <= FileManifest.DriverRows && bytes <= Range

  /** Starts one Spark job: a task over every partition of an RDD, as
    * `(r, t) => r.sparkContext.runJob(r, t)`. Each op passes one written
    * in its own method, because a job's call site — by which traces name
    * the layer that started it (the listing, a copy, a delete, a sync,
    * the compare) — is the innermost engine frame that starts it; the
    * steps of [[Rows]] therefore never call `runJob` themselves.
    */
  type Launch = (RDD[Any], (TaskContext, Iterator[Any]) => Any) => Array[Any]

  /** The rows of a file op: held on the driver as one partition
    * ([[Held]]) or an RDD ([[Spread]]), with the steps the ops are
    * written in. A step's functions must not capture an RDD.
    */
  sealed abstract class Rows[T: ClassTag] {

    /** `f` over each partition, given its index; over an RDD it runs
      * inside the next stage's own closure.
      */
    def mapPartitions[U: ClassTag](f: (Int, Iterator[T]) => Iterator[U]): Rows[U]

    /** The rows as an RDD; held rows are parallelized, uncached. */
    def rdd: RDD[T]

    /** The rows placed for a sink: an RDD's evenly over
      * `4 × defaultParallelism` partitions; held rows stay where they are
      * ([[run]] places them).
      */
    def spread: Rows[T]

    /** Hash partitions, each sorted: a repeated row shows as two
      * neighbours.
      */
    def sortWithin(implicit ord: Ordering[T]): Rows[T]

    /** The rows sorted on `key` across partitions, and the offsets of
      * the partitions: the rows before each, then the total.
      */
    def sortGlobal[K: ClassTag](key: T => K, ord: Ordering[K], launch: Launch)
        : (Rows[T], Array[Long])

    /** `f` of each partition. */
    def fold[S](f: Iterator[T] => S, launch: Launch): IndexedSeq[S]

    /** The byte work of an op: `row(conf)` of each row (`size` bytes
      * each), summed per partition by `total`. Held rows within
      * [[onDriver]] run on the driver, up to `Q.PoolThreads` rows at once
      * (so `row(conf)` runs on many threads at once), and stop with the
      * caller's interrupt once each row in flight is done; anything else
      * is one job of `total`s.
      */
    def run[R, S](size: T => Long, launch: Launch)(row: Configuration => T => R)(
        total: Iterator[R] => S): IndexedSeq[S]

    /** The rows of `this` and `that` grouped on their keys: per key, the
      * rows of each side.
      */
    def cogroup[U: ClassTag](that: Rows[U])(key: T => String, thatKey: U => String)
        : Rows[(String, Iterable[T], Iterable[U])] = (this, that) match {
      case (a: Held[T @unchecked], b: Held[U @unchecked]) =>
        val (x, y) = (a.rows.groupBy(key), b.rows.groupBy(thatKey))
        new Held(a.sc, (x.keySet ++ y.keySet).toIndexedSeq.map(k =>
          (k, x.getOrElse(k, Nil): Iterable[T], y.getOrElse(k, Nil): Iterable[U])))
      case _ =>
        val sides = Seq(mapPartitions((_, it) => it.map(t => (key(t), t))).rdd,
          that.mapPartitions((_, it) => it.map(u => (thatKey(u), u))).rdd)
        new Spread(new CoGroupedRDD[String](sides,
          new HashPartitioner(sides.head.sparkContext.defaultParallelism)),
          (_, it: Iterator[(String, Array[Iterable[_]])]) => it.map {
            case (k, Array(x, y)) =>
              (k, x.asInstanceOf[Iterable[T]], y.asInstanceOf[Iterable[U]])
          })
    }
  }

  object Rows {
    def apply[T: ClassTag](sc: SparkContext, rows: IndexedSeq[T]): Rows[T] = new Held(sc, rows)
    def apply[T: ClassTag](rdd: RDD[T]): Rows[T] = new Spread[T, T](rdd, (_, it) => it)
  }

  /** Rows held on the driver: one partition, each step done in place. */
  final class Held[T: ClassTag] private[FileOps] (
      val sc: SparkContext, val rows: IndexedSeq[T]) extends Rows[T] {

    def mapPartitions[U: ClassTag](f: (Int, Iterator[T]) => Iterator[U]): Rows[U] =
      new Held(sc, f(0, rows.iterator).toIndexedSeq)

    def rdd: RDD[T] = sc.parallelize(rows, FileManifest.slices(sc, rows.length))

    def spread: Rows[T] = this

    def sortWithin(implicit ord: Ordering[T]): Rows[T] = new Held(sc, rows.sorted)

    def sortGlobal[K: ClassTag](key: T => K, ord: Ordering[K], launch: Launch)
        : (Rows[T], Array[Long]) =
      (new Held(sc, rows.sortBy(key)(ord)), Array(0L, rows.length.toLong))

    def fold[S](f: Iterator[T] => S, launch: Launch): IndexedSeq[S] =
      IndexedSeq(f(rows.iterator))

    /** Past the size rule, one row per task up to `4 × defaultParallelism`:
      * two large objects never share a task.
      */
    def run[R, S](size: T => Long, launch: Launch)(row: Configuration => T => R)(
        total: Iterator[R] => S): IndexedSeq[S] =
      if (onDriver(rows.length, rows.iterator.map(size).sum))
        IndexedSeq(total(Q.parallel(rows)(row(sc.hadoopConfiguration)).iterator))
      else Rows(sc.parallelize(rows, math.min(parallelism(sc), rows.length)))
        .run(size, launch)(row)(total)
  }

  /** Rows of an RDD: `read` of each partition of `base`, deferred into
    * the next stage's own closure.
    */
  final class Spread[X, T: ClassTag] private[FileOps] (
      base: RDD[X], read: (Int, Iterator[X]) => Iterator[T]) extends Rows[T] {

    private def sc = base.sparkContext

    def mapPartitions[U: ClassTag](f: (Int, Iterator[T]) => Iterator[U]): Rows[U] = {
      val r = read
      new Spread(base, (p: Int, it: Iterator[X]) => f(p, r(p, it)))
    }

    def rdd: RDD[T] = base.mapPartitionsWithIndex(read)

    /** Row i of input partition p (of nIn) goes to partition
      * (p·parts/nIn + i) mod parts without a job, so single-row inputs
      * land in distinct tasks. `repartition`'s round-robin starts input
      * partition p at a seeded random offset, and those offsets coincide
      * for p = 0 and 1 at every power-of-two count from 2 to 32: two large
      * objects listed in two input partitions would copy one after the
      * other in one task.
      */
    def spread: Rows[T] = {
      val (parts, nIn, r) = (parallelism(sc), base.getNumPartitions, read)
      val keyed = base.mapPartitionsWithIndex { (p, it) =>
        val start = p.toLong * parts / nIn
        r(p, it).zipWithIndex.map { case (t, i) => (((start + i) % parts).toInt, t) }
      }
      // an Int key k in [0, parts) hashes to partition k
      new Spread(new ShuffledRDD[Int, T, T](keyed, new HashPartitioner(parts)),
        (_, it: Iterator[(Int, T)]) => it.map(_._2))
    }

    def sortWithin(implicit ord: Ordering[T]): Rows[T] = {
      val r = read
      new Spread(new ShuffledRDD[T, Null, Null](
        base.mapPartitionsWithIndex((p, it) => r(p, it).map(t => (t, null))),
        new HashPartitioner(sc.defaultParallelism)).setKeyOrdering(ord),
        (_, it: Iterator[(T, Null)]) => it.map(_._1))
    }

    /** A range-partitioned shuffle and one job counting each sorted
      * partition. The partitioner samples the keys in a job of its own,
      * which Spark starts from here, not through `launch`: a trace names
      * its layer `exec`.
      */
    def sortGlobal[K: ClassTag](key: T => K, ord: Ordering[K], launch: Launch)
        : (Rows[T], Array[Long]) = {
      val r = read
      val keyed = base.mapPartitionsWithIndex((p, it) => r(p, it).map(t => (key(t), t)))
      val sorted = new Spread(new ShuffledRDD[K, T, T](keyed,
        new RangePartitioner(keyed.getNumPartitions, keyed)(ord, implicitly)).setKeyOrdering(ord),
        (_, it: Iterator[(K, T)]) => it.map(_._2))
      (sorted, sorted.fold(_.size.toLong, launch).scanLeft(0L)(_ + _).toArray)
    }

    def fold[S](f: Iterator[T] => S, launch: Launch): IndexedSeq[S] = {
      val r = read
      launch(base.asInstanceOf[RDD[Any]], (c, it) =>
        f(r(c.partitionId, it.asInstanceOf[Iterator[X]])))
        .toIndexedSeq.asInstanceOf[IndexedSeq[S]]
    }

    /** The session's Hadoop conf is broadcast for the job: a task reads
      * it from its executor's block manager instead of deserializing the
      * whole conf (hundreds of properties, tens of KB) out of its own
      * closure — the same as Spark's `HadoopRDD`.
      */
    def run[R, S](size: T => Long, launch: Launch)(row: Configuration => T => R)(
        total: Iterator[R] => S): IndexedSeq[S] = {
      val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
      try fold(it => total(it.map(row(conf.value.value))), launch)
      finally conf.destroy()
    }
  }

  /** `FileSystem` resolver of one sink task or one driver op:
    * `FileSystem.get` goes through a synchronized cache + UGI lookup,
    * which serializes copy threads on tiny files, so each bucket is
    * resolved once.
    */
  private def fsResolver(c: Configuration): String => FileSystem = {
    val cache = new ConcurrentHashMap[String, FileSystem]()
    b => cache.computeIfAbsent(b, _ => FileSystem.get(new URI(b), c))
  }

  private def isLocal(fs: FileSystem): Boolean = fs.getScheme == "file"

  private def nioPath(p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(p.toUri.getPath)

  /** An object's bytes from `off` on: `java.nio` for a `file:` object,
    * else the scheme's own stream with a `buf`-byte buffer.
    */
  private def openAt(fs: FileSystem, p: Path, off: Long, buf: Int): InputStream =
    if (isLocal(fs)) Channels.newInputStream(FileChannel.open(nioPath(p)).position(off))
    else {
      val in = fs.open(p, buf)
      try in.seek(off) catch { case e: EOFException => in.close(); throw e }
      in
    }

  /** One file copy — the only byte path of [[copy]] and [[copyOne]].
    * Local→local is one `java.nio` `Files.copy`. Otherwise the bytes
    * stream through a buffer of 1 MiB (or the object's length, if
    * smaller). A `file:` end is opened with `java.nio`, never through
    * Hadoop's checksummed local filesystem, which forks `chmod` for
    * every created file and directory without native Hadoop (~9 ms
    * each); any other scheme uses its own `open`/`create`. The source's
    * status is handed in, so it is not statted again, and neither is
    * the destination: a directory already sitting at the destination
    * fails the copy (local→local replaces an empty one) instead of
    * receiving the object inside it. No `mkdirs` precedes a store
    * `create`: `create` makes the destination's parents (Hadoop's
    * `create` contract), so an explicit one is a wasted store RPC.
    */
  private def copyFile(
      srcFs: FileSystem, src: FileStatus,
      dstFs: FileSystem, dstPath: Path): Unit =
    if (isLocal(srcFs) && isLocal(dstFs)) {
      val d = nioPath(dstPath)
      Files.createDirectories(d.getParent)
      Files.copy(nioPath(src.getPath), d, StandardCopyOption.REPLACE_EXISTING)
    } else {
      val bs = math.min(Buf.toLong, math.max(src.getLen, 4096L)).toInt
      val in = openAt(srcFs, src.getPath, 0L, bs)
      try {
        val out =
          if (isLocal(dstFs)) {
            val d = nioPath(dstPath)
            Files.createDirectories(d.getParent)
            Files.newOutputStream(d)
          } else dstFs.create(dstPath, true, bs)
        try {
          val buf = new Array[Byte](bs)
          var r = in.read(buf)
          while (r != -1) {
            out.write(buf, 0, r)
            r = in.read(buf)
          }
        } finally out.close()
      } finally in.close()
    }

  /** [[copyFile]], then, under `deleteSource`, the source's delete once
    * the copy is seen to have landed — the destination exists with the
    * source's length, one status RPC (verify-before-delete, SURVEY §4-P4).
    * The one copy tail of [[copyRow]] and [[copyOne]].
    */
  private def transfer(srcFs: FileSystem, src: FileStatus, dstFs: FileSystem,
      dstPath: Path, deleteSource: Boolean): Unit = {
    copyFile(srcFs, src, dstFs, dstPath)
    def landed =
      try dstFs.getFileStatus(dstPath).getLen == src.getLen
      catch { case _: FileNotFoundException => false }
    if (deleteSource && landed) deleteRow(srcFs, src.getPath)
  }

  /** One row of a copy: the source object and its length (0 where
    * unknown, in a DataFrame plan), the destination path, and the
    * destination bucket — null for the default, else the source's bucket.
    */
  final case class Move(
      srcBucket: String, src: String, size: Long, dest: String, destBucket: String)

  /** Copy each manifest row `bucket/path` -> `destBucket|bucket` / `dest`.
    * `deleteSource=true` turns copy into move (copy-then-delete, same
    * non-atomicity as the reference's copy_blob+delete, move_file.py:147-153,
    * but with a verify-before-delete guard, SURVEY §4-P4).
    *
    * Fails fast with [[BlueprintError.DestinationCollision]] when two
    * planned rows map to the same destination object: the reference's
    * sequential loop silently overwrote last-wins
    * (move_file.py:185-196); executor-parallel execution would make the
    * winner nondeterministic — and for a move BOTH sources get deleted
    * with one surviving copy — so collisions are rejected up front.
    *
    * A DataFrame adapter of [[copyRows]]: the plan is turned into an RDD
    * once, and its rows are read in the placement step.
    *
    * @param checkCollisions pass false only when the caller proves dest
    *   uniqueness by construction (e.g. Always-enumerated explicit
    *   names, or sync's prefix-relative keys) — skips the check job.
    */
  def copy(
      df: DataFrame,
      destBucketDefault: Option[String] = None,
      deleteSource: Boolean = false,
      overwrite: Boolean = true,
      checkCollisions: Boolean = true): CopyStats = {
    val hasDestBucket = df.columns.contains("destBucket")
    val cols = Seq("bucket", "path", "dest") ++
      (if (hasDestBucket) Seq("destBucket") else Nil)
    copyRows(Rows(df.selectExpr(cols: _*).rdd).mapPartitions((_, it) =>
      it.map(r => Move(r.getString(0), r.getString(1), 0L, r.getString(2),
        if (hasDestBucket) r.getString(3) else null))),
      destBucketDefault, deleteSource, overwrite, checkCollisions)
  }

  /** [[copy]] over `rows`: the collision check, then the sink.
    *
    * The rows are first resolved to their EFFECTIVE destination bucket
    * (the one the check keys on: rows from different source buckets
    * never falsely collide, and a null bucket colliding with an
    * explicitly-equal resolved one is caught) and placed ([[Rows.spread]]:
    * over an RDD one shuffle, whose map side runs the caller's steps).
    * The check keys the placed rows on their destination, sorts them
    * within hash partitions and folds each partition: over an RDD a
    * shuffle and one job. The sink ([[Rows.run]]) reads the same placed
    * rows, so Spark skips the map stage the check already ran: two jobs
    * with the check, one without, and the caller's steps run once per
    * row either way. `planned` and `skipped` are the sink tasks'
    * results, which Spark takes once per partition however often a task
    * is retried.
    */
  private[graft] def copyRows(
      rows: Rows[Move],
      destBucketDefault: Option[String],
      deleteSource: Boolean,
      overwrite: Boolean,
      checkCollisions: Boolean): CopyStats = {
    val launch: Launch = (r, t) => r.sparkContext.runJob(r, t)
    val placed = rows.mapPartitions((_, it) => it.map(m =>
      if (m.destBucket != null) m
      else m.copy(destBucket = destBucketDefault.getOrElse(m.srcBucket)))).spread
    if (checkCollisions) {
      // per partition, its keys sorted: the row count, the greatest
      // repeated dest, the last key
      val found = placed.mapPartitions((_, it) => it.map(m => (m.destBucket, m.dest)))
        .sortWithin.fold(_.foldLeft((0L, Option.empty[String], null: (String, String))) {
          case ((n, clash, prev), k) =>
            (n + 1, if (k == prev) greater(clash, Some(k._2)) else clash, k)
        }, launch)
      if (found.map(_._1).sum == 0) return CopyStats(0L, 0L, 0L)
      found.map(_._2).reduce(greater).foreach(d => throw BlueprintError.DestinationCollision(d))
    }
    val done = placed.run(_.size, launch)(c => copyRow(fsResolver(c), deleteSource, overwrite) _)(
      _.foldLeft((0L, 0L)) { case ((n, s), skipped) => (n + 1, if (skipped) s + 1 else s) })
    val (planned, skipped) = (done.map(_._1).sum, done.map(_._2).sum)
    CopyStats(planned, planned - skipped, skipped)
  }

  /** One row of a copy: copies `src` to `dest` through [[transfer]] with
    * one source stat. Returns whether the row was skipped: an existing
    * destination under `overwrite=false`, or a move an earlier attempt
    * completed (source gone, destination present) — an idempotent retry,
    * not a failure.
    */
  private def copyRow(fsFor: String => FileSystem, deleteSource: Boolean,
      overwrite: Boolean)(m: Move): Boolean = {
    val srcPath = new Path(s"${m.srcBucket}/${m.src}")
    val dstPath = new Path(s"${m.destBucket}/${m.dest}")
    val srcFs = fsFor(m.srcBucket)
    val dstFs = fsFor(m.destBucket)
    val srcStatus =
      try Some(srcFs.getFileStatus(srcPath))
      catch { case _: FileNotFoundException => None }
    srcStatus match {
      case None =>
        if (!(deleteSource && dstFs.exists(dstPath)))
          throw BlueprintError.FileNotFound(srcPath.toString)
        true
      case Some(_) if !overwrite && dstFs.exists(dstPath) => true
      case Some(st) =>
        transfer(srcFs, st, dstFs, dstPath, deleteSource)
        false
    }
  }

  private def greater(a: Option[String], b: Option[String]): Option[String] =
    Ordering[Option[String]].max(a, b)

  /** Delete each manifest row (remove_file.py:117-123, executor-parallel).
    * Returns the planned row count. A DataFrame adapter of [[deleteRows]].
    */
  def delete(df: DataFrame): Long =
    deleteRows(Rows(df.selectExpr("bucket", "path").rdd).mapPartitions((_, it) =>
      it.map(r => (r.getString(0), r.getString(1)))))

  /** [[delete]] over (bucket, path) rows, placed like a copy's and run by
    * the size rule: over an RDD one Spark job, whose tasks return the
    * rows they deleted — no count job first.
    */
  private[graft] def deleteRows(rows: Rows[(String, String)]): Long = {
    val launch: Launch = (r, t) => r.sparkContext.runJob(r, t)
    rows.spread.run(_ => 0L, launch) { c =>
      val fsFor = fsResolver(c)
      (r: (String, String)) => deleteRow(fsFor(r._1), new Path(s"${r._1}/${r._2}"))
    }(_.size.toLong).sum
  }

  /** One object's delete, of every delete path: never recursive, and
    * idempotent under retry — deleting an already-deleted object is a
    * no-op.
    */
  private def deleteRow(fs: FileSystem, p: Path): Unit = fs.delete(p, false)

  /** Outcome of one [[sync]] run: source objects seen, objects
    * actually transferred (missing or size-changed at the
    * destination), up-to-date objects skipped without moving bytes
    * (manifest-diff verdict — NOT planned-but-skipped copies, which
    * are `retrySkipped`), objects that were planned for transfer but
    * skipped inside the copy stage (idempotent-retry skip: the bytes
    * already landed on a prior attempt), and extraneous destination
    * objects deleted (0 unless `deleteExtraneous`).
    */
  final case class SyncStats(
      scanned: Long, transferred: Long, upToDate: Long,
      retrySkipped: Long, deleted: Long)

  /** Whether `len` bytes from `off` differ between objects `a` and `b`,
    * compared one buffer (1 MiB, or `len` if smaller) at a time,
    * stopping at the first differing buffer. A side that ends early
    * differs.
    */
  private def rangeDiffers(
      fa: FileSystem, a: Path, fb: FileSystem, b: Path, off: Long, len: Long): Boolean = {
    // loop to -1, not 0: an InputStream may legally return 0 bytes
    // without EOF (ADVICE r15)
    def fill(in: InputStream, buf: Array[Byte], n: Int): Boolean = {
      var got = 0
      while (got < n) {
        val r = in.read(buf, got, n - got)
        if (r < 0) return false
        got += r
      }
      true
    }
    val bs = math.min(Buf.toLong, len).toInt
    val (ba, bb) = (new Array[Byte](bs), new Array[Byte](bs))
    try {
      val ia = openAt(fa, a, off, Buf)
      try {
        val ib = openAt(fb, b, off, Buf)
        try {
          var pos = 0L
          var diff = false
          while (!diff && pos < len) {
            val n = math.min(bs.toLong, len - pos).toInt
            diff = !fill(ia, ba, n) || !fill(ib, bb, n) ||
              !java.util.Arrays.equals(ba, 0, n, bb, 0, n)
            pos += n
          }
          diff
        } finally ib.close()
      } finally ia.close()
    } catch { case _: EOFException => true } // a seek past a shrunk end
  }

  /** One relative path (`rp`) of a [[sync]] diff with its source and
    * destination entries; a side the path is missing from is null.
    */
  private final case class Diff(rp: String, src: FileEntry, dst: FileEntry) {
    def extra: Boolean = src == null
    def same: Boolean = src != null && dst != null && dst.size == src.size
    def stale: Boolean = src != null && !same
  }

  /** rsync's `-c` at object-store scale: the relative paths (`rp`) of
    * the same-size pairs whose bytes differ. `ranges` holds each
    * non-empty same-size pair cut into aligned [[Range]]-byte ranges
    * ([[ranges]]), placed like a copy's rows and run by the size rule;
    * each range opens both sides at its offset and compares them 1 MiB at
    * a time, stopping at the first differing MiB. So each side is read at
    * most once, by many tasks in parallel in one Spark job (or by the
    * driver's workers, for at most one [[Range]] of bytes), and a large
    * object is no longer verified by one task reading serially. A side
    * that ends early counts as changed (it is re-copied). Zero-length
    * pairs are equal and never opened. The changed keys, one per object
    * to re-copy, are returned to the driver.
    */
  private def contentDigests(ranges: Rows[(Diff, Long)], dstBucket: String): Set[String] = {
    val launch: Launch = (r, t) => r.sparkContext.runJob(r, t)
    ranges.spread.run(rangeLen, launch) { c =>
      val fsFor = fsResolver(c)
      (r: (Diff, Long)) => {
        val (s, t) = (r._1.src, r._1.dst)
        Option.when(rangeDiffers(fsFor(s.bucket), new Path(s"${s.bucket}/${s.path}"),
          fsFor(dstBucket), new Path(s"$dstBucket/${t.path}"), r._2, rangeLen(r)))(r._1.rp)
      }
    }(_.flatten.toArray).iterator.flatten.toSet
  }

  /** The compare ranges of a diff entry: one per [[Range]] bytes of a
    * same-size pair, none otherwise.
    */
  private def ranges(d: Diff): Iterator[(Diff, Long)] =
    if (!d.same) Iterator.empty
    else (0L until d.src.size by Range).iterator.map(off => (d, off))

  /** The bytes of a compare range. */
  private def rangeLen(r: (Diff, Long)): Long = math.min(Range, r._1.src.size - r._2)

  /** Per diff entry: scanned (a source object), size-stale, extraneous,
    * same-size.
    */
  private def tally(it: Iterator[Diff]): Array[Long] = {
    def flag(b: Boolean) = if (b) 1L else 0L
    val n = new Array[Long](4)
    it.foreach { d =>
      n(0) += flag(!d.extra); n(1) += flag(d.stale)
      n(2) += flag(d.extra); n(3) += flag(d.same)
    }
    n
  }

  /** One-way prefix sync — the incremental mirror job a pipeline runs
    * between landing zones (rsync's contract at object-store scale):
    * copy every source object that is MISSING at the destination or
    * DIFFERS in size; never re-move bytes for up-to-date objects;
    * optionally delete destination objects with no source counterpart.
    * The reference's four pipelines move whole match-sets
    * unconditionally — this is the operation users script around them.
    *
    * Built ON the existing layers: both sides list via
    * [[FileManifest.scanManaged]], and [[syncRows]] diffs and moves them.
    * Total cost: two listings + data movement proportional to the DIFF,
    * never to the tree. Size inequality is the change test (object
    * stores don't preserve mtime across copies).
    *
    * @param verifyContent rsync's `-c`: same-size pairs are compared
    *   byte for byte ([[contentDigests]]) and re-copied on a difference —
    *   catches the same-size content change the size diff is blind to.
    *   Cost: one read of each side of the matched set only,
    *   range-parallel, stopping at the first difference.
    */
  def sync(
      spark: SparkSession,
      srcBucket: String, srcPrefix: String,
      dstBucket: String, dstPrefix: String,
      deleteExtraneous: Boolean = false,
      verifyContent: Boolean = false): SyncStats = {
    val srcM = FileManifest.scanManaged(spark, srcBucket, srcPrefix)
    // rsync semantics on the destination: a root that doesn't exist
    // yet is an EMPTY mirror (the copy stage creates it), not a config
    // error — only the SOURCE side keeps the typo guard
    val dstM =
      try FileManifest.scanManaged(spark, dstBucket, dstPrefix)
      catch {
        case _: BlueprintError.InvalidBucket => FileManifest.emptyManifest(spark)
      }
    try syncRows(srcM.rows, srcPrefix, dstM.rows, dstBucket, dstPrefix,
      deleteExtraneous, verifyContent)
    finally { srcM.release(); dstM.release() }
  }

  /** [[sync]] of two listings: the diff joins them on the
    * prefix-relative path (the manifests' natural key), and the
    * transfer reuses [[copyRows]]'s retry-idempotent rows.
    *
    * Spark work over an RDD: ONE cogroup and one job that counts the
    * scanned, size-stale, extraneous and same-size objects; the compare,
    * the copy and the delete each run one more job over the diff, reusing
    * the cogroup's shuffle output, and only when they have work: a warm
    * sync moves no bytes and runs no sink. Held listings diff on the
    * driver, and the size rule places the rest: a small sync runs no job.
    */
  private[graft] def syncRows(
      src: Rows[FileEntry], srcPrefix: String,
      dst: Rows[FileEntry], dstBucket: String, dstPrefix: String,
      deleteExtraneous: Boolean, verifyContent: Boolean): SyncStats = {
    val launch: Launch = (r, t) => r.sparkContext.runJob(r, t)
    val sp = graft.core.PathAlg.cleanFolderName(srcPrefix)
    val dp = graft.core.PathAlg.cleanFolderName(dstPrefix)
    // every listed path starts with `pfx/`; a path is unique per
    // listing, so each side has at most one entry per key
    def key(pfx: String)(e: FileEntry): String =
      if (pfx.isEmpty) e.path else e.path.stripPrefix(pfx + "/")
    // the rows to copy: size-stale, or same-size with changed bytes
    def copies(changed: Set[String])(d: Diff): Boolean =
      d.stale || (d.same && changed(d.rp))
    def move(d: Diff): Move =
      Move(d.src.bucket, d.src.path, d.src.size, if (dp.isEmpty) d.rp else s"$dp/${d.rp}", null)
    val diff = src.cogroup(dst)(key(sp), key(dp)).mapPartitions((_, it) => it.map {
      case (rp, s, d) => Diff(rp, s.headOption.orNull, d.headOption.orNull)
    })
    val Seq(scanned, sizeStale, extraneous, sameSize) =
      diff.fold(tally, launch).transpose.map(_.sum)
    // same-size pairs are the ONLY candidates the size diff can miss
    val changed =
      if (!verifyContent || sameSize == 0) Set.empty[String]
      else contentDigests(diff.mapPartitions((_, it) => it.flatMap(ranges)), dstBucket)
    // dest uniqueness holds by construction: rp is unique per side
    val copied =
      if (sizeStale + changed.size == 0) CopyStats(0L, 0L, 0L)
      else copyRows(diff.mapPartitions((_, it) => it.filter(copies(changed)).map(move)),
        Some(dstBucket), deleteSource = false, overwrite = true, checkCollisions = false)
    val deleted =
      if (!deleteExtraneous || extraneous == 0) 0L
      else deleteRows(diff.mapPartitions((_, it) =>
        it.filter(_.extra).map(d => (dstBucket, d.dst.path))))
    // ADVICE r12: upToDate counts exactly the objects the manifest diff
    // deemed fresh; copy-level idempotent-retry skips (planned objects
    // whose bytes turned out to already be at the destination) are
    // surfaced as their own field instead of being folded in as "fresh"
    SyncStats(scanned, copied.transferred, scanned - copied.planned, copied.skipped, deleted)
  }

  /** Driver-only single-file copy for the exact-match access path — no Spark
    * job, mirroring the reference's point-lookup fast path (SURVEY §3.4).
    * `src` is the status [[FileManifest.lookup]] returned, so the source
    * is not statted again. Bytes go through [[copy]]'s kernel.
    */
  def copyOne(
      spark: SparkSession,
      src: FileStatus,
      dstBucket: String,
      dstPath: String,
      deleteSource: Boolean = false): Unit = {
    val c = FileManifest.hadoopConf(spark)
    transfer(src.getPath.getFileSystem(c), src, FileSystem.get(new URI(dstBucket), c),
      new Path(s"$dstBucket/$dstPath"), deleteSource)
  }

  /** Driver-only single-file delete of a status [[FileManifest.lookup]]
    * returned.
    */
  def deleteOne(spark: SparkSession, st: FileStatus): Unit =
    deleteRow(st.getPath.getFileSystem(FileManifest.hadoopConf(spark)), st.getPath)
}
