package graft.operators

import java.io.{EOFException, FileNotFoundException, InputStream}
import java.net.URI
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.reflect.ClassTag
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.{HashPartitioner, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.{CoGroupedRDD, RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.util.SerializableConfiguration
import graft.core.BlueprintError
import graft.sources.{FileEntry, FileManifest}

/** Parallel file copy / move / delete over a manifest, on the driver or
  * on the executors.
  *
  * The reference executes one sequential driver-side loop per pipeline
  * (download_file.py:254-262, upload_file.py:242-253, move_file.py:185-196,
  * remove_file.py:156-158). Here one row function per op ([[copyRow]],
  * [[deleteRow]]) runs in one of two placements, chosen by size:
  *  - a driver-held manifest (`FileManifest.ScannedManifest.held`) of at
  *    most `FileManifest.DriverRows` rows and one compare [[Range]] of
  *    bytes runs its rows on at most `defaultParallelism` driver workers
  *    (`Q.parallel`) — no Spark job, whose scheduling would cost more
  *    than the rows' own store round trips;
  *  - anything larger is partitioned across executors, and each
  *    partition opens its own `FileSystem` handles — the single biggest
  *    designed improvement for the 100 TB goal (SURVEY §4-P1).
  * Bytes stream through one copy kernel ([[copyFile]]), 1 MiB at a
  * time; past the driver bound, no row is materialized on the driver.
  *
  * Retry/speculation safety: per-file work is idempotent — a retried
  * row that finds the source already gone but the destination present
  * (a completed move from the first attempt) skips the file instead of
  * failing. Skips are counted per sink task (or per driver row), so
  * [[CopyStats]] separates planned vs actually-transferred rows.
  *
  * Spark work: each decision — a copy's collision check, a sync's diff
  * count, the content compare — is one plain RDD job, never a Catalyst
  * aggregate that adaptive execution would split into one job per
  * shuffle stage. A sink is one more job over rows the decision already
  * shuffled, so Spark reuses that shuffle's output instead of reading
  * the plan again. The Hadoop conf is broadcast once per operation.
  * For driver-held rows the decisions run on the driver, and only large
  * byte work (the sink, the content compare) runs a job.
  *
  * Closures: the ClosureCleaner parses the bytecode of the class that
  * declares each closure it cleans, milliseconds of driver time apiece.
  * So a caller's planning (filter, naming, keying) runs inside the
  * placement step of [[copyRows]]/[[deleteRows]], one closure per stage,
  * and jobs start through `runJob`, not through RDD actions whose own
  * wrappers would be cleaned too. [[copy]]/[[delete]] adapt a DataFrame
  * of `bucket`, `path` (+ `dest`, optional `destBucket`).
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

  /** Whether driver-held rows run on the driver: at most
    * `FileManifest.DriverRows` rows moving at most one [[Range]] of
    * bytes. A delete moves none.
    */
  private def onDriver(rows: Int, bytes: Long): Boolean =
    rows <= FileManifest.DriverRows && bytes <= Range

  /** One row of a copy: (source bucket, source path, destination path,
    * destination bucket or null).
    */
  type Move = (String, String, String, String)

  /** Plans the rows of `rdd` with `plan` (per input partition, given its
    * index) and places the planned rows evenly on `parts` partitions
    * without a job: row i of input partition p (of nIn) goes to partition
    * (p·parts/nIn + i) mod parts, so single-row inputs land in distinct
    * tasks. `repartition`'s round-robin starts input partition p at a
    * seeded random offset, and those offsets coincide for p = 0 and 1 at
    * every power-of-two count from 2 to 32: two large objects listed in
    * two input partitions would copy one after the other in one task.
    * The placed rows keep their placement key; readers take `_._2`.
    */
  private def spread[A, T: ClassTag](rdd: RDD[A], parts: Int)(
      plan: (Int, Iterator[A]) => Iterator[T]): RDD[(Int, T)] = {
    val nIn = rdd.getNumPartitions
    val keyed = rdd.mapPartitionsWithIndex { (p, it) =>
      val start = p.toLong * parts / nIn
      plan(p, it).zipWithIndex.map { case (r, i) => (((start + i) % parts).toInt, r) }
    }
    // an Int key k in [0, parts) hashes to partition k
    new ShuffledRDD[Int, T, T](keyed, new HashPartitioner(parts))
  }

  /** The session's Hadoop conf, broadcast once per operation: a task
    * reads it from its executor's block manager instead of
    * deserializing the whole conf (hundreds of properties, tens of KB)
    * out of its own closure — the same as Spark's `HadoopRDD`.
    */
  private[graft] def withConf[A](spark: SparkSession)(
      body: Broadcast[SerializableConfiguration] => A): A = {
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(FileManifest.hadoopConf(spark)))
    try body(conf) finally conf.destroy()
  }

  /** Driver-held rows placed on executors: `parallelize` slices them
    * evenly over one partition per row, up to `4 × defaultParallelism`,
    * so two large objects never share a task. Keyed like [[spread]]'s
    * output (the key is the row's index).
    */
  private def placeHeld[T: ClassTag](sc: SparkContext, rows: IndexedSeq[T]): RDD[(Int, T)] =
    sc.parallelize(rows.indices.map(i => (i, rows(i))), math.min(parallelism(sc), rows.length))

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

  /** Verify-before-delete guard: the copy landed when the destination
    * exists with the source's length — one status RPC.
    */
  private def landed(fs: FileSystem, p: Path, len: Long): Boolean =
    try fs.getFileStatus(p).getLen == len
    catch { case _: FileNotFoundException => false }

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
    withConf(df.sparkSession)(copyRows(df.selectExpr(cols: _*).rdd,
      (_, it: Iterator[Row]) => it.map(r => (r.getString(0), r.getString(1),
        r.getString(2), if (hasDestBucket) r.getString(3) else null)),
      destBucketDefault, deleteSource, overwrite, checkCollisions, _))
  }

  /** [[copy]] over the [[Move]] rows that `plan` makes of each partition
    * of `rows`, on the executors.
    *
    * Spark work: the planned rows are placed evenly over
    * `4 × defaultParallelism` partitions ([[spread]]) — one shuffle, whose
    * map side runs `plan`. The collision check is one job over that
    * shuffle's output: the rows are keyed on their effective destination
    * and shuffled once more, sorted, so a repeated destination shows as
    * two neighbours. The sink is a second job over the same placed rows,
    * so Spark skips the map stage the check already ran. Two jobs with
    * the check, one without, and `plan` runs once per row either way.
    * `planned` and `skipped` are the sink tasks' results, which Spark
    * takes once per partition however often a task is retried.
    */
  private[graft] def copyRows[A](
      rows: RDD[A],
      plan: (Int, Iterator[A]) => Iterator[Move],
      destBucketDefault: Option[String],
      deleteSource: Boolean,
      overwrite: Boolean,
      checkCollisions: Boolean,
      conf: Broadcast[SerializableConfiguration]): CopyStats = {
    val sc = rows.sparkContext
    val placed = spread(rows, parallelism(sc))(plan)
    val effective = effectiveBucket(destBucketDefault) _
    if (checkCollisions) {
      // keyed on the EFFECTIVE destination bucket (the same resolution
      // the copy loop applies): rows from different source buckets
      // never falsely collide, and a null row colliding with an
      // explicitly-equal resolved bucket is caught
      val byDest = new ShuffledRDD[(String, String), Null, Null](
        placed.mapPartitions(_.map { case (_, (srcBucket, _, dest, destBucket)) =>
          ((effective(srcBucket, destBucket), dest), null)
        }), new HashPartitioner(sc.defaultParallelism))
        .setKeyOrdering(Ordering[(String, String)])
      // per partition, its keys sorted: the row count, the greatest
      // repeated dest, the last key
      val found = sc.runJob(byDest,
        (_: TaskContext, it: Iterator[((String, String), Null)]) =>
          it.foldLeft((0L, Option.empty[String], null: (String, String))) {
            case ((n, clash, prev), (k, _)) =>
              (n + 1, if (k == prev) greater(clash, Some(k._2)) else clash, k)
          }, byDest.partitions.indices)
      if (found.map(_._1).sum == 0) return CopyStats(0L, 0L, 0L)
      found.map(_._2).reduce(greater).foreach(d => throw BlueprintError.DestinationCollision(d))
    }
    copySink(placed, destBucketDefault, deleteSource, overwrite, conf)
  }

  /** [[copyRows]] over driver-held rows moving `bytes` in all: the
    * collision check is a driver-side group-by (the same greatest
    * repeated destination), and the rows run on the driver
    * ([[onDriver]]) or, past that bound, in one sink job of
    * `min(4 × defaultParallelism, rows)` tasks ([[placeHeld]]).
    */
  private[graft] def copyHeld(
      spark: SparkSession,
      rows: IndexedSeq[Move],
      bytes: Long,
      destBucketDefault: Option[String],
      deleteSource: Boolean,
      overwrite: Boolean,
      checkCollisions: Boolean): CopyStats = {
    val effective = effectiveBucket(destBucketDefault) _
    val moves = rows.map { case (sb, s, d, db) => (sb, s, d, effective(sb, db)) }
    if (checkCollisions)
      moves.groupBy(m => (m._4, m._3)).collect { case ((_, d), ms) if ms.length > 1 => d }
        .maxOption.foreach(d => throw BlueprintError.DestinationCollision(d))
    if (moves.isEmpty) CopyStats(0L, 0L, 0L)
    else if (onDriver(moves.length, bytes)) {
      val row = copyRow(fsResolver(FileManifest.hadoopConf(spark)), deleteSource, overwrite) _
      val skipped = Q.parallel(moves, spark.sparkContext.defaultParallelism) {
        case (sb, s, d, db) => row(sb, s, db, d)
      }.count(identity).toLong
      CopyStats(moves.length, moves.length - skipped, skipped)
    } else withConf(spark)(copySink(placeHeld(spark.sparkContext, moves),
      destBucketDefault, deleteSource, overwrite, _))
  }

  /** A null destination bucket falls back to the default, then to the
    * row's source bucket.
    */
  private def effectiveBucket(default: Option[String])(
      srcBucket: String, destBucket: String): String =
    Option(destBucket).getOrElse(default.getOrElse(srcBucket))

  /** One row of a copy, the body of both placements: copies
    * `srcBucket/src` to `dstBucket/dest` through [[copyFile]] with one
    * source stat, and under `deleteSource` deletes the source once the
    * copy is seen to have landed (verify-then-delete). Returns whether
    * the row was skipped: an existing destination under
    * `overwrite=false`, or a move an earlier attempt completed (source
    * gone, destination present) — an idempotent retry, not a failure.
    */
  private def copyRow(fsFor: String => FileSystem, deleteSource: Boolean,
      overwrite: Boolean)(srcBucket: String, src: String, dstBucket: String,
      dest: String): Boolean = {
    val srcPath = new Path(s"$srcBucket/$src")
    val dstPath = new Path(s"$dstBucket/$dest")
    val srcFs = fsFor(srcBucket)
    val dstFs = fsFor(dstBucket)
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
        copyFile(srcFs, st, dstFs, dstPath)
        if (deleteSource && landed(dstFs, dstPath, st.getLen))
          srcFs.delete(srcPath, false)
        false
    }
  }

  /** The copy sink: one job running [[copyRow]] over the placed rows;
    * each task returns its (planned, skipped) counts.
    */
  private def copySink(
      placed: RDD[(Int, Move)],
      destBucketDefault: Option[String],
      deleteSource: Boolean,
      overwrite: Boolean,
      conf: Broadcast[SerializableConfiguration]): CopyStats = {
    val done = placed.sparkContext.runJob(placed,
      (_: TaskContext, it: Iterator[(Int, Move)]) => {
        val row = copyRow(fsResolver(conf.value.value), deleteSource, overwrite) _
        val effective = effectiveBucket(destBucketDefault) _
        var planned = 0L
        var skipped = 0L
        it.foreach { case (_, (srcBucket, src, dest, destBucket)) =>
          planned += 1
          if (row(srcBucket, src, effective(srcBucket, destBucket), dest)) skipped += 1
        }
        (planned, skipped)
      }, placed.partitions.indices)
    val (planned, skipped) = (done.map(_._1).sum, done.map(_._2).sum)
    CopyStats(planned, planned - skipped, skipped)
  }

  private def greater(a: Option[String], b: Option[String]): Option[String] =
    Ordering[Option[String]].max(a, b)

  /** Delete each manifest row (remove_file.py:117-123, executor-parallel).
    * Idempotent under retry: deleting an already-deleted file is a no-op.
    * Returns the planned row count. A DataFrame adapter of [[deleteRows]].
    */
  def delete(df: DataFrame): Long =
    withConf(df.sparkSession)(deleteRows(df.selectExpr("bucket", "path").rdd,
      (_, it: Iterator[Row]) => it.map(r => (r.getString(0), r.getString(1))), _))

  /** [[delete]] over the (bucket, path) rows that `plan` makes of each
    * partition of `rows`, on the executors: one Spark job, whose tasks
    * return the rows they deleted — no count job first.
    */
  private[graft] def deleteRows[A](
      rows: RDD[A],
      plan: (Int, Iterator[A]) => Iterator[(String, String)],
      conf: Broadcast[SerializableConfiguration]): Long =
    deleteSink(spread(rows, parallelism(rows.sparkContext))(plan), conf)

  /** [[deleteRows]] over driver-held rows: on the driver up to
    * `FileManifest.DriverRows` rows, else one sink job of
    * `min(4 × defaultParallelism, rows)` tasks.
    */
  private[graft] def deleteHeld(spark: SparkSession, rows: IndexedSeq[(String, String)]): Long =
    if (rows.isEmpty) 0L
    else if (onDriver(rows.length, 0L)) {
      val row = deleteRow(fsResolver(FileManifest.hadoopConf(spark))) _
      Q.parallel(rows, spark.sparkContext.defaultParallelism) { case (b, p) => row(b, p) }
      rows.length.toLong
    } else withConf(spark)(deleteSink(placeHeld(spark.sparkContext, rows), _))

  /** One row of a delete, the body of both placements. */
  private def deleteRow(fsFor: String => FileSystem)(bucket: String, path: String): Unit =
    fsFor(bucket).delete(new Path(s"$bucket/$path"), false)

  private def deleteSink(placed: RDD[(Int, (String, String))],
      conf: Broadcast[SerializableConfiguration]): Long =
    placed.sparkContext.runJob(placed,
      (_: TaskContext, it: Iterator[(Int, (String, String))]) => {
        val row = deleteRow(fsResolver(conf.value.value)) _
        it.map { case (_, (bucket, path)) => row(bucket, path); 1L }.sum
      }, placed.partitions.indices).sum

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
    * compared one buffer (`ba`, `bb`: 1 MiB each) at a time, stopping at
    * the first differing buffer. A side that ends early differs.
    */
  private def rangeDiffers(
      fa: FileSystem, a: Path, fb: FileSystem, b: Path, off: Long, len: Long,
      ba: Array[Byte], bb: Array[Byte]): Boolean = {
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
    try {
      val ia = openAt(fa, a, off, Buf)
      try {
        val ib = openAt(fb, b, off, Buf)
        try {
          var pos = 0L
          var diff = false
          while (!diff && pos < len) {
            val n = math.min(Buf.toLong, len - pos).toInt
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
    * the same-size pairs whose bytes differ. `placed` holds each
    * non-empty same-size pair cut into aligned [[Range]]-byte ranges
    * ([[ranges]]), spread evenly over tasks; a task opens both sides at
    * its range's offset and compares them 1 MiB at a time, stopping at
    * the first differing MiB. So each side is read at most once, by many
    * tasks in parallel, in one Spark job, and a large object is no longer
    * verified by one task reading serially. A side that ends early
    * counts as changed (it is re-copied). Zero-length pairs are equal and
    * never opened. The changed keys, one per object to re-copy, are
    * returned to the driver.
    */
  private def contentDigests(
      placed: RDD[(Int, (Diff, Long))], dstBucket: String,
      conf: Broadcast[SerializableConfiguration]): Set[String] =
    placed.sparkContext.runJob(placed,
      (_: TaskContext, it: Iterator[(Int, (Diff, Long))]) => {
        val fsFor = fsResolver(conf.value.value)
        val (ba, bb) = (new Array[Byte](Buf), new Array[Byte](Buf))
        it.filter { case (_, (d, off)) =>
          val (s, t) = (d.src, d.dst)
          rangeDiffers(fsFor(s.bucket), new Path(s"${s.bucket}/${s.path}"),
            fsFor(dstBucket), new Path(s"$dstBucket/${t.path}"),
            off, math.min(Range, s.size - off), ba, bb)
        }.map(_._2._1.rp).toArray
      }, placed.partitions.indices).iterator.flatten.toSet

  /** The compare ranges of a diff entry: one per [[Range]] bytes of a
    * same-size pair, none otherwise.
    */
  private def ranges(d: Diff): Iterator[(Diff, Long)] =
    if (!d.same) Iterator.empty
    else (0L until d.src.size by Range).iterator.map(off => (d, off))

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
    * [[FileManifest.scanManaged]], the diff joins the two listings on
    * the prefix-relative path (the manifests' natural key), and the
    * transfer reuses [[copyRows]]'s retry-idempotent rows. Total cost:
    * two listings + data movement proportional to the DIFF, never to the
    * tree. Size inequality is the change test (object stores don't
    * preserve mtime across copies).
    *
    * Spark work: when both listings are held on the driver, the diff
    * and its counts are a driver-side join, and the copy and delete run
    * on the driver or in one sink job by their size ([[copyHeld]],
    * [[deleteHeld]]); a small sync runs no job at all. Otherwise the
    * listings' jobs, then ONE cogroup and one job that counts the
    * scanned, size-stale, extraneous and same-size objects; the copy and
    * delete each run one more job over the diff, reusing the cogroup's
    * shuffle output, and only when they have work: a warm sync moves no
    * bytes and runs no sink.
    *
    * @param verifyContent rsync's `-c`: same-size pairs are compared
    *   byte for byte executor-side ([[contentDigests]]) and re-copied on
    *   a difference — catches the same-size content change the size
    *   diff is blind to. Cost: one read of each side of the matched set
    *   only, range-parallel, stopping at the first difference, in one job
    *   in either placement.
    */
  def sync(
      spark: SparkSession,
      srcBucket: String, srcPrefix: String,
      dstBucket: String, dstPrefix: String,
      deleteExtraneous: Boolean = false,
      verifyContent: Boolean = false): SyncStats = {
    val sc = spark.sparkContext
    val srcM = FileManifest.scanManaged(spark, srcBucket, srcPrefix)
    // rsync semantics on the destination: a root that doesn't exist
    // yet is an EMPTY mirror (the copy stage creates it), not a config
    // error — only the SOURCE side keeps the typo guard
    val dstM =
      try FileManifest.scanManaged(spark, dstBucket, dstPrefix)
      catch {
        case _: BlueprintError.InvalidBucket => FileManifest.emptyManifest(spark)
      }
    try {
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
        (d.src.bucket, d.src.path, if (dp.isEmpty) d.rp else s"$dp/${d.rp}", null)
      // dest uniqueness holds by construction: rp is unique per side
      val (scanned, copied, deleted) = (srcM.held, dstM.held) match {
        case (Some(srcs), Some(dsts)) =>
          val srcBy = srcs.map(e => key(sp)(e) -> e).toMap
          val dstBy = dsts.map(e => key(dp)(e) -> e).toMap
          val diff = (srcBy.keySet ++ dstBy.keySet).toIndexedSeq.map(rp =>
            Diff(rp, srcBy.getOrElse(rp, null), dstBy.getOrElse(rp, null)))
          val Array(scanned, _, extraneous, sameSize) = tally(diff.iterator)
          val compared = if (verifyContent && sameSize > 0) diff.flatMap(ranges) else Vector.empty
          val changed =
            if (compared.isEmpty) Set.empty[String]
            else withConf(spark)(contentDigests(placeHeld(sc, compared), dstBucket, _))
          val todo = diff.filter(copies(changed))
          val stats = copyHeld(spark, todo.map(move), todo.map(_.src.size).sum,
            Some(dstBucket), deleteSource = false, overwrite = true,
            checkCollisions = false)
          val deleted =
            if (!deleteExtraneous || extraneous == 0) 0L
            else deleteHeld(spark, diff.filter(_.extra).map(d => (dstBucket, d.dst.path)))
          (scanned, stats, deleted)
        case _ => withConf(spark) { conf =>
          def keyed(m: FileManifest.ScannedManifest, pfx: String) =
            m.rdd.mapPartitions(_.map(e => (key(pfx)(e), e)))
          val diff = new CoGroupedRDD[String](Seq(keyed(srcM, sp), keyed(dstM, dp)),
            new HashPartitioner(sc.defaultParallelism)).mapPartitions(_.map {
              case (rp, Array(s, d)) =>
                def one(side: Iterable[_]) =
                  side.headOption.getOrElse(null).asInstanceOf[FileEntry]
                Diff(rp, one(s), one(d))
            })
          val Array(scanned, sizeStale, extraneous, sameSize) = sc.runJob(diff,
            (_: TaskContext, it: Iterator[Diff]) => tally(it),
            diff.partitions.indices).transpose.map(_.sum)
          // same-size pairs are the ONLY candidates the size diff can miss
          val changed =
            if (!verifyContent || sameSize == 0) Set.empty[String]
            else contentDigests(spread(diff, parallelism(sc))((_, it) =>
              it.flatMap(ranges)), dstBucket, conf)
          val stats =
            if (sizeStale + changed.size == 0) CopyStats(0L, 0L, 0L)
            else copyRows(diff, (_, it: Iterator[Diff]) =>
              it.filter(copies(changed)).map(move),
              Some(dstBucket), deleteSource = false, overwrite = true,
              checkCollisions = false, conf)
          val deleted =
            if (!deleteExtraneous || extraneous == 0) 0L
            else deleteRows(diff, (_, it: Iterator[Diff]) =>
              it.filter(_.extra).map(d => (dstBucket, d.dst.path)), conf)
          (scanned, stats, deleted)
        }
      }
      // ADVICE r12: upToDate counts exactly the objects the
      // manifest diff deemed fresh; copy-level idempotent-retry
      // skips (planned objects whose bytes turned out to already be
      // at the destination) are surfaced as their own field instead
      // of being folded in as "fresh"
      SyncStats(scanned, copied.transferred,
        scanned - copied.planned, copied.skipped, deleted)
    } finally { srcM.release(); dstM.release() }
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
    val dst = new Path(s"$dstBucket/$dstPath")
    val srcFs = src.getPath.getFileSystem(c)
    val dstFs = FileSystem.get(new URI(dstBucket), c)
    copyFile(srcFs, src, dstFs, dst)
    if (deleteSource && landed(dstFs, dst, src.getLen))
      srcFs.delete(src.getPath, false)
  }

  /** Driver-only single-file delete of a status [[FileManifest.lookup]]
    * returned.
    */
  def deleteOne(spark: SparkSession, st: FileStatus): Unit =
    st.getPath.getFileSystem(FileManifest.hadoopConf(spark))
      .delete(st.getPath, false)
}
