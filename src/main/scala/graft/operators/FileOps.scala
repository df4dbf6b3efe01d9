package graft.operators

import java.io.{EOFException, FileNotFoundException, InputStream}
import java.net.URI
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, StandardCopyOption}
import scala.reflect.ClassTag
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import graft.core.BlueprintError
import graft.sources.FileManifest

/** Executor-parallel file copy / move / delete over a manifest.
  *
  * The reference executes one sequential driver-side loop per pipeline
  * (download_file.py:254-262, upload_file.py:242-253, move_file.py:185-196,
  * remove_file.py:156-158); here the manifest rows are partitioned across
  * executors and each partition opens its own `FileSystem` handles — the
  * single biggest designed improvement for the 100 TB goal (SURVEY §4-P1).
  * Bytes stream through one copy kernel ([[copyFile]]) on the executor,
  * 1 MiB at a time; nothing is ever materialized on the driver.
  *
  * Retry/speculation safety: per-file work is idempotent — a retried
  * partition that finds the source already gone but the destination
  * present (a completed move from the first attempt) skips the file
  * instead of failing. Skips are counted via an action-scoped
  * accumulator (exactly-once for actions) so [[CopyStats]] separates
  * planned vs actually-transferred rows.
  *
  * Expected columns: `bucket`, `path` (+ `dest` for copy/move; `destBucket`
  * optional — defaults to the source bucket).
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

  /** Upper bound on copy tasks. One file per task would drown in task
    * overhead for millions of small files; fewer tasks than cores wastes
    * executors. `min(rows, 4 × defaultParallelism)` keeps partitions
    * balanced under skewed file sizes at any manifest size. A caller
    * that has not counted its rows passes `Long.MaxValue`.
    */
  private def parallelism(spark: SparkSession, rows: Long): Int =
    math.max(1, math.min(rows, 4L * spark.sparkContext.defaultParallelism).toInt)

  /** Places `rdd`'s rows evenly on `parts` partitions without a job:
    * row i of input partition p (of nIn) goes to partition
    * (p·parts/nIn + i) mod parts, so single-row inputs land in distinct
    * tasks. `repartition`'s round-robin starts input partition p at a
    * seeded random offset, and those offsets coincide for p = 0 and 1 at
    * every power-of-two count from 2 to 32: two large objects listed in
    * two input partitions would copy one after the other in one task.
    */
  private def spread[T: ClassTag](rdd: RDD[T], parts: Int): RDD[T] = {
    val nIn = rdd.getNumPartitions
    val keyed = rdd.mapPartitionsWithIndex { (p, it) =>
      val start = p.toLong * parts / nIn
      it.zipWithIndex.map { case (r, i) => (((start + i) % parts).toInt, r) }
    }
    // an Int key k in [0, parts) hashes to partition k
    keyed.partitionBy(new HashPartitioner(parts)).values
  }

  /** Per-partition `FileSystem` resolver: `FileSystem.get` goes through a
    * synchronized cache + UGI lookup, which serializes copy threads on
    * tiny files, so each bucket is resolved once per partition.
    */
  private def fsResolver(c: Configuration): String => FileSystem = {
    val cache = scala.collection.mutable.HashMap.empty[String, FileSystem]
    b => cache.getOrElseUpdate(b, FileSystem.get(new URI(b), c))
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
    * Spark work: at most one planning aggregate (the collision check,
    * which also counts the rows to size the sink) and one sink job,
    * whose rows are placed evenly over its partitions ([[spread]]).
    * `planned` and `skipped` are counted by action-scoped accumulators
    * in the sink (exactly-once for actions). With the check on, the
    * plan is evaluated twice — by the check and by the sink — so `df`
    * must be deterministic: the same rows on every evaluation. The
    * Blueprints plans are, because they read the persisted listing
    * waves, which list each directory once.
    *
    * @param checkCollisions pass false only when the caller proves dest
    *   uniqueness by construction (e.g. Always-enumerated explicit
    *   names, or sync's prefix-relative keys) — skips the planning
    *   aggregate; the sink then runs at `4 × defaultParallelism`
    *   partitions instead of being sized from the row count.
    */
  def copy(
      df: DataFrame,
      destBucketDefault: Option[String] = None,
      deleteSource: Boolean = false,
      overwrite: Boolean = true,
      checkCollisions: Boolean = true): CopyStats = {
    val spark = df.sparkSession
    val conf = new SerializableConfiguration(FileManifest.hadoopConf(spark))
    val hasDestBucket = df.columns.contains("destBucket")
    val cols = Seq("bucket", "path", "dest") ++
      (if (hasDestBucket) Seq("destBucket") else Nil)
    val rows = df.selectExpr(cols: _*)
    val parts =
      if (!checkCollisions) parallelism(spark, Long.MaxValue)
      else {
        // group by the EFFECTIVE destination bucket (the same resolution
        // the copy loop applies): a null destBucket falls back to the
        // default, then to the row's source bucket — so rows from
        // different source buckets never falsely collide, and a null row
        // colliding with an explicitly-equal resolved bucket is caught
        val effDestBucket = {
          val default = destBucketDefault.map(lit).getOrElse(col("bucket"))
          if (hasDestBucket) coalesce(col("destBucket"), default) else default
        }
        // one aggregate: row count, worst multiplicity, one colliding dest
        val plan = rows.groupBy(effDestBucket.as("effBucket"), col("dest"))
          .agg(count(lit(1)).as("w"))
          .agg(sum("w"), max("w"), max(when(col("w") > 1, col("dest"))))
          .head()
        if (plan.isNullAt(0)) return CopyStats(0L, 0L, 0L)
        if (plan.getLong(1) > 1)
          throw BlueprintError.DestinationCollision(plan.getString(2))
        parallelism(spark, plan.getLong(0))
      }
    // foreachPartition is an action, so accumulator updates from
    // retried/speculative tasks are applied exactly once
    val plannedAcc = spark.sparkContext.longAccumulator("graft.copy.planned")
    val skippedAcc = spark.sparkContext.longAccumulator("graft.copy.skipped")
    val planRows = rows.rdd.map(r => (r.getString(0), r.getString(1),
      r.getString(2), if (hasDestBucket) r.getString(3) else null))
    spread(planRows, parts).foreachPartition { it =>
      val fsFor = fsResolver(conf.value)
      it.foreach { case (srcBucket, src, dest, destBucket) =>
        plannedAcc.add(1L)
        val srcPath = new Path(s"$srcBucket/$src")
        val dstBucket = Option(destBucket)
          .getOrElse(destBucketDefault.getOrElse(srcBucket))
        val dstPath = new Path(s"$dstBucket/$dest")
        val srcFs = fsFor(srcBucket)
        val dstFs = fsFor(dstBucket)
        val srcStatus =
          try Some(srcFs.getFileStatus(srcPath))
          catch { case _: FileNotFoundException => None }
        srcStatus match {
          case None =>
            // idempotent retry: a completed move from a previous attempt
            // leaves dest present and source gone — skip, don't fail
            if (!(deleteSource && dstFs.exists(dstPath)))
              throw BlueprintError.FileNotFound(srcPath.toString)
            skippedAcc.add(1L)
          case Some(_) if !overwrite && dstFs.exists(dstPath) =>
            // overwrite=false: an existing destination wins; skip
            skippedAcc.add(1L)
          case Some(st) =>
            copyFile(srcFs, st, dstFs, dstPath)
            // verify-then-delete: never drop the source unless the copy landed
            if (deleteSource && landed(dstFs, dstPath, st.getLen))
              srcFs.delete(srcPath, false)
        }
      }
    }
    val planned = plannedAcc.value
    CopyStats(planned, planned - skippedAcc.value, skippedAcc.value)
  }

  /** Delete each manifest row (remove_file.py:117-123, executor-parallel).
    * Idempotent under retry: deleting an already-deleted file is a no-op.
    * Returns the planned row count, counted by an action-scoped
    * accumulator in the sink — one Spark action, no count job first.
    */
  def delete(df: DataFrame): Long = {
    val spark = df.sparkSession
    val conf = new SerializableConfiguration(FileManifest.hadoopConf(spark))
    val plannedAcc = spark.sparkContext.longAccumulator("graft.delete.planned")
    val keys = df.selectExpr("bucket", "path").rdd
      .map(r => (r.getString(0), r.getString(1)))
    spread(keys, parallelism(spark, Long.MaxValue)).foreachPartition { it =>
      val fsFor = fsResolver(conf.value)
      it.foreach { case (bucket, path) =>
        plannedAcc.add(1L)
        fsFor(bucket).delete(new Path(s"$bucket/$path"), false)
      }
    }
    plannedAcc.value
  }

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

  /** rsync's `-c` at object-store scale: the relative paths (`rp`) of
    * the same-size pairs in `same` (`rp`, source `bucket`/`path`,
    * destination `dpath` under `dstBucket`, `size`) whose bytes differ.
    * Each non-empty pair is cut into aligned [[Range]]-byte ranges,
    * spread evenly over `4 × defaultParallelism` tasks; a task opens
    * both sides at its range's offset and compares them 1 MiB at a
    * time, stopping at the first differing MiB. So each side is read at
    * most once, by many tasks in parallel, in one Spark job, and a
    * large object is no longer verified by one task reading serially.
    * A side that ends early counts as changed (it is re-copied).
    * Zero-length pairs are equal and never opened. The changed keys,
    * one per object to re-copy, are collected to the driver.
    */
  private def contentDigests(same: DataFrame, dstBucket: String): Array[String] = {
    val spark = same.sparkSession
    val conf = new SerializableConfiguration(FileManifest.hadoopConf(spark))
    val ranges = same.filter(col("size") > 0)
      .select(col("rp"), col("bucket"), col("path"), col("dpath"), col("size"),
        explode(sequence(lit(0L), col("size") - 1, lit(Range))).as("off"))
      .rdd.map { r =>
        val off = r.getLong(5)
        (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
          off, math.min(Range, r.getLong(4) - off))
      }
    spread(ranges, parallelism(spark, Long.MaxValue)).mapPartitions { it =>
      val fsFor = fsResolver(conf.value)
      val (ba, bb) = (new Array[Byte](Buf), new Array[Byte](Buf))
      it.filter { case (_, bucket, path, dpath, off, len) =>
        rangeDiffers(fsFor(bucket), new Path(s"$bucket/$path"),
          fsFor(dstBucket), new Path(s"$dstBucket/$dpath"), off, len, ba, bb)
      }.map(_._1)
    }.collect().distinct
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
    * [[FileManifest.scanManaged]] (executor BFS), the diff is ONE
    * full-outer join on the prefix-relative path (the manifests'
    * natural key), and the transfer reuses [[copy]]'s
    * executor-parallel, retry-idempotent path. One aggregate over the
    * diff counts the scanned, size-stale, extraneous and same-size
    * objects; a copy or delete with nothing to do is not started, so a
    * warm sync moves no bytes and runs no sink. Total cost: two
    * listings + data movement proportional to the DIFF, never to the
    * tree. Size inequality is the change test (object stores don't
    * preserve mtime across copies).
    *
    * @param verifyContent rsync's `-c`: same-size pairs are compared
    *   byte for byte executor-side ([[contentDigests]]) and re-copied on
    *   a difference — catches the same-size content change the size
    *   diff is blind to. Cost: one read of each side of the matched set
    *   only, range-parallel, stopping at the first difference.
    */
  def sync(
      spark: SparkSession,
      srcBucket: String, srcPrefix: String,
      dstBucket: String, dstPrefix: String,
      deleteExtraneous: Boolean = false,
      verifyContent: Boolean = false): SyncStats = {
    import org.apache.spark.sql.Column
    import spark.implicits._
    val srcM = FileManifest.scanManaged(spark, srcBucket, srcPrefix)
    // rsync semantics on the destination: a root that doesn't exist
    // yet is an EMPTY mirror (the copy stage creates it), not a config
    // error — only the SOURCE side keeps the typo guard
    val dstM =
      try FileManifest.scanManaged(spark, dstBucket, dstPrefix)
      catch {
        case _: BlueprintError.InvalidBucket =>
          FileManifest.ScannedManifest(
            spark.emptyDataset[graft.sources.FileEntry], Nil)
      }
    try {
      val sp = graft.core.PathAlg.cleanFolderName(srcPrefix)
      val dp = graft.core.PathAlg.cleanFolderName(dstPrefix)
      def rel(pfx: String, p: Column): Column =
        if (pfx.isEmpty) p
        else regexp_replace(p,
          "^" + java.util.regex.Pattern.quote(pfx + "/"), "")
      val src = srcM.entries.toDF().select(col("bucket"), col("path"),
        rel(sp, col("path")).as("rp"), col("size"))
      val dst = dstM.entries.toDF().select(rel(dp, col("path")).as("rp"),
        col("size").as("dsize"), col("path").as("dpath"))
      val joined = src.join(dst, Seq("rp"), "full_outer").cache()
      try {
        val isStale = col("path").isNotNull &&
          (col("dsize").isNull || col("dsize") =!= col("size"))
        val isSame = col("path").isNotNull && col("dsize") === col("size")
        val isExtra = col("path").isNull
        val n = joined.agg(count(col("path")), count(when(isStale, 1)),
          count(when(isExtra, 1)), count(when(isSame, 1))).head()
        val (scanned, sizeStale, extraneous, sameSize) =
          (n.getLong(0), n.getLong(1), n.getLong(2), n.getLong(3))
        // same-size pairs are the ONLY candidates the size diff can miss
        val changed =
          if (!verifyContent || sameSize == 0) Array.empty[String]
          else contentDigests(joined.filter(isSame), dstBucket)
        val sizeDiff = joined.filter(isStale)
        val stale =
          if (changed.isEmpty) sizeDiff
          else sizeDiff.unionByName(joined.filter(isSame)
            .join(changed.toSeq.toDF("rp"), Seq("rp"), "left_semi"))
        val toCopy = stale
          .select(col("bucket"), col("path"),
            (if (dp.isEmpty) col("rp")
             else concat(lit(dp + "/"), col("rp"))).as("dest"))
        // dest uniqueness holds by construction: rp is unique per side
        val stats =
          if (sizeStale + changed.length == 0) CopyStats(0L, 0L, 0L)
          else copy(toCopy, Some(dstBucket), checkCollisions = false)
        val deleted =
          if (!deleteExtraneous || extraneous == 0) 0L
          else delete(joined.filter(isExtra)
            .select(lit(dstBucket).as("bucket"), col("dpath").as("path")))
        // ADVICE r12: upToDate counts exactly the objects the
        // manifest diff deemed fresh; copy-level idempotent-retry
        // skips (planned objects whose bytes turned out to already be
        // at the destination) are surfaced as their own field instead
        // of being folded in as "fresh"
        SyncStats(scanned, stats.transferred,
          scanned - stats.planned, stats.skipped, deleted)
      } finally joined.unpersist()
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
