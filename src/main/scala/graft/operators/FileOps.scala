package graft.operators

import java.io.FileNotFoundException
import java.net.URI
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
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
  * Bytes stream through `FileUtil.copy` on the executor; nothing is ever
  * materialized on the driver.
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

  /** Upper bound on copy tasks. One file per task would drown in task
    * overhead for millions of small files; fewer tasks than cores wastes
    * executors. `min(rows, 4 × defaultParallelism)` keeps partitions
    * balanced under skewed file sizes at any manifest size. A caller
    * that has not counted its rows passes `Long.MaxValue`.
    */
  private def parallelism(spark: SparkSession, rows: Long): Int =
    math.max(1, math.min(rows, 4L * spark.sparkContext.defaultParallelism).toInt)

  private def isLocal(fs: FileSystem): Boolean = fs.getScheme == "file"

  private def nioPath(p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(p.toUri.getPath)

  /** One file copy. Local→local takes a `java.nio` fast path:
    * Hadoop's checksum-wrapped local filesystem costs ~4 ms per file
    * (permission handling falls back to forked `chmod` without
    * native-hadoop, ~100× slower than nio) — ruinous for
    * many-small-files manifests. Non-local schemes (gs://, hdfs://)
    * stream through `FileUtil.copy`, handed the source's status so it
    * does not stat the source again. No `mkdirs` precedes the copy:
    * `create` makes the destination's parents (Hadoop's `create`
    * contract), so an explicit one is a wasted store RPC per object.
    */
  private def copyFile(
      srcFs: FileSystem, src: FileStatus,
      dstFs: FileSystem, dstPath: Path,
      c: org.apache.hadoop.conf.Configuration): Unit =
    if (isLocal(srcFs) && isLocal(dstFs)) {
      val d = nioPath(dstPath)
      java.nio.file.Files.createDirectories(d.getParent)
      java.nio.file.Files.copy(nioPath(src.getPath), d,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else FileUtil.copy(srcFs, src, dstFs, dstPath, false, true, c)

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
    * which also counts the rows to size the sink) and one sink action.
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
    rows.repartition(parts).foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        val c = conf.value
        // resolve each FileSystem once per partition, not per row:
        // FileSystem.get goes through a synchronized cache + UGI
        // lookup, which serializes 32 copy threads on tiny files
        val fsCache = scala.collection.mutable.HashMap.empty[String, FileSystem]
        def fsFor(bucket: String): FileSystem =
          fsCache.getOrElseUpdate(bucket, {
            val fs = FileSystem.get(new URI(bucket), c)
            // no .crc sidecars: object stores don't have them, and the
            // reference's byte copy writes exactly one object per file
            fs.setWriteChecksum(false)
            fs
          })
        it.foreach { r =>
          plannedAcc.add(1L)
          val srcBucket = r.getString(0)
          val srcPath = new Path(s"$srcBucket/${r.getString(1)}")
          val dstBucket =
            if (hasDestBucket && !r.isNullAt(3)) r.getString(3)
            else destBucketDefault.getOrElse(srcBucket)
          val dstPath = new Path(s"$dstBucket/${r.getString(2)}")
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
              copyFile(srcFs, st, dstFs, dstPath, c)
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
    df.selectExpr("bucket", "path")
      .repartition(parallelism(spark, Long.MaxValue)).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          val c = conf.value
          val fsCache = scala.collection.mutable.HashMap.empty[String, FileSystem]
          it.foreach { r =>
            plannedAcc.add(1L)
            val fs = fsCache.getOrElseUpdate(r.getString(0),
              FileSystem.get(new URI(r.getString(0)), c))
            fs.delete(new Path(s"${r.getString(0)}/${r.getString(1)}"), false)
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

  /** Executor-side md5 content digests for manifest rows: one stream
    * read per file (128 KiB buffer), FileSystem resolved once per
    * (partition, bucket). Returns (rp, digest) keyed by the caller's
    * relative-path column. Cost is linear in the digested BYTES — the
    * price `rsync -c` documents — so [[sync]] only routes the
    * same-size candidate set through it, never the whole tree. `rows`
    * is the caller's count of `df`, which sizes the partitions.
    */
  private def contentDigests(df: DataFrame, rows: Long): DataFrame = {
    val spark = df.sparkSession
    val conf = new SerializableConfiguration(FileManifest.hadoopConf(spark))
    import spark.implicits._
    df.select("rp", "bucket", "path").as[(String, String, String)]
      .repartition(parallelism(spark, rows))
      .mapPartitions { it =>
        val c = conf.value
        val fsCache = scala.collection.mutable.HashMap.empty[String, FileSystem]
        def fsFor(bucket: String): FileSystem =
          fsCache.getOrElseUpdate(bucket, FileSystem.get(new URI(bucket), c))
        it.map { case (rp, b, p) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val in = fsFor(b).open(new Path(s"$b/$p"))
          try {
            val buf = new Array[Byte](131072)
            // loop to -1, not 0: an InputStream may legally return 0
            // bytes without EOF; treating 0 as EOF would truncate the
            // digest and corrupt the verifyContent decision (ADVICE r15)
            var r = in.read(buf)
            while (r != -1) {
              if (r > 0) md.update(buf, 0, r)
              r = in.read(buf)
            }
          } finally in.close()
          (rp, md.digest().map("%02x".format(_)).mkString)
        }
      }
      .toDF("rp", "digest")
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
    * executor-parallel, retry-idempotent path. Total cost: two
    * listings + data movement proportional to the DIFF, never to the
    * tree. Size inequality is the change test (object stores don't
    * preserve mtime across copies); a size-equal content change needs
    * a digest layer a caller can stack on the same plan.
    *
    * @param verifyContent rsync's `-c`: same-size pairs are digest-
    *   compared executor-side and re-copied on mismatch — catches the
    *   same-size content change the size diff is blind to, at the
    *   documented linear-read cost over the matched set only.
    */
  def sync(
      spark: SparkSession,
      srcBucket: String, srcPrefix: String,
      dstBucket: String, dstPrefix: String,
      deleteExtraneous: Boolean = false,
      verifyContent: Boolean = false): SyncStats = {
    import org.apache.spark.sql.Column
    val srcM = FileManifest.scanManaged(spark, srcBucket, srcPrefix)
    // rsync semantics on the destination: a root that doesn't exist
    // yet is an EMPTY mirror (the copy stage creates it), not a config
    // error — only the SOURCE side keeps the typo guard
    val dstM =
      try FileManifest.scanManaged(spark, dstBucket, dstPrefix)
      catch {
        case _: BlueprintError.InvalidBucket =>
          import spark.implicits._
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
        val scanned = joined.filter(col("path").isNotNull).count()
        val sizeDiff = joined.filter(col("path").isNotNull &&
          (col("dsize").isNull || col("dsize") =!= col("size")))
        val stale =
          if (!verifyContent) sizeDiff
          else {
            // same-size pairs are the ONLY candidates the size diff
            // can miss; digest both sides and union the mismatches
            val same = joined.filter(col("path").isNotNull &&
              col("dsize") === col("size"))
            val sameN = same.count()
            val srcDig = contentDigests(
              same.select(col("rp"), col("bucket"), col("path")), sameN)
            val dstDig = contentDigests(
              same.select(col("rp"), lit(dstBucket).as("bucket"),
                col("dpath").as("path")), sameN)
              .withColumnRenamed("digest", "ddigest")
            val changed = srcDig.join(dstDig, "rp")
              .filter(col("digest") =!= col("ddigest")).select("rp")
            sizeDiff.unionByName(same.join(changed, "rp")
              .select(sizeDiff.columns.map(col): _*))
          }
        val toCopy = stale
          .select(col("bucket"), col("path"),
            (if (dp.isEmpty) col("rp")
             else concat(lit(dp + "/"), col("rp"))).as("dest"))
        // dest uniqueness holds by construction: rp is unique per side
        val stats = copy(toCopy, Some(dstBucket), checkCollisions = false)
        val deleted =
          if (!deleteExtraneous) 0L
          else delete(joined.filter(col("path").isNull)
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
    * is not statted again.
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
    dstFs.setWriteChecksum(false)
    copyFile(srcFs, src, dstFs, dst, c)
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
