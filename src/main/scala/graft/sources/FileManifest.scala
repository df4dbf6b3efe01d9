package graft.sources

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import graft.core.{BlueprintError, EnumeratePolicy, PathAlg}

/** One object in a bucket-like store. `path` is the bucket-relative object
  * name (the reference's `blob.name`), `name` its basename.
  */
final case class FileEntry(
    bucket: String,
    path: String,
    name: String,
    size: Long,
    modificationTime: java.sql.Timestamp)

/** File-manifest layer: listings as DataFrames.
  *
  * Replaces the reference's driver-side blob listing
  * (download_file.py:147-152 `find_google_cloud_storage_file_names`) with a
  * manifest `Dataset[FileEntry]` over Hadoop `FileSystem`, so that
  * filters/projections/sinks compose as Spark plans and the copy/delete
  * actions run executor-parallel (SURVEY §4-P1). Prefix pushdown (the
  * reference's server-side `list_blobs(prefix=…)`, download_file.py:248-249)
  * maps to scoping the listing root to `bucket/prefix`.
  *
  * Scale (100 TB / 10^8 objects): the driver lists only the FIRST level
  * under the prefix; deeper levels are listed in BFS waves on the
  * executors — each wave re-parallelizes the dirs the previous wave
  * discovered, so a skewed tree (one top-level dir hiding the whole
  * corpus) still fans out to the cluster instead of serializing on one
  * task. Once a level is wider than 4× the parallelism, remaining
  * subtrees are walked recursively per dir (the fan-out is already
  * there). The driver never materializes the deep listing; its memory
  * is bounded by the widest level's dir NAMES, not the object count —
  * the same contract as Spark's InMemoryFileIndex parallel discovery.
  */
object FileManifest {

  /** A scanned manifest plus an explicit release hook for the
    * executor-persisted BFS wave RDDs backing it. Without the hook,
    * reclamation waits on GC + ContextCleaner noticing the manifest
    * became unreachable — a long-lived manifest reference pins the
    * full file-entry cache in executor memory/disk, substantial at the
    * 10^8-object scale the scan targets (ADVICE r8). Callers that know
    * when the manifest is consumed (every Blueprints pipeline does:
    * the sink action is the last read) call [[release]] right after;
    * `release` is idempotent and safe even if the entries Dataset is
    * re-read afterwards (the listing lineage simply re-executes).
    */
  final case class ScannedManifest(
      entries: Dataset[FileEntry],
      private val waves: Seq[RDD[_]],
      private val listed: Seq[RDD[FileEntry]]) {
    def release(): Unit = waves.foreach(_.unpersist(blocking = false))

    /** The same entries as a plain RDD — the shallow files plus the wave
      * listings, with no Catalyst plan in between — for callers that
      * key and shuffle them in Scala (`FileOps.sync`).
      */
    def rdd: RDD[FileEntry] = entries.sparkSession.sparkContext.union(listed)
  }

  /** List all files under `bucketUri/prefix` into a manifest Dataset.
    * `bucketUri` e.g. `file:///tmp/bucket-a` or `gs://bucket`.
    * Convenience overload of [[scanManaged]] for callers content to
    * leave wave-cache reclamation to the ContextCleaner.
    */
  def scan(
      spark: SparkSession,
      bucketUri: String,
      prefix: String = "",
      recursive: Boolean = true): Dataset[FileEntry] =
    scanManaged(spark, bucketUri, prefix, recursive).entries

  /** [[scan]] returning a [[ScannedManifest]] whose `release()`
    * unpersists the per-wave listing caches deterministically.
    */
  def scanManaged(
      spark: SparkSession,
      bucketUri: String,
      prefix: String = "",
      recursive: Boolean = true): ScannedManifest = {
    import spark.implicits._
    val root = bucketUri.stripSuffix("/")
    val cleanPrefix = PathAlg.cleanFolderName(prefix)
    val listRoot = if (cleanPrefix.isEmpty) root else s"$root/$cleanPrefix"
    val fs = fileSystemFor(spark, root)
    val rootPath = new Path(root)
    if (!fs.exists(rootPath))
      throw BlueprintError.InvalidBucket(bucketUri)
    val rootStr = fs.makeQualified(rootPath).toString.stripSuffix("/")
    val listPath = new Path(listRoot)
    if (!fs.exists(listPath))
      return ScannedManifest(spark.emptyDataset[FileEntry], Nil, Nil)

    // Shallow first level on the driver: files become entries directly,
    // directories fan out to the executors.
    val (files, dirs) = listShallow(fs, listPath, root, rootStr)
    val shallowDs = spark.createDataset(files)
    val par = spark.sparkContext.defaultParallelism
    // as many slices as the Dataset's local scan would use
    val shallowRdd = spark.sparkContext.parallelize(files,
      math.max(1, math.min(files.length, par)))
    if (dirs.isEmpty || !recursive)
      ScannedManifest(shallowDs, Nil, Seq(shallowRdd))
    else {
      // Iterative BFS until the fan-out is wide enough, then recursive
      // subtree walks. A whole-subtree task per FIRST-LEVEL dir would
      // serialize a `data/{one-dir}/10^8-files` bucket on one core; the
      // BFS waves re-parallelize the DISCOVERED dirs each round, so the
      // task count follows the tree's true width, not the top level's.
      // Driver memory holds only dir NAMES, bounded per wave by the
      // widest level (InMemoryFileIndex's contract).
      //
      // Each wave is ONE listLevel evaluation per directory: the tagged
      // (files, dirs) level RDD persists BEFORE the dirs collect, so
      // the collect job both discovers the next level and materializes
      // this level's file entries into executor cache — every directory
      // is listed exactly once per scan (the lazy re-list of round 6/7
      // doubled the metadata-RPC bill, the dominant cost of a
      // 10^8-object scan). The manifest is therefore a SNAPSHOT of the
      // tree at scan time — the same contract as the reference's
      // list-then-loop pipelines (download_file.py:248-262) and Spark's
      // own InMemoryFileIndex, whose listing caches until refreshed.
      // Cache is executor-resident (MEMORY_AND_DISK: spills past
      // memory, never on the driver) and released deterministically
      // via ScannedManifest.release() (the Blueprints pipelines call
      // it once their sink action completes); plain scan() callers
      // fall back to ContextCleaner reclamation on unreachability. MaxWaves
      // bounds pathological depth (e.g. a symlink cycle under
      // FOLLOW_LINKS): past it the remainder falls through to the
      // recursive walk, whose walkFileTree detects cycles —
      // correctness never depends on the cap.
      val conf = new SerializableConfiguration(hadoopConf(spark))
      val MaxWaves = 64
      val waves = scala.collection.mutable.ArrayBuffer.empty[RDD[FileEntry]]
      val persisted = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
      var pending = dirs
      var wave = 0
      while (pending.nonEmpty && pending.length < 4 * par &&
          wave < MaxWaves) {
        val level = pending
        val slices = math.max(1, math.min(level.length, par))
        val levelRdd = spark.sparkContext.parallelize(level, slices)
          .map(d => listLevel(d, root, rootStr, conf.value))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        persisted += levelRdd
        pending = levelRdd.flatMap(_._2).collect().toSeq
        waves += levelRdd.flatMap(_._1)
        wave += 1
      }
      if (pending.nonEmpty) {
        val slices = math.max(1, math.min(pending.length, par))
        // persisted lazily (first action materializes): subsequent
        // actions reuse the walk instead of re-listing the subtrees,
        // keeping the whole manifest one consistent snapshot
        val deepRdd = spark.sparkContext.parallelize(pending, slices)
          .flatMap(d => listDeep(d, root, rootStr, conf.value))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        persisted += deepRdd
        waves += deepRdd
      }
      ScannedManifest(
        waves.foldLeft(shallowDs)((acc, rdd) =>
          acc.union(spark.createDataset(rdd))),
        persisted.toSeq, shallowRdd +: waves.toSeq)
    }
  }

  /** Hadoop's ChecksumFileSystem hides its own `.name.crc` sidecars from
    * listings; the nio fast path must preserve that contract so manifests
    * over dirs written by checksumming Hadoop clients stay identical.
    */
  private def isChecksumSidecar(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")

  /** First-level listing. `file:` goes through java.nio: Hadoop's local
    * status objects fork a shell per entry for permissions (no
    * native-hadoop), ~30 ms/file — ruinous for large flat directories.
    * Entries that are neither a directory nor a regular file (broken
    * symlinks, fifos — which the old `listStatus.filter(_.isFile)` path
    * also excluded) are skipped, not crashed on.
    */
  private def listShallow(
      fs: FileSystem, listPath: Path, root: String, rootStr: String)
      : (Seq[FileEntry], Seq[String]) =
    if (fs.getScheme == "file") {
      val dir = java.nio.file.Paths.get(listPath.toUri.getPath)
      val rootOs = java.nio.file.Paths.get(new Path(root).toUri.getPath)
      val files = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
      val dirs = scala.collection.mutable.ArrayBuffer.empty[String]
      val ds = java.nio.file.Files.newDirectoryStream(dir)
      try ds.forEach { p =>
        if (java.nio.file.Files.isDirectory(p)) dirs += s"file://$p"
        else if (java.nio.file.Files.isRegularFile(p) &&
            !isChecksumSidecar(p.getFileName.toString))
          files += nioEntry(p, root, rootOs)
      } finally ds.close()
      (files.toSeq, dirs.toSeq)
    } else {
      val shallow = fs.listStatus(listPath)
      (shallow.filter(_.isFile).map(toEntry(_, root, rootStr)).toSeq,
        shallow.filter(_.isDirectory).map(_.getPath.toString).toSeq)
    }

  /** Executor-side ONE-level listing of a directory (nio for `file:`,
    * mirroring [[listShallow]]'s scheme split): the BFS-wave unit.
    * Returns (file entries, subdirectory uris).
    */
  private def listLevel(
      d: String, root: String, rootStr: String,
      c: Configuration): (Seq[FileEntry], Seq[String]) = try {
    val dirPath = new Path(d)
    if (dirPath.toUri.getScheme == "file") {
      val rootOs = java.nio.file.Paths.get(new Path(root).toUri.getPath)
      val files = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
      val dirs = scala.collection.mutable.ArrayBuffer.empty[String]
      val ds = java.nio.file.Files.newDirectoryStream(
        java.nio.file.Paths.get(dirPath.toUri.getPath))
      try ds.forEach { p =>
        if (java.nio.file.Files.isDirectory(p)) dirs += s"file://$p"
        else if (java.nio.file.Files.isRegularFile(p) &&
            !isChecksumSidecar(p.getFileName.toString))
          files += nioEntry(p, root, rootOs)
      } finally ds.close()
      (files.toSeq, dirs.toSeq)
    } else {
      val dirFs = FileSystem.get(dirPath.toUri, c)
      val st = dirFs.listStatus(dirPath)
      (st.filter(_.isFile).map(toEntry(_, root, rootStr)).toSeq,
        st.filter(_.isDirectory).map(_.getPath.toString).toSeq)
    }
  } catch {
    // a dir deleted between its discovery wave and this listing wave is
    // an empty subtree, not a failed 10^8-file scan (the recursive
    // walker's visitFileFailed has given the same tolerance all along)
    case _: java.nio.file.NoSuchFileException |
        _: java.io.FileNotFoundException => (Seq.empty, Seq.empty)
  }

  /** Executor-side recursive listing of one subtree (nio for `file:`). */
  private def listDeep(
      d: String, root: String, rootStr: String,
      c: Configuration): Iterator[FileEntry] = {
    val dirPath = new Path(d)
    if (dirPath.toUri.getScheme == "file") {
      val rootOs = java.nio.file.Paths.get(new Path(root).toUri.getPath)
      val buf = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
      // FOLLOW_LINKS matches the shallow path (Files.isRegularFile) and the
      // Hadoop listStatus path, which both resolve symlinks; broken links
      // still land in visitFileFailed and are skipped, and walkFileTree
      // detects link cycles (reported as failures) rather than looping.
      java.nio.file.Files.walkFileTree(
        java.nio.file.Paths.get(dirPath.toUri.getPath),
        java.util.EnumSet.of(java.nio.file.FileVisitOption.FOLLOW_LINKS),
        Int.MaxValue,
        new java.nio.file.SimpleFileVisitor[java.nio.file.Path] {
          override def visitFile(
              p: java.nio.file.Path,
              attrs: java.nio.file.attribute.BasicFileAttributes)
              : java.nio.file.FileVisitResult = {
            if (attrs.isRegularFile &&
                !isChecksumSidecar(p.getFileName.toString))
              buf += FileEntry(root, rootOs.relativize(p).toString,
                p.getFileName.toString, attrs.size(),
                new java.sql.Timestamp(attrs.lastModifiedTime.toMillis))
            java.nio.file.FileVisitResult.CONTINUE
          }
          // broken symlink: stat fails — skip like the Hadoop path did
          override def visitFileFailed(
              p: java.nio.file.Path, e: java.io.IOException)
              : java.nio.file.FileVisitResult =
            java.nio.file.FileVisitResult.CONTINUE
        })
      buf.iterator
    } else {
      val dirFs = FileSystem.get(dirPath.toUri, c)
      try {
        val it = dirFs.listFiles(dirPath, true)
        new Iterator[FileEntry] {
          def hasNext: Boolean = it.hasNext
          def next(): FileEntry = toEntry(it.next(), root, rootStr)
        }
      } catch {
        // vanished between discovery and walk: empty subtree (the nio
        // branch gets the same via visitFileFailed)
        case _: java.io.FileNotFoundException => Iterator.empty
      }
    }
  }

  private def nioEntry(
      p: java.nio.file.Path, root: String,
      rootOs: java.nio.file.Path): FileEntry =
    FileEntry(root, rootOs.relativize(p).toString,
      p.getFileName.toString,
      java.nio.file.Files.size(p),
      new java.sql.Timestamp(
        java.nio.file.Files.getLastModifiedTime(p).toMillis))

  private def toEntry(st: FileStatus, root: String, rootStr: String): FileEntry = {
    val rel = st.getPath.toString.stripPrefix(rootStr).stripPrefix("/")
    FileEntry(
      bucket = root,
      path = rel,
      name = st.getPath.getName,
      size = st.getLen,
      modificationTime = new java.sql.Timestamp(st.getModificationTime))
  }

  /** Exact-match point lookup (no listing, no Spark job) — the reference's
    * keyed `get_blob` access path (download_file.py:211-225, SURVEY §4-R2).
    * One status RPC when the object exists; the bucket root is probed
    * only when it does not, so a missing bucket still raises
    * [[BlueprintError.InvalidBucket]] and a missing object
    * [[BlueprintError.FileNotFound]]. Returns the object's status, which
    * `FileOps.copyOne`/`deleteOne` take so they do not stat it again.
    */
  def lookup(
      spark: SparkSession,
      bucketUri: String,
      folderName: String,
      fileName: String): FileStatus = {
    val root = bucketUri.stripSuffix("/")
    val rel = PathAlg.combine(folderName, fileName)
    val fs = fileSystemFor(spark, root)
    val st =
      try fs.getFileStatus(new Path(s"$root/$rel"))
      catch {
        case _: java.io.FileNotFoundException =>
          if (!fs.exists(new Path(root)))
            throw BlueprintError.InvalidBucket(bucketUri)
          throw BlueprintError.FileNotFound(rel)
      }
    if (!st.isFile) throw BlueprintError.FileNotFound(rel)
    st
  }

  /** Regex predicate over the bucket-relative object name — the reference's
    * `re.search` filter (download_file.py:155-164): unanchored substring
    * semantics, which `rlike` (Java regex) shares for the common dialect
    * subset (SURVEY §2A-O3). Pattern validity is checked eagerly so a bad
    * pattern maps to a typed error (move_file.py:174-183 behavior).
    */
  def regexFilter(manifest: Dataset[FileEntry], pattern: String): Dataset[FileEntry] =
    manifest.filter(compiled(pattern))

  /** Regex predicate over the ABSOLUTE local path — upload's divergent
    * semantics (upload_file.py:159-174 builds `cwd/...` strings via glob
    * and matches those): a pattern anchored on the absolute prefix must
    * match for upload, and must NOT implicitly match for the
    * bucket-relative ops. Scheme is stripped so the matched string is the
    * OS path the reference saw (`/tmp/src/folder/file`).
    */
  def regexFilterAbsolute(manifest: Dataset[FileEntry], pattern: String): Dataset[FileEntry] = {
    val abs = concat(
      regexp_replace(col("bucket"), "^file:(//)?", ""), lit("/"), col("path"))
    manifest.filter(compiled(pattern, abs))
  }

  private def compiled(pattern: String, target: Column = col("path")): Column = {
    // accept the reference's Python-re dialect (SURVEY §2A-O3):
    // translate Python-only spellings, then validate eagerly so a bad
    // pattern maps to a typed error instead of failing inside a task
    val jpat = graft.core.RegexCompat.toJava(pattern)
    try java.util.regex.Pattern.compile(jpat)
    catch {
      case e: java.util.regex.PatternSyntaxException =>
        throw BlueprintError.BadRegex(pattern, e.getMessage)
    }
    target.rlike(jpat)
  }

  /** Project destination object names onto a manifest.
    *
    * Mirrors `determine_destination_file_name` + enumeration
    * (download_file.py:74-106): explicit name, enumerated `name_{i}.ext`, or
    * basename of the source. Without an explicit name (`None`, the
    * reference's default) `dest` is a per-row projection of the
    * basename: no index, no Spark job. With one, the plan is indexed
    * here, eagerly: the running counter is a `zipWithIndex` over the
    * path-sorted manifest — explicit and deterministic where the
    * reference implicitly relied on GCS's lexicographic listing order
    * (SURVEY §4-P5), and distributed: the sort is a range-partitioned
    * shuffle and zipWithIndex a per-partition offset job, so no
    * single-task global window exists anywhere in the plan.
    *
    * Output columns: manifest columns + `dest` (bucket-relative destination).
    */
  def withDestination(
      manifest: Dataset[FileEntry],
      destinationFolderName: String,
      destinationFileName: Option[String],
      policy: EnumeratePolicy): DataFrame =
    withDestinationManaged(manifest, destinationFolderName,
      destinationFileName, policy)._1

  /** [[withDestination]] plus a release hook for the persisted indexed
    * frame the returned plan reads — same contract as
    * [[ScannedManifest.release]]: call it once the plan is consumed
    * (the Blueprints pipelines do, right after their sink action);
    * re-reading afterwards just re-executes the lineage. Without an
    * explicit name nothing is persisted and the hook does nothing.
    */
  def withDestinationManaged(
      manifest: Dataset[FileEntry],
      destinationFolderName: String,
      destinationFileName: Option[String],
      policy: EnumeratePolicy): (DataFrame, () => Unit) = {
    val spark = manifest.sparkSession
    import spark.implicits._
    val folder = PathAlg.cleanFolderName(destinationFolderName)
    def under(name: Column): Column =
      if (folder.isEmpty) name else concat(lit(folder + "/"), name)
    destinationFileName match {
      case None =>
        (manifest.toDF().withColumn("dest",
          under(element_at(split(col("path"), "/"), -1))), () => ())
      case Some(dest) =>
        // persist across the three consumers (count, sort sampling, sort
        // exec) — without it each action re-executes the whole listing
        // lineage; the indexed result is persisted + materialized so the
        // caller's downstream actions reuse it too (manifests are
        // metadata-sized; the cache is released by the returned hook, or
        // by the ContextCleaner for plain-withDestination callers)
        val cached = manifest.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val total = cached.count()
        val indexed = spark.createDataset(
          cached.orderBy("path").as[FileEntry].rdd
            .zipWithIndex().map { case (e, i) => (e, i + 1) })
          .select(col("_1.*"), col("_2").as("file_number"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        indexed.count()
        cached.unpersist(blocking = false)
        val n = col("file_number")
        val dotIdx = dest.indexOf('.')
        def enumerated(i: Column) =
          if (dotIdx < 0) concat(lit(dest + "_"), i)
          else concat(lit(dest.substring(0, dotIdx) + "_"), i,
            lit(dest.substring(dotIdx)))
        val destName = policy match {
          case EnumeratePolicy.Always => enumerated(n)
          case EnumeratePolicy.IfMultiple =>
            if (total > 1) enumerated(n) else lit(dest)
        }
        (indexed.withColumn("dest", under(destName)).drop("file_number"),
          () => indexed.unpersist(blocking = false))
    }
  }

  private[graft] def fileSystemFor(spark: SparkSession, uri: String): FileSystem =
    FileSystem.get(new URI(uri), hadoopConf(spark))

  private[graft] def hadoopConf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration
}
