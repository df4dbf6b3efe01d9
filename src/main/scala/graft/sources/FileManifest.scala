package graft.sources

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.{Pattern, PatternSyntaxException}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.util.SerializableConfiguration
import graft.core.{BlueprintError, EnumeratePolicy, PathAlg, RegexCompat}
import graft.operators.{FileOps, Q}

/** One object in a bucket-like store. `path` is the bucket-relative object
  * name (the reference's `blob.name`), `name` its basename.
  */
final case class FileEntry(
    bucket: String,
    path: String,
    name: String,
    size: Long,
    modificationTime: java.sql.Timestamp)

/** File-manifest layer: listings as [[FileOps.Rows]] of [[FileEntry]].
  *
  * Replaces the reference's driver-side blob listing
  * (download_file.py:147-152 `find_google_cloud_storage_file_names`) with a
  * manifest over Hadoop `FileSystem`, whose regex filter ([[matcher]]) and
  * destination names ([[naming]]) are steps of the copy/delete pipelines
  * (SURVEY §4-P1), written once for both placements of the rows: no
  * Catalyst plan on the way. [[scan]] views a listing as a Dataset for
  * SQL callers. Prefix pushdown (the reference's `list_blobs(prefix=…)`,
  * download_file.py:248-249) maps to scoping the listing root.
  *
  * Scale (100 TB / 10^8 objects): one BFS lists the tree a level at a
  * time, each directory once ([[listLevel]]), and one rule places each
  * level. While no executor wave has run, at most [[DriverRows]]
  * directories are pending and fewer than [[DriverRows]] files have been
  * admitted, the driver lists the level, one worker per directory up to
  * `Q.PoolThreads` (a listing waits on its store, so the directories in
  * flight are the pool's, not the cores'), and holds the entries
  * ([[FileOps.Held]]), so a file op over them needs no Spark job. A
  * directory whose listing would pass [[DriverRows]] files in all is
  * dropped and stays pending. Every other level is one executor wave,
  * which re-parallelizes the directories the previous level discovered,
  * so a skewed tree (one top-level dir hiding the whole corpus) still
  * fans out to the cluster instead of serializing on one task. The
  * driver never holds more than [[DriverRows]] file entries (plus one
  * list page per driver worker, `Q.PoolThreads` at most, as they stream
  * in) and the widest level's dir NAMES, whatever the object count — the
  * same contract as Spark's InMemoryFileIndex, which lists on the driver
  * below `parallelPartitionDiscovery.threshold` and with a job above it.
  * A `file:` listing follows links and cuts cycles by the JDK tree
  * walker's rule: a directory whose real path is already on its own path
  * from the bucket root is not entered.
  */
object FileManifest {

  /** Rows a listing or a file op may have and still run on the driver,
    * one object-store list page: the driver lists at most this many
    * files of a scan, and a driver-held op of at most this many rows
    * runs its row loop on the driver (`FileOps`), with no Spark job
    * either way. The driver keeps up to `Q.PoolThreads` directories or
    * rows in flight whatever the master, so the bound does not rest on
    * the driver having as many workers as there are executor cores.
    * Chosen by a measurement of the driver side only: that the
    * executors win above it is assumed, not measured.
    */
  private[graft] val DriverRows = 1000

  /** A scanned manifest: the entries ([[rows]]), held on the driver when
    * the whole listing stayed small, else an RDD of the driver-listed
    * levels plus the executor-listed BFS waves, and a release hook for
    * the executor-persisted wave RDDs behind it. Without the hook,
    * reclamation waits on GC + ContextCleaner — a long-lived manifest
    * reference pins the whole file-entry cache, substantial at 10^8
    * objects (ADVICE r8). The Blueprints pipelines call [[release]] after
    * their sink action; it is idempotent, and a later read re-executes
    * the listing lineage.
    */
  final class ScannedManifest private[sources] (
      spark: SparkSession,
      val rows: FileOps.Rows[FileEntry],
      waves: Seq[RDD[_]]) {

    /** The entries as an RDD; a held listing's is a plain `parallelize`. */
    lazy val rdd: RDD[FileEntry] = rows.rdd

    def release(): Unit = waves.foreach(_.unpersist(blocking = false))

    /** The same entries as a Dataset, for callers that query the listing
      * with SQL. Built on first use, so the blueprint path never plans it.
      */
    lazy val entries: Dataset[FileEntry] =
      spark.createDataset(rdd)(Encoders.product[FileEntry])
  }

  /** Partitions of an RDD over `n` driver-held items. */
  private[graft] def slices(sc: SparkContext, n: Int): Int =
    math.max(1, math.min(n, sc.defaultParallelism))

  /** The manifest of a prefix that does not exist: no entries. */
  private[graft] def emptyManifest(spark: SparkSession): ScannedManifest =
    new ScannedManifest(spark, FileOps.Rows(spark.sparkContext, IndexedSeq.empty[FileEntry]), Nil)

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
    * unpersists the per-wave listing caches deterministically. One BFS
    * loop lists the tree: a level on the driver while the placement rule
    * above holds, else as one executor wave. A listing that ends on the
    * driver is held there and has run no Spark job; else the driver-held
    * entries are the shallow part of its RDD. Each directory is listed
    * exactly once, except those the driver dropped at its bound (at most
    * one per driver worker, `Q.PoolThreads` in all), which a wave lists
    * again in full. A non-recursive scan drops every subdirectory it
    * finds.
    */
  def scanManaged(
      spark: SparkSession,
      bucketUri: String,
      prefix: String = "",
      recursive: Boolean = true): ScannedManifest = {
    val sc = spark.sparkContext
    val root = bucketUri.stripSuffix("/")
    val cleanPrefix = PathAlg.cleanFolderName(prefix)
    val listRoot = if (cleanPrefix.isEmpty) root else s"$root/$cleanPrefix"
    val fs = fileSystemFor(spark, root)
    val rootPath = new Path(root)
    if (!fs.exists(rootPath))
      throw BlueprintError.InvalidBucket(bucketUri)
    val rootStr = fs.makeQualified(rootPath).toString.stripSuffix("/")
    // One BFS over listLevel (a missing prefix lists empty). A level is
    // listed on the driver while no wave has run, at most DriverRows
    // directories are pending and fewer than DriverRows files have been
    // admitted: a directory whose listing would pass that is dropped, its
    // partial listing with it, and stays pending. Any other level is one
    // executor wave.
    //
    // Each wave is ONE listLevel evaluation per directory: the tagged
    // (files, dirs) level RDD persists BEFORE the dirs collect, so the
    // collect job both discovers the next level and materializes this
    // level's file entries into executor cache — every directory is
    // listed exactly once per scan (the lazy re-list of round 6/7 doubled
    // the metadata-RPC bill, the dominant cost of a 10^8-object scan),
    // apart from the few the driver dropped at its bound. Driver memory
    // holds only dir NAMES, bounded per wave by the widest level. The
    // manifest is therefore a SNAPSHOT of the tree at scan time — the
    // same contract as the reference's list-then-loop pipelines
    // (download_file.py:248-262) and Spark's InMemoryFileIndex, whose
    // listing caches until refreshed. Cache is executor-resident
    // (MEMORY_AND_DISK: spills past memory, never on the driver) and
    // released deterministically via ScannedManifest.release() (the
    // Blueprints pipelines call it once their sink action completes);
    // plain scan() callers fall back to ContextCleaner reclamation on
    // unreachability. Depth needs no cap: listLevel cuts link cycles,
    // and a remote store has no links.
    val hc = hadoopConf(spark)
    val conf = new SerializableConfiguration(hc)
    val listed = new java.util.concurrent.atomic.AtomicLong
    val admit = () => listed.incrementAndGet() <= DriverRows
    val held = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
    val waves = scala.collection.mutable.ArrayBuffer.empty[RDD[(Seq[FileEntry], Seq[String])]]
    var pending = Seq(listRoot)
    while (pending.nonEmpty) {
      val (dropped, found) =
        if (waves.isEmpty && pending.length <= DriverRows && listed.get < DriverRows) {
          val levels = Q.parallel(pending.toIndexedSeq) { d =>
            if (listed.get >= DriverRows) None
            else listLevel(d, root, rootStr, hc, admit)
          }
          levels.foreach(_.foreach(held ++= _._1))
          (pending.zip(levels).collect { case (d, None) => d }, levels.flatten.flatMap(_._2))
        } else {
          val level = sc.parallelize(pending, slices(sc, pending.length))
            .flatMap(d => listLevel(d, root, rootStr, conf.value, () => true))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          waves += level
          // runJob, not collect(): collect wraps the step in two closures of
          // Spark's own, each of which the ClosureCleaner cleans by parsing
          // its declaring class (RDD, SparkContext: ~390 KB of bytecode)
          (Nil, sc.runJob(level,
            (_: TaskContext, it: Iterator[(Seq[FileEntry], Seq[String])]) =>
              it.flatMap(_._2).toArray,
            level.partitions.indices).toSeq.flatten)
        }
      pending = if (recursive) dropped ++ found else dropped
    }
    if (waves.isEmpty) new ScannedManifest(spark, FileOps.Rows(sc, held.toIndexedSeq), Nil)
    else {
      val shallow = sc.parallelize(held.toSeq, slices(sc, held.length))
      new ScannedManifest(spark,
        FileOps.Rows(sc.union(shallow +: waves.toSeq.map(_.flatMap(_._1)))), waves.toSeq)
    }
  }

  /** Hadoop's ChecksumFileSystem hides its own `.name.crc` sidecars from
    * listings; the nio fast path must preserve that contract so manifests
    * over dirs written by checksumming Hadoop clients stay identical.
    */
  private def isChecksumSidecar(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")

  /** ONE-level listing of a directory, the unit of the BFS on the driver
    * and in the waves. Returns (file entries, subdirectory uris), or None as
    * soon as `admit` refuses a file (the driver's bound; a wave admits
    * all). The listing is read as it streams in, `listStatusIterator`
    * page by page on a paged store, so a refused directory costs the
    * driver no more than a page. `file:` goes through java.nio: Hadoop's
    * local status objects fork a shell per entry for permissions (no
    * native-hadoop), ~30 ms/file — ruinous for large flat directories.
    * Entries that are neither a directory nor a regular file (broken
    * symlinks, fifos) are skipped, not crashed on. The nio branch follows
    * links and cuts cycles by the JDK tree walker's rule: a subdirectory
    * whose real path is already on its own path (the bucket root down to
    * it, which its pending uri spells) is not entered. Each subdirectory
    * found costs one `toRealPath`; the real paths of the path above it
    * are resolved only when a link was followed on the way. An entry
    * deleted between the stream and its own stat is skipped, and the rest
    * of its directory is still listed. A remote store returns no followed
    * links and stats no entry, so the Hadoop branch needs neither.
    */
  private[graft] def listLevel(
      d: String, root: String, rootStr: String, c: Configuration,
      admit: () => Boolean): Option[(Seq[FileEntry], Seq[String])] = try {
    val dirPath = new Path(d)
    val files = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
    val dirs = scala.collection.mutable.ArrayBuffer.empty[String]
    var refused = false
    if (dirPath.toUri.getScheme == "file") {
      val rootOs = java.nio.file.Paths.get(new Path(root).toUri.getPath)
      val dir = java.nio.file.Paths.get(dirPath.toUri.getPath)
      lazy val onPath = Iterator.iterate(dir)(_.getParent)
        .takeWhile(p => p != null && p.startsWith(rootOs)).map(_.toRealPath()).toSet
      val ds = java.nio.file.Files.newDirectoryStream(dir)
      try {
        val it = ds.iterator()
        while (!refused && it.hasNext) {
          val p = it.next()
          try {
            if (java.nio.file.Files.isDirectory(p)) {
              val real = p.toRealPath()
              if (real == p || !onPath(real)) dirs += s"file://$p"
            } else if (java.nio.file.Files.isRegularFile(p) &&
                !isChecksumSidecar(p.getFileName.toString)) {
              refused = !admit()
              if (!refused) files += nioEntry(p, root, rootOs)
            }
          } catch { case _: java.nio.file.NoSuchFileException => }
        }
      } finally ds.close()
    } else {
      val it = FileSystem.get(dirPath.toUri, c).listStatusIterator(dirPath)
      while (!refused && it.hasNext) {
        val st = it.next()
        if (st.isDirectory) dirs += st.getPath.toString
        else if (st.isFile) {
          refused = !admit()
          if (!refused) files += toEntry(st, root, rootStr)
        }
      }
    }
    if (refused) None else Some((files.toSeq, dirs.toSeq))
  } catch {
    // a dir deleted between its discovery wave and this listing wave is
    // an empty subtree, not a failed 10^8-file scan
    case _: java.nio.file.NoSuchFileException |
        _: java.io.FileNotFoundException => Some((Seq.empty, Seq.empty))
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

  /** The row predicate of a blueprint regex — the reference's unanchored
    * `re.search` (download_file.py:155-164), i.e. `Matcher.find`, the
    * test `rlike` applies too. The pattern is translated from the Python
    * dialect (SURVEY §2A-O3) and compiled once, here, so a bad one raises
    * [[BlueprintError.BadRegex]] on the driver (move_file.py:174-183).
    * Download, move and remove match the bucket-relative name; upload
    * (`absolute`) matches the ABSOLUTE local path (upload_file.py:159-174
    * globs `cwd/...` strings), its `file:` scheme (`file:/x`, `file:///x`)
    * stripped to the OS path the reference saw; other schemes stay.
    */
  def matcher(pattern: String, absolute: Boolean = false): FileEntry => Boolean = {
    val p =
      try Pattern.compile(RegexCompat.toJava(pattern))
      catch {
        case e: PatternSyntaxException =>
          throw BlueprintError.BadRegex(pattern, e.getMessage)
      }
    def osPath(b: String) =
      if (b.startsWith("file:")) b.substring(5).stripPrefix("//") else b
    if (absolute) e => p.matcher(s"${osPath(e.bucket)}/${e.path}").find()
    else e => p.matcher(e.path).find()
  }

  /** [[matcher]] as a Dataset filter. */
  def regexFilter(manifest: Dataset[FileEntry], pattern: String): Dataset[FileEntry] =
    manifest.filter(matcher(pattern))

  /** Names the entries of `rows` that `keep` accepts, as
    * `determine_destination_file_name` + enumeration do
    * (download_file.py:74-106): explicit name, enumerated `name_{i}.ext`
    * (`_i` before the first dot), or the source's basename, under the
    * cleaned destination folder. A basename needs no sort and no job.
    * Enumeration follows the entries sorted on (path, bucket) in UTF-8
    * byte order — the order GCS lists names in, which the reference
    * relied on implicitly (SURVEY §4-P5), and the order Catalyst sorts
    * strings in; `String.compareTo` (UTF-16) differs above U+FFFF. A
    * row's number is its sorted partition's offset plus its place in it,
    * so no single-task window exists (over an RDD the sort is a
    * range-partitioned shuffle, and one job counts each sorted
    * partition); the total also decides `IfMultiple`.
    */
  def naming(
      rows: FileOps.Rows[FileEntry],
      keep: FileEntry => Boolean,
      destinationFolderName: String,
      destinationFileName: Option[String],
      policy: EnumeratePolicy): FileOps.Rows[(FileEntry, String)] = {
    val dest = destName(PathAlg.cleanFolderName(destinationFolderName),
      destinationFileName) _
    val kept = rows.mapPartitions((_, it) => it.filter(keep))
    if (destinationFileName.isEmpty)
      kept.mapPartitions((_, it) => it.map(e => (e, dest(e, false, 0L))))
    else {
      val launch: FileOps.Launch = (r, t) => r.sparkContext.runJob(r, t)
      val (sorted, offsets) = kept.sortGlobal(sortKey, ByteOrder, launch)
      val enumerate = policy == EnumeratePolicy.Always || offsets.last > 1
      sorted.mapPartitions((p, it) => it.zipWithIndex.map { case (e, i) =>
        (e, dest(e, enumerate, offsets(p) + i + 1)) })
    }
  }

  /** The destination of `e` under the cleaned `folder`: the explicit
    * name, numbered `n` when `enumerate`, or else the source's basename.
    */
  private def destName(folder: String, fileName: Option[String])(
      e: FileEntry, enumerate: Boolean, n: Long): String = {
    val name = fileName.fold(PathAlg.baseName(e.path))(d =>
      if (enumerate) PathAlg.enumerateFileName(d, n) else d)
    if (folder.isEmpty) name else s"$folder/$name"
  }

  /** Enumeration's sort key: path, NUL (below every other byte), bucket,
    * compared as unsigned UTF-8 bytes ([[ByteOrder]]).
    */
  private def sortKey(e: FileEntry): Array[Byte] =
    s"${e.path}\u0000${e.bucket}".getBytes(UTF_8)

  private val ByteOrder: Ordering[Array[Byte]] = java.util.Arrays.compareUnsigned(_, _)

  /** [[naming]] as a DataFrame of the manifest columns plus `dest`. */
  def withDestination(
      manifest: Dataset[FileEntry],
      destinationFolderName: String,
      destinationFileName: Option[String],
      policy: EnumeratePolicy): DataFrame = {
    val named = naming(FileOps.Rows(manifest.rdd), _ => true, destinationFolderName,
      destinationFileName, policy).rdd
    manifest.sparkSession.createDataFrame(named.map { case (e, d) =>
      (e.bucket, e.path, e.name, e.size, e.modificationTime, d)
    }).toDF("bucket", "path", "name", "size", "modificationTime", "dest")
  }

  private[graft] def fileSystemFor(spark: SparkSession, uri: String): FileSystem =
    FileSystem.get(new URI(uri), hadoopConf(spark))

  private[graft] def hadoopConf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration
}
