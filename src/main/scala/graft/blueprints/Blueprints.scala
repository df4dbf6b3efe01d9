package graft.blueprints

import org.apache.spark.sql.SparkSession
import graft.core._
import graft.operators.FileOps
import graft.sources.FileManifest

/** The four reference pipelines (download / upload / move / remove),
  * re-expressed as a manifest listing + parallel sinks, one pipeline
  * each: the listing's rows ([[FileOps.Rows]], held on the driver or an
  * RDD) are filtered and named (`FileManifest.naming`), then checked and
  * moved by `FileOps.copyRows`/`deleteRows`, whose size rule runs them
  * on the driver or in one sink job. Over an RDD the regex filter and
  * destination names run inside the sink's own placement step. No SQL
  * plan either way. Lifecycle mapping: SURVEY §3.4. Copy-shaped ops return
  * [[FileOps.CopyStats]] (planned vs actually-transferred vs skipped);
  * remove returns the planned row count. All throw
  * [[graft.core.BlueprintError]] for the reference's coded failures
  * (exit_codes.py:1-3).
  */
object Blueprints {

  /** GCS -> local (download_file.py:228-277). `bucket` is a URI root;
    * `destRoot` a local directory URI (the reference's cwd).
    */
  def download(spark: SparkSession, cfg: DownloadConfig, destRoot: String): FileOps.CopyStats =
    transfer(spark, cfg.bucket, cfg.sourceFolderName, cfg.sourceFileName,
      cfg.matchType, destRoot, cfg.destinationFolderName,
      cfg.destinationFileName, EnumeratePolicy.Always, deleteSource = false)

  /** local -> GCS (upload_file.py:221-267). `srcRoot` is the local root.
    * Directories returned by the reference's `glob('**')` (which would crash
    * `upload_from_filename`, SURVEY §2A-O6) are excluded by the manifest's
    * files-only contract. The regex matches the ABSOLUTE local path
    * (upload_file.py:159-174), unlike download/move/remove which match the
    * bucket-relative name — SURVEY §2A-O3 preserves both behaviors per-op.
    */
  def upload(spark: SparkSession, cfg: UploadConfig, srcRoot: String): FileOps.CopyStats =
    transfer(spark, srcRoot, cfg.sourceFolderName, cfg.sourceFileName,
      cfg.matchType, cfg.bucket, cfg.destinationFolderName,
      cfg.destinationFileName, EnumeratePolicy.Always, deleteSource = false,
      matchAbsolute = true)

  /** GCS -> GCS cross-bucket move = copy + verify + delete
    * (move_file.py:158-214). Enumerates only when >1 match
    * (move_file.py:185-191 — the canonical policy, SURVEY §2A-O4).
    */
  def move(spark: SparkSession, cfg: MoveConfig): FileOps.CopyStats =
    transfer(spark, cfg.sourceBucket, cfg.sourceFolderName, cfg.sourceFileName,
      cfg.matchType, cfg.destinationBucket, cfg.destinationFolderName,
      cfg.destinationFileName, EnumeratePolicy.IfMultiple, deleteSource = true)

  /** Delete matching objects (remove_file.py:138-166). */
  def remove(spark: SparkSession, cfg: RemoveConfig): Long = cfg.matchType match {
    case MatchType.ExactMatch =>
      FileOps.deleteOne(spark, FileManifest.lookup(spark, cfg.bucket,
        cfg.sourceFolderName, cfg.sourceFileName))
      1L
    case MatchType.RegexMatch =>
      val scanned =
        FileManifest.scanManaged(spark, cfg.bucket, cfg.sourceFolderName)
      try {
        val keep = FileManifest.matcher(cfg.sourceFileName)
        val n = FileOps.deleteRows(scanned.rows.mapPartitions((_, it) =>
          it.filter(keep).map(e => (e.bucket, e.path))))
        if (n == 0) throw BlueprintError.FileNotFound(cfg.sourceFileName)
        n
        // the delete action was the manifest's last read — release the
        // wave caches now instead of waiting on GC + ContextCleaner
      } finally scanned.release()
  }

  /** Shared download/upload/move skeleton: branch on match type
    * (access-path selection, SURVEY §4-R2), build manifest plan, sink.
    */
  private def transfer(
      spark: SparkSession,
      srcRoot: String,
      srcFolder: String,
      srcFile: String,
      matchType: MatchType,
      dstRoot: String,
      dstFolder: String,
      dstFile: Option[String],
      policy: EnumeratePolicy,
      deleteSource: Boolean,
      matchAbsolute: Boolean = false): FileOps.CopyStats = matchType match {
    case MatchType.ExactMatch =>
      val src = FileManifest.lookup(spark, srcRoot, srcFolder, srcFile)
      val dest = PathAlg.determineFullPath(dstFolder, dstFile,
        PathAlg.combine(srcFolder, srcFile), None)
      FileOps.copyOne(spark, src, dstRoot, dest, deleteSource)
      FileOps.CopyStats(1L, 1L, 0L)
    case MatchType.RegexMatch =>
      val scanned = FileManifest.scanManaged(spark, srcRoot, srcFolder)
      try {
        val keep = FileManifest.matcher(srcFile, absolute = matchAbsolute)
        // Always-enumerated explicit names are unique by construction —
        // skip the collision check (a second shuffle of the whole
        // manifest and a job of its own)
        val provablyUnique =
          dstFile.isDefined && policy == EnumeratePolicy.Always
        val named = FileManifest.naming(scanned.rows, keep, dstFolder, dstFile, policy)
        val st = FileOps.copyRows(named.mapPartitions((_, it) => it.map {
          case (e, dest) => FileOps.Move(e.bucket, e.path, e.size, dest, null)
        }), Some(dstRoot), deleteSource, overwrite = true, !provablyUnique)
        if (st.planned == 0) throw BlueprintError.FileNotFound(srcFile)
        st
        // the copy (and optional source delete) was the manifest's last
        // read — release the wave caches deterministically
      } finally scanned.release()
  }

  /** Credential injection (download_file.py:44-62 `set_environment_variables`):
    * the value is either inline JSON or a keyfile path, sniffed by parse
    * attempt. Inline JSON is written to a temp keyfile (deleted on JVM exit
    * ≙ the reference's end-of-main cleanup, download_file.py:274-276); both
    * forms configure the GCS Hadoop connector.
    */
  def configureCredentials(spark: SparkSession, serviceAccount: String): Unit = {
    val keyfile =
      if (looksLikeJson(serviceAccount)) {
        val tmp = java.nio.file.Files.createTempFile("graft-sa", ".json")
        java.nio.file.Files.writeString(tmp, serviceAccount)
        tmp.toFile.deleteOnExit()
        tmp.toString
      } else {
        if (!new java.io.File(serviceAccount).canRead)
          throw BlueprintError.InvalidCredentials(
            s"keyfile not readable: $serviceAccount")
        serviceAccount
      }
    val hc = FileManifest.hadoopConf(spark)
    hc.set("google.cloud.auth.service.account.enable", "true")
    hc.set("google.cloud.auth.service.account.json.keyfile", keyfile)
    // 128 MiB resumable-upload chunks, matching upload_file.py:12
    hc.set("fs.gs.outputstream.upload.chunk.size", (128 * 1024 * 1024).toString)
  }

  /** The reference sniffs by attempting `json.loads`
    * (download_file.py:49-55) — a `{`-prefixed but malformed value must
    * fall through to the path branch, so parse for real (Jackson ships
    * with Spark). `json.loads` rejects trailing content after the value
    * (`'{"a":1}garbage'` is NOT JSON), so trailing tokens must fail too.
    */
  private def looksLikeJson(s: String): Boolean =
    scala.util.Try {
      new com.fasterxml.jackson.databind.ObjectMapper()
        .enable(com.fasterxml.jackson.databind.DeserializationFeature
          .FAIL_ON_TRAILING_TOKENS)
        .readTree(s)
    }.toOption.exists(n => n != null && n.isObject)
}
