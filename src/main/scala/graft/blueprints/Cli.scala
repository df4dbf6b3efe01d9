package graft.blueprints

import org.apache.spark.sql.SparkSession
import graft.core._

/** CLI edge for the four blueprints — same flag surface as the reference's
  * argparse (download_file.py:11-41, upload_file.py:15-44, move_file.py:16-47,
  * remove_file.py:16-36) with uniform exit-code mapping (SURVEY §2A-O12).
  * Flags use the reference's `--kebab-names`; buckets accept full URIs so
  * `file:///tmp/bucket-a` tests the same code path as `gs://bucket`.
  */
object Cli {

  /** argparse-style strictness: every token must be a `--flag value`
    * pair; a dangling flag or a bare value is a usage error (exit 2),
    * not a silent drop.
    */
  def parseFlags(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case Array(k, _) => throw BlueprintError.UsageError(s"expected --flag, got '$k'")
      case Array(k) => throw BlueprintError.UsageError(s"flag $k is missing a value")
    }.toMap

  /** Required flag lookup with an argparse-style error. */
  def required(f: Map[String, String], key: String): String =
    f.getOrElse(key,
      throw BlueprintError.UsageError(s"the following argument is required: --$key"))

  def session(): SparkSession =
    graft.Session(master = sys.env.get("SPARK_MASTER"))

  /** "verbed N file(s)" with transferred (not planned) as N, so skipped
    * rows (overwrite=false, idempotent retries) are never overstated.
    */
  def report(verb: String, st: graft.operators.FileOps.CopyStats): Unit = {
    val suffix = if (st.skipped > 0) s" (${st.skipped} skipped)" else ""
    println(s"$verb ${st.transferred} file(s)$suffix")
  }
}

object DownloadFile {
  def main(args: Array[String]): Unit = BlueprintError.exitOnError {
    val f = Cli.parseFlags(args)
    val spark = Cli.session()
    f.get("service-account").foreach(Blueprints.configureCredentials(spark, _))
    val n = Blueprints.download(spark,
      DownloadConfig(
        bucket = Cli.required(f, "bucket-name"),
        sourceFolderName = f.getOrElse("source-folder-name", ""),
        sourceFileName = Cli.required(f, "source-file-name"),
        matchType = MatchType.parse(
          f.getOrElse("source-file-name-match-type", "exact_match")),
        destinationFolderName = f.getOrElse("destination-folder-name", ""),
        destinationFileName = f.get("destination-file-name")),
      destRoot = f.getOrElse("local-root",
        s"file://${System.getProperty("user.dir")}"))
    Cli.report("downloaded", n)
    spark.stop()
  }
}

object UploadFile {
  def main(args: Array[String]): Unit = BlueprintError.exitOnError {
    val f = Cli.parseFlags(args)
    val spark = Cli.session()
    f.get("service-account").foreach(Blueprints.configureCredentials(spark, _))
    val n = Blueprints.upload(spark,
      UploadConfig(
        bucket = Cli.required(f, "bucket-name"),
        sourceFolderName = f.getOrElse("source-folder-name", ""),
        sourceFileName = Cli.required(f, "source-file-name"),
        matchType = MatchType.parse(
          f.getOrElse("source-file-name-match-type", "exact_match")),
        destinationFolderName = f.getOrElse("destination-folder-name", ""),
        destinationFileName = f.get("destination-file-name")),
      srcRoot = f.getOrElse("local-root",
        s"file://${System.getProperty("user.dir")}"))
    Cli.report("uploaded", n)
    spark.stop()
  }
}

object MoveFile {
  def main(args: Array[String]): Unit = BlueprintError.exitOnError {
    val f = Cli.parseFlags(args)
    val spark = Cli.session()
    f.get("service-account").foreach(Blueprints.configureCredentials(spark, _))
    val n = Blueprints.move(spark,
      MoveConfig(
        sourceBucket = Cli.required(f, "source-bucket-name"),
        destinationBucket =
          f.getOrElse("destination-bucket-name", Cli.required(f, "source-bucket-name")),
        sourceFolderName = f.getOrElse("source-folder-name", ""),
        sourceFileName = Cli.required(f, "source-file-name"),
        matchType = MatchType.parse(
          f.getOrElse("source-file-name-match-type", "exact_match")),
        destinationFolderName = f.getOrElse("destination-folder-name", ""),
        destinationFileName = f.get("destination-file-name")))
    Cli.report("moved", n)
    spark.stop()
  }
}

object RemoveFile {
  def main(args: Array[String]): Unit = BlueprintError.exitOnError {
    val f = Cli.parseFlags(args)
    val spark = Cli.session()
    f.get("service-account").foreach(Blueprints.configureCredentials(spark, _))
    val n = Blueprints.remove(spark,
      RemoveConfig(
        bucket = Cli.required(f, "bucket-name"),
        sourceFolderName = f.getOrElse("source-folder-name", ""),
        sourceFileName = Cli.required(f, "source-file-name"),
        matchType = MatchType.parse(
          f.getOrElse("source-file-name-match-type", "exact_match"))))
    println(s"removed $n file(s)")
    spark.stop()
  }
}

/** CLI edge for the declared §2A extension `FileOps.sync` (the
  * operation users script around the reference's four unconditional
  * pipelines): one-way prefix mirror, diff-only transfer. Flags follow
  * the four blueprints' kebab style; `--delete-extraneous true` adds
  * rsync's `--delete`, `--verify-content true` adds rsync's `-c`
  * (digest-compare same-size pairs — the size diff's blind spot).
  */
object SyncPrefix {
  def main(args: Array[String]): Unit = BlueprintError.exitOnError {
    val f = Cli.parseFlags(args)
    val spark = Cli.session()
    f.get("service-account").foreach(Blueprints.configureCredentials(spark, _))
    def boolFlag(key: String): Boolean =
      f.get(key).exists(v => v.equalsIgnoreCase("true") || v == "1")
    val st = graft.operators.FileOps.sync(spark,
      srcBucket = Cli.required(f, "source-bucket-name"),
      srcPrefix = f.getOrElse("source-folder-name", ""),
      dstBucket = Cli.required(f, "destination-bucket-name"),
      dstPrefix = f.getOrElse("destination-folder-name", ""),
      deleteExtraneous = boolFlag("delete-extraneous"),
      verifyContent = boolFlag("verify-content"))
    val extras = Seq(
      if (st.deleted > 0) Some(s"${st.deleted} deleted") else None,
      if (st.retrySkipped > 0) Some(s"${st.retrySkipped} skipped")
      else None).flatten
    val suffix = if (extras.isEmpty) "" else extras.mkString(" (", ", ", ")")
    println(s"synced ${st.transferred} of ${st.scanned} file(s), " +
      s"${st.upToDate} up-to-date$suffix")
    spark.stop()
  }
}
