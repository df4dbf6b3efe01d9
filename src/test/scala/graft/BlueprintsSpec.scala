package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.blueprints.Blueprints
import graft.core._
import graft.operators.FileOps
import graft.sources.FileManifest

/** End-to-end tests of the four blueprint pipelines over `file://`
  * fixtures standing in for buckets (SURVEY §5 item 2): exit-code
  * mapping (exit_codes.py:1-3), the divergent enumerate policies
  * (download_file.py:254-258 vs move_file.py:185-191), directory
  * exclusion (upload_file.py:154-162), upload's absolute-path regex
  * semantics (upload_file.py:159-174), and the collision guard.
  */
class BlueprintsSpec extends SparkSpec {

  private var root: Path = _
  private def uri(p: Path): String = s"file://$p"

  private def write(p: Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  private def names(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else Files.walk(dir).iterator().asScala
      .filter(Files.isRegularFile(_)).map(dir.relativize(_).toString).toSet

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = Files.createTempDirectory("graft-bp")
  }

  private def freshBucket(files: (String, String)*): Path = {
    val b = Files.createTempDirectory(root, "bkt")
    files.foreach { case (rel, c) => write(b.resolve(rel), c) }
    b
  }

  // --- download: regex path ALWAYS enumerates (download_file.py:254-258) ---

  test("download regex multi-match enumerates _1 _2 into dest folder") {
    val src = freshBucket("logs/a.csv" -> "a", "logs/b.csv" -> "b")
    val dst = Files.createTempDirectory(root, "dl")
    val n = Blueprints.download(spark,
      DownloadConfig(uri(src), "logs", ".*[.]csv", MatchType.RegexMatch,
        "out", Some("data.csv")),
      uri(dst))
    assert(n == FileOps.CopyStats(2, 2, 0))
    assert(names(dst) == Set("out/data_1.csv", "out/data_2.csv"))
  }

  test("download regex SINGLE match still enumerates _1 (Always policy)") {
    val src = freshBucket("only.csv" -> "x")
    val dst = Files.createTempDirectory(root, "dl")
    Blueprints.download(spark,
      DownloadConfig(uri(src), "", "only.*", MatchType.RegexMatch,
        "", Some("got.csv")),
      uri(dst))
    assert(names(dst) == Set("got_1.csv"))
  }

  test("download exact match copies one file under its chosen name") {
    val src = freshBucket("f/data.csv" -> "hello")
    val dst = Files.createTempDirectory(root, "dl")
    val n = Blueprints.download(spark,
      DownloadConfig(uri(src), "f", "data.csv", MatchType.ExactMatch,
        "", None),
      uri(dst))
    assert(n == FileOps.CopyStats(1, 1, 0))
    assert(Files.readString(dst.resolve("data.csv")) == "hello")
  }

  // --- move: enumerate only when >1 match (move_file.py:185-191) ---

  test("move regex single match keeps the explicit name (IfMultiple)") {
    val src = freshBucket("a/x.txt" -> "1")
    val dst = Files.createTempDirectory(root, "mv")
    val n = Blueprints.move(spark,
      MoveConfig(uri(src), uri(dst), "a", "x.*", MatchType.RegexMatch,
        "", Some("moved.txt")))
    assert(n == FileOps.CopyStats(1, 1, 0))
    assert(names(dst) == Set("moved.txt"))
    assert(names(src) == Set.empty) // source deleted after verified copy
  }

  test("move regex multi-match enumerates and deletes sources") {
    val src = freshBucket("a/x1.txt" -> "1", "a/x2.txt" -> "2")
    val dst = Files.createTempDirectory(root, "mv")
    val n = Blueprints.move(spark,
      MoveConfig(uri(src), uri(dst), "a", "x.*", MatchType.RegexMatch,
        "", Some("m.txt")))
    assert(n == FileOps.CopyStats(2, 2, 0))
    assert(names(dst) == Set("m_1.txt", "m_2.txt"))
    assert(names(src) == Set.empty)
  }

  test("move is cross-bucket capable with exact match") {
    val src = freshBucket("k.bin" -> "k")
    val dst = Files.createTempDirectory(root, "mv")
    Blueprints.move(spark,
      MoveConfig(uri(src), uri(dst), "", "k.bin", MatchType.ExactMatch,
        "arch", None))
    assert(names(dst) == Set("arch/k.bin"))
    assert(!Files.exists(src.resolve("k.bin")))
  }

  // --- cross-SCHEME move: the two-bucket semantics (move_file.py:18-19)
  // exercised beyond file://→file:// — the mock:// scheme forces the
  // Hadoop stream path (no local nio fast path), which is the code that
  // runs for gs://→gs:// ---

  private def registerMockScheme(): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock.impl", classOf[MockSchemeFileSystem].getName)

  test("move crosses schemes: file:// source to mock:// destination bucket") {
    registerMockScheme()
    val src = freshBucket("a/x1.txt" -> "payload-1", "a/x2.txt" -> "payload-22")
    val dst = Files.createTempDirectory(root, "xmv")
    val n = Blueprints.move(spark,
      MoveConfig(uri(src), s"mock://$dst", "a", "x.*", MatchType.RegexMatch,
        "land", Some("m.txt")))
    assert(n == FileOps.CopyStats(2, 2, 0))
    // bytes landed on disk under the mock bucket, sources deleted
    assert(names(dst) == Set("land/m_1.txt", "land/m_2.txt"))
    assert(Files.readString(dst.resolve("land/m_1.txt")) == "payload-1")
    assert(names(src) == Set.empty)
  }

  test("move crosses schemes in reverse: mock:// source, file:// destination") {
    registerMockScheme()
    val src = freshBucket("deep/k.bin" -> "content-k")
    val dst = Files.createTempDirectory(root, "xmv2")
    Blueprints.move(spark,
      MoveConfig(s"mock://$src", uri(dst), "deep", "k.bin",
        MatchType.ExactMatch, "", None))
    assert(Files.readString(dst.resolve("k.bin")) == "content-k")
    assert(!Files.exists(src.resolve("deep/k.bin")))
  }

  test("verify-then-delete keeps the source when the cross-scheme copy lands short") {
    // the mock scheme reports any file whose name contains 'corrupt' one
    // byte short — the observable shape of a copy that failed mid-flight
    // (move_file.py:147-153 is copy+delete with NO verify; our guard is
    // the SURVEY §4-P4 hardening). The length verify must fail and the
    // source must survive.
    registerMockScheme()
    val src = freshBucket("a/corrupt.txt" -> "do-not-lose-me")
    val dst = Files.createTempDirectory(root, "xmv3")
    Blueprints.move(spark,
      MoveConfig(uri(src), s"mock://$dst", "a", "corrupt.txt",
        MatchType.ExactMatch, "", None))
    // destination write happened, but the verify saw a short object —
    // the source is NOT deleted (no silent data loss)
    assert(Files.exists(src.resolve("a/corrupt.txt")),
      "source deleted despite a failed copy verification")
    assert(Files.readString(src.resolve("a/corrupt.txt")) == "do-not-lose-me")
  }

  // --- remove (remove_file.py:138-166) ---

  test("remove regex deletes all matches, leaves the rest") {
    val b = freshBucket("l/old_1.log" -> "", "l/old_2.log" -> "", "l/keep.txt" -> "")
    val n = Blueprints.remove(spark,
      RemoveConfig(uri(b), "l", "old_.*[.]log", MatchType.RegexMatch))
    assert(n == 2)
    assert(names(b) == Set("l/keep.txt"))
  }

  test("remove exact deletes exactly one object") {
    val b = freshBucket("x.txt" -> "", "x.txt.bak" -> "")
    Blueprints.remove(spark, RemoveConfig(uri(b), "", "x.txt", MatchType.ExactMatch))
    assert(names(b) == Set("x.txt.bak"))
  }

  /** Spark jobs that `body` starts, counted through a job group. */
  private def jobs(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    org.apache.spark.graft.TestBus.drain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** `FileManifest.DriverRows` + 1 files `<dir>pNNNN.pad`, which no regex
    * below matches: a listing that holds them is above the driver bound,
    * so the op over it runs on the executors, its listing wave included.
    */
  private def padding(dir: String): Seq[(String, String)] =
    (0 to FileManifest.DriverRows).map(i => f"${dir}p$i%04d.pad" -> "p")

  private def padNames(dir: String): Set[String] = padding(dir).map(_._1).toSet

  test("regex download and remove stay within their Spark job budgets") {
    // one listing wave, at most one collision-check job and one sink job:
    // the check and the sink are plain RDD jobs over the same placed
    // rows, so the sink skips the placement stage the check already ran.
    // download = listing 1 + check 1 + sink 1; remove = listing 1 +
    // sink 1. No count-only or index-only jobs in between.
    val src = freshBucket(Seq("logs/top.csv" -> "t", "logs/d0/a.csv" -> "a",
      "logs/d0/b.csv" -> "b", "logs/d1/c.csv" -> "c") ++ padding("logs/pad/"): _*)
    val dst = Files.createTempDirectory(root, "dl")
    val downloadJobs = jobs(s"budget-download-$dst") {
      val st = Blueprints.download(spark,
        DownloadConfig(uri(src), "logs", ".*[.]csv", MatchType.RegexMatch,
          "out", None), uri(dst))
      assert(st == FileOps.CopyStats(4, 4, 0))
    }
    assert(names(dst) ==
      Set("out/top.csv", "out/a.csv", "out/b.csv", "out/c.csv"))
    val removeJobs = jobs(s"budget-remove-$src") {
      assert(Blueprints.remove(spark,
        RemoveConfig(uri(src), "logs", ".*[.]csv", MatchType.RegexMatch)) == 4)
    }
    assert(names(src) == padNames("logs/pad/"))
    assert(downloadJobs >= 1 && downloadJobs <= 3, s"regex download ran $downloadJobs jobs")
    assert(removeJobs >= 1 && removeJobs <= 2, s"regex remove ran $removeJobs jobs")
  }

  test("a flat regex upload and move each run one listing wave, the check and the sink") {
    // a flat folder above the driver bound is dropped by the driver and
    // listed by one wave; the collision check is one job and the sink one more
    val local = freshBucket(Seq("a.csv" -> "a", "b.csv" -> "b", "c.txt" -> "c") ++
      padding(""): _*)
    val bkt = freshBucket(padding(""): _*)
    val uploadJobs = jobs(s"budget-upload-$bkt") {
      assert(Blueprints.upload(spark,
        UploadConfig(uri(bkt), "", ".*[.]csv", MatchType.RegexMatch, "", None),
        uri(local)) == FileOps.CopyStats(2, 2, 0))
    }
    val moved = Files.createTempDirectory(root, "mv")
    val moveJobs = jobs(s"budget-move-$moved") {
      assert(Blueprints.move(spark,
        MoveConfig(uri(bkt), uri(moved), "", ".*[.]csv", MatchType.RegexMatch,
          "", None)) == FileOps.CopyStats(2, 2, 0))
    }
    assert(names(bkt) == padNames("") && names(moved) == Set("a.csv", "b.csv"))
    assert(uploadJobs >= 1 && uploadJobs <= 3, s"flat regex upload ran $uploadJobs jobs")
    assert(moveJobs >= 1 && moveJobs <= 3, s"flat regex move ran $moveJobs jobs")
  }

  test("a warm sync starts no copy or delete sink") {
    // two listings (one wave each) and the one diff-count job over the
    // cogroup of both listings; nothing is stale or extraneous
    val src = freshBucket(Seq("top.csv" -> "t", "d0/a.csv" -> "a", "d1/c.csv" -> "c") ++
      padding("pad/"): _*)
    val n = 3L + FileManifest.DriverRows + 1
    val mirror = Files.createTempDirectory(root, "warm")
    assert(FileOps.sync(spark, uri(src), "", uri(mirror), "").transferred == n)
    val warmJobs = jobs(s"budget-warm-sync-$mirror") {
      assert(FileOps.sync(spark, uri(src), "", uri(mirror), "",
        deleteExtraneous = true) == FileOps.SyncStats(n, 0, n, 0, 0))
    }
    assert(warmJobs >= 1 && warmJobs <= 3, s"warm sync ran $warmJobs jobs")
  }

  test("a content-verified sync of flat folders that repairs one object runs 5 jobs") {
    // a listing wave of each flat folder, the diff count, the range
    // compare and the copy of the one changed object: the compare and
    // the copy reuse the diff's shuffle output
    val src = freshBucket(Seq("a.txt" -> "alpha", "b.txt" -> "beta!", "c.txt" -> "c") ++
      padding(""): _*)
    val n = 3L + FileManifest.DriverRows + 1
    val mirror = Files.createTempDirectory(root, "verify")
    assert(FileOps.sync(spark, uri(src), "", uri(mirror), "").transferred == n)
    write(mirror.resolve("b.txt"), "betA!") // same size, other bytes
    val verifyJobs = jobs(s"budget-verify-sync-$mirror") {
      assert(FileOps.sync(spark, uri(src), "", uri(mirror), "",
        verifyContent = true) == FileOps.SyncStats(n, 1, n - 1, 0, 0))
    }
    assert(Files.readString(mirror.resolve("b.txt")) == "beta!")
    assert(verifyJobs >= 1 && verifyJobs <= 5, s"verified sync ran $verifyJobs jobs")
  }

  test("an enumerated regex download over a nested tree runs 4 jobs") {
    // listing wave 1, the enumeration sort's range sample 1, the sorted
    // partitions' row count 1 (the offsets), sink 1; no collision check:
    // Always-enumerated names are unique by construction. The Column-
    // based naming this replaced ran 10 here.
    val src = freshBucket(Seq("logs/top.csv" -> "t", "logs/d0/a.csv" -> "a",
      "logs/d0/b.csv" -> "b", "logs/d1/c.csv" -> "c", "logs/d1/skip.txt" -> "s") ++
      padding("logs/pad/"): _*)
    val dst = Files.createTempDirectory(root, "dl")
    val n = jobs(s"budget-enumerated-$dst") {
      assert(Blueprints.download(spark,
        DownloadConfig(uri(src), "logs", ".*[.]csv", MatchType.RegexMatch,
          "out", Some("part.csv")), uri(dst)) == FileOps.CopyStats(4, 4, 0))
    }
    // path order: d0/a, d0/b, d1/c, top
    assert((1 to 4).map(i => Files.readString(dst.resolve(s"out/part_$i.csv"))) ==
      Seq("a", "b", "c", "t"))
    assert(n >= 1 && n <= 4, s"enumerated regex download ran $n jobs")
  }

  test("explicit names enumerate before the first dot, in path order") {
    val src = freshBucket("in/b.bin" -> "2", "in/a.bin" -> "1", "in/sub/c.bin" -> "3")
    val plain = Files.createTempDirectory(root, "dl")
    Blueprints.download(spark, DownloadConfig(uri(src), "in", "[.]bin$",
      MatchType.RegexMatch, "", Some("x")), uri(plain))
    assert(names(plain) == Set("x_1", "x_2", "x_3"))
    assert(Files.readString(plain.resolve("x_3")) == "3") // in/sub/c.bin sorts last
    val dotted = Files.createTempDirectory(root, "dl")
    Blueprints.download(spark, DownloadConfig(uri(src), "in", "[.]bin$",
      MatchType.RegexMatch, "arch", Some("a.tar.gz")), uri(dotted))
    assert(names(dotted) ==
      Set("arch/a_1.tar.gz", "arch/a_2.tar.gz", "arch/a_3.tar.gz"))
    assert(Files.readString(dotted.resolve("arch/a_1.tar.gz")) == "1")
  }

  test("IfMultiple over a nested tree: one match keeps the name, several enumerate") {
    // nested, so the listing runs executor waves before the naming
    val src = freshBucket("a/d0/x1.txt" -> "1", "a/d1/x2.txt" -> "2",
      "a/d1/deep/y.txt" -> "y")
    val one = Files.createTempDirectory(root, "mv")
    assert(Blueprints.move(spark, MoveConfig(uri(src), uri(one), "a", "y[.]txt",
      MatchType.RegexMatch, "", Some("solo.txt"))) == FileOps.CopyStats(1, 1, 0))
    assert(names(one) == Set("solo.txt"))
    val many = Files.createTempDirectory(root, "mv")
    assert(Blueprints.move(spark, MoveConfig(uri(src), uri(many), "a", "x\\d",
      MatchType.RegexMatch, "m", Some("m.txt"))) == FileOps.CopyStats(2, 2, 0))
    assert(names(many) == Set("m/m_1.txt", "m/m_2.txt"))
    assert(Files.readString(many.resolve("m/m_2.txt")) == "2")
    assert(names(src).isEmpty)
  }

  test("regex blueprints and syncs run no SQL execution and no SQL job") {
    // the listing, regex filter, naming and sinks are plain RDD work:
    // no Catalyst plan is built, analysed or code-generated on the way
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val group = s"no-sql-${System.nanoTime()}"
    val (sqlRuns, allJobs, sqlJobs) = (new java.util.concurrent.atomic.AtomicInteger,
      new java.util.concurrent.atomic.AtomicInteger, new java.util.concurrent.atomic.AtomicInteger)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          sqlRuns.incrementAndGet()
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group) {
          allJobs.incrementAndGet()
          if (j.properties.getProperty("spark.sql.execution.id") != null)
            sqlJobs.incrementAndGet()
        }
    }
    // c.csv is larger than the driver moves (32 MiB), so every copy, the
    // cold sync and the content compare run as Spark jobs
    val src = freshBucket("logs/top.csv" -> "t", "logs/d0/a.csv" -> "a",
      "logs/d1/b.csv" -> "bb", "logs/d1/deep/c.csv" -> "c" * ((32 << 20) + 1))
    val local = Files.createTempDirectory(root, "nosql")
    val bkt = Files.createTempDirectory(root, "nosql-bkt")
    val arch = Files.createTempDirectory(root, "nosql-arch")
    val mirror = Files.createTempDirectory(root, "nosql-mirror")
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      // a nested-tree regex download (listing waves run), enumerated
      Blueprints.download(spark, DownloadConfig(uri(src), "logs", ".*[.]csv",
        MatchType.RegexMatch, "dl", Some("f.csv")), uri(local))
      Blueprints.upload(spark, UploadConfig(uri(bkt), "", "f_.*[.]csv",
        MatchType.RegexMatch, "up", None), uri(local))
      Blueprints.move(spark, MoveConfig(uri(bkt), uri(arch), "up", ".*",
        MatchType.RegexMatch, "moved", None))
      Blueprints.remove(spark, RemoveConfig(uri(arch), "moved", "f_[12]",
        MatchType.RegexMatch))
      FileOps.sync(spark, uri(src), "logs", uri(mirror), "m")
      FileOps.sync(spark, uri(src), "logs", uri(mirror), "m")
      write(mirror.resolve("m/top.csv"), "T")
      assert(FileOps.sync(spark, uri(src), "logs", uri(mirror), "m",
        verifyContent = true) == FileOps.SyncStats(4, 1, 3, 0, 0))
    } finally {
      sc.clearJobGroup()
      org.apache.spark.graft.TestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(names(arch) == Set("moved/f_3.csv", "moved/f_4.csv"))
    assert(allJobs.get > 0, "the listener saw none of the ops' jobs")
    assert(sqlRuns.get == 0 && sqlJobs.get == 0,
      s"${sqlRuns.get} SQL executions, ${sqlJobs.get} of ${allJobs.get} jobs under one")
  }

  // --- exit codes (exit_codes.py:1-3, uniform per SURVEY §2A-O12) ---

  test("missing bucket raises InvalidBucket with exit code 201") {
    val e = intercept[BlueprintError.InvalidBucket] {
      Blueprints.download(spark,
        DownloadConfig(s"file://$root/nope", "", "x", MatchType.ExactMatch, "", None),
        uri(root))
    }
    assert(e.exitCode == BlueprintError.ExitInvalidBucket)
  }

  test("missing file raises FileNotFound with exit code 205 (exact)") {
    val b = freshBucket("real.txt" -> "")
    val e = intercept[BlueprintError.FileNotFound] {
      Blueprints.remove(spark, RemoveConfig(uri(b), "", "ghost.txt", MatchType.ExactMatch))
    }
    assert(e.exitCode == BlueprintError.ExitFileNotFound)
  }

  test("zero regex matches raises FileNotFound with exit code 205") {
    val b = freshBucket("real.txt" -> "")
    val e = intercept[BlueprintError.FileNotFound] {
      Blueprints.remove(spark, RemoveConfig(uri(b), "", "zzz.*", MatchType.RegexMatch))
    }
    assert(e.exitCode == BlueprintError.ExitFileNotFound)
  }

  test("invalid regex raises BadRegex with exit code 205 (move_file.py:174-183)") {
    val b = freshBucket("real.txt" -> "")
    val e = intercept[BlueprintError.BadRegex] {
      Blueprints.remove(spark, RemoveConfig(uri(b), "", "[unclosed", MatchType.RegexMatch))
    }
    assert(e.exitCode == BlueprintError.ExitFileNotFound)
  }

  test("unreadable credentials keyfile raises InvalidCredentials (200)") {
    val e = intercept[BlueprintError.InvalidCredentials] {
      Blueprints.configureCredentials(spark, "/no/such/keyfile.json")
    }
    assert(e.exitCode == BlueprintError.ExitInvalidCredentials)
  }

  test("inline-JSON credentials write a keyfile into hadoop conf") {
    Blueprints.configureCredentials(spark, """{"type":"service_account"}""")
    val hc = spark.sparkContext.hadoopConfiguration
    val kf = hc.get("google.cloud.auth.service.account.json.keyfile")
    assert(kf != null && Files.readString(Paths.get(kf)).contains("service_account"))
    assert(hc.get("fs.gs.outputstream.upload.chunk.size") ==
      (128 * 1024 * 1024).toString) // upload_file.py:12
  }

  test("malformed brace-wrapped credentials are treated as a path, not JSON") {
    // reference behavior: json.loads fails -> value is a keyfile path
    // (download_file.py:49-55); '{not json}' is an unreadable path => 200
    val e = intercept[BlueprintError.InvalidCredentials] {
      Blueprints.configureCredentials(spark, "{not json}")
    }
    assert(e.exitCode == BlueprintError.ExitInvalidCredentials)
  }

  test("JSON credentials with trailing garbage are a path, not JSON") {
    // json.loads rejects trailing content after the value, so the
    // reference falls through to the path branch; Jackson's default
    // readTree would stop at '}' and accept — FAIL_ON_TRAILING_TOKENS
    // restores parity
    val e = intercept[BlueprintError.InvalidCredentials] {
      Blueprints.configureCredentials(spark, """{"a":1}garbage""")
    }
    assert(e.exitCode == BlueprintError.ExitInvalidCredentials)
  }

  // --- upload semantics (upload_file.py:154-174) ---

  test("upload regex matches the ABSOLUTE local path, not the relative one") {
    val src = freshBucket("in/report.csv" -> "r")
    val dst = Files.createTempDirectory(root, "up")
    // pattern anchored on the absolute tmp prefix: the reference matches
    // it (glob builds cwd-absolute strings); relative-only matching would
    // find nothing
    val n = Blueprints.upload(spark,
      UploadConfig(uri(dst), "", s"^$src/in/.*[.]csv", MatchType.RegexMatch,
        "", Some("up.csv")),
      uri(src))
    assert(n == FileOps.CopyStats(1, 1, 0))
    assert(names(dst) == Set("up_1.csv"))
  }

  test("upload excludes directories from the manifest (SURVEY §2A-O6)") {
    val src = freshBucket("d1/f.txt" -> "x")
    Files.createDirectories(src.resolve("d1/empty-subdir"))
    val dst = Files.createTempDirectory(root, "up")
    val n = Blueprints.upload(spark,
      UploadConfig(uri(dst), "", ".*", MatchType.RegexMatch, "", None),
      uri(src))
    assert(n == FileOps.CopyStats(1, 1, 0)) // only the file; the directories never enter the manifest
    assert(names(dst) == Set("f.txt"))
  }

  // --- CLI flag parsing (argparse parity) ---

  test("parseFlags: strict --flag value pairs; dangling or bare tokens are usage errors") {
    import graft.blueprints.Cli
    assert(Cli.parseFlags(Array("--a", "1", "--b", "x y")) ==
      Map("a" -> "1", "b" -> "x y"))
    val e1 = intercept[BlueprintError.UsageError] {
      Cli.parseFlags(Array("--a", "1", "--dangling"))
    }
    assert(e1.exitCode == 2)
    intercept[BlueprintError.UsageError] {
      Cli.parseFlags(Array("bare", "value"))
    }
    val e2 = intercept[BlueprintError.UsageError] {
      Cli.required(Map.empty, "bucket-name")
    }
    assert(e2.getMessage.contains("--bucket-name"))
  }

  // --- exact-match rename + same-bucket move ---

  test("download exact match with explicit destination name renames (no enumeration)") {
    val src = freshBucket("in/raw.bin" -> "z")
    val dst = Files.createTempDirectory(root, "dl")
    Blueprints.download(spark,
      DownloadConfig(uri(src), "in", "raw.bin", MatchType.ExactMatch,
        "nest/ed", Some("renamed.bin")),
      uri(dst))
    assert(names(dst) == Set("nest/ed/renamed.bin"))
  }

  test("move within one bucket relocates between folders") {
    val b = freshBucket("a/f.txt" -> "m")
    Blueprints.move(spark,
      MoveConfig(uri(b), uri(b), "a", "f.txt", MatchType.ExactMatch,
        "b", None))
    assert(names(b) == Set("b/f.txt"))
  }

  test("filenames with spaces and unicode survive the whole pipeline") {
    val src = freshBucket("dir/my file (1).csv" -> "s", "dir/ünïcode.dat" -> "u")
    val dst = Files.createTempDirectory(root, "dl")
    val n = Blueprints.download(spark,
      DownloadConfig(uri(src), "dir", ".*", MatchType.RegexMatch, "", None),
      uri(dst))
    assert(n == FileOps.CopyStats(2, 2, 0))
    assert(names(dst) == Set("my file (1).csv", "ünïcode.dat"))
    assert(Files.readString(dst.resolve("ünïcode.dat")) == "u")
  }

  // --- collision guard (executor-parallel last-wins is data loss) ---

  test("duplicate basenames without explicit name raise DestinationCollision") {
    val src = freshBucket("a/same.txt" -> "1", "b/same.txt" -> "2")
    val dst = Files.createTempDirectory(root, "dl")
    val e = intercept[BlueprintError.DestinationCollision] {
      Blueprints.download(spark,
        DownloadConfig(uri(src), "", "same", MatchType.RegexMatch, "", None),
        uri(dst))
    }
    assert(e.exitCode == BlueprintError.ExitDestinationCollision)
    // and nothing was copied before the failure
    assert(names(dst) == Set.empty)
  }

  // --- sync: incremental mirror moves only the diff ---

  test("sync copies missing + size-changed files only; re-sync moves nothing") {
    import graft.operators.FileOps
    val src = freshBucket(
      "a.txt" -> "alpha", "sub/b.txt" -> "bb", "c.txt" -> "c")
    val dst = Files.createTempDirectory(root, "sync")

    val first = FileOps.sync(spark, uri(src), "", uri(dst), "")
    assert(first.scanned == 3 && first.transferred == 3
      && first.upToDate == 0 && first.deleted == 0, s"first: $first")
    assert(names(dst) == Set("a.txt", "sub/b.txt", "c.txt"))

    // idempotence: an immediate re-sync moves zero bytes
    val second = FileOps.sync(spark, uri(src), "", uri(dst), "")
    assert(second.transferred == 0 && second.upToDate == 3
      && second.retrySkipped == 0,
      s"re-sync must be a no-op: $second")

    // change one file's size, add one, plant one extraneous dest file
    write(src.resolve("a.txt"), "alpha-changed")
    write(src.resolve("d.txt"), "dd")
    write(dst.resolve("zombie.txt"), "stale")
    val third = FileOps.sync(spark, uri(src), "", uri(dst), "",
      deleteExtraneous = true)
    assert(third.transferred == 2, s"only the diff moves: $third")
    assert(third.upToDate == 2 && third.deleted == 1, s"third: $third")
    assert(names(dst) == Set("a.txt", "sub/b.txt", "c.txt", "d.txt"))
    assert(Files.readString(dst.resolve("a.txt")) == "alpha-changed")
  }

  test("sync verifyContent catches the same-size content change the size diff is blind to") {
    import graft.operators.FileOps
    val src = freshBucket("a.txt" -> "alpha", "b.txt" -> "beta!")
    val dst = Files.createTempDirectory(root, "syncc")
    assert(FileOps.sync(spark, uri(src), "", uri(dst), "")
      .transferred == 2)
    // rot one destination byte WITHOUT changing its size: the plain
    // size diff must call it fresh, the digest pass must not
    write(dst.resolve("a.txt"), "aXpha")
    val blind = FileOps.sync(spark, uri(src), "", uri(dst), "")
    assert(blind.transferred == 0 && blind.upToDate == 2,
      s"size-only sync must be blind to the rot: $blind")
    val checked = FileOps.sync(spark, uri(src), "", uri(dst), "",
      verifyContent = true)
    assert(checked.transferred == 1 && checked.upToDate == 1,
      s"digest sync must re-copy exactly the rotted file: $checked")
    assert(Files.readString(dst.resolve("a.txt")) == "alpha")
    // and a verified re-sync is a no-op again
    val again = FileOps.sync(spark, uri(src), "", uri(dst), "",
      verifyContent = true)
    assert(again.transferred == 0 && again.upToDate == 2,
      s"verified re-sync must be a no-op: $again")
  }

  test("sync verifyContent compares multi-range objects range by range") {
    import graft.operators.FileOps
    spark.sparkContext.hadoopConfiguration
      .set("fs.counting.impl", classOf[CountingFileSystem].getName)
    // two compare ranges (32 MiB each) plus a partial third
    val size = 2 * (32 << 20) + 1024
    val bytes = Array.tabulate[Byte](size)(i => (i ^ (i >>> 13)).toByte)
    val src = freshBucket("empty.bin" -> "")
    Files.write(src.resolve("big.bin"), bytes)
    Files.write(src.resolve("twin.bin"), bytes)
    val dst = Files.createTempDirectory(root, "syncr")
    // the mirror is a Hadoop-stream scheme, the source a nio one
    val mirror = s"counting://$dst"
    try {
      assert(FileOps.sync(spark, uri(src), "", mirror, "").transferred == 3)
      // rot one byte in big.bin's last, partial range, keeping its size
      val raf = new java.io.RandomAccessFile(dst.resolve("big.bin").toFile, "rw")
      try { raf.seek(size - 10L); val b = raf.read(); raf.seek(size - 10L); raf.write(b ^ 0xff) }
      finally raf.close()
      CountingFileSystem.reset()
      val checked = FileOps.sync(spark, uri(src), "", mirror, "",
        verifyContent = true)
      assert(checked == FileOps.SyncStats(3, 1, 2, 0, 0),
        s"exactly the rotted object is re-copied: $checked")
      assert(Files.mismatch(src.resolve("big.bin"), dst.resolve("big.bin")) == -1L)
      val calls = CountingFileSystem.rpcCalls.asScala.map { case (k, v) => k -> v.get }
      // each range opens the mirror side once (3 per non-empty object;
      // the zero-length pair is never opened), and only big.bin is
      // re-created
      assert(calls.get("open").contains(6) && calls.get("create").contains(1),
        s"mirror calls: $calls")
      val again = FileOps.sync(spark, uri(src), "", mirror, "",
        verifyContent = true)
      assert(again == FileOps.SyncStats(3, 0, 3, 0, 0),
        s"verified re-sync must be a no-op: $again")
    } finally Seq(src, dst).foreach { d => // 260 MB of fixtures
      Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  test("sync maps across differing prefixes") {
    import graft.operators.FileOps
    val src = freshBucket(
      "data/x.txt" -> "x", "data/deep/y.txt" -> "yy", "other/z.txt" -> "z")
    val dst = Files.createTempDirectory(root, "syncp")
    val s = FileOps.sync(spark, uri(src), "data", uri(dst), "mirror")
    assert(s.scanned == 2 && s.transferred == 2, s"prefix sync: $s")
    assert(names(dst) == Set("mirror/x.txt", "mirror/deep/y.txt"),
      s"got ${names(dst)}")
  }

  test("sync strips prefixes that hold regex metacharacters literally") {
    import graft.operators.FileOps
    val src = freshBucket("a+b.(c)/x.txt" -> "x", "a+b.(c)/deep/y.txt" -> "yy",
      "a+b.(c)z/other.txt" -> "o", "aab.(c)/near.txt" -> "n")
    val dst = Files.createTempDirectory(root, "syncm")
    val cold = FileOps.sync(spark, uri(src), "a+b.(c)", uri(dst), "m[1]")
    assert(cold == FileOps.SyncStats(2, 2, 0, 0, 0), s"cold: $cold")
    assert(names(dst) == Set("m[1]/x.txt", "m[1]/deep/y.txt"))
    val warm = FileOps.sync(spark, uri(src), "a+b.(c)", uri(dst), "m[1]")
    assert(warm == FileOps.SyncStats(2, 0, 2, 0, 0), s"warm: $warm")
    write(dst.resolve("m[1]/zombie.txt"), "z")
    val pruned = FileOps.sync(spark, uri(src), "a+b.(c)", uri(dst), "m[1]",
      deleteExtraneous = true)
    assert(pruned == FileOps.SyncStats(2, 0, 2, 0, 1), s"pruned: $pruned")
    assert(names(dst) == Set("m[1]/x.txt", "m[1]/deep/y.txt"))
  }

  test("sync creates a missing destination root (rsync semantics); source typo still guards") {
    import graft.operators.FileOps
    val src = freshBucket("a.txt" -> "a")
    val dst = root.resolve("does-not-exist-yet-" + System.nanoTime())
    val s = FileOps.sync(spark, uri(src), "", uri(dst), "")
    assert(s.transferred == 1 && names(dst) == Set("a.txt"), s"$s")
    // the SOURCE side keeps the InvalidBucket typo guard
    intercept[BlueprintError.InvalidBucket] {
      FileOps.sync(spark, uri(root.resolve("no-such-src")), "", uri(dst), "")
    }
  }

  // --- gs:// scheme contract via the in-JVM mock connector ---

  test("gs:// end-to-end: credential conf + all four blueprints + sync on the mock scheme") {
    // VERDICT r12 ask #7: the connector-conf path (configureCredentials,
    // chunk-size conf) and every pipeline, exercised on the gs: scheme
    // itself instead of trusted via file:// parity. GsMockFileSystem
    // maps gs://<bucket>/<p> onto a local root; everything above the
    // byte transport — scheme resolution, listing, rename, delete —
    // is the code a real deployment runs.
    val gsRoot = Files.createTempDirectory(root, "gsmock")
    val hc = spark.sparkContext.hadoopConfiguration
    // snapshot every key this test (or configureCredentials inside it)
    // writes to the SHARED SparkContext conf, so the finally can
    // restore all of them — a leaked credential/chunk-size key would
    // contaminate every later test reading those keys (ADVICE r13)
    val touchedKeys = Seq("fs.gs.impl", "fs.gs.impl.disable.cache",
      "fs.gs.mock.root", "google.cloud.auth.service.account.enable",
      "google.cloud.auth.service.account.json.keyfile",
      "fs.gs.outputstream.upload.chunk.size")
    val savedConf = touchedKeys.map(k => k -> Option(hc.get(k))).toMap
    hc.set("fs.gs.impl", classOf[GsMockFileSystem].getName)
    hc.set("fs.gs.impl.disable.cache", "true")
    hc.set("fs.gs.mock.root", gsRoot.toString)
    try {
      // inline-JSON credential sniff: keyfile written + connector keys set
      Blueprints.configureCredentials(spark,
        """{"type": "service_account", "project_id": "p"}""")
      assert(new java.io.File(
        hc.get("google.cloud.auth.service.account.json.keyfile")).canRead,
        "sniffed inline JSON must land in a readable keyfile")
      assert(hc.get("google.cloud.auth.service.account.enable") == "true")
      assert(hc.get("fs.gs.outputstream.upload.chunk.size") ==
        (128 * 1024 * 1024).toString, "128 MiB chunk conf (upload_file.py:12)")

      write(gsRoot.resolve("bucket-a/data/a.csv"), "a1")
      write(gsRoot.resolve("bucket-a/data/b.csv"), "b2")
      write(gsRoot.resolve("bucket-a/data/deep/c.csv"), "c3")

      // download: gs -> local, regex always-enumerate
      val dl = Files.createTempDirectory(root, "gsdl")
      val st = Blueprints.download(spark,
        DownloadConfig("gs://bucket-a", "data", ".*[.]csv",
          MatchType.RegexMatch, "out", Some("got.csv")),
        uri(dl))
      assert(st.transferred == 3, s"download moved $st")
      assert(names(dl) == Set("out/got_1.csv", "out/got_2.csv",
        "out/got_3.csv"))

      // upload: local -> gs
      val up = freshBucket("u1.txt" -> "u-one", "u2.txt" -> "u-two")
      Blueprints.upload(spark,
        UploadConfig("gs://bucket-b", "", "u.*[.]txt",
          MatchType.RegexMatch, "in"),
        uri(up))
      assert(names(gsRoot.resolve("bucket-b")).exists(_.endsWith(".txt")),
        s"upload landed nothing: ${names(gsRoot.resolve("bucket-b"))}")
      assert(Files.readString(
        gsRoot.resolve("bucket-a/data/a.csv")) == "a1")

      // move: gs bucket-a -> gs bucket-c (cross-bucket copy+verify+delete)
      Blueprints.move(spark,
        MoveConfig("gs://bucket-a", "gs://bucket-c", "data", "a.csv",
          MatchType.ExactMatch, "moved"))
      assert(Files.readString(
        gsRoot.resolve("bucket-c/moved/a.csv")) == "a1")
      assert(!Files.exists(gsRoot.resolve("bucket-a/data/a.csv")),
        "move must delete the source after the verified copy")

      // sync: gs -> gs, diff-only on the second pass
      val s1 = FileOps.sync(spark, "gs://bucket-a", "data",
        "gs://bucket-d", "mirror")
      assert(s1.transferred == 2, s"cold sync: $s1") // a.csv moved away
      val s2 = FileOps.sync(spark, "gs://bucket-a", "data",
        "gs://bucket-d", "mirror")
      assert(s2.transferred == 0 && s2.upToDate == 2, s"warm sync: $s2")
      assert(Files.readString(
        gsRoot.resolve("bucket-d/mirror/deep/c.csv")) == "c3")

      // remove: gs regex delete
      val removed = Blueprints.remove(spark,
        RemoveConfig("gs://bucket-d", "mirror", ".*[.]csv",
          MatchType.RegexMatch))
      assert(removed == 2, s"remove deleted $removed")
      assert(names(gsRoot.resolve("bucket-d")).isEmpty)

      // exit-code mapping holds on the scheme too: missing bucket
      val e = intercept[BlueprintError.InvalidBucket] {
        Blueprints.download(spark,
          DownloadConfig("gs://no-such-bucket", "", "x.csv",
            MatchType.ExactMatch), uri(dl))
      }
      assert(e.exitCode == BlueprintError.ExitInvalidBucket)
    } finally {
      savedConf.foreach {
        case (k, Some(v)) => hc.set(k, v)
        case (k, None) => hc.unset(k)
      }
    }
  }
}
