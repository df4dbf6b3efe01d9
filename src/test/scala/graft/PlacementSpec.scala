package graft

import java.nio.file.{FileVisitOption, FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import org.apache.spark.graft.TestBus
import graft.blueprints.Blueprints
import graft.core._
import graft.operators.{FileOps, Q}
import graft.sources.{FileEntry, FileManifest}

/** The two placements of a file op. A listing of at most
  * `FileManifest.DriverRows` entries is held on the driver, and its ops
  * run their rows there with no Spark job; a larger one lists its deeper
  * levels in executor BFS waves and runs its ops as Spark jobs. Both give
  * the same names, bytes, stats and errors. A driver-placed op keeps more
  * store calls in flight than there are cores, and stops when its thread
  * is interrupted.
  */
class PlacementSpec extends SparkSpec {

  private def uri(p: Path): String = s"file://$p"

  private def bucket(files: (String, String)*): Path = {
    val b = Files.createTempDirectory("graft-place")
    files.foreach { case (rel, c) =>
      val p = b.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, c)
    }
    b
  }

  /** Relative path -> content of every regular file under `dir`. */
  private def tree(dir: Path): Map[String, String] =
    if (!Files.exists(dir)) Map.empty
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readString(p)).toMap

  /** The ids of the Spark jobs that `body` starts, through a job group. */
  private def jobsOf(group: String)(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    TestBus.drain(sc)
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }

  /** A tree above the driver bound: 4 top dirs of 250 files each, which
    * fill the driver's 1 000 entries exactly, and 2 subdirectories of 2
    * files under each, so the 8 subdirectories are left to one executor
    * wave and no directory is dropped half-listed.
    */
  private def largeTree(): Path = bucket((for {
    d <- 0 until 4
    f <- 0 until 250
  } yield f"d$d/d${d}_f$f%03d.dat" -> s"$d-$f") ++ (for {
    d <- 0 until 4
    s <- 0 until 2
    f <- 0 until 2
  } yield f"d$d/s$s/d${d}_s${s}_f$f.dat" -> s"$d-$s-$f"): _*)

  test("small flat and nested trees: blueprints and syncs run no Spark job") {
    for (nested <- Seq(false, true)) {
      val files = (0 until 12).map(i =>
        (if (nested) s"logs/d${i % 3}/s${i % 2}/f$i.csv" else s"logs/f$i.csv") -> s"v$i")
      val src = bucket(files: _*)
      val local = Files.createTempDirectory("graft-place-local")
      val stage = Files.createTempDirectory("graft-place-stage")
      val arch = Files.createTempDirectory("graft-place-arch")
      val mirror = Files.createTempDirectory("graft-place-mirror")
      val ops = Seq[(String, () => Unit)](
        "download" -> (() => assert(Blueprints.download(spark,
          DownloadConfig(uri(src), "logs", "f\\d+[.]csv", MatchType.RegexMatch,
            "dl", Some("x.csv")), uri(local)) == FileOps.CopyStats(12, 12, 0))),
        "upload" -> (() => assert(Blueprints.upload(spark,
          UploadConfig(uri(stage), "dl", "x_.*", MatchType.RegexMatch, "up", None),
          uri(local)) == FileOps.CopyStats(12, 12, 0))),
        "move" -> (() => assert(Blueprints.move(spark,
          MoveConfig(uri(stage), uri(arch), "up", ".*", MatchType.RegexMatch,
            "moved", None)) == FileOps.CopyStats(12, 12, 0))),
        "remove" -> (() => assert(Blueprints.remove(spark,
          RemoveConfig(uri(arch), "moved", "x_[0-9]+", MatchType.RegexMatch)) == 12)),
        "cold sync" -> (() => assert(FileOps.sync(spark, uri(src), "logs",
          uri(mirror), "m") == FileOps.SyncStats(12, 12, 0, 0, 0))),
        "warm sync" -> (() => assert(FileOps.sync(spark, uri(src), "logs",
          uri(mirror), "m", deleteExtraneous = true) ==
          FileOps.SyncStats(12, 0, 12, 0, 0))))
      for ((name, op) <- ops) {
        val jobs = jobsOf(s"zero-$name-$nested-$src")(op())
        assert(jobs.isEmpty, s"$name (nested=$nested) ran ${jobs.size} Spark jobs")
      }
      assert(tree(local.resolve("dl")).size == 12 && tree(arch).isEmpty &&
        tree(stage).isEmpty)
      assert(tree(mirror.resolve("m")) ==
        files.map { case (p, c) => p.stripPrefix("logs/") -> c }.toMap)
    }
  }

  /** Whether a scan's listing is held on the driver. */
  private def held(m: FileManifest.ScannedManifest): Boolean =
    m.rows.isInstanceOf[FileOps.Held[_]]

  /** The ids of the RDDs persisted now. */
  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a listing above the driver bound lists the rest in executor waves, each dir once") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.counting.impl", classOf[CountingFileSystem].getName)
    val b = largeTree()
    assert(tree(b).size > FileManifest.DriverRows)
    CountingFileSystem.reset()
    val before = persisted()
    var scanned: FileManifest.ScannedManifest = null
    val jobs = jobsOf(s"waves-$b") {
      scanned = FileManifest.scanManaged(spark, s"counting://$b")
    }
    try {
      assert(!held(scanned), "a listing above the bound stayed on the driver")
      assert(jobs.nonEmpty, "no BFS wave ran")
      val tracker = spark.sparkContext.statusTracker
      jobs.foreach { j =>
        val tasks = tracker.getJobInfo(j).get.stageIds.map(s => tracker.getStageInfo(s).get.numTasks)
        assert(tasks.forall(_ > 1), s"wave job $j ran stages of $tasks tasks")
      }
      val rows = scanned.rdd.collect()
      assert(rows.length == 1016 && rows.map(_.path).distinct.length == 1016)
      val lists = CountingFileSystem.listCalls.asScala.map { case (k, v) => k -> v.get }
      // the root, 4 top dirs and 8 subdirectories, each listed once
      assert(lists.size == 13 && lists.values.forall(_ == 1), s"list calls: $lists")
      assert((persisted() -- before).nonEmpty, "the waves persisted nothing")
    } finally scanned.release()
    assert((persisted() -- before).isEmpty, "release() left wave caches persisted")
  }

  /** The files `Files.walkFileTree` finds under `b`, following links: it
    * does not enter a directory whose real path is already on its own
    * path, and reports that as a failure, skipped here like a broken link.
    */
  private def walked(b: Path): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    Files.walkFileTree(b, java.util.EnumSet.of(FileVisitOption.FOLLOW_LINKS), Int.MaxValue,
      new SimpleFileVisitor[Path] {
        override def visitFile(p: Path, a: BasicFileAttributes): FileVisitResult = {
          if (a.isRegularFile) out += b.relativize(p).toString
          FileVisitResult.CONTINUE
        }
        override def visitFileFailed(p: Path, e: java.io.IOException): FileVisitResult =
          FileVisitResult.CONTINUE
      })
    out.sorted.toSeq
  }

  /** A one-link cycle under `dir`: `a.dat`, `d/x.dat` and `d/loop -> d`. */
  private def oneLinkCycle(dir: Path): Path = {
    Files.createDirectories(dir.resolve("d"))
    Files.writeString(dir.resolve("a.dat"), "a")
    Files.writeString(dir.resolve("d/x.dat"), "x")
    Files.createSymbolicLink(dir.resolve("d/loop"), dir.resolve("d"))
    dir
  }

  /** A two-link cycle under `dir`: `p/a.dat`, `q/b.dat`, `p/l1 -> q` and
    * `q/l2 -> p`.
    */
  private def twoLinkCycle(dir: Path): Path = {
    Seq("p", "q").foreach(d => Files.createDirectories(dir.resolve(d)))
    Files.writeString(dir.resolve("p/a.dat"), "a")
    Files.writeString(dir.resolve("q/b.dat"), "b")
    Files.createSymbolicLink(dir.resolve("p/l1"), dir.resolve("q"))
    Files.createSymbolicLink(dir.resolve("q/l2"), dir.resolve("p"))
    dir
  }

  test("a level wider than the driver bound lists in waves, each dir once, following links, cutting cycles") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.counting.impl", classOf[CountingFileSystem].getName)
    // more top dirs than the driver lists, so the scan goes from the root
    // to a wave of the top dirs and a wave of the deep dirs under 4 of
    // them, which hold a file and a link to one
    val b = Files.createTempDirectory("graft-place-deep")
    val width = FileManifest.DriverRows + 1
    (0 until width).foreach(d => Files.createDirectories(b.resolve(f"d$d%04d")))
    val target = Files.createTempFile("graft-place-target", ".dat")
    Files.writeString(target, "linked")
    (0 until 4).foreach { d =>
      val deep = b.resolve(f"d$d%04d/deep")
      Files.createDirectories(deep)
      Files.writeString(deep.resolve("f.dat"), s"$d")
      Files.createSymbolicLink(deep.resolve("link.dat"), target)
    }
    val expected = (0 until 4).flatMap(d =>
      Seq(f"d$d%04d/deep/f.dat", f"d$d%04d/deep/link.dat")).sorted
    /** The scan's entries, after checking that it ran `waves` wave jobs
      * (none: held on the driver) and that release() frees their caches.
      */
    def check(root: String, waves: Int): Seq[FileEntry] = {
      val before = persisted()
      var scanned: FileManifest.ScannedManifest = null
      val jobs = jobsOf(s"waves-$root") {
        scanned = FileManifest.scanManaged(spark, root)
      }
      val rows = try {
        assert(jobs.size == waves && held(scanned) == (waves == 0),
          s"$root: ${jobs.size} wave jobs, held ${held(scanned)}")
        if (waves > 0) assert((persisted() -- before).nonEmpty, s"$root: the waves persisted nothing")
        scanned.rdd.collect().toSeq.sortBy(_.path)
      } finally scanned.release()
      assert((persisted() -- before).isEmpty, s"$root: release() left the waves persisted")
      rows
    }
    CountingFileSystem.reset()
    val counted = check(s"counting://$b", 2)
    assert(counted.map(_.path) == expected, counted)
    val lists = CountingFileSystem.listCalls.asScala.map { case (k, v) => k -> v.get }
    // the root, every top dir and the 4 deep dirs, each listed once
    assert(lists.size == 1 + width + 4 && lists.values.forall(_ == 1),
      s"listed more than once: ${lists.filter(_._2 > 1)}")
    // the nio listing follows links and cuts a link back to an ancestor
    Files.createSymbolicLink(b.resolve("d0000/deep/loop"), b.resolve("d0000"))
    val linked = check(s"file://$b", 2)
    assert(linked.map(_.path) == expected, linked)
    assert(linked.filter(_.name == "link.dat").forall(_.size == 6))
    // walkFileTree's rows: held, the two cycles give 2 and 4; above the
    // bound (three waves: the s dirs, the cycles' dirs, the links into
    // q and p), each real file once under its own path, and the two-link
    // cycle's files once more through the link into their directory
    val large = largeTree()
    oneLinkCycle(large.resolve("d0/s0"))
    twoLinkCycle(large.resolve("d1/s0"))
    for ((dir, rows, waves) <- Seq((oneLinkCycle(bucket()), 2, 0),
        (twoLinkCycle(bucket()), 4, 0), (large, 1016 + 6, 3))) {
      val got = check(s"file://$dir", waves).map(_.path)
      assert(got.length == rows && got == walked(dir), s"$dir: $got")
      assert(got.distinct == got && tree(dir).keySet.subsetOf(got.toSet),
        s"$dir: a real file is missing or listed twice under one path")
    }
  }

  test("a directory or a root of more files than the driver bound is not held") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.counting.impl", classOf[CountingFileSystem].getName)
    val n = FileManifest.DriverRows + 1
    for (under <- Seq("big/", "")) {
      val b = bucket(((0 until n).map(f => f"${under}f$f%04d.dat" -> "x") :+
        ("small/a.dat" -> "a")): _*)
      val paths = tree(b).keySet
      // a non-recursive scan of a root without files has nothing to drop
      for (recursive <- if (under.isEmpty) Seq(true, false) else Seq(true)) {
        CountingFileSystem.reset()
        val scanned = FileManifest.scanManaged(spark, s"counting://$b", recursive = recursive)
        try {
          assert(!held(scanned), s"$under recursive=$recursive: held on the driver")
          val rows = scanned.rdd.collect().map(_.path)
          val want = if (recursive) paths else paths.filterNot(_.contains('/'))
          assert(rows.length == want.size && rows.toSet == want, s"$under recursive=$recursive")
          val lists = CountingFileSystem.listCalls.asScala.map { case (k, v) => k -> v.get }
          // a directory the driver dropped at its bound is listed once more
          assert(lists.values.forall(c => c >= 1 && c <= 2), s"list calls: $lists")
        } finally scanned.release()
      }
    }
  }

  test("above the driver bound, blueprints and syncs keep their executor job budgets") {
    val src = largeTree()
    val n = tree(src).size.toLong
    val dst = Files.createTempDirectory("graft-place-dl")
    val download = jobsOf(s"big-download-$dst") {
      assert(Blueprints.download(spark, DownloadConfig(uri(src), "", "[.]dat$",
        MatchType.RegexMatch, "out", None), uri(dst)) == FileOps.CopyStats(n, n, 0))
    }
    assert(tree(dst.resolve("out")).size == n)
    val mirror = Files.createTempDirectory("graft-place-sync")
    assert(FileOps.sync(spark, uri(src), "", uri(mirror), "").transferred == n)
    val warm = jobsOf(s"big-warm-sync-$mirror") {
      assert(FileOps.sync(spark, uri(src), "", uri(mirror), "") ==
        FileOps.SyncStats(n, 0, n, 0, 0))
    }
    val remove = jobsOf(s"big-remove-$src") {
      assert(Blueprints.remove(spark,
        RemoveConfig(uri(src), "", "[.]dat$", MatchType.RegexMatch)) == n)
    }
    assert(tree(src).isEmpty)
    // listing wave + collision check + sink; listing wave + sink; two
    // listings' waves + the diff count
    assert(download.size >= 2 && download.size <= 3, s"download ran ${download.size} jobs")
    assert(remove.size >= 1 && remove.size <= 2, s"remove ran ${remove.size} jobs")
    assert(warm.size >= 2 && warm.size <= 3, s"warm sync ran ${warm.size} jobs")
  }

  test("the driver-placed blueprint and the executor copy(df) adapter agree") {
    val src = bucket("in/b.bin" -> "22", "in/a.bin" -> "1", "in/sub/c.bin" -> "333",
      "in/sub/deep/é.bin" -> "4444", "in/skip.txt" -> "s")
    def viaBlueprint(name: Option[String]): (FileOps.CopyStats, Map[String, String], Int) = {
      val dst = Files.createTempDirectory("graft-parity-bp")
      var st: FileOps.CopyStats = null
      val jobs = jobsOf(s"parity-bp-$dst") {
        st = Blueprints.download(spark, DownloadConfig(uri(src), "in", "[.]bin$",
          MatchType.RegexMatch, "out", name), uri(dst))
      }
      (st, tree(dst), jobs.size)
    }
    def viaAdapter(name: Option[String]): (FileOps.CopyStats, Map[String, String], Int) = {
      val dst = Files.createTempDirectory("graft-parity-df")
      var st: FileOps.CopyStats = null
      val jobs = jobsOf(s"parity-df-$dst") {
        val kept = FileManifest.regexFilter(FileManifest.scan(spark, uri(src), "in"), "[.]bin$")
        st = FileOps.copy(FileManifest.withDestination(kept, "out", name,
          EnumeratePolicy.Always), Some(uri(dst)))
      }
      (st, tree(dst), jobs.size)
    }
    for (name <- Seq(Some("x.bin"), None)) {
      val (bpStats, bpTree, bpJobs) = viaBlueprint(name)
      val (dfStats, dfTree, dfJobs) = viaAdapter(name)
      assert(bpJobs == 0 && dfJobs > 0, s"jobs: blueprint $bpJobs, adapter $dfJobs")
      assert(bpStats == FileOps.CopyStats(4, 4, 0) && bpStats == dfStats)
      assert(bpTree == dfTree, s"name=$name")
    }
    // duplicate basenames: both raise the collision on the same greatest dest
    val clash = bucket("a/x.txt" -> "1", "b/x.txt" -> "2", "c/y.txt" -> "3",
      "d/y.txt" -> "4", "e/z.txt" -> "5")
    val dst = Files.createTempDirectory("graft-parity-clash")
    val bp = intercept[BlueprintError.DestinationCollision] {
      Blueprints.download(spark, DownloadConfig(uri(clash), "", "[.]txt$",
        MatchType.RegexMatch, "out", None), uri(dst))
    }
    val df = intercept[BlueprintError.DestinationCollision] {
      FileOps.copy(FileManifest.withDestination(FileManifest.scan(spark, uri(clash)),
        "out", None, EnumeratePolicy.Always), Some(uri(dst)))
    }
    assert(bp.getMessage == df.getMessage && bp.getMessage.contains("out/y.txt"),
      s"${bp.getMessage} vs ${df.getMessage}")
    assert(tree(dst).isEmpty, "bytes moved before the collision was raised")
  }

  test("held rows and an RDD of the same rows name, check and sync alike") {
    val sc = spark.sparkContext
    def both[T: ClassTag](rows: IndexedSeq[T]): Seq[FileOps.Rows[T]] =
      Seq(FileOps.Rows(sc, rows), FileOps.Rows(sc.parallelize(rows, 3)))
    def entry(bucket: String, path: String) =
      FileEntry(bucket, path, path.split('/').last, 1L, new java.sql.Timestamp(0L))
    // a path in two buckets, and names above U+FFFF: U+E000 sorts before a
    // surrogate pair in UTF-8, after it in UTF-16
    val entries = IndexedSeq(entry("file:///b2", "p/a.txt"), entry("file:///b1", "p/a.txt"),
      entry("file:///b1", "\uD83D\uDE00.txt"), entry("file:///b1", "\uE000.txt"),
      entry("file:///b1", "q/c.txt"), entry("file:///b1", "r/c.txt"))
    def names(keep: FileEntry => Boolean, name: Option[String],
        policy: EnumeratePolicy): Set[(String, String, String)] = {
      val Seq(held, spread) = both(entries).map(rows =>
        FileManifest.naming(rows, keep, "out", name, policy).rdd.collect()
          .map { case (e, d) => (e.bucket, e.path, d) }.toSet)
      assert(held == spread, s"$name $policy")
      held
    }
    val numbered = Set(("file:///b1", "p/a.txt", "out/x_1.txt"),
      ("file:///b2", "p/a.txt", "out/x_2.txt"), ("file:///b1", "q/c.txt", "out/x_3.txt"),
      ("file:///b1", "r/c.txt", "out/x_4.txt"), ("file:///b1", "\uE000.txt", "out/x_5.txt"),
      ("file:///b1", "\uD83D\uDE00.txt", "out/x_6.txt"))
    assert(names(_ => true, Some("x.txt"), EnumeratePolicy.Always) == numbered)
    assert(names(_ => true, Some("x.txt"), EnumeratePolicy.IfMultiple) == numbered)
    assert(names(_.path == "q/c.txt", Some("x.txt"), EnumeratePolicy.IfMultiple) ==
      Set(("file:///b1", "q/c.txt", "out/x.txt")))
    assert(names(_.path == "q/c.txt", Some("x.txt"), EnumeratePolicy.Always) ==
      Set(("file:///b1", "q/c.txt", "out/x_1.txt")))
    val basenames = names(_ => true, None, EnumeratePolicy.Always)
    assert(basenames.map(_._3) == Set("out/a.txt", "out/c.txt", "out/\uE000.txt",
      "out/\uD83D\uDE00.txt"))
    // out/a.txt and out/c.txt repeat: both raise the greatest, before any byte moves
    val clashes = both(entries.map(e => FileOps.Move(e.bucket, e.path, e.size,
      s"out/${e.name}", null))).map(rows => intercept[BlueprintError.DestinationCollision](
        FileOps.copyRows(rows, Some("file:///nowhere"), deleteSource = false,
          overwrite = true, checkCollisions = true)).getMessage)
    assert(clashes.distinct.length == 1 && clashes.head.contains("out/c.txt"), clashes)
    // a sync of the same listings: a missing, a size-stale, a same-size
    // changed, an up-to-date and an extraneous object
    val src = bucket("logs/new.txt" -> "n", "logs/d/grown.txt" -> "gg",
      "logs/d/rot.txt" -> "abc", "logs/same.txt" -> "s")
    val mirrors = Seq.fill(2)(bucket("m/d/grown.txt" -> "g", "m/d/rot.txt" -> "abX",
      "m/same.txt" -> "s", "m/gone.txt" -> "x"))
    val srcM = FileManifest.scanManaged(spark, uri(src), "logs")
    val dstMs = mirrors.map(m => FileManifest.scanManaged(spark, uri(m), "m"))
    try {
      assert((srcM +: dstMs).forall(held))
      val stats = Seq(
        FileOps.syncRows(srcM.rows, "logs", dstMs(0).rows, uri(mirrors(0)), "m",
          deleteExtraneous = true, verifyContent = true),
        FileOps.syncRows(FileOps.Rows(srcM.rdd), "logs", FileOps.Rows(dstMs(1).rdd),
          uri(mirrors(1)), "m", deleteExtraneous = true, verifyContent = true))
      assert(stats.distinct == Seq(FileOps.SyncStats(4, 3, 1, 0, 1)), stats)
      assert(tree(mirrors(0)) == tree(mirrors(1)) && tree(mirrors(0)) ==
        tree(src).map { case (p, c) => s"m/${p.stripPrefix("logs/")}" -> c })
    } finally (srcM +: dstMs).foreach(_.release())
  }

  test("driver-placed rows and listing levels keep more store calls in flight than cores") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.counting.impl", classOf[CountingFileSystem].getName)
    val (n, cores) = (64, spark.sparkContext.defaultParallelism)
    val src = bucket((0 until n).map(i => f"in/f$i%02d.bin" -> s"v$i"): _*)
    val dst = Files.createTempDirectory("graft-overlap")
    val wide = bucket((0 until n).map(i => f"d$i%02d/f.dat" -> s"$i"): _*)
    CountingFileSystem.latencyMs = 20L
    try {
      CountingFileSystem.reset()
      val jobs = jobsOf(s"overlap-move-$src") {
        assert(Blueprints.move(spark, MoveConfig(s"counting://$src", s"counting://$dst",
          "in", ".*", MatchType.RegexMatch, "out", None)) == FileOps.CopyStats(n, n, 0))
      }
      assert(jobs.isEmpty, s"the move ran ${jobs.size} Spark jobs")
      val moved = CountingFileSystem.peakInFlight.get
      CountingFileSystem.reset()
      val scanned = FileManifest.scanManaged(spark, s"counting://$wide")
      val listed = CountingFileSystem.peakInFlight.get
      try assert(held(scanned) && scanned.rdd.count() == n) finally scanned.release()
      for ((op, peak) <- Seq("move" -> moved, "scan" -> listed))
        assert(peak > cores && peak <= Q.PoolThreads,
          s"$op: $peak store calls in flight at most, on $cores cores")
    } finally CountingFileSystem.latencyMs = 0L
  }

  test("an interrupted driver-placed move stops, and no source goes without its copy") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.counting.impl", classOf[CountingFileSystem].getName)
    // more rows than the driver keeps in flight, so the interrupt lands
    // before the last of them has started
    val n = 4 * Q.PoolThreads
    val src = bucket((0 until n).map(i => f"in/f$i%04d.bin" -> s"payload-$i"): _*)
    val dst = Files.createTempDirectory("graft-cancel")
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    CountingFileSystem.latencyMs = 20L
    try {
      val op = new Thread(() =>
        try Blueprints.move(spark, MoveConfig(s"counting://$src", s"counting://$dst",
          "in", ".*", MatchType.RegexMatch, "out", None))
        catch { case t: Throwable => failure.set(t) })
      op.start()
      val landedSoon = System.nanoTime() + 30000000000L
      while (tree(dst).size < 4 && System.nanoTime() < landedSoon) Thread.sleep(10)
      assert(tree(dst).size >= 4, "the move never started moving rows")
      val t0 = System.nanoTime()
      op.interrupt()
      op.join(10000L)
      assert(!op.isAlive, "the interrupted move did not return within 10 s")
      assert(System.nanoTime() - t0 < 10000000000L)
      assert(failure.get.isInstanceOf[InterruptedException], s"the move ended with ${failure.get}")
      // no worker still moving rows: the store sees no further call
      def calls = CountingFileSystem.rpcCalls.asScala.values.map(_.get).sum
      val after = calls
      Thread.sleep(500L)
      assert(calls == after, "store calls continued after the move returned")
      val (sources, copies) = (tree(src.resolve("in")), tree(dst.resolve("out")))
      assert(copies.size < n, "the move ran to the end despite the interrupt")
      (0 until n).map(i => f"f$i%04d.bin").filterNot(sources.contains).foreach { f =>
        assert(copies.get(f).contains(s"payload-${f.drop(1).take(4).toInt}"),
          s"source $f was deleted without a landed copy")
      }
    } finally CountingFileSystem.latencyMs = 0L
  }
}
