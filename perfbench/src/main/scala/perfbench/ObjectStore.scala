package perfbench

import java.nio.file.{Files, Path => JPath, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import graft.blueprints.Blueprints
import graft.core._
import graft.operators.FileOps

/** The reference's pipelines on the simulated object store, in three
  * phases per pass:
  *  - small objects (1–8 KiB in a two-level prefix tree): regex download,
  *    upload, cross-bucket move, cold and warm sync, then remove;
  *  - large objects: regex download, then a content-verified sync that
  *    must repair the one mirror object whose bytes were changed;
  *  - single-object `exact_match` downloads (the CLI default).
  * Fixtures come from the seed and are written outside the timed region. */
final class ObjectStoreWorkload(work: String, small: Int, large: Int,
    largeBytes: Long, exact: Int) extends Workload {
  private val store = Paths.get(work, "store")
  private val local = Paths.get(work, "local")
  private val localUri = s"file://$local"
  private var smallKeys = IndexedSeq.empty[(String, Long)]
  private var smallBytes = 0L
  private var largeMd5 = IndexedSeq.empty[String]
  private var exactKeys = IndexedSeq.empty[(String, Long)]

  private def md5(p: JPath): String = {
    val md = MessageDigest.getInstance("MD5")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 20)
      var r = in.read(buf)
      while (r != -1) { md.update(buf, 0, r); r = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** Regular files under `dir` as (path relative to `dir`, size). */
  private def files(dir: JPath): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  private def rmTree(p: JPath): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  def setup(h: Harness): Map[String, Double] = {
    val t0 = System.nanoTime()
    rmTree(store); rmTree(local)
    val rnd = new scala.util.Random(h.seed)
    val src = store.resolve("src/data")
    smallKeys = (0 until small).map { i =>
      val key = f"p${rnd.nextInt(8)}%02d/s${rnd.nextInt(8)}%02d/obj$i%05d.bin"
      val bytes = new Array[Byte](1024 + rnd.nextInt(7 * 1024 + 1))
      rnd.nextBytes(bytes)
      val p = src.resolve(key)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
      key -> bytes.length.toLong
    }
    smallBytes = smallKeys.map(_._2).sum
    // large objects: a seeded 1 MiB block, each MiB stamped with its
    // object and block number so no two MiBs are equal
    val block = new Array[Byte](1 << 20)
    rnd.nextBytes(block)
    val big = store.resolve("big/blobs")
    val mirror = store.resolve("bigmirror/blobs")
    Files.createDirectories(big); Files.createDirectories(mirror)
    largeMd5 = (0 until large).map { j =>
      val p = big.resolve(f"big$j%02d.bin")
      val md = MessageDigest.getInstance("MD5")
      val out = Files.newOutputStream(p)
      try {
        var off = 0L; var b = 0
        while (off < largeBytes) {
          java.nio.ByteBuffer.wrap(block).putInt(0, j).putInt(4, b)
          val n = math.min(block.length.toLong, largeBytes - off).toInt
          out.write(block, 0, n); md.update(block, 0, n)
          off += n; b += 1
        }
      } finally out.close()
      Files.copy(p, mirror.resolve(p.getFileName))
      md.digest().map("%02x".format(_)).mkString
    }
    exactKeys = IndexedSeq.fill(exact)(smallKeys(rnd.nextInt(small)))
    Files.createDirectories(local)
    Map("setup.fixture_s" -> (System.nanoTime() - t0) / 1e9)
  }

  private def expectFiles(dir: JPath, n: Int, bytes: Long): Option[String] = {
    val f = files(dir)
    if (f.size != n) Some(s"$dir holds ${f.size} objects, expected $n")
    else if (f.values.sum != bytes)
      Some(s"$dir holds ${f.values.sum} bytes, expected $bytes")
    else None
  }

  private def expectCopy(st: FileOps.CopyStats, n: Long): Option[String] =
    if (st.planned != n || st.transferred != n)
      Some(s"copied $st, expected $n transferred") else None

  def pass(h: Harness, p: PassCtx): Unit = {
    val spark = h.spark
    val n = small
    val rpc0 = SimStore.snapshot()
    val (written0, digest0) = (SimStore.bytesWritten(), SimStore.digestBytes.sum())
    def bp[T](name: String, phase: String)(body: => T)(check: T => Option[String]): Option[T] =
      h.op(p, name, phase, "blueprints")(_ => body)(check)
    def useful(planned: Long, transferred: Long): Unit = {
      p.add("fileops.planned", planned.toDouble)
      p.add("fileops.transferred", transferred.toDouble)
    }

    // -- small objects
    val s0 = p.ops.size
    bp("download", "small")(Blueprints.download(spark,
      DownloadConfig("simstore://src", "data", "obj.*[.]bin",
        MatchType.RegexMatch, "dl", None), localUri)) { st =>
      useful(st.planned, st.transferred)
      expectCopy(st, n).orElse(expectFiles(local.resolve("dl"), n, smallBytes))
    }
    bp("upload", "small")(Blueprints.upload(spark,
      UploadConfig("simstore://stage", "dl", "obj.*[.]bin",
        MatchType.RegexMatch, "up", None), localUri)) { st =>
      useful(st.planned, st.transferred)
      expectCopy(st, n).orElse(
        expectFiles(store.resolve("stage/up"), n, smallBytes))
    }
    val movedBefore = SimStore.snapshot()._1.values.sum
    bp("move", "small")(Blueprints.move(spark,
      MoveConfig("simstore://stage", "simstore://arch", "up", ".*",
        MatchType.RegexMatch, "moved", None))) { st =>
      useful(st.planned, st.transferred)
      p.values("objstore.rpc_per_object") =
        (SimStore.snapshot()._1.values.sum - movedBefore).toDouble / n
      expectCopy(st, n)
        .orElse(expectFiles(store.resolve("arch/moved"), n, smallBytes))
        .orElse(expectFiles(store.resolve("stage/up"), 0, 0L))
    }
    bp("sync_cold", "small")(FileOps.sync(spark, "simstore://src", "data",
      "simstore://mirror", "m")) { st =>
      useful(st.transferred + st.retrySkipped, st.transferred)
      if (st.scanned != n || st.transferred != n) Some(s"cold sync $st")
      else expectFiles(store.resolve("mirror/m"), n, smallBytes)
    }
    bp("sync_warm", "small")(FileOps.sync(spark, "simstore://src", "data",
      "simstore://mirror", "m")) { st =>
      if (st.scanned != n || st.transferred != 0 || st.upToDate != n)
        Some(s"warm sync $st") else None
    }
    bp("remove", "small")(Blueprints.remove(spark,
      RemoveConfig("simstore://arch", "moved", ".*", MatchType.RegexMatch))) {
      k => if (k != n) Some(s"removed $k, expected $n")
        else expectFiles(store.resolve("arch/moved"), 0, 0L)
    }
    val smallSec = p.ops.drop(s0).map(_.sec).sum
    // every op of the phase handles each of the n objects once
    p.values("objects_per_s") = 6.0 * n / smallSec
    rmTree(local.resolve("dl")); rmTree(store.resolve("mirror"))

    // -- large objects
    val l0 = p.ops.size
    val mb = largeBytes / 1e6
    bp("large_download", "large")(Blueprints.download(spark,
      DownloadConfig("simstore://big", "blobs", "big.*[.]bin",
        MatchType.RegexMatch, "bigdl", None), localUri)) { st =>
      useful(st.planned, st.transferred)
      expectCopy(st, large).orElse {
        val bad = (0 until large).filterNot(j =>
          md5(local.resolve(f"bigdl/big$j%02d.bin")) == largeMd5(j))
        if (bad.isEmpty) None else Some(s"md5 mismatch on big $bad")
      }
    }
    // same size, different bytes: only the content check can see it
    val stale = p.index % large
    val target = store.resolve(f"bigmirror/blobs/big$stale%02d.bin")
    val raf = new java.io.RandomAccessFile(target.toFile, "rw")
    try { raf.seek(largeBytes / 2); val b = raf.read(); raf.seek(largeBytes / 2); raf.write(b ^ 0xff) }
    finally raf.close()
    bp("verify_sync", "large")(FileOps.sync(spark, "simstore://big", "blobs",
      "simstore://bigmirror", "blobs", verifyContent = true)) { st =>
      useful(st.transferred + st.retrySkipped, st.transferred)
      if (st.scanned != large || st.transferred != 1)
        Some(s"verified sync $st, expected 1 of $large repaired")
      else if (md5(target) != largeMd5(stale)) Some("mirror not repaired")
      else None
    }
    val largeSec = p.ops.drop(l0).map(_.sec).sum
    // bytes moved or read: the download, both sides of every digest, and
    // the one repaired copy
    p.values("mb_per_s") = (large * mb + 2 * large * mb + mb) / largeSec
    rmTree(local.resolve("bigdl"))

    // -- exact_match single-object calls
    exactKeys.zipWithIndex.foreach { case ((key, size), i) =>
      val folder = "data/" + key.substring(0, key.lastIndexOf('/'))
      val name = key.substring(key.lastIndexOf('/') + 1)
      bp(s"exact_call $i", "exact")(Blueprints.download(spark,
        DownloadConfig("simstore://src", folder, name, MatchType.ExactMatch,
          "exact", None), localUri)) { st =>
        useful(st.planned, st.transferred)
        val f = local.resolve(s"exact/$name")
        if (!Files.exists(f) || Files.size(f) != size)
          Some(s"exact download of $key missing or wrong size") else None
      }
    }
    rmTree(local.resolve("exact"))

    val (c1, w1) = SimStore.snapshot()
    SimStore.Kinds.foreach(k =>
      p.values(s"objstore.rpc.$k") = (c1(k) - rpc0._1(k)).toDouble)
    p.values("objstore.rpc_wait_s") = w1 - rpc0._2
    p.values("fileops.copied_mb") = (SimStore.bytesWritten() - written0) / 1e6
    p.values("fileops.digest_mb") = (SimStore.digestBytes.sum() - digest0) / 1e6
    p.values("fileops.useful_frac") =
      p.values("fileops.transferred") / p.values("fileops.planned")
    p.ops.groupBy(o => if (o.name.startsWith("exact_call")) "exact_call" else o.name)
      .foreach { case (k, os) =>
        p.values(s"blueprints.${k}_s") = os.map(_.sec).sum / os.size
      }
  }

  def teardown(h: Harness): Unit = { rmTree(store); rmTree(local) }
}
