package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload: set-up, a cold first pass, then
  * a fixed number of warm passes (see [[warmPasses]]). Prints the
  * end-to-end metrics (or, with `--trace 1`, the per-layer ones) as the
  * last line of standard output.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --data DIR
  *   Main --derive sfDir outDir [query…]      (see derive.py)
  */
object Main {
  /** Modules with a per-layer figure: every module some workload runs a
    * query of. Maintenance and Release declare only store builders too
    * slow to build in a run (see [[surfaceBuilder]]). */
  val modules: Seq[String] =
    Queries.modules.map(_._1).filterNot(Set("Maintenance", "Release"))
  val blueprintOps: Seq[String] = Seq("download", "upload", "move",
    "sync_cold", "sync_warm", "remove", "large_download",
    "verify_sync", "exact_call")
  val selfLayers: Seq[String] = Seq("bench", "check", "op", "builders",
    "collect", "exec", "blueprints", "sources", "fileops")

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "first_pass_s" -> "s", "pass_s" -> "s",
    "cpu_s" -> "s", "op_p50_s" -> "s", "op_tail_s" -> "s",
    "ok_frac" -> "fraction", "peak_rss_mb" -> "MB",
    "objects_per_s" -> "1/s", "mb_per_s" -> "MB/s")

  val perLayer: Seq[(String, String)] = Seq(
    "builders.build_s" -> "s", "builders.build_jobs" -> "count",
    "exec.jobs" -> "count", "exec.job_gap_s" -> "s",
    "exec.core_idle_frac" -> "fraction", "exec.collect_s" -> "s",
    "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.shuffle_mb" -> "MB", "exec.spill_mb" -> "MB",
    "exec.failed_tasks" -> "count", "exec.orphan_jobs" -> "count",
    "jvm.gc_s" -> "s") ++
    modules.flatMap(m => Seq(s"module.$m.op_s" -> "s", s"module.$m.jobs" -> "count")) ++
    Seq("cache.peak_mb" -> "MB", "cache.disk_mb" -> "MB",
      "cache.evicted_blocks" -> "count",
      "setup.session_s" -> "s", "setup.store_build_s" -> "s",
      "setup.store_builders" -> "count", "setup.fixture_s" -> "s",
      "sources.scan_s" -> "s", "sources.listed_objects" -> "count",
      "sources.scan_jobs" -> "count",
      "fileops.copy_s" -> "s", "fileops.delete_s" -> "s",
      "fileops.sync_s" -> "s", "fileops.useful_frac" -> "fraction",
      "fileops.copied_mb" -> "MB", "fileops.digest_mb" -> "MB") ++
    SimStore.Kinds.map(k => s"objstore.rpc.$k" -> "count") ++
    Seq("objstore.rpc_wait_s" -> "s", "objstore.rpc_per_object" -> "count") ++
    blueprintOps.map(o => s"blueprints.${o}_s" -> "s") ++
    selfLayers.map(l => s"self.${l}_s" -> "s") ++
    Seq("trace.pass_s" -> "s", "trace.overhead_s" -> "s")

  /** Heavy corpus queries in a fixed order (a cold pass's JIT warm-up
    * cost depends on which query runs first): a text kernel, an LSH
    * dedup chain and a bloom-filter decontamination join, about 8 s a
    * warm pass on 4 cores. sf0.001 has the same documents table as
    * sf0.01. The q249 graph fixpoint is left out: over ten runs its time
    * ranged from 6 to 16 s, which no bound of this benchmark absorbs. */
  val corpusHeavy: Seq[String] = Seq("q133_bigram_surprise",
    "q153_source_blocklist", "q101_bloom_decontamination")

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  }

  def parse(a: Array[String]): Args =
    Args(a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap)

  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def session(work: String, cpus: Int, latencyMs: Double): SparkSession = {
    // the session config of graft.Bench, plus local dirs inside the
    // benchmark's work directory and the simulated store's scheme
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.fs.simstore.impl", classOf[SimStoreFileSystem].getName)
      .config("spark.hadoop.fs.simstore.root", s"$work/store")
      .config("spark.hadoop.fs.simstore.latency.ms", latencyMs.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gcSec(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  private def cpuSec(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** The store builder of the surface sample, built in set-up: the one
    * with the shortest build, 0.3–0.5 s in a warm JVM on 4 cores. The
    * only Maintenance query (q192, seven index families) took 48 s and
    * the only Release query (q235) 23 s in a fresh JVM, more than one run
    * of this benchmark can hold, so those two modules are not sampled. */
  val surfaceBuilder = "q183_probe_gate"

  /** The surface sample, 18 queries in an order drawn by the seed: the
    * store builder, which stands for its module, the cheapest plain query
    * of every other module that has one, and then the cheapest remaining
    * plain queries (so the fixed per-query cost dominates). The seven
    * extra queries make the cold pass that `first_pass_s` times, the one
    * sample of it a run has, about 12 s on 4 cores: long enough to span
    * more of the host's speed swings than the 9.5 s of the cheapest
    * query per module alone. The seed draws only
    * the order: drawing among each module's cheap queries changes which
    * tables are scanned, which moved the task input rate 2.6-fold
    * between seeds. */
  val surfaceSize = 18

  /** Nominal cold and warm pass seconds of each workload on 4 cores. A
    * run makes as many warm passes as fit in `--seconds` after the cold
    * pass at these rates, and at least one, whatever the host's speed. */
  val nominalPassS: Map[String, (Double, Double)] = Map(
    "corpus_heavy" -> (20.0, 8.0), "surface_sample" -> (12.0, 7.5),
    "object_store" -> (21.0, 11.0))

  def warmPasses(workload: String, seconds: Double): Int =
    nominalPassS.get(workload).fold(1) { case (cold, warm) =>
      math.max(1, math.floor((seconds - cold) / warm).toInt)
    }

  def surfaceSample(exp: Map[String, Expect], seed: Long): Seq[String] = {
    val picks = Queries.modules
      .filter(_._1 != Queries.moduleOf(surfaceBuilder))
      .map(_._2.map(_._1).filter(q => exp.contains(q) && !Queries.isStoreBuilder(q))
        .sortBy(q => (exp(q).cost, q)))
      .filter(_.nonEmpty)
    val rest = picks.flatMap(_.tail).sortBy(q => (exp(q).cost, q))
    val sample = picks.map(_.head) ++ rest.take(surfaceSize - 1 - picks.size)
    new scala.util.Random(seed).shuffle(sample :+ surfaceBuilder)
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--derive")) { Derive.run(argv.drop(1)); return }
    val a = parse(argv)
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val data = a("data")
    val cpus = Runtime.getRuntime.availableProcessors()
    val smoke = workload == "smoke"
    val runStart = System.nanoTime()

    val t0 = System.nanoTime()
    val spark = session(work, cpus, latencyMs = 1.0)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(traced)
    val runner = new Runner(spark, timeoutSec = 60)
    val h = new Harness(spark, runner, tracer, seed)
    val expect = Expect.load(s"$data/../expected.json")
    val sfDir = s"$data/sf0.001"

    val w: Workload = workload match {
      case "corpus_heavy" => new QueryWorkload(sfDir, expect, corpusHeavy)
      case "surface_sample" =>
        new QueryWorkload(sfDir, expect, surfaceSample(expect, seed))
      case "object_store" =>
        new ObjectStoreWorkload(work, small = 48, large = 2,
          largeBytes = 128L << 20, exact = 24)
      case "smoke" =>
        new Smoke(work, sfDir, expect)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setup = w.setup(h)
    val setupS = sessionS + setup.collect { case (k, v) if k.endsWith("_s") => v }.sum
    val listener = new ExecListener(spark.sparkContext)
    val input = new InputListener
    spark.sparkContext.addSparkListener(input)
    val passes = mutable.ArrayBuffer.empty[(PassCtx, Map[String, Double])]
    // a cold pass and a fixed number of warm passes, not as many as the
    // clock allows: an extra pass on a fast host would be a warmer one
    // and lower that run's medians
    val warmN = warmPasses(workload, seconds)
    val total = if (smoke) 1 else 1 + (if (traced) math.max(3, warmN) else warmN)
    val measureStart = System.nanoTime()
    def elapsed(from: Long): Double = (System.nanoTime() - from) / 1e9
    // past 120 s (a host far slower than usual) a run stops after its
    // first warm pass, so that it ends within its time limit
    while (passes.size < total && (passes.size < 2 || elapsed(runStart) < 120)) {
      val i = passes.size
      // a traced run alternates its warm passes traced, untraced, traced,
      // so the tracing overhead is measured within one process and a
      // steady warm-up trend cancels out of it
      val tracedPass = traced && i % 2 == 1
      tracer.enabled = tracedPass
      val p = new PassCtx(i, tracedPass)
      if (tracedPass) spark.sparkContext.addSparkListener(listener)
      val ev0 = listener.evictedBlocks.sum()
      val listed0 = SimStore.listed.sum()
      val (c0, g0, b0) = (cpuSec(), gcSec(), input.bytes.sum())
      val pt0 = System.nanoTime()
      tracer.span(spark.sparkContext, 0L, s"pass $i", "bench") { id =>
        p.span = id
        w.pass(h, p)
      }
      val wall = (System.nanoTime() - pt0) / 1e9
      val m = mutable.LinkedHashMap[String, Double](
        "wall" -> wall, "cpu" -> (cpuSec() - c0), "jvm.gc_s" -> (gcSec() - g0))
      // every task-end event of the pass reaches the listeners before
      // their counters are read, outside the timed region
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      if (!p.values.contains("mb_per_s"))
        p.values("mb_per_s") = (input.bytes.sum() - b0) / 1e6 / wall
      if (tracedPass) {
        spark.sparkContext.removeSparkListener(listener)
        m ++= Layers(p, tracer.spans, listener, cpus, wall)
        m("cache.evicted_blocks") = (listener.evictedBlocks.sum() - ev0).toDouble
        m("sources.listed_objects") = (SimStore.listed.sum() - listed0).toDouble
      }
      passes += ((p, m.toMap))
      println(f"pass $i%d${if (tracedPass) " (traced)" else ""}%s: " +
        f"$wall%.3f s, ${p.ops.size}%d ops, ${p.ops.count(_.error.nonEmpty)}%d failed; slowest " +
        p.ops.sortBy(-_.sec).take(3).map(o => f"${o.name} ${o.sec}%.2f s").mkString(", "))
    }
    tracer.enabled = false
    val measured = elapsed(measureStart)

    val allOps = h.setupOps ++ passes.flatMap(_._1.ops)
    val failed = allOps.count(_.error.nonEmpty)
    val attempted = allOps.size
    val warm = passes.drop(1).filterNot(_._1.traced)
    val traceP = passes.filter(_._1.traced)
    val base = if (warm.nonEmpty) warm else passes
    // per-operation latency: each operation's median over the warm
    // passes, so the sample (one value per operation of a pass) has the
    // same size whatever a run's pass count
    val opSecs = base.flatMap(_._1.ops).groupBy(_.name).values
      .map(os => median(os.map(_.sec))).toSeq.sorted
    val n = opSecs.size
    // the highest percentile with 10 samples beyond it, unless that falls
    // below the median (fewer than 21 samples): then the maximum
    val tailIdx = if (n - 11 >= n / 2) n - 11 else n - 1
    val tailPct = math.floor(100.0 * (tailIdx + 1) / n).toInt
    println(s"op latency: $n operations, each the median of ${base.size} warm passes; " +
      s"op_tail_s is p$tailPct (sample ${tailIdx + 1} of $n, " +
      s"${n - tailIdx - 1} beyond it)")

    def warmMedian(k: String): Double = median(base.map(_._1.values.getOrElse(k, 0.0)))
    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "first_pass_s" -> passes.head._2("wall"),
      "pass_s" -> median(base.map(_._2("wall"))),
      "cpu_s" -> median(base.map(_._2("cpu"))),
      "op_p50_s" -> median(opSecs),
      "op_tail_s" -> (if (n == 0) 0.0 else opSecs(tailIdx)),
      "ok_frac" -> (1.0 - failed.toDouble / math.max(1, attempted)),
      "peak_rss_mb" -> peakRssMb(),
      "objects_per_s" -> warmMedian("objects_per_s"),
      "mb_per_s" -> warmMedian("mb_per_s"))

    val layer = mutable.LinkedHashMap.empty[String, Double]
    perLayer.foreach { case (k, _) => layer(k) = 0.0 }
    val tp = if (traceP.nonEmpty) traceP else base
    layer.keys.toSeq.foreach { k =>
      val vs = tp.flatMap(p => p._2.get(k).orElse(p._1.values.get(k)))
      if (vs.nonEmpty) layer(k) = median(vs)
    }
    layer("jvm.gc_s") = median(tp.map(_._2("jvm.gc_s")))
    layer("setup.session_s") = sessionS
    setup.foreach { case (k, v) => layer(k) = v }
    if (traced) {
      layer("trace.pass_s") = median(traceP.map(_._2("wall")))
      layer("trace.overhead_s") = layer("trace.pass_s") - median(warm.map(_._2("wall")))
      println(f"self time per layer, median of ${traceP.size}%d traced passes " +
        f"(wall ${layer("trace.pass_s")}%.3f s):")
      selfLayers.foreach(l =>
        println(f"  ${l}%-12s ${layer(s"self.${l}_s")}%9.3f s"))
      println(f"  sum          ${selfLayers.map(l => layer(s"self.${l}_s")).sum}%9.3f s")
      println(f"tracing overhead: ${layer("trace.overhead_s")}%.3f s per pass " +
        f"(traced ${layer("trace.pass_s")}%.3f s vs untraced ${median(warm.map(_._2("wall")))}%.3f s)")
      val out = java.nio.file.Paths.get(work, "trace", s"spans-$workload-$seed.json")
      Layers.writeSpans(out, tracer.spans, listener)
      println(s"spans written to $out")
    }
    println(f"measured $measured%.1f s over ${passes.size}%d passes; " +
      f"$failed%d of $attempted%d operations failed")

    w.teardown(h)
    runner.close()
    spark.stop()

    val metrics =
      if (traced) perLayer.map { case (k, u) => k -> (layer(k), u) }
      else endToEnd.map { case (k, u) => k -> (e2e(k), u) }
    val body = metrics.map { case (k, (v, u)) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      "\"" + k + "\": {\"value\": " + x + ", \"unit\": \"" + u + "\"}"
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    if (smoke) Smoke.verdict(allOps.toSeq)
  }
}
