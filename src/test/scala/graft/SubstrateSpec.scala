package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.{FitMemo, Graph, Learn, Q}

/** The engine's one way to build a session ([[Session]]), overlap driver
  * work ([[Q.async]]) and memoize a fit ([[FitMemo]]): overlapped jobs
  * carry the caller's job group and die with it, the memo counts hits
  * and refits a rewritten table, and `src/main` keeps no second copy of
  * any of them.
  */
class SubstrateSpec extends SparkSpec {

  test("overlapped jobs carry the caller's job group") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    // a 33-node chain: star contraction needs several rounds, so the
    // fixpoint overlaps its stationarity probe with the next round
    val chain = spark.range(0, 32)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    sc.addSparkListener(listener)
    try for (group <- Seq("cc-window-a", "cc-window-b")) {
      org.apache.spark.graft.TestBus.drain(sc)
      groups.clear()
      sc.setJobGroup(group, group)
      val comps = try Graph.connectedComponents(chain).collect()
        finally sc.clearJobGroup()
      org.apache.spark.graft.TestBus.drain(sc)
      assert(comps.length == 33 && comps.forall(_.getLong(1) == 0L))
      val seen = groups.asScala.toList
      assert(seen.size >= 4, s"$group: only ${seen.size} jobs")
      assert(seen.forall(_ == group),
        s"$group: jobs ran under ${seen.groupBy(identity).map {
          case (g, n) => s"$g x${n.size}" }.mkString(", ")}")
    } finally sc.removeSparkListener(listener)
  }

  test("cancelJobGroup stops an overlapped job") {
    val sc = spark.sparkContext
    val group = "cancel-overlap"
    sc.setJobGroup(group, group, interruptOnCancel = true)
    val fut = try Q.async(spark) {
      sc.parallelize(1 to 2, 2).map { x => Thread.sleep(30000L); x }.count()
    } finally sc.clearJobGroup()
    def within(ms: Long)(cond: => Boolean): Boolean = {
      val end = System.currentTimeMillis() + ms
      while (!cond && System.currentTimeMillis() < end) Thread.sleep(20)
      cond
    }
    assert(within(10000L)(sc.statusTracker.getJobIdsForGroup(group).nonEmpty),
      "the overlapped job never started under the caller's group")
    sc.cancelJobGroup(group)
    intercept[Exception](fut.join())
    assert(within(10000L)(sc.statusTracker.getActiveJobIds().isEmpty),
      s"jobs still active: ${sc.statusTracker.getActiveJobIds().mkString(",")}")
  }

  test("FitMemo: a second probeFit on a dir is a hit, a rewritten table refits") {
    val dir = Files.createTempDirectory("fitmemo").toString
    val emb = s"$dir/embeddings.parquet"
    spark.read.parquet(s"$sfDir/embeddings.parquet").write.parquet(emb)
    val (h0, m0) = (FitMemo.hits, FitMemo.misses)
    val first = Learn.probeFit(spark, dir)
    assert((FitMemo.hits, FitMemo.misses) == ((h0, m0 + 1)))
    assert(Learn.probeFit(spark, dir) eq first)
    assert((FitMemo.hits, FitMemo.misses) == ((h0 + 1, m0 + 1)))
    // same rows, another file layout: the fingerprint changes
    val rows = spark.read.parquet(emb).collect()
    spark.createDataFrame(rows.toSeq.asJava, spark.read.parquet(emb).schema)
      .repartition(3).write.mode("overwrite").parquet(emb)
    assert(!(Learn.probeFit(spark, dir) eq first))
    assert((FitMemo.hits, FitMemo.misses) == ((h0 + 1, m0 + 2)))
  }

  test("src/main has one session builder, one overlap helper, one fit memo") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root, not ${Paths.get("").toAbsolutePath}")
    val sources: Map[String, String] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
      .toMap
    def sitesOf(pattern: String): Set[String] =
      sources.collect { case (f, src) if pattern.r.findFirstIn(src).nonEmpty => f }.toSet
    assert(sitesOf("""SparkSession\s*\.\s*builder""") == Set("graft/Session.scala"))
    assert(sitesOf("""supplyAsync|thenApplyAsync|runAsync""").isEmpty)
    assert(sitesOf("""Executors\.|ThreadPoolExecutor|ForkJoinPool""") ==
      Set("graft/operators/QueryDef.scala"))
    assert(sitesOf("""TrieMap""") == Set("graft/operators/FitMemo.scala"))
  }
}
