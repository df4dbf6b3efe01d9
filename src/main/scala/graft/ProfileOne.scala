package graft

import org.apache.spark.scheduler._

/** Dev profiler: run ONE registered query with a warmup, then a timed
  * pass that prints every Spark JOB (wall ms, stage count, description)
  * — the attribution tool for iterative queries whose cost is spread
  * over dozens of small jobs (fixpoint loops, eager checkpoints,
  * scalar probes) where a single wall number says nothing.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt 'runMain graft.ProfileOne q245_hits_scores'
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    val fn = SparkEntry.queries(name)
    // warmup — managed caches stay hot for the timed pass, matching
    // Bench (which releases only after a query's last timed pass)
    fn(spark, sfDir).collect()
    System.gc()
    // timed, with job listener
    case class J(id: Int, start: Long, var end: Long = 0L,
      var stages: Int = 0, var desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val stageLines =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit = {
        val j = J(ev.jobId, ev.time, stages = ev.stageInfos.size,
          desc = Option(ev.properties)
            .flatMap(p => Option(p.getProperty(
              "spark.job.description"))).getOrElse(""))
        jobs.put(ev.jobId, j); order.add(ev.jobId)
      }
      override def onJobEnd(ev: SparkListenerJobEnd): Unit = {
        val j = jobs.get(ev.jobId); if (j != null) j.end = ev.time
      }
      override def onStageCompleted(
          ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val w = (for (s <- si.submissionTime; c <- si.completionTime)
          yield c - s).getOrElse(-1L)
        if (w >= 50) stageLines.add(
          f"  stage ${si.stageId}%4d  ${w}%6d ms  ${si.numTasks}%4d tasks  ${si.name.take(80)}")
      }
    })
    val t0 = System.nanoTime()
    fn(spark, sfDir).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300)
    var prevEnd = 0L
    val it = order.iterator()
    println(f"== $name%s timed pass: $sec%.2f s ==")
    println("jobid  wall_ms  gap_ms  stages  desc")
    while (it.hasNext) {
      val j = jobs.get(it.next())
      val gap = if (prevEnd == 0) 0 else j.start - prevEnd
      prevEnd = math.max(prevEnd, j.end)
      println(f"${j.id}%5d  ${j.end - j.start}%7d  ${gap}%6d  ${j.stages}%6d  ${j.desc.take(60)}")
    }
    println("-- stages >= 50 ms --")
    stageLines.forEach(l => println(l))
    graft.operators.Q.releaseManaged()
    spark.stop()
  }
}
