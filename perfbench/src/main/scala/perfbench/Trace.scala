package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval, in `System.nanoTime` units. `layer` names the
  * repository module the interval measures; `parent` is the span that
  * caused it (0 for a root). */
final case class Span(
    id: Long, parent: Long, name: String, layer: String,
    start: Long, end: Long)

/** In-memory span recorder. Spans are kept until the run ends and are
  * written out once. When disabled, [[span]] only runs its body. */
final class Tracer(@volatile var enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def spans: Seq[Span] = done.asScala.toSeq

  /** Runs `body` inside a span. While it runs, jobs that `body` starts
    * on this thread carry the span id as a local property, which the
    * [[ExecListener]] reads to parent them. */
  def span[T](sc: SparkContext, parent: Long, name: String, layer: String)(
      body: Long => T): T = {
    val id = ids.incrementAndGet()
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    if (enabled) sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      if (enabled) {
        done.add(Span(id, parent, name, layer, t0, t1))
        sc.setLocalProperty(Tracer.SpanProp, prev)
      }
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  /** Offset that maps listener event times (epoch ms) to nanoTime. */
  val epochToNano: Long =
    System.nanoTime() - System.currentTimeMillis() * 1000000L
  def nanoOf(epochMs: Long): Long = epochMs * 1000000L + epochToNano
}

/** What one Spark job did, aggregated from its task and stage events. */
final class JobRec(val id: Int, val span: Long, val startMs: Long,
    val site: String) {
  @volatile var endMs: Long = -1L
  val stages, tasks, failedTasks, runMs, cpuNs, shuffleBytes, spillBytes =
    new LongAdder
}

/** The benchmark's own listener: parents each job to the span that was
  * open on the thread that started it, and sums task metrics per job.
  * Jobs with no span property are orphans (started from a thread the
  * benchmark does not own). */
final class ExecListener(sc: SparkContext) extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val unpersisted = ConcurrentHashMap.newKeySet[Int]()
  val evictedBlocks = new LongAdder
  private val execSite = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSite.put(x.executionId, ExecListener.classify(x.details))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(-1L)
    val own = ExecListener.classify(
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
    // a job that a SQL execution started from a Spark-owned thread (an
    // adaptive stage, a broadcast) takes the execution's call site
    val site = if (own != "exec") own else Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execSite.get(id.toLong))).getOrElse(own)
    val r = new JobRec(e.jobId, span, e.time, site)
    jobs.put(e.jobId, r)
    e.stageIds.foreach(stageJob.put(_, r))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages.increment())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { r =>
      r.tasks.increment()
      if (e.reason != org.apache.spark.Success) r.failedTasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        r.runMs.add(m.executorRunTime)
        r.cpuNs.add(m.executorCpuTime)
        r.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        r.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    unpersisted.add(e.rddId)

  /** A cached RDD block that leaves memory while its RDD is still
    * persisted was evicted (or never fit); an unpersist does not count. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { b =>
      if (!info.storageLevel.useMemory && !unpersisted.contains(b.rddId) &&
          sc.getPersistentRDDs.contains(b.rddId))
        evictedBlocks.increment()
    }
  }
}

/** Bytes that tasks read from their input sources: the one counter the
  * untraced runs keep (for the query workloads' `mb_per_s`). */
final class InputListener extends SparkListener {
  val bytes = new LongAdder
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) bytes.add(e.taskMetrics.inputMetrics.bytesRead)
}

object ExecListener {
  private val Frame = """^graft\.([\w.]+?)\$?\.(?:\$anonfun\$)?(\w+?)(?:\$\d+)*\(""".r

  /** Names the layer that started a job from its call site: the first
    * engine frame of the result stage's long call-site form. */
  def classify(longSite: String): String =
    longSite.split('\n').iterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") => l
    } match {
      case Some(l) =>
        Frame.findFirstMatchIn(l) match {
          case Some(m) =>
            val cls = m.group(1).split('.').last.stripSuffix("$")
            val method = m.group(2)
            cls match {
              case "FileManifest" => "sources"
              case "FileOps" if method.startsWith("contentDigests") =>
                "fileops.digest"
              case "FileOps" if method.startsWith("delete") => "fileops.delete"
              case "FileOps" if method.startsWith("sync") => "fileops.sync"
              case "FileOps" => "fileops.copy"
              case other => "exec." + other
            }
          case None => "exec"
        }
      case None => "exec"
    }
}

/** Exclusive attribution of a root span's wall time: at each instant the
  * deepest open span (children clipped to their parents) owns the time,
  * so the per-layer self times sum exactly to the root's wall. */
object SelfTime {
  def apply(root: Span, all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    // clipped nodes with depth, reachable from root
    val nodes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, String)]
    def walk(s: Span, lo: Long, hi: Long, depth: Int): Unit = {
      val a = math.max(s.start, lo); val b = math.min(s.end, hi)
      if (b > a) {
        nodes += ((a, b, depth, s.layer))
        kids.getOrElse(s.id, Nil).foreach(walk(_, a, b, depth + 1))
      }
    }
    walk(root, root.start, root.end, 0)
    val cuts = nodes.flatMap(n => Seq(n._1, n._2)).distinct.sorted
    val out = scala.collection.mutable.HashMap.empty[String, Double]
    cuts.iterator.zip(cuts.iterator.drop(1)).foreach {
      case (a, b) =>
        var best: (Long, Long, Int, String) = null
        nodes.foreach { n =>
          if (n._1 <= a && n._2 >= b &&
              (best == null || n._3 > best._3 ||
                (n._3 == best._3 && n._1 > best._1))) best = n
        }
        if (best != null)
          out(best._4) = out.getOrElse(best._4, 0.0) + (b - a) / 1e9
    }
    out.toMap
  }
}
