package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer figures of one traced pass, from its spans and the jobs the
  * listener parented to them. */
object Layers {
  private val JobIds = 1000000000000L

  private def jobSpan(j: JobRec): Span =
    Span(JobIds + j.id, j.span, s"job ${j.id}", j.site,
      Tracer.nanoOf(j.startMs), Tracer.nanoOf(math.max(j.endMs, j.startMs)))

  /** Summed length of the union of intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  private def selfGroup(layer: String): String =
    if (layer == "exec.collect") "collect"
    else if (layer.startsWith("exec")) "exec"
    else if (layer.startsWith("fileops")) "fileops"
    else layer

  def apply(p: PassCtx, spans: Seq[Span], l: ExecListener, cores: Int,
      wall: Double): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val root = byId(p.span)
    // the op (or blueprint) span and the nearest build span above a span
    def chain(id: Long): List[Span] =
      byId.get(id).map(s => s :: chain(s.parent)).getOrElse(Nil)
    val opBySpan = p.ops.map(o => o.span -> o).toMap
    val allJobs = l.jobs.values.asScala.toSeq
    val inPass = allJobs.filter { j =>
      val t = Tracer.nanoOf(j.startMs); t >= root.start && t <= root.end
    }
    val owned = inPass.filter(j => chain(j.span).exists(_.id == root.id))
    def opOf(j: JobRec): Option[OpRec] =
      chain(j.span).collectFirst { case s if opBySpan.contains(s.id) => opBySpan(s.id) }
    val passSpans = spans.filter(s => chain(s.id).exists(_.id == root.id))
    def sum(js: Seq[JobRec])(f: JobRec => Double): Double = js.map(f).sum
    def dur(js: Seq[JobRec]): Double =
      js.map(j => math.max(0L, j.endMs - j.startMs) / 1e3).sum
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    val builds = passSpans.filter(_.layer == "builders")
    m("builders.build_s") = builds.map(s => (s.end - s.start) / 1e9).sum
    m("builders.build_jobs") =
      owned.count(j => chain(j.span).exists(_.layer == "builders")).toDouble
    m("exec.jobs") = inPass.size.toDouble
    m("exec.orphan_jobs") = inPass.count(_.span < 0).toDouble
    m("exec.collect_s") = passSpans.filter(_.layer == "exec.collect")
      .map(s => (s.end - s.start) / 1e9).sum
    m("exec.job_gap_s") = p.ops.flatMap(o => byId.get(o.span)).map { s =>
      val iv = owned.filter(j => chain(j.span).exists(_.id == s.id)).map { j =>
        val js = jobSpan(j)
        (math.max(js.start, s.start), math.min(js.end, s.end))
      }.filter(x => x._2 > x._1)
      (s.end - s.start - union(iv)) / 1e9
    }.sum
    val runS = sum(inPass)(_.runMs.sum / 1e3)
    m("exec.core_idle_frac") = math.max(0.0, 1.0 - runS / (wall * cores))
    m("exec.stages") = sum(inPass)(_.stages.sum.toDouble)
    m("exec.tasks") = sum(inPass)(_.tasks.sum.toDouble)
    m("exec.task_run_s") = runS
    m("exec.task_cpu_s") = sum(inPass)(_.cpuNs.sum / 1e9)
    m("exec.shuffle_mb") = sum(inPass)(_.shuffleBytes.sum / 1e6)
    m("exec.spill_mb") = sum(inPass)(_.spillBytes.sum / 1e6)
    m("exec.failed_tasks") = sum(inPass)(_.failedTasks.sum.toDouble)
    p.ops.groupBy(_.group).foreach { case (g, os) =>
      m(s"module.$g.op_s") = os.map(_.sec).sum
      m(s"module.$g.jobs") = owned.count(j => opOf(j).exists(_.group == g)).toDouble
    }
    m("cache.peak_mb") = p.cachePeakMb
    m("cache.disk_mb") = p.cacheDiskMb
    val scans = owned.filter(_.site == "sources")
    m("sources.scan_s") = dur(scans)
    m("sources.scan_jobs") = scans.size.toDouble
    m("fileops.copy_s") = dur(owned.filter(_.site == "fileops.copy"))
    m("fileops.delete_s") = dur(owned.filter(_.site == "fileops.delete"))
    m("fileops.sync_s") =
      p.ops.filter(_.name.contains("sync")).map(_.sec).sum

    val self = SelfTime(root, spans ++ owned.map(jobSpan))
    self.groupBy(e => selfGroup(e._1)).foreach { case (g, e) =>
      m(s"self.${g}_s") = e.values.sum
    }
    m.toMap
  }

  /** Writes every recorded span and job as one JSON array. */
  def writeSpans(out: java.nio.file.Path, spans: Seq[Span], l: ExecListener): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val all = spans ++ l.jobs.values.asScala.toSeq.map(jobSpan)
    val body = all.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${esc(s.name)}",""" +
        s""""layer":"${esc(s.layer)}","start_ns":${s.start},"end_ns":${s.end}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, body)
  }
}
