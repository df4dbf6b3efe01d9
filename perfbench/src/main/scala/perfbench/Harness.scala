package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One operation as the benchmark saw it. `group` is the module (for a
  * query) or the blueprint phase it belongs to. */
final case class OpRec(name: String, group: String, sec: Double,
    error: Option[String], span: Long)

/** Everything one pass recorded; `values` holds the workload's own
  * per-pass figures (throughputs, per-phase times, RPC counts). */
final class PassCtx(val index: Int, val traced: Boolean) {
  var span: Long = 0L
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val values = mutable.LinkedHashMap.empty[String, Double]
  var cachePeakMb, cacheDiskMb = 0.0
  def add(k: String, v: Double): Unit = values(k) = values.getOrElse(k, 0.0) + v
}

/** Shared state of one benchmark process. */
final class Harness(val spark: SparkSession, val runner: Runner,
    val tracer: Tracer, val seed: Long) {
  val sc = spark.sparkContext
  /** Failed or wrong operations of set-up (passes keep their own). */
  val setupOps = mutable.ArrayBuffer.empty[OpRec]

  /** Runs one operation under an op span on the runner's thread, then
    * checks its value on this thread under a `check` span. A thrown
    * error, a timeout and a failed check all make the op failed. */
  def op[T](p: PassCtx, name: String, group: String, layer: String)(
      body: Long => T)(check: T => Option[String]): Option[T] = {
    var spanId = 0L
    val r = runner.run(name) {
      tracer.span(sc, p.span, name, layer) { id => spanId = id; body(id) }
    }
    val err = r.value match {
      case Left(e) => Some(e)
      case Right(v) =>
        tracer.span(sc, p.span, s"check $name", "check") { _ =>
          try check(v)
          catch { case e: Throwable => Some(s"check threw $e".take(300)) }
        }
    }
    err.foreach(e => System.err.println(s"[perfbench] FAILED $name: $e"))
    p.ops += OpRec(name, group, r.sec, err, spanId)
    if (p.traced) {
      val infos = sc.getRDDStorageInfo
      p.cachePeakMb = math.max(p.cachePeakMb, infos.map(_.memSize).sum / 1e6)
      p.cacheDiskMb = math.max(p.cacheDiskMb, infos.map(_.diskSize).sum / 1e6)
    }
    r.value.toOption.filter(_ => err.isEmpty)
  }
}

/** A workload: set-up outside the timed region, then repeatable passes. */
trait Workload {
  /** Builds fixtures and stores; returns per-layer set-up seconds
    * (`setup.fixture_s`, `setup.store_build_s`). */
  def setup(h: Harness): Map[String, Double]
  def pass(h: Harness, p: PassCtx): Unit
  /** Removes every fixture the workload made. */
  def teardown(h: Harness): Unit
}
