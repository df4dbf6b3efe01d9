package perfbench

import java.util.concurrent.{Callable, ExecutorService, Executors, TimeUnit,
  TimeoutException}
import org.apache.spark.sql.SparkSession

/** Outcome of one operation: its value or the reason it failed, and its
  * wall time measured on the thread that ran it. */
final case class OpResult[T](value: Either[String, T], sec: Double)

/** Runs one operation at a time on a single thread the benchmark owns,
  * never on the JVM common pool (which the engine's own overlap work and
  * Hadoop's async reads share). Each operation gets its own job group;
  * on timeout the group is cancelled, the runner waits until no job is
  * active, and the operation counts as failed. */
final class Runner(spark: SparkSession, timeoutSec: Long) {
  private val sc = spark.sparkContext
  private var seq = 0L
  private var worker: ExecutorService = newWorker()

  private def newWorker(): ExecutorService =
    Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
    }

  def run[T](name: String)(body: => T): OpResult[T] = {
    seq += 1
    val group = s"perfbench-$seq"
    val fut = worker.submit(new Callable[OpResult[T]] {
      def call(): OpResult[T] = {
        sc.setJobGroup(group, name, interruptOnCancel = true)
        val t0 = System.nanoTime()
        val v =
          try Right(body)
          catch { case e: Throwable =>
            Left(e.toString.takeWhile(_ != '\n').take(300)) }
        sc.clearJobGroup()
        OpResult(v, (System.nanoTime() - t0) / 1e9)
      }
    })
    try fut.get(timeoutSec, TimeUnit.SECONDS)
    catch {
      case _: TimeoutException =>
        sc.cancelJobGroup(group)
        try fut.get(30, TimeUnit.SECONDS)
        catch { case _: Throwable =>
          fut.cancel(true)
          worker.shutdownNow()
          worker = newWorker()
        }
        val deadline = System.nanoTime() + 30000000000L
        while (sc.statusTracker.getActiveJobIds().nonEmpty &&
            System.nanoTime() < deadline) Thread.sleep(50)
        val left = sc.statusTracker.getActiveJobIds().length
        OpResult(Left(s"timed out after ${timeoutSec}s; " +
          s"$left job(s) still active after cancel"), timeoutSec.toDouble)
    }
  }

  def close(): Unit = {
    worker.shutdown()
    worker.awaitTermination(30, TimeUnit.SECONDS)
  }
}
