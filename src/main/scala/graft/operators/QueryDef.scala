package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One declared engine capability: a Spark plan builder plus (when the
  * semantics are SQL-expressible) an equivalent DuckDB oracle query. The
  * driver hash-compares the two at sf0.01 (SURVEY §5 tier 4).
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Shared helpers for the declared query surface. */
object Q {

  private val managedFrames =
    scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist a shared plan fragment AND register it for deterministic
    * release. Query builders structurally cannot unpersist their shared
    * frames before the final action (the returned plan still reads
    * them), so un-tracked `.persist` calls accumulated MEMORY_AND_DISK
    * caches for the life of the session — the r8 "library-consumer
    * persist debt". Every builder routes through here instead; any
    * caller (Verify, Bench, a library user composing builders) calls
    * [[releaseManaged]] once it has consumed the query's result, which
    * releases exactly the frames the queries persisted — no global
    * `clearCache` stomping on caches the caller owns.
    *
    * A plan that is ALREADY cached (e.g. a bench warmup pass built the
    * same fragment) is returned as-is rather than re-persisted — that
    * both reuses the warm cache and silences the CacheManager's "Asked
    * to cache already cached data" warning that every re-built pass
    * used to emit.
    */
  def managed(df: DataFrame): DataFrame =
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) df
    else synchronized {
      val p = df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      managedFrames += p
      p
    }

  /** Unpersist every frame registered by [[managed]] since the last
    * release. Idempotent; safe while nothing is mid-action on them.
    */
  def releaseManaged(): Unit = synchronized {
    managedFrames.foreach(_.unpersist(blocking = false))
    managedFrames.clear()
  }

  private val storeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Serialize check-then-create of a SHARED persisted store: the
    * `if (!tableExists(name)) build(name)` idiom races when two
    * concurrently-warming queries share a fixture store (the r18
    * concurrent store-warmup batches). One JVM-wide lock object per
    * store name — builders of different stores stay fully parallel.
    */
  def syncStore[T](name: String)(body: => T): T =
    storeLocks.computeIfAbsent(name, _ => new Object).synchronized(body)

  /** Overlap driver work: run `body` on the `graft-async` pool with the
    * caller's active session and local properties (job group, job
    * description, scheduler pool), so the jobs it starts carry the
    * caller's labels and die with the caller's `cancelJobGroup`. This is
    * the primitive Spark's own broadcast and subquery execs use
    * (`SQLExecution.withThreadLocalCaptured`), over a daemon pool of at
    * most [[PoolThreads]] threads. The pool grows on demand rather than
    * being small and fixed: an overlapped body may wait on work it forks
    * itself (a store warmed concurrently whose builder overlaps its own
    * jobs), which a small pool would deadlock.
    */
  def async[T](s: SparkSession)(body: => T)
      : java.util.concurrent.CompletableFuture[T] =
    org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      asyncPool)(body)

  /** Threads of the `graft-async` pool, the bound of Spark's
    * broadcast-exchange pool (`spark.sql.broadcastExchange.maxThreadThreshold`).
    */
  val PoolThreads = 128

  /** `f` over `items` on the `graft-async` pool, one worker per item up
    * to [[PoolThreads]], for plain driver work that starts no Spark job
    * and mostly waits on a store (a listing level, the rows of a small
    * file op): no SQL execution, no captured local properties. The width
    * is the pool's, not the executor cores', so the calls in flight do
    * not depend on the master. The caller waits and gets the results in
    * item order. A failing item stops the workers from taking further
    * items, and its error is rethrown. An interrupt of the caller does
    * the same and is rethrown as the `InterruptedException`, but only
    * once every worker has finished its current item, so that no item is
    * still running when this returns. Workers are not interrupted, as
    * Spark's tasks are not by default (`interruptOnCancel = false`,
    * because HDFS may take an interrupted read for a dead node): a stop
    * waits for up to one in-flight item per worker, [[PoolThreads]] at
    * most.
    */
  def parallel[A, B](items: IndexedSeq[A])(f: A => B): IndexedSeq[B] = {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}
    val out = new Array[Any](items.length)
    val next = new AtomicInteger
    val stop = new AtomicBoolean
    val failure = new AtomicReference[Throwable]
    val workers = Seq.fill(math.min(PoolThreads, items.length))(
      asyncPool.submit(new Runnable {
        def run(): Unit = {
          var i = next.getAndIncrement()
          while (!stop.get && i < items.length) {
            try out(i) = f(items(i))
            catch { case t: Throwable => failure.compareAndSet(null, t); stop.set(true) }
            i = next.getAndIncrement()
          }
        }
      }))
    var interrupted: InterruptedException = null
    workers.foreach { w =>
      var waiting = true
      while (waiting)
        try { w.get(); waiting = false }
        catch { case e: InterruptedException => stop.set(true); interrupted = e }
    }
    if (interrupted != null) throw interrupted
    Option(failure.get).foreach(throw _)
    out.toIndexedSeq.asInstanceOf[IndexedSeq[B]]
  }

  private lazy val asyncPool = {
    import java.util.concurrent._
    val n = new atomic.AtomicInteger
    val p = new ThreadPoolExecutor(PoolThreads, PoolThreads, 60L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, s"graft-async-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** `.managedPersist` chains where `.persist(...)` used to — every
    * query-builder shared fragment routes its cache through
    * [[managed]] so [[releaseManaged]] can free it.
    */
  implicit final class ManagedOps(private val df: DataFrame)
      extends AnyVal {
    def managedPersist: DataFrame = managed(df)
  }

  /** [[managed]] for a TYPED Dataset (the media-asset synthesis
    * frames): same registration/release discipline — `Dataset[T]`
    * upcasts to `Dataset[Row]` only by re-encoding, so the typed
    * handle is registered via its untyped view for release while the
    * caller keeps the typed one (persist is plan-keyed, both views hit
    * the same cache entry).
    */
  def managedDs[T](ds: org.apache.spark.sql.Dataset[T])
      : org.apache.spark.sql.Dataset[T] =
    if (ds.storageLevel != org.apache.spark.storage.StorageLevel.NONE) ds
    else synchronized {
      val p = ds.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      managedFrames += p.toDF()
      p
    }
  /** Load a test table. The driver's `events` table has shipped `ts` in
    * two physical flavors across regenerations: parquet TIMESTAMP(NANOS)
    * (Spark reads a nanosecond Long via
    * `spark.sql.legacy.parquet.nanosAsLong`) and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (Spark 4 infers TIMESTAMP_NTZ). Normalize
    * both to microsecond TimestampType here so every query sees one
    * type — `unix_micros` and friends reject NTZ input, and the session
    * timezone is pinned to UTC everywhere so the NTZ→TZ cast is
    * instant-preserving.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division: double division on nanosecond longs (~1.7e18)
        // exceeds 2^53 and silently loses up to ~256 ns
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Cheap content fingerprint of one test table's parquet files
    * (file count, max mtime, total bytes — one driver-side listing,
    * no data read). [[FitMemo]] keys on `dir + fingerprint` instead
    * of the directory string alone, so regenerating the parquet at
    * the same path within a session (re-scaled fixtures, refreshed
    * corpora) invalidates the memo instead of silently serving a fit
    * trained on the old data (ADVICE r12).
    */
  def tableFingerprint(
      spark: SparkSession, dir: String, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val files = fs.listStatus(p).filter(_.isFile)
      val mt = if (files.isEmpty) 0L
        else files.map(_.getModificationTime).max
      s"${files.length}:$mt:${files.map(_.getLen).sum}"
    }
  }

  /** Spread an UNDER-partitioned frame across the cluster before a
    * heavy per-row generator (shingling, per-char gram explode, sketch
    * partials): a small local parquet reads as ONE split — one parquet
    * row group is the minimum split unit, so `maxPartitionBytes` can't
    * help — and everything upstream of the first exchange serializes
    * onto one core. A well-partitioned 100 TB scan already exceeds
    * `defaultParallelism` and skips the exchange entirely, which is
    * what makes this safe to leave in at scale (the unconditional
    * variant cost q29/q34/q99 1.5–2.5× of pure shuffle — VERDICT r10).
    * Unkeyed round-robin: consumers re-key downstream anyway.
    */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // read the partition count off the frame's OWN QueryExecution:
    // `df.rdd` builds a second QueryExecution (deserializer appended)
    // and plans the query twice per call — pure overhead, recurring
    // per micro-batch on the streaming shingle paths (ADVICE r11).
    // `toRdd` is a cached lazy val on the existing QE, so the planning
    // this does is the planning the frame's consumer reuses.
    if (df.queryExecution.toRdd.getNumPartitions < p) df.repartition(p)
    else df
  }

  /** THE two-level prefix-sum offset idiom (q139's discipline), now
    * with one definition instead of five hand-rolled copies (round-17
    * review): returns `df` plus a `cum_before` column — the EXCLUSIVE
    * running sum of `valueCol` within each `groupCols` group under the
    * `orderCols` total order — computed without ever collapsing the
    * frame onto one task:
    *
    *  1. range-partition on `orderCols` at `defaultParallelism` (so
    *     partition order IS the global order) and stamp
    *     `spark_partition_id`;
    *  2. per-(group, pid) LOCAL running sums — a partitioned window,
    *     never a global one;
    *  3. the exclusive prefix of the per-(group, pid) totals is a
    *     BOUNDED frame (≤ |groups| × parallelism rows) that
    *     broadcast-joins back.
    *
    * `orderCols` must be a total order (callers append a key column),
    * or the running sum is nondeterministic. The ranged frame feeds
    * two plan branches, so it persists via `persist` — the default
    * managed registry for query builders; store WRITERS pass their own
    * plain-persist (the packSequencesBy discipline: a builder must not
    * touch the caller's managed caches). Internals (`pid`, local sums,
    * offsets) are dropped from the output.
    */
  def twoLevelPrefix(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      valueCol: String,
      persist: DataFrame => DataFrame = managed): DataFrame = {
    val par =
      math.max(1, df.sparkSession.sparkContext.defaultParallelism)
    val ranged = persist(df
      .repartitionByRange(par, orderCols: _*)
      .withColumn("pid", spark_partition_id()))
    val grp = groupCols.map(col)
    val wLocal = Window.partitionBy(grp :+ col("pid"): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.partitionBy(grp: _*).orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = ranged.groupBy(grp :+ col("pid"): _*)
      .agg(sum(valueCol).as("psum"))
      .withColumn("off", coalesce(sum("psum").over(wOff), lit(0L)))
      .select((groupCols :+ "pid").map(col) :+ col("off"): _*)
    ranged
      .withColumn("lc", sum(valueCol).over(wLocal))
      .join(broadcast(offs), groupCols :+ "pid")
      .withColumn("cum_before", col("lc") + col("off") - col(valueCol))
      .drop("lc", "off", "pid")
  }

  /** Exact, order-independent sum of a floating column: cast every value to
    * DECIMAL(18,scale) first. Decimal addition is associative, so partial
    * aggregation order (which differs between Spark partial/final agg and
    * DuckDB's scan order) cannot change the result — the key to stable
    * oracle hashes (SURVEY §7 "float hash-stability" risk).
    */
  def dsum(c: Column, scale: Int = 4): Column = sum(c.cast(DecimalType(18, scale)))

  /** ROUND(exact decimal sum, 2) surfaced as DOUBLE (both engines produce
    * the identical nearest double for a 2-decimal value).
    */
  def money(c: Column, scale: Int = 4): Column =
    round(dsum(c, scale), 2).cast("double")

  /** Exact decimal-sum-based average, surfaced as DOUBLE. */
  def davg(c: Column, scale: Int = 4): Column =
    round(dsum(c, scale).cast("double") / count(lit(1)), 2)
}
