package graft

import org.apache.spark.sql.SparkSession

/** The one way to build the engine's session. Every main (`RunOne`,
  * `Bench`, `Verify`, `Stress`, `AnnTune`, `ProfileOne`, `ExplainDump`,
  * the blueprint CLIs) and the test suite's `SparkSpec` call it, so the
  * config that is verified and plan-dumped is the config that is
  * benchmarked. `perfbench`'s `Main.session` keeps its own copy of these
  * settings; the two must match.
  *
  * Its only inputs are deployment settings: `cpus` (`SPARK_GRAFT_CPUS`,
  * default the machine's cores) sets the local master's threads and the
  * shuffle partitions, and `master` (the blueprint CLIs pass
  * `SPARK_MASTER`) replaces the local master.
  *
  * `canChangeCachedPlanOutputPartitioning` lets AQE coalesce persisted
  * (`Q.managed`) frames: with Spark's default every persisted fragment
  * pins its pre-AQE partitioning, and every stage reading the fixpoint
  * loops' kilobyte node/edge frames pays `cpus` near-empty tasks (q245
  * at sf0.1: 6.6 → 3.5 s from this one setting). There is no periodic
  * ContextCleaner GC: its `System.gc()` fires inside whatever pass is
  * running; the harnesses collect between queries instead.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, or the machine's cores. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(cpus: Int = defaultCpus, master: Option[String] = None)
      : SparkSession = {
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
