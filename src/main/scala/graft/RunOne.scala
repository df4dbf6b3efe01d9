package graft

/** Dev harness: run ONE registered query by name and print its result —
  * the fast inner loop when authoring a new `SparkEntry.queries` entry
  * (the full `Verify` pass re-runs all of them).
  *
  *   sbt 'runMain graft.RunOne q100_corpus_pipeline /root/testdata/sf0.001'
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = Session()
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.show(100, truncate = false)
    if (args.contains("--explain")) df.explain("formatted")
    spark.stop()
  }
}
