package graft

import java.nio.file.{Files, Paths}

/** Writes PLANS.md: the formatted physical plan of every registered
  * query, for plan review without running the engine. Regenerate with
  * `sbt 'runMain graft.ExplainDump'` after plan-affecting changes.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = if (args.nonEmpty) args(0) else "/root/repo/PLANS.md"
    val spark = Session()
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.ExplainDump at ")
      .append(sfDir).append(")\n\n")
    sb.append("Shapes to read for: `PushedFilters`/`ReadSchema` on scans, ")
    sb.append("`BroadcastHashJoin` on dim joins, `TakeOrderedAndProject` for ")
    sb.append("top-k, partial+final `HashAggregate`, no `CartesianProduct`.\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n").append(plan.trim).append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
