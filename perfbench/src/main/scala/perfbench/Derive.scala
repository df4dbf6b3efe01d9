package perfbench

import graft.SparkEntry
import graft.operators.Q

/** Derives the expected results the benchmark checks against: runs each
  * query twice in opposite orders, prints its row count, both digests
  * and the second (warm) run's seconds as one JSON line, and writes the
  * second result as parquet plus `oracle_sql.json` for derive.py's
  * DuckDB cross-check.
  *
  *   Main --derive <sfDir> <outDir> [query…]
  */
object Derive {
  def run(args: Array[String]): Unit = {
    val sfDir = args(0)
    val out = args(1)
    val names =
      if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Main.session(s"$out/work",
      Runtime.getRuntime.availableProcessors(), latencyMs = 0.0)
    val runner = new Runner(spark, timeoutSec = 300)
    val digests = scala.collection.mutable.Map.empty[String, String]
    Seq(names, names.reverse).zipWithIndex.foreach { case (order, pass) =>
      order.foreach { q =>
        Q.releaseManaged()
        val r = runner.run(q) {
          val df = Queries.builds(q)(spark, sfDir)
          val rows = df.collect()
          (df, Queries.digest(df.schema, rows))
        }
        r.value match {
          case Left(e) => println(s"""{"name":"$q","error":"${e.replace("\"", "'")}"}""")
          case Right((df, (n, hash))) if pass == 0 => digests(q) = hash
          case Right((df, (n, hash))) =>
            df.coalesce(1).write.mode("overwrite").parquet(s"$out/results/$q")
            println(s"""{"name":"$q","rows":$n,"hash":"${digests.getOrElse(q, "")}",""" +
              s""""hash2":"$hash","cost_s":${r.sec}}""")
        }
      }
    }
    Q.releaseManaged()
    def js(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      SparkEntry.oracleSql.filter(e => names.contains(e._1))
        .map { case (k, v) => s"${js(k)}: ${js(v)}" }.mkString("{", ",\n", "}"))
    runner.close()
    spark.stop()
  }
}
