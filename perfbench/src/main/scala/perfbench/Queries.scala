package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.SparkEntry
import graft.operators._

/** The engine's registered queries, grouped by the module that declares
  * them, and the order-insensitive result digest the benchmark checks. */
object Queries {
  val modules: Seq[(String, Seq[(String, QueryDef)])] = Seq(
    "Relational" -> Relational.defs, "TextAnalysis" -> TextAnalysis.defs,
    "Dedup" -> Dedup.defs, "Similarity" -> Similarity.defs,
    "MultiModal" -> MultiModal.defs, "Reshape" -> Reshape.defs,
    "Analytic" -> Analytic.defs, "Stats" -> Stats.defs,
    "Pipeline" -> Pipeline.defs, "Graph" -> Graph.defs,
    "Learn" -> Learn.defs, "Maintenance" -> Maintenance.defs,
    "Release" -> Release.defs)

  lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, defs) => defs.map(_._1 -> m) }.toMap

  lazy val builds: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries

  /** Queries whose first run persists an index store or a fitted model
    * under a catalog table (the set `graft.Bench` warms before timing). */
  val storeBuilders: Set[String] = Set("q116", "q117", "q126", "q131",
    "q132", "q166", "q169", "q172", "q179", "q181", "q183", "q190", "q192",
    "q205", "q208", "q210", "q212", "q215", "q227", "q234", "q235")

  def isStoreBuilder(name: String): Boolean =
    storeBuilders.contains(name.takeWhile(_ != '_'))

  /** Canonical text of one value: doubles to 9 significant digits (so a
    * different summation order cannot flip the digest), maps sorted. */
  def canon(v: Any): String = v match {
    case null => "␀"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0"
      else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Row count and a multiset digest of the rows: columns in name order,
    * one 64-bit hash per row, summed, so row order does not matter. */
  def digest(schema: StructType, rows: Array[Row]): (Long, String) = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val head = order.map(schema.fieldNames(_)).mkString(",")
    var sum = 0L
    rows.foreach { r =>
      val s = order.map(i => canon(r.get(i))).mkString("\u0001")
      val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x0b4d9e17)
      sum += (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
    }
    val h = scala.util.hashing.MurmurHash3.stringHash(head)
    (rows.length.toLong, f"${sum ^ h.toLong}%016x")
  }
}

/** What a query's result must be: its row count and, unless the query's
  * result is not reproducible, its digest. */
final case class Expect(rows: Long, hash: Option[String], cost: Double)

object Expect {
  /** `expected.json`: `{query: {"rows": n, "hash": h|null, "cost_s": s}}`
    * for the sf0.001 tables. */
  def load(path: String): Map[String, Expect] = {
    import org.json4s._
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    def num(j: JValue): Double = j match {
      case JInt(v) => v.toDouble
      case JDouble(v) => v
      case JDecimal(v) => v.toDouble
      case JLong(v) => v.toDouble
      case _ => 0.0
    }
    org.json4s.jackson.JsonMethods.parse(txt) match {
      case JObject(qs) => qs.map { case (q, o) =>
        q -> Expect(num(o \ "rows").toLong, (o \ "hash") match {
          case JString(h) => Some(h)
          case _ => None
        }, num(o \ "cost_s"))
      }.toMap
      case _ => Map.empty
    }
  }
}

/** A fixed list of registered queries run in the given order; every pass
  * releases the engine's managed caches before each query, so each pass
  * builds its own fragments. Store builders among them run once, one at
  * a time, during set-up. `plant` names a query whose expected digest is
  * replaced by a wrong one (the smoke check of the checker itself). */
final class QueryWorkload(sfDir: String, expect: Map[String, Expect],
    names: Seq[String], plant: Option[String] = None) extends Workload {

  private def expected(q: String): Expect = {
    val e = expect.getOrElse(q,
      throw new IllegalStateException(s"no expected result for $q"))
    if (plant.contains(q)) e.copy(hash = Some("0123456789abcdef")) else e
  }

  private def runQuery(h: Harness, p: PassCtx, q: String): Unit = {
    Q.releaseManaged()
    val build = Queries.builds(q)
    h.op(p, q, Queries.moduleOf(q), "op") { id =>
      val df = h.tracer.span(h.sc, id, "build", "builders")(
        _ => build(h.spark, sfDir))
      val rows = h.tracer.span(h.sc, id, "collect", "exec.collect")(
        _ => df.collect())
      (df.schema, rows)
    } { case (schema, rows) =>
      val (n, hash) = Queries.digest(schema, rows)
      val e = expected(q)
      if (n != e.rows) Some(s"rows $n, expected ${e.rows}")
      else if (e.hash.exists(_ != hash)) Some(s"digest $hash, expected ${e.hash.get}")
      else None
    }
  }

  def setup(h: Harness): Map[String, Double] = {
    names.foreach(expected)
    val ctx = new PassCtx(-1, traced = false)
    val builders = names.filter(Queries.isStoreBuilder)
    builders.foreach(q => runQuery(h, ctx, q))
    Q.releaseManaged()
    h.setupOps ++= ctx.ops
    ctx.ops.foreach(o =>
      println(f"setup store build ${o.name}%-32s ${o.sec}%.3f s"))
    Map("setup.store_build_s" -> ctx.ops.map(_.sec).sum,
      "setup.store_builders" -> builders.size.toDouble)
  }

  def pass(h: Harness, p: PassCtx): Unit = {
    names.foreach(q => runQuery(h, p, q))
    p.values("objects_per_s") = names.size / p.ops.map(_.sec).sum
  }

  def teardown(h: Harness): Unit = {
    Q.releaseManaged()
    h.spark.catalog.listTables().collect().foreach { t =>
      h.spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
    }
  }
}
