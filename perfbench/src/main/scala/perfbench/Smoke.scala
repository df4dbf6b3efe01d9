package perfbench

/** A tiny configuration of every workload (three sf0.001 queries, a few
  * dozen objects, one 1 MiB large object) whose expected digest for one
  * query is deliberately wrong: the run must report exactly that query
  * as failed, and the simulated store must have counted the create,
  * mkdirs and open calls that the copies make and the bytes that the
  * content digests read. */
final class Smoke(work: String, sfDir: String, exp: Map[String, Expect])
    extends Workload {
  private val names = Seq("q03_agg_tpchq1") ++
    Seq("TextAnalysis", "Graph").map(m => Queries.modules.toMap.apply(m).head._1)
  private val q = new QueryWorkload(sfDir, exp, names, plant = Some(Smoke.Planted))
  private val o = new ObjectStoreWorkload(work, small = 24, large = 1,
    largeBytes = 1L << 20, exact = 12)
  def setup(h: Harness): Map[String, Double] = q.setup(h) ++ o.setup(h)
  def pass(h: Harness, p: PassCtx): Unit = { q.pass(h, p); o.pass(h, p) }
  def teardown(h: Harness): Unit = { q.teardown(h); o.teardown(h) }
}

object Smoke {
  val Planted = "q03_agg_tpchq1"

  /** Exits non-zero unless the planted digest, and only it, failed. */
  def verdict(ops: Seq[OpRec]): Unit = {
    val failed = ops.filter(_.error.nonEmpty).map(_.name)
    val (rpc, _) = SimStore.snapshot()
    val uncounted = Seq("create", "mkdirs", "open", "delete", "list",
      "getFileStatus").filter(rpc(_) == 0)
    val digested = SimStore.digestBytes.sum()
    if (failed == Seq(Planted) && uncounted.isEmpty && digested > 0)
      System.err.println(s"smoke: ok: the planted wrong digest of $Planted " +
        s"was reported as the only failure; RPCs counted: $rpc; " +
        s"$digested bytes digested")
    else {
      System.err.println(s"smoke: FAILED: failed ops $failed " +
        s"(expected only $Planted); uncounted RPC kinds $uncounted; " +
        s"$digested bytes digested")
      sys.exit(1)
    }
  }
}
