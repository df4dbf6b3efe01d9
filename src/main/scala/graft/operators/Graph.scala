package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Q._

/** Link-graph analytics for crawl/corpus curation (SURVEY §2B
  * extension surface — the reference is a GCS file mover with no graph
  * code; absent by construction). The operator a web-scale training
  * corpus actually needs from this family is authority scoring over the
  * hyperlink graph — crawl-frontier / seed prioritization (which
  * domains to fetch deeper) and source weighting both consume it — so
  * the declared query is PageRank (Page et al. 1999) over a link table
  * EXTRACTED from document text, end to end: regex link extraction →
  * distinct edge list → out-degrees → fixed-iteration damped rank →
  * top-k report.
  *
  * Determinism discipline: ranks live in integer MICROS and every
  * iteration step is integer arithmetic (`div` floor division on
  * non-negative longs ≡ DuckDB `//`), so an 8-iteration recurrence is
  * bitwise identical in both engines by construction — no float sum
  * order to defend. Dangling nodes (zero out-links) drop their mass,
  * and the teleport term is the flat per-node 0.15e6 (the uniform-
  * teleport normalization); both declared, both mirrored exactly in
  * the oracle's unrolled CTE chain.
  *
  * Scale notes (100 TB): the edge list and its out-degree join are
  * built once, persisted, and reused by every iteration — each
  * iteration is then one shuffle-on-`dst` partial aggregation plus a
  * node-keyed left join, the standard distributed PageRank shape. The
  * per-iteration `localCheckpoint(true)` cuts the logical-plan chain
  * exactly like the q45 connected-components fixpoint (`Dedup.scala`)
  * — rank frames are two longs per node, metadata-sized relative to
  * the corpus — so plan depth stays O(1) regardless of iteration
  * count. Iteration count is fixed (8), not convergence-polled: no
  * driver-side convergence collect on the hot path.
  */
object Graph {

  /** The declared link fixture (q167/q170/q171 discipline): the
    * synthetic corpus has no hyperlinks, so deterministic `link->docK`
    * tokens are planted — every doc_id ≡ 0 (mod 3) links to
    * `(id*7+11) % 400` and `(id*13+29) % 400` (targets concentrated on
    * the first 400 ids so in-degree is non-trivial at every SF), and
    * every doc_id ≡ 0 (mod 17) links to the designated hub doc 7. No
    * self-loops arise (both congruences are unsolvable mod 400, and
    * 7 % 17 ≠ 0); the rare duplicate edge (id ≡ 197 mod 200 makes the
    * two mod-400 targets coincide) is removed by the declared DISTINCT.
    */
  private[graft] def linkFixture(docId: Column, text: Column): Column =
    concat(text,
      when(docId % 3 === 0,
        concat(lit(" link->doc"), ((docId * 7 + 11) % 400).cast("string"),
          lit(" link->doc"), ((docId * 13 + 29) % 400).cast("string")))
        .otherwise(lit("")),
      when(docId % 17 === 0, lit(" link->doc7")).otherwise(lit("")))

  private val linkFixtureSql =
    """docs AS (SELECT doc_id, text ||
                  CASE WHEN doc_id % 3 = 0
                    THEN ' link->doc' ||
                      CAST((doc_id * 7 + 11) % 400 AS VARCHAR) ||
                      ' link->doc' ||
                      CAST((doc_id * 13 + 29) % 400 AS VARCHAR)
                    ELSE '' END ||
                  CASE WHEN doc_id % 17 = 0 THEN ' link->doc7'
                    ELSE '' END AS text2
                FROM documents)"""

  /** Number of damped-rank iterations — fixed by declaration (not
    * convergence-polled); the oracle unrolls the same count.
    */
  private val PrIters = 8

  /** One oracle iteration step, pr{k-1} → pr{k}: incoming mass is the
    * sum of floor(rank/outdeg) over in-edges, damped in integer micros.
    * DuckDB SUM(BIGINT) widens to HUGEINT, so the sum is cast back
    * before the `//` (the q170 lesson — HUGEINT `//` yields DOUBLE).
    */
  private def prStepSql(k: Int): String =
    s"""pr$k AS (SELECT n.node,
                  CAST(150000 + (85 * COALESCE(i.inc, 0)) // 100 AS BIGINT)
                    AS r
                FROM nodes n LEFT JOIN
                  (SELECT e.dst AS node,
                      CAST(SUM(p.r // o.odeg) AS BIGINT) AS inc
                    FROM pr${k - 1} p
                    JOIN edges e ON e.src = p.node
                    JOIN odeg o ON o.src = p.node
                    GROUP BY e.dst) i ON i.node = n.node)"""

  /** Distinct (src, dst) edges extracted from the fixture-augmented
    * corpus — ONE definition shared by q178's PageRank and q237's
    * reachability so the two graph queries can never disagree on the
    * graph.
    */
  private[graft] def linkEdges(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    linkEdgesOf(table(s, dir, "documents"))

  /** Df-based core of [[linkEdges]] — the Stress probe extracts edges
    * from its in-plan inflated corpus through the SAME definition, so
    * the probe can never measure a different graph than q178/q237.
    */
  private[graft] def linkEdgesOf(docs: DataFrame): DataFrame =
    Q.spread(docs)
      .withColumn("text2", linkFixture(col("doc_id"), col("text")))
      .select(col("doc_id").as("src"),
        explode(expr(
          "regexp_extract_all(text2, 'link->doc([0-9]+)', 1)"))
          .as("d"))
      .select(col("src"), col("d").cast("long").as("dst"))
      .distinct()

  /** Bounded-depth BFS reachability over an edge list — the
    * recursive-CTE shape expressed the distributed way: per hop, join
    * the FRONTIER (newly-reached nodes only, never the visited set)
    * against the edge list, anti-join away already-visited nodes, and
    * localCheckpoint both skinny frames so plan depth stays O(1) in k
    * (the q178/q45 fixpoint discipline). Per-round SHUFFLE volume
    * tracks |frontier| × mean out-degree — never the corpus: the edge
    * list is scanned from cache each round (the standard Pregel-
    * superstep cost, one in-memory columnar pass) but only frontier-
    * matched rows survive to the exchange, and the visited/frontier
    * frames stay two-longs-per-node skinny (the Stress khop probe
    * times the round phase against the untimed edge build as the
    * corpus inflates). Returns (hop, n_new, n_cum); a hop that
    * reaches nothing emits no row (both engines derive rows from the
    * reached set).
    */
  def khopCounts(
      edges: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // respect a caller-owned cache: persist (and later release) the
    // edge frame only when the caller has not already done so —
    // unpersisting someone else's cache mid-pipeline is the silent
    // recompute hazard the managed-registry discipline exists to avoid
    val preCached =
      edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val e = if (preCached) edges
      else edges
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var visited = seeds.select(col("node")).distinct()
      .withColumn("hop", lit(0L)).localCheckpoint(true)
    var frontier = visited.select("node")
    var h = 1
    while (h <= k) {
      val next = e.join(frontier, e("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .localCheckpoint(true)
      visited = visited
        .union(next.withColumn("hop", lit(h.toLong)))
        .localCheckpoint(true)
      frontier = next
      h += 1
    }
    if (!preCached) e.unpersist(blocking = false)
    // the rollup window runs over ≤ k+1 rows — bounded by declaration
    visited.groupBy("hop").agg(count(lit(1)).as("n_new"))
      .withColumn("n_cum", sum("n_new").over(Window.orderBy("hop")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("hop")
  }

  /** Triangle census + global clustering over a directed edge list —
    * one row: undirected node/edge counts, reciprocal directed pairs,
    * wedge count Σ d(d−1)/2, triangle count, and 3·tri/wedges in
    * half-up bp (0 on a wedge-free graph). Self-loops are dropped;
    * direction is collapsed to the canonical (a < b) undirected set.
    * Counting is COMPACT-FORWARD (Latapy 2008): each undirected edge
    * is oriented from its (degree, id)-smaller endpoint, so every
    * triangle is generated exactly once at its ≺-minimal vertex and
    * the wedge join fans out from LOW-degree vertices only — a hub's
    * d² wedge explosion never materializes (O(m^1.5) worst-case wedge
    * rows, the listing optimum). All exchanges are hash exchanges at
    * full parallelism (pivot u for wedges, the (v, w) pair for the
    * closing semi-join); scalar rollups ride 1-row broadcasts.
    * GraphSpec pins the motif arithmetic on a hand-built
    * triangle/square/star/mutual-pair graph.
    */
  /** Canonical undirected edge set (a < b) of a directed edge list:
    * self-loops dropped, direction collapsed, duplicates removed — ONE
    * definition shared by the triangle census and the component census
    * so the two motif queries can never disagree on the graph.
    */
  private[graft] def undirectedOf(edges: DataFrame): DataFrame =
    edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  def triangleStats(edges: DataFrame): DataFrame = {
    val e2 = edges
      .filter(col("src") =!= col("dst"))
      .managedPersist
    // canonical undirected edge set (a < b)
    val und = undirectedOf(e2).managedPersist
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // compact-forward orientation: u → v iff (d(u), u) < (d(v), v)
    // — struct comparison is the total order, no global window;
    // inner key structs share field names (d, n) so Spark's
    // struct ordering applies (differing names = differing types)
    val ka = struct(col("da").as("d"), col("a").as("n"))
    val kb = struct(col("db").as("d"), col("b").as("n"))
    val ov = und
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
      .select(
        when(ka < kb, struct(col("a").as("u"), col("b").as("v"),
          kb.as("kv")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"),
            ka.as("kv")))
          .as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"),
        col("o.kv").as("kv"))
      .managedPersist
    // wedges at the ≺-minimal pivot, closed against oriented edges
    val lo = ov.select(col("u"), col("v").as("p"), col("kv").as("kp"))
    val hi = ov.select(col("u"), col("v").as("q"), col("kv").as("kq"))
    val tri = lo.join(hi, Seq("u"))
      .filter(col("kp") < col("kq"))
      .select(col("p").as("u"), col("q").as("v"))
      .join(ov.select("u", "v"), Seq("u", "v"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val recip = e2.as("x")
      .join(e2.as("y"),
        col("y.src") === col("x.dst") && col("y.dst") === col("x.src"),
        "left_semi")
      .agg(expr("count(1) div 2").as("n_recip"))
    val wedges = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("n_wedges"))
    val ne = und.agg(count(lit(1)).as("n_edges"))
    wedges.crossJoin(broadcast(ne))
      .crossJoin(broadcast(recip))
      .crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_recip"),
        col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") === 0, 0L)
          .otherwise(expr("(20000 * 3 * n_triangles + n_wedges)" +
            " div (2 * n_wedges)"))
          .as("gcc_bp"))
  }

  /** Multi-source bounded-depth BFS — khopCounts generalized to carry
    * WHICH seed reached a node: returns (seed, node, hop) for every
    * (seed, node) pair with a path of length ≤ k, hop = the shortest
    * such length (hop 0 = the seed itself). Same per-round discipline
    * as khopCounts (frontier-only edge join, visited anti-join, both
    * skinny frames localCheckpoint'd — O(1) plan depth in k); state
    * and shuffle are bounded by |seeds| × reachable nodes, so the
    * operator is declared for BOUNDED seed sets (a centrality probe
    * panel, not all-pairs BFS — all-pairs at 100 TB is a different
    * algorithm). The anti-join key is the (seed, node) PAIR: a node
    * already reached by seed A must still be reached by seed B.
    */
  def multiSourceDistances(
      edges: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    val preCached =
      edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val e = if (preCached) edges
      else edges
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var visited = seeds.select(col("seed"))
      .distinct()
      .select(col("seed"), col("seed").as("node"))
      .withColumn("hop", lit(0L)).localCheckpoint(true)
    var frontier = visited.select("seed", "node")
    var h = 1
    while (h <= k) {
      val next = e.join(frontier, e("src") === frontier("node"))
        .select(col("seed"), col("dst").as("node")).distinct()
        .join(visited, Seq("seed", "node"), "left_anti")
        .localCheckpoint(true)
      visited = visited
        .union(next.withColumn("hop", lit(h.toLong)))
        .localCheckpoint(true)
      frontier = next
      h += 1
    }
    if (!preCached) e.unpersist(blocking = false)
    visited
  }

  /** Number of large-star/small-star rounds — fixed by declaration
    * (the oracle unrolls the same count, the q178/q245 discipline);
    * convergence is surfaced as the census's `converged_ok` contract
    * bit instead of being driver-polled. 8 is 2 rounds past the
    * fixture graph's measured worst case (6 at sf0.01; 3–4 at larger
    * SFs — the algorithm's round count FALLS as the giant component
    * densifies), and converged rounds are near-free (the star edge
    * set is already a fixpoint, each phase re-emits it unchanged).
    */
  private val CcRounds = 8

  /** One star-contraction phase of the Kiveris et al. 2014 MapReduce
    * connected-components algorithm ("Connected Components in
    * MapReduce and Beyond" — alternating large-star/small-star,
    * O(log²n) rounds, and in practice 3–6 on web-shaped graphs vs
    * DIAMETER rounds for naive min-label propagation, which measured
    * 26 on the sparse sf0.01 fixture graph). Input/output are
    * canonical (a < b) undirected edge frames. Large-star connects
    * every neighbor LARGER than v to m = min(Γ(v) ∪ {v}); small-star
    * connects every neighbor ≤ v (and v itself) to m. Both phases
    * only ever point nodes at smaller ids, so the edge set descends
    * monotonically to disjoint stars rooted at each component's
    * minimum — no float, no tie to break, deterministic by
    * construction. Shape: a union-both-directions adjacency, one
    * groupBy-min on the node key, one key join back — skinny
    * two-long rows, hash exchanges at full parallelism, nothing
    * pairwise beyond the input degree.
    */
  private def ccPhase(
      e: DataFrame, large: Boolean, dedup: Boolean = true): DataFrame = {
    val adj = e.select(col("a").as("v"), col("b").as("u"))
      .union(e.select(col("b").as("v"), col("a").as("u")))
    val mins = adj.groupBy("v").agg(min("u").as("mu"))
      .select(col("v"), least(col("v"), col("mu")).as("m"))
    val side = if (large) adj
      else adj.union(
        adj.select(col("v")).distinct().select(col("v"), col("v").as("u")))
    val keep = if (large) col("u") > col("v") else col("u") <= col("v")
    val out = side.join(mins, "v")
      .filter(keep && col("u") =!= col("m"))
      .select(col("m").as("a"), col("u").as("b"))
    // dedup=false skips the edge-set distinct when the phase feeds
    // straight into the OTHER phase of the same round (r18): the
    // consumer's groupBy-min is duplicate-insensitive and its own
    // final distinct restores set semantics, so the intermediate
    // exchange bought nothing — and at scale the duplicates ride the
    // next phase's map-side partial aggregation, cheaper than a full
    // distinct shuffle of the edge set.
    if (dedup) out.distinct() else out
  }

  /** The speculative fixpoint loop of [[ccStarEdges]] and
    * [[kcorePeel]]: apply `round` up to `rounds` times from `init`,
    * localCheckpoint'ing every frame (skinny, so plan depth stays O(1)
    * in the round count — the q178/q237 fixpoint discipline). Returns
    * (second-to-last, last, provenStationary) so the caller can derive
    * the convergence bit in-plan; `provenStationary` true means the
    * loop's own probe observed last == prev, so a caller needing the
    * convergence fact (census bit, store fail-loud gate) can skip
    * re-deriving it — false only means "unproven" (the cap was hit
    * before a probe confirmed), never "diverged".
    *
    * The stationarity probe `stationary(prev, last)` is the one
    * deliberate exception to the "no convergence polling" discipline
    * of q178/q245: a graph that converges in k* rounds would otherwise
    * pay (R − k*) full tail rounds to re-derive its own fixpoint
    * (measured 6.2 s → ~3 s at sf0.1 for CC, k* = 3 and R = 8), and
    * the exit is invisible to the declared semantics — a stationary
    * frame IS the fixpoint, so the oracle's full R-round unroll agrees
    * bit-for-bit. The probe runs through [[Q.async]] WHILE this thread
    * speculatively computes the next round (guide §2.6 "overlap
    * independent jobs"): both depend only on the just-checkpointed
    * frame, so each round costs max(round, probe) instead of the sum.
    * On the exit round the speculative frame is dropped; it re-ran an
    * already-stationary frame, the loop's cheapest round, and its
    * checkpoint blocks are reclaimed by the ContextCleaner.
    */
  private def speculate(init: DataFrame, rounds: Int)(
      round: DataFrame => DataFrame)(
      stationary: (DataFrame, DataFrame) => Boolean)
      : (DataFrame, DataFrame, Boolean) = {
    def step(e: DataFrame) = round(e).localCheckpoint(true)
    var prev = init.localCheckpoint(true)
    var last = if (rounds > 0) step(prev) else prev
    var k = 1
    var proven = false
    while (k < rounds && !proven) {
      val (p, e) = (prev, last)
      val probe = Q.async(e.sparkSession)(stationary(p, e))
      val next = step(e)
      proven = probe.join()
      if (!proven) { prev = e; last = next; k += 1 }
    }
    (prev, last, proven)
  }

  /** Run `rounds` large+small star rounds over a canonical undirected
    * edge frame through [[speculate]] (last == prev ⇔ the stars are a
    * fixpoint ⇔ the census counts true components). The probe is ONE
    * bounded job: the union of the two anti-joins is empty iff both
    * are, and isEmpty short-circuits on the first row instead of
    * counting the whole diff (r17).
    */
  private def ccStarEdges(
      und: DataFrame, rounds: Int): (DataFrame, DataFrame, Boolean) =
    speculate(und, rounds)(e =>
      ccPhase(ccPhase(e, large = true, dedup = false), large = false)) {
      (prev, e) =>
        e.join(prev, Seq("a", "b"), "left_anti")
          .union(prev.join(e, Seq("a", "b"), "left_anti"))
          .isEmpty
    }

  /** Component labels (node, comp) for every node of the graph, comp =
    * the component's minimum node id — the public operator API (the
    * q45 dup-cluster fixpoint generalized to arbitrary edge lists).
    * Derived from the star edges: members point at their root, roots
    * label themselves.
    */
  def connectedComponents(
      edges: DataFrame, rounds: Int = CcRounds): DataFrame = {
    val fin = ccStarEdges(undirectedOf(edges), rounds)._2
    fin.select(col("b").as("node"), col("a").as("comp"))
      .union(fin.select(col("a"), col("a")).distinct())
  }

  /** One-row component census over a directed edge list: undirected
    * node/edge counts, component count, largest component size, dust
    * count (components of ≤ 8 nodes — the "disconnected crumbs" a
    * crawl curator prunes), plus two contract bits: `cover_ok` (star
    * sizes partition the node set — Σ csize == n_nodes) and
    * `converged_ok` (one more round changes nothing, so the counts
    * are TRUE components, not an unconverged snapshot). Rollups are
    * all scalar 1-row broadcasts; the size frame is
    * components-bounded.
    */
  def componentCensus(
      edges: DataFrame, rounds: Int = CcRounds): DataFrame = {
    val und = undirectedOf(edges).managedPersist
    val (prev, fin, stat) = ccStarEdges(und, rounds)
    val nodes = und.select(col("a").as("n"))
      .union(und.select(col("b").as("n"))).distinct()
    val sizes = fin.groupBy("a")
      .agg((count(lit(1)) + 1).as("csize"))
    val cstats = sizes.agg(
      count(lit(1)).as("n_components"),
      coalesce(max("csize"), lit(0L)).as("max_csize"),
      coalesce(sum(when(col("csize") <= 8, 1L).otherwise(0L)), lit(0L))
        .as("n_dust"),
      coalesce(sum("csize"), lit(0L)).as("sz_sum"))
    // symmetric-diff count for converged_ok: the declared bit is
    // x1 + x2 = 0, so ONE union-of-anti-joins agg suffices (two
    // broadcast subtrees before, r18) — and when the fixpoint loop's
    // own probe already OBSERVED last == prev, the count is 0 by that
    // observation and the jobs are skipped outright (the common case:
    // the loop exits early on exactly this condition)
    val d =
      if (stat) fin.sparkSession.range(1).select(lit(0L).as("xd"))
      else fin.join(prev, Seq("a", "b"), "left_anti")
        .union(prev.join(fin, Seq("a", "b"), "left_anti"))
        .agg(count(lit(1)).as("xd"))
    nodes.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(und.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(cstats))
      .crossJoin(broadcast(d))
      .select(col("n_nodes"), col("n_edges"), col("n_components"),
        col("max_csize"), col("n_dust"),
        when(col("sz_sum") === col("n_nodes"), 1L).otherwise(0L)
          .as("cover_ok"),
        when(col("xd") === 0, 1L).otherwise(0L)
          .as("converged_ok"))
  }

  /** Fail-loud fixpoint check (the q45 CC cap discipline): the star
    * set must be stationary — an unconverged merge would persist a
    * state whose "components" are not components. Two scalar counts,
    * driver-bounded by construction.
    */
  private def requireConverged(prev: DataFrame, fin: DataFrame): Unit = {
    val n = fin.join(prev, Seq("a", "b"), "left_anti").count() +
      prev.join(fin, Seq("a", "b"), "left_anti").count()
    if (n != 0) throw new IllegalStateException(
      s"component contraction did not converge in $CcRounds rounds" +
        s" ($n star-edge diffs) — raise CcRounds for this graph shape")
  }

  /** Build the PERSISTENT component state from scratch: contract the
    * edge list to its star fixpoint and write it as `<name>_stars`
    * (plain parquet at `path/stars`, the IndexCatalog discipline).
    * The star set is the whole state — two longs per non-singleton
    * node — and it is exactly what [[mergeComponentStore]] needs to
    * absorb future edge batches without ever re-reading raw history.
    */
  def writeComponentStore(
      s: org.apache.spark.sql.SparkSession, edges: DataFrame,
      name: String, path: String): Unit = {
    val (prev, fin, stat) = ccStarEdges(undirectedOf(edges), CcRounds)
    if (!stat) requireConverged(prev, fin)
    fin.write.mode("overwrite").parquet(s"$path/stars")
    registerComponentStore(s, name, path)
  }

  /** Re-attach a component store in a new session — the parquet is
    * the truth, the catalog entry is session state (the shared
    * IndexCatalog discipline).
    */
  def registerComponentStore(
      s: org.apache.spark.sql.SparkSession,
      name: String, path: String): Unit =
    IndexCatalog.registerPlain(s, s"${name}_stars", s"$path/stars")

  /** Merge one batch of directed edges into the persistent component
    * state — incremental connected components, the reason star
    * contraction (not label propagation) is the engine's CC
    * algorithm. Correctness rests on the merge identity: stars(G)
    * preserves each component's connectivity and its full node set,
    * so contract(stars(G) ∪ E₂) = stars(G ∪ E₂) EXACTLY — same
    * components, same min-id roots, and the star set is determined by
    * (component, root) alone. GraphSpec asserts the identity;
    * replaying a batch is a no-op by the same argument (the ledger
    * other ingest loops need is unnecessary here — the merge is
    * idempotent by construction, so no replay bookkeeping exists to
    * get wrong). Cost per batch tracks |stars| + |batch| — the
    * accumulated RAW edge history (the 100 TB object) is never read
    * again. The swap is the recutTokenCorpus write-aside discipline:
    * contract into a tmp dir, rename live aside, rename tmp live —
    * a crash at any point leaves a readable store.
    */
  def mergeComponentStore(
      s: org.apache.spark.sql.SparkSession, batchEdges: DataFrame,
      name: String, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(s"$path/stars")
    val fs = live.getFileSystem(s.sparkContext.hadoopConfiguration)
    val und = undirectedOf(batchEdges)
    val base =
      if (fs.exists(live)) s.read.parquet(live.toString).select("a", "b")
      else und.limit(0)
    val (prev, fin, stat) = ccStarEdges(und.union(base), CcRounds)
    if (!stat) requireConverged(prev, fin)
    val tmp = new Path(s"$path/stars.merge.tmp")
    val aside = new Path(s"$path/stars.pre-merge")
    fs.delete(tmp, true)
    // fin is localCheckpoint'd (eager), so writing tmp does not read
    // the live files it is about to replace
    fin.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(aside, true)
    if (fs.exists(live) && !fs.rename(live, aside))
      throw new java.io.IOException(s"rename $live -> $aside failed")
    if (!fs.rename(tmp, live))
      throw new java.io.IOException(s"rename $tmp -> $live failed")
    registerComponentStore(s, name, path)
    s.catalog.refreshTable(s"${name}_stars")
    fs.delete(aside, true)
  }

  /** q249's census columns read from the PERSISTED star store — no
    * contraction, no convergence question (the store is a fixpoint by
    * [[writeComponentStore]]/[[mergeComponentStore]]'s fail-loud
    * gate): component count, node count, giant size, dust count from
    * one component-keyed agg plus scalar broadcasts.
    */
  def storeCensus(
      s: org.apache.spark.sql.SparkSession, name: String): DataFrame = {
    val fin = s.table(s"${name}_stars")
    val sizes = fin.groupBy("a").agg((count(lit(1)) + 1).as("csize"))
    sizes.agg(
      count(lit(1)).as("n_components"),
      coalesce(sum("csize"), lit(0L)).as("n_nodes"),
      coalesce(max("csize"), lit(0L)).as("max_csize"),
      coalesce(sum(when(col("csize") <= 8, 1L).otherwise(0L)), lit(0L))
        .as("n_dust"))
      .select(col("n_nodes"), col("n_components"), col("max_csize"),
        col("n_dust"))
  }

  /** Rounds cap for k-core peeling — fixed by declaration, oracle
    * unrolls the same count. Peeling removes one "layer" per round, so
    * the worst case is a long chain (the sf0.01 fixture's 2-core
    * needs 18 — tail chains peel end-in one level at a time); 24
    * leaves margin, and the early exit (monotonicity makes the probe
    * one count) means converged graphs never pay the cap.
    */
  private val KcoreRounds = 24

  /** One k-core peel round: degree over the canonical undirected edge
    * frame, keep nodes with d ≥ k, keep edges with both endpoints
    * kept. Two semi joins on the endpoint keys — skinny frames, hash
    * exchanges, nothing pairwise.
    */
  private def peelRound(e: DataFrame, k: Int): DataFrame = {
    val keep = e.select(col("a").as("v"))
      .union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .filter(col("d") >= k).select("v")
    e.join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
      .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
      .select("a", "b")
  }

  /** Iterated peel to the k-core fixpoint over a canonical undirected
    * frame through [[speculate]]. Peeling is MONOTONE (eᵣ ⊆ eᵣ₋₁), so
    * equal COUNTS prove equal sets — the stationarity probe is one
    * count on the just-checkpointed frame (cheaper than the CC probe's
    * anti-join pair, and exact by the subset structure). The previous
    * round's count is carried from the previous probe, so each round
    * costs one count job, not two (r18).
    */
  private def kcorePeel(
      und: DataFrame, k: Int, rounds: Int)
      : (DataFrame, DataFrame, Boolean) = {
    var prevCnt = -1L
    speculate(und, rounds)(peelRound(_, k)) { (prev, e) =>
      val base = if (prevCnt >= 0) prevCnt else prev.count()
      prevCnt = e.count()
      prevCnt == base
    }
  }

  /** k-core census over a directed edge list — one row per k:
    * surviving core nodes/edges, the core's node share in half-up bp,
    * and the converged_ok contract bit (the peel reached its
    * fixpoint inside the declared round cap — an unconverged row is
    * an over-estimate and says so). The k-core (Seidman 1983) is the
    * graph family's DENSITY member: the 2-core strips every tree
    * tendril (pages that merely hang off the web), the 3-core keeps
    * only mutually-reinforcing clusters — a crawl curator reads
    * core shares next to q242's clustering and q249's components to
    * tell organic density from link-farm wedges.
    */
  def kcoreCensus(
      edges: DataFrame, ks: Seq[Int] = Seq(2, 3),
      rounds: Int = KcoreRounds): DataFrame = {
    val und = undirectedOf(edges).managedPersist
    val nn = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v")))
      .distinct().agg(count(lit(1)).as("n_nodes"))
    // Ascending-k seeding (r17 opt): for k' > k the k'-core is a
    // subgraph of the k-core, and the k-core is closed under peeling
    // at k', so peeling k' FROM the k-core fixpoint reaches exactly
    // the same fixpoint as peeling from scratch — the from-scratch
    // prefix rounds that only strip sub-k layers are skipped (the
    // sf0.1 2-core needs ~18 chain-peel rounds; the 3-peel then
    // starts from ~1/4 of the edges instead of re-stripping them).
    // Seeding only happens off a CONVERGED predecessor at a
    // smaller-or-equal k; an unconverged or out-of-order step falls
    // back to the full frame, preserving the declared semantics.
    var seed = und
    var seedK = Int.MinValue
    ks.map { k =>
      val base = if (k >= seedK) seed else und
      val (prev, fin, conv) = kcorePeel(base, k, rounds)
      if (conv) { seed = fin; seedK = k }
      else { seed = und; seedK = Int.MinValue }
      val coreNodes = fin.select(col("a").as("v"))
        .union(fin.select(col("b").as("v")))
        .distinct().agg(count(lit(1)).as("n_core_nodes"))
      // converged_ok is |fin| == |prev|; when the peel loop's own
      // probe already OBSERVED that equality the bit is 1 by that
      // observation and the prev-count broadcast is skipped (r18,
      // the componentCensus discipline)
      val prevEdges =
        if (conv) fin.sparkSession.range(1)
          .select(lit(-1L).as("prev_edges"))
        else broadcast(prev.agg(count(lit(1)).as("prev_edges")))
      coreNodes
        .crossJoin(broadcast(fin.agg(count(lit(1)).as("n_core_edges"))))
        .crossJoin(prevEdges)
        .crossJoin(broadcast(nn))
        .select(lit(k.toLong).as("k"), col("n_core_nodes"),
          col("n_core_edges"),
          when(col("n_nodes") === 0, 0L)
            .otherwise(expr(
              "(20000 * n_core_nodes + n_nodes) div (2 * n_nodes)"))
            .as("core_share_bp"),
          when(lit(conv) ||
            col("n_core_edges") === col("prev_edges"), 1L)
            .otherwise(0L).as("converged_ok"))
    }.reduce(_.unionByName(_)).orderBy("k")
  }

  /** Rich-club profile (Zhou & Mondragón 2004) over a directed edge
    * list — one row per degree threshold k: club size (nodes with
    * degree > k), internal edge count, and club density φ(k) =
    * 2E/(N(N−1)) in half-up bp (guarded 0 for clubs of ≤ 1 node). No
    * iteration: one degree agg, per-k two semi joins + scalar
    * rollups; Long-safe to N ≈ 10⁹ club nodes (N² < 2⁶³).
    */
  def richClub(
      edges: DataFrame, ks: Seq[Long] = Seq(2L, 4L, 8L)): DataFrame = {
    val und = undirectedOf(edges).managedPersist
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .managedPersist
    ks.map { k =>
      val club = deg.filter(col("d") > k).select("v")
      val ek = und
        .join(club.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(club.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        .agg(count(lit(1)).as("n_club_edges"))
      club.agg(count(lit(1)).as("n_club_nodes"))
        .crossJoin(broadcast(ek))
        .select(lit(k).as("k"), col("n_club_nodes"),
          col("n_club_edges"),
          when(col("n_club_nodes") <= 1, 0L)
            .otherwise(expr(
              "(2 * 10000 * 2 * n_club_edges" +
                " + n_club_nodes * (n_club_nodes - 1))" +
                " div (2 * n_club_nodes * (n_club_nodes - 1))"))
            .as("phi_bp"))
    }.reduce(_.unionByName(_)).orderBy("k")
  }

  /** One oracle peel round for prefix `p`, threshold `k` — the SQL
    * mirror of [[peelRound]], materialized for the same inlining
    * reason as [[ccRoundSql]].
    */
  private def kcoreRoundSql(p: String, k: Int, r: Int): String =
    s"""${p}d$r AS MATERIALIZED (SELECT v, COUNT(*) AS d
                FROM (SELECT a AS v FROM ${p}e${r - 1}
                  UNION ALL SELECT b FROM ${p}e${r - 1}) z GROUP BY v),
              ${p}k$r AS MATERIALIZED (SELECT v FROM ${p}d$r
                WHERE d >= $k),
              ${p}e$r AS MATERIALIZED (SELECT e.a, e.b
                FROM ${p}e${r - 1} e
                JOIN ${p}k$r x ON x.v = e.a
                JOIN ${p}k$r y ON y.v = e.b)"""

  /** One oracle large+small star round, e{k-1} → e{k} — the exact SQL
    * mirror of [[ccPhase]] (adjacency both ways, LEAST-min per node,
    * the side filter, DISTINCT canonical output). Every CTE is
    * `AS MATERIALIZED`: DuckDB inlines plain CTEs at every reference
    * site, and this chain references each round's frames ~6× — 8
    * inlined rounds explode combinatorially (the un-hinted query never
    * returned at sf0.001; materialized it reads in 0.2 s), unlike the
    * q178/q245 chains whose per-step reference factor is small.
    */
  private def ccRoundSql(k: Int): String =
    s"""la$k AS MATERIALIZED (SELECT a AS v, b AS u FROM e${k - 1}
                UNION ALL SELECT b, a FROM e${k - 1}),
              lm$k AS MATERIALIZED (SELECT v, LEAST(v, MIN(u)) AS m
                FROM la$k GROUP BY v),
              lg$k AS MATERIALIZED (SELECT DISTINCT m.m AS a, x.u AS b
                FROM la$k x JOIN lm$k m ON m.v = x.v
                WHERE x.u > x.v AND x.u <> m.m),
              sn$k AS MATERIALIZED (SELECT a AS v FROM lg$k
                UNION SELECT b FROM lg$k),
              sa$k AS MATERIALIZED (SELECT a AS v, b AS u FROM lg$k
                UNION ALL SELECT b, a FROM lg$k
                UNION ALL SELECT v, v FROM sn$k),
              sm$k AS MATERIALIZED (SELECT v, LEAST(v, MIN(u)) AS m
                FROM sa$k GROUP BY v),
              e$k AS MATERIALIZED (SELECT DISTINCT m.m AS a, x.u AS b
                FROM sa$k x JOIN sm$k m ON m.v = x.v
                WHERE x.u <= x.v AND x.u <> m.m)"""

  /** Number of HITS iterations — fixed by declaration; the oracle
    * unrolls the same count.
    */
  private val HitsIters = 4

  /** HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
    * list, in the q178 integer-micros determinism discipline: scores
    * live in integer micros, every step is integer arithmetic, and
    * the standard L2 normalization is replaced by the declared
    * MAX-normalization (after each half-step the vector is rescaled
    * so its maximum is 1e6: `(1e6 · r) div max`, zero-max guarded) —
    * same fixpoint direction, exactly representable cross-engine.
    * Per iteration: authority(n) = Σ hub over in-edges, rescale;
    * hub(n) = Σ authority over out-edges, rescale. Returns
    * (node, auth_micro, hub_micro) for every node. Scale shape is
    * q178's: the edge list is scanned from cache each half-step, the
    * score frames are two longs per node and localCheckpoint'd, so
    * plan depth stays O(1) in the iteration count; the per-step max
    * is a 1-row broadcast, never a driver collect.
    */
  def hitsScores(edges: DataFrame, iters: Int = HitsIters): DataFrame = {
    val e = edges.managedPersist
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .managedPersist
    // the rescale product is widened to DECIMAL(38,0): raw r is
    // bounded by in_degree × 1e6, so the Long product 1e6 · r would
    // wrap silently past ~9.2e6 in-degree — well inside a 100 TB web
    // graph's hub range. FLOOR of the scale-21 decimal quotient
    // equals exact integer division here: the true quotient's
    // fractional part is j/m ≥ 1/m ≥ 1e-19 when nonzero, four orders
    // above the half-up rounding error at scale 21, so the floor
    // cannot cross an integer boundary. The oracle mirrors with a
    // HUGEINT product (hitsStepSql).
    def rescale(raw: DataFrame): DataFrame = {
      // checkpoint the RAW sums FIRST: `raw` feeds both the max
      // aggregation and the rescale projection, and without the cut the
      // join+agg chain behind it was computed TWICE per half-step (the
      // r17 HITS profile: 8 half-steps × 2 = 16 edge joins for 8
      // declared). The checkpointed frame is node-sized (two longs),
      // the rescale itself is then a cheap projection over it, and the
      // projection needs no checkpoint of its own — the r0 cut already
      // bounds plan depth (same O(1)-in-iters discipline, one fewer
      // eager materialization per half-step).
      val r0 = raw.localCheckpoint(true)
      val m = r0.agg(coalesce(max("r"), lit(0L)).as("m"))
      r0.crossJoin(broadcast(m))
        .select(col("node"),
          when(col("m") === 0, 0L)
            .otherwise(expr(
              "CAST(FLOOR((CAST(r AS DECIMAL(38,0)) * 1000000) / m)" +
                " AS BIGINT)")).as("r"))
    }
    var hub = nodes.withColumn("r", lit(1000000L)).localCheckpoint(true)
    var auth = hub
    for (_ <- 1 to iters) {
      val ar = e.join(hub, e("src") === hub("node"))
        .groupBy(e("dst").as("node")).agg(sum("r").as("s"))
      auth = rescale(nodes.join(ar, Seq("node"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("r")))
      val hr = e.join(auth, e("dst") === auth("node"))
        .groupBy(e("src").as("node")).agg(sum("r").as("s"))
      hub = rescale(nodes.join(hr, Seq("node"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("r")))
    }
    auth.withColumnRenamed("r", "auth_micro")
      .join(hub.withColumnRenamed("r", "hub_micro"), "node")
  }

  /** One oracle HITS iteration, (a{k-1}, h{k-1}) → (a{k}, h{k}):
    * raw sums over in/out edges, then the declared max-rescale
    * (HUGEINT sums cast back before `//` — the q178 discipline).
    * `AS MATERIALIZED` on every step CTE, the ccRoundSql discipline:
    * each step references its predecessor twice (the sum join and the
    * MAX scalar subquery), so DuckDB's default CTE inlining re-expands
    * the whole upstream chain at every reference — 2^(2·iters)
    * re-evaluations of the regex edge extraction. Measured at sf0.01:
    * 293.8 s inlined → 0.41 s materialized, identical 20 rows.
    */
  private def hitsStepSql(k: Int): String =
    s"""ar$k AS MATERIALIZED (SELECT n.node,
                  CAST(COALESCE(i.s, 0) AS BIGINT) AS r
                FROM nodes n LEFT JOIN
                  (SELECT e.dst AS node, CAST(SUM(p.r) AS BIGINT) AS s
                    FROM h${k - 1} p JOIN edges e ON e.src = p.node
                    GROUP BY e.dst) i ON i.node = n.node),
              a$k AS MATERIALIZED (SELECT node, CAST(CASE WHEN m = 0 THEN 0
                    ELSE (CAST(1000000 AS HUGEINT) * r) // m END
                    AS BIGINT) AS r
                FROM ar$k, (SELECT COALESCE(MAX(r), 0) AS m FROM ar$k)),
              hr$k AS MATERIALIZED (SELECT n.node,
                  CAST(COALESCE(i.s, 0) AS BIGINT) AS r
                FROM nodes n LEFT JOIN
                  (SELECT e.src AS node, CAST(SUM(p.r) AS BIGINT) AS s
                    FROM a$k p JOIN edges e ON e.dst = p.node
                    GROUP BY e.src) i ON i.node = n.node),
              h$k AS MATERIALIZED (SELECT node, CAST(CASE WHEN m = 0 THEN 0
                    ELSE (CAST(1000000 AS HUGEINT) * r) // m END
                    AS BIGINT) AS r
                FROM hr$k, (SELECT COALESCE(MAX(r), 0) AS m FROM hr$k))"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // PageRank over the extracted link graph: rank in integer micros,
    // 8 damped iterations (d = 0.85, flat 0.15e6 teleport, dangling
    // mass dropped — all declared), report the top-20 nodes by
    // (rank DESC, node ASC) with their in/out degrees. The hub doc 7
    // must surface at the top — GraphSpec asserts it; the oracle
    // hash-checks every rank value exactly.
    "q178_link_rank" -> QueryDef(
      (s, dir) => {
        val edges = linkEdges(s, dir)
        // (src, dst, odeg) — the only corpus-sized frame the loop
        // touches, built once and reused by all 8 iterations
        val contrib = edges
          .join(edges.groupBy("src").agg(count(lit(1)).as("odeg")), "src")
          .managedPersist
        val nodes = edges.select(col("src").as("node"))
          .union(edges.select(col("dst").as("node")))
          .distinct()
          .managedPersist
        var pr = nodes.withColumn("r", lit(1000000L))
        for (_ <- 1 to PrIters) {
          val inc = contrib.join(pr, contrib("src") === pr("node"))
            .select(col("dst").as("node"),
              expr("r div odeg").as("c"))
            .groupBy("node").agg(sum("c").as("inc"))
          pr = nodes.join(inc, Seq("node"), "left")
            .select(col("node"),
              expr("150000L + (85L * coalesce(inc, 0L)) div 100L")
                .as("r"))
            // EVERY round, not every Nth: a 4-round checkpoint window
            // measured 5.2 s vs 3.9 s at sf0.1 — the deeper join tree
            // costs more in re-planning/AQE than the saved eager
            // materializations of a node-sized frame return
            .localCheckpoint(true)
        }
        val odeg = edges.groupBy(col("src")).agg(count(lit(1)).as("ol"))
        val ideg = edges.groupBy(col("dst")).agg(count(lit(1)).as("il"))
        pr.join(odeg, pr("node") === odeg("src"), "left")
          .join(ideg, pr("node") === ideg("dst"), "left")
          .select(col("node"), col("r").as("rank_micro"),
            coalesce(col("ol"), lit(0L)).as("out_links"),
            coalesce(col("il"), lit(0L)).as("in_links"))
          .orderBy(desc("rank_micro"), asc("node"))
          .limit(20)
      },
      Some(s"""WITH $linkFixtureSql,
              edges AS (SELECT DISTINCT doc_id AS src,
                  CAST(m AS BIGINT) AS dst
                FROM (SELECT doc_id,
                    UNNEST(regexp_extract_all(text2,
                      'link->doc([0-9]+)', 1)) AS m
                  FROM docs) q),
              nodes AS (SELECT src AS node FROM edges
                UNION SELECT dst FROM edges),
              odeg AS (SELECT src, COUNT(*) AS odeg FROM edges
                GROUP BY src),
              pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r
                FROM nodes),
              ${(1 to PrIters).map(prStepSql).mkString(",\n              ")},
              ideg AS (SELECT dst, COUNT(*) AS il FROM edges
                GROUP BY dst)
              SELECT p.node, p.r AS rank_micro,
                COALESCE(o.odeg, 0) AS out_links,
                COALESCE(i.il, 0) AS in_links
              FROM pr$PrIters p
              LEFT JOIN odeg o ON o.src = p.node
              LEFT JOIN ideg i ON i.dst = p.node
              ORDER BY rank_micro DESC, node LIMIT 20""")),

    // q237: bounded-depth REACHABILITY over the same link graph — the
    // recursive-CTE idiom (the last common relational shape the engine
    // lacked), expressed as k-hop frontier BFS: which documents does a
    // seed set (every 50th doc — the crawl-frontier question "what can
    // these seeds reach in ≤ 4 clicks?") reach, and at what depth?
    // Per-hop newly-reached and cumulative counts; a hop that reaches
    // nothing emits no row in either engine. The oracle unrolls the
    // same 4 frontier/visited CTE pairs (the q178 unroll discipline),
    // so the BFS's visited-dedup arithmetic is hash-exact. Plan at
    // 100 TB: each round joins the edge list against the FRONTIER
    // only (never the visited set, never the corpus), anti-joins the
    // skinny visited frame, and localCheckpoints both — per-round
    // shuffle volume tracks frontier size × out-degree over a cached
    // edge scan (the Stress khop probe times the round phase
    // separately from the untimed edge build).
    // q242: TRIANGLE census + global clustering over the same link
    // graph — the motif-counting member of the graph family (q178
    // authority, q237 reachability, q242 local structure): a crawl
    // curator reads the triangle/wedge profile to distinguish organic
    // community linkage from spam farms (link farms are wedge-rich,
    // triangle-poor — exactly this report's gcc_bp). One row:
    // undirected node/edge counts, reciprocal directed pairs, wedge
    // count Σ d(d−1)/2, triangle count, and the global clustering
    // coefficient 3·tri/wedges in half-up bp (q219 long-math idiom,
    // empty-wedge guarded). Counting uses the COMPACT-FORWARD
    // orientation (Latapy 2008; also Suri & Vassilvitskii 2011's
    // MR adaptation): every undirected edge is oriented from the
    // (degree, id)-smaller endpoint to the larger, so each triangle
    // is generated exactly once at its ≺-minimal vertex and the wedge
    // join fans out from LOW-degree vertices only — the hub's d²
    // wedge explosion never materializes (worst case O(m^1.5) wedge
    // rows, the listing optimum, vs O(Σd²) unoriented). Plan at
    // 100 TB: the oriented edge list is skinny (two longs + a struct
    // key), the wedge join shuffles on the pivot u, the closing join
    // shuffles on the (v, w) pair — all hash exchanges at full
    // parallelism; scalar rollups ride 1-row broadcasts. The oracle
    // counts the same triangles by canonical (a < b) triple-join —
    // orientation provably does not change the count, so the two
    // formulations must hash-match.
    "q242_graph_triangles" -> QueryDef(
      (s, dir) => triangleStats(linkEdges(s, dir)),
      Some(s"""WITH $linkFixtureSql,
              edges AS (SELECT DISTINCT doc_id AS src,
                  CAST(m AS BIGINT) AS dst
                FROM (SELECT doc_id,
                    UNNEST(regexp_extract_all(text2,
                      'link->doc([0-9]+)', 1)) AS m
                  FROM docs) q),
              e2 AS (SELECT src, dst FROM edges WHERE src <> dst),
              und AS (SELECT DISTINCT LEAST(src, dst) AS a,
                  GREATEST(src, dst) AS b
                FROM e2),
              deg AS (SELECT node, COUNT(*) AS d
                FROM (SELECT a AS node FROM und
                  UNION ALL SELECT b FROM und) z
                GROUP BY 1),
              w AS (SELECT COUNT(*) AS n_nodes,
                  CAST(COALESCE(SUM(d * (d - 1) // 2), 0) AS BIGINT)
                    AS n_wedges
                FROM deg),
              tri AS (SELECT COUNT(*) AS n_triangles
                FROM und e1
                JOIN und ex ON ex.a = e1.a AND ex.b > e1.b
                JOIN und e3 ON e3.a = e1.b AND e3.b = ex.b),
              rec AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS n_recip
                FROM e2 x JOIN e2 y
                  ON y.src = x.dst AND y.dst = x.src),
              ne AS (SELECT COUNT(*) AS n_edges FROM und)
              SELECT n_nodes, n_edges, n_recip, n_wedges, n_triangles,
                CAST(CASE WHEN n_wedges = 0 THEN 0
                  ELSE (20000 * 3 * n_triangles + n_wedges)
                    // (2 * n_wedges) END AS BIGINT) AS gcc_bp
              FROM w, ne, tri, rec""")),

    // q245: HITS hubs & authorities over the same link graph — the
    // second authority measure a crawl curator reads next to q178's
    // PageRank: PageRank finds globally-endorsed pages, HITS separates
    // DIRECTORY pages (hubs — they point at good content) from
    // CANONICAL pages (authorities — good content points at them);
    // seed-list curation wants hubs, dedup canonicalization wants
    // authorities, and the two rankings genuinely differ (a hub can
    // rank high with zero in-links). Integer micros + the declared
    // max-normalization make all 4 iterations hash-exact cross-engine
    // (hitsScores doc); report = top-20 by (authority DESC, node)
    // with both scores and degrees; GraphSpec pins the hub/authority
    // separation on a hand-built bipartite fan.
    "q245_hits_scores" -> QueryDef(
      (s, dir) => {
        val edges = linkEdges(s, dir).managedPersist
        val scores = hitsScores(edges)
        val odeg = edges.groupBy(col("src")).agg(count(lit(1)).as("ol"))
        val ideg = edges.groupBy(col("dst")).agg(count(lit(1)).as("il"))
        scores
          .join(odeg, scores("node") === odeg("src"), "left")
          .join(ideg, scores("node") === ideg("dst"), "left")
          .select(col("node"), col("auth_micro"), col("hub_micro"),
            coalesce(col("ol"), lit(0L)).as("out_links"),
            coalesce(col("il"), lit(0L)).as("in_links"))
          .orderBy(desc("auth_micro"), asc("node"))
          .limit(20)
      },
      Some(s"""WITH $linkFixtureSql,
              edges AS MATERIALIZED (SELECT DISTINCT doc_id AS src,
                  CAST(m AS BIGINT) AS dst
                FROM (SELECT doc_id,
                    UNNEST(regexp_extract_all(text2,
                      'link->doc([0-9]+)', 1)) AS m
                  FROM docs) q),
              nodes AS MATERIALIZED (SELECT src AS node FROM edges
                UNION SELECT dst FROM edges),
              h0 AS MATERIALIZED (SELECT node, CAST(1000000 AS BIGINT) AS r
                FROM nodes),
              ${(1 to HitsIters).map(hitsStepSql)
                .mkString(",\n              ")},
              odeg AS (SELECT src, COUNT(*) AS ol FROM edges
                GROUP BY src),
              ideg AS (SELECT dst, COUNT(*) AS il FROM edges
                GROUP BY dst)
              SELECT a.node, a.r AS auth_micro, h.r AS hub_micro,
                COALESCE(o.ol, 0) AS out_links,
                COALESCE(i.il, 0) AS in_links
              FROM a$HitsIters a JOIN h$HitsIters h ON h.node = a.node
              LEFT JOIN odeg o ON o.src = a.node
              LEFT JOIN ideg i ON i.dst = a.node
              ORDER BY auth_micro DESC, a.node LIMIT 20""")),

    // q246: bounded-depth HARMONIC centrality from a seed panel — the
    // distance-based importance measure next to the eigenvector pair
    // (q178 PageRank, q245 HITS): harmonic centrality (Boldi & Vigna
    // 2014) scores a node by Σ 1/d(seed, node) over the panel, so
    // nodes CLOSE to many seeds rank high even with few in-links —
    // the crawl-frontier "how many clicks from trusted starting
    // points" question q237's global reachability counts can't answer
    // (it forgets WHICH seed reached a node). Distances from
    // multiSourceDistances (seed panel = every 100th doc, k = 4);
    // score in integer micros: Σ (1e6 div hop) over hops 1..4 —
    // exactly representable cross-engine; report = top-20 by
    // (harmonic DESC, node) with the reaching-seed count. The oracle
    // unrolls the same 4 labeled frontier/visited pairs with the
    // (seed, node) PAIR anti-join. Plan at 100 TB: the khop round
    // discipline with |seeds|-bounded state — declared for bounded
    // panels; per-round shuffle tracks frontier × out-degree.
    "q246_harmonic_centrality" -> QueryDef(
      (s, dir) => {
        val seeds = table(s, dir, "documents")
          .filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("seed"))
        multiSourceDistances(linkEdges(s, dir), seeds, 4)
          .filter(col("hop") > 0)
          .groupBy("node")
          .agg(sum(expr("1000000L div hop")).as("harmonic_micro"),
            count(lit(1)).as("n_seeds"))
          .orderBy(desc("harmonic_micro"), asc("node"))
          .limit(20)
      },
      Some {
        def hopSql(h: Int): String =
          s"""f$h AS (SELECT DISTINCT f.seed, e.dst AS node
                FROM edges e JOIN f${h - 1} f ON e.src = f.node
                LEFT JOIN v${h - 1} v
                  ON v.seed = f.seed AND v.node = e.dst
                WHERE v.node IS NULL),
              v$h AS (SELECT seed, node, hop FROM v${h - 1}
                UNION ALL SELECT seed, node, $h FROM f$h)"""
        s"""WITH $linkFixtureSql,
              edges AS (SELECT DISTINCT doc_id AS src,
                  CAST(m AS BIGINT) AS dst
                FROM (SELECT doc_id,
                    UNNEST(regexp_extract_all(text2,
                      'link->doc([0-9]+)', 1)) AS m
                  FROM docs) q),
              f0 AS (SELECT doc_id AS seed, doc_id AS node
                FROM documents WHERE doc_id % 100 = 0),
              v0 AS (SELECT seed, node, 0 AS hop FROM f0),
              ${(1 to 4).map(hopSql).mkString(",\n              ")}
              SELECT node,
                CAST(SUM(1000000 // hop) AS BIGINT) AS harmonic_micro,
                COUNT(*) AS n_seeds
              FROM v4 WHERE hop > 0
              GROUP BY node
              ORDER BY harmonic_micro DESC, node LIMIT 20"""
      }),

    // q249: CONNECTED-COMPONENT census over the same link graph — the
    // global-structure member that completes the family (q178
    // importance, q245 hub/authority, q246 closeness, q237
    // reachability, q242 local clustering, q249 global connectivity):
    // a crawl curator reads the component profile before seeding —
    // one giant component means the crawl can reach the corpus from
    // few seeds; a long dust tail (tiny disconnected components)
    // means isolated cliques no frontier will ever reach organically.
    // One row: node/edge counts, component count, giant-component
    // size, dust count (≤ 8 nodes), and two contract bits (cover_ok:
    // star sizes partition the nodes; converged_ok: one more round is
    // a no-op, so these are TRUE components). Algorithm is the
    // alternating large-star/small-star contraction (Kiveris et al.
    // 2014) — O(log²n) rounds (measured 6 at sf0.01, falling to 3 at
    // larger SFs) vs DIAMETER rounds (26 measured) for naive label
    // propagation; 8 rounds fixed by declaration, the oracle unrolls
    // the same 8 (the q178/q245 unroll discipline), so every edge of
    // every intermediate star set is hash-exact cross-engine. Plan at
    // 100 TB: each phase is one groupBy-min + one key join over a
    // skinny two-long edge frame that only ever SHRINKS toward
    // |nodes|−1 star edges; per-round localCheckpoint keeps plan
    // depth O(1); rollups are scalar 1-row broadcasts. No float, no
    // tie-break, nothing pairwise beyond input degree.
    "q249_graph_components" -> QueryDef(
      (s, dir) => componentCensus(linkEdges(s, dir)),
      Some(s"""WITH $linkFixtureSql,
              edges AS (SELECT DISTINCT doc_id AS src,
                  CAST(m AS BIGINT) AS dst
                FROM (SELECT doc_id,
                    UNNEST(regexp_extract_all(text2,
                      'link->doc([0-9]+)', 1)) AS m
                  FROM docs) q),
              und AS MATERIALIZED (SELECT DISTINCT
                  LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst),
              e0 AS MATERIALIZED (SELECT a, b FROM und),
              ${(1 to CcRounds).map(ccRoundSql)
                .mkString(",\n              ")},
              nodes AS (SELECT a AS n FROM und
                UNION SELECT b FROM und),
              sizes AS (SELECT a, COUNT(*) + 1 AS csize
                FROM e$CcRounds GROUP BY a),
              cst AS (SELECT COUNT(*) AS n_components,
                  COALESCE(MAX(csize), 0) AS max_csize,
                  COALESCE(SUM(CASE WHEN csize <= 8 THEN 1 ELSE 0 END),
                    0) AS n_dust,
                  COALESCE(SUM(csize), 0) AS sz_sum
                FROM sizes),
              d1 AS (SELECT COUNT(*) AS x1 FROM e$CcRounds f
                WHERE NOT EXISTS (SELECT 1 FROM e${CcRounds - 1} p
                  WHERE p.a = f.a AND p.b = f.b)),
              d2 AS (SELECT COUNT(*) AS x2 FROM e${CcRounds - 1} p
                WHERE NOT EXISTS (SELECT 1 FROM e$CcRounds f
                  WHERE f.a = p.a AND f.b = p.b)),
              base AS (SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
                  (SELECT COUNT(*) FROM und) AS n_edges)
              SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
                CAST(n_edges AS BIGINT) AS n_edges,
                CAST(n_components AS BIGINT) AS n_components,
                CAST(max_csize AS BIGINT) AS max_csize,
                CAST(n_dust AS BIGINT) AS n_dust,
                CAST(CASE WHEN sz_sum = n_nodes THEN 1 ELSE 0 END
                  AS BIGINT) AS cover_ok,
                CAST(CASE WHEN x1 + x2 = 0 THEN 1 ELSE 0 END
                  AS BIGINT) AS converged_ok
              FROM base, cst, d1, d2""")),

    // q251: LINK-ISOLATION profile — q249's component structure joined
    // back to the corpus, the curation report the census motivates: for
    // every document, is it in the giant web (large, ≥ 64 nodes), a
    // mid-size cluster (9–63), a dust crumb (≤ 8), or UNLINKED (no
    // links in or out — invisible to every graph signal: no PageRank
    // mass, no HITS score, unreachable from any seed)? Per class: doc
    // count, total chars, and the doc share in half-up bp. The
    // unlinked mass is the headline number — a source-weighting
    // scheme built on link authority silently zeroes that whole
    // slice. Composes the public connectedComponents labels API; the
    // oracle unrolls the same 8 materialized star rounds and replays
    // the size classification. Plan at 100 TB: the label frame is
    // nodes-bounded and skinny, the size join is component-keyed, the
    // corpus join is ONE doc_id-keyed left join (labels ⋘ corpus, so
    // the label side broadcasts or shuffles cheaply), the rollup is a
    // 4-key partial agg with a 1-row total broadcast.
    "q251_link_isolation" -> QueryDef(
      (s, dir) => {
        // no .distinct(): connectedComponents' output is a set by
        // construction — the (node, comp) rows come from the star-edge
        // SET (one row per non-root b, b ≠ comp) unioned with the
        // DISTINCT roots (node = comp), and the two groups can never
        // collide on the node≠comp / node=comp split — so the extra
        // exchange bought nothing (r18)
        val lbl = connectedComponents(linkEdges(s, dir)).managedPersist
        val sizes = lbl.groupBy("comp").agg(count(lit(1)).as("csize"))
        val cls = lbl.join(sizes, "comp")
          .select(col("node"),
            when(col("csize") >= 64, "large")
              .when(col("csize") >= 9, "mid")
              .otherwise("dust").as("cls"))
        // ≤ 4 rows but an EXPENSIVE subtree (corpus join + rollup):
        // checkpoint it so the share-of-total crossJoin below does not
        // execute the whole chain twice — once for the rows, once for
        // the broadcast total (r18; the plan carried two full copies)
        val byClass = table(s, dir, "documents")
          .join(cls, col("doc_id") === col("node"), "left")
          .select(coalesce(col("cls"), lit("unlinked")).as("link_class"),
            col("n_chars"))
          .groupBy("link_class")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("total_chars"))
          .localCheckpoint(true)
        byClass
          .crossJoin(broadcast(byClass.agg(sum("n_docs").as("tot"))))
          .select(col("link_class"), col("n_docs"), col("total_chars"),
            expr("(20000 * n_docs + tot) div (2 * tot)")
              .as("doc_share_bp"))
          .orderBy("link_class")
      },
      Some(s"""WITH $linkFixtureSql,
              edges AS (SELECT DISTINCT doc_id AS src,
                  CAST(m AS BIGINT) AS dst
                FROM (SELECT doc_id,
                    UNNEST(regexp_extract_all(text2,
                      'link->doc([0-9]+)', 1)) AS m
                  FROM docs) q),
              und AS MATERIALIZED (SELECT DISTINCT
                  LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst),
              e0 AS MATERIALIZED (SELECT a, b FROM und),
              ${(1 to CcRounds).map(ccRoundSql)
                .mkString(",\n              ")},
              labels AS MATERIALIZED (
                SELECT b AS node, a AS comp FROM e$CcRounds
                UNION SELECT a, a FROM e$CcRounds),
              sizes AS (SELECT comp, COUNT(*) AS csize FROM labels
                GROUP BY comp),
              cls AS MATERIALIZED (SELECT l.node,
                  CASE WHEN s.csize >= 64 THEN 'large'
                    WHEN s.csize >= 9 THEN 'mid'
                    ELSE 'dust' END AS cls
                FROM labels l JOIN sizes s ON s.comp = l.comp),
              j AS (SELECT COALESCE(c.cls, 'unlinked') AS link_class,
                  d.n_chars
                FROM documents d LEFT JOIN cls c ON c.node = d.doc_id),
              g AS (SELECT link_class, COUNT(*) AS n_docs,
                  CAST(SUM(n_chars) AS BIGINT) AS total_chars
                FROM j GROUP BY 1),
              t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot FROM g)
              SELECT link_class, n_docs, total_chars,
                CAST((20000 * n_docs + tot) // (2 * tot) AS BIGINT)
                  AS doc_share_bp
              FROM g, t ORDER BY link_class""")),

    // q254: SOURCE-level citation profile — the link graph lifted to
    // the source grain, the domain-level report a crawl curator reads
    // next to the node-level rankings: per citing source, how many
    // links it emits, how many stay INSIDE the source (self-citation —
    // a high self share is the link-farm / template-navigation smell
    // that q242's gcc_bp flags structurally), the self share in
    // half-up bp, and how many DISTINCT other sources it reaches
    // (citation breadth — a source that links everywhere is a
    // directory, one that links nowhere but itself is a silo). Both
    // endpoint sources come from the corpus by doc_id key join
    // (targets are corpus ids by fixture construction, declared).
    // Plan at 100 TB: two doc_id-keyed equi-joins of the skinny edge
    // list against the (doc_id, source) projection — dimension-sized
    // payloads, hash exchanges at full parallelism — then a
    // sources-bounded partial agg; the distinct count runs over a
    // |sources|² key space at worst.
    "q254_source_citation" -> QueryDef(
      (s, dir) => {
        val src = table(s, dir, "documents")
          .select(col("doc_id"), col("source"))
        val edges = linkEdges(s, dir)
        edges
          .join(src.select(col("doc_id"),
            col("source").as("from_source")),
            edges("src") === col("doc_id"))
          .drop("doc_id")
          .join(src.select(col("doc_id"),
            col("source").as("to_source")),
            col("dst") === col("doc_id"))
          .groupBy("from_source")
          .agg(count(lit(1)).as("n_links"),
            sum(when(col("to_source") === col("from_source"), 1L)
              .otherwise(0L)).as("n_self"),
            countDistinct(when(col("to_source") =!= col("from_source"),
              col("to_source"))).as("n_dst_sources"))
          .select(col("from_source"), col("n_links"), col("n_self"),
            expr("(20000 * n_self + n_links) div (2 * n_links)")
              .as("self_bp"),
            col("n_dst_sources"))
          .orderBy("from_source")
      },
      Some(s"""WITH $linkFixtureSql,
              edges AS (SELECT DISTINCT doc_id AS src,
                  CAST(m AS BIGINT) AS dst
                FROM (SELECT doc_id,
                    UNNEST(regexp_extract_all(text2,
                      'link->doc([0-9]+)', 1)) AS m
                  FROM docs) q),
              j AS (SELECT a.source AS from_source,
                  b.source AS to_source
                FROM edges e
                JOIN documents a ON a.doc_id = e.src
                JOIN documents b ON b.doc_id = e.dst)
              SELECT from_source, COUNT(*) AS n_links,
                CAST(SUM(CASE WHEN to_source = from_source
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_self,
                CAST((20000 * SUM(CASE WHEN to_source = from_source
                    THEN 1 ELSE 0 END) + COUNT(*)) // (2 * COUNT(*))
                  AS BIGINT) AS self_bp,
                CAST(COUNT(DISTINCT CASE WHEN to_source <> from_source
                  THEN to_source END) AS BIGINT) AS n_dst_sources
              FROM j GROUP BY from_source ORDER BY from_source""")),

    // q255: k-CORE census — the graph family's DENSITY axis (q178
    // importance, q242 local clustering, q249 global connectivity,
    // q255 cohesive depth): the 2-core strips every tree tendril, the
    // 3-core keeps only mutually-reinforcing clusters; the fixture
    // reads a structural result — the id-arithmetic graph's 2-core
    // holds the mod-400 target backbone while its 3-core is EMPTY (no
    // triple-reinforced cluster exists, consistent with q242's low
    // triangle count). Peeling (Seidman 1983) iterates
    // degree-filter-project to a fixpoint; rounds capped at 24
    // (declared — the sf0.01 fixture's 2-core needs 18: tail chains
    // peel one level per round) with the monotone-count early exit,
    // and the oracle unrolls the same 24 rounds per k (materialized
    // CTEs, the q249 lesson). Plan at 100 TB: each round is one
    // degree agg + two semi joins over a skinny edge frame that only
    // SHRINKS; per-round localCheckpoint keeps plan depth O(1);
    // rollups are 1-row broadcasts.
    "q255_kcore_census" -> QueryDef(
      (s, dir) => kcoreCensus(linkEdges(s, dir)),
      Some {
        val rounds = (1 to KcoreRounds)
        s"""WITH $linkFixtureSql,
              edges AS (SELECT DISTINCT doc_id AS src,
                  CAST(m AS BIGINT) AS dst
                FROM (SELECT doc_id,
                    UNNEST(regexp_extract_all(text2,
                      'link->doc([0-9]+)', 1)) AS m
                  FROM docs) q),
              und AS MATERIALIZED (SELECT DISTINCT
                  LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst),
              te0 AS MATERIALIZED (SELECT a, b FROM und),
              ue0 AS MATERIALIZED (SELECT a, b FROM und),
              ${rounds.map(r => kcoreRoundSql("t", 2, r))
                .mkString(",\n              ")},
              ${rounds.map(r => kcoreRoundSql("u", 3, r))
                .mkString(",\n              ")},
              nn AS (SELECT COUNT(*) AS n_nodes
                FROM (SELECT a AS v FROM und
                  UNION SELECT b FROM und) z),
              ct AS (SELECT 2 AS k,
                  (SELECT COUNT(*) FROM
                    (SELECT a AS v FROM te$KcoreRounds
                      UNION SELECT b FROM te$KcoreRounds) z)
                    AS n_core_nodes,
                  (SELECT COUNT(*) FROM te$KcoreRounds)
                    AS n_core_edges,
                  (SELECT COUNT(*) FROM te${KcoreRounds - 1})
                    AS prev_edges),
              cu AS (SELECT 3 AS k,
                  (SELECT COUNT(*) FROM
                    (SELECT a AS v FROM ue$KcoreRounds
                      UNION SELECT b FROM ue$KcoreRounds) z)
                    AS n_core_nodes,
                  (SELECT COUNT(*) FROM ue$KcoreRounds)
                    AS n_core_edges,
                  (SELECT COUNT(*) FROM ue${KcoreRounds - 1})
                    AS prev_edges),
              u2 AS (SELECT * FROM ct UNION ALL SELECT * FROM cu)
              SELECT CAST(k AS BIGINT) AS k,
                CAST(n_core_nodes AS BIGINT) AS n_core_nodes,
                CAST(n_core_edges AS BIGINT) AS n_core_edges,
                CAST(CASE WHEN n_nodes = 0 THEN 0
                  ELSE (20000 * n_core_nodes + n_nodes)
                    // (2 * n_nodes) END AS BIGINT) AS core_share_bp,
                CAST(CASE WHEN n_core_edges = prev_edges
                  THEN 1 ELSE 0 END AS BIGINT) AS converged_ok
              FROM u2, nn ORDER BY k"""
      }),

    // q256: RICH-CLUB profile (Zhou & Mondragón 2004) — do the hubs
    // interconnect? For each degree threshold k ∈ {2, 4, 8}: the club
    // (nodes with degree > k), its internal edge count, and the club
    // density φ(k) = 2E/(N(N−1)) in half-up bp. A rising φ(k) with k
    // is the "rich club" (an oligarchy of mutually-linked hubs — in a
    // crawl, a reciprocal-boost ring worth an editorial look); a flat
    // low φ means hubs are independent directories. Complements q242
    // (triangles say local closure, this says HUB-level closure) and
    // q255 (the k-core is cohesion by peeling, the club is cohesion
    // by raw degree). No iteration anywhere — one degree agg, per-k
    // two semi joins + scalar rollups; Long-safe to N ≈ 10⁹ club
    // nodes (N² < 2⁶³); phi guarded 0 for clubs of ≤ 1 node.
    "q256_rich_club" -> QueryDef(
      (s, dir) => richClub(linkEdges(s, dir)),
      Some(s"""WITH $linkFixtureSql,
              edges AS (SELECT DISTINCT doc_id AS src,
                  CAST(m AS BIGINT) AS dst
                FROM (SELECT doc_id,
                    UNNEST(regexp_extract_all(text2,
                      'link->doc([0-9]+)', 1)) AS m
                  FROM docs) q),
              und AS MATERIALIZED (SELECT DISTINCT
                  LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst),
              deg AS MATERIALIZED (SELECT v, COUNT(*) AS d
                FROM (SELECT a AS v FROM und
                  UNION ALL SELECT b FROM und) z GROUP BY v),
              ks AS (SELECT CAST(k AS BIGINT) AS k
                FROM (VALUES (2), (4), (8)) t(k)),
              club AS MATERIALIZED (SELECT k.k, d.v
                FROM ks k JOIN deg d ON d.d > k.k),
              nk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n
                FROM club GROUP BY k),
              ek AS (SELECT c1.k, CAST(COUNT(*) AS BIGINT) AS e
                FROM und u
                JOIN club c1 ON c1.v = u.a
                JOIN club c2 ON c2.v = u.b AND c2.k = c1.k
                GROUP BY c1.k)
              SELECT k.k, COALESCE(n, 0) AS n_club_nodes,
                COALESCE(e, 0) AS n_club_edges,
                CAST(CASE WHEN COALESCE(n, 0) <= 1 THEN 0
                  ELSE (2 * 10000 * 2 * COALESCE(e, 0) + n * (n - 1))
                    // (2 * n * (n - 1)) END AS BIGINT) AS phi_bp
              FROM ks k LEFT JOIN nk ON nk.k = k.k
              LEFT JOIN ek ON ek.k = k.k ORDER BY k.k""")),

    "q237_khop_reachability" -> QueryDef(
      (s, dir) => {
        val seeds = table(s, dir, "documents")
          .filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("node"))
        khopCounts(linkEdges(s, dir), seeds, 4)
      },
      Some {
        def hopSql(h: Int): String =
          s"""f$h AS (SELECT DISTINCT e.dst AS node
                FROM edges e JOIN f${h - 1} f ON e.src = f.node
                WHERE e.dst NOT IN (SELECT node FROM v${h - 1})),
              v$h AS (SELECT node, hop FROM v${h - 1}
                UNION ALL SELECT node, $h FROM f$h)"""
        s"""WITH $linkFixtureSql,
              edges AS (SELECT DISTINCT doc_id AS src,
                  CAST(m AS BIGINT) AS dst
                FROM (SELECT doc_id,
                    UNNEST(regexp_extract_all(text2,
                      'link->doc([0-9]+)', 1)) AS m
                  FROM docs) q),
              f0 AS (SELECT DISTINCT doc_id AS node FROM documents
                WHERE doc_id % 50 = 0),
              v0 AS (SELECT node, 0 AS hop FROM f0),
              ${(1 to 4).map(hopSql).mkString(",\n              ")}
              SELECT CAST(hop AS BIGINT) AS hop, COUNT(*) AS n_new,
                CAST(SUM(COUNT(*)) OVER (ORDER BY hop) AS BIGINT)
                  AS n_cum
              FROM v4 GROUP BY hop ORDER BY hop"""
      })
  )
}
