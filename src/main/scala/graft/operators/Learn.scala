package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Q._

/** Model-in-the-loop curation (SURVEY 2B extension surface - the
  * reference is a GCS file mover with no learning code; absent by
  * construction). Large-scale pipelines train SMALL models over the
  * corpus to curate it: a linear quality probe over document features
  * (the fastText-style classifier GPT-3/CCNet used to filter CommonCrawl
  * against a high-quality reference), applied back over the corpus as a
  * keep/drop gate, and greedy coreset selection (k-center
  * farthest-point) for diversity-stratified subsampling. All three are
  * implemented here as declared, engine-exact training rules:
  *
  * Determinism discipline: logistic regression's sigmoid needs exp(),
  * whose last-ulp rounding differs across libm implementations - the
  * same reason the perplexity family (q133/q176) is log-free. The
  * declared activation is therefore the RATIONAL sigmoid
  * s(m) = 0.5 + 0.5*m/(1+|m|) (Elliott 1993's "softsign" squashed to
  * (0,1)) - only +,*,/,abs, each a single correctly-rounded IEEE op, so
  * both engines walk bitwise-identical trajectories. Gradient sums are
  * the order-free exact-decimal discipline (cast DECIMAL(18,10) before
  * SUM); the weight update is pure sequential IEEE arithmetic mirrored
  * between the Scala driver loop and the oracle's unrolled CTE chain.
  * Training rule (declared): full-batch updates
  * w_p <- w_p - lr_k*(g_p/n), g_p = sum_rows (s(m)-y)*x_p, with the
  * geometric power-of-two rate schedule lr_k = 2^(7-k), fixed 8
  * iterations - the delta rule on the rational sigmoid (not
  * logistic loss's exact gradient; chosen for cross-engine exactness,
  * same spirit as q178's integer-micro PageRank).
  */
object Learn {

  /** Fixed full-batch iterations - declared, not convergence-polled
    * (the oracle unrolls the same count; no driver convergence collect
    * at scale).
    */
  private val GdIters = 8

  /** Declared learning-rate schedule: geometric decay over powers of
    * two, lr_k = 2^(7-k) for step k = 1..8 (64, 32, ..., 0.5) - every
    * rate exact in binary, so each update multiply is one rounding in
    * both engines. Swept: a fixed 0.5 left accuracy at chance (steps
    * too small to move the weight norm), a fixed 32 oscillated (the
    * bias term flip-flopped sign every step and poisoned the gradient
    * direction); the decaying schedule takes the large early steps and
    * settles.
    */
  private def gdLr(k: Int): Double = (1L << math.max(7 - k, 0)).toDouble *
    (if (k >= 8) 0.5 else 1.0)

  /** Declared binary target over the embeddings table: y = label mod 2
    * (the synthetic corpus has no quality labels; parity of the cluster
    * label unions five clusters per class, so the probe has real signal
    * to find - LearnSpec asserts accuracy improves over training).
    */
  private def yCol: Column = (col("label") % 2).cast("double")

  /** Per-row margin m = dot(e, w) + b with w entering the plan as
    * literals. The dot is the native codegen'd `graft_dot` - a
    * double-accumulate in index order starting from 0.0, the bitwise
    * mirror of both the oracle's list_sum(list_transform(...)) and the
    * interpreted `aggregate(zip_with(...))` fold it replaces (the q169
    * lesson: per-row HOF folds on the hot path are the #1 interpreted
    * cost; this one runs once per row per training iteration).
    */
  private def marginCol(w: Array[Double], b: Double): Column =
    graft.functions.VectorFunctions.dot(
      col("e"), array(w.map(lit): _*)) + lit(b)

  /** Rational sigmoid on the margin: s = 0.5 + 0.5*m/(1+|m|). */
  private def squash(m: Column): Column =
    lit(0.5) + lit(0.5) * m / (lit(1.0) + abs(m))

  /** The fitted probe's score on a raw float-embedding column - ONE
    * definition shared by q183's batch gate and
    * [[graft.streaming.StreamingOps.probeGateStream]], so the two
    * modes cannot drift.
    */
  private[graft] def probeScore(emb: Column, w: Array[Double], b: Double)
      : Column =
    squash(graft.functions.VectorFunctions.dot(
      emb, array(w.map(lit): _*)) + lit(b))

  /** One trained probe: weights/bias after [[GdIters]] full-batch
    * steps plus the per-iteration training report (metrics row k is
    * the scan under w_{k-1}, i.e. the state the step-k gradient saw;
    * w_l2/b report the state AFTER update k).
    */
  private[graft] final case class ProbeFit(dim: Int, w: Array[Double],
      b: Double, report: Seq[(Long, Long, Long, Long, Long)])

  /** [[probeFit]] is a pure function of the table (exact decimal
    * moments + deterministic driver arithmetic), so it is a
    * [[FitMemo]] - q181's report and q183's corpus gate share one
    * training run.
    */
  private[graft] def probeFit(s: SparkSession, dir: String): ProbeFit =
    FitMemo(s, dir, "embeddings", "probe")(probeFitUncached(s, dir))

  /** The Spark half of the training recipe: the feature frame is
    * persisted once (8 iterations re-read it - q178's contrib
    * discipline), each iteration is ONE corpus scan: an in-row
    * (d+1)-element gradient array (bias at position 0) explodes into a
    * 65-key exact-decimal partial agg, metrics ride the position-0
    * group. The bounded collect is d+1 rows per iteration (the
    * nlist-centroid discipline); the weight update happens on the
    * driver in the exact sequential order the oracle's CTE chain
    * declares.
    */
  private def probeFitUncached(s: SparkSession, dir: String): ProbeFit =
    trainProbe(table(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"),
        yCol.as("y"))
      .managedPersist)

  /** The training loop on an arbitrary persisted feature frame
    * `(vec_id, e: array&lt;double&gt;, y: double)` - the q181 dir path
    * and the Stress scale probe share this one definition.
    */
  private[graft] def trainProbe(emb: DataFrame): ProbeFit = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val dim = emb.select(size(col("e"))).head().getInt(0)
    val w = Array.fill(dim)(0.0)
    var b = 0.0
    val report = (1 to GdIters).map { k =>
      // STAGED projections so the margin fold evaluates ONCE per row:
      // inlining `err` (which contains the d-element fold) into all
      // d+1 gradient-array elements re-evaluates the fold d+1 times
      // per row - measured 16.7 s -> 1.9 s on the Stress probe_train
      // row at factor 1 after this split. CollapseProject keeps the
      // stages apart because `m`/`err` are multiply-referenced
      // non-cheap expressions.
      val scored = emb
        .select(col("y"), col("e"), marginCol(w, b).as("m"))
        .select(col("y"), col("e"), col("m"),
          (squash(col("m")) - col("y")).as("err"))
      val correct =
        ((col("m") > lit(0.0)) === (col("y") === lit(1.0))).cast("long")
      // garr(0) = d(err)/d(b); garr(p) = err * e_p for p = 1..dim
      val garr = concat(array(col("err")),
        transform(col("e"), x => col("err") * x))
      val rows = scored
        .select(col("y"), correct.as("c"), abs(col("err")).as("ae"),
          posexplode(garr).as(Seq("p", "gv")))
        .groupBy("p")
        .agg(
          sum(col("gv").cast(DecimalType(18, 10))).cast("double").as("g"),
          count(lit(1)).as("n"),
          sum(col("c")).as("nc"),
          sum(col("ae").cast(DecimalType(18, 10))).cast("double").as("sae"))
        .collect()
      val g = rows.map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val head = rows.find(_.getInt(0) == 0).get
      val n = head.getLong(2).toDouble
      // sequential IEEE update, index-ascending - the oracle's
      // list_transform walks the same order
      val lr = gdLr(k)
      b = b - lr * (g(0) / n)
      var p = 0
      while (p < dim) { w(p) = w(p) - lr * (g(p + 1) / n); p += 1 }
      var ss = 0.0
      locally { var i = 0; while (i < dim) { ss += w(i) * w(i); i += 1 } }
      (k.toLong, head.getLong(3), micro(head.getDouble(4)),
        micro(math.sqrt(ss)), micro(b))
    }
    ProbeFit(dim, w, b, report)
  }

  /** Half-away-from-zero micro rounding on the exact binary double
    * ([[Similarity]]'s discipline - BigDecimal(double) keeps the full
    * binary expansion; HALF_UP equals DuckDB ROUND ties-away on the
    * identical double).
    */
  private def micro(x: Double): Long =
    new java.math.BigDecimal(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact

  // ---------------------------------------------------------------
  // Oracle chain (shared by q181 and q183 - ONE definition so the
  // report and the gate cannot drift)
  // ---------------------------------------------------------------

  /** Feature CTE: f(vec_id, e, y). MATERIALIZED - every unrolled step
    * scans it (the q179 lesson: inlined CTEs re-expand per reference).
    */
  private val featSql =
    """f AS MATERIALIZED (SELECT vec_id,
              list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e,
              CAST(label % 2 AS DOUBLE) AS y
            FROM embeddings)"""

  /** One oracle iteration, w{k-1} -> w{k}: the per-row scan under the
    * previous weights, the exact-decimal gradient agg keyed by unnest
    * position (0 = bias), and the sequential update. Mirrors
    * [[probeFitUncached]]'s loop body term for term.
    */
  private def gdStepSql(k: Int): String = {
    val j = k - 1
    s"""sc$k AS (SELECT f.y, f.e,
              list_sum(list_transform(range(1, len(f.e) + 1),
                i -> f.e[i] * w$j.w[i])) + w$j.b AS m
            FROM f, w$j),
          er$k AS (SELECT y, e,
              (0.5 + 0.5 * m / (1 + ABS(m))) - y AS err,
              CASE WHEN (m > 0) = (y = 1) THEN 1 ELSE 0 END AS c
            FROM sc$k),
          gx$k AS (SELECT c, ABS(err) AS ae,
              UNNEST(list_concat([err],
                list_transform(e, x -> err * x))) AS gv,
              UNNEST(range(len(e) + 1)) AS p
            FROM er$k),
          ga$k AS MATERIALIZED (SELECT p,
              CAST(SUM(CAST(gv AS DECIMAL(18,10))) AS DOUBLE) AS g,
              COUNT(*) AS n, SUM(c) AS nc,
              CAST(SUM(CAST(ae AS DECIMAL(18,10))) AS DOUBLE) AS sae
            FROM gx$k GROUP BY p),
          gl$k AS (SELECT list(g ORDER BY p) AS gs, any_value(n) AS n
            FROM ga$k),
          st$k AS (SELECT CAST($k AS BIGINT) AS iter,
              CAST(nc AS BIGINT) AS n_correct,
              CAST(ROUND(sae * 1000000) AS BIGINT) AS abs_err_micro
            FROM ga$k WHERE p = 0),
          w$k AS MATERIALIZED (SELECT
              list_transform(range(1, len(w$j.w) + 1),
                i -> w$j.w[i] - ${gdLr(k)} * (gl$k.gs[i + 1] / gl$k.n)) AS w,
              w$j.b - ${gdLr(k)} * (gl$k.gs[1] / gl$k.n) AS b
            FROM w$j, gl$k)"""
  }

  /** The full unrolled training chain: f, w0 (zeros), then
    * [[GdIters]] steps. Consumers append their own report CTEs;
    * `w$GdIters` holds the fitted model, `st1..stN` the per-iteration
    * metrics.
    */
  private def gdChainSql: String =
    s"""$featSql,
          w0 AS MATERIALIZED (SELECT list_transform(range(1, len(e) + 1),
                i -> CAST(0.0 AS DOUBLE)) AS w,
              CAST(0.0 AS DOUBLE) AS b
            FROM f LIMIT 1),
          ${(1 to GdIters).map(gdStepSql).mkString(",\n          ")}"""

  /** Post-update model norms for the report: w_l2 is the index-order
    * square fold (list_sum mirror of the driver while-loop) under one
    * correctly-rounded SQRT.
    */
  private def normSql(k: Int): String =
    s"""(SELECT CAST(ROUND(SQRT(list_sum(
          list_transform(w$k.w, x -> x * x))) * 1000000) AS BIGINT)
        FROM w$k)"""

  /** Coreset size for q182 - declared; the oracle unrolls the same
    * count. Row K+1 reports the would-be next pick, i.e. the k-center
    * covering radius of the selected set.
    */
  private val CoresetK = 16

  /** Squared euclidean distance to a fixed center entering the plan as
    * literals - per-element (x-c)^2 then the index-order left fold,
    * bitwise-mirrored by the oracle's list_sum(list_transform(...)).
    */
  private def dist2Col(c: Array[Double]): Column =
    aggregate(
      zip_with(col("e"), array(c.map(lit): _*), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, z) => acc + z)

  private def dist2Sql(eRef: String, cRef: String): String =
    s"""list_sum(list_transform(range(1, len($eRef) + 1),
          i -> ($eRef[i] - $cRef[i]) * ($eRef[i] - $cRef[i])))"""

  /** The greedy farthest-point loop on an arbitrary persisted frame
    * `(vec_id, label, e: array of double)` - the q182 dir path and the
    * Stress scale probe share this one definition. The seed is the row
    * with vec_id = seedId (q182 declares seed 0). Returns (sel_order,
    * vec_id, label, dist_micro) with k+1 rows - the last row is the
    * would-be next pick, i.e. the covering-radius probe.
    */
  private[graft] def coresetSelect(emb: DataFrame, k: Int,
      seedId: Long = 0L): Seq[(Long, Long, Long, Long)] = {
    val seed = emb.filter(col("vec_id") === seedId).head()
    var c = seed.getSeq[Double](2).toArray
    val picks = scala.collection.mutable.ArrayBuffer(
      (1L, seedId, seed.getLong(1), 0L))
    var d = emb
      .withColumn("d", dist2Col(c))
      .localCheckpoint(true)
    for (i <- 2 to k + 1) {
      val far = d.orderBy(desc("d"), asc("vec_id")).limit(1).head()
      picks += ((i.toLong, far.getLong(0), far.getLong(1),
        micro(far.getDouble(3))))
      if (i <= k) {
        c = far.getSeq[Double](2).toArray
        d = d.withColumn("d", least(col("d"), dist2Col(c)))
          .localCheckpoint(true)
      }
    }
    picks.toSeq
  }

  // ---------------------------------------------------------------
  // Streaming coreset store (the online half of q182 - fixed-radius
  // admission, the classic streaming relaxation of greedy k-center:
  // admit a point iff it is farther than r from every admitted
  // center)
  // ---------------------------------------------------------------

  /** Squared euclidean distance between two float-embedding columns -
    * per-element cast-then-square, index-order fold; the driver mirror
    * is [[dist2f]] (same op order, used by the within-batch greedy and
    * the spec reference).
    */
  private[graft] def dist2fCol(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, z) => acc + z)

  private[graft] def dist2f(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length && i < b.length) {
      val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
    }
    s
  }

  /** Write the initial center store for [[graft.streaming.StreamingOps
    * .coresetIngestStream]]: `(vec_id, embedding)` rows, typically the
    * q182 coreset of the existing corpus (or a single seed vector).
    * Must be non-empty - an empty store would admit nothing (the
    * min-distance probe is a join against the centers).
    */
  def writeCoresetStore(vecs: DataFrame, name: String,
      path: String): Unit = {
    require(!vecs.isEmpty, "coreset store must be seeded non-empty")
    vecs.select(col("vec_id"), col("embedding"))
      .write.mode("overwrite")
      .option("path", s"$path/centers").saveAsTable(s"${name}_centers")
  }

  /** One batch's fixed-radius admission against the persisted center
    * store: keep rows farther than sqrt(r2) from EVERY stored center
    * (centers are coreset-sized by the packing argument, so they ride
    * a broadcast), then the declared within-batch greedy in ascending
    * vec_id order (inherently sequential). Returns the admitted
    * `(vec_id, embedding)` frame.
    *
    * VERDICT r12 (driver-collect bound): the far set is consumed in
    * ascending-vec_id CHUNKS of `chunk` rows — each driver collect is
    * a bounded TopK (`orderBy(vec_id).limit(chunk)`), never the whole
    * far set, so a first batch over a novel corpus (where EVERY row is
    * far) costs ceil(n_far/chunk) bounded round trips instead of one
    * unbounded collect. Chunking preserves the declared sequential
    * semantics exactly: within a chunk the greedy checks candidates
    * against everything admitted so far (store + all prior chunks +
    * this chunk's earlier rows, in vec_id order), and between chunks
    * the surviving remainder is re-filtered DISTRIBUTED against the
    * chunk's newly-admitted centers — the composition of those filters
    * is precisely "farther than r from every center admitted before
    * me", i.e. the one-shot greedy's invariant. The ADMITTED set stays
    * packing-bounded regardless of n_far, so the in-driver center list
    * and the broadcast both stay small. The remainder's plan deepens
    * by one filter per chunk; micro-batches are a handful of chunks,
    * and a genuinely huge backfill should go through q182's batch
    * coreset instead.
    */
  private[graft] def coresetAdmit(batch: DataFrame, name: String,
      r2: Double, chunk: Int = 4096): DataFrame = {
    val s = batch.sparkSession
    require(chunk > 0, s"chunk must be positive: $chunk")
    def farFrom(df: DataFrame, cs: DataFrame): DataFrame = df
      .crossJoin(broadcast(cs))
      .withColumn("d2", dist2fCol(col("embedding"), col("ce")))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        min(col("d2")).as("d2"))
      .filter(col("d2") > lit(r2))
      .select(col("vec_id"), col("embedding"))
    val centers = s.table(s"${name}_centers")
      .select(col("embedding").as("ce"))
    // an EMPTY center store (writeCoresetStore refuses to create one,
    // but maintenance can drain it) makes "farther than r from every
    // center" vacuously true for the whole batch — the cross join
    // would instead yield an empty far set and silently reject
    // everything, so bypass the store gate and run the in-batch
    // greedy over all rows
    var remaining =
      if (centers.isEmpty) batch.select(col("vec_id"), col("embedding"))
      else farFrom(batch.select(col("vec_id"), col("embedding")), centers)
    val admitted =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    var done = false
    var chunkIdx = 0
    while (!done) {
      // bounded collect: TakeOrderedAndProject of `chunk` rows
      val head = remaining.orderBy("vec_id").limit(chunk).collect()
      val newly =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
      head.foreach { r =>
        val e = r.getSeq[Float](1).toArray
        if (admitted.forall(a => dist2f(a._2, e) > r2) &&
            newly.forall(a => dist2f(a._2, e) > r2))
          newly += ((r.getLong(0), e))
      }
      admitted ++= newly
      if (head.length < chunk) done = true
      else {
        chunkIdx += 1
        val wm = head.last.getLong(0)
        val rest = remaining.filter(col("vec_id") > wm)
        remaining =
          if (newly.isEmpty) rest
          else farFrom(rest,
            s.createDataFrame(newly.toSeq).toDF("vec_id", "embedding")
              .select(col("embedding").as("ce")))
        // q182's per-step checkpoint discipline (ADVICE r13): each
        // chunk chains another farFrom over the previous frame, so
        // without truncation every orderBy.limit collect re-derives
        // the whole accumulated chain from the batch scan — roughly
        // quadratic recompute on a large all-far batch. An eager
        // localCheckpoint every 4 chunks bounds both plan depth and
        // recompute at a constant window.
        if (chunkIdx % 4 == 0)
          remaining = remaining.localCheckpoint(true)
      }
    }
    s.createDataFrame(admitted.toSeq).toDF("vec_id", "embedding")
  }

  /** q185's deployed SCALE path: hard-negative candidates enumerated
    * WITHIN IVF cells only (the semDedupPrunedCellLocal argument -
    * any cell partition yields a subset of the exact pair set with
    * identical sims, and the pairs a contrastive loss wants are the
    * HIGH-cosine ones, which are intra-cell by construction). Returns
    * cross-label pairs at 4-dp cosine >= simFloor; candidate work is
    * sum-of-cell-sizes squared instead of n^2. LearnSpec asserts the
    * subset property against the exact block-tiled frame.
    */
  def hardPairsCellLocal(emb: DataFrame, simFloor: Double,
      nlist: Int = 16): DataFrame = {
    import graft.functions.VectorFunctions.{dot, normSq, cosineWithNorms}
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val base = emb.select(col("vec_id"),
      col("label").cast("long").as("label"), col("embedding"))
    val model = Ann.coarseQuantizer(
      base.select(col("vec_id"), col("embedding")), nlist,
      cheapInit = true)
    val cells = base
      .withColumn("cell", Ann.twoLevelAssignCol(model, col("embedding")))
      .withColumn("nsq", normSq(col("embedding")))
    val a = cells.select(col("cell"), col("vec_id").as("va"),
      col("label").as("label_a"), col("embedding").as("ea"),
      col("nsq").as("na"))
    val b = cells.select(col("cell"), col("vec_id").as("vb"),
      col("label").as("label_b"), col("embedding").as("eb"),
      col("nsq").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("va") < col("vb"))
      .filter(col("label_a") =!= col("label_b"))
      .withColumn("sim", round(cosineWithNorms(dot(col("ea"), col("eb")),
        col("na"), col("nb")), 4))
      .filter(col("sim") >= simFloor)
      .select(col("va"), col("vb"), col("label_a"), col("label_b"),
        col("sim"))
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // Q181: train the linear quality probe - 8 full-batch delta-rule
    // steps on the rational sigmoid over embedding features, target =
    // cluster-label parity (declared). Report: one row per iteration
    // with the training-scan metrics (n_correct, summed |error| in
    // micros) and the post-update model norms. Every number is either
    // an integer count, an exact-decimal sum micro-rounded once, or a
    // sequential-IEEE scalar micro-rounded once - oracle-exact end to
    // end. 100 TB plan: 8 x (one corpus scan -> 65-key partial agg ->
    // 65-row collect); the feature frame persists across iterations,
    // nothing corpus-sized ever reaches the driver.
    "q181_quality_probe" -> QueryDef(
      (s, dir) => {
        val fit = probeFit(s, dir)
        s.createDataFrame(fit.report)
          .toDF("iter", "n_correct", "abs_err_micro", "w_l2_micro",
            "b_micro")
          .orderBy("iter")
      },
      Some(s"""WITH $gdChainSql
              SELECT st.iter, st.n_correct, st.abs_err_micro,
                nm.l2 AS w_l2_micro, nm.bm AS b_micro
              FROM (${(1 to GdIters).map(k =>
                  s"SELECT iter, n_correct, abs_err_micro FROM st$k")
                .mkString(" UNION ALL ")}) st
              JOIN (${(1 to GdIters).map(k =>
                  s"""SELECT CAST($k AS BIGINT) AS iter,
                      ${normSql(k)} AS l2,
                      (SELECT CAST(ROUND(b * 1000000) AS BIGINT)
                        FROM w$k) AS bm""")
                .mkString(" UNION ALL ")}) nm
              ON nm.iter = st.iter
              ORDER BY st.iter""")),

    // Q182: greedy k-center coreset selection (Gonzalez 1985 farthest-
    // point traversal) - the diversity-subsampling primitive: pick the
    // seed (vec_id 0, declared), then 15 times the point FARTHEST from
    // the selected set (max-min squared euclidean, ties to the lower
    // vec_id), reporting each pick's label and selection distance plus
    // a final row for the would-be 17th pick, whose distance IS the
    // covering radius of the coreset. Distances are bitwise-identical
    // index-order folds; the argmax compares identical doubles, so
    // selection is engine-exact with no rounding in the loop
    // (micro-rounding only at the report edge). 100 TB plan: each step
    // is ONE map-only scan (the new center enters as literals) + a
    // global top-1 reduce (TakeOrdered); the running min-distance
    // column is localCheckpoint'ed per step so plan depth stays O(1)
    // like the q178 rank loop - k scans total, nothing corpus-sized on
    // the driver (one 64-double row collected per step).
    "q182_coreset_select" -> QueryDef(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            transform(col("embedding"), x => x.cast("double")).as("e"))
          .managedPersist
        s.createDataFrame(coresetSelect(emb, CoresetK))
          .toDF("sel_order", "vec_id", "label", "dist_micro")
          .orderBy("sel_order")
      },
      Some {
        val steps = (2 to CoresetK + 1).map { k =>
          val j = k - 1
          // MATERIALIZED (the q179 lesson): each step references the
          // previous frame twice (pick + min-update); inlined CTEs
          // would re-expand the chain exponentially
          val pick =
            s"""p$k AS MATERIALIZED (SELECT vec_id, label, e, d FROM d$j
                ORDER BY d DESC, vec_id LIMIT 1)"""
          if (k <= CoresetK)
            s"""$pick,
              d$k AS MATERIALIZED (SELECT d$j.vec_id, d$j.label, d$j.e,
                  LEAST(d$j.d, ${dist2Sql(s"d$j.e", s"p$k.e")}) AS d
                FROM d$j, p$k)"""
          else pick
        }.mkString(",\n              ")
        s"""WITH f AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
                FROM embeddings),
              c1 AS (SELECT e FROM f WHERE vec_id = 0),
              d1 AS MATERIALIZED (SELECT f.vec_id, f.label, f.e,
                  ${dist2Sql("f.e", "c1.e")} AS d
                FROM f, c1),
              $steps
              SELECT CAST(1 AS BIGINT) AS sel_order,
                CAST(0 AS BIGINT) AS vec_id, label,
                CAST(0 AS BIGINT) AS dist_micro
              FROM f WHERE vec_id = 0
              UNION ALL
              ${(2 to CoresetK + 1).map(k =>
                s"""SELECT CAST($k AS BIGINT), vec_id, label,
                    CAST(ROUND(d * 1000000) AS BIGINT) FROM p$k""")
                .mkString(" UNION ALL ")}
              ORDER BY sel_order"""
      }),

    // Q185: contrastive pair mining for embedding-model training -
    // hard NEGATIVES (different label, highest cosine: the pairs a
    // contrastive loss learns most from) and hard POSITIVES (same
    // label, lowest cosine: intra-class outliers / mislabeled
    // candidates), top-20 each over the exact all-pairs similarity.
    // Reuses q27's bounded block tiling (Similarity.tiledPairSims -
    // B x B id-block join, never a cartesian) with the tiny
    // (vec_id, label) frame broadcast back onto both pair sides; sim
    // is the shared 4-dp-rounded exact cosine, ties broken (va, vb) -
    // both engines cut identical rows. Exact all-pairs is the
    // DECLARED contract (q135's discipline); at 100 TB mining runs
    // cell-local over the IVF partition (high-cosine pairs are
    // intra-cell by construction - the same subset argument
    // semDedupPrunedCellLocal proves), so the exact form here is the
    // recall oracle for that scale path, not the deployed plan.
    "q185_hard_pairs" -> QueryDef(
      (s, dir) => {
        graft.functions.VectorFunctions.register(s)
        val emb = table(s, dir, "embeddings")
        val lab = emb
          .select(col("vec_id"), col("label").cast("long").as("label"))
        val pairs = Similarity.tiledPairSims(s, emb)
          .join(broadcast(lab.toDF("va", "label_a")), "va")
          .join(broadcast(lab.toDF("vb", "label_b")), "vb")
          .select(col("va"), col("vb"), col("label_a"), col("label_b"),
            col("sim"))
        val neg = pairs.filter(col("label_a") =!= col("label_b"))
          .orderBy(desc("sim"), col("va"), col("vb")).limit(20)
          .withColumn("kind", lit("hard_neg"))
        val pos = pairs.filter(col("label_a") === col("label_b"))
          .orderBy(asc("sim"), col("va"), col("vb")).limit(20)
          .withColumn("kind", lit("hard_pos"))
        neg.unionByName(pos)
          .select(col("kind"), col("va"), col("vb"), col("label_a"),
            col("label_b"), col("sim"))
          .orderBy(col("kind"), col("va"), col("vb"))
      },
      Some("""WITH n AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                  embedding,
                  (SELECT SUM(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE))
                   FROM UNNEST(embedding) AS u(x)) AS nsq
                FROM embeddings),
              p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                  a.label AS label_a, b.label AS label_b,
                  ROUND((SELECT SUM(CAST(z.x AS DOUBLE) * CAST(z.y AS DOUBLE))
                     FROM (SELECT UNNEST(a.embedding) AS x,
                                  UNNEST(b.embedding) AS y) z)
                    / (SQRT(a.nsq) * SQRT(b.nsq)), 4) AS sim
                FROM n a JOIN n b ON a.vec_id < b.vec_id),
              neg AS (SELECT 'hard_neg' AS kind, va, vb, label_a,
                  label_b, sim
                FROM p WHERE label_a <> label_b
                ORDER BY sim DESC, va, vb LIMIT 20),
              pos AS (SELECT 'hard_pos' AS kind, va, vb, label_a,
                  label_b, sim
                FROM p WHERE label_a = label_b
                ORDER BY sim ASC, va, vb LIMIT 20)
              SELECT * FROM (SELECT * FROM neg UNION ALL
                SELECT * FROM pos) u
              ORDER BY kind, va, vb""")),

    // Q183: the probe applied back over the corpus as a keep/drop gate
    // (the actual CommonCrawl-filter shape): score every embedding
    // under the FITTED model, keep score >= 0.5 (equivalently margin
    // > 0 is NOT the same once b != 0 - the declared gate is on the
    // squashed score), report per cluster label n / n_keep / the
    // summed per-row FLOOR-micro score (floor of identical doubles,
    // then integer aggregation - q180's quantization discipline).
    // Shows which clusters the probe would cut. 100 TB plan: the
    // training cost amortizes across q181/q183 via the memo; the gate
    // itself is ONE map-only scan (w enters as literals) into a
    // 10-key partial agg.
    "q183_probe_gate" -> QueryDef(
      (s, dir) => {
        graft.functions.VectorFunctions.register(s)
        val fit = probeFit(s, dir)
        table(s, dir, "embeddings")
          // staged so the score fold evaluates once per row (the
          // trainProbe lesson: two references would inline two folds)
          .select(col("label").cast("long").as("label"),
            probeScore(col("embedding"), fit.w, fit.b).as("sc"))
          .select(col("label"),
            (col("sc") >= lit(0.5)).cast("long").as("keep"),
            floor(col("sc") * lit(1e6)).cast("long").as("sm"))
          .groupBy("label")
          .agg(count(lit(1)).as("n"), sum("keep").as("n_keep"),
            sum("sm").as("sum_score_micro"))
          .orderBy("label")
      },
      Some(s"""WITH $gdChainSql,
              gate AS (SELECT CAST(el.label AS BIGINT) AS label,
                  CASE WHEN sc >= 0.5 THEN 1 ELSE 0 END AS keep,
                  CAST(FLOOR(sc * 1000000) AS BIGINT) AS sm
                FROM (SELECT label,
                    0.5 + 0.5 * m / (1 + ABS(m)) AS sc
                  FROM (SELECT el0.label,
                      list_sum(list_transform(
                        range(1, len(el0.e) + 1),
                        i -> el0.e[i] * wf.w[i])) + wf.b AS m
                    FROM (SELECT label, list_transform(embedding,
                          v -> CAST(v AS DOUBLE)) AS e
                        FROM embeddings) el0, w$GdIters wf) q) el)
              SELECT label, COUNT(*) AS n,
                CAST(SUM(keep) AS BIGINT) AS n_keep,
                CAST(SUM(sm) AS BIGINT) AS sum_score_micro
              FROM gate GROUP BY label ORDER BY label"""))
  )
}
