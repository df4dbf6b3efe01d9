package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, Q}

/** Parameter-tuning probe for the q98 ANN recall contract (not part of
  * the bench contract): measures annTopK / ivfTopK recall against the
  * brute-force top-k on each test SF so the registered contract floor
  * is an informed margin, not a guess. Output is a markdown table —
  * committed as ANN_TUNING.md so the chosen floors are auditable.
  *
  *   sbt 'runMain graft.AnnTune' | tee ANN_TUNING.md (keep the table)
  *
  * The test embeddings are near-uniform random (top-10 neighbor cosine
  * ≈ 0.30): the known worst case for sublinear similarity search, and
  * exactly why the LSH sweep includes the `tables` OR-amplification
  * axis — a single hyperplane table cannot exceed ~0.13 recall here no
  * matter the plane count (measured below), while 16 OR'd tables do.
  */
object AnnTune {
  def main(args: Array[String]): Unit = {
    val spark = Session()

    val sb = new StringBuilder
    def out(s: String): Unit = { println(s); sb.append(s).append('\n') }

    out("# ANN recall tuning (q98 contract floors)")
    out("")
    out("`margin_hi` = recall − the path's WATERMARK floor (q98: lsh " +
      "0.75, ivf/ivf-sq8 0.78; q126: ivf-pq 0.65; q131: ivf-pq-app " +
      "0.62): the headroom the recorded bit has before it flips. Only " +
      "the operating configs (tables=16 probes=1; nprobe=8; pq " +
      "rerank=128 opq=8) gate the gate — the other rows document the " +
      "sweep. A small minimum margin here must be reflected verbatim " +
      "in the SURVEY/q98 margin claim (r8 verdict: the claim said " +
      "≥ 0.05 while the sf0.1 ivf seed=1 row measured +0.044). " +
      "Round 11: the PQ paths train with the OPQ rotation (Ge et al. " +
      "2013, opqIters=8) — even on these near-uniform random " +
      "embeddings (PQ's worst case) the learned rotation lifts " +
      "measured recall at every SF × seed, largest at sf0.1 " +
      "(0.648-0.659 plain → 0.682-0.689 OPQ full-trained), and the " +
      "floors rose with it (q126 0.55/0.60 → 0.60/0.65; q131 " +
      "0.55/0.60 → 0.58/0.62 — the half-trained frozen-rotation " +
      "append keeps a deliberate notch under the full-trained " +
      "floors). ivf-pq floors remain below the other paths': " +
      "fixed-rerank ADC recall shrinks as the candidate pool grows — " +
      "the scale knob is the shortlist FRACTION; what the m-byte " +
      "codes buy is a 32x-smaller candidate scan than the float " +
      "corpus. The `ivf-pq-plain` rows keep the rotation-free " +
      "baseline on record so the OPQ lift stays auditable.")
    out("")
    out("| sf | method | params | recall | margin_hi | sec |")
    out("|---|---|---|---|---|---|")
    // the q98 watermark floors, ONE definition mirrored from the query
    // (Similarity.scala q98): recompute margins against what is gated
    // ivf-pq's floors (q126: ok 0.55 / hi 0.60) sit far below the other
    // paths' deliberately: the m-byte ADC ordering degrades with the
    // CANDIDATE-POOL-to-shortlist ratio on these near-uniform random
    // embeddings (PQ's textbook worst case — isotropic residuals carry
    // almost no per-subspace structure), measured 0.87 at sf0.01 but
    // 0.66 at sf0.1 for the same rerank=128. The scale knob is the
    // shortlist FRACTION, not depth; the gate uses the fixed-cost
    // config and a floor that holds at every test SF.
    val watermark = Map("lsh" -> 0.75, "ivf" -> 0.78, "ivf-sq8" -> 0.78,
      "ivf-pq" -> 0.65, "ivf-pq-plain" -> 0.65, "ivf-pq-app" -> 0.62)
    def marginOf(method: String, r: Double): String =
      f"${r - watermark(method)}%+.4f"
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val emb = Q.table(spark, dir, "embeddings").select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") % 10 === 0)
      val k = 10
      val brute = Ann.bruteTopK(emb, queries, k).select("q_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def recallOf(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
        val t0 = System.nanoTime()
        val hits = df.select("q_id", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        ((hits & brute).size.toDouble / brute.size,
          (System.nanoTime() - t0) / 1e9)
      }
      for (tables <- Seq(1, 8, 16); probes <- Seq(0, 1)) {
        val (r, s) = recallOf(
          Ann.annTopK(emb, queries, k, nPlanes = 8, probes = probes,
            tables = tables))
        out(f"| $sf | lsh | planes=8 probes=$probes tables=$tables | $r%.4f | ${marginOf("lsh", r)} | $s%.1f |")
      }
      for (nprobe <- Seq(8, 10, 12)) {
        val (r, s) = recallOf(
          Ann.ivfTopK(emb, queries, k, nlist = 16, nprobe = nprobe))
        out(f"| $sf | ivf | nlist=16 nprobe=$nprobe | $r%.4f | ${marginOf("ivf", r)} | $s%.1f |")
      }
      // kmeans seed jitter: the contract floor must survive centroid
      // variation, not just the one seed the query happens to use
      for (seed <- Seq(1L, 99L)) {
        val (r, s) = recallOf(
          Ann.ivfTopK(emb, queries, k, nlist = 16, nprobe = 8, seed = seed))
        out(f"| $sf | ivf | nlist=16 nprobe=8 seed=$seed | $r%.4f | ${marginOf("ivf", r)} | $s%.1f |")
      }
      // int8-scored shortlist (the 4x-smaller candidate read): recall
      // cost of scoring on codes before the exact shortlist re-rank
      for (rerank <- Seq(32, 64)) {
        val (r, s) = recallOf(Ann.ivfSq8TopK(
          emb, queries, k, nlist = 16, nprobe = 8, rerank = rerank))
        out(f"| $sf | ivf-sq8 | nlist=16 nprobe=8 rerank=$rerank | $r%.4f | ${marginOf("ivf-sq8", r)} | $s%.1f |")
      }
      // product-quantized shortlist (the 32x-smaller candidate read:
      // m bytes/vector): ADC ordering loses more than SQ8's per-value
      // int8, so the rerank depth is the knob that buys recall back.
      // The GATED config carries the OPQ rotation (opqIters=8); the
      // rotation-free baseline rides alongside so the lift is on
      // record.
      for (rerank <- Seq(32, 64, 128)) {
        val (r, s) = recallOf(Ann.ivfPqTopK(
          emb, queries, k, nlist = 16, nprobe = 8, rerank = rerank,
          opqIters = 8))
        out(f"| $sf | ivf-pq | nlist=16 nprobe=8 m=8 ksub=16 rerank=$rerank opq=8 | $r%.4f | ${marginOf("ivf-pq", r)} | $s%.1f |")
      }
      {
        val (r, s) = recallOf(Ann.ivfPqTopK(
          emb, queries, k, nlist = 16, nprobe = 8, rerank = 128))
        out(f"| $sf | ivf-pq-plain | nlist=16 nprobe=8 rerank=128 (no rotation) | $r%.4f | ${marginOf("ivf-pq-plain", r)} | $s%.1f |")
      }
      // seed jitter at the GATED config (nprobe=8 rerank=128 opq=8):
      // the q126 floor must survive centroid/codebook/rotation variation
      for (seed <- Seq(1L, 99L)) {
        val (r, s) = recallOf(Ann.ivfPqTopK(
          emb, queries, k, nlist = 16, nprobe = 8, rerank = 128,
          seed = seed, opqIters = 8))
        out(f"| $sf | ivf-pq | nlist=16 nprobe=8 rerank=128 opq=8 seed=$seed | $r%.4f | ${marginOf("ivf-pq", r)} | $s%.1f |")
      }
      // the APPEND path (q131's gate): quantizer+codebooks+rotation
      // train on the EVEN half only, the odd half arrives via
      // frozen-quantizer append — recall vs the full-corpus brute force
      // measures what a half-stale quantizer costs. q131's queries draw
      // from the APPENDED half (vec_id % 10 = 5), mirrored here.
      for (seed <- Seq(7L, 1L, 99L)) {
        val tmp = java.nio.file.Files
          .createTempDirectory(s"graft-tune-app-$sf-$seed")
        val name = s"tune_app_${sf.replace(".", "_")}_$seed"
        Ann.writePqIndex(emb.filter(col("vec_id") % 2 === 0), name,
          tmp.toString, seed = seed, opqIters = 8)
        Ann.appendToPqIndex(emb.filter(col("vec_id") % 2 === 1), name)
        val appQueries = emb.filter(col("vec_id") % 10 === 5)
        val appBrute = Ann.bruteTopK(emb, appQueries, k)
          .select("q_id", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val t0 = System.nanoTime()
        val hits = Ann.ivfPqProbe(spark, name, appQueries, k,
            nprobe = 8, rerank = 128).select("q_id", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val r = (hits & appBrute).size.toDouble / appBrute.size
        val s = (System.nanoTime() - t0) / 1e9
        out(f"| $sf | ivf-pq-app | half-trained nprobe=8 rerank=128 opq=8 seed=$seed | $r%.4f | ${marginOf("ivf-pq-app", r)} | $s%.1f |")
        Seq("codes", "centroids", "vectors", "pq").foreach(t =>
          spark.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
      }
      // q138's gate: the SAME ivf config serving the SemDeDup-PRUNED
      // corpus (exact rule, τ = Similarity.SemDedupTau) — brute force
      // recomputed over the survivors, since that is the store the
      // composed embedding pipeline actually indexes
      {
        graft.functions.VectorFunctions.register(spark)
        val prunedIds = graft.operators.Similarity
          .tiledPairSims(spark, Q.table(spark, dir, "embeddings"))
          .filter(col("sim") >= graft.operators.Similarity.SemDedupTau)
          .select(col("vb").as("vec_id")).distinct()
        val survivors = emb.join(prunedIds, Seq("vec_id"), "left_anti")
          .persist()
        val sQueries = survivors.filter(col("vec_id") % 10 === 0)
        val sBrute = Ann.bruteTopK(survivors, sQueries, k)
          .select("q_id", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        for (seed <- Seq(7L, 1L, 13L)) {
          val t0 = System.nanoTime()
          val hits = Ann.ivfTopK(survivors, sQueries, k, nlist = 16,
              nprobe = 8, seed = seed)
            .select("q_id", "vec_id")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          val r = (hits & sBrute).size.toDouble / sBrute.size
          val s = (System.nanoTime() - t0) / 1e9
          out(f"| $sf | ivf-pruned | q138 semdedup survivors nprobe=8 seed=$seed | $r%.4f | ${marginOf("ivf", r)} | $s%.1f |")
        }
        survivors.unpersist()
      }
    }

    // Cell balance behind q122's balance_ok bit (contract: max cell ≤
    // 4× mean, i.e. balance ≤ 4.00): measured here per SF and seed so
    // the registered bound is an audited margin like the recall floors.
    out("")
    out("## IVF cell balance (q122 balance_ok margin; contract bound 4.00)")
    out("")
    out("| sf | seed | nlist | cells_used | max_occ | balance (max/mean) |")
    out("|---|---|---|---|---|---|")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val emb = Q.table(spark, dir, "embeddings").select("vec_id", "embedding")
      import org.apache.spark.ml.functions.array_to_vector
      val featured = emb.withColumn("features", array_to_vector(col("embedding")))
      for (seed <- Seq(1L, 7L, 99L)) {
        val model = Ann.coarseQuantizer(emb, nlist = 16, seed = seed)
        val r = model.transform(featured)
          .groupBy(col("prediction")).agg(count(lit(1)).as("occ"))
          .agg(count(lit(1)), max(col("occ")), sum(col("occ"))).head()
        val (cells, maxOcc, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
        out(f"| $sf | $seed | 16 | $cells | $maxOcc | ${maxOcc * 16.0 / n}%.2f |")
      }
    }

    java.nio.file.Files.write(
      java.nio.file.Paths.get("ANN_TUNING.md"),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
