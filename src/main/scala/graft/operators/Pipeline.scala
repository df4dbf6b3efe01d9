package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions
import Q._

/** The composed corpus-build pipeline (LLM-data-pipeline extension
  * surface, SURVEY §2B Q100): the end-to-end flow a training-data run
  * executes, expressed as ONE declarative DataFrame plan —
  *
  *   1. quality gate        (q91's integer-exact thresholds)
  *   2. exact dedup         (q22's min-doc_id survivor per text)
  *   3. near-dup removal    (q83: LSH → exact-Jaccard verify →
  *                           connected components → canonical survivor)
  *   4. decontamination     (q96: drop eval stand-ins + docs sharing
  *                           ≥ 5 shingles with any of them)
  *   5. split report        (q46's md5 hash split; per-(split, lang)
  *                           doc and token counts)
  *
  * Every stage reuses the standalone query's helper, so the composed
  * semantics can never drift from the per-stage contracts
  * ([[TextAnalysis.qualitySignals]], [[Dedup.shingledOf]],
  * [[Dedup.verifiedPairsOf]], [[Dedup.minLabelPropagate]]).
  *
  * Stage order is the 100 TB cost order: the row-local quality gate
  * prunes before anything shuffles; exact dedup (one hash shuffle)
  * shrinks the corpus before the LSH index is built; near-dup removal
  * runs before the decontamination join so the shingle-keyed overlap
  * scan sees only survivors; the split is a map-only projection last.
  * No stage introduces a plan shape beyond its standalone query's —
  * bucketed/skinny joins throughout, no all-pairs work outside
  * verified LSH buckets, CC fail-loud at the fixpoint cap.
  *
  * The survivor-set shingle table is built once and persisted: the
  * near-dup verify join (both sides) and the decontamination corpus
  * side all read it, so the CPU-bound shingling of the deduped corpus
  * runs once. The eval stand-in side re-shingles the RAW table because
  * an eval set is external input — its membership must not depend on
  * what the cleaning stages upstream removed.
  */
object Pipeline {

  val defs: Seq[(String, QueryDef)] = Seq(

    "q100_corpus_pipeline" -> QueryDef(
      (s, dir) => {
        HashFunctions.register(s)
        val docs = table(s, dir, "documents")
        // 1. quality gate — q91's predicate verbatim (integer-exact)
        val q1 = TextAnalysis.qualitySignals(docs)
          .filter(col("n_tokens") >= 10 &&
            col("n_stop") * 10 <= col("n_tokens") * 3 &&
            col("n_chars_ns") <= col("n_tokens") * 8)
          .select(col("doc_id"), col("lang"), col("text"), col("n_tokens"))
        // 2. exact dedup — min-doc_id survivor per distinct text; lang
        // and n_tokens ride along (n_tokens is a function of text, so
        // min() is just "the" value)
        // persisted: s2 feeds the shingle table below AND the s3/s4
        // survivor chain of the final action — uncached, the tokenizing
        // quality gate plus the full-text dedup shuffle ran TWICE per
        // pass (once under sh2's materialization, once in the final
        // collect). The persist holds the post-dedup corpus, strictly
        // smaller than the sh2 gram table already cached here.
        val s2 = q1.groupBy("text").agg(
          min("doc_id").as("doc_id"),
          min_by(col("lang"), col("doc_id")).as("lang"),
          min("n_tokens").as("n_tokens"))
          .managedPersist
        // 3. near-dup removal over the deduped survivors: one shingle
        // pass feeds LSH candidates, the verify join, and stage 4
        val sh2 = Dedup.shingledOf(s, s2)
          .managedPersist
        // persisted: the bloom-build action and the exact join both
        // read the bench gram stream — shingle the stand-ins once.
        // Filter BEFORE shingling: the stand-ins are 2 % of the corpus
        // and shingling is row-local, so tokenizing the other 98 % for
        // this branch was pure waste (r18; the filter did not push
        // through the spread exchange on its own)
        val benchSh = Dedup.shingledOf(s,
            docs.filter(col("doc_id") % 50 === 0))
          .select(col("doc_id").as("bench_id"), explode(col("sh")).as("g"))
          .managedPersist
        // 4 (decision, hoisted). decontamination — q96 semantics: eval
        // stand-ins (doc_id % 50 = 0) leave the corpus, and any
        // survivor sharing ≥ 5 shingles with a single stand-in is
        // contaminated. The contamination DECISION is computed over
        // the stage-2 survivors (a superset of stage 3's): whether a
        // doc shares ≥ 5 grams with a stand-in depends only on its own
        // grams, so deciding it for a few extra near-dup docs changes
        // nothing — the final anti-join against s4a drops rows only on
        // doc_id match, and for every s4a doc the verdict is the same
        // as the old s4a-restricted scan (r18). What the superset buys
        // is INDEPENDENCE from stage 3: the whole gram-join stage now
        // runs on a driver thread concurrently with the CC fixpoint
        // below (guide §2.6), whose small sequential rounds leave the
        // executors idle — before, stage 4 could not even start until
        // the fixpoint's last round, and it was the critical path of
        // the final collect.
        //
        // Bloom pre-filter (semantics-preserving, q101's shared
        // [[Dedup.gramBloom]]/[[Dedup.bloomHitDocs]] machinery): a
        // survivor with < 5 bloom hits against the eval gram UNION
        // cannot share ≥ 5 grams with any single stand-in — its grams
        // are distinct, all shared grams are in the union, and blooms
        // have no false negatives. So the exact per-bench-doc join only
        // reads plausibly-contaminated docs; at 100 TB this turns the
        // stage from a full corpus-gram shuffle into a map-only probe
        // plus a small join, with the hashed output provably unchanged.
        // The bloom build (one agg job over the eval grams) runs first
        // in the same overlapped body, so its scan too backfills the
        // executors the fixpoint's small sequential rounds leave idle;
        // failures rethrow at the join below.
        val contFut = Q.async(s) {
          val bloom = Dedup.gramBloom(benchSh.select("g").distinct())
          val corpusSh = sh2.filter(col("doc_id") % 50 =!= 0)
            .select(col("doc_id"), explode(col("sh")).as("g"))
          val plausible = Dedup.bloomHitDocs(corpusSh, bloom, minHits = 5)
          corpusSh
            .join(plausible, Seq("doc_id"), "left_semi")
            .join(benchSh, "g")
            .groupBy("doc_id", "bench_id")
            .agg(count(lit(1)).as("n_shared"))
            .filter(col("n_shared") >= 5)
            .select("doc_id").distinct()
            // eager: materialized on this thread, during the fixpoint
            .localCheckpoint(true)
        }
        val removed = Dedup
          .minLabelPropagate(Dedup.verifiedPairsOf(sh2).select("da", "db"))
          .filter(col("v") =!= col("lbl"))
          .select(col("v").as("doc_id"))
        val s3 = s2.join(removed, Seq("doc_id"), "left_anti")
        val s4a = s3.filter(col("doc_id") % 50 =!= 0)
        val s4 = s4a.join(contFut.join(), Seq("doc_id"), "left_anti")
        // 5. split report — q46's md5 hash split, exact token sums
        val hex = substring(md5(col("doc_id").cast("string")), 1, 1)
        s4
          .withColumn("split",
            when(hex.isin("c", "d"), "val")
              .when(hex.isin("e", "f"), "test")
              .otherwise("train"))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
          .orderBy("split", "lang")
      },
      Some(s"""WITH RECURSIVE
              f AS (SELECT doc_id, lang, text,
                  list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> '') AS toks,
                  CAST(LENGTH(regexp_replace(text, '\\s', '', 'g'))
                    AS BIGINT) AS nc
                FROM documents),
              g AS (SELECT doc_id, lang, text,
                  CAST(LEN(toks) AS BIGINT) AS nt,
                  CAST(LEN(list_filter(toks,
                    x -> x IN (${TextAnalysis.stopwordsSql}))) AS BIGINT)
                    AS ns, nc
                FROM f),
              q1 AS (SELECT doc_id, lang, text, nt FROM g
                WHERE nt >= 10 AND ns * 10 <= nt * 3 AND nc <= nt * 8),
              s2 AS (SELECT MIN(doc_id) AS doc_id,
                  arg_min(lang, doc_id) AS lang, text, MIN(nt) AS nt
                FROM q1 GROUP BY text),
              sh2 AS (SELECT doc_id, list_distinct(
                  [array_to_string(t[i:i+2], ' ')
                   for i in range(1, len(t)-1)]) AS s
                FROM (SELECT doc_id,
                    list_filter(string_split_regex(text, '\\s+'),
                      x -> x <> '') AS t
                  FROM s2) z WHERE len(t) >= 3),
              pgx AS MATERIALIZED (SELECT doc_id, UNNEST(s) AS g
                FROM sh2),
              pln AS MATERIALIZED (SELECT doc_id, len(s) AS ls FROM sh2),
              p AS (SELECT c.da, c.db
                FROM (SELECT a.doc_id AS da, b.doc_id AS db,
                    COUNT(*) AS i
                  FROM pgx a JOIN pgx b
                    ON a.g = b.g AND a.doc_id < b.doc_id
                  GROUP BY 1, 2) c
                JOIN pln la ON la.doc_id = c.da
                JOIN pln lb ON lb.doc_id = c.db
                WHERE CAST(c.i AS DOUBLE) /
                    (la.ls + lb.ls - c.i) >= 0.8),
              edges AS (SELECT da AS a, db AS b FROM p
                        UNION SELECT db, da FROM p),
              reach AS (SELECT a, a AS b
                          FROM (SELECT DISTINCT a FROM edges) n
                        UNION
                        SELECT r.a, e.b
                          FROM reach r JOIN edges e ON r.b = e.a),
              labels AS (SELECT a AS doc_id, MIN(b) AS cluster_id
                         FROM reach GROUP BY a),
              s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN
                (SELECT doc_id FROM labels WHERE doc_id <> cluster_id)),
              s4a AS (SELECT * FROM s3 WHERE doc_id % 50 <> 0),
              bsh AS (SELECT doc_id AS bench_id, UNNEST(list_distinct(
                  [array_to_string(t[i:i+2], ' ')
                   for i in range(1, len(t)-1)])) AS grm
                FROM (SELECT doc_id,
                    list_filter(string_split_regex(text, '\\s+'),
                      x -> x <> '') AS t
                  FROM documents WHERE doc_id % 50 = 0) z
                WHERE len(t) >= 3),
              csh AS (SELECT doc_id, UNNEST(s) AS grm FROM sh2
                WHERE doc_id IN (SELECT doc_id FROM s4a)),
              cont AS (SELECT DISTINCT doc_id FROM (
                  SELECT c.doc_id, b.bench_id, COUNT(*) AS n_shared
                  FROM csh c JOIN bsh b USING (grm) GROUP BY 1, 2
                  HAVING COUNT(*) >= 5) zz),
              s4 AS (SELECT * FROM s4a WHERE doc_id NOT IN
                (SELECT doc_id FROM cont))
              SELECT CASE
                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                    IN ('c', 'd') THEN 'val'
                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                    IN ('e', 'f') THEN 'test'
                  ELSE 'train' END AS split, lang,
                COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
              FROM s4 GROUP BY 1, 2 ORDER BY split, lang""")),

    // Filter-funnel monitor: per-stage docs_in/docs_out/removed counts
    // for the deterministic gate cascade — quality (q91's predicate) →
    // repetition (q97's integer rule) → exact dedup (q22's min-doc_id
    // survivor) → decontamination (q96 semantics). q100 reports the
    // corpus the pipeline SHIPS; this reports what each stage COSTS —
    // the ops dashboard row a corpus build publishes per run (a stage
    // whose removal rate jumps between ingests is the first sign of a
    // crawl regression or a broken gate). Every stage bit reuses the
    // standalone query's semantics so the monitor can't drift from the
    // gates it monitors. Plan shape: the gate bits are row-local in ONE
    // corpus pass; the dedup survivor bit is one window over text among
    // gate survivors; the decontamination bit joins only stage-3
    // survivors' shingles against the eval stand-ins (at 100 TB the
    // q100/q101 bloom pre-filter drops in front of that join
    // unchanged); the funnel itself aggregates to a single row of
    // counters exploded into 4 stage rows — no stage count requires a
    // separate corpus scan. Near-dup removal (q83's CC machinery) is
    // deliberately not a funnel stage: its cluster survivors are
    // monitored by q45/q94 and its cost profile belongs to q100.
    "q121_filter_funnel" -> QueryDef(
      (s, dir) => {
        HashFunctions.register(s)
        val docs = table(s, dir, "documents")
        val gated = TextAnalysis.qualitySignals(docs)
          .withColumn("n_grams", (col("n_tokens") - 2).cast("long"))
          .withColumn("n_distinct",
            size(expr("graft_shingles(text, 3)")).cast("long"))
          .withColumn("s1",
            (col("n_tokens") >= 10 &&
              col("n_stop") * 10 <= col("n_tokens") * 3 &&
              col("n_chars_ns") <= col("n_tokens") * 8).cast("long"))
          .withColumn("s2",
            (col("s1") === 1 &&
              !(col("n_distinct") * 100 < col("n_grams") * 98))
              .cast("long"))
          .withColumn("s3",
            (col("s2") === 1 && col("doc_id") ===
              min(when(col("s2") === 1, col("doc_id")))
                .over(Window.partitionBy("text"))).cast("long"))
          .select("doc_id", "text", "s1", "s2", "s3")
          .managedPersist
        val s3docs = gated.filter(col("s3") === 1).select("doc_id", "text")
        val corpusSh = Dedup.shingledOf(s, s3docs)
          .select(col("doc_id"), explode(col("sh")).as("g"))
        val benchSh = Dedup.shingledOf(s, docs)
          .filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("bench_id"), explode(col("sh")).as("g"))
        val contaminated = corpusSh.join(benchSh, "g")
          .groupBy("doc_id", "bench_id")
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 5)
          .select("doc_id").distinct()
          .withColumn("cont", lit(1L))
        val c = gated.join(contaminated, Seq("doc_id"), "left")
          .withColumn("s4",
            (col("s3") === 1 && col("doc_id") % 50 =!= 0 &&
              col("cont").isNull).cast("long"))
          .agg(count(lit(1)).as("c0"), sum("s1").as("c1"),
            sum("s2").as("c2"), sum("s3").as("c3"), sum("s4").as("c4"))
        c.select(explode(array(
            struct(lit(1L).as("stage"), lit("quality").as("name"),
              col("c0").as("docs_in"), col("c1").as("docs_out")),
            struct(lit(2L).as("stage"), lit("repetition").as("name"),
              col("c1").as("docs_in"), col("c2").as("docs_out")),
            struct(lit(3L).as("stage"), lit("exact_dedup").as("name"),
              col("c2").as("docs_in"), col("c3").as("docs_out")),
            struct(lit(4L).as("stage"), lit("decontamination").as("name"),
              col("c3").as("docs_in"), col("c4").as("docs_out"))))
            .as("r"))
          .select(col("r.stage").as("stage"), col("r.name").as("name"),
            col("r.docs_in").as("docs_in"), col("r.docs_out").as("docs_out"),
            (col("r.docs_in") - col("r.docs_out")).as("removed"))
          .orderBy("stage")
      },
      Some(s"""WITH f AS (SELECT doc_id, text,
                  list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> '') AS toks,
                  CAST(LENGTH(regexp_replace(text, '\\s', '', 'g'))
                    AS BIGINT) AS nc
                FROM documents),
              g AS (SELECT doc_id, text,
                  CAST(LEN(toks) AS BIGINT) AS nt,
                  CAST(LEN(list_filter(toks,
                    x -> x IN (${TextAnalysis.stopwordsSql}))) AS BIGINT)
                    AS ns, nc,
                  CAST(LEN(list_distinct(
                    [array_to_string(toks[i:i+2], ' ')
                     for i in range(1, len(toks) - 1)])) AS BIGINT) AS nd
                FROM f),
              b AS (SELECT doc_id, text,
                  CASE WHEN nt >= 10 AND ns * 10 <= nt * 3
                    AND nc <= nt * 8 THEN 1 ELSE 0 END AS s1,
                  nt - 2 AS ng, nd
                FROM g),
              b2 AS (SELECT doc_id, text, s1,
                  CASE WHEN s1 = 1 AND NOT (nd * 100 < ng * 98)
                    THEN 1 ELSE 0 END AS s2
                FROM b),
              b3 AS (SELECT doc_id, text, s1, s2,
                  CASE WHEN s2 = 1 AND doc_id =
                    MIN(CASE WHEN s2 = 1 THEN doc_id END)
                      OVER (PARTITION BY text) THEN 1 ELSE 0 END AS s3
                FROM b2),
              csh AS (SELECT doc_id, UNNEST(list_distinct(
                  [array_to_string(t[i:i+2], ' ')
                   for i in range(1, len(t) - 1)])) AS grm
                FROM (SELECT doc_id,
                    list_filter(string_split_regex(text, '\\s+'),
                      x -> x <> '') AS t
                  FROM b3 WHERE s3 = 1) z WHERE len(t) >= 3),
              bsh AS (SELECT doc_id AS bench_id, UNNEST(list_distinct(
                  [array_to_string(t[i:i+2], ' ')
                   for i in range(1, len(t) - 1)])) AS grm
                FROM (SELECT doc_id,
                    list_filter(string_split_regex(text, '\\s+'),
                      x -> x <> '') AS t
                  FROM documents WHERE doc_id % 50 = 0) z
                WHERE len(t) >= 3),
              cont AS (SELECT DISTINCT doc_id FROM (
                  SELECT c.doc_id, b.bench_id, COUNT(*) AS n_shared
                  FROM csh c JOIN bsh b USING (grm) GROUP BY 1, 2
                  HAVING COUNT(*) >= 5) zz),
              b4 AS (SELECT doc_id, s1, s2, s3,
                  CASE WHEN s3 = 1 AND doc_id % 50 <> 0 AND doc_id NOT IN
                    (SELECT doc_id FROM cont) THEN 1 ELSE 0 END AS s4
                FROM b3),
              t AS (SELECT COUNT(*) AS c0, SUM(s1) AS c1, SUM(s2) AS c2,
                  SUM(s3) AS c3, SUM(s4) AS c4 FROM b4)
              SELECT stage, name, docs_in, docs_out,
                docs_in - docs_out AS removed
              FROM (
                SELECT 1 AS stage, 'quality' AS name,
                  CAST(c0 AS BIGINT) AS docs_in,
                  CAST(c1 AS BIGINT) AS docs_out FROM t
                UNION ALL SELECT 2, 'repetition', CAST(c1 AS BIGINT),
                  CAST(c2 AS BIGINT) FROM t
                UNION ALL SELECT 3, 'exact_dedup', CAST(c2 AS BIGINT),
                  CAST(c3 AS BIGINT) FROM t
                UNION ALL SELECT 4, 'decontamination', CAST(c3 AS BIGINT),
                  CAST(c4 AS BIGINT) FROM t) u
              ORDER BY stage""")),

    // The composed EMBEDDING-STORE build — q100's sibling for the
    // vector side of a training-data run, as ONE declarative plan:
    //
    //   1. semantic dedup   (q135's EXACT rule — prune any vector with
    //                        a smaller-id neighbor at cosine ≥ τ; the
    //                        oracle recomputes the survivor count from
    //                        every pair, so this stage is hash-exact)
    //   2. quantization QA  (q105's int8 contract bits over the
    //                        SURVIVORS — the 4× compression gate every
    //                        embedding store applies before write-out)
    //   3. ANN index gate   (q98's recall contract on the PRUNED
    //                        corpus: brute-force top-10 vs IVF nprobe=8
    //                        — the index a downstream retrieval run
    //                        actually serves; floors 0.70 / 0.78
    //                        watermark, measured 0.82–0.93 across
    //                        SFs × seeds {7,1,13}, default-seed worst
    //                        0.8214 at sf0.1 — the same margin
    //                        discipline as q98's, and pruning
    //                        near-identical distractors keeps the
    //                        band at or above the unpruned one)
    //
    // Stage order is the store-build cost order: the prune shrinks the
    // corpus before quantization or index training reads it, and the
    // recall gate certifies exactly the index that ships. Scale notes:
    // stage 1 rides q27's B×B tiling here (the exact baseline IS the
    // declared semantics); at 100 TB swap [[Similarity
    // .semDedupPrunedCellLocal]] in — same τ, same arithmetic, pruned
    // ⊆ exact (suite-asserted) — and the IVF fit already trains on a
    // bounded hash-order sample regardless of corpus size.
    "q138_embedding_pipeline" -> QueryDef(
      (s, dir) => {
        graft.functions.VectorFunctions.register(s)
        import graft.functions.VectorFunctions._
        val emb = table(s, dir, "embeddings")
        val pruned = Similarity.tiledPairSims(s, emb)
          .filter(col("sim") >= Similarity.SemDedupTau)
          .select(col("vb").as("vec_id")).distinct()
        val survivors = emb.join(pruned, Seq("vec_id"), "left_anti")
          .select("vec_id", "embedding")
          .managedPersist
        // q105's arithmetic verbatim: scale = max|x|, q = round(127x/s),
        // bits hold structurally — a quantizer regression flips them
        val x = col("embedding")
        val scale = coalesce(
          array_max(transform(x, v => abs(v.cast("double")))), lit(0d))
        val qa = survivors.withColumn("scale", scale)
          .withColumn("q", transform(x, v =>
            when(col("scale") > 0d,
              round(v.cast("double") * 127d / col("scale"))).otherwise(0d)))
          .withColumn("max_abs_q", aggregate(col("q"), lit(0d),
            (acc, v) => greatest(acc, abs(v))))
          .withColumn("max_err", aggregate(
            zip_with(x, col("q"), (v, qi) =>
              when(col("scale") > 0d,
                abs(v.cast("double") - qi * col("scale") / 127d))
                .otherwise(0d)),
            lit(0d), (acc, v) => greatest(acc, v)))
          .agg(count(lit(1)).as("n_survivors"),
            min((col("max_abs_q") <= 127d).cast("long")).as("qmax_ok"),
            min((col("max_err") <= col("scale") / 254d + 1e-9)
              .cast("long")).as("recon_ok"))
        val queries = survivors.filter(col("vec_id") % 10 === 0)
        val brute = Ann.bruteTopK(survivors, queries, 10)
          .select("q_id", "vec_id").managedPersist
        // memoize the coarse fit on the survivors frame (the q98
        // discipline, r18): untreated, every pass re-ran ~25
        // driver-sequential KMeans jobs — half the query's wall
        val ivfHit = brute.join(
          Ann.ivfTopK(survivors, queries, 10, nlist = 16, nprobe = 8,
            quantizer = Some(Ann.coarseFitMemoOn(s, dir,
              "q138_survivors", survivors, nlist = 16)))
            .select("q_id", "vec_id"),
          Seq("q_id", "vec_id"), "left_semi")
        emb.agg(count(lit(1)).as("n_vecs"))
          .crossJoin(qa)
          .crossJoin(brute.agg(count(lit(1)).as("n_exact")))
          .crossJoin(ivfHit.agg(count(lit(1)).as("n_ivf")))
          .select(col("n_vecs"), col("n_survivors"),
            col("qmax_ok"), col("recon_ok"),
            (col("n_ivf") >= col("n_exact") * lit(0.70))
              .cast("long").as("ivf_recall_ok"),
            (col("n_ivf") >= col("n_exact") * lit(0.78))
              .cast("long").as("ivf_recall_hi"))
      },
      Some("""WITH n AS (SELECT vec_id, embedding,
                  (SELECT SUM(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE))
                   FROM UNNEST(embedding) AS u(x)) AS nsq
                FROM embeddings),
              pr AS (SELECT DISTINCT b.vec_id
                FROM n a JOIN n b ON a.vec_id < b.vec_id
                WHERE ROUND(
                    (SELECT SUM(CAST(z.x AS DOUBLE) * CAST(z.y AS DOUBLE))
                     FROM (SELECT UNNEST(a.embedding) AS x,
                                  UNNEST(b.embedding) AS y) z)
                    / (SQRT(a.nsq) * SQRT(b.nsq)), 4) >= 0.4)
              SELECT (SELECT COUNT(*) FROM embeddings) AS n_vecs,
                (SELECT COUNT(*) FROM embeddings
                 WHERE vec_id NOT IN (SELECT vec_id FROM pr))
                  AS n_survivors,
                CAST(1 AS BIGINT) AS qmax_ok,
                CAST(1 AS BIGINT) AS recon_ok,
                CAST(1 AS BIGINT) AS ivf_recall_ok,
                CAST(1 AS BIGINT) AS ivf_recall_hi""")),

    // Output-shard planning — the last step of a corpus release: pack
    // documents, in deterministic doc_id order, into ~equal-size output
    // shards (the files a training loader streams). Assignment is the
    // streaming bin-pack rule: shard(doc) = floor(bytes_before / target)
    // where bytes_before is the exclusive prefix sum of n_chars in
    // doc_id order — every doc lands in exactly one shard and a shard
    // overflows by at most one document, so shard sizes are
    // target ≤ size < target + max_doc (no doc is ever split).
    //
    // The prefix sum is the part worth doing right at 100 TB: a naive
    // `SUM OVER (ORDER BY doc_id)` with no PARTITION BY collapses the
    // corpus onto ONE task. Instead the classic two-level scan:
    // range-partition by doc_id, (1) partition-LOCAL running sums (one
    // window per partition, parallel), (2) per-partition totals — a
    // #partitions-row frame — prefix-summed on the driver-scale side
    // and broadcast back as each partition's offset. Global prefix sum
    // = local cumsum + partition offset, invariant to where the range
    // boundaries fall (repartitionByRange samples boundaries;
    // correctness never depends on them). Same decomposition as the
    // manifest's zipWithIndex enumeration (SURVEY §2A-O4), generalized
    // to weighted sums.
    "q139_shard_plan" -> QueryDef(
      (s, dir) => {
        shardAssigned(s, dir)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("shard_chars"),
            min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
          .orderBy("shard")
      },
      Some("""WITH c AS (SELECT doc_id, n_chars,
                  SUM(n_chars) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS cum_end
                FROM documents)
              SELECT CAST((cum_end - n_chars) // 65536 AS BIGINT) AS shard,
                COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
                MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
              FROM c GROUP BY 1 ORDER BY shard""")),

    // Release-manifest checksums — q139 says WHERE each doc goes; this
    // is the reproducibility artifact shipped WITH the shards: per
    // shard, an md5 over the comma-joined doc_id list in id order. Two
    // independently-built releases (different cluster, different
    // partitioning) must produce byte-identical manifests, or a
    // training run can't prove it read the corpus the release notes
    // describe — the same partitioning-invariance contract the shard
    // rule itself carries (suite-asserted for q139). Plan: the shard
    // assignment reuses q139's two-level prefix sum (no global-window
    // collapse); the per-shard id list is bounded by target/min-doc
    // bytes (a shard holds at most ~target/|smallest doc| ids), so the
    // collect+join inside each shard group is a bounded row, not a
    // corpus-sized concat.
    // Deterministic weighted SYSTEMATIC sampling (the survey-sampling
    // classic, randomness-free by construction): lay the corpus out on
    // a char-weighted number line in declared ingest order (doc_id
    // asc), cut it every `step = total_chars div target` chars, and
    // admit every document whose weight interval crosses a cut — the
    // standard way to draw a size-proportional corpus sample that (a)
    // needs no RNG (reproducible releases, q151's manifest argument),
    // (b) gives every document inclusion probability proportional to
    // its mass, and (c) spreads picks evenly across the corpus instead
    // of clustering like a hash sample (q107) can. A document heavier
    // than the stride crosses several cuts; its multiplicity is
    // reported (`strides` — with-replacement semantics declared).
    // Plan at 100 TB: the cumulative position reuses q139's two-level
    // prefix sum (per-range-partition local windows + a ≤16-row offset
    // frame — no global-window collapse); the cut test is a map-only
    // integer comparison.
    // The DATA CARD (Gebru et al. 2021's datasheet, the per-release
    // numbers section): one row per lang with the headline statistics
    // every release ships — volume (docs / exact tokens / non-space
    // chars), exact-duplicate rate (docs minus distinct texts, the
    // q22 rule as a RATE), the q91 quality-gate survival rate, floor
    // mean document length, and the dominant source with its share
    // (concentration — the q111-cap audit number). One query a release
    // manager pastes into the model card instead of running five. All
    // rates half-up bp on exact integer counts. Plan at 100 TB: one
    // corpus pass computes the per-doc signals map-only; the per-lang
    // rollup is a partial agg (countDistinct(text) is the one
    // heavyweight — exactly q22's hash shuffle, unavoidable for an
    // EXACT dup rate); the top-source pick windows only the
    // |lang × source|-bounded cell frame.
    "q200_data_card" -> QueryDef(
      (s, dir) => {
        val sig = TextAnalysis.qualitySignals(table(s, dir, "documents"))
          .withColumn("pass",
            (col("n_tokens") >= 10 &&
              col("n_stop") * 10 <= col("n_tokens") * 3 &&
              col("n_chars_ns") <= col("n_tokens") * 8).cast("long"))
        // distinct over md5(text), not text: the count is identical
        // (distinct digests = distinct texts) and the distinct shuffle
        // moves 32-hex keys instead of document bodies — at 100 TB
        // that's the difference between shuffling the corpus and
        // shuffling ~0.1% of it
        val byLang = sig.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum("n_chars_ns").as("n_chars_ns"),
          (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dup"),
          sum("pass").as("n_pass"))
        val wS = Window.partitionBy("lang")
          .orderBy(desc("sc"), col("source"))
        val topSource = sig.groupBy("lang", "source")
          .agg(count(lit(1)).as("sc"))
          .withColumn("rk", row_number().over(wS))
          .filter(col("rk") === 1)
          .select(col("lang"), col("source").as("top_source"),
            col("sc"))
        byLang.join(topSource, "lang")
          .select(col("lang"), col("n_docs"), col("n_tokens"),
            col("n_chars_ns"),
            expr("(20000 * n_dup + n_docs) div (2 * n_docs)")
              .as("dup_bp"),
            expr("(20000 * n_pass + n_docs) div (2 * n_docs)")
              .as("quality_bp"),
            expr("n_tokens div n_docs").as("mean_tokens"),
            col("top_source"),
            expr("(20000 * sc + n_docs) div (2 * n_docs)")
              .as("top_source_bp"))
          .orderBy("lang")
      },
      Some(s"""WITH g AS (SELECT lang, source, text,
                  CAST(LEN(t) AS BIGINT) AS nt,
                  CAST(LENGTH(regexp_replace(text, '\\s', '', 'g'))
                    AS BIGINT) AS nc,
                  CAST(LEN(list_filter(t,
                    x -> x IN (${TextAnalysis.stopwordsSql})))
                    AS BIGINT) AS ns
                FROM (SELECT lang, source, text,
                    list_filter(string_split_regex(text, '\\s+'),
                      x -> x <> '') AS t
                  FROM documents) z),
              p AS (SELECT lang, source, text, nt, nc,
                  CASE WHEN nt >= 10 AND ns * 10 <= nt * 3
                    AND nc <= nt * 8 THEN 1 ELSE 0 END AS pass
                FROM g),
              byl AS (SELECT lang, COUNT(*) AS n_docs,
                  CAST(SUM(nt) AS BIGINT) AS n_tokens,
                  CAST(SUM(nc) AS BIGINT) AS n_chars_ns,
                  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
                    AS n_dup,
                  CAST(SUM(pass) AS BIGINT) AS n_pass
                FROM p GROUP BY 1),
              tops AS (SELECT lang, source AS top_source, sc FROM (
                  SELECT lang, source, COUNT(*) AS sc,
                    ROW_NUMBER() OVER (PARTITION BY lang
                      ORDER BY COUNT(*) DESC, source) AS rk
                  FROM p GROUP BY lang, source) z
                WHERE rk = 1)
              SELECT byl.lang, n_docs, n_tokens, n_chars_ns,
                CAST((20000 * n_dup + n_docs) // (2 * n_docs) AS BIGINT)
                  AS dup_bp,
                CAST((20000 * n_pass + n_docs) // (2 * n_docs) AS BIGINT)
                  AS quality_bp,
                CAST(n_tokens // n_docs AS BIGINT) AS mean_tokens,
                top_source,
                CAST((20000 * sc + n_docs) // (2 * n_docs) AS BIGINT)
                  AS top_source_bp
              FROM byl JOIN tops ON tops.lang = byl.lang
              ORDER BY byl.lang""")),

    "q197_systematic_sample" -> QueryDef(
      (s, dir) => {
        val target = 128L
        // the running offsets are the one Q.twoLevelPrefix definition
        // (range width tracks defaultParallelism, offsets bounded)
        val docs = Q.twoLevelPrefix(
          table(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("n_chars")),
          groupCols = Nil, orderCols = Seq(col("doc_id")),
          valueCol = "n_chars")
          .managedPersist
        // coalesce: the bandOccupancyStats guard class — an empty
        // corpus sums to NULL and getLong would NPE instead of
        // returning the empty sample the oracle returns
        val tot = docs.agg(coalesce(sum("n_chars"), lit(0L)).as("m"))
          .head().getLong(0)
        val step = math.max(1L, tot / target)
        docs
          // integer stride arithmetic: `/` on long Columns is DOUBLE
          .withColumn("strides",
            expr(s"(cum_before + n_chars) div $step - " +
              s"cum_before div $step"))
          .filter(col("strides") >= 1)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            col("cum_before"), col("strides"))
          .orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT doc_id, lang, n_chars,
                  SUM(n_chars) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_chars AS cum_before
                FROM documents),
              t AS (SELECT GREATEST(1,
                  CAST((SELECT SUM(n_chars) FROM documents) AS BIGINT)
                    // 128) AS step)
              SELECT doc_id, lang, n_chars,
                CAST(cum_before AS BIGINT) AS cum_before,
                CAST((cum_before + n_chars) // step - cum_before // step
                  AS BIGINT) AS strides
              FROM c CROSS JOIN t
              WHERE (cum_before + n_chars) // step - cum_before // step >= 1
              ORDER BY doc_id""")),

    "q151_shard_manifest" -> QueryDef(
      (s, dir) => {
        shardAssigned(s, dir)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("shard_chars"),
            md5(array_join(transform(sort_array(collect_list(col("doc_id"))),
              x => x.cast("string")), ",")).as("manifest_md5"))
          .orderBy("shard")
      },
      Some("""WITH c AS (SELECT doc_id, n_chars,
                  SUM(n_chars) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS cum_end
                FROM documents)
              SELECT CAST((cum_end - n_chars) // 65536 AS BIGINT) AS shard,
                COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
                md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id))
                  AS manifest_md5
              FROM c GROUP BY 1 ORDER BY shard""")),

    // Pareto-front (skyline) document selection on length × lexical
    // diversity: keep every doc no other doc strictly beats on BOTH
    // token count and distinct-token count — the frontier a curation
    // pass keeps when it refuses to collapse two quality axes into one
    // weighted score. Naive skyline is all-pairs; this is the exact
    // two-phase form: (1) per-token-count max diversity via ONE groupBy
    // (key space = distinct token counts, bounded by the max doc length
    // at any corpus size), (2) the strictly-longer threshold as a
    // range-frame window over that bounded frame, (3) one join back,
    // keep docs whose diversity clears the threshold. No pair of docs
    // is ever formed; every stage is a shuffle on a real key.
    "q217_pareto_front" -> QueryDef(
      (s, dir) => {
        val words = split(trim(regexp_replace(lower(col("text")),
          "\\s+", " ")), " ")
        val d = table(s, dir, "documents")
          .select(col("doc_id"), size(words).cast("long").as("n_words"),
            size(array_distinct(words)).cast("long").as("n_distinct"))
        val thr = d.groupBy("n_words")
          .agg(max("n_distinct").as("mx"))
          .withColumn("thr", max("mx").over(Window.orderBy("n_words")
            .rangeBetween(1L, Window.unboundedFollowing)))
          .select("n_words", "thr")
        d.join(broadcast(thr), "n_words")
          .filter(col("thr").isNull || col("n_distinct") >= col("thr"))
          .select("doc_id", "n_words", "n_distinct")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id,
                  CAST(len(string_split(trim(regexp_replace(lower(text),
                    '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_words,
                  CAST(len(list_distinct(string_split(trim(
                    regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')))
                    AS BIGINT) AS n_distinct
                FROM documents)
              SELECT doc_id, n_words, n_distinct FROM d a
              WHERE NOT EXISTS (SELECT 1 FROM d b
                WHERE b.n_words > a.n_words
                  AND b.n_distinct > a.n_distinct)
              ORDER BY doc_id""")),

    // Shard-plan SKEW audit — the check a release runs on q139's
    // streaming bin-pack before writing: shard count, byte extremes,
    // max-over-mean skew in bp, and how many shards exceed 1.5× the
    // 64 KiB target (a shard can only overshoot when one document
    // straddles its boundary, so overshoot measures the doc-length
    // tail, and a pathological value means re-planning with a bigger
    // target). One groupBy over the assigned frame onto the shard key,
    // then a single-row rollup — the assignment itself reuses q139's
    // two-level prefix sum (no global window).
    // q250: shard SOURCE-DIVERSITY audit — the companion check to
    // q233's byte-skew on the same q139 streaming bin-pack: packing in
    // doc_id order silently inherits whatever source clustering the id
    // space carries, and a source-PURE shard is a training hazard (a
    // dataloader reading shards in sequence sees one source for a
    // whole shard's worth of steps). Per shard the Simpson diversity
    // of its source char-mix — 1 − Σpᵢ² in half-up bp, the LOG-FREE
    // diversity index (the q130 idiom: no entropy, no libm) — then ONE
    // corpus row: shard count, source-pure shard count (div_bp = 0),
    // min/mean diversity. Plan at 100 TB: the q139 skinny prefix sum
    // assigns shards, ONE (shard, source) partial agg + a shard-keyed
    // rollup + a 1-row reduce; the source column rides the skinny
    // frame for free (the q241 discipline). Overflow: tot ≈ 2¹⁷ chars
    // per 64 KiB shard ⇒ tot² ≈ 2³⁴ and 20000·tot² ≈ 2⁴⁸ — Long-safe
    // to shard targets of ~2²⁰ chars; re-derive before raising the
    // target past 1 MiB.
    "q250_shard_source_mix" -> QueryDef(
      (s, dir) => {
        val assigned = Q.twoLevelPrefix(
          table(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("n_chars")),
          groupCols = Nil, orderCols = Seq(col("doc_id")),
          valueCol = "n_chars")
          .withColumn("shard", expr("cum_before div 65536"))
        val perSrc = assigned.groupBy("shard", "source")
          .agg(sum("n_chars").as("cnt"))
        val perShard = perSrc.groupBy("shard")
          .agg(sum("cnt").as("tot"), sum(expr("cnt * cnt")).as("s2"))
          .select(col("shard"),
            expr("(2 * 10000 * (tot * tot - s2) + tot * tot)" +
              " div (2 * tot * tot)").as("div_bp"))
        perShard.agg(count(lit(1)).as("n_shards"),
          sum(when(col("div_bp") === 0, 1L).otherwise(0L))
            .as("n_pure_shards"),
          min("div_bp").as("min_div_bp"),
          sum("div_bp").as("dsum"))
          .select(col("n_shards"), col("n_pure_shards"),
            col("min_div_bp"),
            expr("(2 * dsum + n_shards) div (2 * n_shards)")
              .as("mean_div_bp"))
      },
      Some("""WITH c AS (SELECT doc_id, source, n_chars,
                  SUM(n_chars) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS cum_end
                FROM documents),
              a AS (SELECT (cum_end - n_chars) // 65536 AS shard,
                  source, n_chars
                FROM c),
              ss AS (SELECT shard, source,
                  CAST(SUM(n_chars) AS BIGINT) AS cnt
                FROM a GROUP BY 1, 2),
              ps AS (SELECT shard, CAST(SUM(cnt) AS BIGINT) AS tot,
                  CAST(SUM(cnt * cnt) AS BIGINT) AS s2
                FROM ss GROUP BY 1),
              dv AS (SELECT shard,
                  (2 * 10000 * (tot * tot - s2) + tot * tot)
                    // (2 * tot * tot) AS div_bp
                FROM ps)
              SELECT COUNT(*) AS n_shards,
                CAST(SUM(CASE WHEN div_bp = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pure_shards,
                CAST(MIN(div_bp) AS BIGINT) AS min_div_bp,
                CAST((2 * SUM(div_bp) + COUNT(*)) // (2 * COUNT(*))
                  AS BIGINT) AS mean_div_bp
              FROM dv""")),

    // q257: RELEASE CHANGELOG — the diff report a curation team signs
    // between two corpus releases: docs added, removed, changed
    // (same id, different text), unchanged, and the net token-budget
    // delta the next training run must absorb. Without this report a
    // release bump is a black box (q212 tracks the VOCAB drift, q89
    // diffs generic snapshots — this is the corpus-grain changelog).
    // The v2 release is a declared fixture (the linkFixture/q244
    // discipline — one corpus ships in testdata, so v2 derives by
    // arithmetic): ids ≡ 0 (mod 7) dropped, ids ≡ 3 (mod 11) get a
    // ' v2rev' suffix, ids ≡ 5 (mod 13) re-enter as fresh docs at
    // id + 1e6 with a ' fresh' suffix — all three classes overlap
    // realistically (a changed id can also seed an added doc). Plan
    // at 100 TB: two map-only projections with in-row token counts,
    // ONE full-outer doc_id-keyed join (the only shuffle), a 1-row
    // conditional rollup — no pairwise anything; text equality is
    // byte equality in both engines.
    "q257_release_changelog" -> QueryDef(
      (s, dir) => {
        def wc(c: org.apache.spark.sql.Column) =
          size(TextAnalysis.tokens(c)).cast("long")
        val v1 = table(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val v2 = v1.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 11 === 3,
              concat(col("text"), lit(" v2rev")))
              .otherwise(col("text")).as("text"))
          .unionByName(v1.filter(col("doc_id") % 13 === 5)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              concat(col("text"), lit(" fresh")).as("text")))
        v1.select(col("doc_id"), col("text").as("t1"),
            wc(col("text")).as("k1"))
          .join(v2.select(col("doc_id"), col("text").as("t2"),
            wc(col("text")).as("k2")), Seq("doc_id"), "full_outer")
          .agg(
            sum(when(col("t1").isNotNull, 1L).otherwise(0L)).as("n_v1"),
            sum(when(col("t2").isNotNull, 1L).otherwise(0L)).as("n_v2"),
            sum(when(col("t1").isNull, 1L).otherwise(0L)).as("n_added"),
            sum(when(col("t2").isNull, 1L).otherwise(0L))
              .as("n_removed"),
            sum(when(col("t1").isNotNull && col("t2").isNotNull &&
              col("t1") =!= col("t2"), 1L).otherwise(0L))
              .as("n_changed"),
            sum(when(col("t1") === col("t2"), 1L).otherwise(0L))
              .as("n_unchanged"),
            (coalesce(sum("k2"), lit(0L)) -
              coalesce(sum("k1"), lit(0L))).as("token_delta"))
      },
      Some("""WITH v2 AS (SELECT doc_id,
                  CASE WHEN doc_id % 11 = 3 THEN text || ' v2rev'
                    ELSE text END AS text
                FROM documents WHERE doc_id % 7 <> 0
                UNION ALL
                SELECT doc_id + 1000000, text || ' fresh'
                FROM documents WHERE doc_id % 13 = 5),
              a AS (SELECT doc_id, text AS t1,
                  CAST(len(list_filter(string_split_regex(text, '\s+'),
                    x -> x <> '')) AS BIGINT) AS k1
                FROM documents),
              b AS (SELECT doc_id, text AS t2,
                  CAST(len(list_filter(string_split_regex(text, '\s+'),
                    x -> x <> '')) AS BIGINT) AS k2
                FROM v2),
              j AS (SELECT a.t1, a.k1, b.t2, b.k2
                FROM a FULL OUTER JOIN b ON b.doc_id = a.doc_id)
              SELECT
                CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_v1,
                CAST(SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_v2,
                CAST(SUM(CASE WHEN t1 IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_added,
                CAST(SUM(CASE WHEN t2 IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_removed,
                CAST(SUM(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL
                  AND t1 <> t2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_changed,
                CAST(SUM(CASE WHEN t1 = t2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_unchanged,
                CAST(COALESCE(SUM(k2), 0) - COALESCE(SUM(k1), 0)
                  AS BIGINT) AS token_delta
              FROM j""")),

    "q233_shard_skew" -> QueryDef(
      (s, dir) => {
        val perShard = shardAssigned(s, dir)
          .groupBy("shard").agg(sum("n_chars").as("sc"))
        // ONE rollup: the over-target count is a fifth aggregate, not
        // a crossJoin'd second aggregation (which re-ran the whole
        // prefix-sum + shard shuffle — the unpersisted frame's plan)
        perShard.agg(count(lit(1)).as("n_shards"),
            min("sc").as("min_chars"), max("sc").as("max_chars"),
            sum("sc").as("total_chars"),
            sum(when(col("sc") * 2 > 3 * 65536L, 1L).otherwise(0L))
              .as("n_over_150pct"))
          .select(col("n_shards"), col("min_chars"), col("max_chars"),
            // skew = max/mean in half-up bp via the q219 long-math
            // idiom. Overflow bound (ADVICE r15): the numerator is
            // 20000 · max_chars · n_shards; with 64 KiB shards
            // (max_chars ≈ 2¹⁷ worst case, one straddling doc) Long
            // holds n_shards up to ~2⁶³/(2·10⁴·2¹⁷) ≈ 3.5·10¹²
            // shards ≈ 200 EB of corpus — comfortably past 100 TB.
            // Re-derive before shrinking the shard target below ~1 KiB.
            expr("(20000 * max_chars * n_shards + total_chars)" +
              " div (2 * total_chars)").as("skew_bp"),
            col("n_over_150pct"))
      },
      Some("""WITH c AS (SELECT doc_id, n_chars,
                  SUM(n_chars) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS cum_end
                FROM documents),
              ps AS (SELECT (cum_end - n_chars) // 65536 AS shard,
                  SUM(n_chars) AS sc
                FROM c GROUP BY 1)
              SELECT COUNT(*) AS n_shards,
                CAST(MIN(sc) AS BIGINT) AS min_chars,
                CAST(MAX(sc) AS BIGINT) AS max_chars,
                CAST((20000 * MAX(sc) * COUNT(*) + SUM(sc))
                  // (2 * SUM(sc)) AS BIGINT) AS skew_bp,
                CAST(SUM(CASE WHEN sc * 2 > 3 * 65536 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_over_150pct
              FROM ps""")),

    // q238: FIXED-LENGTH packing fill audit at WORD grain — the q235
    // release packer's boundary-split bin arithmetic (shard stream cut
    // at every 512-token multiple, docs spanning continuation slices)
    // replayed over whitespace tokens, where the whole computation IS
    // SQL-expressible: this is the cross-engine oracle check of the
    // split math that q235's token-grain artifact can only gate with
    // contract bits (piece counts depend on the trained vocab). Per
    // release shard (doc_id mod 8): docs, words, bins, full bins,
    // fill in half-up bp (the q187 padding-waste accounting — with
    // boundary cut, only each shard's tail bin is partial, so fill_bp
    // is pinned near 10000 by construction), and how many docs split
    // across a bin boundary (the dataloader's doc-fragmentation rate).
    // Plan at 100 TB: the q139/q235 skinny two-level prefix sum at
    // defaultParallelism, in-row HOF slicing (counts only — no payload
    // anywhere), ONE (shard, seq) partial agg on a words-per-bin
    // number, two bounded per-shard rollups.
    "q238_packed_fill" -> QueryDef(
      (s, dir) => {
        val seqLen = 512L
        val assigned = wordBinAssigned(s, dir, seqLen)
        val bins = wordBinSlices(assigned)
          .groupBy(col("shard"), col("seq"))
          .agg(sum("cnt").as("bt"))
        val perShard = bins.groupBy("shard")
          .agg(count(lit(1)).as("n_seqs"), sum("bt").as("n_words"),
            sum(when(col("bt") === seqLen, 1L).otherwise(0L))
              .as("n_full"))
        val splits = assigned.groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("b1") > col("b0"), 1L).otherwise(0L))
              .as("n_split_docs"))
        perShard.join(splits, "shard")
          .select(col("shard"), col("n_docs"), col("n_words"),
            col("n_seqs"), col("n_full"),
            expr(s"(20000 * n_words + n_seqs * $seqLen)" +
              s" div (2 * n_seqs * $seqLen)").as("fill_bp"),
            col("n_split_docs"))
          .orderBy("shard")
      },
      Some(s"""WITH $wordBinSlicesSql,
              bins AS (SELECT shard, seq, SUM(cnt) AS bt
                FROM sl GROUP BY 1, 2),
              ps AS (SELECT shard, COUNT(*) AS n_seqs,
                  CAST(SUM(bt) AS BIGINT) AS n_words,
                  CAST(SUM(CASE WHEN bt = 512 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_full
                FROM bins GROUP BY 1),
              sp AS (SELECT shard, COUNT(*) AS n_docs,
                  CAST(SUM(CASE WHEN b1 > b0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_split_docs
                FROM a GROUP BY 1)
              SELECT ps.shard, n_docs, n_words, n_seqs, n_full,
                CAST((20000 * n_words + n_seqs * 512)
                  // (2 * n_seqs * 512) AS BIGINT) AS fill_bp,
                n_split_docs
              FROM ps JOIN sp ON sp.shard = ps.shard
              ORDER BY ps.shard""")),

    // q240: CURRICULUM phase schedule — the training-prep op between
    // selection (q106 token budget, q111 domain caps) and release
    // (q235): order the corpus by a quality score and cut the token
    // stream into equal-budget phases, so the dataloader consumes
    // highest-quality tokens first and each phase's boundary is a
    // token count, not a doc count (docs vary 100× in length — a
    // doc-count split would skew phase sizes). Score = lexical
    // diversity in half-up bp (distinct/total tokens — the q31
    // integer discipline, hash-exact cross-engine); order =
    // (score DESC, doc_id) — a total order, so the schedule is
    // deterministic; budget = total/4 (integer), phase = running
    // token offset div budget. Per phase: docs, tokens, score
    // extremes — the report a curriculum owner signs off. Plan at
    // 100 TB: the same skinny two-level prefix sum as q139/q197/q238,
    // range-partitioned on the CURRICULUM key (score desc, doc_id)
    // at defaultParallelism; one scalar total (like q197's stride),
    // one bounded per-phase rollup; no payload, no global window.
    "q240_curriculum_phases" -> QueryDef(
      (s, dir) => {
        curriculumPhased(s, dir, withSource = false)
          .groupBy("phase")
          .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
            min("score_bp").as("min_score_bp"),
            max("score_bp").as("max_score_bp"))
          .orderBy("phase")
      },
      Some("""WITH d AS (SELECT doc_id,
                  CAST(len(t) AS BIGINT) AS nt,
                  CAST(len(list_distinct(t)) AS BIGINT) AS nd
                FROM (SELECT doc_id,
                    list_filter(string_split_regex(text, '\s+'),
                      x -> x <> '') AS t
                  FROM documents) z
                WHERE len(t) > 0),
              sc AS (SELECT doc_id, nt,
                  CAST((20000 * nd + nt) // (2 * nt) AS BIGINT)
                    AS score_bp
                FROM d),
              c AS (SELECT doc_id, nt, score_bp,
                  CAST(SUM(nt) OVER (ORDER BY score_bp DESC, doc_id
                    ROWS UNBOUNDED PRECEDING) - nt AS BIGINT) AS cum
                FROM sc),
              t AS (SELECT GREATEST(1,
                  CAST((SELECT SUM(nt) FROM d) AS BIGINT) // 4)
                    AS budget)
              SELECT CAST(cum // budget AS BIGINT) AS phase,
                COUNT(*) AS n_docs,
                CAST(SUM(nt) AS BIGINT) AS n_tokens,
                MIN(score_bp) AS min_score_bp,
                MAX(score_bp) AS max_score_bp
              FROM c CROSS JOIN t
              GROUP BY 1 ORDER BY phase""")),

    // q241: curriculum SOURCE-MIX audit — the diversity cross-check on
    // q240's schedule: a quality ordering that correlates with source
    // front-loads one source and starves the early phases of mixture
    // diversity (the failure mode a curation owner cross-checks
    // against q104's mixture weights before signing the schedule).
    // Per (phase, source): docs, tokens, and the source's token share
    // of its phase in half-up bp. Same q240 schedule definition (ONE
    // Q.twoLevelPrefix pass carries `source` along for free); the
    // per-phase totals frame is ≤ 5 rows and broadcast-joins back.
    "q241_phase_source_mix" -> QueryDef(
      (s, dir) => {
        val phased = curriculumPhased(s, dir, withSource = true)
        val perPhase = phased.groupBy("phase")
          .agg(sum("nt").as("phase_tokens"))
        phased.groupBy("phase", "source")
          .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
          .join(broadcast(perPhase), "phase")
          .select(col("phase"), col("source"), col("n_docs"),
            col("n_tokens"),
            expr("(20000 * n_tokens + phase_tokens)" +
              " div (2 * phase_tokens)").as("share_bp"))
          .orderBy("phase", "source")
      },
      Some("""WITH d AS (SELECT doc_id, source,
                  CAST(len(t) AS BIGINT) AS nt,
                  CAST(len(list_distinct(t)) AS BIGINT) AS nd
                FROM (SELECT doc_id, source,
                    list_filter(string_split_regex(text, '\s+'),
                      x -> x <> '') AS t
                  FROM documents) z
                WHERE len(t) > 0),
              sc AS (SELECT doc_id, source, nt,
                  CAST((20000 * nd + nt) // (2 * nt) AS BIGINT)
                    AS score_bp
                FROM d),
              c AS (SELECT doc_id, source, nt,
                  CAST(SUM(nt) OVER (ORDER BY score_bp DESC, doc_id
                    ROWS UNBOUNDED PRECEDING) - nt AS BIGINT) AS cum
                FROM sc),
              t AS (SELECT GREATEST(1,
                  CAST((SELECT SUM(nt) FROM d) AS BIGINT) // 4)
                    AS budget),
              p AS (SELECT CAST(cum // budget AS BIGINT) AS phase,
                  source, nt
                FROM c CROSS JOIN t),
              pp AS (SELECT phase, CAST(SUM(nt) AS BIGINT)
                    AS phase_tokens
                FROM p GROUP BY 1)
              SELECT p.phase, p.source, COUNT(*) AS n_docs,
                CAST(SUM(nt) AS BIGINT) AS n_tokens,
                CAST((20000 * SUM(nt) + phase_tokens)
                  // (2 * phase_tokens) AS BIGINT) AS share_bp
              FROM p JOIN pp ON pp.phase = p.phase
              GROUP BY p.phase, p.source, pp.phase_tokens
              ORDER BY p.phase, p.source""")),

    // q243: packed-sequence CROSS-DOCUMENT attention audit — the cost
    // report behind the q235/q238 packing decision: a dataloader that
    // packs multiple documents into one fixed-length sequence without
    // block-diagonal attention masking lets tokens attend across doc
    // boundaries; the fraction of causal attention pairs that cross a
    // boundary is exactly the contamination a training owner weighs
    // against the fill win (q238's fill_bp) when choosing packing vs
    // padding. At word grain over the same q238 bin arithmetic (ONE
    // wordBinAssigned/wordBinSlices definition — the two audits can
    // never disagree on the bins): per release shard, sequences, total
    // causal pairs Σ L(L−1)/2, cross-doc pairs Σ (L(L−1)/2 − Σᵢ
    // cᵢ(cᵢ−1)/2) (a doc occupies ONE contiguous slice per bin, so
    // within-doc pairs are per-slice pairs), and the cross share in
    // half-up bp. Plan at 100 TB: identical to q238 — skinny
    // two-level prefix sum at defaultParallelism, in-row HOF slicing
    // carrying counts only, one (shard, seq) partial agg, one bounded
    // per-shard rollup; pair math is integer throughout (L ≤ 512 —
    // no overflow anywhere near Long).
    "q243_pack_attention_mix" -> QueryDef(
      (s, dir) => {
        val bins = wordBinSlices(wordBinAssigned(s, dir, 512L))
          .groupBy(col("shard"), col("seq"))
          .agg(sum("cnt").as("bl"),
            sum(expr("cnt * (cnt - 1) div 2")).as("wd"))
        bins.groupBy("shard")
          .agg(count(lit(1)).as("n_seqs"),
            sum(expr("bl * (bl - 1) div 2")).as("n_pairs"),
            sum(expr("bl * (bl - 1) div 2 - wd")).as("n_cross"))
          .select(col("shard"), col("n_seqs"), col("n_pairs"),
            col("n_cross"),
            when(col("n_pairs") === 0, 0L)
              .otherwise(expr("(20000 * n_cross + n_pairs)" +
                " div (2 * n_pairs)"))
              .as("cross_bp"))
          .orderBy("shard")
      },
      Some(s"""WITH $wordBinSlicesSql,
              bins AS (SELECT shard, seq,
                  CAST(SUM(cnt) AS BIGINT) AS bl,
                  CAST(SUM(cnt * (cnt - 1) // 2) AS BIGINT) AS wd
                FROM sl GROUP BY 1, 2)
              SELECT shard, COUNT(*) AS n_seqs,
                CAST(SUM(bl * (bl - 1) // 2) AS BIGINT) AS n_pairs,
                CAST(SUM(bl * (bl - 1) // 2 - wd) AS BIGINT) AS n_cross,
                CAST(CASE WHEN SUM(bl * (bl - 1) // 2) = 0 THEN 0
                  ELSE (20000 * SUM(bl * (bl - 1) // 2 - wd)
                      + SUM(bl * (bl - 1) // 2))
                    // (2 * SUM(bl * (bl - 1) // 2)) END AS BIGINT)
                  AS cross_bp
              FROM bins GROUP BY shard ORDER BY shard""")),

    // q244: curriculum-phase DUPLICATION audit — the interaction
    // report between the dedup family (q22's exact-dup survivorship)
    // and the curriculum schedule (q240): does the quality ordering
    // front-load duplicated text? A high-scoring template family
    // (boilerplate scores deceptively well on some quality metrics)
    // concentrates its copies in the early phases, and the model sees
    // the same text many times in its highest-learning-rate window —
    // the failure a curation owner checks BEFORE shipping a schedule,
    // since q240's per-phase extremes can't see it. The synthetic
    // corpus has ZERO exact duplicates at the gate SF, so copies are
    // planted by the declared dupFixtureDocs arithmetic (doc_id ≡ 21
    // mod 40 copies doc_id − 20 — the linkFixture discipline; an
    // exact copy shares its donor's score and therefore its PHASE
    // NEIGHBORHOOD, which is precisely the clustering this audit
    // exists to surface). The schedule runs over the SAME augmented
    // frame through the one curriculumPhasedOf definition. Dup mark =
    // exact q22 semantics (survivor = min-doc_id per md5 group; both
    // engines group on the digest); per phase: docs, dup docs,
    // tokens, dup tokens, and the dup token share in half-up bp.
    // Plan at 100 TB: the q240 skinny prefix-sum schedule + ONE
    // digest groupBy (never all-pairs, the q22 shape) + one
    // doc_id-keyed join; rollup is a ≤ 5-group partial agg.
    "q244_phase_dup_rate" -> QueryDef(
      (s, dir) => {
        val base = dupFixtureDocs(s, dir).managedPersist
        val docs = base.select(col("doc_id"), md5(col("text")).as("h"))
        val dup = docs
          .join(docs.groupBy("h").agg(min("doc_id").as("surv")), "h")
          .select(col("doc_id"),
            when(col("doc_id") > col("surv"), 1L).otherwise(0L)
              .as("is_dup"))
        curriculumPhasedOf(base, withSource = false)
          .join(dup, "doc_id")
          .groupBy("phase")
          .agg(count(lit(1)).as("n_docs"),
            sum("is_dup").as("n_dup_docs"),
            sum("nt").as("n_tokens"),
            sum(expr("is_dup * nt")).as("dup_tokens"))
          .select(col("phase"), col("n_docs"), col("n_dup_docs"),
            col("n_tokens"), col("dup_tokens"),
            expr("(20000 * dup_tokens + n_tokens)" +
              " div (2 * n_tokens)").as("dup_bp"))
          .orderBy("phase")
      },
      Some("""WITH base AS (SELECT d.doc_id,
                  CASE WHEN d.doc_id % 40 = 21 AND o.text IS NOT NULL
                    THEN o.text ELSE d.text END AS text
                FROM documents d LEFT JOIN documents o
                  ON o.doc_id = d.doc_id - 20 AND o.doc_id % 40 = 1),
              d AS (SELECT doc_id,
                  CAST(len(t) AS BIGINT) AS nt,
                  CAST(len(list_distinct(t)) AS BIGINT) AS nd
                FROM (SELECT doc_id,
                    list_filter(string_split_regex(text, '\s+'),
                      x -> x <> '') AS t
                  FROM base) z
                WHERE len(t) > 0),
              sc AS (SELECT doc_id, nt,
                  CAST((20000 * nd + nt) // (2 * nt) AS BIGINT)
                    AS score_bp
                FROM d),
              c AS (SELECT doc_id, nt,
                  CAST(SUM(nt) OVER (ORDER BY score_bp DESC, doc_id
                    ROWS UNBOUNDED PRECEDING) - nt AS BIGINT) AS cum
                FROM sc),
              t AS (SELECT GREATEST(1,
                  CAST((SELECT SUM(nt) FROM d) AS BIGINT) // 4)
                    AS budget),
              dup AS (SELECT doc_id,
                  CASE WHEN doc_id > MIN(doc_id)
                      OVER (PARTITION BY md5(text))
                    THEN 1 ELSE 0 END AS is_dup
                FROM base),
              p AS (SELECT CAST(cum // budget AS BIGINT) AS phase,
                  c.doc_id, nt, is_dup
                FROM c CROSS JOIN t
                JOIN dup ON dup.doc_id = c.doc_id)
              SELECT phase, COUNT(*) AS n_docs,
                CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
                CAST(SUM(nt) AS BIGINT) AS n_tokens,
                CAST(SUM(is_dup * nt) AS BIGINT) AS dup_tokens,
                CAST((20000 * SUM(is_dup * nt) + SUM(nt))
                  // (2 * SUM(nt)) AS BIGINT) AS dup_bp
              FROM p GROUP BY phase ORDER BY phase""")),

    // q248: SEQUENCE-LENGTH sizing sweep — the decision table BEHIND
    // q235's SeqLen = 512 (the q206/q155 sweep discipline applied to
    // the packer): for each candidate length {128, 256, 512, 1024},
    // the three quantities a training owner trades off — fill (q238's
    // accounting: with boundary cut only each shard's tail bin is
    // partial, so fill falls as L grows toward the shard stream
    // length), doc fragmentation (docs split across a bin boundary —
    // FALLS with L, fewer boundaries to straddle), and the cross-doc
    // attention share (q243's accounting — RISES with L as more docs
    // share a bin). One row per candidate, whole-corpus rollups; the
    // opposed directions are exactly why this is a sweep, not a rule.
    // Plan at 100 TB: ONE two-level prefix-sum pass (cum/nw are
    // L-independent — the sweep shares it), then a 4-way in-row
    // explode over the candidate list; per candidate the same
    // counts-only slice HOF and bounded partial aggs as q238/q243 —
    // the sweep costs ~|candidates|× the single-L audit, never a new
    // shuffle shape.
    "q248_seqlen_sweep" -> QueryDef(
      (s, dir) => {
        // ONE L-independent prefix pass, exploded over the candidate
        // list, through the SAME binBounds/wordBinSlices definitions
        // as q238/q243 — the sweep cannot disagree with the audits
        val assigned = binBounds(
          wordBinPrefix(s, dir)
            .withColumn("L", explode(lit(SeqLenCandidates.toArray))))
          .managedPersist
        val bins = wordBinSlices(assigned)
          .groupBy(col("L"), col("shard"), col("seq"))
          .agg(sum("cnt").as("bl"),
            sum(expr("cnt * (cnt - 1) div 2")).as("wd"))
        val per = bins.groupBy("L")
          .agg(count(lit(1)).as("n_seqs"), sum("bl").as("n_words"),
            sum(expr("bl * (bl - 1) div 2")).as("n_pairs"),
            sum(expr("bl * (bl - 1) div 2 - wd")).as("n_cross"))
        val sp = assigned.groupBy("L")
          .agg(sum(when(col("b1") > col("b0"), 1L).otherwise(0L))
            .as("n_split_docs"))
        per.join(sp, "L")
          .select(col("L").as("seq_len"), col("n_seqs"),
            expr("(20000 * n_words + n_seqs * L)" +
              " div (2 * n_seqs * L)").as("fill_bp"),
            col("n_split_docs"),
            when(col("n_pairs") === 0, 0L)
              .otherwise(expr("(20000 * n_cross + n_pairs)" +
                " div (2 * n_pairs)"))
              .as("cross_bp"))
          .orderBy("seq_len")
      },
      Some("""WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
                  CAST(len(list_filter(string_split_regex(text, '\s+'),
                    x -> x <> '')) AS BIGINT) AS nw
                FROM documents),
              c AS (SELECT doc_id, shard, nw,
                  CAST(SUM(nw) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - nw AS BIGINT) AS cum
                FROM d),
              ls AS (SELECT CAST(UNNEST([128, 256, 512, 1024])
                    AS BIGINT) AS L),
              a AS (SELECT c.*, L,
                  CAST(cum // L AS BIGINT) AS b0,
                  CAST(CASE WHEN nw = 0 THEN cum // L
                    ELSE (cum + nw - 1) // L END AS BIGINT) AS b1
                FROM c CROSS JOIN ls),
              sl AS (SELECT L, shard, b AS seq,
                  LEAST(cum + nw, (b + 1) * L)
                    - GREATEST(cum, b * L) AS cnt
                FROM a, UNNEST(range(b0, b1 + 1)) AS u(b)),
              bins AS (SELECT L, shard, seq,
                  CAST(SUM(cnt) AS BIGINT) AS bl,
                  CAST(SUM(cnt * (cnt - 1) // 2) AS BIGINT) AS wd
                FROM sl GROUP BY 1, 2, 3),
              per AS (SELECT L, COUNT(*) AS n_seqs,
                  CAST(SUM(bl) AS BIGINT) AS n_words,
                  CAST(SUM(bl * (bl - 1) // 2) AS BIGINT) AS n_pairs,
                  CAST(SUM(bl * (bl - 1) // 2 - wd) AS BIGINT)
                    AS n_cross
                FROM bins GROUP BY L),
              sp AS (SELECT L, CAST(SUM(CASE WHEN b1 > b0 THEN 1
                    ELSE 0 END) AS BIGINT) AS n_split_docs
                FROM a GROUP BY L)
              SELECT per.L AS seq_len, n_seqs,
                CAST((20000 * n_words + n_seqs * per.L)
                  // (2 * n_seqs * per.L) AS BIGINT) AS fill_bp,
                n_split_docs,
                CAST(CASE WHEN n_pairs = 0 THEN 0
                  ELSE (20000 * n_cross + n_pairs) // (2 * n_pairs)
                  END AS BIGINT) AS cross_bp
              FROM per JOIN sp ON sp.L = per.L
              ORDER BY seq_len"""))
  )

  /** q248's candidate sequence lengths — fixed by declaration; the
    * oracle unnests the same list.
    */
  private val SeqLenCandidates = Seq(128L, 256L, 512L, 1024L)

  /** q238's word-grain release-shard bin assignment — per document:
    * whitespace-token count `nw`, release shard (doc_id mod 8), the
    * exclusive per-shard running offset `cum` (the one
    * `Q.twoLevelPrefix` definition over the skinny frame), and the
    * first/last bin the doc touches (`b0`/`b1`). Shared by the fill
    * audit (q238) and the cross-doc attention audit (q243) so the two
    * reports can never disagree on the bin arithmetic.
    */
  private def wordBinAssigned(
      s: org.apache.spark.sql.SparkSession, dir: String,
      seqLen: Long): org.apache.spark.sql.DataFrame =
    binBounds(wordBinPrefix(s, dir).withColumn("L", lit(seqLen)))
      .managedPersist

  /** The L-INDEPENDENT half of the bin assignment — per document:
    * whitespace-token count `nw`, release shard (doc_id mod 8), and
    * the exclusive per-shard running offset `cum` (the one
    * `Q.twoLevelPrefix` definition over the skinny frame). q248's
    * sweep shares this single pass across all candidate lengths.
    */
  private def wordBinPrefix(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Q.twoLevelPrefix(
      table(s, dir, "documents")
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long")
            .as("nw"))
        .withColumn("shard", pmod(col("doc_id"), lit(8))),
      groupCols = Seq("shard"), orderCols = Seq(col("doc_id")),
      valueCol = "nw")
      .withColumnRenamed("cum_before", "cum")

  /** First/last bin a doc touches at its row's `L` column — the one
    * boundary-cut definition shared by q238, q243, and q248.
    */
  private def binBounds(
      df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.withColumn("b0", expr("cum div L"))
      .withColumn("b1", expr("if(nw = 0, b0, (cum + nw - 1) div L)"))

  /** One row per (doc, bin) SLICE of a [[binBounds]] frame — the
    * in-row HOF expansion carrying COUNTS only (no payload): `cnt` =
    * how many of the doc's words land in bin `seq` of its shard at
    * the row's `L`.
    */
  private def wordBinSlices(
      assigned: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    assigned
      .select(col("L"), col("shard"), explode(expr(
        """transform(sequence(b0, b1), b -> struct(b as seq,
          |  least(cum + nw, (b + 1) * L)
          |    - greatest(cum, b * L) as cnt))""".stripMargin))
        .as("sl"))
      .select(col("L"), col("shard"), col("sl.seq").as("seq"),
        col("sl.cnt").as("cnt"))

  /** The d/c/a/sl oracle CTE chain mirroring [[wordBinAssigned]] +
    * [[wordBinSlices]] at `seqLen` 512 — shared verbatim by the q238
    * and q243 oracles.
    */
  private def wordBinSlicesSql: String =
    """d AS (SELECT doc_id, doc_id % 8 AS shard,
                  CAST(len(list_filter(string_split_regex(text, '\s+'),
                    x -> x <> '')) AS BIGINT) AS nw
                FROM documents),
              c AS (SELECT doc_id, shard, nw,
                  CAST(SUM(nw) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - nw AS BIGINT) AS cum
                FROM d),
              a AS (SELECT *, CAST(cum // 512 AS BIGINT) AS b0,
                  CAST(CASE WHEN nw = 0 THEN cum // 512
                    ELSE (cum + nw - 1) // 512 END AS BIGINT) AS b1
                FROM c),
              sl AS (SELECT shard, b AS seq,
                  LEAST(cum + nw, (b + 1) * 512)
                    - GREATEST(cum, b * 512) AS cnt
                FROM a, UNNEST(range(b0, b1 + 1)) AS u(b))"""

  /** The q240 curriculum schedule as a reusable frame — per non-empty
    * document: token count `nt`, lexical-diversity `score_bp`, and the
    * token-budget `phase` under the (score DESC, doc_id) total order
    * (budget = total/4, integer). ONE definition shared by the phase
    * report (q240), the source-mix audit (q241, which rides `source`
    * along), and the duplication audit (q244) so the three reports can
    * never disagree on the schedule. The single driver-side action is
    * the 1-row token total (coalesce-guarded: an all-empty corpus
    * yields an empty frame, not an NPE — the bandOccupancyStats guard
    * class); everything else is the skinny two-level prefix sum at
    * defaultParallelism.
    */
  private def curriculumPhased(
      s: org.apache.spark.sql.SparkSession, dir: String,
      withSource: Boolean): org.apache.spark.sql.DataFrame =
    curriculumPhasedOf(table(s, dir, "documents"), withSource)

  /** Df-based core of [[curriculumPhased]] — q244 schedules its
    * dup-fixture-augmented corpus through the SAME definition.
    */
  private def curriculumPhasedOf(
      docsIn: org.apache.spark.sql.DataFrame,
      withSource: Boolean): org.apache.spark.sql.DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val srcCols = if (withSource) Seq(col("source")) else Nil
    val docs = Q.twoLevelPrefix(
      docsIn
        .select((Seq(col("doc_id")) ++ srcCols ++ Seq(
          size(toks).cast("long").as("nt"),
          size(array_distinct(toks)).cast("long").as("nd"))): _*)
        .filter(col("nt") > 0)
        .withColumn("score_bp",
          expr("(20000 * nd + nt) div (2 * nt)")),
      groupCols = Nil,
      orderCols = Seq(col("score_bp").desc, col("doc_id")),
      valueCol = "nt")
      .managedPersist
    val total = docs.agg(coalesce(sum("nt"), lit(0L)))
      .head().getLong(0)
    val budget = math.max(1L, total / 4)
    docs.withColumn("phase", expr(s"cum_before div ${budget}L"))
  }

  /** The declared exact-dup fixture for q244 (the linkFixture
    * discipline — the synthetic corpus has zero exact duplicates at
    * the gate SF, so copies are planted with declared arithmetic):
    * every doc with doc_id ≡ 21 (mod 40) REPLACES its text with the
    * text of doc_id − 20 (its donor, ≡ 1 mod 40 — never itself a
    * target, so copy chains cannot form). Expressed as one doc_id-
    * keyed equi-join against the filtered donor frame in both
    * engines; a missing donor keeps the original text (declared,
    * join-guarded).
    */
  private def dupFixtureDocs(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val raw = table(s, dir, "documents")
    val donors = raw.filter(col("doc_id") % 40 === 1)
      .select((col("doc_id") + 20).as("doc_id"), col("text").as("dtext"))
    raw.join(donors, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 40 === 21 && col("dtext").isNotNull,
          col("dtext")).otherwise(col("text")).as("text"))
  }

  /** q139's streaming bin-pack shard assignment as a reusable frame:
    * (doc_id, n_chars, shard) with shard = floor(exclusive-prefix-sum
    * of n_chars in doc_id order / 64 KiB), built with the two-level
    * prefix-sum decomposition (partition-local running sums + a
    * broadcast offset frame bounded by the range width, which tracks
    * `defaultParallelism` — VERDICT r16 lifted the fixed 16) so NO
    * stage collapses the corpus onto one task. Shared by the shard
    * plan (q139) and the manifest-checksum report (q151);
    * partitioning-invariance is suite-asserted.
    */
  private def shardAssigned(
      s: org.apache.spark.sql.SparkSession, dir: String,
      target: Long = 65536L): org.apache.spark.sql.DataFrame =
    Q.twoLevelPrefix(
      table(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      groupCols = Nil, orderCols = Seq(col("doc_id")),
      valueCol = "n_chars")
      .withColumn("shard", expr(s"cum_before div $target"))
}
