package graft.operators

import org.apache.spark.sql.functions._
import Q._

/** Index-store maintenance DECISIONS (SURVEY §2B Q192): q172 gave the
  * persisted index families a compaction discipline (HOW to maintain);
  * this module operationalizes WHEN — the per-family drift signals a
  * store owner reads and the declared integer rebuild bit
  * ([[IndexMaintenance.stalenessReport]]).
  *
  * The staleness taxonomy the report covers, one live exemplar per
  * persisted family:
  *
  *  - '''append-grown stores''' (band, gram, PQ, phash): the index HAS the
  *    new rows, but every appended batch lays down files and dilutes
  *    the build-time assumptions (band probe fan-out, PQ codebooks
  *    trained on the base distribution). Signal: appended fraction
  *    since build — `(rows_now − rows_at_build)/rows_now`, with
  *    `rows_at_build` captured by every index writer in a
  *    `_BUILD_META` sidecar at the store root.
  *  - '''write-once stores left behind by the corpus''' (IVF here,
  *    PCA, the lexical inverted index — its df/stats freeze at
  *    build, the span discipline — and the positional posting index,
  *    whose positions freeze the same way): the store never grew while
  *    the corpus did. Signal: the same fraction with `rows_now`
  *    overridden to the CURRENT corpus count.
  *  - '''frozen statistics gone stale''' (span): df_gk is
  *    materialized at build by design (append would stale it — the
  *    family's declared reason to be write-once); the drift signal is
  *    the fraction of stored seed-gram keys whose df over the current
  *    corpus no longer matches ([[IndexMaintenance.spanDfDriftMicro]]).
  *  - '''distribution drift''' (PCA): first-moment mean shift between
  *    the fit corpus and the current corpus
  *    ([[IndexMaintenance.meanShiftMicro]] — exact-decimal means, so
  *    the statistic is cross-engine exact).
  *  - '''health bits''' (`signal_ok`): per-family integrity/balance
  *    invariants measured off the store — band rows = 32 × shingled
  *    docs, gram table distinct, one df per stored gk, IVF cell
  *    balance within q122's swept 4× bound, PQ code/vector row
  *    conservation ([[IndexMaintenance.healthBits]]). These are
  *    deliberately OUTSIDE this query's compared output: they are
  *    measured off the STORE (the IVF balance depends on the trained
  *    centroids), so a cross-engine oracle reading only the raw
  *    corpus parquet cannot reproduce them — a fixture where a
  *    measured bit trips would flip Spark's report while the oracle
  *    stayed healthy (ADVICE r13). IndexStoreSpec asserts all five
  *    bits true on this exact fixture and that a corrupted store
  *    flips its bit through [[IndexMaintenance.stalenessReport]]'s
  *    rebuild decision; same home as the recall watermark
  *    (suite-verified, never oracle-compared).
  *
  * The q192 fixture declares doc_id/vec_id % 4 == 0 as the
  * post-build tranche (~25%): band/gram/PQ are built on the base and
  * then append it, IVF/PCA are built on the base and never told, the
  * span index just watches its dfs rot. With the declared 20%
  * append threshold the append-driven families all trip the rebuild
  * bit — the report is read with every signal firing, not on a quiet
  * store. Every compared column is an exact integer (long division,
  * micros) derived from append fractions and measured drift alone, so
  * the DuckDB oracle reproduces the full report from the raw parquet
  * alone — including the rebuild bits.
  *
  * Plan at 100 TB: the builds are the amortized artifacts (warmup /
  * nightly job); the report itself is per-family count scans plus one
  * positioned-gram corpus pass for the span df drift and two moment
  * scans for the mean shift — no joins wider than the gk-keyed
  * store probe, and only per-family scalars reach the driver.
  */
object Maintenance {

  val defs: Seq[(String, QueryDef)] = Seq(

    "q192_index_staleness" -> QueryDef(
      (s, dir) => {
        // the store-name key carries a CONTENT fingerprint of both
        // input tables, not just the dir tag: a fixture regenerated at
        // the same path mid-session must rebuild the stores (else the
        // drift signals would mix an old store with the new corpus and
        // diverge from the oracle, which reads only current parquet) —
        // the same staleness class ADVICE r12 flagged for the fit memos
        val fp = IndexCatalog.fpTag(
          tableFingerprint(s, dir, "documents") + "|" +
            tableFingerprint(s, dir, "embeddings"))
        val tag = s"${IndexCatalog.dirTag(dir)}_$fp"
        val name = s"graft_q192_$tag"
        val docs = table(s, dir, "documents")
        val emb = table(s, dir, "embeddings").select("vec_id", "embedding")
        val baseDocs = docs.filter(col("doc_id") % 4 =!= 0)
        val apndDocs = docs.filter(col("doc_id") % 4 === 0)
        val baseEmb = emb.filter(col("vec_id") % 4 =!= 0)
        def toks(d: org.apache.spark.sql.DataFrame) =
          d.select(col("doc_id"),
            TextAnalysis.tokens(col("text")).as("toks"))
        if (!s.catalog.tableExists(s"${name}_band_shingles")) {
          val path = new java.io.File(
            System.getProperty("java.io.tmpdir"), s"graft-q192-$tag")
          Dedup.writeBandIndex(baseDocs, s"${name}_band", s"$path/band")
          Dedup.appendToBandIndex(apndDocs, s"${name}_band")
          Dedup.writeGramIndex(baseDocs, s"${name}_gram", s"$path/gram")
          Dedup.appendToGramIndex(apndDocs, s"${name}_gram")
          Dedup.writeSpanIndex(toks(baseDocs), s"${name}_span",
            s"$path/span")
          graft.operators.Ann.writeIvfIndex(baseEmb, s"${name}_ivf",
            s"$path/ivf")
          graft.operators.Ann.writePqIndex(baseEmb, s"${name}_pq",
            s"$path/pq")
          graft.operators.Ann.appendToPqIndex(
            emb.filter(col("vec_id") % 4 === 0), s"${name}_pq")
          // seventh family (VERDICT r14 ask #1): the perceptual media
          // index — images of doc_id < 40 (the q201/q205 fixture),
          // base built, the % 4 == 0 tranche appended, so its
          // append-grown signal fires with the others. Every banded
          // row count is 4 × assets by construction (each synth image
          // decodes and hashes deterministically), so the oracle
          // derives both counts from doc arithmetic alone.
          import s.implicits._
          def imgHashes(d: org.apache.spark.sql.DataFrame) =
            MultiModal.dhashOf(d.select("doc_id").as[Long]
              .mapPartitions(_.map(i => MediaAsset(i, "image",
                MultiModal.synthImageBytes(i, 0), "base"))))
          val media = docs.filter(col("doc_id") < 40)
          MultiModal.writePhashIndex(
            imgHashes(media.filter(col("doc_id") % 4 =!= 0)),
            s"${name}_phash", s"$path/phash")
          MultiModal.appendToPhashIndex(
            imgHashes(media.filter(col("doc_id") % 4 === 0)),
            s"${name}_phash")
          // eighth family (round 15): the lexical inverted index —
          // write-once like span/IVF (its df/stats freeze at build),
          // built on the base tranche and never told about the rest,
          // so its left-behind signal fires with the others
          TextAnalysis.writeLexicalIndex(baseDocs, s"${name}_lexical",
            s"$path/lexical")
          // ninth family (round 15): the positional posting index —
          // write-once like lexical (positions freeze at build), built
          // on the base tranche so its left-behind signal fires too
          TextAnalysis.writePositionalIndex(baseDocs,
            s"${name}_positional", s"$path/positional")
          // tenth family (round 16): the tokenized-corpus RELEASE
          // artifact — write-once by nature (a release is a snapshot),
          // built on the base tranche with the SHIPPED q212 vocab, so
          // its left-behind signal fires as the corpus outgrows it
          Release.writeTokenCorpus(baseDocs,
            TextAnalysis.vocabFromStore(
              s, TextAnalysis.vocabStoreFixture(s, dir)),
            s"${name}_tokrel", s"$path/tokrel")
        }
        // Report-pass job budget (it's the nightly health check — it
        // should cost scans, and as FEW as possible): every per-table
        // statistic pair collapses into ONE agg job, and every count a
        // signal pass already produced feeds the report as a rowsNow/
        // rowsAtBuild override so stalenessReport re-counts nothing.
        // The ten statistic jobs are INDEPENDENT scans over disjoint
        // tables, so they run concurrently through [[Q.async]]
        // (guide §2.6 — "overlap independent jobs"): sequential they
        // cost the SUM of ten small-job latencies; overlapped the
        // report costs ~the heaviest scan. FIFO scheduling backfills
        // the tails; per-family ordering of the report is unchanged.
        // corpus-side counts for the write-once families (one scan)
        val erF = Q.async(s)(emb.agg(count(lit(1)).as("n"),
          sum((col("vec_id") % 4 =!= 0).cast("long")).as("nb")).head())
        // family drift signals (each one distributed job, scalar out)
        val spanDriftF = Q.async(s)(IndexMaintenance.spanDfDriftMicro(
          s, s"${name}_span", toks(docs)))
        val pcaDriftF =
          Q.async(s)(IndexMaintenance.meanShiftMicro(baseEmb, emb))
        // per-store row counts feeding rowsNow (one count agg each) —
        // the measured signal_ok health bits live in IndexMaintenance
        // .healthBits, asserted suite-side, NOT in this compared
        // report (scaladoc above: not oracle-reproducible)
        def tcount(t: String) =
          Q.async(s)(s.table(t).agg(count(lit(1))).head().getLong(0))
        val shinglesNowF = tcount(s"${name}_band_shingles")
        val gramsNowF = tcount(s"${name}_gram_grams")
        val spanNowF = tcount(s"${name}_span_pgrams")
        val prF = tcount(s"${name}_pq_codes")
        val phNowF = tcount(s"${name}_phash_phash")
        // lexical is write-once: rows_now overridden to the CURRENT
        // corpus postings count (distinct (doc, term) pairs — one
        // partial-agg scan), the left-behind signal shape IVF uses
        // one exploded-token scan feeds BOTH write-once text families
        // (the one-agg-per-statistic job budget above): lexical's
        // distinct (doc, term) postings and positional's total token
        // count (one posting per position)
        val lexPosF = Q.async(s)(docs
          .select(col("doc_id"),
            explode(TextAnalysis.tokens(col("text"))).as("t"))
          .agg(countDistinct(col("doc_id"), col("t")),
            count(lit(1)))
          .head())
        val docsNowF = Q.async(s)(docs.count())
        val er = erF.join()
        val (nEmb, nBaseEmb) = (er.getLong(0), er.getLong(1))
        val spanDrift = spanDriftF.join()
        val pcaDrift = pcaDriftF.join()
        val shinglesNow = shinglesNowF.join()
        val gramsNow = gramsNowF.join()
        val spanNow = spanNowF.join()
        val pr = prF.join()
        val phNow = phNowF.join()
        val lexPos = lexPosF.join()
        val lexNow = lexPos.getLong(0)
        val posNow = lexPos.getLong(1)
        import IndexMaintenance.FamilySpec
        IndexMaintenance.stalenessReport(s, Seq(
          FamilySpec("band", s"${name}_band_shingles",
            rowsNow = Some(shinglesNow)),
          FamilySpec("gram", s"${name}_gram_grams",
            rowsNow = Some(gramsNow)),
          FamilySpec("ivf", s"${name}_ivf_codes",
            rowsNow = Some(nEmb)),
          FamilySpec("lexical", s"${name}_lexical_postings",
            rowsNow = Some(lexNow)),
          // PCA carries both overrides (the 3-row store holds
          // components, not corpus rows); primaryTable is
          // informational only on this row
          FamilySpec("pca", "embeddings", rowsNow = Some(nEmb),
            rowsAtBuild = Some(nBaseEmb), driftMicro = pcaDrift,
            driftThresholdMicro = 1000L),
          FamilySpec("phash", s"${name}_phash_phash",
            rowsNow = Some(phNow)),
          FamilySpec("positional", s"${name}_positional_postings",
            rowsNow = Some(posNow)),
          FamilySpec("pq", s"${name}_pq_codes", rowsNow = Some(pr)),
          FamilySpec("span", s"${name}_span_pgrams",
            rowsNow = Some(spanNow), driftMicro = spanDrift,
            driftThresholdMicro = 100000L),
          // write-once release snapshot: rows_now = current corpus
          // docs vs the base-tranche count frozen in _BUILD_META —
          // the left-behind signal shape lexical/positional use
          FamilySpec("tokrel", s"${name}_tokrel_seqs",
            rowsNow = Some(docsNowF.join()))))
          .drop("signal_ok")
          .orderBy("family")
      },
      Some(s"""WITH toks AS (SELECT doc_id,
                  list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
                    AS t
                FROM documents),
              sh AS (SELECT doc_id,
                  list_distinct([array_to_string(t[i:i+2], ' ')
                                 for i in range(1, len(t)-1)]) AS s
                FROM toks WHERE len(t) >= 3),
              g AS (SELECT doc_id, UNNEST(s) AS g FROM sh),
              -- band family: shingled-doc counts, base vs full
              band AS (SELECT
                  (SELECT COUNT(*) FROM sh WHERE doc_id % 4 <> 0) AS b,
                  (SELECT COUNT(*) FROM sh) AS n),
              -- gram family: distinct-gram counts, base vs full
              gram AS (SELECT
                  (SELECT COUNT(DISTINCT g) FROM g WHERE doc_id % 4 <> 0)
                    AS b,
                  (SELECT COUNT(DISTINCT g) FROM g) AS n),
              -- span family: positioned 5-gram rows of the base (the
              -- store is write-once: rows now = rows at build) plus
              -- the df-drift fraction over stored keys
              pg AS (SELECT doc_id,
                  UNNEST([substring(md5(array_to_string(t[i:i+4], ' ')),
                                    1, 16)
                          for i in range(1, len(t) - 3)]) AS gk
                FROM toks WHERE len(t) >= 5),
              spanrows AS (SELECT
                  CAST(COALESCE(SUM(len(t) - 4), 0) AS BIGINT) AS n
                FROM toks WHERE len(t) >= 5 AND doc_id % 4 <> 0),
              dfb AS (SELECT gk, COUNT(*) AS df
                      FROM (SELECT DISTINCT doc_id, gk FROM pg
                            WHERE doc_id % 4 <> 0) z GROUP BY gk),
              dfn AS (SELECT gk, COUNT(*) AS df
                      FROM (SELECT DISTINCT doc_id, gk FROM pg) z
                      GROUP BY gk),
              spandrift AS (SELECT
                  COUNT(*) AS total,
                  CAST(COALESCE(SUM(CASE WHEN dfn.df <> dfb.df THEN 1
                                    ELSE 0 END), 0) AS BIGINT) AS changed
                FROM dfb JOIN dfn USING (gk)),
              -- phash family: banded rows = 4 x media assets (images
              -- of doc_id < 40, base built, % 4 = 0 tranche appended;
              -- every synth image hashes, so counts are doc arithmetic)
              phc AS (SELECT
                  CAST(4 * (SELECT COUNT(*) FROM documents
                            WHERE doc_id < 40 AND doc_id % 4 <> 0)
                    AS BIGINT) AS b,
                  CAST(4 * (SELECT COUNT(*) FROM documents
                            WHERE doc_id < 40) AS BIGINT) AS n),
              -- lexical family (write-once): postings = distinct
              -- (doc, term) pairs, base build vs current corpus
              tok1 AS (SELECT doc_id, UNNEST(t) AS w FROM toks),
              lexc AS (SELECT
                  (SELECT COUNT(*) FROM (SELECT DISTINCT doc_id, w
                     FROM tok1 WHERE doc_id % 4 <> 0) z) AS b,
                  (SELECT COUNT(*) FROM (SELECT DISTINCT doc_id, w
                     FROM tok1) z2) AS n),
              -- positional family (write-once): one posting per token
              -- position, base build vs current corpus
              posc AS (SELECT
                  (SELECT CAST(COALESCE(SUM(len(t)), 0) AS BIGINT)
                     FROM toks WHERE doc_id % 4 <> 0) AS b,
                  (SELECT CAST(COALESCE(SUM(len(t)), 0) AS BIGINT)
                     FROM toks) AS n),
              -- embedding families: vector counts, base vs full
              vc AS (SELECT
                  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 4 <> 0)
                    AS b,
                  (SELECT COUNT(*) FROM embeddings) AS n),
              -- pca drift: exact-decimal per-dim means, base vs full
              ex AS (SELECT vec_id, UNNEST(embedding) AS x,
                            UNNEST(range(len(embedding))) AS p
                     FROM embeddings),
              mb AS (SELECT p,
                  CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6)))
                    AS DOUBLE) / COUNT(*) AS m
                FROM ex WHERE vec_id % 4 <> 0 GROUP BY p),
              mn AS (SELECT p,
                  CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6)))
                    AS DOUBLE) / COUNT(*) AS m
                FROM ex GROUP BY p),
              pcad AS (SELECT CAST(COALESCE(SUM(CAST(
                    FLOOR(ABS(mn.m - mb.m) * 1e6) AS BIGINT)), 0)
                  AS BIGINT) AS drift
                FROM mb JOIN mn USING (p))
              SELECT * FROM (
                SELECT 'band' AS family, b AS rows_at_build,
                  n AS rows_now, (n - b) * 1000000 // n
                    AS appended_frac_micro,
                  CAST(0 AS BIGINT) AS drift_micro,
                  CAST((n - b) * 1000000 // n >= 200000 AS BIGINT)
                    AS rebuild
                FROM band
                UNION ALL
                SELECT 'gram', b, n, (n - b) * 1000000 // n,
                  CAST(0 AS BIGINT),
                  CAST((n - b) * 1000000 // n >= 200000 AS BIGINT)
                FROM gram
                UNION ALL
                SELECT 'ivf', b, n, (n - b) * 1000000 // n,
                  CAST(0 AS BIGINT),
                  CAST((n - b) * 1000000 // n >= 200000 AS BIGINT)
                FROM vc
                UNION ALL
                SELECT 'lexical', b, n, (n - b) * 1000000 // n,
                  CAST(0 AS BIGINT),
                  CAST((n - b) * 1000000 // n >= 200000 AS BIGINT)
                FROM lexc
                UNION ALL
                SELECT 'pca', b, n, (n - b) * 1000000 // n,
                  (SELECT drift FROM pcad),
                  CAST((n - b) * 1000000 // n >= 200000
                    OR (SELECT drift FROM pcad) >= 1000 AS BIGINT)
                FROM vc
                UNION ALL
                SELECT 'phash', b, n, (n - b) * 1000000 // n,
                  CAST(0 AS BIGINT),
                  CAST((n - b) * 1000000 // n >= 200000 AS BIGINT)
                FROM phc
                UNION ALL
                SELECT 'positional', b, n, (n - b) * 1000000 // n,
                  CAST(0 AS BIGINT),
                  CAST((n - b) * 1000000 // n >= 200000 AS BIGINT)
                FROM posc
                UNION ALL
                SELECT 'pq', b, n, (n - b) * 1000000 // n,
                  CAST(0 AS BIGINT),
                  CAST((n - b) * 1000000 // n >= 200000 AS BIGINT)
                FROM vc
                UNION ALL
                SELECT 'span', n, n, CAST(0 AS BIGINT),
                  CAST((SELECT changed * 1000000 // total
                        FROM spandrift) AS BIGINT),
                  CAST((SELECT changed * 1000000 // total FROM spandrift)
                    >= 100000 AS BIGINT)
                FROM spanrows
                UNION ALL
                -- tokrel family (write-once release snapshot): doc
                -- counts, base tranche vs current corpus
                SELECT 'tokrel',
                  (SELECT COUNT(*) FROM documents WHERE doc_id % 4 <> 0),
                  (SELECT COUNT(*) FROM documents),
                  ((SELECT COUNT(*) FROM documents) -
                   (SELECT COUNT(*) FROM documents WHERE doc_id % 4 <> 0))
                    * 1000000 // (SELECT COUNT(*) FROM documents),
                  CAST(0 AS BIGINT),
                  CAST(((SELECT COUNT(*) FROM documents) -
                    (SELECT COUNT(*) FROM documents WHERE doc_id % 4 <> 0))
                    * 1000000 // (SELECT COUNT(*) FROM documents)
                    >= 200000 AS BIGINT)
              ) ORDER BY family"""))
  )
}
