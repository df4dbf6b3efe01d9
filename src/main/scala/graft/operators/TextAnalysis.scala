package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Text-analysis operators over the `documents` table (LLM-data-pipeline
  * extension surface): whitespace/BPE-ish tokenization, n-gram-lexicon
  * language ID, quality scoring + the quality-filter gate, md5 document
  * fingerprinting, TF-IDF, deterministic hash splits, overlapping chunk
  * windows, per-shard sequence packing, and data-mixing weights. All are
  * pure `functions._`
  * column pipelines (codegen'd, no UDFs) and each has a DuckDB oracle.
  * Shared helpers ([[TextAnalysis.tokens]]) are reused by the dedup
  * operators.
  */
object TextAnalysis {

  /** Non-empty whitespace tokens of `text` — the canonical tokenizer for
    * the whole text surface (same regex mirrored in every oracle).
    */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= "")

  /** Word n-gram shingles from a token array: guards `size < n`, where
    * Spark's `sequence(1, size-n+1)` would go descending instead of empty.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Tiny per-language stopword lexicons for the n-gram-heuristic language
    * ID. Deliberately drawn from the synthetic corpus vocabulary so the
    * classifier exercises real score competition; the algorithm (token ∩
    * lexicon counts → argmax with lexicographic tie-break, no hits →
    * 'und') is what's under test, not linguistics.
    */
  val lexicon: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "is", "en" -> "of", "en" -> "to",
    "db" -> "table", "db" -> "scan", "db" -> "join", "db" -> "merge",
    "db" -> "hash", "db" -> "filter", "db" -> "sort", "db" -> "group",
    "ml" -> "vector", "ml" -> "batch", "ml" -> "stream", "ml" -> "window",
    "ml" -> "spark")

  private val lexiconSqlValues =
    lexicon.map { case (l, w) => s"('$l','$w')" }.mkString(", ")

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
  private[operators] val stopwordsSql = stopwords.map(w => s"'$w'").mkString(", ")

  /** BPE-ish token regex: letter runs, single digits, single punctuation —
    * a deterministic stand-in for a learned BPE vocabulary's fertility
    * behavior (letters merge, digits don't).
    */
  private val bpeRegex = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"

  /** Per-document quality signals shared by q31 (scoring) and q91 (the
    * filter gate): token array, token count, non-whitespace chars, and
    * stopword hits — one definition so the "q31 signals" the gate
    * composes can never drift from q31 itself.
    */
  private[graft] def qualitySignals(df: DataFrame): DataFrame = Q.spread(df)
    .withColumn("toks", tokens(col("text")))
    .withColumn("n_tokens", size(col("toks")).cast("long"))
    .withColumn("n_chars_ns",
      length(regexp_replace(col("text"), "\\s", "")).cast("long"))
    .withColumn("n_stop",
      size(filter(col("toks"), t => t.isin(stopwords: _*))).cast("long"))

  /** q133's rare-document gate in integer micro-units (mean inverse
    * bigram probability > 35.0): sized against the synthetic corpus,
    * whose per-doc scores span ~27·10⁶–69·10⁶ with language maxima
    * straddling the line, so both branches are exercised per language.
    * Declared BEFORE `defs`: the oracle SQL interpolates it at object
    * init, and a forward reference would silently render as 0.
    */
  private val RareSurpriseMicro = 35000000L

  /** q134's fixed vocabulary size — below the synthetic corpus's 31
    * distinct words by design, so a real OOV tail exists.
    */
  private val OovVocabK = 20

  /** q140's repetition guardrail: a source asked to repeat more than
    * this many epochs is flagged over-cap. Declared before `defs` (the
    * oracle SQL interpolates it at object init).
    */
  private val MaxEpochs = 4L

  /** q176's fixed head/middle/tail cut points on the per-doc mean
    * inverse-unigram-probability score (micro-units). Sized against
    * the synthetic corpus (min 29.4M, terciles ≈ 29.97M / 30.10M, max
    * 111.5M at sf0.01) so every language slice populates all three
    * buckets. Declared before `defs` (interpolated at object init).
    */
  private val PplHeadMicro = 30000000L
  private val PplTailMicro = 30150000L

  /** The oracle-side mirror of [[c4Lines]] — CTEs ending in
    * `t(doc_id, lang, lines)`. One definition shared by q171 (line
    * filter) and q173 (cross-doc line dedup) so the declared line
    * fixture can never drift between the two. Declared before `defs`
    * (interpolated at object init).
    */
  private val c4LinesCteSql =
    """b AS (SELECT doc_id, lang,
                  list_filter(string_split_regex(text, '\s+'),
                    x -> x <> '') AS toks
                FROM documents),
              n AS (SELECT doc_id, lang, toks,
                  (LEN(toks) + 7) // 8 AS nl FROM b),
              t AS (SELECT doc_id, lang,
                  CASE WHEN doc_id % 41 = 7 THEN list_append(l0,
                      'lorem ipsum dolor sit amet.') ELSE l0 END AS lines
                FROM (SELECT doc_id, lang,
                    list_transform(range(0, CAST(nl AS BIGINT)), i ->
                      array_to_string(
                        list_slice(toks, i * 8 + 1, (i + 1) * 8), ' ') ||
                      CASE WHEN doc_id % 11 = 4 AND i = 0
                        THEN ' javascript' ELSE '' END ||
                      CASE WHEN doc_id % 31 = 2 AND i = 1
                        THEN ' {' ELSE '' END ||
                      CASE WHEN (doc_id + i) % 3 <> 0
                        THEN '.' ELSE '' END) AS l0
                  FROM n))"""

  /** q174's script ranges and plants — LITERAL code-point ranges (and
    * literal planted strings), each defined once and interpolated into
    * both engines' patterns, so Java regex and DuckDB's RE2 agree by
    * construction (no \p{Script} classes, whose Unicode tables can
    * drift across engines/versions). Cyrillic = the base block's
    * letters plus ё/Ё; CJK = the Unified Ideographs block.
    */
  // \u escapes, not raw UTF-8 literals: the build's POSIX locale can
  // read sources under a non-UTF-8 charset, which garbles raw literals
  // silently; escapes decode identically under any source charset
  private[graft] val CyrRange = "[\u0430-\u044f\u0410-\u042f\u0451\u0401]"
  private[graft] val CjkRange = "[\u4e00-\u9fff]"
  private[graft] val ReplChar = "\ufffd"
  private[graft] val CyrPlant =
    "\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440 \u0434\u0430\u043d\u043d\u044b\u0435"
  private[graft] val CjkPlant = "\u6570\u636e \u6d41 \u8868"

  /** Per-lang BM25 top-`k` (Robertson & Zaragoza 2009; k1 = 1.2,
    * b = 0.75) over the corpus-derived query set (each lang's 3
    * highest-df tokens, df desc / token asc) — ONE definition shared
    * by q195 (the inline retrieval contract) and q213 (the lexical leg
    * of the reciprocal-rank fusion). Exactness discipline as declared
    * at q195: rational idf `(N − df + 0.5)/(df + 0.5)`, each term's
    * contribution rounded to integer micros BEFORE the per-doc sum so
    * the multi-term addition is order-free integer arithmetic.
    * Columns: (lang, doc_id, score_micro, terms_hit, rank), rank ≤ k.
    */
  private[operators] def bm25LangTopK(
      s: SparkSession, dir: String, k: Int): DataFrame = {
    val toks = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("t"))
      .managedPersist
    val tf = toks.groupBy("lang", "doc_id", "t")
      .agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("lang", "doc_id")
      .agg(count(lit(1)).as("dl"))
    val stats = dl.groupBy("lang")
      .agg(count(lit(1)).as("nd"), sum("dl").as("sumdl"))
    val df = toks.select("lang", "doc_id", "t").distinct()
      .groupBy("lang", "t").agg(count(lit(1)).as("df"))
    val cand = tf.join(broadcast(topDfTerms(df, 3)), Seq("lang", "t"))
      .join(dl, Seq("lang", "doc_id"))
      .join(broadcast(stats), Seq("lang"))
    bm25RankCandidates(cand, k)
  }

  /** Per-lang top-`n` query terms from a df dictionary (df desc, token
    * asc — the deterministic corpus-derived query set q195 declared):
    * one bounded-key window over the dictionary, shared by the inline
    * path and the persisted-index probe (the store's `_df` table has
    * the same shape).
    */
  def topDfTerms(df: DataFrame, n: Int): DataFrame = {
    val wq = Window.partitionBy("lang").orderBy(desc("df"), col("t"))
    df.withColumn("qr", row_number().over(wq))
      .filter(col("qr") <= n)
      .select("lang", "t", "df")
  }

  /** The BM25 scoring + per-lang top-k over an already-joined
    * candidate frame (lang, doc_id, tf, dl, df, nd, sumdl) — ONE
    * arithmetic definition shared by [[bm25LangTopK]] (stats computed
    * from the corpus inline) and [[probeBm25Index]] (stats read from
    * the persisted lexical store). Exactness discipline as declared at
    * q195: rational idf, per-term integer micros before the per-doc
    * sum. Returns (lang, doc_id, score_micro, terms_hit, rank ≤ k).
    */
  private def bm25RankCandidates(cand: DataFrame, k: Int): DataFrame = {
    val term = col("idf") *
      ((col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") + lit(1.2) *
          (lit(0.25) + lit(0.75) *
            (col("dl").cast("double") / col("avgdl")))))
    val wd = Window.partitionBy("lang")
      .orderBy(desc("score_micro"), col("doc_id"))
    cand
      .withColumn("avgdl",
        col("sumdl").cast("double") / col("nd").cast("double"))
      .withColumn("idf",
        ((col("nd") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("term_micro", round(term * lit(1e6)).cast("long"))
      .groupBy("lang", "doc_id")
      .agg(sum("term_micro").as("score_micro"),
        count(lit(1)).as("terms_hit"))
      .withColumn("rank", row_number().over(wd).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Write-once LEXICAL inverted index — the eighth persisted artifact
    * family (the retrieval counterpart of the dedup/media stores, and
    * what a production search stack actually materializes): the
    * postings list `<name>_postings` (lang, doc_id, t, tf, dl —
    * doc length denormalized onto the posting so scoring needs no
    * doc-side join) bucketed AND sorted on the term, the dictionary
    * `<name>_df` (lang, t, df) bucketed on the term, and the per-lang
    * collection stats `<name>_stats` (lang, nd, sumdl) — a bounded
    * frame. Interactive probes broadcast their query terms; BULK
    * probes (contamination sweeps with 10⁵ query terms) equi-join the
    * bucketed term layout with zero exchange on the stored side.
    * `_BUILD_META` feeds q192's staleness report;
    * [[IndexMaintenance.rebuildFamily]] knows the family. df/stats are
    * frozen at build (the span-family discipline: appends would stale
    * them), so the family is write-once and its staleness signal is
    * append pressure measured against the frozen stats.
    */
  def writeLexicalIndex(
      docs: DataFrame, name: String, path: String,
      buckets: Int = 32): Unit = {
    val s = docs.sparkSession
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(tokens(col("text"))).as("t"))
    val tf = toks.groupBy("lang", "doc_id", "t")
      .agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("lang", "doc_id")
      .agg(count(lit(1)).as("dl"))
    tf.join(dl, Seq("lang", "doc_id"))
      .select("lang", "doc_id", "t", "tf", "dl")
      .write.mode("overwrite").bucketBy(buckets, "t").sortBy("t")
      .option("path", s"$path/postings").saveAsTable(s"${name}_postings")
    // the dictionary derives from the postings already written — one
    // partial agg over the store, never a corpus re-scan
    s.table(s"${name}_postings").groupBy("lang", "t")
      .agg(count(lit(1)).as("df"))
      .write.mode("overwrite").bucketBy(buckets, "t").sortBy("t")
      .option("path", s"$path/df").saveAsTable(s"${name}_df")
    s.table(s"${name}_postings")
      .select("lang", "doc_id", "dl").distinct()
      .groupBy("lang").agg(count(lit(1)).as("nd"), sum("dl").as("sumdl"))
      .write.mode("overwrite")
      .option("path", s"$path/stats").saveAsTable(s"${name}_stats")
    IndexMaintenance.writeBuildMeta(s, path,
      s.table(s"${name}_postings").count())
  }

  /** Re-attach a [[writeLexicalIndex]] artifact in a NEW SparkSession
    * — `Dedup.registerBandIndex`'s contract for the lexical family.
    */
  def registerLexicalIndex(
      spark: SparkSession, name: String, path: String,
      buckets: Int = 32): Unit = {
    IndexCatalog.registerBucketed(spark, s"${name}_postings",
      s"$path/postings", "t", buckets)
    IndexCatalog.registerBucketed(spark, s"${name}_df",
      s"$path/df", "t", buckets)
    IndexCatalog.registerPlain(spark, s"${name}_stats", s"$path/stats")
  }

  /** Ninth persisted index family (round 15): the POSITIONAL posting
    * index behind q218's phrase search — postings (t, doc_id, pos),
    * bucketed + sorted by term so a phrase probe touches only its
    * terms' buckets (Spark prunes buckets on the equality filter) and
    * the adjacency join shuffles posting lists, never the corpus.
    * Write-once like the lexical family: positions freeze at build,
    * so corpus growth surfaces as q192's left-behind staleness signal
    * rather than an append path.
    */
  def writePositionalIndex(
      docs: DataFrame, name: String, path: String,
      buckets: Int = 32): Unit = {
    val s = docs.sparkSession
    docs
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      .select("t", "doc_id", "pos")
      .write.mode("overwrite").bucketBy(buckets, "t").sortBy("t")
      .option("path", s"$path/postings").saveAsTable(s"${name}_postings")
    IndexMaintenance.writeBuildMeta(s, path,
      s.table(s"${name}_postings").count())
  }

  /** Re-attach a [[writePositionalIndex]] artifact in a NEW
    * SparkSession — the registrar contract the family machinery
    * ([[IndexMaintenance.rebuildFamily]], catalog repair) requires.
    */
  def registerPositionalIndex(
      spark: SparkSession, name: String, path: String,
      buckets: Int = 32): Unit =
    IndexCatalog.registerBucketed(spark, s"${name}_postings",
      s"$path/postings", "t", buckets)

  /** Append a batch's postings to a positional store — SAFE for this
    * family, unlike lexical: a posting (t, doc_id, pos) is doc-LOCAL
    * with no frozen corpus-level statistic to stale (lexical freezes
    * df/avgdl at build, so it stays rebuild-only — the deliberate
    * split [[graft.streaming.StreamingOps.textIndexIngestBatch]]
    * encodes). Bucket-spec-preserving `insertInto`, the
    * [[Dedup.appendToBandIndex]] discipline; appends fragment files,
    * which [[IndexMaintenance.compactBucketed]] repairs.
    */
  def appendToPositionalIndex(docs: DataFrame, name: String): Unit =
    docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      .select("t", "doc_id", "pos")
      .write.mode("append").insertInto(s"${name}_postings")

  /** [[appendToPositionalIndex]] guarded against docs already present
    * — the REPLAY path of the streaming loop: a retried micro-batch
    * whose original attempt died mid-append re-runs this, and the
    * table receives only the docs it does not already hold. Costs a
    * distinct-doc scan of the store, which is why the happy path keeps
    * the unguarded append.
    */
  def appendToPositionalIndexDedup(docs: DataFrame, name: String): Unit = {
    val s = docs.sparkSession
    // the guard must see CURRENT table state — the original attempt
    // ran in foreachBatch's cloned session (the Dedup append lesson)
    s.catalog.refreshTable(s"${name}_postings")
    val in = s.table(s"${name}_postings").select("doc_id").distinct()
    docs.join(in, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      .select("t", "doc_id", "pos")
      .write.mode("append").insertInto(s"${name}_postings")
  }

  /** Phrase probe off a persisted [[writePositionalIndex]] store:
    * result-identical to q218's inline adjacency plan over the corpus
    * the index was built from (IndexStoreSpec asserts it), but the
    * probe never tokenizes — it reads the phrase terms' pruned
    * buckets and equi-joins the L posting streams on
    * (doc_id, pos − offset). Cost tracks the PHRASE's posting-list
    * lengths, not the corpus or store size.
    */
  def probePhraseIndex(
      spark: SparkSession, name: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val p = spark.table(s"${name}_postings")
    val streams = phrase.zipWithIndex.map { case (wd, i) =>
      p.filter(col("t") === wd)
        .select(col("doc_id"), (col("pos") - i).as("pos"))
    }
    streams.reduce((a, b) => a.join(b, Seq("doc_id", "pos")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"),
        min(col("pos")).cast("long").as("first_pos"))
      .orderBy("doc_id")
  }

  /** KEYWORD-IN-CONTEXT snippets off a [[writePositionalIndex]] store
    * (VERDICT r16 ask #7 — q236's machinery as a reusable operator):
    * for every exact-adjacency hit of `phrase` (the
    * [[probePhraseIndex]] rule, any length ≥ 1), reconstruct the
    * `window`-token context around the phrase from POSTINGS ALONE —
    * a TRUE index-only snippet, the documents table is never scanned
    * (PlanAuditSpec pins it on q236). Returns (doc_id, hit, snippet)
    * with `hit` = the phrase's first-term position and `snippet` the
    * position-ordered terms of [hit − window, hit + |phrase| − 1 +
    * window], clipped at doc edges by construction (absent positions
    * simply have no postings). The hit frame is phrase-selective and
    * broadcasts; a bulk KWIC sweep over many phrases would swap the
    * broadcast for a doc_id key join — same plan shape, declared.
    */
  def kwicSnippets(
      spark: SparkSession, name: String,
      phrase: Seq[String], window: Int): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    require(window >= 0, "window must be non-negative")
    val p = spark.table(s"${name}_postings")
    val streams = phrase.zipWithIndex.map { case (wd, i) =>
      p.filter(col("t") === wd)
        .select(col("doc_id"), (col("pos") - i).as("pos"))
    }
    val hits = streams.reduce((a, b) => a.join(b, Seq("doc_id", "pos")))
      .select(col("doc_id"), col("pos").as("hit"))
    p.join(broadcast(hits), Seq("doc_id"))
      .filter(col("pos") >= col("hit") - window &&
        col("pos") <= col("hit") + (phrase.size - 1) + window)
      .groupBy(col("doc_id"), col("hit"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("pos"), col("t")))),
        w => w.getField("t")), " ").as("snippet"))
      .select(col("doc_id"), col("hit").cast("long").as("hit"),
        col("snippet"))
      .orderBy("doc_id", "hit")
  }

  /** BULK variant of [[kwicSnippets]] — the declared scale path made
    * real: many phrases in ONE store pass, with the hit frame joined
    * on the doc_id KEY instead of broadcast (a multi-phrase hit list
    * is not small by construction, so the single-phrase broadcast
    * assumption no longer holds). Per phrase the hits come from the
    * same pruned-bucket adjacency join; the union of tagged hit frames
    * then key-joins the postings once, the window filter reads each
    * row's own phrase length, and assembly is one (phrase, doc, hit)
    * partial agg. Returns (phrase, doc_id, hit, snippet); per-phrase
    * rows are identical to [[kwicSnippets]] (IndexStoreSpec asserts
    * it).
    */
  def kwicSnippetsBulk(
      spark: SparkSession, name: String,
      phrases: Seq[Seq[String]], window: Int): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_.nonEmpty),
      "phrases must be non-empty")
    require(window >= 0, "window must be non-negative")
    val p = spark.table(s"${name}_postings")
    // dedupe the request: a repeated phrase would union identical hit
    // rows, fan the postings join out 2x, and double every collected
    // window token inside the snippet (round-17 review finding)
    val hits = phrases.distinct.map { ph =>
      val streams = ph.zipWithIndex.map { case (wd, i) =>
        p.filter(col("t") === wd)
          .select(col("doc_id"), (col("pos") - i).as("pos"))
      }
      streams.reduce((a, b) => a.join(b, Seq("doc_id", "pos")))
        .select(lit(ph.mkString(" ")).as("phrase"), col("doc_id"),
          col("pos").as("hit"), lit(ph.size).as("plen"))
    }.reduce(_.unionByName(_))
    p.join(hits, Seq("doc_id"))
      .filter(col("pos") >= col("hit") - window &&
        col("pos") <= col("hit") + col("plen") - 1 + window)
      .groupBy(col("phrase"), col("doc_id"), col("hit"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("pos"), col("t")))),
        w => w.getField("t")), " ").as("snippet"))
      .select(col("phrase"), col("doc_id"),
        col("hit").cast("long").as("hit"), col("snippet"))
      .orderBy("phrase", "doc_id", "hit")
  }

  /** Proximity (slop) probe off a [[writePositionalIndex]] store:
    * ordered (w1, w2) pairs with 1 ≤ pos(w2) − pos(w1) ≤ slop, counted
    * per doc. Same cost model as [[probePhraseIndex]]: two pruned
    * bucket reads, one doc_id equi-join over posting lists (per-doc
    * fan-out bounded by term frequency), integer distance filter.
    */
  def probeProximityIndex(
      spark: SparkSession, name: String,
      w1: String, w2: String, slop: Int): DataFrame = {
    val p = spark.table(s"${name}_postings")
    val a = p.filter(col("t") === w1)
      .select(col("doc_id"), col("pos").as("p1"))
    val b = p.filter(col("t") === w2)
      .select(col("doc_id"), col("pos").as("p2"))
    a.join(b, Seq("doc_id"))
      .filter(col("p2") > col("p1") && col("p2") <= col("p1") + slop)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("doc_id")
  }

  /** The q227/q230 fixture store: ONE positional index per
    * (sfDir, corpus fingerprint), built on first use in the session —
    * the probes share it the way a deployment shares its nightly
    * artifact.
    */
  private def fixtureStore(s: SparkSession, dir: String): String = {
    val fp = IndexCatalog.fpTag(
          tableFingerprint(s, dir, "documents"))
    val tag = s"${IndexCatalog.dirTag(dir)}_$fp"
    val name = s"graft_q227_$tag"
    Q.syncStore(name) {
      if (!s.catalog.tableExists(s"${name}_postings")) {
        val path = new java.io.File(
          System.getProperty("java.io.tmpdir"), s"graft-q227-$tag")
        writePositionalIndex(table(s, dir, "documents"), name,
          path.toString)
      }
    }
    name
  }

  /** BM25 top-`k` off a persisted [[writeLexicalIndex]] store:
    * `queryTerms` is (lang, t, df) — typically [[topDfTerms]] over the
    * store's own `_df` dictionary, or any external query set joined
    * against it. Result-identical to [[bm25LangTopK]] over the corpus
    * the index was built from (IndexStoreSpec asserts it), but the
    * corpus-side work is one broadcast-join scan of the postings table
    * — no tokenize, no tf/dl/df aggregation, no corpus shuffle at all.
    */
  def probeBm25Index(
      spark: SparkSession, name: String, queryTerms: DataFrame,
      k: Int): DataFrame = {
    val cand = spark.table(s"${name}_postings")
      .join(broadcast(queryTerms), Seq("lang", "t"))
      .join(broadcast(spark.table(s"${name}_stats")), Seq("lang"))
    bm25RankCandidates(cand, k)
  }

  /** q195's DuckDB oracle — ONE SQL definition shared verbatim by q195
    * (the inline BM25) and q215 (the persisted-index probe), because
    * the probe's declared contract is result-identity with the inline
    * ranking over the same corpus.
    */
  private val Bm25TopKOracle: String =
    s"""WITH toks AS (SELECT doc_id, lang,
                  UNNEST(list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> '')) AS t
                FROM documents),
              tf AS (SELECT lang, doc_id, t, COUNT(*) AS tf
                     FROM toks GROUP BY 1, 2, 3),
              dl AS (SELECT lang, doc_id, COUNT(*) AS dl
                     FROM toks GROUP BY 1, 2),
              stats AS (SELECT lang, COUNT(*) AS nd, SUM(dl) AS sumdl
                        FROM dl GROUP BY 1),
              df AS (SELECT lang, t, COUNT(*) AS df
                     FROM (SELECT DISTINCT lang, doc_id, t FROM toks) z
                     GROUP BY 1, 2),
              qterms AS (SELECT lang, t, df FROM (
                  SELECT lang, t, df, ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY df DESC, t) AS qr FROM df) z
                WHERE qr <= 3),
              sc AS (SELECT tf.lang, tf.doc_id,
                  CAST(SUM(CAST(ROUND((
                    ((CAST(stats.nd - qterms.df AS DOUBLE) + 0.5) /
                      (CAST(qterms.df AS DOUBLE) + 0.5)) *
                    ((CAST(tf.tf AS DOUBLE) * 2.2) /
                      (CAST(tf.tf AS DOUBLE) + 1.2 *
                        (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) /
                          (CAST(stats.sumdl AS DOUBLE) /
                            CAST(stats.nd AS DOUBLE))))))
                    ) * 1e6) AS BIGINT)) AS BIGINT) AS score_micro,
                  COUNT(*) AS terms_hit
                FROM tf
                JOIN qterms ON qterms.lang = tf.lang AND qterms.t = tf.t
                JOIN dl ON dl.lang = tf.lang AND dl.doc_id = tf.doc_id
                JOIN stats ON stats.lang = tf.lang
                GROUP BY 1, 2)
              SELECT lang, rank, doc_id, score_micro, terms_hit
              FROM (SELECT lang, doc_id, score_micro, terms_hit,
                  CAST(ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
                FROM sc) z
              WHERE rank <= 10 ORDER BY lang, rank"""

  /** The phrase-search DuckDB oracle — ONE SQL definition shared
    * verbatim by q218 (the inline positional adjacency) and q227 (the
    * persisted positional-index probe), because the probe's declared
    * contract is result-identity with the inline plan over the same
    * corpus.
    */
  private val PhrasePostingOracle: String =
    """WITH d AS (SELECT doc_id,
                  list_filter(string_split_regex(text, '\s+'),
                    t -> t <> '') AS toks
                FROM documents),
              h AS (SELECT doc_id,
                  list_filter(range(1, len(toks)),
                    i -> toks[i] = 'hash' AND toks[i + 1] = 'join')
                    AS hits
                FROM d)
              SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_hits,
                CAST(hits[1] - 1 AS BIGINT) AS first_pos
              FROM h WHERE len(hits) > 0 ORDER BY doc_id"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // Q24 token counting: whitespace tokenize, global top-20.
    "q24_text_tokens" -> QueryDef(
      (s, dir) => table(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("token"))
        .limit(20),
      Some("""SELECT token, COUNT(*) AS n FROM (
                SELECT UNNEST(string_split_regex(text, '\s+')) AS token
                FROM documents) t
              WHERE token <> '' GROUP BY token
              ORDER BY n DESC, token LIMIT 20""")),

    // Language ID: lexicon-hit argmax per document, per-language counts.
    "q30_text_langid" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val lex = s.createDataFrame(lexicon).toDF("lex_lang", "word")
        val toks = docs.select(col("doc_id"),
          explode(tokens(col("text"))).as("word"))
        val scores = toks.join(broadcast(lex), "word")
          .groupBy("doc_id", "lex_lang").agg(count(lit(1)).as("hits"))
        val w = Window.partitionBy("doc_id")
          .orderBy(desc("hits"), col("lex_lang"))
        val best = scores.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).select("doc_id", "lex_lang")
        docs.select("doc_id").join(best, Seq("doc_id"), "left")
          .withColumn("lang_pred", coalesce(col("lex_lang"), lit("und")))
          .groupBy("lang_pred").agg(count(lit(1)).as("n_docs"))
          .orderBy("lang_pred")
      },
      Some(s"""WITH lex(lex_lang, word) AS (VALUES $lexiconSqlValues),
                toks AS (SELECT doc_id,
                  UNNEST(string_split_regex(text, '\\s+')) AS word
                  FROM documents),
                scores AS (SELECT doc_id, lex_lang, COUNT(*) AS hits
                  FROM toks JOIN lex USING (word)
                  WHERE word <> '' GROUP BY doc_id, lex_lang),
                best AS (SELECT doc_id, lex_lang FROM (
                  SELECT doc_id, lex_lang, ROW_NUMBER() OVER (
                    PARTITION BY doc_id ORDER BY hits DESC, lex_lang) AS rn
                  FROM scores) z WHERE rn = 1)
              SELECT COALESCE(b.lex_lang, 'und') AS lang_pred,
                COUNT(*) AS n_docs
              FROM documents d LEFT JOIN best b USING (doc_id)
              GROUP BY 1 ORDER BY lang_pred""")),

    // Quality scoring: length/stopword-ratio/avg-token-length features +
    // a length bucket, one row per document. Ratio rounding is exact
    // integer half-up — round(a/b, s) = (10^s·2·a + b) div (2·b) / 10^s —
    // because round(double, s) diverges between engines when the double's
    // shortest decimal form lands exactly on a half (Spark rounds the
    // string form, DuckDB the binary value: 4.725 → 4.73 vs 4.72).
    "q31_text_quality" -> QueryDef(
      (s, dir) => qualitySignals(table(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("n_chars_ns"),
          when(col("n_tokens") === 0, 0.0)
            .otherwise(expr("(200*n_chars_ns + n_tokens) div (2*n_tokens)")
              .cast("double") / 100.0)
            .as("avg_tok_len"),
          when(col("n_tokens") === 0, 0.0)
            .otherwise(expr("(20000*n_stop + n_tokens) div (2*n_tokens)")
              .cast("double") / 10000.0)
            .as("stop_ratio"),
          when(col("n_tokens") >= 40, "long")
            .when(col("n_tokens") >= 10, "mid")
            .otherwise("short").as("bucket"))
        .orderBy("doc_id"),
      Some(s"""WITH f AS (SELECT doc_id,
                  list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> '') AS toks,
                  CAST(LENGTH(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
                    AS n_chars_ns
                FROM documents),
              g AS (SELECT doc_id, n_chars_ns,
                  CAST(LEN(toks) AS BIGINT) AS n_tokens,
                  CAST(LEN(list_filter(toks,
                    x -> x IN ($stopwordsSql))) AS BIGINT) AS n_stop
                FROM f)
              SELECT doc_id, n_tokens, n_chars_ns,
                CASE WHEN n_tokens = 0 THEN 0.0
                  ELSE ((200*n_chars_ns + n_tokens) // (2*n_tokens)) / 100.0
                  END AS avg_tok_len,
                CASE WHEN n_tokens = 0 THEN 0.0
                  ELSE ((20000*n_stop + n_tokens) // (2*n_tokens)) / 10000.0
                  END AS stop_ratio,
                CASE WHEN n_tokens >= 40 THEN 'long'
                  WHEN n_tokens >= 10 THEN 'mid'
                  ELSE 'short' END AS bucket
              FROM g ORDER BY doc_id""")),

    // Token counting, whitespace vs BPE-ish regex, per document. Same
    // exact integer half-up rounding as q31 (see comment there).
    "q32_text_token_count" -> QueryDef(
      (s, dir) => table(s, dir, "documents")
        .withColumn("ws_tokens", size(tokens(col("text"))).cast("long"))
        .withColumn("bpe_tokens",
          size(regexp_extract_all(col("text"), lit(bpeRegex), lit(0)))
            .cast("long"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"),
          when(col("bpe_tokens") === 0, 0.0)
            .otherwise(expr("(200*n_chars + bpe_tokens) div (2*bpe_tokens)")
              .cast("double") / 100.0)
            .as("chars_per_token"))
        .orderBy("doc_id"),
      Some(s"""WITH f AS (SELECT doc_id,
                  CAST(LEN(list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> '')) AS BIGINT) AS ws_tokens,
                  CAST(LEN(regexp_extract_all(text, '$bpeRegex')) AS BIGINT)
                    AS bpe_tokens,
                  CAST(LENGTH(text) AS BIGINT) AS n_chars
                FROM documents)
              SELECT doc_id, ws_tokens, bpe_tokens,
                CASE WHEN bpe_tokens = 0 THEN 0.0
                  ELSE ((200*n_chars + bpe_tokens) // (2*bpe_tokens)) / 100.0
                  END AS chars_per_token
              FROM f ORDER BY doc_id""")),

    // Document fingerprinting: md5 content hash + duplicate-group size
    // (the exact-dedup primitive at fingerprint granularity).
    "q33_text_fingerprint" -> QueryDef(
      (s, dir) => table(s, dir, "documents")
        .withColumn("fp", md5(col("text").cast("binary")))
        .withColumn("dup_count",
          count(lit(1)).over(Window.partitionBy("fp")).cast("long"))
        .select("doc_id", "fp", "dup_count")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, md5(text) AS fp,
                CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT)
                  AS dup_count
              FROM documents ORDER BY doc_id""")),

    // Deterministic train/val/test corpus split: bucket on the first hex
    // digit of md5(doc_id) — 12/16 train, 2/16 val, 2/16 test. This is
    // the hash-split every training pipeline needs at 100 TB: stateless,
    // reproducible across runs/engines (no RNG, no sampling), stable
    // under repartitioning, and trivially codegen'd (a string compare on
    // a hash). Holdout membership of any document is decidable anywhere
    // from its id alone.
    "q46_hash_split" -> QueryDef(
      (s, dir) => {
        val hex = substring(md5(col("doc_id").cast("string")), 1, 1)
        table(s, dir, "documents")
          .withColumn("split",
            when(hex.isin("c", "d"), "val")
              .when(hex.isin("e", "f"), "test")
              .otherwise("train"))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n"))
          .orderBy("split", "lang")
      },
      Some("""SELECT CASE
                WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                  IN ('c', 'd') THEN 'val'
                WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                  IN ('e', 'f') THEN 'test'
                ELSE 'train' END AS split, lang, COUNT(*) AS n
              FROM documents GROUP BY 1, 2 ORDER BY split, lang""")),

    // TF-IDF term scoring: top-3 terms per document (first 20 docs) by
    // the rational score tf · N / df — the log-free variant keeps every
    // score an exact integer ratio, so ordering is engine-identical
    // (identical longs → identical IEEE division results) and the
    // output needs no rounding at all (tf, df, rank are integers).
    // Plan shape: token explode (generator), two hash aggregations
    // (term-level df is corpus-wide), a term-keyed join, the 1-row N
    // broadcast, and a per-doc window — each shuffle is on a real key
    // with partial aggregation, so the pipeline survives a corpus-scale
    // dictionary.
    // Largest-remainder (Hamilton) apportionment of a training-batch
    // slot budget across (lang, source) mixture cells — the step
    // BETWEEN mixture weights and a data loader: q104/q184 produce
    // per-cell weights and q140 epoch multipliers, but a loader needs
    // an INTEGER slot count per cell that sums exactly to the batch
    // budget, and naive rounding of B·m/M over/undershoots by up to
    // |cells|. Hamilton's method is the standard exact answer: base
    // quota = B·m div M per cell, then the leftover L = B − Σ base
    // goes to the L cells with the largest remainders (B·m mod M;
    // ties by cell key asc — fully deterministic, all integer, the
    // apportionment literally cannot miss the budget). Output per
    // cell: mass, base quota, remainder numerator, the +1 bit, final
    // slots. Plan at 100 TB: one partial-agg over the corpus into a
    // |cells|-bounded frame; the remainder rank is a window over that
    // bounded frame, never the corpus.
    "q198_mixture_apportion" -> QueryDef(
      (s, dir) => {
        val budget = 1000L
        val cells = table(s, dir, "documents")
          .groupBy("lang", "source")
          .agg(sum("n_chars").as("m"))
        val tot = cells.agg(sum("m").as("mm"))
        val wR = Window.orderBy(desc("rem"), col("lang"), col("source"))
        val based = cells.crossJoin(broadcast(tot))
          .withColumn("base", expr(s"($budget * m) div mm"))
          .withColumn("rem", expr(s"($budget * m) % mm"))
        val leftover = based
          .agg((lit(budget) - sum(col("base"))).as("l"))
        based.crossJoin(broadcast(leftover))
          .withColumn("rrank", row_number().over(wR).cast("long"))
          .withColumn("extra", (col("rrank") <= col("l")).cast("long"))
          .select(col("lang"), col("source"), col("m"),
            col("base"), col("rem"), col("extra"),
            (col("base") + col("extra")).as("slots"))
          .orderBy("lang", "source")
      },
      Some("""WITH cells AS (SELECT lang, source,
                  CAST(SUM(n_chars) AS BIGINT) AS m
                FROM documents GROUP BY 1, 2),
              t AS (SELECT CAST(SUM(m) AS BIGINT) AS mm FROM cells),
              b AS (SELECT lang, source, m,
                  CAST((1000 * m) // mm AS BIGINT) AS base,
                  CAST((1000 * m) % mm AS BIGINT) AS rem
                FROM cells CROSS JOIN t),
              l AS (SELECT CAST(1000 - SUM(base) AS BIGINT) AS l FROM b),
              r AS (SELECT lang, source, m, base, rem,
                  CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, lang, source)
                    AS BIGINT) AS rrank
                FROM b)
              SELECT lang, source, m, base, rem,
                CAST(CASE WHEN rrank <= (SELECT l FROM l)
                  THEN 1 ELSE 0 END AS BIGINT) AS extra,
                CAST(base + CASE WHEN rrank <= (SELECT l FROM l)
                  THEN 1 ELSE 0 END AS BIGINT) AS slots
              FROM r ORDER BY lang, source""")),

    // BM25 ranked retrieval (Robertson & Zaragoza 2009; k1 = 1.2,
    // b = 0.75) — the LEXICAL retrieval surface the engine was missing
    // next to its dense paths (q98/q117/q126 rank by embedding cosine;
    // q56 scores tf-idf terms but retrieves nothing): per lang, the
    // query is that slice's 3 highest-df tokens (df desc, token asc —
    // deterministic, corpus-derived; no external query set exists) and
    // the report is the lang-local BM25 top-10 with their scores.
    // Cross-engine exactness, two declared choices: (1) rational idf
    // `(N − df + 0.5)/(df + 0.5)` — the ln's argument itself, the
    // q186-rational-sigmoid discipline (monotone per term, so
    // single-term rankings are identical to the log form; the
    // multi-term sum weights rare terms more strongly — declared);
    // (2) each TERM's contribution rounds to integer micros before
    // the per-doc sum, so the 3-term addition is order-free integer
    // arithmetic (a raw double sum would be partial-agg-order
    // dependent). avgdl is an exact integer sum over an exact count.
    // Plan at 100 TB: tf/df/length stats are the inverted-index build
    // every search engine runs (one token-keyed partial agg); scoring
    // joins the 15-row broadcast query-term table against per-doc tf
    // rows — candidate work is docs CONTAINING a query term, never the
    // corpus; top-10 per lang is a bounded-key window.
    "q195_bm25_topk" -> QueryDef(
      (s, dir) => bm25LangTopK(s, dir, 10)
        .select("lang", "rank", "doc_id", "score_micro", "terms_hit")
        .orderBy("lang", "rank"),
      Some(Bm25TopKOracle)),

    // q213: HYBRID retrieval — reciprocal-rank fusion (Cormack, Clarke
    // & Buettcher, SIGIR 2009; k = 60) of the engine's two ranking
    // families: the lexical BM25 top-10 (q195's ranking, ONE shared
    // definition — [[bm25LangTopK]]) and a dense exact-cosine top-10
    // (q23's arithmetic against a per-lang anchor vector = the lang's
    // lowest doc_id, deterministic and corpus-derived like q195's
    // query terms). Production retrieval stacks run both rankers and
    // fuse per-document RANKS, not scores — RRF needs no score
    // calibration across spaces, which is exactly why it's the
    // standard fusion. Cross-engine exactness: each leg's contribution
    // is the INTEGER 1e6 div (60 + rank) (integer division — no float
    // enters the fusion), the dense leg ranks by cosine micros
    // (round-then-rank, the q23/q27 discipline), ties to the lower
    // doc_id everywhere. Per lang: fused top-10 with both legs' ranks
    // (0 = not retrieved by that leg). Plan at 100 TB: both legs are
    // bounded-k per-lang windows over candidate sets that track the
    // broadcast query (BM25: docs containing a query term; dense: one
    // broadcast anchor per lang scanned map-side); the fusion itself
    // joins two ≤(10·|langs|)-row frames — driver-free, broadcast-able.
    "q213_hybrid_rrf" -> QueryDef(
      (s, dir) => {
        graft.functions.VectorFunctions.register(s)
        import graft.functions.VectorFunctions.cosine
        val lex = bm25LangTopK(s, dir, 10)
          .select(col("lang"), col("doc_id"), col("rank").as("bm25_rank"))
        val docs = table(s, dir, "documents").select("doc_id", "lang")
        val emb = table(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding"))
        val withLang = docs.join(emb, "doc_id")
        val anchors = withLang.groupBy("lang")
          .agg(min("doc_id").as("a_id"))
          .join(emb.select(col("doc_id").as("a_id"),
            col("embedding").as("a_emb")), "a_id")
        val wd = Window.partitionBy("lang")
          .orderBy(desc("sim_micro"), col("doc_id"))
        val dense = withLang.join(broadcast(anchors), Seq("lang"))
          .filter(col("doc_id") =!= col("a_id"))
          .withColumn("sim_micro",
            round(cosine(col("embedding"), col("a_emb")) * lit(1e6))
              .cast("long"))
          .withColumn("cr", row_number().over(wd).cast("long"))
          .filter(col("cr") <= 10)
          .select(col("lang"), col("doc_id"), col("cr").as("cos_rank"))
        val wf = Window.partitionBy("lang")
          .orderBy(desc("rrf_micro"), col("doc_id"))
        lex.join(dense, Seq("lang", "doc_id"), "full_outer")
          .withColumn("rrf_micro",
            coalesce(expr("1000000 div (60 + bm25_rank)"), lit(0L)) +
              coalesce(expr("1000000 div (60 + cos_rank)"), lit(0L)))
          .withColumn("frank", row_number().over(wf).cast("long"))
          .filter(col("frank") <= 10)
          .select(col("lang"), col("frank"), col("doc_id"),
            col("rrf_micro"),
            coalesce(col("bm25_rank"), lit(0L)).as("bm25_rank"),
            coalesce(col("cos_rank"), lit(0L)).as("cos_rank"))
          .orderBy("lang", "frank")
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang,
                  UNNEST(list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> '')) AS t
                FROM documents),
              tf AS (SELECT lang, doc_id, t, COUNT(*) AS tf
                     FROM toks GROUP BY 1, 2, 3),
              dl AS (SELECT lang, doc_id, COUNT(*) AS dl
                     FROM toks GROUP BY 1, 2),
              stats AS (SELECT lang, COUNT(*) AS nd, SUM(dl) AS sumdl
                        FROM dl GROUP BY 1),
              df AS (SELECT lang, t, COUNT(*) AS df
                     FROM (SELECT DISTINCT lang, doc_id, t FROM toks) z
                     GROUP BY 1, 2),
              qterms AS (SELECT lang, t, df FROM (
                  SELECT lang, t, df, ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY df DESC, t) AS qr FROM df) z
                WHERE qr <= 3),
              sc AS (SELECT tf.lang, tf.doc_id,
                  CAST(SUM(CAST(ROUND((
                    ((CAST(stats.nd - qterms.df AS DOUBLE) + 0.5) /
                      (CAST(qterms.df AS DOUBLE) + 0.5)) *
                    ((CAST(tf.tf AS DOUBLE) * 2.2) /
                      (CAST(tf.tf AS DOUBLE) + 1.2 *
                        (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) /
                          (CAST(stats.sumdl AS DOUBLE) /
                            CAST(stats.nd AS DOUBLE))))))
                    ) * 1e6) AS BIGINT)) AS BIGINT) AS score_micro
                FROM tf
                JOIN qterms ON qterms.lang = tf.lang AND qterms.t = tf.t
                JOIN dl ON dl.lang = tf.lang AND dl.doc_id = tf.doc_id
                JOIN stats ON stats.lang = tf.lang
                GROUP BY 1, 2),
              lex AS (SELECT lang, doc_id, rank AS bm25_rank
                FROM (SELECT lang, doc_id,
                    CAST(ROW_NUMBER() OVER (PARTITION BY lang
                      ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
                  FROM sc) z
                WHERE rank <= 10),
              wl AS (SELECT d.lang, e.vec_id AS doc_id, e.embedding
                FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
              anch AS (SELECT lang, MIN(doc_id) AS a_id
                       FROM wl GROUP BY 1),
              ae AS (SELECT anch.lang, anch.a_id, wl.embedding AS a_emb
                FROM anch JOIN wl ON wl.lang = anch.lang
                  AND wl.doc_id = anch.a_id),
              cand AS (SELECT wl.lang, wl.doc_id,
                  (SELECT SUM(CAST(z.x AS DOUBLE) * CAST(z.y AS DOUBLE))
                   FROM (SELECT UNNEST(wl.embedding) AS x,
                                UNNEST(ae.a_emb) AS y) z) AS dotab,
                  (SELECT SUM(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE))
                   FROM UNNEST(wl.embedding) AS u(x)) AS na,
                  (SELECT SUM(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE))
                   FROM UNNEST(ae.a_emb) AS u(x)) AS nb
                FROM wl JOIN ae ON ae.lang = wl.lang
                WHERE wl.doc_id <> ae.a_id),
              dense AS (SELECT lang, doc_id, cr AS cos_rank
                FROM (SELECT lang, doc_id,
                    CAST(ROW_NUMBER() OVER (PARTITION BY lang
                      ORDER BY CAST(ROUND(dotab / (SQRT(na) * SQRT(nb))
                        * 1e6) AS BIGINT) DESC, doc_id) AS BIGINT) AS cr
                  FROM cand) z
                WHERE cr <= 10),
              f AS (SELECT COALESCE(lex.lang, dense.lang) AS lang,
                  COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
                  lex.bm25_rank, dense.cos_rank
                FROM lex FULL OUTER JOIN dense
                  ON lex.lang = dense.lang AND lex.doc_id = dense.doc_id),
              g AS (SELECT lang, doc_id,
                  CAST(COALESCE(1000000 // (60 + bm25_rank), 0) +
                    COALESCE(1000000 // (60 + cos_rank), 0)
                    AS BIGINT) AS rrf_micro,
                  CAST(COALESCE(bm25_rank, 0) AS BIGINT) AS bm25_rank,
                  CAST(COALESCE(cos_rank, 0) AS BIGINT) AS cos_rank
                FROM f)
              SELECT lang, frank, doc_id, rrf_micro, bm25_rank, cos_rank
              FROM (SELECT lang, doc_id, rrf_micro, bm25_rank, cos_rank,
                  CAST(ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS frank
                FROM g) z
              WHERE frank <= 10 ORDER BY lang, frank""")),

    // q215: persisted LEXICAL-index probe — the retrieval stack's
    // persisted rung (q116 gave dedup a band store, q117/q126 gave ANN
    // code stores, q205/q210 gave media hash stores; this gives BM25
    // its inverted index): [[writeLexicalIndex]] materializes
    // postings/dictionary/stats once per corpus fingerprint,
    // [[probeBm25Index]] answers the q195 query off the store alone.
    // Declared contract: the probe's ranking is RESULT-IDENTICAL to
    // the inline q195 (the oracle IS q195's SQL, shared verbatim —
    // [[Bm25TopKOracle]]); IndexStoreSpec asserts the identity
    // frame-to-frame and the store lifecycle (register in a fresh
    // session, health bit, rebuild). Plan at 100 TB: the build is the
    // amortized nightly artifact (one tokenize + two partial aggs);
    // the probe reads ONLY postings rows whose term is in the
    // broadcast query set — no tokenize, no corpus shuffle; a bulk
    // probe (10⁵-term contamination sweep) equi-joins the bucketed
    // term layout exchange-free on the stored side.
    "q215_lexical_index_probe" -> QueryDef(
      (s, dir) => {
        val fp = IndexCatalog.fpTag(
          tableFingerprint(s, dir, "documents"))
        val tag = s"${IndexCatalog.dirTag(dir)}_$fp"
        val name = s"graft_q215_$tag"
        if (!s.catalog.tableExists(s"${name}_postings")) {
          val path = new java.io.File(
            System.getProperty("java.io.tmpdir"), s"graft-q215-$tag")
          writeLexicalIndex(table(s, dir, "documents"), name,
            path.toString)
        }
        // the query set comes from the STORE's own dictionary — the
        // same per-lang top-3-df terms q195 derives from the corpus
        val qterms = topDfTerms(s.table(s"${name}_df"), 3)
        probeBm25Index(s, name, qterms, 10)
          .select("lang", "rank", "doc_id", "score_micro", "terms_hit")
          .orderBy("lang", "rank")
      },
      Some(Bm25TopKOracle)),

    "q56_tfidf" -> QueryDef(
      (s, dir) => {
        val toks = table(s, dir, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = toks.groupBy("term").agg(countDistinct("doc_id").as("df"))
        val n = toks.agg(countDistinct("doc_id").as("nd"))
        val w = Window.partitionBy("doc_id")
          .orderBy(desc("score"), col("term"))
        tf.join(df, "term")
          .crossJoin(broadcast(n))
          .withColumn("score",
            (col("tf") * col("nd")).cast("double") / col("df"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3 && col("doc_id") <= 20)
          .select("doc_id", "term", "tf", "df", "rnk")
          .orderBy("doc_id", "rnk")
      },
      Some("""WITH toks AS (SELECT doc_id, UNNEST(list_filter(
                  string_split_regex(text, '\s+'), x -> x <> '')) AS term
                FROM documents),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf
                     FROM toks GROUP BY 1, 2),
              df AS (SELECT term, COUNT(DISTINCT doc_id) AS df
                     FROM toks GROUP BY 1),
              n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM toks),
              r AS (SELECT doc_id, term, tf, df,
                  ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY CAST(tf * nd AS DOUBLE) / df DESC, term) AS rnk
                FROM tf JOIN df USING (term) CROSS JOIN n)
              SELECT doc_id, term, tf, df, rnk FROM r
              WHERE rnk <= 3 AND doc_id <= 20 ORDER BY doc_id, rnk""")),

    // Document chunking into overlapping token windows (w=50 tokens,
    // stride 40 ⇒ 10-token overlap) — the context-window splitting step
    // of a training-data pipeline. Chunk count is exact integer
    // arithmetic (1 + ceil((n−w)/s) via div), chunks come from one
    // generator explode over slice() — map-only per document, no
    // shuffle until the final ORDER BY; chunk identity is the md5 of
    // the space-joined window, so downstream exact-dedup (q22) composes
    // directly on chunk level.
    "q70_chunk_windows" -> QueryDef(
      (s, dir) => {
        val w = 50; val st = 40
        table(s, dir, "documents")
          .filter(col("doc_id") <= 30)
          .select(col("doc_id"), tokens(col("text")).as("tl"))
          .withColumn("n", size(col("tl")))
          .withColumn("n_chunks",
            when(col("n") <= w, lit(1L)).otherwise(
              expr(s"1 + ((n - $w) + ${st - 1}) div $st")))
          .select(col("doc_id"), col("tl"), col("n"),
            posexplode(transform(
              sequence(lit(0L), col("n_chunks") - 1),
              i => slice(col("tl"), (i * st + 1).cast("int"), lit(w)))))
          .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
            size(col("col")).cast("long").as("chunk_tokens"),
            md5(concat_ws(" ", col("col"))).as("chunk_md5"))
          .orderBy("doc_id", "chunk_id")
      },
      Some("""WITH d AS (SELECT doc_id, list_filter(string_split_regex(
                  text, '\s+'), x -> x <> '') AS tl
                FROM documents WHERE doc_id <= 30),
              c AS (SELECT doc_id, tl, len(tl) AS n,
                  CASE WHEN len(tl) <= 50 THEN 1
                       ELSE 1 + ((len(tl) - 50) + 39) // 40 END AS n_chunks
                FROM d),
              e AS (SELECT doc_id,
                  UNNEST(range(n_chunks)) AS chunk_id,
                  UNNEST(list_transform(range(n_chunks),
                    i -> tl[i * 40 + 1 : i * 40 + 50])) AS chunk
                FROM c)
              SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                CAST(len(chunk) AS BIGINT) AS chunk_tokens,
                md5(array_to_string(chunk, ' ')) AS chunk_md5
              FROM e ORDER BY doc_id, chunk_id""")),

    // Sequence packing: greedy-by-position assignment of documents into
    // fixed 512-token context windows (bin = running token count div
    // 512), computed independently per deterministic 8-way hash shard —
    // the packing step that turns a deduped corpus into training
    // sequences. The cumulative sum is a window per SHARD (8-way
    // parallel, each shard a contiguous scan — never a global
    // single-partition window); at cluster scale shards = O(executors)
    // and each packs locally. Output: per-shard packing efficiency.
    "q71_seq_packing" -> QueryDef(
      (s, dir) => {
        val W = 512
        val wCum = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)
        table(s, dir, "documents")
          .select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("ntok"),
            pmod(col("doc_id"), lit(8)).as("shard"))
          .withColumn("cum_before",
            coalesce(sum(col("ntok")).over(wCum), lit(0L)))
          .withColumn("bin", expr(s"cum_before div $W"))
          .groupBy("shard", "bin")
          .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tok"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_bins"),
            sum(col("tok")).as("tok_total"),
            max(col("n_docs")).as("max_docs_per_bin"))
          .orderBy("shard")
      },
      Some("""WITH d AS (SELECT doc_id,
                  len(list_filter(string_split_regex(text, '\s+'),
                    x -> x <> '')) AS ntok,
                  doc_id % 8 AS shard
                FROM documents),
              c AS (SELECT *, COALESCE(SUM(ntok) OVER (PARTITION BY shard
                  ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
                  1 PRECEDING), 0) AS cum_before FROM d),
              b AS (SELECT shard, cum_before // 512 AS bin,
                  COUNT(*) AS n_docs, SUM(ntok) AS tok
                FROM c GROUP BY 1, 2)
              SELECT shard, COUNT(*) AS n_bins,
                CAST(SUM(tok) AS BIGINT) AS tok_total,
                CAST(MAX(n_docs) AS BIGINT) AS max_docs_per_bin
              FROM b GROUP BY shard ORDER BY shard""")),

    // Quality-filter pipeline: the corpus-cleaning gate composed from
    // the q31 signals, with every threshold an INTEGER comparison
    // (n_tokens ≥ 10, stopword share ≤ 30% as 10·n_stop ≤ 3·n_tokens,
    // avg token length ≤ 8 as n_chars_ns ≤ 8·n_tokens) — no rounding
    // anywhere, so the pass/fail decision is engine-exact. Output:
    // per-language survival counts + integer-rational pass rate.
    "q91_quality_filter" -> QueryDef(
      (s, dir) => qualitySignals(table(s, dir, "documents"))
        .withColumn("pass",
          (col("n_tokens") >= 10 &&
            col("n_stop") * 10 <= col("n_tokens") * 3 &&
            col("n_chars_ns") <= col("n_tokens") * 8).cast("long"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("pass")).as("n_pass"),
          round(sum(col("pass")).cast("double") / count(lit(1)), 4)
            .as("pass_rate"))
        .orderBy("lang"),
      Some(s"""WITH f AS (SELECT lang,
                  list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> '') AS toks,
                  CAST(LENGTH(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
                    AS nc
                FROM documents),
              g AS (SELECT lang, nc,
                  CAST(LEN(toks) AS BIGINT) AS nt,
                  CAST(LEN(list_filter(toks,
                    x -> x IN ($stopwordsSql))) AS BIGINT) AS ns
                FROM f),
              p AS (SELECT lang, CASE WHEN nt >= 10 AND ns * 10 <= nt * 3
                    AND nc <= nt * 8 THEN 1 ELSE 0 END AS pass
                FROM g)
              SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(pass) AS BIGINT) AS n_pass,
                ROUND(CAST(SUM(pass) AS DOUBLE) / COUNT(*), 4) AS pass_rate
              FROM p GROUP BY 1 ORDER BY lang""")),

    // Repetition filter: distinct-vs-total 3-gram counts per document —
    // a low distinct ratio marks boilerplate/looped junk (the classic
    // repetition rule of corpus quality pipelines). The repetitive
    // decision is the INTEGER comparison 100·distinct < 98·total
    // (ratio < 0.98 — sized so the synthetic corpus, whose lowest
    // ratio is 0.929, exercises both branches), so pass/fail is
    // engine-exact; per-language counts roll up with map-side
    // partials.
    "q97_repetition_filter" -> QueryDef(
      (s, dir) => {
        // total grams is pure arithmetic (n_tokens − 2) and distinct
        // grams come from the native one-pass graft_shingles — the
        // composable shingles() lambda over a tokens(text) expression
        // re-tokenizes the document on every element access (O(len²)
        // per doc, measured 26 s vs ~1 s at sf0.1), which is exactly
        // why the native expression exists
        graft.functions.HashFunctions.register(s)
        table(s, dir, "documents")
          .withColumn("n_grams",
            (size(tokens(col("text"))) - 2).cast("long"))
          .withColumn("n_distinct",
            size(expr("graft_shingles(text, 3)")).cast("long"))
          .filter(col("n_grams") > 0)
          .withColumn("repetitive",
            (col("n_distinct") * 100 < col("n_grams") * 98).cast("long"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("repetitive")).as("n_repetitive"),
            round(sum(col("repetitive")).cast("double") / count(lit(1)), 4)
              .as("rep_rate"))
          .orderBy("lang")
      },
      Some("""WITH toks AS (SELECT lang,
                  list_filter(string_split_regex(text, '\s+'),
                    x -> x <> '') AS t
                FROM documents),
              g AS (SELECT lang,
                  [array_to_string(t[i:i+2], ' ')
                   for i in range(1, len(t)-1)] AS grams
                FROM toks WHERE len(t) >= 3),
              r AS (SELECT lang,
                  CAST(len(grams) AS BIGINT) AS n_grams,
                  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct
                FROM g),
              p AS (SELECT lang, CASE WHEN n_distinct * 100 < n_grams * 98
                    THEN 1 ELSE 0 END AS repetitive
                FROM r WHERE n_grams > 0)
              SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(repetitive) AS BIGINT) AS n_repetitive,
                ROUND(CAST(SUM(repetitive) AS DOUBLE) / COUNT(*), 4)
                  AS rep_rate
              FROM p GROUP BY 1 ORDER BY lang""")),

    // Data-mixing weights — the sampling-ratio computation a multi-source
    // training run does before it reads a byte: per-source token share,
    // then temperature-rebalanced weights w ∝ share^α (α = 0.5, the
    // standard up-weight-the-tail exponent) renormalized to 1. One
    // partial-agg count/sum shuffle over the fact table; the share and
    // weight windows run over the already-aggregated |sources|-row frame
    // (q86's pattern), NEVER over the corpus. Determinism: token counts
    // are integers; sqrt is IEEE-exact per row; the weight denominator
    // sums sqrt values as DECIMAL(18,12) so partial-agg order (Spark)
    // vs scan order (DuckDB) can't flip the 4-decimal rounding.
    "q104_mixture_weights" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(lit(1))
        table(s, dir, "documents")
          .withColumn("n_tok", size(tokens(col("text"))).cast("long"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
          .withColumn("share",
            col("n_tokens").cast("double") / sum(col("n_tokens")).over(w))
          .withColumn("w_raw", sqrt(col("share")))
          .withColumn("weight",
            col("w_raw") / sum(col("w_raw").cast(
              org.apache.spark.sql.types.DecimalType(18, 12))).over(w)
              .cast("double"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            round(col("share"), 4).as("share"),
            round(col("weight"), 4).as("weight"))
          .orderBy("source")
      },
      Some("""WITH per AS (SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(LEN(list_filter(string_split_regex(text, '\s+'),
                    x -> x <> ''))) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source),
              sh AS (SELECT source, n_docs, n_tokens,
                  CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS share,
                  SQRT(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER ())
                    AS w_raw
                FROM per)
              SELECT source, n_docs, n_tokens,
                ROUND(share, 4) AS share,
                ROUND(w_raw / CAST(SUM(CAST(w_raw AS DECIMAL(18,12)))
                  OVER () AS DOUBLE), 4) AS weight
              FROM sh ORDER BY source""")),

    // Token-budget corpus selection — fill a per-language token budget
    // (2,000 here) with the best-quality documents: rank by the
    // integer "badness" score (q31's stopword ratio scaled to an exact
    // int — lower is better, doc_id breaks ties), admit docs while the
    // running token sum stays within budget. The admission decision,
    // counts, and worst-admitted score are all integers — hash-exact.
    //
    // The naive form is one window over (lang ORDER BY badness,
    // doc_id) — and lang cardinality is tiny, so at 100 TB that sorts
    // a whole language's corpus in ONE task. This implementation
    // decomposes the identical semantics into bounded pieces:
    //   1. per-(lang, badness) token totals — a bounded-key aggregate
    //      (badness ∈ [0, 10000] by construction);
    //   2. a running sum over that TINY histogram frame picks, per
    //      lang, the fully-admitted score groups and the single
    //      boundary group with its residual budget;
    //   3. fully-admitted docs arrive by a skinny broadcastable
    //      semi-join — NO sort, NO window over the corpus;
    //   4. only the boundary group (one badness value per lang) pays
    //      a doc_id-ordered window for the residual fill.
    // Equivalence: groups are admitted in badness order and docs tie-
    // break by doc_id, exactly the naive window's (badness, doc_id)
    // walk; the oracle states the naive form and the hashes must meet.
    "q106_token_budget_select" -> QueryDef(
      (s, dir) => {
        val budget = 2000L
        val sig = qualitySignals(table(s, dir, "documents"))
          .filter(col("n_tokens") > 0)
          .withColumn("badness",
            expr("(20000*n_stop + n_tokens) div (2*n_tokens)"))
          .select("lang", "doc_id", "n_tokens", "badness")
        // (lang, badness) token histogram + tokens admitted BEFORE
        // each score group — the frame is ≤ |langs|·10001 rows
        val wB = Window.partitionBy("lang").orderBy("badness")
          .rowsBetween(Window.unboundedPreceding, -1)
        val hist = sig.groupBy("lang", "badness")
          .agg(sum(col("n_tokens")).as("btok"))
          .withColumn("cum_before",
            coalesce(sum(col("btok")).over(wB), lit(0L)))
        val fullGroups = hist
          .filter(col("cum_before") + col("btok") <= budget)
          .select("lang", "badness")
        val boundary = hist
          .filter(col("cum_before") < budget &&
            col("cum_before") + col("btok") > budget)
          .select(col("lang"), col("badness"),
            (lit(budget) - col("cum_before")).as("residual"))
        val admittedFull =
          sig.join(fullGroups, Seq("lang", "badness"), "left_semi")
        // at most ONE boundary badness per lang ⇒ the window covers a
        // single score group, not the corpus
        val wD = Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val admittedBoundary = sig
          .join(boundary, Seq("lang", "badness"))
          .withColumn("cumd", sum(col("n_tokens")).over(wD))
          .filter(col("cumd") <= col("residual"))
          .select("lang", "doc_id", "n_tokens", "badness")
        admittedFull.unionByName(admittedBoundary)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_selected"),
            sum(col("n_tokens")).as("tokens_selected"),
            max(col("badness")).as("max_badness"))
          .orderBy("lang")
      },
      Some(s"""WITH f AS (SELECT doc_id, lang,
                  list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> '') AS toks
                FROM documents),
              g AS (SELECT doc_id, lang,
                  CAST(LEN(toks) AS BIGINT) AS n_tokens,
                  CAST(LEN(list_filter(toks,
                    x -> x IN ($stopwordsSql))) AS BIGINT) AS n_stop
                FROM f WHERE LEN(toks) > 0),
              r AS (SELECT lang, n_tokens,
                  (20000*n_stop + n_tokens) // (2*n_tokens) AS badness,
                  doc_id
                FROM g),
              c AS (SELECT lang, n_tokens, badness,
                  SUM(n_tokens) OVER (PARTITION BY lang
                    ORDER BY badness, doc_id
                    ROWS UNBOUNDED PRECEDING) AS cum
                FROM r)
              SELECT lang, COUNT(*) AS n_selected,
                CAST(SUM(n_tokens) AS BIGINT) AS tokens_selected,
                CAST(MAX(badness) AS BIGINT) AS max_badness
              FROM c WHERE cum <= 2000
              GROUP BY 1 ORDER BY lang""")),

    // Per-domain document cap — the crawl-hygiene rule that stops one
    // domain from dominating a corpus (`source` stands in for the
    // host): keep at most K=20 docs per source, best-first by q31's
    // integer badness score with doc_id tie-break. Per-source kept /
    // dropped counts and the worst admitted badness — the audit row a
    // release report carries per domain.
    //
    // Plan at 100 TB: ONE window shuffle partitioned on the domain —
    // exactly the key the data skews on, which is fine here because
    // the window only ranks and rows stream through it (no
    // materialized per-partition state beyond the sort spill); the
    // integer score keeps the ranking engine-exact. A domain hot
    // enough to bottleneck its one reducer is the pathological case
    // q88's salting handles; at K=20 the kept set is bounded per key
    // regardless.
    "q111_domain_cap" -> QueryDef(
      (s, dir) => {
        val k = 20
        val sig = qualitySignals(table(s, dir, "documents"))
          .filter(col("n_tokens") > 0)
          .withColumn("badness",
            expr("(20000*n_stop + n_tokens) div (2*n_tokens)"))
        val w = Window.partitionBy("source")
          .orderBy(col("badness"), col("doc_id"))
        sig
          .withColumn("rn", row_number().over(w))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("rn") <= k, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("rn") > k, 1L).otherwise(0L)).as("n_dropped"),
            max(when(col("rn") <= k, col("badness"))).as("worst_kept"))
          .orderBy("source")
      },
      Some(s"""WITH f AS (SELECT doc_id, source,
                  list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> '') AS toks
                FROM documents),
              g AS (SELECT doc_id, source,
                  CAST(LEN(toks) AS BIGINT) AS n_tokens,
                  CAST(LEN(list_filter(toks,
                    x -> x IN ($stopwordsSql))) AS BIGINT) AS n_stop
                FROM f WHERE LEN(toks) > 0),
              r AS (SELECT source, doc_id,
                  (20000*n_stop + n_tokens) // (2*n_tokens) AS badness
                FROM g),
              c AS (SELECT source, badness,
                  ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY badness, doc_id) AS rn
                FROM r)
              SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN rn <= 20 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_kept,
                CAST(SUM(CASE WHEN rn > 20 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dropped,
                CAST(MAX(CASE WHEN rn <= 20 THEN badness END)
                  AS BIGINT) AS worst_kept
              FROM c GROUP BY 1 ORDER BY source""")),

    // Chunk-level dedup stats — the middle granularity of the dedup
    // triad (whole-document q22, token-window CHUNK here, 3-gram
    // q102): q70's overlapping token windows (w=50, stride 40) are
    // hashed to md5 chunk identities; a chunk appearing ≥ 2 times
    // anywhere in the corpus is duplicated. Per-lang: chunk volume,
    // duplicated-chunk volume, and docs containing ≥ 1 duplicated
    // chunk — the sequence-level contamination report a training run
    // reads before packing (q71) turns chunks into context windows.
    //
    // Plan at 100 TB: the chunk explode is map-only (~n/stride chunks
    // per doc); chunk doc-frequency is ONE partial-agg count shuffle
    // on the md5 key; the skinny (md5 → dup bit) frame joins back on
    // that key. All-integer output.
    "q112_chunk_dedup" -> QueryDef(
      (s, dir) => {
        val w = 50; val st = 40
        val ch = table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), tokens(col("text")).as("tl"))
          .withColumn("n", size(col("tl")))
          .filter(col("n") > 0)
          .withColumn("n_chunks",
            when(col("n") <= w, lit(1L)).otherwise(
              expr(s"1 + ((n - $w) + ${st - 1}) div $st")))
          .select(col("doc_id"), col("lang"),
            explode(transform(
              sequence(lit(0L), col("n_chunks") - 1),
              i => slice(col("tl"), (i * st + 1).cast("int"), lit(w))))
              .as("chunk"))
          .select(col("doc_id"), col("lang"),
            md5(concat_ws(" ", col("chunk"))).as("cm"))
          .managedPersist
        val dup = ch.groupBy("cm").agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2)
          .select(col("cm"), lit(1L).as("dup"))
        ch.join(dup, Seq("cm"), "left")
          .groupBy("doc_id", "lang")
          .agg(count(lit(1)).as("nc"),
            sum(coalesce(col("dup"), lit(0L))).as("nd"))
          .groupBy("lang")
          .agg(sum(col("nc")).as("n_chunks"),
            sum(col("nd")).as("dup_chunks"),
            sum(when(col("nd") > 0, 1L).otherwise(0L)).as("docs_hit"))
          .orderBy("lang")
      },
      Some("""WITH d AS (SELECT doc_id, lang,
                  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tl
                FROM documents),
              c AS (SELECT doc_id, lang, tl,
                  CASE WHEN len(tl) <= 50 THEN 1
                       ELSE 1 + ((len(tl) - 50) + 39) // 40 END AS n_chunks
                FROM d WHERE len(tl) > 0),
              e AS (SELECT doc_id, lang,
                  UNNEST(list_transform(range(n_chunks),
                    i -> tl[i * 40 + 1 : i * 40 + 50])) AS chunk
                FROM c),
              m AS (SELECT doc_id, lang,
                  md5(array_to_string(chunk, ' ')) AS cm FROM e),
              dup AS (SELECT cm, CAST(1 AS BIGINT) AS dup FROM m
                      GROUP BY cm HAVING COUNT(*) >= 2),
              pd AS (SELECT doc_id, lang, COUNT(*) AS nc,
                       SUM(COALESCE(dup.dup, 0)) AS nd
                     FROM m LEFT JOIN dup USING (cm)
                     GROUP BY doc_id, lang)
              SELECT lang, CAST(SUM(nc) AS BIGINT) AS n_chunks,
                CAST(SUM(nd) AS BIGINT) AS dup_chunks,
                CAST(SUM(CASE WHEN nd > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS docs_hit
              FROM pd GROUP BY 1 ORDER BY lang""")),

    // Normalization-aware exact dedup — q22 hashes the RAW text, which
    // misses the case/whitespace-only clones a crawl produces in bulk;
    // here both keys count side by side: distinct raw texts vs
    // distinct NORMALIZED texts (lowercase, whitespace runs collapsed,
    // trimmed) per language, plus the docs collapsed only by
    // normalization — the measure that says how much the cheap
    // canonicalization pass buys before the expensive near-dup
    // pipeline runs. Plan: both distincts come from ONE aggregation
    // each on a hash-partitioned key with partial aggregation; the
    // normalization itself is a codegen'd projection.
    "q113_normalized_dedup" -> QueryDef(
      (s, dir) => {
        val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
        table(s, dir, "documents")
          .select(col("lang"), col("text"), norm.as("ntext"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("text")).as("distinct_raw"),
            countDistinct(col("ntext")).as("distinct_norm"))
          .withColumn("norm_only_collapsed",
            col("distinct_raw") - col("distinct_norm"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
                COUNT(DISTINCT text) AS distinct_raw,
                COUNT(DISTINCT trim(regexp_replace(lower(text),
                  '\s+', ' ', 'g'))) AS distinct_norm,
                COUNT(DISTINCT text) - COUNT(DISTINCT
                  trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                  AS norm_only_collapsed
              FROM documents GROUP BY 1 ORDER BY lang""")),

    // Language-ID confusion matrix — q30's lexicon predictor crossed
    // with the labeled language: per (label, prediction) doc counts,
    // the QA artifact that says WHERE the classifier fails rather than
    // just how often. Integer counts over a bounded (|langs|+1)² key
    // space; the lexicon broadcasts, the per-doc argmax window
    // partitions on doc_id — the same plan shape as q30 with one more
    // bounded-key aggregation.
    "q114_langid_confusion" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val lex = s.createDataFrame(lexicon).toDF("lex_lang", "word")
        val toks = docs.select(col("doc_id"),
          explode(tokens(col("text"))).as("word"))
        val scores = toks.join(broadcast(lex), "word")
          .groupBy("doc_id", "lex_lang").agg(count(lit(1)).as("hits"))
        val w = Window.partitionBy("doc_id")
          .orderBy(desc("hits"), col("lex_lang"))
        val best = scores.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).select("doc_id", "lex_lang")
        docs.select("doc_id", "lang").join(best, Seq("doc_id"), "left")
          .withColumn("lang_pred", coalesce(col("lex_lang"), lit("und")))
          .groupBy("lang", "lang_pred")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "lang_pred")
      },
      Some(s"""WITH lex(lex_lang, word) AS (VALUES $lexiconSqlValues),
              toks AS (SELECT doc_id,
                UNNEST(string_split_regex(text, '\\s+')) AS word
                FROM documents),
              scores AS (SELECT doc_id, lex_lang, COUNT(*) AS hits
                FROM toks JOIN lex USING (word) GROUP BY doc_id, lex_lang),
              best AS (SELECT doc_id, lex_lang FROM scores
                QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                  ORDER BY hits DESC, lex_lang) = 1)
              SELECT d.lang, COALESCE(b.lex_lang, 'und') AS lang_pred,
                COUNT(*) AS n_docs
              FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
              GROUP BY 1, 2 ORDER BY lang, lang_pred""")),

    // Crawl prefix-duplication stats: documents sharing an identical
    // leading-token prefix (first 2 tokens) — the cheap detector for
    // templated/mirrored crawl content whose bodies diverge but whose
    // heads repeat (near-dup catches the bodies; this catches template
    // heads at exact-dedup cost). Map-only projection to a short scalar
    // prefix key, then ONE partial-agg count shuffle grouped on it —
    // the key domain is bounded by vocab² regardless of corpus size,
    // so the aggregate stays small at 100 TB; the top-10 is a
    // TakeOrderedAndProject over the already-aggregated frame.
    "q118_prefix_dup" -> QueryDef(
      (s, dir) => table(s, dir, "documents")
        .select(
          array_join(slice(tokens(col("text")), 1, 2), " ").as("prefix"),
          col("source"), col("lang"))
        .groupBy("prefix")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("source").as("n_sources"),
          countDistinct("lang").as("n_langs"))
        .filter(col("n_docs") >= 2)
        .orderBy(desc("n_docs"), col("prefix"))
        .limit(10),
      Some("""WITH p AS (SELECT array_to_string(list_filter(
                  string_split_regex(text, '\s+'), x -> x <> '')[1:2],
                  ' ') AS prefix, source, lang
                FROM documents)
              SELECT prefix, COUNT(*) AS n_docs,
                COUNT(DISTINCT source) AS n_sources,
                COUNT(DISTINCT lang) AS n_langs
              FROM p GROUP BY 1 HAVING COUNT(*) >= 2
              ORDER BY n_docs DESC, prefix LIMIT 10""")),

    // DSIR-style hashed-unigram importance weights (Data Selection via
    // Importance Resampling, Xie et al. 2023, re-expressed log-free):
    // every token hashes into a BOUNDED 4096-bucket feature space
    // (first 3 hex chars of md5 — the hashed-n-gram trick that makes
    // the feature table O(1) in corpus size), per-bucket add-one
    // smoothed probabilities are estimated for the TARGET domain
    // (lang = 'en') and the raw corpus, and each document scores the
    // mean target/raw probability ratio of its tokens — rank-equivalent
    // per token to the log-ratio form but exact: the ratio is a single
    // IEEE division of exact integer products rounded to 6 decimals,
    // and the per-doc mean sums those 6-decimal values as DECIMAL so
    // partial-agg order can't move the rounding (q104's determinism
    // pattern). Plan shape: one token explode feeds the feature counts
    // AND the per-doc scan (persisted); the 4096-row ratio table
    // BROADCASTS onto the doc scan — at 100 TB the corpus is read
    // twice map-only with one bounded-key aggregation each, and the
    // top-15 is TakeOrderedAndProject.
    "q120_importance_weights" -> QueryDef(
      (s, dir) => {
        val toks = table(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            explode(tokens(col("text"))).as("w"))
          .withColumn("b",
            conv(substring(md5(col("w")), 1, 3), 16, 10).cast("long"))
          .managedPersist
        val feat = toks.groupBy("b").agg(
          count(lit(1)).as("cr"),
          count(when(col("lang") === "en", 1)).as("ct"))
        val tot = feat.agg(
          sum("cr").as("nr"), sum("ct").as("nt"), count(lit(1)).as("v"))
        val ratio = feat.crossJoin(broadcast(tot))
          .select(col("b"),
            round(((col("ct") + 1) * (col("nr") + col("v"))).cast("double") /
              ((col("cr") + 1) * (col("nt") + col("v"))), 6).as("r"))
        toks.join(broadcast(ratio), "b")
          .groupBy("doc_id", "lang")
          .agg(count(lit(1)).as("n_tokens"),
            round(round(sum(col("r").cast(
              org.apache.spark.sql.types.DecimalType(18, 6))), 6)
              .cast("double") / count(lit(1)), 6).as("importance"))
          .orderBy(desc("importance"), col("doc_id"))
          .limit(15)
      },
      Some("""WITH toks AS (SELECT doc_id, lang,
                  CAST(CAST('0x' || substring(md5(w), 1, 3) AS INTEGER)
                    AS BIGINT) AS b
                FROM (SELECT doc_id, lang, UNNEST(list_filter(
                    string_split_regex(text, '\s+'), x -> x <> '')) AS w
                  FROM documents) z),
              feat AS (SELECT b, COUNT(*) AS cr,
                  COUNT(CASE WHEN lang = 'en' THEN 1 END) AS ct
                FROM toks GROUP BY 1),
              tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt,
                  COUNT(*) AS v FROM feat),
              ratio AS (SELECT b, ROUND(CAST((ct + 1) * (nr + v) AS DOUBLE)
                  / ((cr + 1) * (nt + v)), 6) AS r
                FROM feat CROSS JOIN tot)
              SELECT doc_id, lang, COUNT(*) AS n_tokens,
                ROUND(CAST(ROUND(SUM(CAST(r AS DECIMAL(18, 6))), 6)
                  AS DOUBLE) / COUNT(*), 6) AS importance
              FROM toks JOIN ratio USING (b)
              GROUP BY 1, 2 ORDER BY importance DESC, doc_id LIMIT 15""")),

    // Tokenizer fertility report: per language, whitespace words vs
    // BPE-ish subword tokens (q32's regex — one definition for the
    // whole surface) — fertility (subwords per word) and chars per
    // subword are THE numbers a tokenizer choice is judged by per
    // language before a training run prices its token budget (a lang
    // whose fertility drifts up between corpus releases got harder to
    // tokenize, q32 says which documents). All counting is integer and
    // the two ratios use q32's exact half-up integer-division rounding,
    // so partial-agg order can't move a digit. Plan: one map-only
    // projection (both tokenizations are codegen'd regexes) into ONE
    // partial-agg sum shuffle on the bounded lang key — the same
    // single-pass shape at any corpus size.
    "q123_token_fertility" -> QueryDef(
      (s, dir) => table(s, dir, "documents")
        .select(col("lang"),
          size(tokens(col("text"))).cast("long").as("ws"),
          size(regexp_extract_all(col("text"), lit(bpeRegex), lit(0)))
            .cast("long").as("bpe"),
          length(regexp_replace(col("text"), "\\s", "")).cast("long")
            .as("nc"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("ws").as("ws_tokens"), sum("bpe").as("bpe_tokens"),
          sum("nc").as("n_chars"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"),
          col("bpe_tokens"),
          when(col("ws_tokens") === 0, 0.0)
            .otherwise(
              expr("(200*bpe_tokens + ws_tokens) div (2*ws_tokens)")
                .cast("double") / 100.0)
            .as("fertility"),
          when(col("bpe_tokens") === 0, 0.0)
            .otherwise(
              expr("(200*n_chars + bpe_tokens) div (2*bpe_tokens)")
                .cast("double") / 100.0)
            .as("chars_per_bpe_token"))
        .orderBy("lang"),
      Some(s"""WITH f AS (SELECT lang,
                  CAST(LEN(list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> '')) AS BIGINT) AS ws,
                  CAST(LEN(regexp_extract_all(text, '$bpeRegex')) AS BIGINT)
                    AS bpe,
                  CAST(LENGTH(regexp_replace(text, '\\s', '', 'g'))
                    AS BIGINT) AS nc
                FROM documents),
              a AS (SELECT lang, COUNT(*) AS n_docs,
                  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
                  CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
                  CAST(SUM(nc) AS BIGINT) AS n_chars
                FROM f GROUP BY 1)
              SELECT lang, n_docs, ws_tokens, bpe_tokens,
                CASE WHEN ws_tokens = 0 THEN 0.0
                  ELSE ((200*bpe_tokens + ws_tokens) // (2*ws_tokens))
                    / 100.0 END AS fertility,
                CASE WHEN bpe_tokens = 0 THEN 0.0
                  ELSE ((200*n_chars + bpe_tokens) // (2*bpe_tokens))
                    / 100.0 END AS chars_per_bpe_token
              FROM a ORDER BY lang""")),

    // Bigram-LM surprise scoring — the CCNet/perplexity-filter shape:
    // train an add-one-smoothed bigram model ON the corpus itself, then
    // score each document by its mean inverse conditional probability
    // (cw + V)/(cb + 1) per bigram — high mean ⇒ the document's word
    // transitions are rare in-corpus (boilerplate soup, OCR junk, wrong
    // language) — and report per-language means plus the count above
    // the rare-doc threshold. The classic formulation sums logs; logs
    // are libm-dependent across engines, so the score instead stays
    // RATIONAL (the arithmetic mean of 1/P rather than the geometric):
    // each term is one IEEE division scaled to integer micro-units,
    // every aggregation thereafter is exact integer arithmetic, and the
    // single rounding per term/doc is the same half-up in both engines.
    // Plan shape at 100 TB: the count tables are vocab-bounded (|V| and
    // ≤|V|² rows) so both sides BROADCAST — the hint encodes the
    // dictionary-bounded-vocab premise; a corpus whose bigram
    // dictionary outgrows the broadcast budget drops the hint and
    // takes a dictionary-keyed shuffle join instead (the per-doc
    // partial agg below is unaffected); the per-doc stream is
    // explode → map-side broadcast joins → groupBy(doc_id) whose
    // partial agg collapses each doc's terms within its partition (the
    // bigrams of a doc never leave the row's partition before the
    // combine), so the one real shuffle carries ~1 row per document;
    // the per-lang rollup is a bounded-key agg. Nothing scans twice
    // except the two tiny count aggregations.
    "q133_bigram_surprise" -> QueryDef(
      (s, dir) => {
        // spread the one-split local scan, and tokenize ONCE for the
        // three consumers (unigram counts, bigram counts, the term
        // stream) — untreated, each re-ran the tokenizer serialized
        val d = Q.spread(table(s, dir, "documents"))
          .select(col("doc_id"), col("lang"), tokens(col("text")).as("tl"))
          .managedPersist
        val uni = d.select(explode(col("tl")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cw"))
        val vsz = uni.agg(count(lit(1)).as("vsz"))
        val big = d.select(explode(shingles(col("tl"), 2)).as("g"))
          .groupBy("g").agg(count(lit(1)).as("cb"))
        val terms = d
          .select(col("doc_id"), col("lang"),
            explode(shingles(col("tl"), 2)).as("g"))
          .join(broadcast(big), "g")
          .withColumn("w1", split(col("g"), " ").getItem(0))
          .join(broadcast(uni.withColumnRenamed("w", "w1")), "w1")
          .crossJoin(broadcast(vsz))
          .withColumn("term",
            round(lit(1e6) * (col("cw") + col("vsz")).cast("double") /
              (col("cb") + lit(1L)).cast("double")).cast("long"))
        val perDoc = terms.groupBy("doc_id", "lang")
          .agg(round(sum(col("term")).cast("double") / count(lit(1)))
            .cast("long").as("score_micro"))
        perDoc.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum((col("score_micro") > lit(RareSurpriseMicro)).cast("long"))
              .as("n_rare"),
            round(sum(col("score_micro")).cast("double") / count(lit(1)) /
              lit(1e6), 4).as("mean_surprise"))
          .orderBy("lang")
      },
      Some(s"""WITH d AS (SELECT doc_id, lang,
                  list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> '') AS t
                FROM documents),
              bg AS (SELECT doc_id, lang,
                  UNNEST(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1])) AS g
                FROM d WHERE len(t) >= 2),
              u AS (SELECT w, COUNT(*) AS cw
                FROM (SELECT UNNEST(t) AS w FROM d) GROUP BY w),
              v AS (SELECT COUNT(*) AS vsz FROM u),
              b AS (SELECT g, COUNT(*) AS cb FROM bg GROUP BY g),
              t AS (SELECT bg.doc_id, bg.lang,
                  CAST(ROUND(1000000.0 * (u.cw + v.vsz) / (b.cb + 1), 0)
                    AS BIGINT) AS term
                FROM bg JOIN b USING (g)
                JOIN u ON u.w = string_split(bg.g, ' ')[1] CROSS JOIN v),
              ds AS (SELECT doc_id, lang,
                  CAST(ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(*), 0)
                    AS BIGINT) AS score_micro
                FROM t GROUP BY 1, 2)
              SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN score_micro > $RareSurpriseMicro
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
                ROUND(CAST(SUM(score_micro) AS DOUBLE) / COUNT(*)
                  / 1000000.0, 4) AS mean_surprise
              FROM ds GROUP BY 1 ORDER BY lang""")),

    // Q186: Kneser-Ney-smoothed bigram LM scoring on a held-out split
    // - the actual CCNet filter core (their reference LMs are KN-
    // smoothed): train bigram statistics on the even-doc_id half
    // (declared split), score the odd half, so unseen bigrams/histories
    // occur NATURALLY and every backoff branch is live. Interpolated KN
    // with the single declared discount d = 0.75 (exact in binary):
    //   pc(w)   = N1+(.w)/D                (unseen w -> 1/(D+1) floor)
    //   p(w|v)  = (max(c(vw)-d, 0) + (d*N1+(v.))*pc(w)) / c(v.)
    //   c(v.)=0 -> p = pc(w)               (history backoff)
    // Exactness: every count is an exact BIGINT; the probability is a
    // DECLARED chain of single IEEE ops with pinned parentheses
    // (mirrored token for token in the oracle); per-token micro
    // rounding, integer aggregation after - q133's log-free discipline
    // extended to real smoothing. Report per lang: scored docs, mean
    // per-doc KN score, unseen-bigram share (bp). Plan at 100 TB: the
    // count tables are vocab-bounded (q176's broadcast discipline; at
    // a trillion-token corpus the bigram table graduates to a shuffle
    // join - same plan shape, one more exchange); the scoring pass is
    // one explode + three broadcast joins into a per-doc partial agg.
    // Declared fixture: the synthetic corpus shares vocabulary so
    // heavily that unseen events are a few bp - every doc_id % 14 = 13
    // doc (odd, so always on the SCORED side) appends two novel tokens
    // 'zqN zrN', making all three branches live at every SF: (last,
    // zqN) is an unseen bigram with a seen history, zqN is an unseen
    // continuation word (pc floor), and the (zqN, zrN) bigram has an
    // UNSEEN history (the cv-null backoff).
    "q186_kneser_ney" -> QueryDef(
      (s, dir) => {
        val d = Q.spread(table(s, dir, "documents"))
          .withColumn("text2", concat(col("text"),
            when(col("doc_id") % 14 === 13,
              concat(lit(" zq"), col("doc_id").cast("string"),
                lit(" zr"), col("doc_id").cast("string")))
              .otherwise(lit(""))))
          .select(col("doc_id"), col("lang"),
            tokens(col("text2")).as("tl"))
          .filter(size(col("tl")) >= 2)
          .managedPersist
        def bigrams(df: org.apache.spark.sql.DataFrame) = df
          .select(col("doc_id"), col("lang"),
            explode(shingles(col("tl"), 2)).as("g"))
          .withColumn("v", split(col("g"), " ").getItem(0))
          .withColumn("w", split(col("g"), " ").getItem(1))
        val cb = bigrams(d.filter(col("doc_id") % 2 === 0))
          .groupBy("v", "w").agg(count(lit(1)).as("cbw"))
          .managedPersist
        val hist = cb.groupBy("v")
          .agg(sum("cbw").as("cv"), count(lit(1)).as("nv"))
        val cont = cb.groupBy("w").agg(count(lit(1)).as("nw"))
        val scal = cb.agg(count(lit(1)).as("dd"))
        val pc = when(col("nw").isNotNull,
          col("nw").cast("double") / col("dd").cast("double"))
          .otherwise(lit(1.0) / (col("dd").cast("double") + lit(1.0)))
        val p = when(col("cv").isNotNull,
          (greatest(coalesce(col("cbw"), lit(0L)).cast("double")
              - lit(0.75), lit(0.0))
            + (lit(0.75) * col("nv").cast("double")) * col("pc"))
            / col("cv").cast("double"))
          .otherwise(col("pc"))
        val perDoc = bigrams(d.filter(col("doc_id") % 2 === 1))
          .join(broadcast(cb), Seq("v", "w"), "left")
          .join(broadcast(hist), Seq("v"), "left")
          .join(broadcast(cont), Seq("w"), "left")
          .crossJoin(broadcast(scal))
          .withColumn("pc", pc)
          .withColumn("term", round(p * lit(1e6)).cast("long"))
          .withColumn("unseen", col("cbw").isNull.cast("long"))
          .groupBy("doc_id", "lang")
          .agg(round(sum(col("term")).cast("double") / count(lit(1)))
            .cast("long").as("score_micro"),
            sum("unseen").as("u"), count(lit(1)).as("nb"))
        perDoc.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            round(sum(col("score_micro")).cast("double") / count(lit(1)))
              .cast("long").as("mean_p_micro"),
            round((sum(col("u")).cast("double") /
              sum(col("nb")).cast("double")) * lit(10000.0)).cast("long")
              .as("unseen_bp"))
          .orderBy("lang")
      },
      Some(s"""WITH d AS (SELECT doc_id, lang,
                  list_filter(string_split_regex(text ||
                    CASE WHEN doc_id % 14 = 13
                      THEN ' zq' || CAST(doc_id AS VARCHAR) ||
                        ' zr' || CAST(doc_id AS VARCHAR)
                      ELSE '' END, '\\s+'),
                    x -> x <> '') AS t
                FROM documents),
              dd2 AS (SELECT * FROM d WHERE len(t) >= 2),
              bg AS (SELECT doc_id, lang,
                  string_split(g, ' ')[1] AS v,
                  string_split(g, ' ')[2] AS w
                FROM (SELECT doc_id, lang,
                    UNNEST(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS g
                  FROM dd2) q),
              cb AS (SELECT v, w, COUNT(*) AS cbw FROM bg
                WHERE doc_id % 2 = 0 GROUP BY v, w),
              hist AS (SELECT v, CAST(SUM(cbw) AS BIGINT) AS cv,
                  COUNT(*) AS nv FROM cb GROUP BY v),
              cont AS (SELECT w, COUNT(*) AS nw FROM cb GROUP BY w),
              scal AS (SELECT COUNT(*) AS dd FROM cb),
              t AS (SELECT bg.doc_id, bg.lang,
                  CASE WHEN cont.nw IS NOT NULL
                    THEN CAST(cont.nw AS DOUBLE) / CAST(scal.dd AS DOUBLE)
                    ELSE 1.0 / (CAST(scal.dd AS DOUBLE) + 1.0) END AS pc,
                  cb.cbw AS cbw, hist.cv AS cv, hist.nv AS nv,
                  CASE WHEN cb.cbw IS NULL THEN 1 ELSE 0 END AS unseen
                FROM bg
                LEFT JOIN cb ON cb.v = bg.v AND cb.w = bg.w
                LEFT JOIN hist ON hist.v = bg.v
                LEFT JOIN cont ON cont.w = bg.w
                CROSS JOIN scal
                WHERE bg.doc_id % 2 = 1),
              tt AS (SELECT doc_id, lang,
                  CAST(ROUND((CASE WHEN cv IS NOT NULL
                    THEN (GREATEST(CAST(COALESCE(cbw, 0) AS DOUBLE)
                        - 0.75, 0.0)
                      + (0.75 * CAST(nv AS DOUBLE)) * pc)
                      / CAST(cv AS DOUBLE)
                    ELSE pc END) * 1000000.0) AS BIGINT) AS term,
                  unseen
                FROM t),
              ds AS (SELECT doc_id, lang,
                  CAST(ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS score_micro,
                  CAST(SUM(unseen) AS BIGINT) AS u, COUNT(*) AS nb
                FROM tt GROUP BY 1, 2)
              SELECT lang, COUNT(*) AS n_docs,
                CAST(ROUND(CAST(SUM(score_micro) AS DOUBLE) / COUNT(*))
                  AS BIGINT) AS mean_p_micro,
                CAST(ROUND((CAST(SUM(u) AS DOUBLE) /
                  CAST(SUM(nb) AS DOUBLE)) * 10000.0) AS BIGINT)
                  AS unseen_bp
              FROM ds GROUP BY 1 ORDER BY lang""")),

    // Q187: length-bucket padding-waste plan - the bucketed-batching
    // decision report (fairseq/T5-style): fixed-length batches pad
    // every sequence to the batch max, so the fraction of padded
    // positions is compute burned on <pad>. Docs land in power-of-two
    // token-length buckets via LENGTH(bin(n)) - 1 (the integer msb -
    // log2() is NOT correctly rounded cross-engine, a binary-string
    // length is exact by construction); per bucket: doc count, token
    // sum, the observed max, waste at the bucket max, and the
    // counterfactual waste at the GLOBAL max (what unbucketed batching
    // pays). All integer arithmetic until the two share-first-rounded
    // bp ratios. Plan: ONE corpus scan into a ~10-key partial agg; the
    // global max is a 1-row broadcast.
    "q187_padding_waste" -> QueryDef(
      (s, dir) => {
        val lens = table(s, dir, "documents")
          .select(size(tokens(col("text"))).cast("long").as("n"))
          .filter(col("n") > 0)
          .withColumn("bucket",
            (length(bin(col("n"))) - 1).cast("long"))
        val per = lens.groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"), sum("n").as("sum_tokens"),
            min("n").as("min_len"), max("n").as("max_len"))
        val g = per.agg(max("max_len").as("gmax"))
        per.crossJoin(broadcast(g))
          .select(col("bucket"), col("min_len"), col("max_len"),
            col("n_docs"), col("sum_tokens"),
            round((lit(1.0) - col("sum_tokens").cast("double") /
              (col("n_docs") * col("max_len")).cast("double")) *
              lit(10000.0)).cast("long").as("waste_bp"),
            round((lit(1.0) - col("sum_tokens").cast("double") /
              (col("n_docs") * col("gmax")).cast("double")) *
              lit(10000.0)).cast("long").as("global_waste_bp"))
          .orderBy("bucket")
      },
      Some(s"""WITH lens AS (SELECT CAST(LEN(list_filter(
                    string_split_regex(text, '\\s+'), x -> x <> ''))
                    AS BIGINT) AS n
                FROM documents),
              lb AS (SELECT n,
                  CAST(LENGTH(bin(n)) - 1 AS BIGINT) AS bucket
                FROM lens WHERE n > 0),
              per AS (SELECT bucket, COUNT(*) AS n_docs,
                  CAST(SUM(n) AS BIGINT) AS sum_tokens,
                  MIN(n) AS min_len, MAX(n) AS max_len
                FROM lb GROUP BY bucket),
              g AS (SELECT MAX(max_len) AS gmax FROM per)
              SELECT bucket, min_len, max_len, n_docs, sum_tokens,
                CAST(ROUND((1.0 - CAST(sum_tokens AS DOUBLE) /
                  CAST(n_docs * max_len AS DOUBLE)) * 10000.0) AS BIGINT)
                  AS waste_bp,
                CAST(ROUND((1.0 - CAST(sum_tokens AS DOUBLE) /
                  CAST(n_docs * gmax AS DOUBLE)) * 10000.0) AS BIGINT)
                  AS global_waste_bp
              FROM per, g ORDER BY bucket""")),

    // q247: PADDED-BATCH efficiency audit — the dataloader decision
    // q187's per-bucket waste report feeds but does not settle: a
    // padding (non-packing) loader pads every batch to its own max
    // length, so batching docs in LENGTH order instead of arrival
    // order collapses the per-batch max spread and recovers most of
    // the padding — this query measures exactly that recovery on the
    // real corpus. Both policies, one row each: docs batched 32 at a
    // time under (nw DESC, doc_id) vs under doc_id arrival order; per
    // policy the batch count, padded token volume Σ |batch|·max(nw),
    // pad tokens Σ (|batch|·max − Σnw), and the pad share of padded
    // volume in half-up bp. Plan at 100 TB: batch id = exclusive
    // prefix COUNT div 32 — the q139 two-level prefix sum with a
    // constant-1 value column (range-partitioned on the policy key at
    // defaultParallelism, no global window, no payload); each policy
    // is one skinny pass + a (batch) partial agg + a 1-row rollup.
    "q247_batch_padding" -> QueryDef(
      (s, dir) => {
        val lens = table(s, dir, "documents")
          .select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("nw"))
          .withColumn("one", lit(1L))
        def policy(name: String, order: Seq[org.apache.spark.sql.Column])
            : org.apache.spark.sql.DataFrame =
          Q.twoLevelPrefix(lens, groupCols = Nil, orderCols = order,
            valueCol = "one")
            .withColumn("b", expr("cum_before div 32"))
            .groupBy("b")
            .agg(count(lit(1)).as("c"), max("nw").as("m"),
              sum("nw").as("s"))
            .agg(count(lit(1)).as("n_batches"),
              sum(expr("c * m")).as("padded_volume"),
              sum(expr("c * m - s")).as("pad_tokens"))
            .select(lit(name).as("ordering"), col("n_batches"),
              col("padded_volume"), col("pad_tokens"),
              expr("(20000 * pad_tokens + padded_volume)" +
                " div (2 * padded_volume)").as("pad_bp"))
        policy("arrival", Seq(col("doc_id")))
          .unionByName(
            policy("length_sorted", Seq(col("nw").desc, col("doc_id"))))
          .orderBy("ordering")
      },
      Some("""WITH d AS (SELECT doc_id, CAST(LEN(list_filter(
                    string_split_regex(text, '\s+'), x -> x <> ''))
                    AS BIGINT) AS nw
                FROM documents),
              r1 AS (SELECT nw, CAST((ROW_NUMBER() OVER
                    (ORDER BY doc_id) - 1) // 32 AS BIGINT) AS b
                FROM d),
              p1 AS (SELECT b, COUNT(*) AS c, MAX(nw) AS m,
                  CAST(SUM(nw) AS BIGINT) AS s
                FROM r1 GROUP BY b),
              a1 AS (SELECT 'arrival' AS ordering,
                  COUNT(*) AS n_batches,
                  CAST(SUM(c * m) AS BIGINT) AS padded_volume,
                  CAST(SUM(c * m - s) AS BIGINT) AS pad_tokens
                FROM p1),
              r2 AS (SELECT nw, CAST((ROW_NUMBER() OVER
                    (ORDER BY nw DESC, doc_id) - 1) // 32 AS BIGINT)
                    AS b
                FROM d),
              p2 AS (SELECT b, COUNT(*) AS c, MAX(nw) AS m,
                  CAST(SUM(nw) AS BIGINT) AS s
                FROM r2 GROUP BY b),
              a2 AS (SELECT 'length_sorted' AS ordering,
                  COUNT(*) AS n_batches,
                  CAST(SUM(c * m) AS BIGINT) AS padded_volume,
                  CAST(SUM(c * m - s) AS BIGINT) AS pad_tokens
                FROM p2),
              u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
              SELECT ordering, n_batches, padded_volume, pad_tokens,
                CAST((20000 * pad_tokens + padded_volume)
                  // (2 * padded_volume) AS BIGINT) AS pad_bp
              FROM u ORDER BY ordering""")),

    // q252: BATCH SOURCE-MIX audit — the loader-shuffle adequacy check
    // next to q247's padding economics: a training run never reads the
    // corpus in arrival order, it reads a deterministic shuffle, and
    // the thing the shuffle must deliver is per-BATCH source diversity
    // (a batch drawn from one source is a correlated gradient step —
    // the mixing literature's motivation for global shuffles over
    // shard-local ones). Both policies, histogram rows (ordering,
    // n_src → n_batches): docs batched 32 at a time in doc_id arrival
    // order vs under the md5 hash shuffle (the q46 split idiom — the
    // engine-portable stand-in for a seeded permutation; both engines
    // hash the same decimal string). Plan at 100 TB: batch id =
    // exclusive prefix COUNT div 32 — the q139/q247 two-level prefix
    // sum with a constant-1 value column, range-partitioned on the
    // policy key at defaultParallelism; per policy one skinny pass,
    // one (batch) COUNT-DISTINCT agg over a 20-key source space, one
    // bounded histogram agg. No global window, no payload.
    "q252_batch_source_mix" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
          .select(col("doc_id"), col("source"))
          .withColumn("one", lit(1L))
          .withColumn("h", md5(col("doc_id").cast("string")))
        def policy(name: String, order: Seq[org.apache.spark.sql.Column])
            : org.apache.spark.sql.DataFrame =
          Q.twoLevelPrefix(docs, groupCols = Nil, orderCols = order,
            valueCol = "one")
            .withColumn("b", expr("cum_before div 32"))
            .groupBy("b")
            .agg(countDistinct("source").as("n_src"))
            .groupBy("n_src").agg(count(lit(1)).as("n_batches"))
            .select(lit(name).as("ordering"), col("n_src"),
              col("n_batches"))
        policy("arrival", Seq(col("doc_id")))
          .unionByName(
            policy("hash_shuffled", Seq(col("h"), col("doc_id"))))
          .orderBy("ordering", "n_src")
      },
      Some("""WITH d AS (SELECT doc_id, source,
                  md5(CAST(doc_id AS VARCHAR)) AS h
                FROM documents),
              r1 AS (SELECT source, CAST((ROW_NUMBER() OVER
                    (ORDER BY doc_id) - 1) // 32 AS BIGINT) AS b
                FROM d),
              g1 AS (SELECT b, COUNT(DISTINCT source) AS n_src
                FROM r1 GROUP BY b),
              a1 AS (SELECT 'arrival' AS ordering,
                  CAST(n_src AS BIGINT) AS n_src,
                  COUNT(*) AS n_batches
                FROM g1 GROUP BY n_src),
              r2 AS (SELECT source, CAST((ROW_NUMBER() OVER
                    (ORDER BY h, doc_id) - 1) // 32 AS BIGINT) AS b
                FROM d),
              g2 AS (SELECT b, COUNT(DISTINCT source) AS n_src
                FROM r2 GROUP BY b),
              a2 AS (SELECT 'hash_shuffled' AS ordering,
                  CAST(n_src AS BIGINT) AS n_src,
                  COUNT(*) AS n_batches
                FROM g2 GROUP BY n_src)
              SELECT ordering, n_src, n_batches
              FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2) u
              ORDER BY ordering, n_src""")),

    // q253: quality-PROPORTIONAL soft sampling — the selection
    // primitive between q91's hard gate (keep/drop at a threshold:
    // cliff effects, a 0.459 doc dies while 0.461 lives) and q64's
    // flat stratified rates: each doc survives with probability
    // proportional to its quality score, the soft-filtering shape of
    // the CCNet lineage (score-weighted retention keeps SOME low-end
    // mass for diversity while thinning it). Deterministic and
    // RNG-free: keep iff 10000·h3 < 4096·score_bp, where h3 is the
    // first 3 md5 hex digits of doc_id (0..4095, the q64/q120 hash
    // idiom) and score_bp is q240's lexical-diversity score — a pure
    // integer cross-multiply, no modulo bias (P(keep) = score to
    // 1/4096 granularity), identical in both engines. Per source:
    // docs, kept docs, kept share and mean kept score in half-up bp —
    // the report that shows soft sampling preserving the score
    // ORDERING while flattening the cliff. Plan at 100 TB: map-only
    // scoring + hash (no shuffle before the bounded source rollup);
    // zero-kept sources emit 0, not null.
    "q253_soft_quality_sample" -> QueryDef(
      (s, dir) => {
        val toks = tokens(col("text"))
        val scored = table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(toks).cast("long").as("nt"),
            size(array_distinct(toks)).cast("long").as("nd"))
          .filter(col("nt") > 0)
          .withColumn("score_bp",
            expr("(20000 * nd + nt) div (2 * nt)"))
          .withColumn("h3",
            conv(substring(md5(col("doc_id").cast("string")), 1, 3),
              16, 10).cast("long"))
          .withColumn("keep",
            when(expr("10000 * h3 < 4096 * score_bp"), 1L)
              .otherwise(0L))
        scored.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("keep").as("n_kept"),
            sum(expr("keep * score_bp")).as("ks"))
          .select(col("source"), col("n_docs"), col("n_kept"),
            expr("(20000 * n_kept + n_docs) div (2 * n_docs)")
              .as("kept_bp"),
            when(col("n_kept") === 0, 0L)
              .otherwise(expr("(2 * ks + n_kept) div (2 * n_kept)"))
              .as("mean_kept_score_bp"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source,
                  CAST(len(t) AS BIGINT) AS nt,
                  CAST(len(list_distinct(t)) AS BIGINT) AS nd
                FROM (SELECT doc_id, source,
                    list_filter(string_split_regex(text, '\s+'),
                      x -> x <> '') AS t
                  FROM documents) z
                WHERE len(t) > 0),
              sc AS (SELECT source,
                  (20000 * nd + nt) // (2 * nt) AS score_bp,
                  CAST(CAST('0x' ||
                      substring(md5(CAST(doc_id AS VARCHAR)), 1, 3)
                    AS INTEGER) AS BIGINT) AS h3
                FROM d),
              k AS (SELECT source, score_bp,
                  CASE WHEN 10000 * h3 < 4096 * score_bp
                    THEN 1 ELSE 0 END AS keep
                FROM sc)
              SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(keep) AS BIGINT) AS n_kept,
                CAST((20000 * SUM(keep) + COUNT(*)) // (2 * COUNT(*))
                  AS BIGINT) AS kept_bp,
                CAST(CASE WHEN SUM(keep) = 0 THEN 0
                  ELSE (2 * SUM(keep * score_bp) + SUM(keep))
                    // (2 * SUM(keep)) END AS BIGINT)
                  AS mean_kept_score_bp
              FROM k GROUP BY source ORDER BY source""")),

    // Tokenizer-coverage / OOV-rate report: rank the corpus vocabulary
    // by (count DESC, word), fix the top-K as the in-vocab set, then
    // per language report the token share that falls OUTSIDE it — the
    // coverage number a fixed-vocab tokenizer ships with, and the
    // per-language fairness check (a language whose OOV share is high
    // pays more <unk>/byte-fallback tokens per sentence). Counting is
    // all integer; the one ratio is a single exact division rounded at
    // the end. Plan: the vocab agg is vocab-bounded and its top-K is
    // TakeOrdered over that tiny frame; the scoring pass is a map-only
    // explode + BROADCAST membership probe into a bounded-key lang agg
    // — two scans of the fact table, both map-only, at any scale.
    "q134_oov_rate" -> QueryDef(
      (s, dir) => {
        val tok = table(s, dir, "documents")
          .select(col("lang"), explode(tokens(col("text"))).as("w"))
        val vocab = tok.groupBy("w").agg(count(lit(1)).as("cw"))
          .orderBy(desc("cw"), col("w")).limit(OovVocabK)
          .select(col("w"), lit(1L).as("in_v"))
        tok.join(broadcast(vocab), Seq("w"), "left_outer")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"),
            round(sum(when(col("in_v").isNull, 1L).otherwise(0L))
              .cast("double") / count(lit(1)), 4).as("oov_rate"))
          .orderBy("lang")
      },
      Some(s"""WITH tok AS (SELECT lang,
                  UNNEST(list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> '')) AS w
                FROM documents),
              voc AS (SELECT w FROM
                  (SELECT w, COUNT(*) AS cw FROM tok GROUP BY w)
                ORDER BY cw DESC, w LIMIT $OovVocabK)
              SELECT lang, COUNT(*) AS n_tokens,
                CAST(SUM(CASE WHEN w NOT IN (SELECT w FROM voc)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                ROUND(CAST(SUM(CASE WHEN w NOT IN (SELECT w FROM voc)
                  THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS oov_rate
              FROM tok GROUP BY 1 ORDER BY lang""")),

    // Mixture-epoch planner — q104 decides the mixture WEIGHTS; this
    // decides what those weights COST in repetition: for a token budget
    // (here 2× the corpus, the common "train past one epoch" regime)
    // and an equal per-source target share, how many passes over each
    // source does its quota demand? epochs = ceil(quota / available) is
    // the number a data loader actually configures, and sources whose
    // quota exceeds MaxEpochs× their size get flagged — the
    // "up-sampling a tiny source 10× degrades it" guardrail from the
    // data-mixing literature. All arithmetic is integer (ceil = add
    // divisor-1 then div; the up-sampling ratio is half-up scaled
    // hundredths), so both engines agree bit-for-bit. Plan: one
    // map-side-combined token count per source, then a #sources-row
    // frame — the budget "window" is over that bounded frame, not the
    // corpus.
    "q140_mixture_epochs" -> QueryDef(
      (s, dir) => {
        table(s, dir, "documents")
          .select(col("source"),
            size(tokens(col("text"))).cast("long").as("n_tok"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
          .withColumn("quota",
            expr("(2 * sum(n_tokens) over (partition by 1))" +
              " div (count(1) over (partition by 1))").cast("long"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("quota").as("quota_tokens"),
            expr("(quota + n_tokens - 1) div n_tokens").as("epochs"),
            (expr("(200 * quota + n_tokens) div (2 * n_tokens)")
              .cast("double") / 100.0).as("upsample_x"),
            (expr("(quota + n_tokens - 1) div n_tokens") > MaxEpochs)
              .cast("long").as("over_cap"))
          .orderBy("source")
      },
      Some(s"""WITH per AS (SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(LEN(list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> ''))) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source),
              q AS (SELECT source, n_docs, n_tokens,
                  2 * SUM(n_tokens) OVER () // COUNT(*) OVER () AS quota
                FROM per)
              SELECT source, n_docs, n_tokens,
                CAST(quota AS BIGINT) AS quota_tokens,
                CAST((quota + n_tokens - 1) // n_tokens AS BIGINT) AS epochs,
                ((200 * quota + n_tokens) // (2 * n_tokens)) / 100.0
                  AS upsample_x,
                CAST(CASE WHEN (quota + n_tokens - 1) // n_tokens
                  > $MaxEpochs THEN 1 ELSE 0 END AS BIGINT) AS over_cap
              FROM q ORDER BY source""")),

    // Q184: temperature-smoothed multilingual sampling plan — the
    // mBERT/XLM-R exponent trick: sampling languages by their natural
    // token share starves low-resource languages, so production
    // pipelines sample p_l proportional to share^alpha. alpha = 0.5 is
    // the DECLARED temperature because it is the one smoothing exponent
    // whose power function is exact cross-engine (SQRT is a
    // correctly-rounded IEEE op; pow() drifts in the last ulp across
    // libms — the same reason q133/q176 are log-free and q181 is
    // exp-free). Exactness: token counts are exact BIGINTs, sqrt of an
    // integer-valued double is one rounding, the sqrt sum crosses langs
    // as DECIMAL(18,10) (order-free), and every downstream number is a
    // declared chain of single IEEE ops - share first, then scale
    // (t/T * 10000, never 10000*t/T: the pre-scaled numerator exceeds
    // 2^53 at 100 TB token counts). Report per lang: natural vs
    // smoothed share (basis points), the boost factor, and epochs over
    // the lang's own tokens under a declared 1M-token budget. Plan at
    // 100 TB: one corpus scan into a lang-keyed partial agg (~5 rows),
    // then scalar arithmetic on the broadcast totals - nothing else.
    "q184_sampling_temperature" -> QueryDef(
      (s, dir) => {
        val per = table(s, dir, "documents")
          .select(col("lang"),
            size(tokens(col("text"))).cast("long").as("n_tok"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
          .withColumn("sq",
            sqrt(col("n_tokens").cast("double"))
              .cast(org.apache.spark.sql.types.DecimalType(18, 10)))
        val tot = per.agg(
          sum("n_tokens").cast("double").as("tt"),
          sum("sq").cast("double").as("ss"))
        per
          .crossJoin(broadcast(tot))
          .withColumn("nat", col("n_tokens").cast("double") / col("tt"))
          .withColumn("smooth", col("sq").cast("double") / col("ss"))
          .select(col("lang"), col("n_docs"), col("n_tokens"),
            round(col("nat") * lit(10000.0)).cast("long").as("nat_bp"),
            round(col("smooth") * lit(10000.0)).cast("long")
              .as("smooth_bp"),
            round((col("smooth") / col("nat")) * lit(1e6)).cast("long")
              .as("boost_micro"),
            round(((lit(1000000.0) * col("smooth")) /
              col("n_tokens").cast("double")) * lit(1e6)).cast("long")
              .as("epochs_micro"))
          .orderBy("lang")
      },
      // s-interpolated so '\\s+' collapses to the single-backslash
      // regex (plain triple quotes skip escape processing - q140's
      // idiom)
      Some(s"""WITH per AS (SELECT lang, COUNT(*) AS n_docs,
                  CAST(SUM(LEN(list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> ''))) AS BIGINT) AS n_tokens
                FROM documents GROUP BY lang),
              sq AS (SELECT lang, n_docs, n_tokens,
                  CAST(SQRT(CAST(n_tokens AS DOUBLE)) AS DECIMAL(18,10))
                    AS sq
                FROM per),
              tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tt,
                  CAST(SUM(sq) AS DOUBLE) AS ss
                FROM sq),
              sh AS (SELECT lang, n_docs, n_tokens,
                  CAST(n_tokens AS DOUBLE) / tt AS nat,
                  CAST(sq AS DOUBLE) / ss AS smooth
                FROM sq, tot)
              SELECT lang, n_docs, n_tokens,
                CAST(ROUND(nat * 10000.0) AS BIGINT) AS nat_bp,
                CAST(ROUND(smooth * 10000.0) AS BIGINT) AS smooth_bp,
                CAST(ROUND((smooth / nat) * 1000000.0) AS BIGINT)
                  AS boost_micro,
                CAST(ROUND(((1000000.0 * smooth) /
                  CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
                  AS epochs_micro
              FROM sh ORDER BY lang""")),

    // Per-source quality calibration — a quality classifier's raw
    // scores are not comparable ACROSS sources (a clean-books corpus
    // saturates where a web crawl spreads), so production filters rank
    // WITHIN source and keep each source's top quantile rather than
    // applying one global threshold. Score here is the integer
    // stopword-density signal from q31 (basis points, so the ranking
    // key is an exact integer; doc_id breaks ties totally). Keep rule:
    // top ceil(n/4) per source via `4*rn <= n+3` — pure integer
    // comparisons, no percent_rank floats to disagree on. Output: per
    // source, how many survive and the score cutoff that achieved it —
    // the numbers a corpus-quality dashboard tracks release over
    // release. Plan: one shuffle on source for the per-source sort
    // window; per-source row counts are bounded by the largest source
    // (same skew caveat as q111, documented there).
    "q141_quality_calibration" -> QueryDef(
      (s, dir) => {
        val scored = qualitySignals(table(s, dir, "documents"))
          .select(col("doc_id"), col("source"),
            when(col("n_tokens") === 0, 0L)
              .otherwise(expr("(10000 * n_stop) div n_tokens"))
              .as("stop_bps"))
        val wSrc = Window.partitionBy("source")
          .orderBy(desc("stop_bps"), col("doc_id"))
        scored
          .withColumn("rn", row_number().over(wSrc))
          .withColumn("n",
            count(lit(1)).over(Window.partitionBy("source")))
          .filter(col("rn") * 4 <= col("n") + 3)
          .groupBy("source")
          .agg(max("n").cast("long").as("n_docs"),
            count(lit(1)).as("n_kept"),
            min("stop_bps").as("cutoff_bps"))
          .orderBy("source")
      },
      Some(s"""WITH f AS (SELECT doc_id, source,
                  list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> '') AS toks
                FROM documents),
              g AS (SELECT doc_id, source,
                  CAST(LEN(toks) AS BIGINT) AS n_tokens,
                  CAST(LEN(list_filter(toks,
                    x -> x IN ($stopwordsSql))) AS BIGINT) AS n_stop
                FROM f),
              sc AS (SELECT doc_id, source,
                  CASE WHEN n_tokens = 0 THEN 0
                    ELSE (10000 * n_stop) // n_tokens END AS stop_bps
                FROM g),
              r AS (SELECT source, stop_bps,
                  ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY stop_bps DESC, doc_id) AS rn,
                  COUNT(*) OVER (PARTITION BY source) AS n
                FROM sc)
              SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
                COUNT(*) AS n_kept,
                CAST(MIN(stop_bps) AS BIGINT) AS cutoff_bps
              FROM r WHERE rn * 4 <= n + 3
              GROUP BY source ORDER BY source""")),

    // Truncation-loss report — the decision input for choosing a
    // training context length: for each candidate cap, the tokens that
    // fall off the end of over-length documents, per language (docs
    // affected, lost volume, loss share in integer basis points).
    // q70/q71 chunk and pack AT a chosen length; this is the scan run
    // BEFORE choosing it. Plan: one map-only tokenize projects the
    // corpus to a skinny (lang, tok) frame, the cap explode triples
    // only that two-column stream (never the text), and the rollup is
    // a bounded (caps × langs)-key aggregation with map-side partials.
    // All-integer arithmetic (half-up bps) ⇒ hash-exact.
    "q155_truncation_loss" -> QueryDef(
      (s, dir) => {
        table(s, dir, "documents")
          .select(col("lang"),
            size(tokens(col("text"))).cast("long").as("tok"))
          .select(col("lang"), col("tok"),
            explode(array(lit(32L), lit(64L), lit(96L))).as("cap"))
          .groupBy("cap", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("tok").as("total_tokens"),
            sum(when(col("tok") > col("cap"), col("tok") - col("cap"))
              .otherwise(0L)).as("lost_tokens"),
            sum((col("tok") > col("cap")).cast("long")).as("n_truncated"))
          .withColumn("loss_bps",
            expr("(10000 * lost_tokens * 2 + total_tokens)" +
              " div (2 * total_tokens)"))
          .orderBy("cap", "lang")
      },
      Some("""WITH f AS (SELECT lang,
                  CAST(LEN(list_filter(string_split_regex(text, '\s+'),
                    x -> x <> '')) AS BIGINT) AS tok
                FROM documents),
              x AS (SELECT lang, tok, CAST(c.cap AS BIGINT) AS cap
                FROM f, (VALUES (32), (64), (96)) c(cap)),
              a AS (SELECT cap, lang, COUNT(*) AS n_docs,
                  CAST(SUM(tok) AS BIGINT) AS total_tokens,
                  CAST(SUM(CASE WHEN tok > cap THEN tok - cap ELSE 0 END)
                    AS BIGINT) AS lost_tokens,
                  CAST(SUM(CASE WHEN tok > cap THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_truncated
                FROM x GROUP BY 1, 2)
              SELECT cap, lang, n_docs, total_tokens, lost_tokens,
                n_truncated,
                (10000 * lost_tokens * 2 + total_tokens)
                  // (2 * total_tokens) AS loss_bps
              FROM a ORDER BY cap, lang""")),

    // BPE merge-candidate scan — the first iteration of byte-pair-
    // encoding tokenizer training at corpus scale: the top-20 adjacent
    // character pairs inside words, weighted by word occurrence (count
    // desc, pair tie-break). The scale discipline is the same one real
    // BPE trainers use: aggregate the corpus to its word DICTIONARY
    // first (vocab-bounded state, one partial-agg shuffle over the
    // token stream), then explode character pairs over the dictionary
    // only — pair statistics never touch corpus-sized data again, and
    // every later merge iteration reruns on the same bounded frame.
    "q156_bpe_pairs" -> QueryDef(
      (s, dir) => {
        table(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt"))
          .filter(length(col("word")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, char_length(word) - 1)," +
              " i -> substring(word, i, 2))")).as("pair"),
            col("cnt"))
          .groupBy("pair").agg(sum("cnt").as("n"))
          .orderBy(desc("n"), col("pair"))
          .limit(20)
      },
      Some("""WITH w AS (SELECT t AS word, COUNT(*) AS cnt
                FROM (SELECT UNNEST(list_filter(
                        string_split_regex(text, '\s+'), x -> x <> '')) AS t
                      FROM documents) z
                GROUP BY 1),
              p AS (SELECT substring(word, CAST(i AS INT), 2) AS pair, cnt
                FROM (SELECT word, cnt,
                        UNNEST(range(1, length(word))) AS i
                      FROM w WHERE length(word) >= 2) e)
              SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n
              FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""")),

    // Cross-language duplicate labels — label-noise QA on the metadata,
    // not the text: normalized-identical documents (q113's
    // lowercase/whitespace-collapse rule, one definition) whose copies
    // carry MORE THAN ONE lang label. Identical bytes cannot be two
    // languages — every such group is a labeling bug (or a langid
    // disagreement) that would leak mislabeled docs through per-lang
    // quality gates and per-lang mixing weights. Per lang: groups
    // involved and docs involved. Plan: ONE partial-agg shuffle on the
    // normalized text key, the conflicted-group frame is tiny and
    // joins back on the text key to attribute per-lang counts.
    // Fixture note (q136's pattern): the synthetic corpus has no
    // natural byte-identical texts below sf0.1, so the conflicted
    // branch would be vacuously empty at the oracle SF — the declared
    // input therefore includes a RE-ANNOTATED copy of every 9th doc
    // (same text, lang label cycled to the next language) standing in
    // for the second annotation pipeline that disagrees.
    "q162_crosslang_dups" -> QueryDef(
      (s, dir) => {
        val base = table(s, dir, "documents").select("doc_id", "text", "lang")
        val relabeled = base.filter(col("doc_id") % 9 === 0)
          .withColumn("lang",
            when(col("lang") === "en", "de").when(col("lang") === "de", "es")
              .when(col("lang") === "es", "fr").when(col("lang") === "fr", "zh")
              .otherwise("en"))
        val d = base.unionByName(relabeled)
          .withColumn("norm",
            regexp_replace(trim(lower(col("text"))), "\\s+", " "))
        val conflicted = d.groupBy("norm")
          .agg(countDistinct(col("lang")).as("n_langs"))
          .filter(col("n_langs") >= 2)
          .select("norm")
        d.join(conflicted, Seq("norm"))
          .groupBy("lang")
          .agg(countDistinct(col("norm")).as("n_groups"),
            count(lit(1)).as("n_docs"))
          .orderBy("lang")
      },
      Some("""WITH u AS (SELECT doc_id, text, lang FROM documents
                UNION ALL
                SELECT doc_id, text,
                  CASE lang WHEN 'en' THEN 'de' WHEN 'de' THEN 'es'
                    WHEN 'es' THEN 'fr' WHEN 'fr' THEN 'zh'
                    ELSE 'en' END
                FROM documents WHERE doc_id % 9 = 0),
              d AS (SELECT doc_id, lang,
                  regexp_replace(trim(lower(text)), '\s+', ' ', 'g')
                    AS norm
                FROM u),
              cf AS (SELECT norm FROM d GROUP BY norm
                     HAVING COUNT(DISTINCT lang) >= 2)
              SELECT d.lang, COUNT(DISTINCT d.norm) AS n_groups,
                COUNT(*) AS n_docs
              FROM d JOIN cf ON d.norm = cf.norm
              GROUP BY 1 ORDER BY d.lang""")),

    // Quality drift across INGEST ORDER — q109 compares two snapshot
    // versions; this slices ONE corpus into ten doc_id deciles (ids
    // arrive roughly in crawl order) and tracks the q31 badness score
    // (stopword share in integer bps — CONTINUOUS, so the scan cannot
    // degenerate the way a permissive pass/fail gate does) per decile:
    // mean (integer half-up) and worst. A rising tail decile means the
    // crawl frontier is degrading BEFORE the next version ships.
    // Decile assignment is (doc_id·10) div (max_id+1) — no sort, no
    // window, partitioning-invariant; the 1-row max broadcasts (q146's
    // scalar pattern). One corpus pass into a ≤10-key rollup.
    "q164_quality_drift" -> QueryDef(
      (s, dir) => {
        val sig = qualitySignals(table(s, dir, "documents"))
          .withColumn("badness",
            when(col("n_tokens") === 0, 10000L)
              .otherwise(expr("(20000*n_stop + n_tokens) div (2*n_tokens)")))
          .select("doc_id", "badness")
        val mx = table(s, dir, "documents").agg(max("doc_id").as("mx"))
        sig.crossJoin(broadcast(mx))
          .withColumn("decile", expr("(doc_id * 10) div (mx + 1)"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_docs"),
            sum("badness").as("bsum"),
            max("badness").as("worst_badness"))
          .select(col("decile"), col("n_docs"),
            expr("(bsum * 2 + n_docs) div (2 * n_docs)")
              .as("mean_badness"),
            col("worst_badness"))
          .orderBy("decile")
      },
      Some(s"""WITH f AS (SELECT doc_id,
                  list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> '') AS toks
                FROM documents),
              g AS (SELECT doc_id,
                  CAST(LEN(toks) AS BIGINT) AS nt,
                  CAST(LEN(list_filter(toks,
                    x -> x IN ($stopwordsSql))) AS BIGINT) AS ns
                FROM f),
              b AS (SELECT doc_id,
                  CASE WHEN nt = 0 THEN 10000
                    ELSE (20000 * ns + nt) // (2 * nt) END AS badness
                FROM g),
              d AS (SELECT (doc_id * 10) //
                  ((SELECT MAX(doc_id) FROM documents) + 1) AS decile,
                  badness
                FROM b),
              a AS (SELECT decile, COUNT(*) AS n_docs,
                  CAST(SUM(badness) AS BIGINT) AS bsum,
                  CAST(MAX(badness) AS BIGINT) AS worst_badness
                FROM d GROUP BY 1)
              SELECT CAST(decile AS BIGINT) AS decile, n_docs,
                (bsum * 2 + n_docs) // (2 * n_docs) AS mean_badness,
                worst_badness
              FROM a ORDER BY decile""")),

    // PII detection & scrub audit — the privacy pass every training
    // corpus runs before release: find documents carrying emails, IPv4
    // addresses, or long digit runs (phone-ish), redact them, and
    // report per-lang exposure plus a scrub-completeness bit. The
    // patterns are the dialect-shared regex subset (character classes,
    // bounded repetition, \b — identical semantics in Java regex and
    // DuckDB's RE2; no lookarounds, no backrefs), so both engines
    // count and redact identically. Declared fixture: every 13th doc
    // gains one synthetic email + IP + phone (the corpus carries no
    // natural PII, q163's fixture discipline), so both branches are
    // live and the scrubbed bit is earned, not vacuous. Redaction is
    // regexp_replace to fixed tokens; scrubbed_ok asserts ZERO
    // residual matches after the replace — the property a privacy
    // audit actually needs. Plan at 100 TB: pure map-only regex
    // projections (codegen'd string ops, no UDF) into a bounded
    // per-lang rollup with map-side partials; nothing joins, nothing
    // shuffles but the skinny partial-agg rows.
    "q167_pii_scrub" -> QueryDef(
      (s, dir) => {
        // no Q.spread, by measurement (r18): the profile's 1.4 s
        // single-task regex stage is a cold-JIT artifact — the paired
        // warm A/B read flat (1.19 vs 1.23 s), so the exchange of the
        // full text column buys nothing
        val t = table(s, dir, "documents")
          .withColumn("text2", piiFixture(col("doc_id"), col("text")))
        t.select(col("lang"),
            (regexp_count(col("text2"), lit(PiiEmail)) > 0)
              .cast("long").as("has_email"),
            (regexp_count(col("text2"), lit(PiiIp)) > 0)
              .cast("long").as("has_ip"),
            (regexp_count(col("text2"), lit(PiiSepPhone)) +
              regexp_count(col("text2"), lit(PiiE164)) +
              regexp_count(col("text2"), lit(PiiPhone)) > 0)
              .cast("long").as("has_phone"),
            regexp_count(col("text2"), lit(PiiCard)).cast("long")
              .as("n_card_cand"),
            (luhnValidCount(col("text2")) > 0).cast("long").as("has_card"),
            piiCount(col("text2")).cast("long").as("n_hits"),
            (piiCount(piiScrub(col("text2"))) === 0)
              .cast("long").as("clean"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("has_email").as("docs_with_email"),
            sum("has_ip").as("docs_with_ip"),
            sum("has_phone").as("docs_with_phone"),
            sum("n_card_cand").as("card_candidates"),
            sum("has_card").as("docs_with_card"),
            sum("n_hits").as("total_pii_hits"),
            min("clean").as("scrubbed_ok"))
          .orderBy("lang")
      },
      Some("""WITH t AS (SELECT doc_id, lang,
                  CASE WHEN doc_id % 13 = 2 THEN text || ' contact user' ||
                      CAST(doc_id AS VARCHAR) || '@example.com from 10.0.' ||
                      CAST(doc_id % 256 AS VARCHAR) || '.7 call 55512' ||
                      lpad(CAST(doc_id % 100000 AS VARCHAR), 5, '0') ||
                      ' card 4111 1111 1111 1111 tel 555-0123-' ||
                      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
                      ' or +3780' ||
                      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                    WHEN doc_id % 13 = 7 THEN
                      text || ' acct 4111111111111112'
                    ELSE text END AS text2
                FROM documents),
              pat AS (SELECT
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}' AS email,
                  '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b' AS ip,
                  '\b[0-9]{4}([ -]?[0-9]{4}){3}\b' AS card,
                  '\b[0-9]{3}[ -][0-9]{3,4}[ -][0-9]{4}\b' AS sep,
                  '\+[1-9][0-9]{6,14}' AS e164,
                  '\b[0-9]{7,15}\b' AS phone),
              cards AS (SELECT doc_id,
                  UNNEST(regexp_extract_all(text2, (SELECT card FROM pat)))
                    AS cand
                FROM t),
              ld AS (SELECT doc_id,
                  reverse(regexp_replace(cand, '[ -]', '', 'g')) AS dg
                FROM cards),
              lu AS (SELECT doc_id,
                  CASE WHEN list_sum([CASE WHEN i % 2 = 0 THEN
                        CASE WHEN 2 * CAST(substring(dg, i, 1) AS INT) > 9
                             THEN 2 * CAST(substring(dg, i, 1) AS INT) - 9
                             ELSE 2 * CAST(substring(dg, i, 1) AS INT) END
                      ELSE CAST(substring(dg, i, 1) AS INT) END
                      for i in range(1, len(dg) + 1)]) % 10 = 0
                    THEN 1 ELSE 0 END AS ok
                FROM ld),
              lc AS (SELECT doc_id, SUM(ok) AS n_luhn FROM lu GROUP BY 1),
              d AS (SELECT t.doc_id, lang,
                  len(regexp_extract_all(text2, (SELECT email FROM pat)))
                    AS ne,
                  len(regexp_extract_all(text2, (SELECT ip FROM pat))) AS ni,
                  len(regexp_extract_all(text2, (SELECT card FROM pat)))
                    AS nc,
                  len(regexp_extract_all(text2, (SELECT sep FROM pat)))
                    AS nsep,
                  len(regexp_extract_all(text2, (SELECT e164 FROM pat)))
                    AS n164,
                  len(regexp_extract_all(text2, (SELECT phone FROM pat)))
                    AS np,
                  COALESCE(lc.n_luhn, 0) AS n_luhn,
                  regexp_replace(regexp_replace(regexp_replace(
                    regexp_replace(regexp_replace(regexp_replace(text2,
                    (SELECT email FROM pat), '<EMAIL>', 'g'),
                    (SELECT ip FROM pat), '<IP>', 'g'),
                    (SELECT card FROM pat), '<CARD>', 'g'),
                    (SELECT sep FROM pat), '<PHONE>', 'g'),
                    (SELECT e164 FROM pat), '<PHONE>', 'g'),
                    (SELECT phone FROM pat), '<NUM>', 'g') AS sc
                FROM t LEFT JOIN lc ON lc.doc_id = t.doc_id),
              e AS (SELECT lang, ne, ni, nc, nsep, n164, np, n_luhn,
                  len(regexp_extract_all(sc, (SELECT email FROM pat))) +
                  len(regexp_extract_all(sc, (SELECT ip FROM pat))) +
                  len(regexp_extract_all(sc, (SELECT card FROM pat))) +
                  len(regexp_extract_all(sc, (SELECT sep FROM pat))) +
                  len(regexp_extract_all(sc, (SELECT e164 FROM pat))) +
                  len(regexp_extract_all(sc, (SELECT phone FROM pat)))
                    AS resid
                FROM d)
              SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN ne > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS docs_with_email,
                CAST(SUM(CASE WHEN ni > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS docs_with_ip,
                CAST(SUM(CASE WHEN nsep + n164 + np > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS docs_with_phone,
                CAST(SUM(nc) AS BIGINT) AS card_candidates,
                CAST(SUM(CASE WHEN n_luhn > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS docs_with_card,
                CAST(SUM(ne + ni + nc + nsep + n164 + np) AS BIGINT)
                  AS total_pii_hits,
                CAST(MIN(CASE WHEN resid = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS scrubbed_ok
              FROM e GROUP BY lang ORDER BY lang""")),

    // Gopher-style document-quality rules with PER-RULE attribution
    // (Rae et al. 2021, MassiveText §A.1.1): q91 answers "how many
    // docs survive the gate"; this answers the question a pipeline
    // operator actually debugs — WHICH rule is killing documents in
    // which language slice. Five rules, every one an integer
    // comparison (engine-exact, no rounding anywhere): word count in
    // [40, 100k] (Gopher's 50 scaled to the short synthetic docs),
    // mean word length in [3, 10] as 3·n ≤ Σlen ≤ 10·n, symbol-to-word
    // ratio < 0.1 (hash / ellipsis marks) as 10·n_sym < n, alphabetic
    // word fraction ≥ 0.8 as 5·n_alpha ≥ 4·n, and ≥ 2 distinct
    // stopwords (the q31 lexicon, one definition). The corpus
    // exercises rules 1 and 5 genuinely (169 short docs, 183 docs with
    // < 2 stopwords); rules 2–4 get the q167-style declared fixture —
    // every 19th doc (mod 5 / mod 11) gains a long-word / 1-char-word
    // tail, every 23rd a '#' run, every 29th a digit-token run — so
    // both branches of every rule are live and the attribution is
    // earned. Plan at 100 TB: map-only tokenize + counts (codegen'd
    // higher-order functions, no explode — the token array never
    // leaves its row) into a bounded per-lang rollup with map-side
    // partials; ONE shuffle of skinny partial rows total.
    "q170_gopher_rules" -> QueryDef(
      (s, dir) => {
        val t = table(s, dir, "documents")
          .withColumn("text2", gopherFixture(col("doc_id"), col("text")))
          .withColumn("toks", tokens(col("text2")))
          .withColumn("nt", size(col("toks")).cast("long"))
          .withColumn("sumlen",
            length(regexp_replace(col("text2"), "\\s", "")).cast("long"))
          .withColumn("nsym",
            (regexp_count(col("text2"), lit("#")) +
              regexp_count(col("text2"), lit("\\.\\.\\."))).cast("long"))
          .withColumn("nalpha",
            size(filter(col("toks"), x => x.rlike("[A-Za-z]"))).cast("long"))
          .withColumn("nstop",
            size(array_distinct(filter(col("toks"),
              x => x.isin(stopwords: _*)))).cast("long"))
          .withColumn("p1",
            (col("nt") >= 40 && col("nt") <= 100000L).cast("long"))
          .withColumn("p2", (col("nt") * 3 <= col("sumlen") &&
            col("sumlen") <= col("nt") * 10).cast("long"))
          .withColumn("p3", (col("nsym") * 10 < col("nt")).cast("long"))
          .withColumn("p4",
            (col("nalpha") * 5 >= col("nt") * 4).cast("long"))
          .withColumn("p5", (col("nstop") >= 2).cast("long"))
        t.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(lit(1) - col("p1")).as("fail_words"),
            sum(lit(1) - col("p2")).as("fail_word_len"),
            sum(lit(1) - col("p3")).as("fail_symbol"),
            sum(lit(1) - col("p4")).as("fail_alpha"),
            sum(lit(1) - col("p5")).as("fail_stopword"),
            sum(col("p1") * col("p2") * col("p3") * col("p4") * col("p5"))
              .as("survivors"))
          .withColumn("survival_bp",
            expr("(survivors * 20000 + n_docs) div (2 * n_docs)"))
          .orderBy("lang")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang,
                  text ||
                    CASE WHEN doc_id % 19 = 5 THEN ' ' ||
                        rtrim(repeat('pneumonoultramicroscopy ', 60))
                      WHEN doc_id % 19 = 11 THEN ' ' ||
                        rtrim(repeat('x ', 120)) ELSE '' END ||
                    CASE WHEN doc_id % 23 = 1 THEN ' ' ||
                        rtrim(repeat('# ', 12)) ELSE '' END ||
                    CASE WHEN doc_id % 29 = 3 THEN ' ' ||
                        rtrim(repeat('4096 ', 30)) ELSE '' END AS text2
                FROM documents),
              g AS (SELECT lang,
                  list_filter(string_split_regex(text2, '\\s+'),
                    x -> x <> '') AS toks,
                  CAST(LENGTH(regexp_replace(text2, '\\s', '', 'g'))
                    AS BIGINT) AS sumlen,
                  CAST(len(regexp_extract_all(text2, '#')) +
                    len(regexp_extract_all(text2, '\\.\\.\\.'))
                    AS BIGINT) AS nsym
                FROM t),
              s AS (SELECT lang, sumlen, nsym,
                  CAST(LEN(toks) AS BIGINT) AS nt,
                  CAST(LEN(list_filter(toks,
                    x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
                    AS nalpha,
                  CAST(LEN(list_distinct(list_filter(toks,
                    x -> x IN ($stopwordsSql)))) AS BIGINT) AS nstop
                FROM g),
              p AS (SELECT lang,
                  CASE WHEN nt >= 40 AND nt <= 100000 THEN 1 ELSE 0 END
                    AS p1,
                  CASE WHEN 3 * nt <= sumlen AND sumlen <= 10 * nt
                    THEN 1 ELSE 0 END AS p2,
                  CASE WHEN 10 * nsym < nt THEN 1 ELSE 0 END AS p3,
                  CASE WHEN 5 * nalpha >= 4 * nt THEN 1 ELSE 0 END AS p4,
                  CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS p5
                FROM s)
              SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(1 - p1) AS BIGINT) AS fail_words,
                CAST(SUM(1 - p2) AS BIGINT) AS fail_word_len,
                CAST(SUM(1 - p3) AS BIGINT) AS fail_symbol,
                CAST(SUM(1 - p4) AS BIGINT) AS fail_alpha,
                CAST(SUM(1 - p5) AS BIGINT) AS fail_stopword,
                CAST(SUM(p1 * p2 * p3 * p4 * p5) AS BIGINT) AS survivors,
                CAST((SUM(p1 * p2 * p3 * p4 * p5) * 20000 + COUNT(*)) //
                  (2 * COUNT(*)) AS BIGINT) AS survival_bp
              FROM p GROUP BY lang ORDER BY lang""")),

    // The remaining MassiveText repetition rules (Rae et al. 2021
    // §A.1.1; VERDICT r12 ask #5) — q170 carries the five
    // quality-shape rules, this carries the REPETITION family over
    // the shared q171/q173 line definition: duplicate-line fraction
    // (≥ 0.30 of lines are repeats of an earlier line), ellipsis-line
    // ratio (≥ 0.30 of lines end '...'), bullet-line ratio (≥ 0.90 of
    // lines start '- '), and top-bigram character share (the most
    // frequent adjacent token pair — count desc, bigram lexicographic
    // on ties — covers ≥ 0.18 of non-space characters). All four
    // gates are integer cross-multiplications; coverage = occurrences
    // × (len(w1)+len(w2)) over summed token chars, declared exactly.
    // Fixture (the q167/q171 discipline — each plant keeps one rule
    // live at every SF): doc_id % 53 = 8 re-appends ⌈(nl+1)/2⌉ copies
    // of line 1, % 59 = 13 suffixes every line with '...', % 61 = 17
    // prefixes every line with '- ', % 67 = 21 appends ONE long
    // 'foo bar'×4nl line (distinct — it trips only the bigram rule).
    // Per-rule attribution counts are non-exclusive, like q170's.
    // Plan at 100 TB: line stats are in-row HOFs (map-only); the
    // bigram top-1 is one (doc_id, bg) partial-agg shuffle of the
    // token stream plus two skinny per-doc aggs — no window, no sort;
    // the per-lang rollup ends it.
    "q193_gopher_repetition" -> QueryDef(
      (s, dir) => {
        // spread the one-split scan before the per-row line/token HOF
        // cascade (r17): the fixture + tokenize + bigram build below
        // otherwise run single-task and the persist pins 1 partition
        val base = Q.spread(table(s, dir, "documents"))
          .withColumn("lines", gopherRepFixture(col("doc_id"),
            c4Lines(col("doc_id"), col("text"))))
          .withColumn("nl", size(col("lines")).cast("long"))
          .withColumn("toksd",
            flatten(transform(col("lines"), l => tokens(l))))
          .withColumn("sumlen", aggregate(col("toksd"), lit(0L),
            (a, x) => a + length(x).cast("long")))
          .withColumn("ndup",
            (col("nl") - size(array_distinct(col("lines")))).cast("long"))
          .withColumn("nell",
            size(filter(col("lines"), l => l.endsWith("...")))
              .cast("long"))
          .withColumn("nbul",
            size(filter(col("lines"), l => l.startsWith("- ")))
              .cast("long"))
          .managedPersist
        val bg = base.select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("toksd")) - 1),
            i => concat(element_at(col("toksd"), i), lit(" "),
              element_at(col("toksd"), i + 1)))).as("bg"))
        val cnts = bg.groupBy("doc_id", "bg")
          .agg(count(lit(1)).as("cnt"))
        // top-1 with the declared (cnt DESC, bg ASC) tie-break in ONE
        // aggregation: min over struct(-cnt, bg) orders by largest
        // count first (negated long), then lexicographically smallest
        // bigram — replacing the per-doc max + join-back (a second
        // full shuffle of the bigram counts) with a partial-aggregable
        // min (r18)
        val top = cnts.groupBy("doc_id")
          .agg(min(struct((-col("cnt")).as("nc"), col("bg"))).as("m"))
          .select(col("doc_id"), col("m.bg").as("top_bg"),
            (-col("m.nc")).as("mx"))
        base.join(top, Seq("doc_id"), "left")
          .withColumn("cov", coalesce(
            (length(col("top_bg")) - 1).cast("long") * col("mx"),
            lit(0L)))
          .withColumn("f_dup",
            (col("ndup") * 10 >= col("nl") * 3).cast("long"))
          .withColumn("f_ell",
            (col("nell") * 10 >= col("nl") * 3).cast("long"))
          .withColumn("f_bul",
            (col("nbul") * 10 >= col("nl") * 9).cast("long"))
          .withColumn("f_bg",
            (col("cov") * 50 >= col("sumlen") * 9).cast("long"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("f_dup").as("fail_dup_lines"),
            sum("f_ell").as("fail_ellipsis"),
            sum("f_bul").as("fail_bullet"),
            sum("f_bg").as("fail_top_bigram"),
            sum((lit(1) - col("f_dup")) * (lit(1) - col("f_ell")) *
              (lit(1) - col("f_bul")) * (lit(1) - col("f_bg")))
              .as("survivors"))
          .withColumn("survival_bp",
            expr("(survivors * 20000 + n_docs) div (2 * n_docs)"))
          .orderBy("lang")
      },
      Some(s"""WITH $c4LinesCteSql,
              lr AS (SELECT doc_id, lang,
                  CASE WHEN doc_id % 67 = 21 THEN list_append(l3,
                      array_to_string(list_transform(
                        range(1, len(l3) * 4 + 1), i -> 'foo bar'), ' '))
                    ELSE l3 END AS lines
                FROM (SELECT doc_id, lang,
                    CASE WHEN doc_id % 61 = 17
                      THEN list_transform(l2, l -> '- ' || l)
                      ELSE l2 END AS l3
                  FROM (SELECT doc_id, lang,
                      CASE WHEN doc_id % 59 = 13
                        THEN list_transform(l1, l -> l || '...')
                        ELSE l1 END AS l2
                    FROM (SELECT doc_id, lang,
                        CASE WHEN doc_id % 53 = 8 THEN lines ||
                            list_transform(
                              range(1, (len(lines) + 1) // 2 + 1),
                              i -> lines[1])
                          ELSE lines END AS l1
                      FROM t)))),
              st AS (SELECT doc_id, lang,
                  CAST(LEN(lines) AS BIGINT) AS nl,
                  flatten(list_transform(lines, l ->
                    list_filter(string_split_regex(l, '\\s+'),
                      x -> x <> ''))) AS toksd,
                  CAST(LEN(lines) - LEN(list_distinct(lines)) AS BIGINT)
                    AS ndup,
                  CAST(LEN(list_filter(lines, l ->
                    ends_with(l, '...'))) AS BIGINT) AS nell,
                  CAST(LEN(list_filter(lines, l ->
                    starts_with(l, '- '))) AS BIGINT) AS nbul
                FROM lr),
              sl AS (SELECT doc_id, lang, nl, ndup, nell, nbul, toksd,
                  CAST(COALESCE(list_aggregate(
                    list_transform(toksd, x -> LENGTH(x)), 'sum'), 0)
                    AS BIGINT) AS sumlen
                FROM st),
              bgx AS (SELECT doc_id,
                  UNNEST(list_transform(range(1, len(toksd)),
                    i -> toksd[i] || ' ' || toksd[i+1])) AS bg
                FROM sl),
              bc AS (SELECT doc_id, bg, COUNT(*) AS cnt
                     FROM bgx GROUP BY 1, 2),
              bm AS (SELECT doc_id, MAX(cnt) AS mx FROM bc GROUP BY 1),
              bt AS (SELECT bc.doc_id, MIN(bc.bg) AS top_bg,
                       MAX(bc.cnt) AS mx
                     FROM bc JOIN bm
                       ON bc.doc_id = bm.doc_id AND bc.cnt = bm.mx
                     GROUP BY 1),
              r AS (SELECT sl.lang,
                  CASE WHEN ndup * 10 >= nl * 3 THEN 1 ELSE 0 END
                    AS f_dup,
                  CASE WHEN nell * 10 >= nl * 3 THEN 1 ELSE 0 END
                    AS f_ell,
                  CASE WHEN nbul * 10 >= nl * 9 THEN 1 ELSE 0 END
                    AS f_bul,
                  -- LENGTH (chars), not strlen (bytes): the Spark side
                  -- counts characters, and byte-ratio != char-ratio on
                  -- any multi-byte token
                  CASE WHEN COALESCE((LENGTH(top_bg) - 1) * mx, 0) * 50
                    >= sumlen * 9 THEN 1 ELSE 0 END AS f_bg
                FROM sl LEFT JOIN bt ON sl.doc_id = bt.doc_id)
              SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(f_dup) AS BIGINT) AS fail_dup_lines,
                CAST(SUM(f_ell) AS BIGINT) AS fail_ellipsis,
                CAST(SUM(f_bul) AS BIGINT) AS fail_bullet,
                CAST(SUM(f_bg) AS BIGINT) AS fail_top_bigram,
                CAST(SUM((1 - f_dup) * (1 - f_ell) * (1 - f_bul) *
                  (1 - f_bg)) AS BIGINT) AS survivors,
                CAST((SUM((1 - f_dup) * (1 - f_ell) * (1 - f_bul) *
                    (1 - f_bg)) * 20000 + COUNT(*)) // (2 * COUNT(*))
                  AS BIGINT) AS survival_bp
              FROM r GROUP BY lang ORDER BY lang""")),

    // C4-style line-level cleaning (Raffel et al. 2020, §2.2) — the
    // other half of the quality surface: q91/q170 gate whole
    // documents; C4's recipe edits INSIDE them (keep only lines that
    // end in terminal punctuation, have ≥ 5 words, and don't mention
    // javascript; then drop any page with a curly brace, 'lorem
    // ipsum', or fewer than 3 surviving lines). The corpus is flat
    // word soup, so line structure is a declared fixture (q167's
    // discipline): tokens fold into 8-token lines, every (doc_id +
    // line) % 3 ≠ 0 line gains a terminal '.', every 11th doc a
    // 'javascript' word on line 0, every 31st a '{' on line 1, every
    // 41st an appended 'lorem ipsum' line — all four kill-reasons and
    // the short-last-line < 5-words case are live, and the rules read
    // the constructed TEXT (not the plant residues), so the oracle
    // checks the filter, not the fixture. Per-lang attribution: which
    // doc rule fired, lines in/kept, surviving token volume. Plan at
    // 100 TB: the line array never leaves its row — build, score, and
    // fold entirely in codegen'd higher-order functions (no explode,
    // no joins), ONE skinny per-lang partial-agg shuffle.
    "q171_line_filter" -> QueryDef(
      (s, dir) => {
        def nw(l: Column): Column = size(tokens(l)).cast("long")
        def keptBit(l: Column): Column =
          l.rlike("[.!?\"]$") && nw(l) >= 5 && !l.contains("javascript")
        // spread the one-split scan before the per-row line HOF
        // cascade (r18, the q173/q193 discipline): the per-line rlike
        // + token counts otherwise run on a single scan task
        val t = Q.spread(table(s, dir, "documents"))
          .withColumn("lines", c4Lines(col("doc_id"), col("text")))
          .withColumn("lines_in", size(col("lines")).cast("long"))
          .withColumn("kept_lines",
            size(filter(col("lines"), l => keptBit(l))).cast("long"))
          .withColumn("has_brace",
            exists(col("lines"), l => l.contains("{")).cast("long"))
          .withColumn("has_lorem",
            exists(col("lines"), l => l.contains("lorem ipsum"))
              .cast("long"))
          .withColumn("few_lines", (col("kept_lines") < 3).cast("long"))
          .withColumn("doc_pass",
            (col("has_brace") === 0 && col("has_lorem") === 0 &&
              col("kept_lines") >= 3).cast("long"))
          .withColumn("toks_kept",
            aggregate(col("lines"), lit(0L),
              (acc, l) => acc + when(keptBit(l), nw(l)).otherwise(0L)))
        t.groupBy("lang")
          .agg(count(lit(1)).as("docs_in"),
            sum("has_brace").as("docs_brace"),
            sum("has_lorem").as("docs_lorem"),
            sum("few_lines").as("docs_few_lines"),
            sum("doc_pass").as("docs_out"),
            sum("lines_in").as("lines_in"),
            sum("kept_lines").as("lines_kept"),
            sum(col("doc_pass") * col("toks_kept")).as("tokens_out"))
          .orderBy("lang")
      },
      Some(s"""WITH $c4LinesCteSql,
              e AS (SELECT doc_id, lang, UNNEST(lines) AS line FROM t),
              k AS (SELECT doc_id, lang, line,
                  CAST(LEN(list_filter(string_split_regex(line, '\\s+'),
                    x -> x <> '')) AS BIGINT) AS nw,
                  CASE WHEN regexp_matches(line, '[.!?"]$$')
                    AND LEN(list_filter(string_split_regex(line, '\\s+'),
                      x -> x <> '')) >= 5
                    AND NOT contains(line, 'javascript')
                    THEN 1 ELSE 0 END AS kept
                FROM e),
              d AS (SELECT doc_id, lang, COUNT(*) AS lines_in,
                  SUM(kept) AS kept_lines,
                  MAX(CASE WHEN contains(line, '{') THEN 1 ELSE 0 END)
                    AS has_brace,
                  MAX(CASE WHEN contains(line, 'lorem ipsum')
                    THEN 1 ELSE 0 END) AS has_lorem,
                  SUM(kept * nw) AS toks_kept
                FROM k GROUP BY 1, 2),
              f AS (SELECT lang, lines_in, kept_lines, has_brace,
                  has_lorem,
                  CASE WHEN kept_lines < 3 THEN 1 ELSE 0 END AS few_lines,
                  CASE WHEN has_brace = 0 AND has_lorem = 0
                    AND kept_lines >= 3 THEN 1 ELSE 0 END AS doc_pass,
                  toks_kept
                FROM d)
              SELECT lang, COUNT(*) AS docs_in,
                CAST(SUM(has_brace) AS BIGINT) AS docs_brace,
                CAST(SUM(has_lorem) AS BIGINT) AS docs_lorem,
                CAST(SUM(few_lines) AS BIGINT) AS docs_few_lines,
                CAST(SUM(doc_pass) AS BIGINT) AS docs_out,
                CAST(SUM(lines_in) AS BIGINT) AS lines_in,
                CAST(SUM(kept_lines) AS BIGINT) AS lines_kept,
                CAST(SUM(doc_pass * toks_kept) AS BIGINT) AS tokens_out
              FROM f GROUP BY lang ORDER BY lang""")),

    // Cross-document exact LINE dedup (RefinedWeb/CCNet's boilerplate
    // cut): a line whose exact text recurs in ≥ 3 distinct documents
    // is boilerplate (nav bars, footers, subscribe prompts) and is
    // removed from every occurrence EXCEPT one — the keep-one-global
    // rule of the span-removal family (q168) at line granularity,
    // where q171 filters lines by local shape and this one by corpus
    // evidence. Line structure is q171's declared fixture (ONE
    // definition, [[c4Lines]] / the shared SQL CTE) — whose 'lorem
    // ipsum' line is already a natural cross-doc duplicate — plus a
    // second planted boilerplate line on every 5th doc, giving two
    // distinct document frequencies; word-soup lines elsewhere have
    // df = 1 and stay. Per-lang report: docs touched, boilerplate
    // lines seen, line/token removal volume. Plan at 100 TB: one
    // generator explode into a (line, doc) partial agg, a line-keyed
    // agg whose df ≥ 3 HAVING bounds the join-back side to TRUE
    // boilerplate (small ⇒ broadcast), and a bounded per-lang rollup;
    // the corpus shuffles once on the line key — the same cost shape
    // as q22's exact dedup.
    "q173_line_dedup" -> QueryDef(
      (s, dir) => {
        // spread the one-split scan before the per-row line fixture +
        // explode (r17; no-op at scale by the Q.spread contract)
        val withLines = Q.spread(table(s, dir, "documents"))
          .withColumn("lines",
            lineDedupFixture(col("doc_id"),
              c4Lines(col("doc_id"), col("text"))))
        // explode_outer + an explicit null filter, NOT explode: the
        // plain explode's implicit `size(lines) > 0 AND
        // isnotnull(lines)` pushdown re-evaluated the ENTIRE line
        // fixture expression per row in a filter BELOW the spread
        // exchange — i.e. on the one-split scan task the spread exists
        // to relieve (two ~800 ms single-task stages in the profile).
        // The outer variant imposes no generator-input predicate, the
        // post-generate isNotNull is the same filter the old plan
        // already applied to the exploded column, and an empty array's
        // null row dies there too — row-for-row identical output.
        // managedPersist: `boiler` (broadcast side) and `removed`
        // (probe side) both consume occ, and the plan carried two full
        // copies of the fixture+explode+agg chain (r18).
        val occ = withLines
          .select(col("doc_id"), col("lang"),
            explode_outer(col("lines")).as("line"))
          .filter(col("line").isNotNull)
          .groupBy("doc_id", "lang", "line")
          .agg(count(lit(1)).as("n_occ"))
          .managedPersist
        val boiler = occ.groupBy("line")
          .agg(count(lit(1)).as("df"), min("doc_id").as("keeper"))
          .filter(col("df") >= 3)
        val removed = occ.join(broadcast(boiler), "line")
          .withColumn("rm_cnt", col("n_occ") -
            when(col("doc_id") === col("keeper"), 1L).otherwise(0L))
          .filter(col("rm_cnt") > 0)
          .withColumn("nw", size(tokens(col("line"))).cast("long"))
        // docs_in is a row count per lang — withColumn never changes
        // cardinality, so count the RAW table and skip re-running the
        // line fixture + split a second time (r18)
        val base = table(s, dir, "documents").groupBy("lang")
          .agg(count(lit(1)).as("docs_in"))
        val agg = removed.groupBy("lang")
          .agg(countDistinct("doc_id").as("docs_touched"),
            countDistinct("line").as("boiler_lines"),
            sum("rm_cnt").as("lines_removed"),
            sum(col("rm_cnt") * col("nw")).as("tokens_removed"))
        base.join(agg, Seq("lang"), "left")
          .na.fill(0L, Seq("docs_touched", "boiler_lines",
            "lines_removed", "tokens_removed"))
          .orderBy("lang")
      },
      Some(s"""WITH $c4LinesCteSql,
              t2 AS (SELECT doc_id, lang,
                  CASE WHEN doc_id % 5 = 0 THEN list_append(lines,
                    'follow us for more updates and news.')
                  ELSE lines END AS lines
                FROM t),
              e AS (SELECT doc_id, lang, UNNEST(lines) AS line FROM t2),
              occ AS (SELECT doc_id, lang, line, COUNT(*) AS n_occ
                FROM e GROUP BY 1, 2, 3),
              st AS (SELECT line, COUNT(*) AS df, MIN(doc_id) AS keeper
                FROM occ GROUP BY 1 HAVING COUNT(*) >= 3),
              rm AS (SELECT occ.lang, occ.doc_id, occ.line,
                  occ.n_occ - CASE WHEN occ.doc_id = st.keeper
                    THEN 1 ELSE 0 END AS rm_cnt,
                  CAST(LEN(list_filter(string_split_regex(occ.line,
                    '\\s+'), x -> x <> '')) AS BIGINT) AS nw
                FROM occ JOIN st USING (line)),
              r AS (SELECT lang, doc_id, line, rm_cnt, nw FROM rm
                WHERE rm_cnt > 0),
              base AS (SELECT lang, COUNT(*) AS docs_in FROM t2
                GROUP BY 1),
              agg AS (SELECT lang,
                  COUNT(DISTINCT doc_id) AS docs_touched,
                  COUNT(DISTINCT line) AS boiler_lines,
                  SUM(rm_cnt) AS lines_removed,
                  SUM(rm_cnt * nw) AS tokens_removed
                FROM r GROUP BY 1)
              SELECT base.lang, docs_in,
                CAST(COALESCE(docs_touched, 0) AS BIGINT) AS docs_touched,
                CAST(COALESCE(boiler_lines, 0) AS BIGINT) AS boiler_lines,
                CAST(COALESCE(lines_removed, 0) AS BIGINT)
                  AS lines_removed,
                CAST(COALESCE(tokens_removed, 0) AS BIGINT)
                  AS tokens_removed
              FROM base LEFT JOIN agg USING (lang) ORDER BY lang""")),

    // Unicode script-mix & mojibake profile — the charset-QA scan a
    // multilingual crawl runs before langid is trusted: per document,
    // counts of Latin / Cyrillic / CJK code points and U+FFFD
    // replacement characters (the residue of a mis-decoded byte
    // stream); a doc mixing ≥ 2 scripts is flagged (spam, mojibake, or
    // a mislabeled bilingual page), any replacement char flags broken
    // decoding. The ranges are LITERAL code-point ranges defined once
    // in Scala and interpolated into BOTH engines' patterns (Java
    // regex and RE2 agree on literal ranges by construction — the
    // dialect-shared discipline of q167, no \\p classes whose
    // Unicode-version semantics could drift). The ASCII corpus gets
    // the declared fixture: every 37th doc a Cyrillic tail, every
    // 43rd a CJK tail, every 47th five replacement chars — all three
    // non-Latin branches live. Plan at 100 TB: map-only codegen'd
    // regexp_count projections into the bounded per-lang rollup; one
    // skinny partial-agg shuffle, nothing else.
    "q174_script_mix" -> QueryDef(
      (s, dir) => {
        val t = table(s, dir, "documents")
          .withColumn("text2", scriptFixture(col("doc_id"), col("text")))
          .withColumn("n_latin",
            regexp_count(col("text2"), lit("[A-Za-z]")).cast("long"))
          .withColumn("n_cyr",
            regexp_count(col("text2"), lit(CyrRange)).cast("long"))
          .withColumn("n_cjk",
            regexp_count(col("text2"), lit(CjkRange)).cast("long"))
          .withColumn("n_repl",
            regexp_count(col("text2"), lit(ReplChar)).cast("long"))
          .withColumn("scripts",
            (col("n_latin") > 0).cast("long") +
              (col("n_cyr") > 0).cast("long") +
              (col("n_cjk") > 0).cast("long"))
        t.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum((col("scripts") >= 2).cast("long")).as("mixed_script_docs"),
            sum((col("n_cyr") > 0).cast("long")).as("cyrillic_docs"),
            sum((col("n_cjk") > 0).cast("long")).as("cjk_docs"),
            sum((col("n_repl") > 0).cast("long")).as("mojibake_docs"),
            sum("n_repl").as("replacement_chars"))
          .orderBy("lang")
      },
      Some(s"""WITH t AS (SELECT lang,
                  text ||
                    CASE WHEN doc_id % 37 = 4
                      THEN ' $CyrPlant' ELSE '' END ||
                    CASE WHEN doc_id % 43 = 6
                      THEN ' $CjkPlant' ELSE '' END ||
                    CASE WHEN doc_id % 47 = 9
                      THEN ' ' || repeat('$ReplChar', 5) ELSE '' END
                    AS text2
                FROM documents),
              c AS (SELECT lang,
                  CAST(len(regexp_extract_all(text2, '[A-Za-z]'))
                    AS BIGINT) AS n_latin,
                  CAST(len(regexp_extract_all(text2, '$CyrRange'))
                    AS BIGINT) AS n_cyr,
                  CAST(len(regexp_extract_all(text2, '$CjkRange'))
                    AS BIGINT) AS n_cjk,
                  CAST(len(regexp_extract_all(text2, '$ReplChar'))
                    AS BIGINT) AS n_repl
                FROM t),
              m AS (SELECT lang, n_cyr, n_cjk, n_repl,
                  (CASE WHEN n_latin > 0 THEN 1 ELSE 0 END +
                   CASE WHEN n_cyr > 0 THEN 1 ELSE 0 END +
                   CASE WHEN n_cjk > 0 THEN 1 ELSE 0 END) AS scripts
                FROM c)
              SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN scripts >= 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS mixed_script_docs,
                CAST(SUM(CASE WHEN n_cyr > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS cyrillic_docs,
                CAST(SUM(CASE WHEN n_cjk > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS cjk_docs,
                CAST(SUM(CASE WHEN n_repl > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS mojibake_docs,
                CAST(SUM(n_repl) AS BIGINT) AS replacement_chars
              FROM m GROUP BY lang ORDER BY lang""")),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): rank every
    // document by its fluency under a corpus LM and split the corpus
    // into head / middle / tail — the mixture knob CCNet exposes
    // (train on head, sample middle, drop tail). q133 scores docs
    // under a BIGRAM LM and gates the rare tail; this is the
    // corpus-partitioning form under the unigram LM, with the same
    // log-free integer-micro discipline: per token, the add-one
    // inverse probability (Ntot + V)/(c(w) + 1) as one IEEE division
    // rounded to micro-units; per doc, the integer mean; buckets by
    // two fixed integer thresholds (sized so every language fills all
    // three). Per-lang bucket counts + tail share in basis points —
    // engine-exact end to end. Plan at 100 TB: the unigram count table
    // is vocab-bounded and BROADCASTS; scoring is one map-side join
    // over the exploded token stream whose per-doc partial agg
    // collapses in-partition (~1 row/doc shuffles); the lang rollup is
    // bounded. ONE corpus-sized shuffle total (the unigram count).
    "q176_perplexity_buckets" -> QueryDef(
      (s, dir) => {
        val d = Q.spread(table(s, dir, "documents"))
          .select(col("doc_id"), col("lang"), tokens(col("text")).as("tl"))
        val w = d.select(col("doc_id"), col("lang"),
          explode(col("tl")).as("w")).managedPersist
        val uni = w.groupBy("w").agg(count(lit(1)).as("cw"))
        val ntot = w.agg(count(lit(1)).as("ntot"))
        val vsz = uni.agg(count(lit(1)).as("vsz"))
        val perDoc = w
          .join(broadcast(uni), "w")
          .crossJoin(broadcast(ntot)).crossJoin(broadcast(vsz))
          .withColumn("term",
            round(lit(1e6) * (col("ntot") + col("vsz")).cast("double") /
              (col("cw") + lit(1L)).cast("double")).cast("long"))
          .groupBy("doc_id", "lang")
          .agg(round(sum(col("term")).cast("double") / count(lit(1)))
            .cast("long").as("score"))
        perDoc.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum((col("score") < PplHeadMicro).cast("long"))
              .as("head_docs"),
            sum((col("score") >= PplHeadMicro &&
              col("score") < PplTailMicro).cast("long")).as("middle_docs"),
            sum((col("score") >= PplTailMicro).cast("long"))
              .as("tail_docs"))
          .withColumn("tail_share_bp",
            expr("(tail_docs * 20000 + n_docs) div (2 * n_docs)"))
          .orderBy("lang")
      },
      Some(s"""WITH d AS (SELECT doc_id, lang,
                  list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> '') AS t
                FROM documents),
              w AS (SELECT doc_id, lang, UNNEST(t) AS w FROM d),
              u AS (SELECT w, COUNT(*) AS cw FROM w GROUP BY w),
              n AS (SELECT COUNT(*) AS ntot FROM w),
              v AS (SELECT COUNT(*) AS vsz FROM u),
              t AS (SELECT w.doc_id, w.lang,
                  CAST(ROUND(1000000.0 * (n.ntot + v.vsz) / (u.cw + 1), 0)
                    AS BIGINT) AS term
                FROM w JOIN u USING (w) CROSS JOIN n CROSS JOIN v),
              ds AS (SELECT doc_id, lang,
                  CAST(ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(*), 0)
                    AS BIGINT) AS score
                FROM t GROUP BY 1, 2),
              b AS (SELECT lang, COUNT(*) AS n_docs,
                  CAST(SUM(CASE WHEN score < $PplHeadMicro
                    THEN 1 ELSE 0 END) AS BIGINT) AS head_docs,
                  CAST(SUM(CASE WHEN score >= $PplHeadMicro
                    AND score < $PplTailMicro THEN 1 ELSE 0 END)
                    AS BIGINT) AS middle_docs,
                  CAST(SUM(CASE WHEN score >= $PplTailMicro
                    THEN 1 ELSE 0 END) AS BIGINT) AS tail_docs
                FROM ds GROUP BY 1)
              SELECT lang, n_docs, head_docs, middle_docs, tail_docs,
                CAST((tail_docs * 20000 + n_docs) // (2 * n_docs)
                  AS BIGINT) AS tail_share_bp
              FROM b ORDER BY lang""")),

    // INTRA-document repeated-line collapse — q173's within-doc
    // sibling (the Gopher repetition family as a TRANSFORM, not a
    // flag): a doc that repeats its own line verbatim (pagination
    // artifacts, template glitches, scraper double-fires) keeps the
    // FIRST occurrence and drops the rest; q97 flags such docs, this
    // produces the cleaned corpus stats. Line structure is the shared
    // q171 fixture plus a declared plant (every 7th doc re-appends its
    // first line). The entire rule is order-preserving first-occurrence
    // dedup INSIDE the row — `filter(lines, (x, i) ->
    // array_position(prefix, x) = 0)`, a pure HOF with the identical
    // idiom in DuckDB — so the operator is MAP-ONLY: no explode, no
    // join, no shuffle except the per-lang rollup of skinny partials.
    // The contrast with q173 is the point: cross-doc dedup needs the
    // line-key shuffle, within-doc dedup needs none, and a pipeline
    // composes them in that order at 100 TB.
    "q177_intradoc_line_dedup" -> QueryDef(
      (s, dir) => {
        def nw(arr: Column): Column =
          aggregate(arr, lit(0L),
            (acc, l) => acc + size(tokens(l)).cast("long"))
        // spread the one-split scan before the quadratic in-row kept
        // filter (r18, the q173/q193 discipline)
        val t = Q.spread(table(s, dir, "documents"))
          .withColumn("lines0", c4Lines(col("doc_id"), col("text")))
          .withColumn("lines",
            when(col("doc_id") % 7 === 3,
              concat(col("lines0"), slice(col("lines0"), 1, 1)))
              .otherwise(col("lines0")))
          .withColumn("kept", filter(col("lines"),
            (x, i) => array_position(
              slice(col("lines"), lit(1), i.cast("int")), x) === 0))
          .withColumn("lines_in", size(col("lines")).cast("long"))
          .withColumn("lines_kept", size(col("kept")).cast("long"))
          .withColumn("toks_removed", nw(col("lines")) - nw(col("kept")))
        t.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum((col("lines_kept") < col("lines_in")).cast("long"))
              .as("docs_changed"),
            sum(col("lines_in") - col("lines_kept")).as("lines_removed"),
            sum("toks_removed").as("tokens_removed"))
          .orderBy("lang")
      },
      Some(s"""WITH $c4LinesCteSql,
              t2 AS (SELECT doc_id, lang,
                  CASE WHEN doc_id % 7 = 3
                    THEN list_append(lines, lines[1]) ELSE lines END
                    AS lines
                FROM t),
              k AS (SELECT doc_id, lang, lines,
                  list_filter(lines, (x, i) -> i = 1 OR
                    list_position(lines[1:i-1], x) = 0) AS kept
                FROM t2),
              m AS (SELECT lang,
                  CAST(LEN(lines) AS BIGINT) AS lines_in,
                  CAST(LEN(kept) AS BIGINT) AS lines_kept,
                  CAST(list_sum(list_transform(lines, l ->
                      LEN(list_filter(string_split_regex(l, '\\s+'),
                        x -> x <> '')))) -
                    list_sum(list_transform(kept, l ->
                      LEN(list_filter(string_split_regex(l, '\\s+'),
                        x -> x <> '')))) AS BIGINT) AS toks_removed
                FROM k)
              SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN lines_kept < lines_in
                  THEN 1 ELSE 0 END) AS BIGINT) AS docs_changed,
                CAST(SUM(lines_in - lines_kept) AS BIGINT)
                  AS lines_removed,
                CAST(SUM(toks_removed) AS BIGINT) AS tokens_removed
              FROM m GROUP BY lang ORDER BY lang""")),

    // q208: unigram-LM tokenizer training report (VERDICT r14 ask #3 —
    // q123/q134's coverage/fertility shape against the TRAINED vocab).
    // Two tiers in one report, the q90/q201 contract discipline:
    //  - tiers the oracle derives EXACTLY from the parquet: corpus word
    //    statistics and the SEED construction (weighted substring
    //    counts through the SAME substring HOF the trainer uses —
    //    [[substringsExpr]], one definition; top-8 multi-char seed
    //    pieces by (count desc, piece asc));
    //  - contract bits about the artifact [[unigramTrain]] actually
    //    trains (vocab within target, every corpus character retained,
    //    zero OOV when re-segmenting the dictionary, total Viterbi
    //    tokens bounded by total chars) — each structurally guaranteed
    //    by the trainer, so the oracle states 1 and any training
    //    regression breaks the hash. The EM equivalence/monotonicity
    //    meat lives in UnigramSpec (the BpeSpec discipline).
    // Plan at 100 TB: one corpus pass to the vocab-bounded word
    // dictionary; seed + EM rounds run on that bounded frame (map-only
    // typed Viterbi + bounded-key aggs, driver holds only the
    // seed-bounded vocab map); the report itself assembles
    // driver-side from per-run scalars (q192's LocalTableScan shape).
    "q208_unigram_tokenizer" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = table(s, dir, "documents").select("text")
        val words = docs.select(explode(tokens(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt"))
          .managedPersist
        val st = words.agg(sum("cnt").as("nw"),
          count(lit(1)).as("ndw"),
          sum(col("cnt") * length(col("word"))).as("nc")).head()
        val (nWords, nDistinct, nChars) =
          (st.getLong(0), st.getLong(1), st.getLong(2))
        val pieceCounts = words
          .select(explode(substringsExpr(4)).as("piece"), col("cnt"))
          .groupBy("piece").agg(sum("cnt").as("n"))
          .managedPersist
        val nSeedChars = pieceCounts
          .filter(length(col("piece")) === 1).count()
        val top8 = pieceCounts.filter(length(col("piece")) >= 2)
          .orderBy(desc("n"), col("piece")).limit(8)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        // the trained artifact + its contract measurements (fit-once
        // memo — bench passes probe the warmup pass's vocab)
        val vocab = unigramTrainMemo(s, dir, vocabSize = 64,
          maxPieceLen = 4, seedSize = 200, emIters = 3)
        val vmap = vocab.toMap
        val vset = vocab.map(_._1).toSet
        val total = vocab.iterator.map(_._2).sum
        val mpl = vocab.iterator.map(_._1.length).max
        val bcm = s.sparkContext.broadcast(vmap)
        val bcs = s.sparkContext.broadcast(vset)
        val seg = words.as[UnigramWord].map { e =>
          val ps = viterbiSegment(e.word, bcm.value, total, mpl)
          (e.cnt * ps.length,
            if (ps.forall(bcs.value.contains)) 0L else e.cnt)
        }.toDF("toks", "oov")
          .agg(sum("toks").as("t"), sum("oov").as("o")).head()
        val (toksTotal, oovWords) = (seg.getLong(0), seg.getLong(1))
        val report =
          top8.zipWithIndex.map { case ((p, n), i) =>
            ((i + 1).toLong, p, n)
          }.toSeq ++ Seq(
            (90L, "n_words", nWords),
            (91L, "n_distinct_words", nDistinct),
            (92L, "n_chars", nChars),
            (93L, "n_seed_chars", nSeedChars),
            (100L, "vocab_le_target",
              if (vocab.size <= 64) 1L else 0L),
            // chars enter the vocab at seed time and are never pruned,
            // so equality of the two char counts IS full coverage
            (101L, "covers_all_chars",
              if (vocab.count(_._1.length == 1).toLong == nSeedChars)
                1L else 0L),
            (102L, "oov_zero", if (oovWords == 0L) 1L else 0L),
            (103L, "tokens_le_chars",
              if (toksTotal <= nChars) 1L else 0L))
        s.createDataFrame(report).toDF("rk", "piece", "n").orderBy("rk")
      },
      Some(s"""WITH w AS (SELECT t AS word, COUNT(*) AS cnt
                FROM (SELECT UNNEST(list_filter(
                        string_split_regex(text, '\\s+'), x -> x <> '')) AS t
                      FROM documents) z
                GROUP BY 1),
              pos AS (SELECT word, cnt,
                  UNNEST(range(1, length(word) + 1)) AS i FROM w),
              subs AS (SELECT substring(word, CAST(i AS INT),
                    CAST(l AS INT)) AS piece, cnt
                FROM (SELECT word, cnt, i,
                        UNNEST(range(1, least(4, length(word) - i + 1)
                          + 1)) AS l
                      FROM pos) z),
              pc AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS n
                     FROM subs GROUP BY 1),
              top8 AS (SELECT piece, n,
                  ROW_NUMBER() OVER (ORDER BY n DESC, piece) AS rk
                FROM pc WHERE length(piece) >= 2
                QUALIFY rk <= 8)
              SELECT * FROM (
                SELECT CAST(rk AS BIGINT) AS rk, piece, n FROM top8
                UNION ALL SELECT 90, 'n_words',
                  (SELECT CAST(SUM(cnt) AS BIGINT) FROM w)
                UNION ALL SELECT 91, 'n_distinct_words',
                  (SELECT COUNT(*) FROM w)
                UNION ALL SELECT 92, 'n_chars',
                  (SELECT CAST(SUM(cnt * length(word)) AS BIGINT) FROM w)
                UNION ALL SELECT 93, 'n_seed_chars',
                  (SELECT COUNT(*) FROM pc WHERE length(piece) = 1)
                UNION ALL SELECT 100, 'vocab_le_target', CAST(1 AS BIGINT)
                UNION ALL SELECT 101, 'covers_all_chars', CAST(1 AS BIGINT)
                UNION ALL SELECT 102, 'oov_zero', CAST(1 AS BIGINT)
                UNION ALL SELECT 103, 'tokens_le_chars', CAST(1 AS BIGINT)
              ) ORDER BY rk""")),

    // q212: persisted-vocab DRIFT — the tokenizer artifact's staleness
    // rung (q192's question asked of the vocab store): a release ships
    // the trained vocab ([[writeVocabStore]] — the PCA-store round-trip
    // discipline), the corpus keeps growing, and the health check the
    // store owner runs is "how many documents now contain characters
    // the shipped tokenizer cannot represent natively?" — the
    // new-script/mojibake influx signal that triggers a retrain. The
    // fixture plants a non-vocab character (U+00A4) on every 53rd doc
    // (the corpus's own 24-char alphabet is fully covered by training,
    // so planted docs are EXACTLY the OOV set — oracle arithmetic).
    // OOV detection runs the REAL machinery: the planted corpus's
    // distinct words Viterbi-segment under the STORED vocab (typed map
    // over the vocab-bounded word frame, broadcast vocab) and a word
    // is OOV iff its best segmentation uses a fallback piece; docs
    // flag through a semi-join. store_roundtrip_ok pins that the
    // shipped parquet reproduces the in-memory artifact EXACTLY.
    // Plan at 100 TB: one explode + distinct to the (doc, word) frame,
    // segmentation on the bounded distinct-word frame only, one
    // semi-join back; the store read is a 64-row broadcast.
    "q212_vocab_store_drift" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = table(s, dir, "documents")
        val vocab = unigramTrainMemo(s, dir, vocabSize = 64,
          maxPieceLen = 4, seedSize = 200, emIters = 3)
        val name = vocabStoreFixture(s, dir)
        val stored = vocabFromStore(s, name)
        val roundtripOk = if (stored == vocab) 1L else 0L
        val planted = docs.select(col("doc_id"),
          when(col("doc_id") % 53 === 0,
            concat(col("text"), lit(" \u00A4x")))
            .otherwise(col("text")).as("text"))
        val vmap = stored.toMap
        val vset = stored.map(_._1).toSet
        val total = stored.iterator.map(_._2).sum
        val mpl = stored.iterator.map(_._1.length).max
        val bcm = s.sparkContext.broadcast(vmap)
        val bcs = s.sparkContext.broadcast(vset)
        val dw = planted
          .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
          .distinct().managedPersist
        val oovWords = dw.select("word").distinct().as[String]
          .map(w => (w,
            viterbiSegment(w, bcm.value, total, mpl)
              .forall(bcs.value.contains)))
          .toDF("word", "invocab")
          .filter(!col("invocab")).select("word")
        val oovDocs = dw.join(oovWords, Seq("word"), "left_semi")
          .select("doc_id").distinct().count()
        val nDocs = docs.count()
        val nPlanted = docs.filter(col("doc_id") % 53 === 0).count()
        s.createDataFrame(Seq((nDocs, nPlanted, oovDocs, roundtripOk,
          if (oovDocs > 0L) 1L else 0L)))
          .toDF("n_docs", "n_planted", "oov_docs", "store_roundtrip_ok",
            "rebuild")
      },
      Some("""SELECT
                (SELECT COUNT(*) FROM documents) AS n_docs,
                (SELECT COUNT(*) FROM documents WHERE doc_id % 53 = 0)
                  AS n_planted,
                (SELECT COUNT(*) FROM documents WHERE doc_id % 53 = 0)
                  AS oov_docs,
                CAST(1 AS BIGINT) AS store_roundtrip_ok,
                CAST((SELECT COUNT(*) FROM documents
                      WHERE doc_id % 53 = 0) > 0 AS BIGINT) AS rebuild""")),

    // Positional phrase search ("hash join") through posting-list
    // adjacency: explode (doc_id, pos, word) postings, keep ONLY the
    // phrase's two terms (the filter lands before the shuffle, so the
    // join moves posting lists, never the corpus), and match on
    // (doc_id, pos+1). This is the positional-index query shape — the
    // equi-join Spark shuffles on (doc_id, pos) with partial
    // aggregation on the per-doc hit count. Overlap-free by
    // construction (the two phrase words differ), and the token
    // adjacency definition makes the DuckDB oracle expressible as a
    // per-row list scan with no self-join.
    "q218_phrase_posting" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val postings = docs
          .select(col("doc_id"),
            posexplode(tokens(col("text"))).as(Seq("pos", "word")))
          .filter(col("word").isin("hash", "join"))
        val w1 = postings.filter(col("word") === "hash")
          .select(col("doc_id"), col("pos"))
        val w2 = postings.filter(col("word") === "join")
          .select(col("doc_id"), (col("pos") - 1).as("pos"))
        w1.join(w2, Seq("doc_id", "pos"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_hits"),
            min(col("pos")).cast("long").as("first_pos"))
          .orderBy("doc_id")
      },
      Some(PhrasePostingOracle)),

    // q218's phrase search through the NINTH persisted index family:
    // the positional posting store is the amortized nightly artifact
    // (one tokenize into a bucketed-by-term layout); the probe reads
    // ONLY the phrase terms' pruned buckets and equi-joins the posting
    // streams on (doc_id, pos − offset) — no tokenize, no corpus scan,
    // cost tracks the phrase's posting-list lengths at any store size.
    // Result-identical to the inline q218 plan (shared oracle).
    "q227_phrase_index_probe" -> QueryDef(
      (s, dir) => probePhraseIndex(s, fixtureStore(s, dir),
        Seq("hash", "join")),
      Some(PhrasePostingOracle)),

    // Proximity (slop) search off the SAME persisted positional store:
    // count ordered ("hash", "join") pairs at token distance 1..3 per
    // doc — the sloppy-phrase query an IR stack answers from positions
    // alone. The probe reads the two terms' pruned buckets; the pair
    // match is one equi-join on doc_id over posting lists (bounded by
    // term frequency per doc) plus the integer distance filter — no
    // corpus scan, no tokenize. The DuckDB oracle recomputes the pair
    // count with a nested per-row list scan, proving the posting-join
    // arithmetic exactly.
    "q230_proximity_search" -> QueryDef(
      (s, dir) => probeProximityIndex(s, fixtureStore(s, dir),
        "hash", "join", slop = 3),
      Some("""WITH d AS (SELECT doc_id,
                  list_filter(string_split_regex(text, '\s+'),
                    t -> t <> '') AS toks
                FROM documents),
              h AS (SELECT doc_id,
                  CAST(list_sum(list_transform(
                    range(1, len(toks) + 1),
                    i -> CASE WHEN toks[i] = 'hash' THEN
                        len(list_filter(
                          range(i + 1, LEAST(i + 3, len(toks)) + 1),
                          j -> toks[j] = 'join'))
                      ELSE 0 END)) AS BIGINT) AS n_pairs,
                  CAST(len(toks) AS BIGINT) AS n_toks
                FROM d)
              SELECT doc_id, n_pairs FROM h
              WHERE n_pairs > 0 ORDER BY doc_id""")),

    // q236: KEYWORD-IN-CONTEXT (KWIC) snippets off the positional
    // store — the user-facing face of the positional family and a TRUE
    // index-only query: for every q227 phrase hit, the ±5-token window
    // is reconstructed from POSTINGS ALONE (positions → term lookup
    // via the store; the documents table is never scanned — the
    // PlanAuditSpec pin). Hit positions come from the same pruned
    // two-bucket adjacency join as q227; the window terms come from
    // ONE map-only pass over the store joined against the BROADCAST
    // hit list (a phrase-selective hit frame is small by construction;
    // a bulk KWIC sweep over many phrases would swap the broadcast for
    // a doc_id key join — same plan shape, declared). Window assembly
    // is a per-(doc, hit) partial agg over ≤ 12 surviving rows; the
    // snippet is the position-ordered term join. The oracle recomputes
    // every window from raw text with per-row list slices, so the
    // store's position arithmetic (clipping included) is hash-exact.
    // The machinery is the reusable [[kwicSnippets]] operator (any
    // phrase length, any window) — this query is its fixture probe.
    "q236_kwic_snippets" -> QueryDef(
      (s, dir) => kwicSnippets(s, fixtureStore(s, dir),
        Seq("hash", "join"), window = 5),
      Some("""WITH d AS (SELECT doc_id,
                  list_filter(string_split_regex(text, '\s+'),
                    t -> t <> '') AS toks
                FROM documents),
              h AS (SELECT doc_id, i - 1 AS hit, toks
                FROM d, UNNEST(range(1, len(toks))) AS u(i)
                WHERE toks[i] = 'hash' AND toks[i + 1] = 'join')
              SELECT doc_id, CAST(hit AS BIGINT) AS hit,
                array_to_string(
                  toks[GREATEST(1, hit - 4) : LEAST(len(toks), hit + 7)],
                  ' ') AS snippet
              FROM h ORDER BY doc_id, hit""")),

    // q239: BULK KWIC — the multi-phrase sweep q236's doc comment
    // declared as the scale path, made real: three phrases (two
    // adjacency pairs + one unigram) answered in ONE pass over the
    // positional store via [[kwicSnippetsBulk]]. The hit frame is no
    // longer phrase-selective-small (a unigram phrase hits a large
    // fraction of docs), so it joins the postings on the doc_id KEY —
    // no broadcast assumption, the shape that survives an arbitrary
    // phrase workload at any store size. Still a TRUE index-only
    // query: no documents scan, no tokenize (PlanAuditSpec pins it);
    // the oracle recomputes every window from raw text per phrase.
    "q239_bulk_kwic" -> QueryDef(
      (s, dir) => kwicSnippetsBulk(s, fixtureStore(s, dir),
        Seq(Seq("hash", "join"), Seq("merge", "join"), Seq("window")),
        window = 5),
      Some("""WITH d AS (SELECT doc_id,
                  list_filter(string_split_regex(text, '\s+'),
                    t -> t <> '') AS toks
                FROM documents),
              h AS (
                SELECT 'hash join' AS phrase, doc_id, i - 1 AS hit,
                    2 AS plen, toks
                  FROM d, UNNEST(range(1, len(toks))) AS u(i)
                  WHERE toks[i] = 'hash' AND toks[i + 1] = 'join'
                UNION ALL
                SELECT 'merge join', doc_id, i - 1, 2, toks
                  FROM d, UNNEST(range(1, len(toks))) AS u(i)
                  WHERE toks[i] = 'merge' AND toks[i + 1] = 'join'
                UNION ALL
                SELECT 'window', doc_id, i - 1, 1, toks
                  FROM d, UNNEST(range(1, len(toks) + 1)) AS u(i)
                  WHERE toks[i] = 'window')
              SELECT phrase, doc_id, CAST(hit AS BIGINT) AS hit,
                array_to_string(
                  toks[GREATEST(1, hit + 1 - 5)
                       : LEAST(len(toks), hit + plen + 5)],
                  ' ') AS snippet
              FROM h ORDER BY phrase, doc_id, hit""")),

    // Positional-BIAS profile off the same store: where in documents
    // do the corpus's top terms occur? Boilerplate headers live at
    // relative position ≈ 0, footers at ≈ 1 — the positional family's
    // analytics face beyond search. Everything derives from the STORE:
    // doc lengths are max(pos)+1 per doc (one store agg), the top-3
    // terms come from a store count (dictionary-bounded frame), and
    // the decile histogram is one semi-joined groupBy onto a
    // ≤ 3·10-key space. No corpus scan, no tokenize; the oracle
    // recomputes the profile from raw text with per-row list scans.
    "q231_position_bias" -> QueryDef(
      (s, dir) => {
        val p = s.table(s"${fixtureStore(s, dir)}_postings")
        val dl = p.groupBy("doc_id")
          .agg((max("pos") + 1).cast("long").as("len"))
        val top = p.groupBy("t").agg(count(lit(1)).as("freq"))
          .orderBy(desc("freq"), col("t")).limit(3)
          .select("t")
        p.join(broadcast(top), "t")
          .join(dl, "doc_id")
          .groupBy(col("t"),
            expr("(10 * pos) div len").cast("long").as("decile"))
          .agg(count(lit(1)).as("n"))
          .orderBy("t", "decile")
      },
      Some("""WITH d AS (SELECT doc_id,
                  list_filter(string_split_regex(text, '\s+'),
                    t -> t <> '') AS toks
                FROM documents),
              pos AS (SELECT doc_id, UNNEST(toks) AS t,
                  UNNEST(range(0, len(toks))) AS pos,
                  len(toks) AS len
                FROM d),
              top AS (SELECT t FROM (SELECT t, COUNT(*) AS freq
                  FROM pos GROUP BY 1
                  ORDER BY freq DESC, t LIMIT 3) z)
              SELECT pos.t,
                CAST((10 * pos.pos) // pos.len AS BIGINT) AS decile,
                COUNT(*) AS n
              FROM pos JOIN top USING (t)
              GROUP BY 1, 2 ORDER BY pos.t, decile""")),

    // Filter-ensemble agreement (Cohen's kappa, exact integer bp): do
    // two independent quality gates — unigram lexical diversity ≥ 0.46
    // and q97's trigram non-repetition rule — agree beyond chance? A
    // pipeline stacking filters needs this redundancy audit before it
    // pays for both. Kappa is a ratio of integer contingency products
    // (κ = (N·agree − Σ margins)/(N² − Σ margins)), so the output is
    // hash-exact with no float discipline needed; the sign-split
    // half-up rounding keeps Spark's truncating `div` and DuckDB's
    // flooring `//` on the agreeing non-negative domain. Scale: one
    // map-only verdict scan into a 4-cell partial agg — the cheapest
    // shape a corpus-wide audit can have.
    "q225_filter_agreement" -> QueryDef(
      (s, dir) => {
        graft.functions.HashFunctions.register(s)
        val d = table(s, dir, "documents")
          .withColumn("toks", tokens(col("text")))
          .withColumn("n", size(col("toks")).cast("long"))
          .filter(col("n") > 0)
          .withColumn("nd", size(array_distinct(col("toks"))).cast("long"))
          .withColumn("g3", greatest(col("n") - 2, lit(0L)))
          .withColumn("g3d", when(col("n") >= 3,
            size(expr("graft_shingles(text, 3)")).cast("long"))
            .otherwise(0L))
          .withColumn("a",
            (col("nd") * 100 >= col("n") * 46).cast("long"))
          .withColumn("b",
            (col("g3") > 0 && col("g3d") * 100 >= col("g3") * 98)
              .cast("long"))
        d.agg(count(lit(1)).as("n_docs"),
            sum(col("a") * col("b")).as("c11"),
            sum(col("a") * (lit(1L) - col("b"))).as("c10"),
            sum((lit(1L) - col("a")) * col("b")).as("c01"),
            sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("c00"))
          .withColumn("pe_num",
            expr("(c11 + c10) * (c11 + c01) + (c01 + c00) * (c10 + c00)"))
          .withColumn("num", expr("n_docs * (c11 + c00) - pe_num"))
          .withColumn("den", expr("n_docs * n_docs - pe_num"))
          .select(col("n_docs"), col("c11"), col("c10"), col("c01"),
            col("c00"),
            expr("""CASE WHEN den = 0 THEN 0L
                    WHEN num >= 0 THEN (20000 * num + den) div (2 * den)
                    ELSE -((20000 * -num + den) div (2 * den))
                    END""").as("kappa_bp"))
      },
      Some("""WITH toks AS (SELECT
                  list_filter(string_split_regex(text, '\s+'),
                    x -> x <> '') AS t
                FROM documents),
              d AS (SELECT len(t) AS n, len(list_distinct(t)) AS nd,
                  GREATEST(len(t) - 2, 0) AS g3,
                  CASE WHEN len(t) >= 3 THEN len(list_distinct(
                    [array_to_string(t[i:i+2], ' ')
                     for i in range(1, len(t)-1)])) ELSE 0 END AS g3d
                FROM toks WHERE len(t) > 0),
              f AS (SELECT
                  CASE WHEN nd * 100 >= n * 46 THEN 1 ELSE 0 END AS a,
                  CASE WHEN g3 > 0 AND g3d * 100 >= g3 * 98
                    THEN 1 ELSE 0 END AS b
                FROM d),
              c AS (SELECT COUNT(*) AS n_docs,
                  CAST(SUM(a * b) AS BIGINT) AS c11,
                  CAST(SUM(a * (1 - b)) AS BIGINT) AS c10,
                  CAST(SUM((1 - a) * b) AS BIGINT) AS c01,
                  CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS c00
                FROM f),
              k AS (SELECT *,
                  (c11 + c10) * (c11 + c01) + (c01 + c00) * (c10 + c00)
                    AS pe_num
                FROM c),
              m AS (SELECT *, n_docs * (c11 + c00) - pe_num AS num,
                  n_docs * n_docs - pe_num AS den
                FROM k)
              SELECT n_docs, c11, c10, c01, c00,
                CAST(CASE WHEN den = 0 THEN 0
                  WHEN num >= 0 THEN (20000 * num + den) // (2 * den)
                  ELSE -((20000 * -num + den) // (2 * den))
                  END AS BIGINT) AS kappa_bp
              FROM m"""))
  )

  /** PII pattern set — the dialect-shared regex subset (character
    * classes, bounded repetition, `\b`, optional groups — identical
    * semantics in Java regex and DuckDB's RE2; no lookarounds, no
    * backrefs), one definition for the batch audit (q167), the
    * streaming gate ([[graft.streaming.StreamingOps]]), and any
    * library caller. The three phone shapes are counted as one
    * exposure class; an E.164 number's digit run can also match the
    * plain digit-run pattern (both engines count it identically — the
    * scrub chain replaces it before the plain rule ever sees it).
    */
  private[graft] val PiiEmail =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PiiIp = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  private[graft] val PiiCard = "\\b[0-9]{4}([ -]?[0-9]{4}){3}\\b"
  private[graft] val PiiSepPhone =
    "\\b[0-9]{3}[ -][0-9]{3,4}[ -][0-9]{4}\\b"
  private[graft] val PiiE164 = "\\+[1-9][0-9]{6,14}"
  private[graft] val PiiPhone = "\\b[0-9]{7,15}\\b"
  private[graft] val PiiPatterns: Seq[String] =
    Seq(PiiEmail, PiiIp, PiiCard, PiiSepPhone, PiiE164, PiiPhone)

  /** The PII redaction chain — map-only codegen'd regex replaces, in
    * an order where no later pattern can see a fragment an earlier
    * replace consumed (card before the phone shapes, E.164 before the
    * plain digit run). Conservative on cards by design: every
    * card-SHAPED match is redacted whether or not it passes Luhn —
    * a privacy scrub prefers a false redaction to a leaked number;
    * the Luhn check ([[luhnValidCount]]) gates only the COUNT of
    * confirmed card exposures.
    */
  def piiScrub(c: Column): Column =
    Seq(PiiEmail -> "<EMAIL>", PiiIp -> "<IP>", PiiCard -> "<CARD>",
      PiiSepPhone -> "<PHONE>", PiiE164 -> "<PHONE>", PiiPhone -> "<NUM>")
      .foldLeft(c) { case (acc, (p, r)) => regexp_replace(acc, p, r) }

  /** Total PII pattern matches in a string column (all six patterns,
    * counted independently on the same input). Zero on a
    * [[piiScrub]]bed column is the scrub-completeness property.
    */
  private[graft] def piiCount(c: Column): Column =
    PiiPatterns.map(p => regexp_count(c, lit(p))).reduce(_ + _)

  /** Count of card-shaped matches that pass the Luhn checksum — pure
    * integer arithmetic over the match's digits (double every second
    * digit from the right, subtract 9 when it exceeds 9, valid ⇔ sum
    * ≡ 0 mod 10), so both engines agree by construction. Runs entirely
    * in codegen'd higher-order functions: extract matches, strip
    * separators, fold the reversed digit string.
    */
  private[graft] def luhnValidCount(c: Column): Column =
    size(filter(regexp_extract_all(c, lit(PiiCard), lit(0)), cand => {
      val rev = reverse(regexp_replace(cand, "[ -]", ""))
      def dg(i: Column): Column = rev.substr(i, lit(1)).cast("int")
      (aggregate(sequence(lit(1), length(rev)), lit(0),
        (acc, i) => acc + when(i % 2 === 0,
          when(dg(i) * 2 > 9, dg(i) * 2 - 9).otherwise(dg(i) * 2))
          .otherwise(dg(i)))
        % 10) === 0
    })).cast("long")

  /** The q167 declared fixture: every 13th doc (mod 2) gains one
    * synthetic email + IP + fixed-7+-digit phone + Luhn-VALID spaced
    * card + separator phone + E.164 number; every 13th (mod 7) gains a
    * card-shaped but Luhn-INVALID number — so the candidate-vs-
    * confirmed branches are both live. The phone base is a fixed
    * 10-digit shape (55512 + zero-padded id) so every planted number
    * clears the pattern's {7,15} floor regardless of doc_id width
    * (ADVICE r11).
    */
  private[graft] def piiFixture(docId: Column, text: Column): Column =
    when(docId % 13 === 2,
      concat(text, lit(" contact user"), docId.cast("string"),
        lit("@example.com from 10.0."), (docId % 256).cast("string"),
        lit(".7 call 55512"),
        lpad((docId % 100000).cast("string"), 5, "0"),
        lit(" card 4111 1111 1111 1111 tel 555-0123-"),
        lpad((docId % 10000).cast("string"), 4, "0"),
        lit(" or +3780"),
        lpad((docId % 1000).cast("string"), 3, "0")))
      .when(docId % 13 === 7, concat(text, lit(" acct 4111111111111112")))
      .otherwise(text)

  /** The q170 declared fixture (q167's discipline): the synthetic
    * corpus is uniformly clean on Gopher rules 2–4, so every 19th doc
    * (mod 5) gains a 60×23-char-word tail (mean word length > 10 at
    * every corpus length), every 19th (mod 11) a 120×1-char-word tail
    * (mean < 3), every 23rd a 12-mark '#' run (symbol ratio ≥ 0.1),
    * every 29th a 30-token digit run (alpha fraction < 0.8). Rules 1
    * (word count) and 5 (stopword presence) are live on the raw corpus
    * and need no plant.
    */
  private[graft] def gopherFixture(docId: Column, text: Column): Column =
    concat(text,
      when(docId % 19 === 5,
        concat(lit(" "), rtrim(repeat(lit("pneumonoultramicroscopy "), 60))))
        .when(docId % 19 === 11,
          concat(lit(" "), rtrim(repeat(lit("x "), 120))))
        .otherwise(lit("")),
      when(docId % 23 === 1,
        concat(lit(" "), rtrim(repeat(lit("# "), 12)))).otherwise(lit("")),
      when(docId % 29 === 3,
        concat(lit(" "), rtrim(repeat(lit("4096 "), 30)))).otherwise(lit("")))

  /** The q171 declared line fixture: tokens fold into 8-token lines;
    * line i gains a terminal '.' iff (doc_id + i) % 3 ≠ 0, every 11th
    * doc a 'javascript' word on line 0, every 31st a '{' on line 1
    * (min doc length 10 tokens ⇒ line 1 always exists), every 41st an
    * appended canonical 'lorem ipsum' line (5 words, punctuated — it
    * PASSES the line rules, so only the doc rule can kill it and the
    * two levels stay orthogonal). Plants precede the punctuation mark
    * so a javascript/brace line can still end in '.', keeping each
    * kill-reason attributable to exactly one rule.
    */
  private[graft] def c4Lines(docId: Column, text: Column): Column = {
    val toks = tokens(text)
    val nl = floor((size(toks) + lit(7)) / lit(8)).cast("long")
    val base = transform(sequence(lit(0L), nl - 1), i =>
      concat(
        array_join(slice(toks, (i * 8 + 1).cast("int"), lit(8)), " "),
        when(docId % 11 === 4 && i === 0, " javascript").otherwise(""),
        when(docId % 31 === 2 && i === 1, " {").otherwise(""),
        when((docId + i) % 3 =!= 0, ".").otherwise("")))
    when(docId % 41 === 7,
      concat(base, array(lit("lorem ipsum dolor sit amet."))))
      .otherwise(base)
  }


  /** The q193 declared repetition plants on top of [[c4Lines]] (one
    * per MassiveText repetition rule, each live at every SF):
    * doc_id % 53 = 8 re-appends ⌈(nl+1)/2⌉ copies of line 1
    * (duplicate-line fraction ≥ 0.30 by construction), % 59 = 13
    * suffixes every line with '...', % 61 = 17 prefixes every line
    * with '- ', % 67 = 21 appends one long 'foo bar'×4nl line — a
    * DISTINCT line (no dup-rule crosstalk) whose bigram dominates the
    * doc's character mass.
    */
  private[graft] def gopherRepFixture(
      docId: Column, lines0: Column): Column = {
    val l1 = when(docId % 53 === 8,
      concat(lines0, transform(
        // int division: `/` on ints yields DOUBLE in Column algebra
        sequence(lit(1), ((size(lines0) + 1) / 2).cast("int")),
        _ => element_at(lines0, 1))))
      .otherwise(lines0)
    val l2 = when(docId % 59 === 13,
      transform(l1, l => concat(l, lit("...")))).otherwise(l1)
    val l3 = when(docId % 61 === 17,
      transform(l2, l => concat(lit("- "), l))).otherwise(l2)
    when(docId % 67 === 21,
      concat(l3, array(array_join(
        transform(sequence(lit(1), size(l3) * 4), _ => lit("foo bar")),
        " "))))
      .otherwise(l3)
  }

  /** The q174 declared fixture: every 37th doc (mod 4) gains a
    * Cyrillic tail, every 43rd (mod 6) a CJK tail, every 47th (mod 9)
    * five U+FFFD replacement chars — so the mixed-script, per-script,
    * and mojibake branches are all live on the ASCII corpus.
    */
  private[graft] def scriptFixture(docId: Column, text: Column): Column =
    concat(text,
      when(docId % 37 === 4, lit(" " + CyrPlant)).otherwise(lit("")),
      when(docId % 43 === 6, lit(" " + CjkPlant)).otherwise(lit("")),
      when(docId % 47 === 9, lit(" " + ReplChar * 5)).otherwise(lit("")))

  /** q173's extra boilerplate plant on top of [[c4Lines]]: every 5th
    * doc appends one shared subscribe-prompt line, so the corpus
    * carries two boilerplate lines at different document frequencies
    * (the 'lorem ipsum' line rides every 41st doc already).
    */
  private[graft] def lineDedupFixture(
      docId: Column, lines: Column): Column =
    when(docId % 5 === 0,
      concat(lines, array(lit("follow us for more updates and news."))))
      .otherwise(lines)

  /** One row of the BPE training dictionary: a word as its current
    * symbol sequence plus its corpus occurrence count.
    */
  final case class BpeDictEntry(syms: Seq[String], cnt: Long)

  /** Left-to-right non-overlapping merge of the adjacent pair (a, b)
    * into the single symbol a+b — the BPE merge rule, one definition
    * shared by the distributed trainer and the spec's sequential
    * reference.
    */
  private[graft] def bpeMergePair(
      syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Distributed BPE tokenizer training — q156 is iteration 0; this
    * runs the full loop: start from characters, repeatedly find the
    * most frequent adjacent symbol pair (count desc, then (a, b)
    * lexicographic — fully deterministic) and merge it everywhere,
    * `nMerges` times. Returns the ordered merge list (the tokenizer
    * artifact a trainer ships).
    *
    * Scale discipline (the part that matters at 100 TB): the corpus is
    * read ONCE — into its word dictionary (one partial-agg shuffle over
    * the token stream, vocab-bounded result). Every iteration after
    * that runs on the persisted dictionary only: one bounded-key pair
    * count (`TakeOrdered` top-1, never a global sort) plus one map-only
    * typed re-encode (`Dataset[BpeDictEntry].map` — per-partition, no
    * shuffle). Driver state per iteration is exactly one (pair, count)
    * row. This is how production BPE trainers are structured (corpus →
    * word counts, then train on counts); the dictionary re-persists per
    * iteration and the previous cache releases, so peak residency is
    * two dictionary copies regardless of nMerges.
    */
  def bpeTrain(
      docs: org.apache.spark.sql.DataFrame,
      nMerges: Int): Seq[(String, String)] = {
    val s = docs.sparkSession
    import s.implicits._
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var dict: org.apache.spark.sql.Dataset[BpeDictEntry] =
      docs.select(explode(tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .select(split(col("word"), "").as("syms"), col("cnt"))
        .as[BpeDictEntry]
        .persist(level)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    try {
      var i = 0
      var exhausted = false
      while (i < nMerges && !exhausted) {
        val top = dict.toDF()
          // single-symbol words carry no pairs — and Spark's
          // sequence(1, 0) would go DESCENDING, not empty (the
          // shingles-helper gotcha), so the guard is a filter
          .filter(size(col("syms")) >= 2)
          .select(col("cnt"), explode(expr(
            "transform(sequence(1, size(syms) - 1)," +
              " j -> struct(syms[j - 1] AS a, syms[j] AS b))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("cnt").as("n"))
          .orderBy(desc("n"), col("a"), col("b"))
          .limit(1).collect()
        if (top.isEmpty || top.head.getLong(2) < 2L) exhausted = true
        else {
          val (a, b) = (top.head.getString(0), top.head.getString(1))
          merges += ((a, b))
          val next = dict
            .map(e => e.copy(syms = bpeMergePair(e.syms, a, b)))
            .persist(level)
          next.count() // materialize before releasing the parent
          dict.unpersist(blocking = false)
          dict = next
        }
        i += 1
      }
      merges.toSeq
    } finally dict.unpersist(blocking = false)
  }

  /** Encode one word with a trained merge list — applies the merges in
    * training order (the standard BPE inference rule). Exposed for the
    * spec's round-trip check; corpus-scale encoding is a map-only
    * `transform` of this over the token stream.
    */
  def bpeEncode(word: String, merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(word.split("").toSeq) {
      case (syms, (a, b)) => bpeMergePair(syms, a, b)
    }

  // -----------------------------------------------------------------
  // Unigram-LM (SentencePiece-style) tokenizer trainer — VERDICT r14
  // ask #3, [[bpeTrain]]'s sibling for the EM-pruned unigram family
  // (Kudo 2018): instead of growing a vocab by merges, START from a
  // rich substring seed and let EM + pruning keep the pieces the
  // corpus actually uses.
  // -----------------------------------------------------------------

  /** One row of the unigram training dictionary. */
  final case class UnigramWord(word: String, cnt: Long)

  /** Exact-rational Viterbi segmentation under a unigram piece model:
    * maximize `Π score(pᵢ) / total^k` over segmentations of `word` —
    * the likelihood comparison is BigInt CROSS-MULTIPLIED
    * (`P₁·T^k₂ vs P₂·T^k₁`), never a float log-sum, so the best
    * segmentation is deterministic across platforms and engines (the
    * q186 integer/rational discipline). Ties prefer FEWER pieces, then
    * the lexicographically smaller piece sequence. Single characters
    * absent from `score` fall back to weight 1 (the unpruned-char
    * floor — every word stays segmentable; such pieces are the
    * caller's OOV signal). ONE definition shared by the distributed
    * trainer, [[unigramEncode]], and UnigramSpec's sequential
    * reference — the BpeSpec/bpeMergePair sharing discipline.
    */
  private[graft] def viterbiSegment(
      word: String,
      score: scala.collection.Map[String, Long],
      total: Long,
      maxPieceLen: Int): Seq[String] = {
    val n = word.length
    val T = BigInt(total)
    // dp(i) = best (likelihood-ordered) segmentation of word[0, i)
    final case class St(prod: BigInt, k: Int, pieces: List[String])
    def better(a: St, b: St): St = {
      val cmp = (a.prod * T.pow(b.k)).compare(b.prod * T.pow(a.k))
      if (cmp > 0) a
      else if (cmp < 0) b
      else if (a.k != b.k) { if (a.k < b.k) a else b }
      else {
        // identical likelihood and piece count: smaller piece sequence
        // (pieces lists are reversed — both the same way)
        val la = a.pieces; val lb = b.pieces
        val it = la.iterator.zip(lb.iterator)
        var r = 0
        while (r == 0 && it.hasNext) {
          val (x, y) = it.next(); r = x.compare(y)
        }
        if (r <= 0) a else b
      }
    }
    val dp = new Array[St](n + 1)
    dp(0) = St(BigInt(1), 0, Nil)
    var i = 1
    while (i <= n) {
      var best: St = null
      val maxL = math.min(maxPieceLen, i)
      var l = 1
      while (l <= maxL) {
        val prev = dp(i - l)
        if (prev != null) {
          val piece = word.substring(i - l, i)
          val w =
            if (l == 1) math.max(score.getOrElse(piece, 1L), 1L)
            else score.getOrElse(piece, 0L)
          if (w > 0) {
            val cand = St(prev.prod * w, prev.k + 1, piece :: prev.pieces)
            best = if (best == null) cand else better(best, cand)
          }
        }
        l += 1
      }
      dp(i) = best
      i += 1
    }
    dp(n).pieces.reverse
  }

  /** Distributed unigram-LM tokenizer training. The loop:
    *
    *  1. '''word dictionary''' — the corpus is read ONCE into (word,
    *     count), the same vocab-bounded frame [[bpeTrain]] trains on;
    *  2. '''seed''' — every substring of length 1..`maxPieceLen` of
    *     every word, weighted by word count (one explode + partial-agg
    *     shuffle); ALL single characters enter the vocab (never
    *     pruned — the coverage floor), plus the top `seedSize`
    *     multi-character substrings by (count desc, piece asc) —
    *     TakeOrdered over the bounded piece frame, no global sort;
    *  3. '''EM''' (`emIters` rounds of hard/Viterbi EM): E-step
    *     re-segments the word dictionary under the current piece
    *     weights ([[viterbiSegment]] as a typed map over the bounded
    *     frame — map-only, the broadcast vocab is driver-bounded) and
    *     aggregates weighted piece usage (one bounded-key shuffle);
    *     M-step sets each piece's weight to its usage — multi-char
    *     pieces the best segmentations stopped using are pruned
    *     immediately, characters floor at weight 1;
    *  4. '''final prune''' — all characters + the top
    *     `vocabSize − nChars` multi-char pieces by (weight desc,
    *     piece asc).
    *
    * Hard (Viterbi) EM is the documented simplification vs full
    * forward-backward EM — each round's complete-data likelihood is
    * non-decreasing (UnigramSpec asserts it in exact BigInt
    * arithmetic), and every comparison is integer/rational, so the
    * trained vocab is deterministic (UnigramSpec: distributed ≡
    * sequential reference, rerun ≡ rerun). Driver state is one
    * (piece, weight) map bounded by `seedSize + nChars` — the
    * nlist-centroid collect discipline. Returns the vocab ordered by
    * (weight desc, piece asc).
    *
    * `onIteration` observes each EM round's post-M-step vocab
    * (UnigramSpec reads it for the exact monotonicity assertion).
    */
  def unigramTrain(
      docs: org.apache.spark.sql.DataFrame,
      vocabSize: Int,
      maxPieceLen: Int = 4,
      seedSize: Int = 200,
      emIters: Int = 3,
      onIteration: (Int, Map[String, Long]) => Unit = (_, _) => ()):
      Seq[(String, Long)] = {
    val s = docs.sparkSession
    import s.implicits._
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val dict = docs.select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .as[UnigramWord]
      .persist(level)
    try {
      val pieceCounts = dict.toDF()
        .select(explode(substringsExpr(maxPieceLen)).as("piece"),
          col("cnt"))
        .groupBy("piece").agg(sum("cnt").as("n"))
        .persist(level)
      val chars = pieceCounts.filter(length(col("piece")) === 1)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      val multi = pieceCounts.filter(length(col("piece")) >= 2)
        .orderBy(desc("n"), col("piece")).limit(seedSize)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      pieceCounts.unpersist(blocking = false)
      var vocab: Map[String, Long] = (chars ++ multi).toMap
      var it = 0
      while (it < emIters) {
        val total = vocab.valuesIterator.sum
        val bc = s.sparkContext.broadcast(vocab)
        val mpl = maxPieceLen
        val obs = dict
          .flatMap(e => viterbiSegment(e.word, bc.value, total, mpl)
            .map(p => (p, e.cnt)))
          .toDF("piece", "w")
          .groupBy("piece").agg(sum("w").as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        bc.unpersist(blocking = false)
        vocab = vocab.keysIterator.flatMap { p =>
          val o = obs.getOrElse(p, 0L)
          if (p.length == 1) Some(p -> math.max(o, 1L))
          else if (o > 0L) Some(p -> o)
          else None
        }.toMap
        it += 1
        onIteration(it, vocab)
      }
      val charPieces = vocab.filter(_._1.length == 1)
      val multiKeep = vocab.iterator.filter(_._1.length > 1).toSeq
        .sortBy { case (p, w) => (-w, p) }
        .take(math.max(0, vocabSize - charPieces.size))
      (charPieces.toSeq ++ multiKeep)
        .sortBy { case (p, w) => (-w, p) }
    } finally dict.unpersist(blocking = false)
  }

  /** The substring-enumeration HOF the seed pass and q208's oracle
    * share (every substring of length 1..`maxPieceLen`, with
    * multiplicity): one definition so the two can never drift.
    */
  private[graft] def substringsExpr(maxPieceLen: Int): Column = expr(
    s"""flatten(transform(sequence(1, char_length(word)),
       |  i -> transform(
       |    sequence(1, least($maxPieceLen, char_length(word) - i + 1)),
       |    l -> substring(word, i, l))))""".stripMargin)

  /** [[unigramTrain]] as a [[FitMemo]]: the trained vocab is a
    * deterministic pure function of (corpus content, params), trained
    * on the documents table derived HERE from (s, dir).
    */
  def unigramTrainMemo(
      s: org.apache.spark.sql.SparkSession,
      dir: String,
      vocabSize: Int,
      maxPieceLen: Int = 4,
      seedSize: Int = 200,
      emIters: Int = 3): Seq[(String, Long)] =
    FitMemo(s, dir, "documents", "unigram", vocabSize, maxPieceLen,
        seedSize, emIters) {
      unigramTrain(table(s, dir, "documents").select("text"),
        vocabSize, maxPieceLen, seedSize, emIters)
    }

  /** The q212/q235 fixture store: ONE persisted unigram vocab per
    * (sfDir, corpus fingerprint) — the tokenizer artifact a release
    * SHIPS, trained once per session (the `unigramTrainMemo`
    * discipline) and shared by the drift check (q212) and the
    * tokenized-corpus release encoder (q235), which must encode with
    * the exact shipped vocab or the release is self-inconsistent.
    */
  def vocabStoreFixture(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val vocab = unigramTrainMemo(s, dir, vocabSize = 64,
      maxPieceLen = 4, seedSize = 200, emIters = 3)
    val fp = IndexCatalog.fpTag(tableFingerprint(s, dir, "documents"))
    val tag = s"${IndexCatalog.dirTag(dir)}_$fp"
    val name = s"graft_q212_$tag"
    Q.syncStore(name) {
      if (!s.catalog.tableExists(s"${name}_vocab")) {
        val path = new java.io.File(
          System.getProperty("java.io.tmpdir"), s"graft-q212-$tag")
        writeVocabStore(s, vocab, name, path.toString)
      }
    }
    name
  }

  /** Persist a trained unigram vocab as a tiny parquet artifact
    * (`<name>_vocab` external table at `<path>/vocab`): the tokenizer
    * a release SHIPS, re-attachable in a new session
    * ([[registerVocabStore]]) and read back in the canonical
    * (weight desc, piece asc) order ([[vocabFromStore]]) — the PCA
    * store's round-trip discipline for the tokenizer family. The
    * artifact is vocab-bounded (10²–10⁵ rows), so the write is one
    * tiny driver-built frame; no bucketing needed (every consumer
    * broadcasts it).
    */
  def writeVocabStore(
      s: org.apache.spark.sql.SparkSession,
      vocab: Seq[(String, Long)],
      name: String, path: String): Unit = {
    import s.implicits._
    vocab.toDF("piece", "weight").coalesce(1)
      .write.mode("overwrite").option("path", s"$path/vocab")
      .saveAsTable(s"${name}_vocab")
  }

  /** Re-attach a [[writeVocabStore]] artifact in a new session. */
  def registerVocabStore(
      s: org.apache.spark.sql.SparkSession,
      name: String, path: String): Unit =
    IndexCatalog.registerPlain(s, s"${name}_vocab", s"$path/vocab")

  /** Read a persisted vocab back in the canonical training order. */
  def vocabFromStore(
      s: org.apache.spark.sql.SparkSession,
      name: String): Seq[(String, Long)] =
    s.table(s"${name}_vocab").orderBy(desc("weight"), col("piece"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Segment one word with a trained unigram vocab — Viterbi under the
    * trained weights (the standard unigram inference rule). Corpus-
    * scale encoding is a typed map of this over the word dictionary.
    */
  def unigramEncode(
      word: String, vocab: Seq[(String, Long)]): Seq[String] = {
    val m = vocab.toMap
    val total = vocab.iterator.map(_._2).sum
    val mpl =
      if (vocab.isEmpty) 1 else vocab.iterator.map(_._1.length).max
    viterbiSegment(word, m, total, mpl)
  }
}
