package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale probe (not part of the bench contract): inflate the test
  * tables N× IN the plan (explode over a replica sequence — no
  * inflated data ever hits disk) and time the operators whose scale
  * behavior matters most. Run at increasing factors to check the
  * scaling exponent — a plan that survives 100 TB shows near-linear
  * wall-clock here; anything quadratic (an LSH bucket degenerating, a
  * window collapsing to one partition) shows immediately.
  *
  *   SPARK_GRAFT_STRESS_X=10 sbt 'runMain graft.Stress'
  *
  * Document text is salted per replica by rewriting EVERY token with a
  * replica suffix, so replicas of one document share no shingles —
  * dup-group sizes stay constant instead of growing N×, and candidate
  * pair counts scale linearly, matching how a real 100 TB corpus grows
  * (more documents, not N near-copies of each document).
  */
object Stress {

  private def inflate(df: DataFrame, n: Int): DataFrame =
    df.withColumn("replica",
        explode(sequence(lit(0), lit(n - 1))))

  def main(args: Array[String]): Unit = {
    val factor = sys.env.getOrElse("SPARK_GRAFT_STRESS_X", "10").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session()
    graft.functions.HashFunctions.register(spark)

    import graft.operators.Q
    val lineitem = inflate(Q.table(spark, sfDir, "lineitem"), factor)
      // distinct order keys per replica keep group cardinality realistic
      .withColumn("l_orderkey",
        col("l_orderkey") * factor + col("replica"))
    val orders = inflate(Q.table(spark, sfDir, "orders"), factor)
      .withColumn("o_orderkey", col("o_orderkey") * factor + col("replica"))
      .withColumn("o_custkey", col("o_custkey") * factor + col("replica"))
    val documents = inflate(Q.table(spark, sfDir, "documents"), factor)
      .withColumn("doc_id", col("doc_id") * factor + col("replica"))
      .withColumn("text", regexp_replace(col("text"), lit("(\\S+)"),
        concat(lit("$1r"), col("replica").cast("string"))))
    val events = inflate(Q.table(spark, sfDir, "events"), factor)
      .withColumn("event_id", col("event_id") * factor + col("replica"))
    // per-replica first-component jitter: exact clones would pile into
    // identical LSH buckets and overstate candidate growth
    val embeddings = inflate(Q.table(spark, sfDir, "embeddings"), factor)
      .withColumn("vec_id", col("vec_id") * factor + col("replica"))
      .withColumn("embedding", expr(
        "transform(embedding, (x, i) -> " +
          "CAST(IF(i = 0, x + replica * 0.01, x) AS FLOAT))"))

    // SPARK_GRAFT_STRESS_ONLY=semdedup_cells,pq_ restricts to a
    // name-prefix subset — one scaling row without paying the whole
    // sweep (Bench/Verify have the same switch)
    val only = sys.env.get("SPARK_GRAFT_STRESS_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean =
      only.forall(_.exists(p => name.startsWith(p)))
    def timed(name: String)(body: => Long): (String, Double, Long) = {
      if (!selected(name)) return (name, -1.0, -1L)
      val t0 = System.nanoTime()
      val rows = body
      (name, (System.nanoTime() - t0) / 1e9, rows)
    }

    // q115's scale claim, probed the honest nightly-ingest way: the
    // BASE corpus grows with the inflation factor while the batch
    // stays FIXED, and the base's band index is PERSISTED (untimed
    // write — a release builds it once) so the timed probe measures
    // exactly what a nightly run pays: batch shingling + the bucketed
    // band join + exact verify of survivors. The batch carries the
    // replica-0 salt, so every batch doc near-matches its base
    // replica-0 twin — the verify stage does real work at every
    // factor instead of vacuously matching nothing.
    val stressIdxDir = java.nio.file.Files
      .createTempDirectory("graft-stress-idx").toString
    if (selected("incremental_probe"))
      graft.operators.Dedup.writeBandIndex(
        documents, "stress_bandidx", stressIdxDir)
    val batchDocs = Q.table(spark, sfDir, "documents")
      .withColumn("doc_id", -col("doc_id") - 1)
      .withColumn("text",
        regexp_replace(col("text"), lit("(\\S+)"), lit("$1r0")))
    // the distinct-gram index gets the same treatment: stored grams of
    // the inflated corpus persisted once (untimed), the fixed batch's
    // novelty probe is timed — its cost is batch shingling + one
    // anti-join that never shuffles the stored side
    if (selected("gram_index_probe"))
      graft.operators.Dedup.writeGramIndex(
        documents, "stress_gramidx", s"$stressIdxDir/gram")
    // q126's scale path gets the same treatment: PQ index over the
    // inflated embedding corpus persisted once (untimed), a fixed
    // negative-id batch probes and appends
    if (selected("pq_probe") || selected("pq_append"))
      graft.operators.Ann.writePqIndex(
        embeddings, "stress_pqidx", s"$stressIdxDir/pq")
    // q169's scale path: IVF-SQ8 store over the inflated embedding
    // corpus persisted once (untimed), the fixed batch's semantic
    // near-dup gate is timed — its candidate pass streams the byte
    // code table (1 byte/dim of the store), survivors' float reads are
    // bounded by TRUE duplication (each batch vector's replica twins)
    if (selected("semdedup_probe"))
      graft.operators.Ann.writeIvfIndex(
        embeddings, "stress_ivfidx", s"$stressIdxDir/ivf")
    // q192's scale path: the span store over the inflated corpus is the
    // nightly artifact (untimed build); the TIMED probe below is the
    // staleness report itself — the health check that must stay
    // scan-linear in the store + corpus
    // q227's scale path: the positional posting store over the
    // inflated corpus persisted once (untimed); the fixed replica-0
    // phrase probe is timed — bucket-pruned posting reads only
    if (selected("phrase_probe"))
      graft.operators.TextAnalysis.writePositionalIndex(
        documents, "stress_positionalidx", s"$stressIdxDir/positional")
    if (selected("staleness_report"))
      graft.operators.Dedup.writeSpanIndex(
        documents.select(col("doc_id"),
          graft.operators.TextAnalysis.tokens(col("text")).as("toks")),
        "stress_spanidx", s"$stressIdxDir/span")
    // q205's scale path: the persisted phash store over the inflated
    // asset population is the nightly artifact (untimed); the timed
    // probe below pays batch banding + the bucketed bk join + the
    // integer verify — exactly what an ingest batch pays
    // round-15 ask #6: the media ingest LOOP through the ledger/replay
    // path — its own store (the loop appends + writes ledger markers
    // into the table dir, which must not disturb phash_probe's store)
    def stressMediaBatch(): org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      spark.range(40).as[Long].mapPartitions(_.flatMap(id =>
        (0 to 3).map(v => graft.operators.MediaAsset(id * 10 + v,
          "image", graft.operators.MultiModal.synthImageBytes(id, v),
          s"v$v")))).toDF()
    }
    if (selected("media_ingest_admission") ||
        selected("media_ingest_replay")) {
      graft.operators.MultiModal.writePhashIndex(
        documents.select(col("doc_id").as("asset_id"),
          xxhash64(col("doc_id"), lit("mphash")).as("hash")),
        "stress_mediaidx", s"$stressIdxDir/mediaphash")
      // the replay row must measure a TRUE replay: when the admission
      // row is subset-excluded, prime the batch-777 ledger UNTIMED so
      // the timed block below takes the ledger path, not a mislabeled
      // first admission
      if (selected("media_ingest_replay") &&
          !selected("media_ingest_admission"))
        graft.streaming.StreamingOps.mediaIngestBatch(
          stressMediaBatch(), 777L, "stress_mediaidx",
          growIndex = true, (_, _) => ())
    }
    // round 15: the VIDEO loop's store — synthetic frame hashes (8
    // frames per inflated asset; the decode stage is map-only and the
    // batch is fixed, so the frame-grain JOIN is the scale question)
    if (selected("video_ingest_admission"))
      graft.operators.MultiModal.writeVideoIndex(
        documents.select(col("doc_id").as("asset_id"),
          explode(expr("sequence(0L, 7L)")).as("frame_idx"))
          .withColumn("hash",
            xxhash64(col("asset_id"), col("frame_idx"), lit("vf"))),
        "stress_videoidx", s"$stressIdxDir/videophash")
    if (selected("phash_probe"))
      graft.operators.MultiModal.writePhashIndex(
        documents.select(col("doc_id").as("asset_id"),
          xxhash64(col("doc_id"), lit("phash")).as("hash")),
        "stress_phashidx", s"$stressIdxDir/phash")
    val batchVecs = Q.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .withColumn("vec_id", -col("vec_id") - 1)

    // shared span-dedup fixture (substring_dup + span_removal): the
    // replica salt makes every replica's grams unique, so TRUE
    // duplication is pinned to the FIXED quote fixture — 20-token
    // excerpts of the replica-0 docs under negative ids
    val spanCorpus = {
      val toks = documents.select(col("doc_id"),
        graft.operators.TextAnalysis.tokens(col("text")).as("toks"))
      val quotes = Q.table(spark, sfDir, "documents")
        .select(col("doc_id"), graft.operators.TextAnalysis.tokens(
          regexp_replace(col("text"), lit("(\\S+)"), lit("$1r0")))
          .as("toks"))
        .filter(col("doc_id") % 17 === 3 && size(col("toks")) >= 25)
        .select((-col("doc_id") - 1).as("doc_id"),
          concat(
            array(concat(lit("qpre"), col("doc_id").cast("string"))),
            slice(col("toks"), 6, 20),
            array(concat(lit("qpost"), col("doc_id").cast("string"))))
            .as("toks"))
      toks.unionByName(quotes)
    }

    // q237's scale split: the edge extraction is the corpus-linear
    // part (untimed build + cache, the nightly-artifact treatment);
    // the TIMED probe below is the BFS round phase over a FIXED seed
    // set (10 replica-0 seeds; the fixture's target space is < 400,
    // so the frontier and per-round shuffle are factor-invariant) —
    // comparing factors reads how much of a round is the cached edge
    // scan vs the frontier work
    // q235's scale split: the tokenizer is the SHIPPED artifact — it
    // does not retrain per release, so training on the base corpus is
    // the untimed fixture; the timed probe below pays exactly what a
    // release job pays per run — one Viterbi per distinct word of the
    // (salted, so N×-sized) dictionary, the word-keyed join, and the
    // two-level prefix-sum pack
    val releaseVocab = if (selected("token_release"))
      Some(graft.operators.TextAnalysis.unigramTrain(
        Q.table(spark, sfDir, "documents").select("text"),
        vocabSize = 64, maxPieceLen = 4, seedSize = 200, emIters = 1))
    else None

    val khopEdges = if (selected("khop_rounds") ||
        selected("triangle_census") || selected("hits_iters") ||
        selected("harmonic_panel") || selected("cc_rounds") ||
        selected("kcore_peel")) {
      // the ONE edge definition (Graph.linkEdgesOf) — a drifted copy
      // here would make the probe measure a different graph than q237
      val e = graft.operators.Graph.linkEdgesOf(documents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.count()
      Some(e)
    } else None

    val results = Seq(
      // partial+final hash agg over the inflated fact table
      timed("agg_tpchq1") {
        lineitem.groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), Q.dsum(col("l_quantity")).as("q"))
          .collect().length.toLong
      },
      // per-key window over a high-cardinality partition key
      timed("window_rank") {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey")
          .orderBy(desc("o_totalprice"), col("o_orderkey"))
        orders.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3).count()
      },
      // two-stage salted aggregation under deliberate key skew
      timed("salted_agg") {
        lineitem
          .withColumn("salt", pmod(xxhash64(col("l_orderkey")), lit(32)))
          .groupBy(col("l_returnflag"), col("salt"))
          .agg(count(lit(1)).as("pn"))
          .groupBy("l_returnflag").agg(sum("pn"))
          .collect().length.toLong
      },
      // the full minhash-LSH near-dup pipeline on the salted corpus
      timed("neardup_minhash") {
        val sh = documents
          .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), expr("graft_shingles(text, 3)").as("sh"))
          .filter(size(col("sh")) > 0)
        val sig = sh.withColumn("sig", expr("graft_minhash(sh)"))
        val bandCols = (0 until 32).map { b =>
          xxhash64(lit(b) +: (0 until 4).map(r =>
            element_at(col("sig"), b * 4 + r + 1)): _*)
        }
        val banded = sig.select(col("doc_id"),
          explode(array(bandCols: _*)).as("band"))
        banded.select(col("doc_id").as("da"), col("band"))
          .join(banded.select(col("doc_id").as("db"), col("band")),
            Seq("band"))
          .filter(col("da") < col("db"))
          .select("da", "db").distinct().count()
      },
      // multi-table LSH ANN over the inflated embeddings (q98's scale
      // path): skinny (table, bucket) join + payload rejoin — candidate
      // volume should track corpus size × bucket occupancy, never n²
      timed("ann_topk") {
        graft.operators.Ann.annTopK(
          embeddings, embeddings.filter(col("vec_id") % 100 === 0),
          k = 10, nPlanes = 8, probes = 1, tables = 16).count()
      },
      // k-means IVF ANN (q98's second scale path): training cost and
      // candidate volume (~nprobe/nlist of the corpus per query) must
      // both grow linearly with corpus size
      timed("ivf_topk") {
        graft.operators.Ann.ivfTopK(
          embeddings, embeddings.filter(col("vec_id") % 100 === 0),
          k = 10, nlist = 16, nprobe = 8).count()
      },
      // group-level MinHash union sketch (q99's scale path): per-group
      // state is a fixed 128-slot signature regardless of corpus size,
      // so wall-clock tracks the map-side shingling, never the state
      timed("union_sketch") {
        import spark.implicits._
        documents
          .select(col("source"), expr("graft_shingles(text, 3)").as("sh"))
          .filter(size(col("sh")) > 0)
          .select(col("source"), expr("graft_minhash(sh)").as("sig"))
          .as[(String, Array[Long])]
          .groupByKey(_._1)
          .mapValues(_._2)
          .agg(graft.functions.HashFunctions.MinHashUnionAgg
            .toColumn.name("usig"))
          .toDF("source", "usig")
          .count()
      },
      // bloom decontamination (q101's scale path): the eval-gram
      // filter is sized by the FIXED eval set, so the corpus side is a
      // map-only probe + one skinny per-doc count — wall-clock must
      // track corpus volume and nothing else (no cross-corpus join)
      timed("bloom_decontam") {
        val sh = documents
          .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), expr("graft_shingles(text, 3)").as("sh"))
          .filter(size(col("sh")) > 0)
        // hash-split the eval stand-in: a plain doc_id % 50 degenerates
        // under inflation (doc_id ≡ replica mod 50, and texts are
        // replica-suffixed, so bench and corpus would never share a
        // gram — the probe would measure a scan that can't match)
        val isBench = pmod(xxhash64(col("doc_id")), lit(50)) === 0
        val bloomBytes = sh.filter(isBench)
          .select(explode(col("sh")).as("g")).distinct()
          .agg(expr("graft_bloom_build(xxhash64(g), 1048576L)"))
          .head().getAs[Array[Byte]](0)
        sh.filter(!isBench)
          .select(col("doc_id"), explode(col("sh")).as("g"))
          .filter(call_function("graft_bloom_contains",
            lit(bloomBytes), xxhash64(col("g"))))
          .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
          .filter(col("n_hit") >= 5).count()
      },
      // fuzzy decontamination (q152's shape): 64-band × 2-row MinHash
      // candidates between a hash-split eval side and the corpus +
      // exact-Jaccard verify of survivors — the eval side is a fixed
      // corpus fraction here, so candidate volume (and wall) must grow
      // LINEARLY with the corpus, never as eval × corpus pairs
      timed("fuzzy_decontam") {
        val sh = documents
          .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), expr("graft_shingles(text, 3)").as("sh"))
          .filter(size(col("sh")) > 0)
        val isBench = pmod(xxhash64(col("doc_id")), lit(50)) === 0
        val benchSh = sh.filter(isBench)
        val corpusSh = sh.filter(!isBench)
        val bb = graft.operators.Dedup.bandedLayout(benchSh, 64, 2)
          .select(col("doc_id").as("bench_id"), col("band"))
        val cb = graft.operators.Dedup.bandedLayout(corpusSh, 64, 2)
        val cand = cb.join(bb, "band")
          .select("doc_id", "bench_id").distinct()
        val inter = size(array_intersect(col("sha"), col("shb"))).cast("long")
        cand
          .join(corpusSh.select(col("doc_id"), col("sh").as("sha")),
            "doc_id")
          .join(benchSh.select(col("doc_id").as("bench_id"),
            col("sh").as("shb")), "bench_id")
          .filter(lit(2L) * inter >=
            size(col("sha")) + size(col("shb")) - inter)
          .select("doc_id").distinct().count()
      },
      // gram-novelty anti-join (q110's scale path): two distinct-gram
      // frames + one gram-keyed LEFT ANTI join — wall-clock must track
      // distinct-gram volume (linear in corpus), never doc pairs
      timed("gram_novelty") {
        val g = documents
          .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), explode(
            expr("graft_shingles(text, 3)")).as("g"))
        val baseG = g.filter(col("doc_id") % 2 === 0).select("g").distinct()
        g.filter(col("doc_id") % 2 === 1).select("g").distinct()
          .join(baseG, Seq("g"), "left_anti").count()
      },
      // incremental near-dup probe against the persisted band index
      // (q115's scale path): candidate work is O(|batch| × bands ×
      // bucket occupancy) and the batch is fixed, so wall-clock should
      // stay near-FLAT as the base corpus inflates — the base side
      // contributes only the bucketed band/shingle table scans (no
      // re-shingling, no re-hashing, no base×base pairing)
      timed("incremental_probe") {
        graft.operators.Dedup.probeBandIndex(
          spark, "stress_bandidx", batchDocs).count()
      },
      // gram-novelty probe against the persisted gram index (the
      // q110-at-scale nightly loop): the batch is fixed, the stored
      // gram table grows with the corpus — wall must track the batch's
      // shingling plus a bucketed-scan anti-join, with the stored side
      // never shuffling (the linear stored-side SCAN is the only
      // corpus-proportional term)
      timed("gram_index_probe") {
        val r = graft.operators.Dedup.probeGramNovelty(
          spark, "stress_gramidx",
          batchDocs.withColumn("lang", lit("xx"))).count()
        graft.operators.Q.releaseManaged()
        r
      },
      // index compaction (q172's op): one fixed-batch append first
      // (the fragmentation a nightly loop leaves — up to one file per
      // bucket per batch), then both band-index tables rewritten to
      // one file per bucket. Wall must track the LINEAR table rewrite
      // (the corpus-proportional shuffle-by-bucket-id), never blow up
      // with file count; runs after incremental_probe so mutating the
      // index can't skew that row. Returned metric: files reclaimed.
      timed("index_compact") {
        graft.operators.Dedup.appendToBandIndex(
          batchDocs, "stress_bandidx")
        val s1 = graft.operators.IndexMaintenance.compactBucketed(
          spark, "stress_bandidx_bands")
        val s2 = graft.operators.IndexMaintenance.compactBucketed(
          spark, "stress_bandidx_shingles")
        (s1.filesBefore - s1.filesAfter +
          s2.filesBefore - s2.filesAfter).toLong
      },
      // per-domain admission cap (q111's scale path): ONE window
      // shuffle partitioned on the domain key — wall must track
      // n log(n/domains) for the per-domain sorts, never collapse to a
      // single reducer; the kept set is K-bounded per key regardless
      timed("domain_cap") {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("badness"), col("doc_id"))
        documents
          .select(col("doc_id"), col("source"),
            size(graft.operators.TextAnalysis.tokens(col("text")))
              .cast("long").as("n_tokens"))
          .filter(col("n_tokens") > 0)
          .withColumn("badness", pmod(col("n_tokens"), lit(1000)))
          .withColumn("rn", row_number().over(w))
          .groupBy("source")
          .agg(sum(when(col("rn") <= 20, 1L).otherwise(0L)).as("n_kept"))
          .count()
      },
      // chunk-level dedup (q112's scale path): the chunk explode is
      // map-only (~n/stride chunks per doc) and chunk doc-frequency is
      // ONE partial-agg shuffle on the md5 key — linear in chunk
      // volume, never doc pairs
      timed("chunk_dedup") {
        val w = 50; val st = 40
        val ch = documents
          .select(col("doc_id"),
            graft.operators.TextAnalysis.tokens(col("text")).as("tl"))
          .withColumn("n", size(col("tl")))
          .filter(col("n") > 0)
          .withColumn("n_chunks",
            when(col("n") <= w, lit(1L)).otherwise(
              expr(s"1 + ((n - $w) + ${st - 1}) div $st")))
          .select(col("doc_id"),
            explode(transform(
              sequence(lit(0L), col("n_chunks") - 1),
              i => slice(col("tl"), (i * st + 1).cast("int"), lit(w))))
              .as("chunk"))
          .select(col("doc_id"), md5(concat_ws(" ", col("chunk"))).as("cm"))
        ch.groupBy("cm").agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2).count()
      },
      // exact dedup shuffle on the full text key
      timed("exact_dedup") {
        documents.groupBy("text")
          .agg(min_by(col("lang"), col("doc_id")).as("lang"))
          .groupBy("lang").agg(count(lit(1)))
          .collect().length.toLong
      },
      // cross-doc line dedup (q173's shape): the replica salt makes
      // word-soup lines unique per replica (df = 1 tail grows
      // linearly), while the two planted boilerplate lines are
      // constants whose df grows with the factor — so the boiler set
      // stays 2 rows (broadcast), removal volume grows linearly, and
      // wall must track the one line-key shuffle, never pair work
      timed("line_dedup") {
        val ta = graft.operators.TextAnalysis
        val occ = documents
          .withColumn("lines", ta.lineDedupFixture(col("doc_id"),
            ta.c4Lines(col("doc_id"), col("text"))))
          .select(col("doc_id"), explode(col("lines")).as("line"))
          .groupBy("doc_id", "line").agg(count(lit(1)).as("n_occ"))
        val boiler = occ.groupBy("line")
          .agg(count(lit(1)).as("df"), min("doc_id").as("keeper"))
          .filter(col("df") >= 3)
        occ.join(broadcast(boiler), "line")
          .withColumn("rm", col("n_occ") -
            when(col("doc_id") === col("keeper"), 1L).otherwise(0L))
          .agg(sum("rm")).head().getLong(0)
      },
      // chunk-window explode + per-shard packing cumsum (q70/q71
      // shapes): generator is map-only, the pack window partitions on
      // the shard key so parallelism tracks the shard count, not 1
      timed("chunk_pack") {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)
        documents
          .select(col("doc_id"),
            size(graft.operators.TextAnalysis.tokens(col("text")))
              .cast("long").as("ntok"),
            pmod(col("doc_id"), lit(256)).as("shard"))
          .withColumn("cum",
            coalesce(sum(col("ntok")).over(w), lit(0L)))
          .withColumn("bin", expr("cum div 512"))
          .groupBy("shard", "bin").agg(count(lit(1)))
          .count()
      },
      // two-level prefix-sum shard planner (q139 / Compaction.plan
      // shape): partition-local cumsum + a ≤-parts-row broadcast offset
      // frame — the global running sum with NO single-task collapse;
      // wall should track the one range repartition
      timed("prefix_sum_shard") {
        val parts = spark.sparkContext.defaultParallelism
        val m = documents.select(col("doc_id"), col("n_chars"))
          .repartitionByRange(parts, col("doc_id"))
          .withColumn("pid", spark_partition_id())
        val wLocal = org.apache.spark.sql.expressions.Window
          .partitionBy("pid").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, org.apache.spark.sql.expressions.Window
            .currentRow)
        val offs = m.groupBy("pid").agg(sum("n_chars").as("psum"))
          .withColumn("off", coalesce(sum("psum")
            .over(org.apache.spark.sql.expressions.Window.orderBy("pid")
              .rowsBetween(org.apache.spark.sql.expressions.Window
                .unboundedPreceding, -1)), lit(0L)))
          .select("pid", "off")
        m.withColumn("lc", sum("n_chars").over(wLocal))
          .join(broadcast(offs), "pid")
          .withColumn("shard", expr("(lc + off - n_chars) div 65536"))
          .groupBy("shard").agg(count(lit(1)))
          .count()
      },
      // affix-duplicate candidate joins (q125 prefix / q148 suffix
      // shape): equi-join on the bounded first-2/last-2-token keys +
      // codegen'd startswith/endswith verify — replica-salted tokens
      // keep per-key group size constant, so candidates grow linearly
      timed("affix_dup") {
        val d = documents
          .select(col("doc_id"), col("text"),
            graft.operators.TextAnalysis.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(col("doc_id"), col("text"),
            array_join(slice(col("toks"), 1, 2), " ").as("pk"),
            array_join(slice(col("toks"), -2, 2), " ").as("sk"))
        val pre = d.select(col("doc_id").as("a"), col("text").as("ta"), col("pk"))
          .join(d.select(col("doc_id").as("b"), col("text").as("tb"), col("pk")),
            Seq("pk"))
          .filter(startswith(col("tb"), concat(col("ta"), lit(" "))))
          .count()
        val suf = d.select(col("doc_id").as("a"), col("text").as("ta"), col("sk"))
          .join(d.select(col("doc_id").as("b"), col("text").as("tb"), col("sk")),
            Seq("sk"))
          .filter(endswith(col("tb"), concat(lit(" "), col("ta"))))
          .count()
        pre + suf
      },
      // exact-substring span dedup (q165 shape): positioned 5-token
      // seed grams over the inflated corpus, ≥2-docs repeated-suffix
      // filter, pair join, islands. The replica salt makes every
      // replica's grams unique, so TRUE duplication is pinned to the
      // FIXED quote fixture (20-token excerpts of the replica-0 docs)
      // — the singleton-kill filter must absorb the corpus growth and
      // wall must track the linear gram scan, never pair work
      timed("substring_dup") {
        graft.operators.Dedup.substringDupSpans(
          spanCorpus, seedLen = 5, minSpan = 8, maxDf = 128).count()
      },
      // span-removal transform (q168 shape, same fixture): the cut —
      // one doc_id shuffle of the bounded removal-position sets plus a
      // map-only indexed filter over the corpus. The post-cut token
      // sum forces the filter HOF to actually evaluate (a bare count
      // would let Catalyst prune the rewritten column away). Wall must
      // track the detector scan + the corpus rewrite, never pair work
      // (true spans stay pinned to the fixed quote fixture)
      timed("span_removal") {
        val cleaned = graft.operators.Dedup.removeDupSpans(
          spanCorpus, seedLen = 5, minSpan = 8, maxDf = 128)
        val r = cleaned
          .agg(sum(size(col("toks"))), sum("tokens_removed")).head()
        r.getLong(1)
      },
      // persisted-PQ-index probe (q126's scale path): the index over
      // the INFLATED corpus is built once (untimed, like the band
      // index) and a FIXED query batch probes it. Wall tracks the
      // candidate volume — the nprobe/nlist share of the corpus — but
      // the scan reads the m-BYTE code table, 32× less than the float
      // corpus: the recorded exponent documents "linear in codes",
      // which is the whole point of PQ at a 100 TB store.
      timed("pq_probe") {
        graft.operators.Ann.ivfPqProbe(spark, "stress_pqidx",
          batchVecs.filter(col("vec_id") % 10 === 0), k = 10,
          nprobe = 8, rerank = 128).count()
      },
      // frozen-quantizer append (the ingest half of q126's loop):
      // encode-and-insert of the FIXED batch only — wall must stay
      // near-flat as the accumulated corpus inflates, because nothing
      // re-reads or re-encodes the base
      timed("pq_append") {
        graft.operators.Ann.appendToPqIndex(batchVecs, "stress_pqidx")
        batchVecs.count()
      },
      // cell-local SemDeDup (q135's scale path), balanced nlist = Θ(√n)
      // — history of this row: nlist ∝ n made the dense assignment
      // n·nlist quadratic (2.6 s → 26 s at 10×, r9); nlist ∝ √n
      // balanced assignment and pair terms at n^1.5 (2.61 s → 10.9 s,
      // r10); r11 implements the linear path — two-level
      // coarse-over-coarse assignment ([[graft.operators.Ann
      // .twoLevelAssignCol]], n·√nlist) plus the cheap seeded-random
      // quantizer init (k-means|| init was the measured fit dominator
      // at large nlist). Isolated warm measurement in the README
      // scaling table: ≤ ~5× wall per 10× data at n up to 500k.
      // incremental SemDeDup (q169's scale path): fixed batch gated
      // against the persisted IVF-SQ8 store built above (untimed, like
      // the band/PQ indexes — a release builds it once). The timed
      // probe pays exactly what a nightly run pays: the batch × store
      // byte-code candidate scan (linear in the store, 1 byte/dim)
      // plus float re-verification of true near-dups (each batch
      // vector's replica twins — grows with the factor by fixture
      // construction, bounded by TRUE duplication at a real store)
      timed("semdedup_probe") {
        graft.operators.Ann.semDedupProbe(spark, "stress_ivfidx",
          batchVecs.filter(col("vec_id") % 10 === 0), tau = 0.40).count()
      },
      timed("semdedup_cells") {
        graft.operators.Similarity.semDedupPrunedCellLocal(
          embeddings, tau = 0.30,
          nlist = 16 * math.round(math.sqrt(factor.toDouble)).toInt).count()
      },
      // bigram-LM surprise (q133 shape): the count tables stay
      // vocab-bounded (the replica salt grows the vocab by the factor,
      // the worst case for the broadcast — still dictionary-sized)
      // while the per-doc stream is map-only into a partial agg; wall
      // must track token volume, never vocab² pair work
      timed("bigram_surprise") {
        val tl = graft.operators.TextAnalysis.tokens(col("text"))
        val d = documents.select(col("doc_id"), col("lang"), tl.as("tl"))
        val uni = d.select(explode(col("tl")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cw"))
        val vsz = uni.agg(count(lit(1)).as("vsz"))
        val big = d.select(explode(
            graft.operators.TextAnalysis.shingles(col("tl"), 2)).as("g"))
          .groupBy("g").agg(count(lit(1)).as("cb"))
        d.select(col("doc_id"), col("lang"), explode(
            graft.operators.TextAnalysis.shingles(col("tl"), 2)).as("g"))
          .join(broadcast(big), "g")
          .withColumn("w1", split(col("g"), " ").getItem(0))
          .join(broadcast(uni.withColumnRenamed("w", "w1")), "w1")
          .crossJoin(broadcast(vsz))
          .withColumn("term",
            round(lit(1e6) * (col("cw") + col("vsz")).cast("double") /
              (col("cb") + lit(1L)).cast("double")).cast("long"))
          .groupBy("doc_id").agg(count(lit(1)), sum("term"))
          .count()
      },
      // q181's training loop on the inflated corpus: 8 scans, each an
      // in-row gradient array into a 65-key exact-decimal partial agg
      // + a 65-row collect - expected linear in n with a fixed
      // iteration constant
      timed("probe_train") {
        val feat = embeddings
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("e"),
            (col("label") % 2).cast("double").as("y"))
          .persist()
        try {
          val n = feat.count()
          graft.operators.Learn.trainProbe(feat)
          n
        } finally feat.unpersist(blocking = false)
      },
      // q182's farthest-point loop on the inflated corpus: 17 map-only
      // scans each ending in a global top-1 reduce, localCheckpoint
      // per step - expected linear in n with a fixed step constant
      timed("coreset_select") {
        val emb = embeddings
          .select(col("vec_id"), col("label").cast("long").as("label"),
            transform(col("embedding"), x => x.cast("double")).as("e"))
          .persist()
        try {
          val n = emb.count()
          graft.operators.Learn.coresetSelect(emb, 16)
          n
        } finally emb.unpersist(blocking = false)
      },
      // q199's containment scan: the df<=64 cap is the scale claim -
      // per-gram pair fan-out stays bounded as the corpus grows (the
      // replica salt keeps natural grams at df ~ 1 while planted
      // aggregator pairs grow linearly), so candidate pairs and wall
      // must track true duplication, never corpus^2
      timed("containment_dup") {
        // one shared definition with q199 (Dedup.containmentPairs) -
        // the probe measures exactly the query's shape
        val n = graft.operators.Dedup.containmentPairs(
          documents.select(col("doc_id"), col("text"))).count()
        graft.operators.Q.releaseManaged()
        n
      },
      // q178's PageRank on the inflated link graph: the fixture plants
      // a constant link count per doc, so edges scale with the factor;
      // 8 iterations of one dst-keyed partial agg + one node join,
      // node-sized localCheckpoint per round - expected linear in
      // edges with a fixed iteration constant
      timed("pagerank") {
        val docs2 = documents.withColumn("text2",
          graft.operators.Graph.linkFixture(col("doc_id"), col("text")))
        val edges = docs2
          .select(col("doc_id").as("src"),
            explode(expr(
              "regexp_extract_all(text2, 'link->doc([0-9]+)', 1)"))
              .as("d"))
          .select(col("src"), col("d").cast("long").as("dst"))
          .distinct()
        val contrib = edges
          .join(edges.groupBy("src").agg(count(lit(1)).as("odeg")),
            "src")
          .persist()
        try {
          val ne = contrib.count()
          val nodes = edges.select(col("src").as("node"))
            .union(edges.select(col("dst").as("node")))
            .distinct().persist()
          try {
            var pr = nodes.withColumn("r", lit(1000000L))
            for (_ <- 1 to 8) {
              val inc = contrib.join(pr, contrib("src") === pr("node"))
                .select(col("dst").as("node"), expr("r div odeg").as("c"))
                .groupBy("node").agg(sum("c").as("inc"))
              pr = nodes.join(inc, Seq("node"), "left")
                .select(col("node"),
                  expr("150000L + (85L * coalesce(inc, 0L)) div 100L")
                    .as("r"))
                .localCheckpoint(true)
            }
            pr.count()
            ne
          } finally nodes.unpersist(blocking = false)
        } finally contrib.unpersist(blocking = false)
      },
      // q186's KN scoring at the VOCAB worst case (q133's row
      // discipline): inflation suffixes every token per replica, so
      // unigram/bigram tables scale with the factor. The count-table
      // joins run UNHINTED here - the declared trillion-token
      // graduation from q186's broadcasts to shuffle joins - so the
      // probe times the shape that actually deploys at this scale.
      timed("kneser_ney") {
        val d = documents.select(col("doc_id"), col("lang"),
            graft.operators.TextAnalysis.tokens(col("text")).as("tl"))
          .filter(size(col("tl")) >= 2).persist()
        try {
          val n = d.count()
          def bigrams(df: DataFrame) = df
            .select(col("doc_id"),
              explode(graft.operators.TextAnalysis.shingles(col("tl"), 2))
                .as("g"))
            .withColumn("v", split(col("g"), " ").getItem(0))
            .withColumn("w", split(col("g"), " ").getItem(1))
          val cb = bigrams(d.filter(col("doc_id") % 2 === 0))
            .groupBy("v", "w").agg(count(lit(1)).as("cbw")).persist()
          try {
            cb.count()
            val hist = cb.groupBy("v")
              .agg(sum("cbw").as("cv"), count(lit(1)).as("nv"))
            val cont = cb.groupBy("w").agg(count(lit(1)).as("nw"))
            val scal = cb.agg(count(lit(1)).as("dd"))
            val pcExpr = when(col("nw").isNotNull,
              col("nw").cast("double") / col("dd").cast("double"))
              .otherwise(lit(1.0) / (col("dd").cast("double") + lit(1.0)))
            val pExpr = when(col("cv").isNotNull,
              (greatest(coalesce(col("cbw"), lit(0L)).cast("double")
                  - lit(0.75), lit(0.0))
                + (lit(0.75) * col("nv").cast("double")) * col("pc"))
                / col("cv").cast("double"))
              .otherwise(col("pc"))
            bigrams(d.filter(col("doc_id") % 2 === 1))
              .join(cb, Seq("v", "w"), "left")
              .join(hist, Seq("v"), "left")
              .join(cont, Seq("w"), "left")
              .crossJoin(broadcast(scal))
              .withColumn("pc", pcExpr)
              .withColumn("term", round(pExpr * lit(1e6)).cast("long"))
              .groupBy("doc_id").agg(sum("term").as("s"))
              .count()
            n
          } finally cb.unpersist(blocking = false)
        } finally d.unpersist(blocking = false)
      },
      // q188's production shape: the corpus's 16-byte sign codes scale
      // with the factor, the query batch stays FIXED (the base
      // corpus's % 50 slice) - corpus x bounded-batch XOR+popcount
      // inside codegen; expected linear in corpus
      timed("hamming_scan") {
        val packLo = graft.operators.Similarity.PackSignLo
        val packHi = graft.operators.Similarity.PackSignHi
        val packed = embeddings.select(col("vec_id"), col("embedding"))
          .withColumn("lo", expr(packLo)).withColumn("hi", expr(packHi))
          .select("vec_id", "lo", "hi")
          .persist()
        try {
          val n = packed.count()
          val q = Q.table(spark, sfDir, "embeddings")
            .select(col("vec_id"), col("embedding"))
            .filter(col("vec_id") % 50 === 0)
            .withColumn("lo", expr(packLo)).withColumn("hi", expr(packHi))
            .select(col("vec_id").as("q_id"), col("lo").as("qlo"),
              col("hi").as("qhi"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("q_id").orderBy(col("ham"), col("vec_id"))
          packed.crossJoin(broadcast(q))
            .filter(col("vec_id") =!= col("q_id"))
            .withColumn("ham",
              expr("bit_count(lo ^ qlo) + bit_count(hi ^ qhi)")
                .cast("long"))
            .withColumn("rank", row_number().over(w).cast("long"))
            .filter(col("rank") <= 10)
            .count()
          n
        } finally packed.unpersist(blocking = false)
      },
      // q192's nightly staleness report over the inflated store: the
      // span df-drift recompute (one positioned-gram corpus pass + an
      // exchange-free gk-keyed store join), the PCA mean-shift moment
      // scans, and the per-family count scans — everything the report
      // pays, with the store build amortized above. Expected linear in
      // corpus + store; only per-family scalars reach the driver.
      timed("staleness_report") {
        import graft.operators.IndexMaintenance
        import graft.operators.IndexMaintenance.FamilySpec
        val toksAll = documents.select(col("doc_id"),
          graft.operators.TextAnalysis.tokens(col("text")).as("toks"))
        val spanDrift = IndexMaintenance.spanDfDriftMicro(
          spark, "stress_spanidx", toksAll)
        val emb2 = embeddings.select("vec_id", "embedding")
        val pcaDrift = IndexMaintenance.meanShiftMicro(
          emb2.filter(col("vec_id") % 4 =!= 0), emb2)
        val spanNow = spark.table("stress_spanidx_pgrams")
          .agg(count(lit(1))).head().getLong(0)
        IndexMaintenance.stalenessReport(spark, Seq(
          FamilySpec("span", "stress_spanidx_pgrams",
            rowsNow = Some(spanNow), driftMicro = spanDrift,
            driftThresholdMicro = 100000L),
          FamilySpec("pca", "stress_spanidx_pgrams",
            rowsNow = Some(spanNow), rowsAtBuild = Some(spanNow),
            driftMicro = pcaDrift, driftThresholdMicro = 1000L)))
          .count()
      },
      // q227's deployed shape: the PERSISTED positional index over the
      // inflated corpus is the nightly artifact (untimed build); the
      // timed probe is a fixed phrase whose salt pins it to replica 0,
      // so its posting lists stay base-sized as the store grows 10x —
      // probe cost must track the phrase's postings (bucket-pruned
      // reads), never the store
      timed("phrase_probe") {
        graft.operators.TextAnalysis
          .probePhraseIndex(spark, "stress_positionalidx",
            Seq("hashr0", "joinr0"))
          .count()
      },
      // q195's BM25 at 10x docs: the inverted-index build (tf/df/dl
      // partial aggs) is the linear part; the replica salt makes every
      // token replica-local, so the top-df query terms' postings stay
      // base-sized — candidate scoring work tracks term-posting size,
      // NOT corpus size (the probe's claim). Same shape as the query:
      // broadcast query terms, per-doc micro-rounded term sum, bounded
      // per-lang top-10 window over candidates only.
      timed("bm25_topk") {
        import org.apache.spark.sql.expressions.Window
        val toks = documents.select(col("doc_id"), col("lang"),
            explode(graft.operators.TextAnalysis.tokens(col("text")))
              .as("t"))
          .persist()
        try {
          val tf = toks.groupBy("lang", "doc_id", "t")
            .agg(count(lit(1)).as("tf"))
          val dl = toks.groupBy("lang", "doc_id")
            .agg(count(lit(1)).as("dl"))
          val stats = dl.groupBy("lang")
            .agg(count(lit(1)).as("nd"), sum("dl").as("sumdl"))
          val df = toks.select("lang", "doc_id", "t").distinct()
            .groupBy("lang", "t").agg(count(lit(1)).as("df"))
          val wq = Window.partitionBy("lang").orderBy(desc("df"), col("t"))
          val qterms = df.withColumn("qr", row_number().over(wq))
            .filter(col("qr") <= 3).select("lang", "t", "df")
          val term = col("idf") *
            ((col("tf").cast("double") * lit(2.2)) /
              (col("tf").cast("double") + lit(1.2) *
                (lit(0.25) + lit(0.75) *
                  (col("dl").cast("double") / col("avgdl")))))
          val wd = Window.partitionBy("lang")
            .orderBy(desc("score_micro"), col("doc_id"))
          tf.join(broadcast(qterms), Seq("lang", "t"))
            .join(dl, Seq("lang", "doc_id"))
            .join(broadcast(stats), Seq("lang"))
            .withColumn("avgdl",
              col("sumdl").cast("double") / col("nd").cast("double"))
            .withColumn("idf",
              ((col("nd") - col("df")).cast("double") + lit(0.5)) /
                (col("df").cast("double") + lit(0.5)))
            .withColumn("term_micro", round(term * lit(1e6)).cast("long"))
            .groupBy("lang", "doc_id")
            .agg(sum("term_micro").as("score_micro"))
            .withColumn("rank", row_number().over(wd))
            .filter(col("rank") <= 10)
            .count()
        } finally toks.unpersist(blocking = false)
      },
      // q200's data card at 10x: one corpus pass of map-only per-doc
      // quality signals into the per-lang partial agg; the DECLARED
      // heavyweight is the exact-dup countDistinct(md5(text)) — a
      // 32-hex-key distinct shuffle, the one corpus-sized exchange the
      // datasheet cannot avoid. Expected linear.
      timed("data_card") {
        import org.apache.spark.sql.expressions.Window
        val sig = graft.operators.TextAnalysis
          .qualitySignals(documents)
          .withColumn("pass",
            (col("n_tokens") >= 10 &&
              col("n_stop") * 10 <= col("n_tokens") * 3 &&
              col("n_chars_ns") <= col("n_tokens") * 8).cast("long"))
        val byLang = sig.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dup"),
          sum("pass").as("n_pass"))
        val wS = Window.partitionBy("lang").orderBy(desc("sc"), col("source"))
        val topSource = sig.groupBy("lang", "source")
          .agg(count(lit(1)).as("sc"))
          .withColumn("rk", row_number().over(wS))
          .filter(col("rk") === 1)
          .select(col("lang"), col("source").as("top_source"))
        byLang.join(topSource, "lang").collect().length.toLong
      },
      // q203's content-defined chunking at 10x docs: chunking is ALL
      // in-row HOFs (no window, no per-doc shuffle), so the only
      // corpus-sized exchange is the (lang, hash) partial agg over
      // 32-hex keys. The replica salt makes every chunk unique, so
      // chunk counts grow exactly linearly. Expected linear.
      timed("cdc_chunking") {
        graft.operators.Dedup.cdcChunks(
            documents.select("doc_id", "lang", "text"))
          .groupBy("lang", "h")
          .agg(count(lit(1)).as("cnt"))
          .groupBy("lang").agg(sum("cnt"), count(lit(1)))
          .collect().length.toLong
      },
      // q201/q202's banded perceptual candidate join at 10x assets:
      // hashes synthesized in-plan (the decode stage is map-only and
      // trivially linear; the JOIN is the scale question). Each base
      // asset plants one 2-bit-flipped variant, so verified pairs
      // track true duplication exactly while the replica-salted hash
      // population grows 10x. Expected linear.
      timed("perceptual_bands") {
        val base = documents.select(col("doc_id"),
          xxhash64(col("doc_id"), lit("phash")).as("hash"))
        val variants = base.select((-col("doc_id") - 1).as("doc_id"),
          expr("hash ^ 9L").as("hash"))   // flip bits 0 and 3
        val pairs = graft.operators.MultiModal.perceptualPairs(
          base.unionByName(variants)
            .select(col("doc_id").as("asset_id"), col("hash")))
        pairs.count()
      },
      // q205's deployed shape: a FIXED batch (each hash a 2-bit
      // variant of its stored replica-0 twin) probed against the
      // PERSISTED phash store as the store grows 10x — the stored
      // side reads the bucketed bk layout exchange-free, so probe
      // cost should track the batch, not the accumulated store;
      // verified pairs stay constant (one stored twin per batch row).
      timed("phash_probe") {
        val batch = Q.table(spark, sfDir, "documents")
          .select((col("doc_id") * factor).as("sid"))
          .select((-col("sid") - 1).as("asset_id"),
            expr("xxhash64(sid, 'phash') ^ 9L").as("hash"))
        graft.operators.MultiModal
          .probePhashIndex(spark, "stress_phashidx", batch).count()
      },
      // the media ingest LOOP end-to-end (round-15 ask #6): a FIXED
      // batch of REAL image payloads through mediaIngestBatch —
      // decode+hash (fixed), intra-batch dedup (fixed), the probe
      // against the 10x-inflated PERSISTED store (the scale
      // question; exchange-free stored side), ledger commit and the
      // guarded append (fixed admitted rows). Expected flat-ish as
      // the store grows; admitted count constant (one survivor per
      // base image — the three variants drop intra-batch).
      timed("media_ingest_admission") {
        var admitted = -1L
        graft.streaming.StreamingOps.mediaIngestBatch(
          stressMediaBatch(), 777L, "stress_mediaidx",
          growIndex = true, (df, _) => admitted = df.count())
        admitted
      },
      // the same batch REPLAYED under its original id: the ledger
      // semi-join reproduces the admitted set and the guarded append
      // no-ops — the foreachBatch retry cost, also store-size-flat
      // (the setup primes the ledger when the admission row is
      // subset-excluded, so this is ALWAYS a true replay)
      timed("media_ingest_replay") {
        var admitted = -1L
        graft.streaming.StreamingOps.mediaIngestBatch(
          stressMediaBatch(), 777L, "stress_mediaidx",
          growIndex = true, (df, _) => admitted = df.count())
        admitted
      },
      // the VIDEO ingest loop (round 15): a FIXED batch of real
      // frame-stack payloads through videoIngestBatch against the
      // 10x-inflated persisted frame-hash store — decode + per-frame
      // hash + intra-batch containment (all fixed) plus the
      // frame-grain store probe (the scale question; exchange-free
      // stored side) and the ledger/append tail. Expected flat-ish;
      // the batch's 30 fresh videos all admit (their synth frames
      // live outside the store's hash population).
      timed("video_ingest_admission") {
        import spark.implicits._
        val batch = spark.range(30).as[Long].mapPartitions(_.map(id =>
          graft.operators.MediaAsset(id, "video",
            graft.operators.MultiModal.frameStackBytes((0L to 5L).map(
              f => graft.operators.MultiModal.synthImageBytes(
                2000L + id * 8 + f, 0))), "v"))).toDF()
        var admitted = -1L
        graft.streaming.StreamingOps.videoIngestBatch(batch, 888L,
          "stress_videoidx", growIndex = true,
          (df, _) => admitted = df.count())
        admitted
      },
      // the unigram-LM trainer (round 15) at 10x docs: the replica
      // salt multiplies the distinct-word dictionary by the factor,
      // so this measures the claimed linearity of the seed explode +
      // the per-round typed-Viterbi E-steps over the growing (but
      // vocab-bounded-output) word frame. Expected near-linear in the
      // token volume.
      timed("unigram_train") {
        graft.operators.TextAnalysis.unigramTrain(
          documents.select("text"), vocabSize = 64, maxPieceLen = 4,
          seedSize = 200, emIters = 2).length.toLong
      },
      // two-pass z-score (q66 shape): fixed-size moment sketch, then
      // the tiny stats table broadcast back over the inflated facts
      timed("zscore_two_pass") {
        val stats = events.groupBy("event_type")
          .agg(count(lit(1)).cast("double").as("n"),
            Q.dsum(col("value")).cast("double").as("s"),
            Q.dsum(col("value") * col("value")).cast("double").as("ss"))
          .select(col("event_type"), (col("s") / col("n")).as("mean"),
            sqrt(col("ss") / col("n") -
              (col("s") / col("n")) * (col("s") / col("n"))).as("std"))
        events.join(broadcast(stats), "event_type")
          .filter(abs(col("value") - col("mean")) > lit(2.0) * col("std"))
          .count()
      },
      // q222 shape: dup arrival-lag histogram — the shuffle moves md5
      // prefix fingerprints, dup rows grow linearly (each replica keeps
      // the base corpus's internal dup groups under the shared salt)
      timed("dup_arrival_lag") {
        val f = documents.select(col("doc_id"),
          md5(array_join(slice(graft.operators.TextAnalysis
            .tokens(col("text")), 1, 8), " ")).as("fp"))
        val g = f.groupBy("fp").agg(min("doc_id").as("first_id"))
        f.join(g, "fp").filter(col("doc_id") > col("first_id"))
          .select((col("doc_id") - col("first_id")).cast("long").as("gap"))
          .groupBy((length(bin(col("gap"))) - 1).as("bucket"))
          .count().collect().map(_.getLong(1)).sum
      },
      // q223 shape: sliding 7-day distinct users with the user
      // population salted N× — islands and difference events grow
      // linearly while the calendar frame stays fixed
      timed("sliding_distinct") {
        import org.apache.spark.sql.expressions.Window
        val e = events
          .withColumn("user_id",
            col("user_id") * factor + col("replica"))
          .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        val w = Window.partitionBy("user_id").orderBy("d")
        val spans = e
          .withColumn("gap",
            datediff(col("d"), lag(col("d"), 1).over(w)))
          .withColumn("brk",
            when(col("gap").isNull || col("gap") > 6, 1L).otherwise(0L))
          .withColumn("isl", sum("brk").over(w.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "isl")
          .agg(min("d").as("s"), date_add(max("d"), 7).as("x"))
        spans.select(col("s").as("day"), lit(1L).as("delta"))
          .unionByName(spans.select(col("x").as("day"),
            lit(-1L).as("delta")))
          .groupBy("day").agg(sum("delta").as("delta"))
          .count()
      },
      // q226 shape: vocab coverage with the salt inflating both token
      // volume AND vocabulary N× — the dictionary-bounded discipline's
      // worst case (the vocab frame itself grows with the factor)
      timed("vocab_coverage") {
        import org.apache.spark.sql.expressions.Window
        val wc = documents
          .select(explode(graft.operators.TextAnalysis
            .tokens(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("freq"))
        val tot = wc.agg(sum("freq")).head().getLong(0)
        val wRank = Window.orderBy(desc("freq"), col("token"))
        wc.withColumn("rank", row_number().over(wRank).cast("long"))
          .withColumn("cum", sum("freq").over(wRank.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
          .filter(col("cum") * 100 >= lit(90L) * tot)
          .agg(min("rank")).head().getLong(0) // 90% vocab size
      },
      // q219 shape: the broadcast range join against the bounded CDF —
      // probe rows grow N×, the CDF frame stays fixed, so the nested-
      // loop term is linear in the corpus
      timed("quantile_normalize") {
        import org.apache.spark.sql.expressions.Window
        val d = documents.select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("v"))
        val nTot = d.count()
        val wSrc = Window.partitionBy("source").orderBy("v", "doc_id")
        val ranked = d
          .withColumn("r", row_number().over(wSrc).cast("long"))
          .withColumn("ns",
            count(lit(1)).over(Window.partitionBy("source")))
          .withColumn("k",
            expr(s"((2 * r - 1) * ${nTot}L + 2 * ns - 1) div (2 * ns)"))
        val cdf = d.groupBy("v").agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum("cnt").over(Window.orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("prev", col("cum") - col("cnt"))
          .select(col("v").as("norm_v"), col("cum"), col("prev"))
        ranked.join(broadcast(cdf),
            col("cum") >= col("k") && col("prev") < col("k"))
          .count()
      },
      // q235 shape: tokenized-release encode+pack over the inflated
      // corpus under a FIXED vocab trained on the base corpus (the
      // shipped-artifact premise — the tokenizer does not retrain per
      // release). The salt is this path's worst case: distinct words
      // grow N×, so the per-distinct-word Viterbi stage grows with the
      // factor — the claim under test is LINEAR growth (dictionary-
      // bounded segmentation + one word-keyed join + the two-level
      // prefix-sum pack), never a per-token or per-pair blowup
      timed("token_release") {
        val enc = graft.operators.Release.encodeCorpus(
          spark, documents.select("doc_id", "text"), releaseVocab.get)
        graft.operators.Release.packSequences(enc)
          .agg(sum("n_tokens")).head().getLong(0)
      },
      // q237 shape: 4 BFS rounds over the pre-built cached edge list,
      // fixed 10-seed frontier — per-round shuffle is factor-invariant
      // (target space < 400); growth across factors reads the cached
      // edge-scan term only
      timed("khop_rounds") {
        // seeds from the BASE table (ids < 500 exist at every factor):
        // deriving them from the inflated frame would re-run the
        // factor-sized salting scan inside the timed window and charge
        // the rounds for corpus work they never do
        val seeds = Q.table(spark, sfDir, "documents")
          .filter(col("doc_id") < 500 && col("doc_id") % 50 === 0)
          .select(col("doc_id").as("node")).distinct()
        graft.operators.Graph.khopCounts(khopEdges.get, seeds, 4)
          .agg(max("n_cum")).head().getLong(0)
      },
      // q242 shape: triangle census over the same cached edge list.
      // The inflated graph is EXACTLY the adversarial case compact-
      // forward exists for: salted sources keep out-degree ~2-3 while
      // the < 400 fixture targets grow in-degree LINEARLY with the
      // factor — unoriented wedge counting would grow ~factor² at the
      // hub targets, the oriented join pivots at the low-degree
      // sources and must stay ~linear; comparing factors reads that
      // exponent directly
      timed("triangle_census") {
        graft.operators.Graph.triangleStats(khopEdges.get)
          .head().getLong(4)
      },
      // q245 shape: 4 HITS iterations (8 half-steps) over the cached
      // edge list — per half-step cost is one edge-scan join + a
      // node-keyed agg + a 1-row max broadcast, so wall must track
      // the cached scan term linearly, never the in-degree skew (the
      // hub targets' mass concentrates but the join stays key-equi)
      timed("hits_iters") {
        graft.operators.Graph.hitsScores(khopEdges.get)
          .agg(max("auth_micro")).head().getLong(0)
      },
      // q246 shape: labeled multi-source BFS over a FIXED 10-seed
      // panel — state is bounded by panel × reach (< 400 fixture
      // targets), so per-round shuffle must stay factor-invariant
      // like khop_rounds while the edge scan grows with the factor
      timed("harmonic_panel") {
        val seeds = Q.table(spark, sfDir, "documents")
          .filter(col("doc_id") < 500 && col("doc_id") % 50 === 0)
          .select(col("doc_id").as("seed")).distinct()
        graft.operators.Graph
          .multiSourceDistances(khopEdges.get, seeds, 4)
          .filter(col("hop") > 0)
          .groupBy("node")
          .agg(sum(expr("1000000L div hop")).as("hm"))
          .agg(max("hm")).head().getLong(0)
      },
      // q249 shape: 8 large/small star rounds over the same cached
      // edge list. Salted inflation DENSIFIES the < 400 fixture
      // targets (in-degree grows with the factor), which is star
      // contraction's easy direction — the giant component collapses
      // in FEWER effective rounds as the factor grows, and converged
      // tail rounds re-emit a fixpoint star set whose size tracks
      // |nodes|; wall must track the edge scan ~linearly, with the
      // converged census still cover_ok/converged_ok at every factor
      // (the probe returns the packed contract bits to catch a factor
      // that breaks them)
      timed("cc_rounds") {
        val r = graft.operators.Graph.componentCensus(khopEdges.get)
          .head()
        r.getLong(5) * 10 + r.getLong(6)
      },
      // q255 shape: 2-core + 3-core peel over the same cached edge
      // list. Inflation densifies the < 400 fixture targets, which
      // SHORTENS the peel (high-degree backbones survive instantly,
      // tendrils vanish in one round) — wall must stay flat-to-
      // falling while the monotone early exit caps the round count;
      // returns the packed converged bits for both k
      timed("kcore_peel") {
        val rs = graft.operators.Graph.kcoreCensus(khopEdges.get)
          .collect()
        rs.map(_.getLong(4)).sum * 100 + rs.length
      })

    val ran = results.filter(_._2 >= 0.0)
    val qs = ran.map { case (k, v, _) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    val rows = ran.map { case (k, _, r) => s""""$k":$r""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"stress","factor":$factor,"sf":"$sfDir",""" +
      s""""sec":$qs,"rows":$rows}""")
    (Seq("stress_bandidx_bands", "stress_bandidx_shingles",
        "stress_gramidx_grams", "stress_spanidx_pgrams",
        "stress_phashidx_phash", "stress_mediaidx_phash",
        "stress_videoidx_phash", "stress_positionalidx_postings") ++
        Seq("codes", "centroids", "vectors", "pq")
          .map(t => s"stress_pqidx_$t") ++
        Seq("codes", "centroids", "vectors")
          .map(t => s"stress_ivfidx_$t"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    graft.operators.Q.releaseManaged()
    spark.stop()
  }
}
