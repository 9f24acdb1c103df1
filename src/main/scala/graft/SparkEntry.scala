package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dates.DateNorm
import graft.dedup.Dedup
import graft.discover.{Discovery, Eval}
import graft.functions.TextFns
import graft.knn.KnnJoin
import graft.pipeline.SemLink
import graft.profile.Profiler
import graft.sources.Lake
import graft.text.Analysis

/** Driver contract — one named query per implemented operator
  * (SURVEY.md §2), each with equivalent DuckDB SQL in [[oracleSql]].
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Lake.table(spark, dir, name)

  /** The late-arrival staging fixture every streaming-ingest query
    * (q91/q92/q98 on documents, q95/q96 on embeddings) drives: three
    * batches under `<base>/batches` —
    * A fully on-time (ts = id·100), B and C with every (id % 5 == 0)
    * row carrying an ancient event time (ts = id) the lateness gate
    * must route to `late/`. ONE definition: the closed-form oracles
    * compute the late sets from this arithmetic, so a per-site copy
    * drifting would silently turn them into oracles for a different
    * workload.
    */
  private[graft] val lateBatchSchema = org.apache.spark.sql.types.StructType(
    Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))

  /** [[lateBatchSchema]] for the vector families (q95/q96). */
  private[graft] val lateVecBatchSchema = org.apache.spark.sql.types
    .StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))

  private[graft] def stageLateBatches(rows: DataFrame, base: String,
      t0: Long = 1700000000000L, idCol: String = "doc_id",
      payloadCol: String = "text"): Unit = {
    def ancientTs = when(col(idCol) % 5 === 0, col(idCol))
      .otherwise(col(idCol) * 100)
    graft.streaming.Streams.stageBatch(
      rows.filter(col(idCol) < 25)
        .select((col(idCol) + 1000000).as(idCol),
          (col(idCol) * 100).as("ts"), col(payloadCol)),
      s"$base/batches", "batch_a.parquet", t0)
    graft.streaming.Streams.stageBatch(
      rows.filter(col(idCol) >= 25 && col(idCol) < 50)
        .select((col(idCol) + 2000000).as(idCol), ancientTs.as("ts"),
          col(payloadCol)),
      s"$base/batches", "batch_b.parquet", t0 + 60000)
    graft.streaming.Streams.stageBatch(
      rows.filter(col(idCol) >= 50 && col(idCol) < 75)
        .select((col(idCol) + 3000000).as(idCol), ancientTs.as("ts"),
          col(payloadCol)),
      s"$base/batches", "batch_c.parquet", t0 + 120000)
  }

  /** Flagship query (SemLink join discovery end-to-end, SURVEY.md §3.1)
    * on sf=0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    SemLink.discover(spark, "/root/testdata/sf0.001", k = 5, threshold = 1.3)

  // ---- shared kNN building blocks (embeddings table, self-kNN) ----

  /** Inline ground truth of the lake's key relationships (all integer key
    * columns — their string-cast stats agree byte-for-byte across engines).
    */
  private val deepjoinGt: Seq[(String, String, String, String)] = Seq(
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"))

  private def knnL2(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    KnnJoin.broadcastKnn(emb, emb, "vec_id", "embedding", k, KnnJoin.MetricL2Sq)
  }

  private def sameLabelTruth(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "label")
    emb.as("a").join(emb.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query"), col("b.vec_id").as("candidate"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1-style aggregation over the biggest table (partial+final hash agg)
    "q01_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    // J1: broadcast inner equi-join (small dim side) + aggregation
    "q02_revenue_by_segment" -> ((s, d) => {
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"), "inner")
        .groupBy("c_mktsegment")
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    // W1/T2: per-group top-k ranking window
    "q03_top_orders_per_cust" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    }),

    // P-class: filter + projection (pushed to the parquet scan)
    "q04_filter_project" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * col("l_discount"), 4).as("disc_price"))
    }),

    // SO1–SO3: union/intersect/except with distinct semantics
    "q05_setops_nation" -> ((s, d) => {
      val c = t(s, d, "customer").select(col("c_nationkey").cast("long").as("nationkey"))
      val sup = t(s, d, "supplier").select(col("s_nationkey").cast("long").as("nationkey"))
      c.intersect(sup).withColumn("tag", lit("both"))
        .union(c.except(sup).withColumn("tag", lit("customer_only")))
        .union(sup.except(c).withColumn("tag", lit("supplier_only")))
        .select("tag", "nationkey")
    }),

    // A1: column-profiling aggregation, full stats (extract_schema.py:48–72)
    "q06_profile_customer" -> ((s, d) => {
      Profiler.profileStats(t(s, d, "customer"), "customer")
        .withColumnRenamed("table", "table_name")
        .withColumnRenamed("column", "column_name")
    }),

    // A1/S3: whole-lake profile catalog (count stats; string-cast length
    // stats excluded here — timestamp rendering is engine-specific)
    "q07_profile_lake" -> ((s, d) => {
      Profiler.profileLakeStats(s, d)
        .select(col("table").as("table_name"), col("column").as("column_name"),
          col("inferred_type"), col("row_count"), col("num_values"), col("nulls"))
    }),

    // F2: whitespace-collapse + lowercase normalization
    "q08_normalize_text" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        TextFns.normalizeText(col("text")).as("norm_text"))
    }),

    // Text analysis: token/char/quality stats
    "q09_quality_stats" -> ((s, d) => {
      Analysis.qualityStats(t(s, d, "documents"), "doc_id", "text")
        .drop("fingerprint")
    }),

    // J7: exact kNN join, squared L2 (FAISS convention), rank 1..5
    "q10_knn_l2" -> ((s, d) => {
      knnL2(s, d, 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"),
          round(col("dist"), 6).as("dist"))
    }),

    // Similarity search: brute-force cosine top-5
    "q11_knn_cosine" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      KnnJoin.broadcastKnn(emb, emb, "vec_id", "embedding", 5, KnnJoin.MetricCosine)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"),
          round(col("dist"), 6).as("dist"))
    }),

    // P9: sqrt-at-filter-time distance threshold (join_discoverer.py:318)
    "q12_threshold_join" -> ((s, d) => {
      Discovery.thresholdFilter(knnL2(s, d, 10), "dist", 1.19)
        .select(col("query_id"), col("neighbor_id"), round(col("dist"), 6).as("dist"))
    }),

    // A8: micro P/R/F1 with eps-in-denominator semantics
    "q13_knn_eval_prf" -> ((s, d) => {
      val discovered = knnL2(s, d, 5)
        .select(col("query_id").as("query"), col("neighbor_id").as("candidate"))
      Eval.microPrf1(discovered, sameLabelTruth(s, d))
        .withColumnRenamed("precision", "prec")
        .withColumnRenamed("recall", "rec")
    }),

    // A9: NDCG@5 vs same-label ground truth
    "q14_knn_ndcg" -> ((s, d) => {
      val ranked = knnL2(s, d, 5)
        .select(col("query_id").as("query"), col("neighbor_id").as("candidate"),
          col("rank"))
      Eval.ndcgAtK(ranked, sameLabelTruth(s, d), 5)
    }),

    // Dedup (exact): canonicalization on the 8-byte xxhash64 shuffle key
    // (text rides as min_by payload, not as the group key)
    "q15_dedup_exact" -> ((s, d) => {
      Dedup.exactDupGroupsByHash(t(s, d, "documents"), "doc_id", "text")
    }),

    // Dedup (n-gram Jaccard): token-blocked exact word-set similarity
    "q16_jaccard_pairs" -> ((s, d) => {
      Dedup.wordJaccardPairs(
          t(s, d, "documents").filter(col("doc_id") < 1000), "doc_id", "text", 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    // Dedup (n-gram Jaccard): the same exact prefix-filter join at
    // 3-shingle grain — shared phrases, not shared vocabulary
    "q47_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(
          t(s, d, "documents").filter(col("doc_id") < 1000),
          "doc_id", "text", n = 3, threshold = 0.3)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    // SO4: canonical unordered pair key (least/greatest) + aggregation
    "q17_pair_canon" -> ((s, d) => {
      val (lo, hi) = graft.discover.Discovery.canonicalPair(
        col("l_partkey"), col("l_suppkey"))
      t(s, d, "lineitem")
        .select(lo.as("pair_lo"), hi.as("pair_hi"))
        .groupBy("pair_lo", "pair_hi")
        .agg(count(lit(1)).as("n"))
    }),

    // F9: multi-format date normalization → "dd MMMM yyyy"
    "q18_date_normalize" -> ((s, d) => {
      val m = col("o_orderkey") % 4
      val raw = when(m === 0, date_format(col("o_orderdate"), "yyyy-MM"))
        .when(m === 1, date_format(col("o_orderdate"), "yyyyMMdd"))
        .when(m === 2, date_format(col("o_orderdate"), "MM/yyyy"))
        .otherwise(concat(year(col("o_orderdate")), lit("-Q"),
          quarter(col("o_orderdate"))))
      graft.util.Par.balance(t(s, d, "orders").select("o_orderkey", "o_orderdate"))
        .select(col("o_orderkey"), raw.as("raw"),
          DateNorm.normalizeDate(raw).as("normalized"))
    }),

    // Dedup (MinHash+LSH): banded candidate generation with injected exact
    // copies (doc_id+1000000). The output is the recovered injected-pair
    // set: identical text → identical signatures → every pair MUST surface
    // with est_jaccard exactly 1.0, which the DuckDB oracle asserts row by
    // row (recall 100% on exact dups, hash-checked — no blind spot).
    "q19_minhash_lsh" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val dups = docs.withColumn("doc_id", col("doc_id") + 1000000)
      Dedup.minHashLshCandidates(docs.union(dups), "doc_id", "text")
        .filter(col("est_jaccard") >= 0.9)
        .join(docs.select(col("doc_id").cast("long").as("id_a")), Seq("id_a"))
        .filter(col("id_b") === col("id_a") + 1000000)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
    }),

    // Dedup (SimHash): pigeonhole-blocked Hamming near-dups with injected
    // exact copies — recovered injected pairs carry hamming 0 and are
    // hash-checked against the oracle (same recall-gate pattern as q19)
    "q20_simhash" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
        .filter(col("doc_id") < 1000)
      val dups = docs.withColumn("doc_id", col("doc_id") + 1000000)
      Dedup.simhashNearDups(docs.union(dups), "doc_id", "text", maxHamming = 3)
        .join(docs.select(col("doc_id").cast("long").as("id_a")), Seq("id_a"))
        .filter(col("id_b") === col("id_a") + 1000000)
        .select("id_a", "id_b", "hamming")
    }),

    // Winnowing fingerprints (MOSS local fingerprinting) as a dedup
    // blocking key, recovery-gated like q19/q20: injected exact copies
    // have identical fingerprint sets, so every pair MUST surface from
    // the shared-fingerprint join — hash-checked row by row
    "q48_winnow_fingerprint" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
        .filter(col("doc_id") < 1000)
      val dups = docs.withColumn("doc_id", col("doc_id") + 1000000)
      // materialized once (the self-join references fp on both sides and
      // would otherwise run the scan + winnowing kernel + explode twice);
      // localCheckpoint, not cache(): checkpoint blocks are released by
      // the ContextCleaner when the result plan is dropped, while a
      // cache() pins a CacheManager entry for the session lifetime —
      // repeated bench/verify invocations would accumulate them.
      // Trade-off: checkpoint blocks are non-replicated and NON-
      // recomputable — on a cluster an executor loss fails the query
      // where cache() would recompute. Right for this local bench
      // harness; a long-lived cluster deployment of this entry should
      // prefer cache() + explicit unpersist after the action
      val fp = docs.union(dups).select(col("doc_id").cast("long").as("id"),
        explode(Analysis.winnowingFingerprint(col("text"))).as("fp"))
        .localCheckpoint()
      // the recovery constraint rides IN the equi-join key: common
      // 8-grams are hot fingerprints on this dense synthetic corpus, and
      // an unconstrained fp self-join would enumerate every co-occurring
      // pair — the gate only asks whether each injected pair shares ≥ 1
      // fingerprint. The id-offset key also restricts id_a to original
      // docs by construction (only doc_id < 1000 has a +1000000 twin).
      fp.as("a")
        .join(fp.as("b"),
          col("a.fp") === col("b.fp") &&
            col("b.id") === col("a.id") + 1000000)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
    }),

    // Text analysis: heuristic language ID (stopword-ratio argmax)
    "q21_langid" -> ((s, d) => {
      Analysis.languageId(t(s, d, "documents"), "doc_id", "text")
    }),

    // Added-scope temporal: tumbling-window aggregation over events
    "q22_event_windows" -> ((s, d) => {
      Lake.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
        .select(unix_timestamp(col("w.start")).cast("long").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
    }),

    // §2.9 streaming, EXECUTED: the q22 window aggregation run through an
    // actual readStream → watermarked agg → memory-sink drain, so the
    // oracle checks a real Structured Streaming execution — not the batch
    // twin (which q22 already covers)
    "q42_stream_windows" -> ((s, d) => {
      graft.streaming.Streams.windowedAggOnce(s, s"$d/events.parquet")
    }),

    // §2.9 streaming, EXECUTED: exact dedup — every event arrives twice
    // (the source file staged twice), dropDuplicatesWithinWatermark keeps
    // the first; the drained sink must equal the ORIGINAL table
    "q50_stream_dedup" -> ((s, d) => {
      graft.streaming.Streams.dedupEventsOnce(s, s"$d/events.parquet")
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), round(col("value"), 2).as("value"))
    }),

    // §2.9 streaming, EXECUTED: stream-static enrichment — the event
    // stream joins the broadcast customer dimension per micro-batch and
    // aggregates per segment; oracle = the plain batch join
    "q46_stream_enrich" -> ((s, d) => {
      graft.streaming.Streams.enrichBySegmentOnce(
        s, s"$d/events.parquet", t(s, d, "customer"))
    }),

    // J4/F16 end-to-end: the corruption-robustness experiment — all three
    // schema-noise regimes applied to the lake catalog, clean + corrupted
    // names pushed through annotate → canonicalize, per-regime survival
    "q43_corruption_robustness" -> ((s, d) => {
      graft.corrupt.Robustness.annotationSurvival(
        s, Lake.tables(s, d, Lake.lakeTables))
    }),

    // J5: within-group self-join — column pairs sharing a semantic name.
    // The (table, column) catalog comes straight from the parquet footers
    // (schema read, zero jobs) — grouping needs names, not statistics.
    "q23_within_group_pairs" -> ((s, d) => {
      import s.implicits._
      val items = Lake.tables(s, d, Lake.lakeTables)
        .flatMap { case (tbl, df) => df.schema.fieldNames.map(tbl -> _) }
        .toDF("table", "column")
        .select(col("table"), col("column"),
          graft.annotate.RuleAnnotator.semanticName(col("column")).as("anno"),
          TextFns.columnKey(col("table"), col("column")).as("key"))
      graft.pairs.PairsBuilder.withinGroupPairs(items, "anno", "key")
    }),

    // J2/J3: annotation lookup + enrichment with conditional date override.
    // The profile catalog feeds BOTH the annotator and the enrichment join;
    // uncached, each reference re-runs the whole 7-table profile pass
    // (re-scans the lake at 100 TB) — cache the catalog-sized result.
    "q24_annotation_enrich" -> ((s, d) => {
      val profiles = Profiler.profileLakeStats(s, d).cache()
      val ann = graft.annotate.RuleAnnotator.annotate(profiles)
      graft.annotate.Enrich.enrichProfiles(profiles, ann)
        .select(col("table").as("table_name"), col("column").as("column_name"),
          col("semantic_annotation"), col("enriched_type"))
    }),

    // Added-scope temporal: gap-based sessionization (batch twin of the
    // flatMapGroupsWithState streaming operator)
    "q25_sessionize" -> ((s, d) => {
      graft.streaming.Streams.sessionizeBatch(Lake.events(s, d), gapMinutes = 30)
    }),

    // DeepJoin pair assembly (J1/J2/J6 + F6) from an inline GT of the
    // lake's known key relationships. Sample-free text variant: the stats
    // prefix is byte-deterministic (all GT columns are integers, whose
    // string-cast agrees across engines), so the full rendered pair text
    // hash-matches the DuckDB oracle.
    "q26_deepjoin_pairs" -> ((s, d) => {
      import s.implicits._
      val gt = deepjoinGt
        .toDF("query_table", "query_column", "candidate_table", "candidate_column")
      // cached: referenced by both the stats join and the annotator (see q24)
      val profiles = Profiler.profileLakeStats(s, d).cache()
      val texts = graft.pairs.PairsBuilder.columnTexts(
        graft.pairs.PairsBuilder.withStats(
          graft.pairs.PairsBuilder.gtColumns(gt), profiles),
        Some(graft.annotate.RuleAnnotator.annotate(profiles)),
        useAnnotation = true, includeSamples = false)
      graft.pairs.PairsBuilder.buildPairs(gt, texts)
    }),

    // IVF kNN with nProbe == nList: probes every inverted list, so the
    // result is exactly brute-force kNN — an oracle-shareable config that
    // exercises the IVF assign/probe machinery end-to-end. The query side
    // is capped (vec_id < 500) so the deliberately-exhaustive probe stays
    // an oracle fixture, not a bench-dominating N² plan — the production
    // pruned config is benched as q37.
    "q28_ivf_knn" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.knn.ApproxKnn.ivfKnn(emb.filter(col("vec_id") < 500), emb,
        "vec_id", "embedding", k = 5, nList = 16, nProbe = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"),
          round(col("dist"), 6).as("dist"))
    }),

    // Multi-probe LSH kNN, recall-gated: the hyperplane signatures are not
    // reproducible in SQL, so the query itself compares the LSH result
    // against the exact kNN (one left join, evaluated once) and emits the
    // aggregate recall floor check the oracle CAN assert — n_exact is
    // 5·|embeddings| by construction and the floor (0.4, the ApproxKnnSpec
    // floor for these angularly-diffuse vectors) must hold.
    "q29_lsh_knn" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val approx = graft.knn.ApproxKnn.lshKnn(emb, emb, "vec_id", "embedding",
          k = 5, dim = 64)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__a"))
      val exact = knnL2(s, d, 5).select("query_id", "neighbor_id")
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("__a")).as("n_hits"))
        .select(col("n_exact"),
          when(col("n_hits") * 10 >= col("n_exact") * 4, 1L).otherwise(0L)
            .as("recall_floor_met"))
    }),

    // F7: conditional multi-line embedding-prompt assembly (sample-free
    // variant — sample ordering is engine-specific, covered in unit tests)
    "q30_embedding_prompt" -> ((s, d) => {
      val p = Profiler.profileStats(t(s, d, "customer"), "customer")
      p.select(col("table").as("table_name"), col("column").as("column_name"),
        TextFns.embeddingPrompt(
          col("column"),
          graft.annotate.RuleAnnotator.semanticName(col("column")),
          format_string("Table %s", col("table")),
          col("num_values"), col("min_len"), col("max_len"), col("avg_len"),
          lit(null).cast("array<string>"),
          lit(null).cast("array<string>")).as("prompt"))
    }),

    // BPE-ish token counting (GPT-2-style pre-tokenizer regex)
    "q31_token_bpe" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        TextFns.bpeIshTokenCount(col("text")).as("n_bpe_tokens"))
    }),

    // F8 token-exact BPE truncation, contract-gated (the merge loop is
    // not SQL-expressible, so the query emits the invariants the oracle
    // CAN assert must all hold corpus-wide): the truncation is a prefix,
    // re-encoding it stays under the cap, below-cap texts pass through
    // unchanged, above-cap texts are cut. BOTH engines are gated — the
    // GPT-2 merges.txt tokenizer and the .tiktoken/cl100k-pre-tokenizer
    // engine (the reference's vocabulary family, join_discoverer.py:34) —
    // over every document.
    "q44_bpe_truncate" -> ((s, d) => {
      val cap = 16
      // the DEPLOYMENT's engine, with provenance recorded in the output:
      // `vocab` is 'demo' in this offline build (the published ~1.7 MB
      // cl100k_base export cannot be fetched here) and flips to
      // 'cl100k_base' the moment scripts/fetch_cl100k.sh has run — the
      // gate then visibly reports reference-token-exact mode (and the
      // oracle row below, which pins 'demo', flags the change loudly
      // rather than letting vocabulary drift pass silently)
      val (tik, vocabName) = graft.functions.BpeEngine.resolveDefaultNamed()
      t(s, d, "documents")
        .select(col("text"),
          TextFns.bpeTokenCountExact(col("text")).as("n_tok"),
          TextFns.truncateTokensExact(col("text"), cap).as("trunc"),
          TextFns.bpeTokenCountExact(col("text"), tik).as("n_tok_tik"),
          TextFns.truncateTokensExact(col("text"), cap, tik).as("trunc_tik"))
        .agg(
          count(lit(1)).as("n_docs"),
          min(when(col("text").startsWith(col("trunc")), 1L).otherwise(0L))
            .as("is_prefix"),
          min(when(TextFns.bpeTokenCountExact(col("trunc")) <= cap, 1L)
            .otherwise(0L)).as("under_cap"),
          min(when(col("n_tok") > cap || col("trunc") === col("text"), 1L)
            .otherwise(0L)).as("noop_below_cap"),
          min(when(col("n_tok") <= cap || length(col("trunc")) < length(col("text")),
            1L).otherwise(0L)).as("cut_above_cap"),
          min(when(col("text").startsWith(col("trunc_tik")), 1L).otherwise(0L))
            .as("is_prefix_tik"),
          min(when(TextFns.bpeTokenCountExact(col("trunc_tik"), tik) <= cap, 1L)
            .otherwise(0L)).as("under_cap_tik"),
          min(when(col("n_tok_tik") > cap || col("trunc_tik") === col("text"), 1L)
            .otherwise(0L)).as("noop_below_cap_tik"),
          min(when(col("n_tok_tik") <= cap ||
            length(col("trunc_tik")) < length(col("text")), 1L)
            .otherwise(0L)).as("cut_above_cap_tik"))
        .withColumn("vocab", lit(vocabName))
    }),

    // Sliding windows: each event lands in size/slide overlapping windows
    "q32_sliding_windows" -> ((s, d) => {
      Lake.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
        .select(unix_timestamp(col("w.start")).cast("long").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
    }),

    // Native session windows (session_window) — same gap semantics as the
    // explicit q25 sessionization, different operator
    "q33_session_window" -> ((s, d) => {
      Lake.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("session_start_us"),
          col("n_events"), col("sum_value"))
    }),

    // A10: per-query macro metrics at k=5 vs label ground truth
    "q34_per_query_prf" -> ((s, d) => {
      val ranked = knnL2(s, d, 5)
        .select(col("query_id").as("query"), col("neighbor_id").as("candidate"),
          col("rank"))
      Eval.perQueryPrf(ranked, sameLabelTruth(s, d), 5)
    }),

    // Skew-mitigation: salted hot-key aggregation (two-phase) — results
    // must equal the plain aggregation
    "q35_salted_agg" -> ((s, d) => {
      graft.util.Skew.saltedCountSum(
        t(s, d, "lineitem"), "l_returnflag", "l_quantity", salt = 8)
        .select(col("l_returnflag"), col("n"), round(col("sum_value"), 2).as("sum_qty"))
    }),

    // Custom Catalyst operator: KnnJoinPlan logical node + KnnJoinStrategy
    // + KnnJoinExec (broadcast queries + partial top-k per partition +
    // one merge) — exact semantics, so it shares the brute-force oracle
    "q36_knn_plan" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      org.apache.spark.sql.graft.KnnJoinOp
        .knnJoin(emb, emb, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"),
          round(col("dist"), 6).as("dist"))
    }),

    // SQL TVF surface over the custom Catalyst operator: the same plan
    // node planted by the parser path — exact semantics, shares the
    // brute-force oracle
    "q38_knn_tvf" -> ((s, d) => {
      GraftFunctions.register(s)
      t(s, d, "embeddings").createOrReplaceTempView("embeddings_tvf")
      s.sql("""SELECT query_id, neighbor_id, rank AS rnk,
              |       round(dist, 6) AS dist
              |FROM knn_join('embeddings_tvf', 'embeddings_tvf',
              |              'vec_id', 'embedding', 5)""".stripMargin)
    }),

    // Graph ANN (sharded HNSW — the reference's hnswlib contract),
    // recall-gated like q29/q37: per-partition navigable-small-world
    // graphs, broadcast queries beam through every shard, one window
    // merge. Floor 0.8 (measured 1.0 at sf0.001/0.01/0.1 — the beam is
    // near-exhaustive at these shard sizes; the floor leaves margin for
    // partition-layout shifts).
    "q45_hnsw_knn" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val approx = graft.knn.ApproxKnn.hnswKnn(emb, emb, "vec_id", "embedding",
          k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__a"))
      val exact = knnL2(s, d, 5).select("query_id", "neighbor_id")
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("__a")).as("n_hits"))
        .select(col("n_exact"),
          when(col("n_hits") * 10 >= col("n_exact") * 8, 1L).otherwise(0L)
            .as("recall_floor_met"))
    }),

    // Persistent sharded-HNSW index (graph counterpart of q41's IVF
    // layout): build writes each shard's graph as one graph image,
    // search restores each shard exactly from its image
    // and beams the broadcast queries — recall-gated like q45 (floor 0.8)
    "q49_hnsw_index" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idxDir = graft.util.TempDirs.register(
        s"/tmp/graft_hnsw_index_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      graft.knn.HnswIndex.build(emb, "vec_id", "embedding", idxDir)
      val approx = graft.knn.HnswIndex.search(s, idxDir, emb,
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__a"))
      val exact = knnL2(s, d, 5).select("query_id", "neighbor_id")
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("__a")).as("n_hits"))
        .select(col("n_exact"),
          when(col("n_hits") * 10 >= col("n_exact") * 8, 1L).otherwise(0L)
            .as("recall_floor_met"))
    }),

    // IVF kNN at a PRUNED probe config (nProbe=4 of 16 lists): work scales
    // with N·nProbe/nList instead of N² — this is the configuration a real
    // deployment runs, recall-gated against the exact kNN the same way as
    // q29 (floor 0.5; ApproxKnnSpec asserts 0.55 on the same data)
    "q37_ivf_pruned" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val approx = graft.knn.ApproxKnn.ivfKnn(emb, emb, "vec_id", "embedding",
          k = 5, nList = 16, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__a"))
      val exact = knnL2(s, d, 5).select("query_id", "neighbor_id")
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("__a")).as("n_hits"))
        .select(col("n_exact"),
          when(col("n_hits") * 2 >= col("n_exact"), 1L).otherwise(0L)
            .as("recall_floor_met"))
    }),

    // PII scrubbing (training-corpus hygiene): emails/URLs/IPs/phones →
    // typed placeholders. Deterministic PII is injected from doc_id so the
    // masking is exercised on every row; patterns are Java-regex ∩ RE2, so
    // DuckDB replays the exact chain.
    "q39_pii_scrub" -> ((s, d) => {
      val id = col("doc_id").cast("string")
      val withPii = t(s, d, "documents").select(
        col("doc_id"),
        concat(col("text"),
          lit(" contact user"), id, lit("@mail.example.com via https://ex.example/p/"), id,
          lit(" or 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 tel 555-010-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
      withPii.select(col("doc_id"), Analysis.scrubPii(col("text")).as("clean"))
    }),

    // S11 persistent IVF index: build writes centroids + cid-partitioned
    // inverted lists as parquet; search probes with a static partition
    // filter. nProbe == nList probes every list → exact kNN, shares the
    // brute-force oracle (build is seeded → deterministic layout). The
    // BUILD runs over the full table (the part S11 is about); the
    // exhaustive-probe search side is capped (vec_id < 500) so the
    // deliberately-N² oracle config stays a fixture, not a bench
    // dominator — same bench-role split as q28, with the production
    // pruned probe benched by q37.
    "q41_ivf_index" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      // per-process path: a shared fixed dir would let concurrent runs
      // overwrite each other's index mid-search; registered for recursive
      // deletion at JVM exit so repeated runs don't accumulate under /tmp
      val idxDir = graft.util.TempDirs.register(
        s"/tmp/graft_ivf_index_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      graft.knn.IvfIndex.build(emb, "vec_id", "embedding", idxDir, nList = 16)
      graft.knn.IvfIndex.search(s, idxDir, emb.filter(col("vec_id") < 500),
          "vec_id", "embedding", k = 5, nProbe = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"),
          round(col("dist"), 6).as("dist"))
    }),

    // The full 10⁴–10⁵-list build stack gated end-to-end: distributed
    // k-means training (q71's trainer) + the sublinear TWO-LEVEL assign
    // (√k coarse cells over the codebook). The assign is approximate at
    // cell boundaries — list membership may shift — but searching every
    // list is exact REGARDLESS of where vectors landed, so the whole
    // stack is hash-checked against the brute-force oracle.
    "q76_twolevel_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idxDir = graft.util.TempDirs.register(
        s"/tmp/graft_ivf2l_index_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      graft.knn.IvfIndex.build(emb, "vec_id", "embedding", idxDir,
        nList = 16, distributedTrain = true, twoLevelAssign = true,
        twoLevelProbes = 2)
      graft.knn.IvfIndex.search(s, idxDir, emb.filter(col("vec_id") < 500),
          "vec_id", "embedding", k = 5, nProbe = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"),
          round(col("dist"), 6).as("dist"))
    }),

    // S11 persistent IVF in COSINE mode: the metric is persisted in
    // params/ and comes back from the index (search takes no metric
    // argument). Spherical quantizer, original vectors in the lists,
    // true cosine distance out — probed at nProbe=nList it is exactly
    // brute-force cosine kNN, sharing q11's oracle arithmetic. Same
    // bench-role split as q41: full-table build, capped query side.
    "q52_ivf_cosine_index" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idxDir = graft.util.TempDirs.register(
        s"/tmp/graft_ivf_cos_index_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      graft.knn.IvfIndex.build(emb, "vec_id", "embedding", idxDir,
        nList = 16, metric = KnnJoin.MetricCosine)
      graft.knn.IvfIndex.search(s, idxDir, emb.filter(col("vec_id") < 500),
          "vec_id", "embedding", k = 5, nProbe = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"),
          round(col("dist"), 6).as("dist"))
    }),

    // Persistent LSH dedup index: the INCREMENTAL corpus-dedup story —
    // build once over the corpus, then dedupe each new batch against the
    // persisted band buckets without recomputing corpus signatures.
    // Recovery-gated like q19, across the batch boundary: the probe batch
    // is an exact copy of the corpus (ids +1000000), so every doc MUST
    // surface against its original with est_jaccard exactly 1.0.
    "q53_lsh_dedup_index" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val idxDir = graft.util.TempDirs.register(
        s"/tmp/graft_lsh_index_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      graft.dedup.LshDedupIndex.build(docs, "doc_id", "text", idxDir)
      val batch = docs.withColumn("doc_id", col("doc_id") + 1000000)
      graft.dedup.LshDedupIndex
        .candidatesAgainst(s, idxDir, batch, "doc_id", "text")
        .filter(col("est_jaccard") >= 0.9)
        .filter(col("new_id") === col("indexed_id") + 1000000)
        .select(col("indexed_id").as("id_a"), col("new_id").as("id_b"),
          round(col("est_jaccard"), 4).as("est_jaccard"))
    }),

    // Block-partitioned exact kNN — the both-sides-too-big-to-broadcast
    // escalation: quantile-cut query blocks, each broadcast against the
    // candidate side, unioned. Block boundaries partition the id line
    // exactly, so the result is STILL exact kNN — shares the brute-force
    // oracle. blockSize forces ≥4 blocks at every SF.
    "q54_block_knn" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val blockSize = math.max(1L, emb.count() / 4).toInt
      graft.knn.ApproxKnn.blockKnn(emb, emb, "vec_id", "embedding", k = 5,
          blockSize = blockSize)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"),
          round(col("dist"), 6).as("dist"))
    }),

    // int8-quantized kNN, recall-gated (q29 pattern): vectors stored
    // quantized (4× smaller payload — the 100 TB storage/shuffle story),
    // dequantized on the fly inside the scan projection, exact kNN over
    // the dequantized vectors. Floor 0.8 (VectorExprSpec asserts 0.9 on
    // the same data; the floor leaves margin across SFs).
    "q55_quant_knn" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val quantized = emb.select(col("vec_id"),
        graft.functions.VectorQuant.quantizeVec(col("embedding")).as("qv"))
      val deq = quantized.select(col("vec_id"),
        graft.functions.VectorQuant.dequantizeVec(col("qv")).as("embedding"))
      val approx = KnnJoin.broadcastKnn(deq, deq, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__a"))
      val exact = knnL2(s, d, 5).select("query_id", "neighbor_id")
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("__a")).as("n_hits"))
        .select(col("n_exact"),
          when(col("n_hits") * 10 >= col("n_exact") * 8, 1L).otherwise(0L)
            .as("recall_floor_met"))
    }),

    // Semantic near-dup (the SemDeDup shape: spherical k-means blocks,
    // within-block cosine threshold), recovery-gated across a ×1.5-scaled
    // copy of the corpus: rescaling leaves direction — hence cosine and
    // the nearest-centroid list — unchanged, so every injected copy MUST
    // co-block with its original and score cos_dist ≈ 0. Blocking,
    // spherical assignment, scoring, and threshold are all on the line;
    // incidental natural pairs fall out on the id filter.
    "q56_semantic_dedup" -> ((s, d) => {
      val emb = t(s, d, "embeddings").select("vec_id", "embedding")
      val dups = emb.select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.5d)).cast("float"))
          .as("embedding"))
      graft.dedup.Dedup.semanticNearDups(emb.unionByName(dups),
          "vec_id", "embedding",
          maxCosineDistance = 1e-6, nClusters = 16, assignProbes = 2)
        .filter(col("id_b") === col("id_a") + 1000000)
        .select(col("id_a"), col("id_b"),
          round(col("cos_dist"), 4).as("cos_dist"))
    }),

    // Semantic dedup on PERTURBED (not exact) copies — the claim SemDeDup
    // actually makes, and the multi-probe story's real test: deterministic
    // ±30% per-element jitter puts the injected pairs at cos_dist
    // ~0.005–0.03 (genuinely off-direction, so co-blocking is no longer
    // guaranteed by shared direction). Recall over assignProbes ∈ {1,2,4}
    // must be monotone (probe sets are nested — an exact invariant) and
    // ≥ 0.9 at probes=4 (DedupSpec measures 0.986/1.0/1.0 at sf0.001).
    "q73_semantic_perturbed" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings").select("vec_id", "embedding")
      val perturbed = emb.select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x * (lit(1.0) + (hash(col("vec_id"), i) % 301) / lit(1000.0)))
            .cast("float")).as("embedding"))
      val corpus = emb.unionByName(perturbed)
      // probe sets are NESTED (nearestN orders by (dist, idx)), so the
      // probes=4 run carries the probes-1/2 pair sets as probe_level
      // prefixes: one k-means + assign + self-join pipeline and one
      // conditional aggregate replace three full pipelines — hits(p) is
      // value-identical to a separate run at assignProbes=p.
      val r = graft.dedup.Dedup.semanticNearDups(corpus, "vec_id",
          "embedding", maxCosineDistance = 0.05, nClusters = 16,
          assignProbes = 4, probeLevel = true)
        .filter(col("id_b") === col("id_a") + 1000000)
        .agg(
          sum(when(col("probe_level") <= 1, 1L).otherwise(0L)).as("h1"),
          sum(when(col("probe_level") <= 2, 1L).otherwise(0L)).as("h2"),
          count(lit(1)).as("h4"))
        .head()
      val hits = Seq(
        Option(r.get(0)).fold(0L)(_ => r.getLong(0)),
        Option(r.get(1)).fold(0L)(_ => r.getLong(1)),
        r.getLong(2))
      val n = emb.count()
      Seq((n,
        if (hits(0) <= hits(1) && hits(1) <= hits(2)) 1L else 0L,
        if (hits(2) >= (n * 0.9 + 0.5).toLong) 1L else 0L))
        .toDF("n_injected", "monotone_ok", "recall_floor_met")
    }),

    // PQ-ADC kNN with exact short-list rerank, recall-gated at 0.8 (the
    // q45/q55 contract): candidates compress to m=8 one-byte codes (32×
    // smaller than the vectors), the full scan reads only codes via the
    // per-query ADC lookup table, and the top rerank·k survivors are
    // re-scored exactly against the original vectors.
    "q57_pq_knn" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val approx = graft.knn.ApproxKnn.pqKnn(emb, emb, "vec_id", "embedding",
          k = 5, m = 16, ksub = 256, rerank = 4)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__a"))
      val exact = knnL2(s, d, 5).select("query_id", "neighbor_id")
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("__a")).as("n_hits"))
        .select(col("n_exact"),
          when(col("n_hits") * 10 >= col("n_exact") * 8, 1L).otherwise(0L)
            .as("recall_floor_met"))
    }),

    // PQ-coded block kNN — the both-sides-huge compressed path: ≥3
    // quantile-cut query blocks share one codebook and one lazily
    // checkpointed code scan; the full query side is never broadcast.
    // Identical codebooks make it pair-equal to pqKnn (PqSpec); here it
    // carries the same recall-floor gate as q57.
    "q72_pq_block_knn" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val blockSize = math.max(1L, emb.count() / 3).toInt
      val approx = graft.knn.ApproxKnn.pqBlockKnn(emb, emb, "vec_id",
          "embedding", k = 5, m = 16, ksub = 256, rerank = 4,
          blockSize = blockSize)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__a"))
      val exact = knnL2(s, d, 5).select("query_id", "neighbor_id")
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("__a")).as("n_hits"))
        .select(col("n_exact"),
          when(col("n_hits") * 10 >= col("n_exact") * 8, 1L).otherwise(0L)
            .as("recall_floor_met"))
    }),

    // Persisted IVF-PQ index (FAISS IndexIVFPQ contract): m-byte codes
    // ride in the inverted lists, the ADC probe scan column-prunes the
    // vectors (reads 16 B/row instead of 256 B), and the short list
    // reranks exactly. Same recall-floor gate as q57.
    "q58_ivfpq_index" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idxDir = graft.util.TempDirs.register(
        s"/tmp/graft_ivfpq_index_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      graft.knn.IvfIndex.build(emb, "vec_id", "embedding", idxDir,
        nList = 16, pqM = 16, pqKsub = 256)
      val approx = graft.knn.IvfIndex.search(s, idxDir, emb,
          "vec_id", "embedding", k = 5, nProbe = 16, usePq = true, rerank = 4)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__a"))
      val exact = knnL2(s, d, 5).select("query_id", "neighbor_id")
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("__a")).as("n_hits"))
        .select(col("n_exact"),
          when(col("n_hits") * 10 >= col("n_exact") * 8, 1L).otherwise(0L)
            .as("recall_floor_met"))
    }),

    // Streaming ANN serving, EXECUTED: query vectors arrive as a file
    // stream (2 part files, maxFilesPerTrigger=1 → 2 real micro-batches),
    // each batch probes the PERSISTED IVF index via foreachBatch, results
    // append to the sink dir. Probed at nProbe=nList the per-batch probe
    // is exact, batches partition the query set, so the drained union
    // shares q41's brute-force oracle.
    "q59_stream_knn" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val base = graft.util.TempDirs.register(
        s"/tmp/graft_stream_knn_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // bench repeats re-run the whole query in one JVM: the append-mode
      // sink dir must start empty each time or batches accumulate
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/out"), true)
      // the index build and the query-file staging share no state
      // (different directories, the build's lock covers only
      // $base/index) — overlap them (guide §2.6): staging's two tiny
      // jobs back-fill the build's stage tails
      graft.util.Overlap.par2(
        graft.knn.IvfIndex.build(emb, "vec_id", "embedding", s"$base/index",
          nList = 16),
        emb.filter(col("vec_id") < 500).select("vec_id", "embedding")
          .repartition(2)
          .write.mode("overwrite").parquet(s"$base/queries"))
      val qSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType))))
      graft.streaming.Streams.knnEnrichOnce(s, s"$base/queries", qSchema,
          s"$base/index", s"$base/out", "vec_id", "embedding",
          k = 5, nProbe = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"),
          round(col("dist"), 6).as("dist"))
    }),

    // Streaming near-dup ingestion, EXECUTED: two disjoint copy batches
    // (ids +1M, then +2M) arrive as real micro-batches (staged mtimes fix
    // the replay order); each batch is probed against the persisted LSH
    // dedup index then appended into it. Batch B's pairs AGAINST BATCH
    // A's ids exist only because A's append was visible to B's probe —
    // the cross-batch-visibility claim, hash-checked: every (+1M-gap)
    // pair must surface at est_jaccard exactly 1.0.
    "q74_stream_dedup_ingest" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val base = graft.util.TempDirs.register(
        s"/tmp/graft_stream_dedup_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // bench repeats re-run in one JVM: sink and batch dirs start fresh;
      // the index build below overwrites its own tables
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/out"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/batches"), true)
      val t0 = 1700000000000L // fixed epoch — only ORDER matters
      // the INDEX holds the full corpus (the realistic side); the streamed
      // batches cap at 2000 docs so the per-round bench stays a streaming
      // gate, not a batch-throughput one (no-op at sf ≤ 0.01: all ids
      // < 2000 there, so the correctness rows are unchanged)
      val batchSrc = docs.filter(col("doc_id") < 2000)
      // build and batch staging are directory-independent — overlap
      // them (guide §2.6); the streaming drive below starts only after
      // BOTH are on disk
      graft.util.Overlap.par2(
        graft.dedup.LshDedupIndex.build(docs, "doc_id", "text",
          s"$base/index"), {
          graft.streaming.Streams.stageBatch(
            batchSrc.select((col("doc_id") + 1000000).as("doc_id"),
              col("text")),
            s"$base/batches", "batch_a.parquet", t0)
          graft.streaming.Streams.stageBatch(
            batchSrc.select((col("doc_id") + 2000000).as("doc_id"),
              col("text")),
            s"$base/batches", "batch_b.parquet", t0 + 60000)
        })
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      graft.streaming.Streams.dedupIngestOnce(s, s"$base/batches", schema,
          s"$base/index", s"$base/out", "doc_id", "text")
        .filter(col("new_id") === col("indexed_id") + 1000000)
        .select(col("new_id"), col("indexed_id"),
          round(col("est_jaccard"), 4).as("est_jaccard"))
    }),

    // The COMPOSED corpus-prep pipeline (clean → lexical dedup → semantic
    // dedup → decontaminate → leakage-safe split → pack) as ONE call,
    // end-to-end hash-checked. The fixture plants every drop reason:
    // +3M exact copies (die at clean's dedup), +1M suffix-token copies
    // (lexical 3-gram-shingle jaccard pairs — exact AllPairs, SQL-replayable;
    // the word-SET grain is pathologically dense on this templated corpus),
    // +2M suffix-token copies with SCALED embeddings (semantic pairs —
    // deterministic direction match; the corpus has no natural pairs at
    // 1e-6, the q65-verified property), and a benchmark built from docs
    // 100–119's token slices (contamination ≥ 0.5 drops them). The
    // oracle replays all seven stages in SQL, components included.
    "q75_corpus_prep" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      def planted(offset: Long, n: Long, suffix: String) =
        docs.filter(col("doc_id") < n)
          .select((col("doc_id") + offset).as("doc_id"),
            concat(col("text"), lit(suffix)).as("text"))
      val corpus = docs
        .unionByName(planted(1000000L, 50, " zzlexdupq"))
        .unionByName(planted(2000000L, 30, " zzsemdupq"))
        .unionByName(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val embAll = emb.unionByName(emb.filter(col("vec_id") < 30)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          transform(col("embedding"), x => (x * lit(1.5d)).cast("float"))
            .as("embedding")))
      val bench = docs.filter(col("doc_id") >= 100 && col("doc_id") < 120)
        .select(col("doc_id").as("bench_id"),
          concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 3, 12))
            .as("bench_text"))
      graft.text.CorpusPrep.prepare(corpus, "doc_id", "text",
        embeddings = Some(embAll), embIdCol = "vec_id", embVecCol = "embedding",
        benchmark = Some(bench), benchIdCol = "bench_id",
        benchTextCol = "bench_text",
        config = graft.text.CorpusPrepConfig(
          minTokens = 3, maxPunctRatio = 0.5, lang = "en",
          lexicalStrategy = "ngram", lexicalThreshold = 0.9,
          contaminationMaxFrac = 0.5, testFrac = 0.25, packBudget = 512,
          // legacy dense-per-split seq ids — the grain the SQL oracle
          // models; the scale default sub-shards each split
          packShards = 1))
    }),

    // DSIR importance weighting (Xie et al. 2023): score every document
    // by how zh-like its hashed {1,2}-gram bag is (target = the zh
    // slice of the same corpus), keep the top 150 by log importance
    // weight. The oracle replays the full bucket model — md5 hex-prefix
    // buckets, add-one smoothing over the fixed 4096-bucket space, the
    // identical single-ln ratio — so bucket counts, totals, per-doc
    // sums, rounding, and the tie-broken top-k all hash-match.
    "q78_dsir_weights" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.text.Dsir.importanceWeights(
          docs.select(col("doc_id"), col("text")), "doc_id", "text",
          docs.filter(col("lang") === "zh").select("text"), "text")
        .orderBy(desc("weight"), col("id"))
        .limit(150)
    }),

    // Mixture rebalancing (data mixing by mass): derive per-language
    // keep rates so the surviving corpus realizes a 40/30/30 en/zh/de
    // mixture by CHARACTER mass, then apply the md5 hash-coin rule.
    // Rates come out of the data (two narrow aggs + a broadcast), so the
    // oracle replays the whole derivation — masses, the binding-stratum
    // scale, the exact double arithmetic, printf thresholds — and the
    // EXACT surviving row set must hash-match.
    "q79_rebalance_mixture" -> ((s, d) => {
      graft.profile.Sampling.rebalanceToMixture(
          t(s, d, "documents")
            .select(col("doc_id"), col("lang"), col("source"),
              col("n_chars")),
          "doc_id", "lang", Map("en" -> 0.4, "zh" -> 0.3, "de" -> 0.3),
          massCol = Some("n_chars"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // BM25 lexical retrieval (Robertson TREC-3, Lucene non-negative idf
    // form): the first five documents as queries against the whole
    // corpus, top-10 each. The oracle replays the full term-statistics
    // model — tf, df, dl, avgdl over token-bearing docs, the identical
    // idf · tf-saturation product — with 4-dp rounding BEFORE the
    // (score, id) ranking on both engines so templated-corpus ties
    // break identically.
    "q80_bm25_topk" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.text.Bm25.scoreTopK(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("qid"), col("text")),
        "qid", "text", topK = 10)
    }),

    // Streaming lexical-index ingestion, EXECUTED: the BM25 index seeds
    // with the full corpus, two batches stream in (A then B, mtime-
    // ordered), each SEARCHED against the pre-batch index state then
    // APPENDED. Batch A docs are exact copies of docs < 25 (their
    // original must surface); batch B's scores see the corpus WITH
    // batch A committed — N, avgdl, and df all advanced — and the
    // oracle replays BOTH index states' full BM25 models in SQL.
    "q85_stream_lex_ingest" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val base = graft.util.TempDirs.register(
        s"/tmp/graft_stream_lex_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/out"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/batches"), true)
      val t0 = 1700000000000L // fixed epoch — only ORDER matters
      // build and batch staging are directory-independent — overlap
      // them (guide §2.6)
      graft.util.Overlap.par2(
        graft.text.Bm25Index.build(docs, "doc_id", "text", s"$base/index"), {
          graft.streaming.Streams.stageBatch(
            docs.filter(col("doc_id") < 25)
              .select((col("doc_id") + 1000000).as("doc_id"), col("text")),
            s"$base/batches", "batch_a.parquet", t0)
          graft.streaming.Streams.stageBatch(
            docs.filter(col("doc_id") >= 25 && col("doc_id") < 50)
              .select((col("doc_id") + 2000000).as("doc_id"), col("text")),
            s"$base/batches", "batch_b.parquet", t0 + 60000)
        })
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      graft.streaming.Streams.lexIngestOnce(s, s"$base/batches", schema,
        s"$base/index", s"$base/out", "doc_id", "text", topK = 3)
    }),

    // Serving-stack hybrid retrieval: BOTH legs probe PERSISTED indexes
    // — the bucket-pruned BM25 inverted index and the cosine IVF index
    // at full probe (exact) — fused by RRF. The composition a deployed
    // retrieval service runs; result ≡ the one-shot q81 hybrid, so it is
    // gated by the SAME two-leg full-model SQL replay.
    "q84_hybrid_serving" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
      val sfx = s"${new java.io.File(d).getName}" +
        s"_${ProcessHandle.current().pid()}"
      val bmDir = graft.util.TempDirs.register(s"/tmp/graft_bm25_serve_$sfx")
      val ivfDir = graft.util.TempDirs.register(s"/tmp/graft_ivf_serve_$sfx")
      // the two index builds touch disjoint directories and sources,
      // and the two probe constructions likewise share nothing (each
      // runs its own driver collects) — overlap both pairs (guide
      // §2.6): wall clock drops from lex+dense to ~max(lex, dense)
      // with byte-identical results
      graft.util.Overlap.par2(
        graft.text.Bm25Index.build(docs, "doc_id", "text", bmDir),
        graft.knn.IvfIndex.build(emb, "vec_id", "embedding", ivfDir,
          nList = 16, metric = KnnJoin.MetricCosine))
      val (lex, dense) = graft.util.Overlap.par2(
        graft.text.Bm25Index.searchTopK(s, bmDir,
            docs.filter(col("doc_id") < 5)
              .select(col("doc_id").as("qid"), col("text")),
            "qid", "text", topK = 10)
          .select(col("query_id"), col("id"), col("rnk")),
        graft.knn.IvfIndex.search(s, ivfDir,
            emb.filter(col("vec_id") < 5), "vec_id", "embedding",
            k = 10, nProbe = 16)
          .select(col("query_id"), col("neighbor_id").as("id"),
            col("rank").as("rnk")))
      graft.text.Bm25.rrfFuse(Seq(lex, dense), "query_id", "id", "rnk")
    }),

    // Truncated-dimension (Matryoshka-shape) kNN: the candidate stage
    // ranks on the 48-component prefix of the 64-dim embeddings (75% of
    // the scan/kernel cost), an exact full-dim rerank widens back over
    // an 8·k short list. Gate: recall@5 vs exact kNN ≥ 0.8 on RAW
    // embeddings — the adversarial case: these are full-entropy random
    // vectors, so the prefix carries only proportional energy (measured
    // 0.93–0.94 at both SFs); MRL-trained prefixes, the operator's
    // actual operating point, front-load far more. The q55 contract
    // shape.
    "q83_truncated_knn" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val approx = graft.knn.ApproxKnn.truncatedKnn(emb, emb, "vec_id",
          "embedding", k = 5, truncDim = 48, rerank = 8)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__a"))
      val exact = knnL2(s, d, 5).select("query_id", "neighbor_id")
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("__a")).as("n_hits"))
        .select(col("n_exact"),
          when(col("n_hits") * 10 >= col("n_exact") * 8, 1L).otherwise(0L)
            .as("recall_floor_met"))
    }),

    // Persistent BM25 index: build the bucket-partitioned inverted index
    // on disk, then probe it — exact equivalence to the one-shot q80
    // model (identical formula and tie rule, N/avgdl from the persisted
    // doclens), so the probe is gated by the SAME full-model SQL oracle.
    "q82_bm25_index" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val idxDir = graft.util.TempDirs.register(
        s"/tmp/graft_bm25_index_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      graft.text.Bm25Index.build(docs, "doc_id", "text", idxDir)
      graft.text.Bm25Index.searchTopK(s, idxDir,
        docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("qid"), col("text")),
        "qid", "text", topK = 10)
    }),

    // Hybrid retrieval: BM25 lexical ranking fused with the dense
    // cosine-kNN ranking (aligned doc_id/vec_id spaces) by reciprocal
    // rank fusion (Cormack et al. 2009). The oracle replays BOTH legs —
    // the full BM25 model and the exact cosine top-10 — plus the
    // 1/(60+rank) fusion sum, 6-dp rounded before the fused ranking.
    "q81_hybrid_rrf" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
      val lex = graft.text.Bm25.scoreTopK(docs, "doc_id", "text",
          docs.filter(col("doc_id") < 5)
            .select(col("doc_id").as("qid"), col("text")),
          "qid", "text", topK = 10)
        .select(col("query_id"), col("id"), col("rnk"))
      val dense = KnnJoin.broadcastKnn(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", 10, KnnJoin.MetricCosine)
        .select(col("query_id"), col("neighbor_id").as("id"),
          col("rank").as("rnk"))
      graft.text.Bm25.rrfFuse(Seq(lex, dense), "query_id", "id", "rnk")
    }),

    // Exact substring dedup (Lee et al. 2022 ExactSubstr, word grain):
    // +1M full copies of docs < 25 make every ≥8-token span in those
    // docs corpus-duplicated — both members collapse to the sub-8-token
    // remainder; NATURAL repeated 8-grams across the templated corpus
    // are removed too, and the oracle replays the whole rule (string
    // shingles instead of hashes — same result, collisions aside).
    "q77_dedup_substrings" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val corpus = docs.unionByName(docs.filter(col("doc_id") < 25)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Analysis.dedupSubstrings(corpus, "doc_id", "text", l = 8)
    }),

    // Gopher-rule repetition stats (dup-line fraction, dup-line char
    // fraction, top-bigram char fraction) over natural docs PLUS an
    // injected high-repetition variant (text doubled across a newline —
    // every line becomes a duplicate), hash-checked against a SQL replica
    // of both the construction and all three metric definitions.
    "q60_repetition" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val doubled = docs.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit("\n"), col("text")).as("text"))
      Analysis.repetitionStats(docs.unionByName(doubled), "doc_id", "text")
    }),

    // Benchmark decontamination: the synthetic "benchmark" is words 3..14
    // of each document, so every item's 8-gram shingles exist verbatim in
    // its source doc — those pairs MUST surface at frac 1.0, incidental
    // cross-doc phrase collisions surface alongside, and the whole
    // collision table is hash-checked against a SQL replica.
    "q61_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val bench = docs.select((col("doc_id") + 1000000).as("bench_id"),
        concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 3, 12))
          .as("text"))
      Analysis.contaminationCheck(docs, "doc_id", "text",
        bench, "bench_id", "text", n = 8)
    }),

    // Deterministic stratified re-sampling (data mixing): down-weight en
    // to 0.5 and zh to 0.25, keep the rest — membership is a pure md5
    // hash decision, so the EXACT surviving row set is hash-checked
    // against a SQL replica of the same hex-threshold rule.
    "q62_stratified_sample" -> ((s, d) => {
      graft.profile.Sampling.stratifiedHashSample(
          t(s, d, "documents").select("doc_id", "lang", "source"),
          "doc_id", "lang", Map("en" -> 0.5, "zh" -> 0.25))
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // Greedy sequence packing per source at a 2000-char budget — the
    // inherently-sequential corpus→training-sequences step, run as one
    // sorted streaming pass per group. Hash-checked against a recursive-
    // CTE replica of the exact first-overflow recurrence.
    "q63_pack_sequences" -> ((s, d) => {
      graft.text.Packing.packGreedy(
          t(s, d, "documents").select("doc_id", "n_chars", "source"),
          "doc_id", "n_chars", "source", budget = 2000L)
        .select(col("group").as("source"), col("id").as("doc_id"),
          col("size").as("n_chars"), col("seq_id"))
    }),

    // Sliding-window document chunking (32-token windows, stride 16 —
    // overlapping context, the chunk → embed → index front end); every
    // (doc, chunk_idx, chunk_text) row hash-checked against a SQL
    // replica of the window arithmetic.
    "q64_chunk_documents" -> ((s, d) => {
      Analysis.chunkDocuments(t(s, d, "documents"), "doc_id", "text",
        window = 32, stride = 16)
    }),

    // Semantic dedup END-TO-END: corpus + scaled copies → blocked
    // near-dup pairs → connected components → drop-list anti-join. The
    // survivors must be EXACTLY the original corpus — a missed pair
    // (blocking recall) leaves a copy alive, a spurious pair (threshold
    // precision) kills an original; either breaks the row-set hash.
    "q65_semantic_clean" -> ((s, d) => {
      val emb = t(s, d, "embeddings").select("vec_id", "embedding")
      val dups = emb.select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.5d)).cast("float"))
          .as("embedding"))
      val corpus = emb.unionByName(dups)
      val pairs = graft.dedup.Dedup.semanticNearDups(corpus,
        "vec_id", "embedding",
        maxCosineDistance = 1e-6, nClusters = 16, assignProbes = 2)
      corpus.join(
          graft.dedup.Dedup.nearDupDropList(pairs)
            .withColumnRenamed("id", "vec_id"),
          Seq("vec_id"), "left_anti")
        .select(col("vec_id"))
    }),

    // Leakage-safe split over a known pair graph: corpus + copies with an
    // explicit (id, id+1000000) pair list → components collapse each pair
    // to its min id, the split keys on the component, and the whole
    // (id, component, is_test) assignment is hash-checked against a SQL
    // replica of both the closure and the md5 threshold rule.
    "q66_leakage_split" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("id"))
      val corpus = docs.unionByName(docs.select((col("id") + 1000000).as("id")))
      val pairs = docs.select(col("id").as("id_a"),
        (col("id") + 1000000).as("id_b"))
      graft.dedup.Dedup.leakageSafeSplit(corpus, "id", pairs, testFrac = 0.3)
    }),

    // Corpus-wide top-100 trigram census (vocabulary / boilerplate
    // discovery), deterministic ties — global top-k plans as TakeOrdered,
    // never a full sort of the distinct-gram space.
    "q67_top_ngrams" -> ((s, d) => {
      Analysis.topNgrams(t(s, d, "documents"), "text", n = 3, k = 100)
    }),

    // Boilerplate line removal: a synthetic site header is prepended to
    // EVERY document, so its document frequency saturates and the
    // operator must strip exactly it (plus any natural high-frequency
    // lines — the oracle replays the same rule, assuming nothing about
    // the data). Reconstruction is order-preserving and hash-checked.
    "q68_boilerplate" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          concat(lit("SITE HEADER NAVIGATION"), lit("\n"),
            coalesce(col("text"), lit(""))).as("text"))
      Analysis.removeBoilerplateLines(docs, "doc_id", "text",
        minDocFreq = 50L)
    }),

    // Unigram LM quality score: the corpus is its own reference (the
    // self-perplexity configuration), add-one smoothed, mean token
    // log-probability per document — hash-checked against a SQL replica
    // of the counts, the smoothing, and the ln() average.
    "q69_lm_score" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      Analysis.unigramLogProb(docs, "doc_id", "text", docs, "text")
    }),

    // Per-document TF-IDF keywords (top 3, deterministic ties) — term
    // statistics as two narrow aggs, ranking windowed per document.
    "q70_tfidf_keywords" -> ((s, d) => {
      Analysis.tfidfKeywords(t(s, d, "documents"), "doc_id", "text", topK = 3)
    }),

    // Distributed k-means trainer gated end-to-end: IVF with centroids
    // from KMeans.train (Lloyd as DataFrame aggregations — the path that
    // reaches 10⁴–10⁵ lists at 100 TB) probed at nProbe = nList is EXACT
    // kNN regardless of where the centroids landed, so the trainer's
    // assign/probe plumbing is hash-checked against the same SQL oracle
    // as the exhaustive-probe q28. Query side capped like q28.
    "q71_distkmeans_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.knn.ApproxKnn.ivfKnn(emb.filter(col("vec_id") < 500), emb,
        "vec_id", "embedding", k = 5, nList = 8, nProbe = 8,
        distributedTrain = true)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"),
          round(col("dist"), 6).as("dist"))
    }),

    // Composed corpus-cleaning pipeline: PII scrub → quality floor →
    // language filter → exact dedup, one call — the canonical
    // training-data prep flow, fully hash-checked end to end
    "q40_clean_corpus" -> ((s, d) => {
      Analysis.cleanCorpus(t(s, d, "documents"), "doc_id", "text",
        minTokens = 3, maxPunctRatio = 0.5, lang = "en")
    }),

    // Multimodal frame sampling: video-shaped payloads fan out to one
    // row per sampled frame inside the executor batch. Durations derive
    // deterministically from doc_id, so the frame counts/indices have a
    // closed-form oracle; frame feature VALUES are JVM-hash-defined and
    // covered by MultimodalSpec.
    "q51_frame_sample" -> ((s, d) => {
      import s.implicits._
      val vids = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("id"),
          col("text").cast("binary").as("payload"),
          (lit(1000L) + col("doc_id") % 5000).cast("long").as("duration_ms"))
        .as[graft.multimodal.Multimodal.VideoRow]
      graft.multimodal.Multimodal.extractFrameFeatures(vids, everyMs = 700, dim = 8)
        .groupBy("id")
        .agg(count(lit(1)).as("n_frames"), max("frame_idx").as("max_idx"))
    }),

    // Multimodal plumbing: binary payloads → per-partition feature
    // extraction. The oracle-checked slice is the deterministic part
    // (UTF-8 byte length + feature dimension); checksum/feature VALUES are
    // JVM-hash-defined and covered by MultimodalSpec instead.
    "q27_media_features" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents")
        .select(col("doc_id").as("id"), col("text").cast("binary").as("payload"),
          lit("text").as("media_type"))
        .as[graft.multimodal.Multimodal.MediaRow]
      graft.multimodal.Multimodal.extractFeatures(media, dim = 16)
        .toDF()
        .select(col("id"), col("n_bytes"),
          size(col("features")).cast("long").as("n_features"))
    }),

    // REAL image decode round trip: per-doc deterministic pixels are
    // encoded to genuine PNG bytes (JDK ImageIO writer) inside the
    // executor batch, then decoded back by Codecs.imageStats — PNG is
    // lossless, so the dimensions + grayscale pixel sum match the
    // closed-form fixture exactly. Float feature histograms
    // (PngFeatureDecoder) are spec-gated in MultimodalSpec.
    "q86_png_decode" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = (8 + id % 5).toInt
            graft.multimodal.Multimodal.MediaRow(id,
              graft.multimodal.Codecs.Png.encodeGray(w, 8,
                (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt),
              "image")
          }
        }
      graft.multimodal.Codecs.imageStats(media).toDF()
    }),

    // REAL audio decode round trip: deterministic 16-bit PCM samples →
    // genuine RIFF/WAVE bytes → chunk-walking decode; header rate,
    // sample count and signed sample sum match the closed form.
    "q87_wav_decode" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (2000 + id % 1000).toInt
            val samples = Array.tabulate(n)(i =>
              (((id * 7919L + i * 104729L) % 65536L) - 32768L).toShort)
            graft.multimodal.Multimodal.MediaRow(id,
              graft.multimodal.Codecs.Wav.encodePcm16Mono(samples, 8000),
              "audio")
          }
        }
      graft.multimodal.Codecs.audioStats(media).toDF()
    }),

    // REAL frame sampling over decoded audio: frame count derives from
    // the DECODED header (sample count / rate), one row per 100 ms
    // window with its exact sample count + signed sum — the
    // q51-family fan-out over genuine bytes.
    "q88_wav_frames" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (2000 + id % 1000).toInt
            val samples = Array.tabulate(n)(i =>
              (((id * 7919L + i * 104729L) % 65536L) - 32768L).toShort)
            graft.multimodal.Multimodal.MediaRow(id,
              graft.multimodal.Codecs.Wav.encodePcm16Mono(samples, 8000),
              "audio")
          }
        }
      graft.multimodal.Codecs.audioFrameStats(media, windowMs = 100).toDF()
    }),

    // The reference's §3.1 flagship output oracle-pinned end to end: the
    // SemLink evaluation grid (sweep k × threshold, per-cell micro
    // P/R/F1 + NDCG@k — join_discoverer.py:454–518) over a pre-embedded
    // (key, vec) catalog, replayed cell by cell in SQL. ONE kNN pass at
    // max(k) serves every cell (the reference re-searches per threshold).
    "q89_semlink_grid" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val catalog = emb.select(col("vec_id").cast("string").as("key"),
        col("embedding").as("vec"))
      val gt = sameLabelTruth(s, d)
        .select(col("query").cast("string").as("q"),
          col("candidate").cast("string").as("c"))
      // annAbove pinned to MaxValue: THIS oracle's contract is exact
      // replay (the SQL side computes exact kNN), so the compute gate's
      // finite default must never route it through IVF on a large
      // catalog — exactness here is explicit, per the DefaultAnnAbove
      // doc ("the oracle paths pin exactness explicitly instead")
      graft.pipeline.SemLinkGrid.evaluationGridFromCatalog(catalog, gt,
          ks = Seq(5, 10), thresholds = Seq(1.3, 1.42),
          annAbove = Long.MaxValue)
        .withColumnRenamed("precision", "prec")
        .withColumnRenamed("recall", "rec")
    }),

    // IVF list rebalance oracled exact-equivalent: build on half the
    // corpus, append a far-shifted other half (drifts into few lists),
    // rebalance IN PLACE (re-trained quantizer + re-filed lists +
    // hot-list splits), then probe exhaustively — ≡ brute-force kNN over
    // the union corpus regardless of how rebalance re-filed the lists.
    "q90_ivf_rebalance" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idxDir = graft.util.TempDirs.register(
        s"/tmp/graft_ivf_reb_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      val base = emb.filter(col("vec_id") % 2 === 0)
        .select("vec_id", "embedding")
      val drift = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          transform(col("embedding"), x => (x + lit(4.0f)).cast("float"))
            .as("embedding"))
      graft.knn.IvfIndex.build(base, "vec_id", "embedding", idxDir, nList = 16)
      graft.knn.IvfIndex.append(s, idxDir, drift, "vec_id", "embedding")
      graft.knn.IvfIndex.rebalance(s, idxDir)
      val queries = base.unionByName(drift).filter(col("vec_id") < 500)
      graft.knn.IvfIndex.search(s, idxDir, queries, "vec_id", "embedding",
          k = 5, nProbe = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"),
          round(col("dist"), 6).as("dist"))
    }),

    // Late/out-of-order arrival gate on the streaming lexical ingest:
    // three staged batches where B and C carry rows with ANCIENT event
    // times (arriving after the engine watermark passed them). The gate
    // must drop exactly those rows into the late/ audit channel and
    // commit the rest, so the final index state (doclens) equals a
    // one-shot build over base ∪ admitted — which is what the oracle
    // computes in closed form (the late sets are deterministic given the
    // staging order and lateness).
    "q91_stream_late_ingest" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val base = graft.util.TempDirs.register(
        s"/tmp/graft_stream_latelex_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/out"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/batches"), true)
      // build() clears engine ingest state (`_ingest/`, incl. the
      // persisted watermark of this entry's PREVIOUS run) with the index
      // tables — no hand-reset needed
      // build and staging are directory-independent — overlap (§2.6)
      graft.util.Overlap.par2(
        graft.text.Bm25Index.build(docs, "doc_id", "text", s"$base/index"),
        stageLateBatches(docs, base))
      graft.streaming.Streams.lexIngestWatermarked(s, s"$base/batches",
        lateBatchSchema, s"$base/index", s"$base/out", "doc_id", "text", "ts",
        lateness = 100L, topK = 3)
      val committed = graft.text.Bm25Index.readDoclens(s, s"$base/index")
        .select(col("id"), col("dl").cast("long").as("dl"),
          lit(false).as("late"))
      val lateRows = s.read.parquet(s"$base/out/late")
        .select(col("doc_id").cast("long").as("id"), lit(-1L).as("dl"),
          lit(true).as("late"))
      committed.unionByName(lateRows)
    }),

    // Late-arrival parity across the ingest family: the SAME lateness
    // gate (Streams.watermarkGatedBatch — one engine-wide contract, not
    // a per-operator behavior) on the streaming LSH dedup ingest. Same
    // staging scheme as q91; the gate must route exactly the ancient-ts
    // rows of batches B and C to late/ and commit the rest, so the
    // signatures table equals a one-shot build over base ∪ admitted —
    // closed-form late sets, computable by the oracle from the staging
    // arithmetic alone. Late rows keep their event time (audit channel:
    // an operator re-ingests from it).
    "q92_stream_dedup_late" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val base = graft.util.TempDirs.register(
        s"/tmp/graft_stream_latededup_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/out"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/batches"), true)
      // build() clears `_ingest/` (the previous run's watermark) too
      // build and staging are directory-independent — overlap (§2.6)
      graft.util.Overlap.par2(
        graft.dedup.LshDedupIndex.build(docs, "doc_id", "text",
          s"$base/index"),
        stageLateBatches(docs, base))
      graft.streaming.Streams.dedupIngestWatermarked(s, s"$base/batches",
        lateBatchSchema, s"$base/index", s"$base/out", "doc_id", "text", "ts",
        lateness = 100L)
      val committed = graft.dedup.LshDedupIndex
        .readSignatures(s, s"$base/index")
        .select(col("id"), lit(-1L).as("ts"), lit(false).as("late"))
      val lateRows = s.read.parquet(s"$base/out/late")
        .select(col("doc_id").cast("long").as("id"),
          col("ts").cast("long").as("ts"), lit(true).as("late"))
      committed.unionByName(lateRows)
    }),

    // The flagship grid's ANN compute gate, ORACLED: the same evaluation
    // grid as q89, but the single kNN pass is forced through the IVF
    // escalation (annAbove=1) at FULL probe (nProbe = nList), where
    // cluster pruning degenerates to exhaustive search — so the grid
    // must reproduce the q89 exact-replay oracle cell for cell (the q28
    // exact-equivalence contract applied to the grid's scale path).
    "q93_semlink_grid_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val catalog = emb.select(col("vec_id").cast("string").as("key"),
        col("embedding").as("vec"))
      val gt = sameLabelTruth(s, d)
        .select(col("query").cast("string").as("q"),
          col("candidate").cast("string").as("c"))
      graft.pipeline.SemLinkGrid.evaluationGridFromCatalog(catalog, gt,
          ks = Seq(5, 10), thresholds = Seq(1.3, 1.42),
          annAbove = 1, nList = 16, nProbe = 16)
        .withColumnRenamed("precision", "prec")
        .withColumnRenamed("recall", "rec")
    }),

    // The grid's AUTO-sized escalation (nList <= 0 → nList ∝ √N, the
    // scale sizing rule; nProbe <= 0 → full probe): exhaustive over the
    // auto-sized lists, so the same exact-replay oracle as q93/q89 must
    // hold cell for cell — pinning the sentinel wiring end to end.
    "q94_semlink_grid_auto" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val catalog = emb.select(col("vec_id").cast("string").as("key"),
        col("embedding").as("vec"))
      val gt = sameLabelTruth(s, d)
        .select(col("query").cast("string").as("q"),
          col("candidate").cast("string").as("c"))
      graft.pipeline.SemLinkGrid.evaluationGridFromCatalog(catalog, gt,
          ks = Seq(5, 10), thresholds = Seq(1.3, 1.42),
          annAbove = 1, nList = 0, nProbe = 0)
        .withColumnRenamed("precision", "prec")
        .withColumnRenamed("recall", "rec")
    }),

    // Late-arrival parity on the VECTOR path: the engine-wide lateness
    // gate (Streams.watermarkGatedBatch) driving streaming embedding
    // ingest into the persistent IVF index — same staging arithmetic as
    // q91/q92 on the embeddings table. The oracle pins THREE contracts
    // at once: the late split (ancient-ts rows of batches B/C → late/
    // with their event times), the end-state id set (assignments =
    // base ∪ admitted), and — via n_hits with k larger than the corpus
    // at FULL probe — that each batch's serving probe ran against
    // exactly the index state as of ITS batch start (batch A sees N0
    // committed vectors, B sees N0+25, C sees N0+45): n_hits IS the
    // probed index size, closed-form per batch.
    "q95_stream_ann_ingest" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val base = graft.util.TempDirs.register(
        s"/tmp/graft_stream_lateann_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/out"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/batches"), true)
      // build() clears `_ingest/` (the previous run's watermark) too
      // build and staging are directory-independent — overlap (§2.6)
      graft.util.Overlap.par2(
        graft.knn.IvfIndex.build(emb, "vec_id", "embedding",
          s"$base/index", nList = 16),
        stageLateBatches(emb, base, idCol = "vec_id",
          payloadCol = "embedding"))
      // k beyond any corpus size + full probe → n_hits = probed index
      // size exactly (query ids are offset out of the id space, so
      // excludeSelf removes nothing)
      graft.streaming.Streams.annIngestWatermarked(s, s"$base/batches",
        lateVecBatchSchema, s"$base/index", s"$base/out", "vec_id",
        "embedding", "ts", lateness = 100L, k = 10000000, nProbe = 16)
      val committed = graft.knn.IvfIndex.readIds(s, s"$base/index")
        .select(col("id").cast("long").as("id"))
      val hits = s.read.parquet(s"$base/out/search")
        .groupBy(col("query_id").cast("long").as("id"))
        .agg(count(lit(1)).as("n_hits"))
      val committedRows = committed.join(hits, Seq("id"), "left")
        .select(col("id"), lit(-1L).as("ts"),
          coalesce(col("n_hits"), lit(-1L)).as("n_hits"),
          lit(false).as("late"))
      val lateRows = s.read.parquet(s"$base/out/late")
        .select(col("vec_id").cast("long").as("id"),
          col("ts").cast("long").as("ts"),
          lit(-1L).as("n_hits"), lit(true).as("late"))
      committedRows.unionByName(lateRows)
    }),

    // The FOURTH index family under the one lateness gate: streaming
    // ingest into the sharded HNSW graph index, same staging arithmetic
    // as q91/q92/q95. The oracle pins the gate's EXACT contracts — the
    // committed-id end state (live manifest = base ∪ admitted) and the
    // late split with original event times; the search channel is
    // approximate (HNSW recall) and is therefore pinned by spec-level
    // recall floors (q49/q58), not by this oracle.
    "q96_stream_hnsw_late" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val base = graft.util.TempDirs.register(
        s"/tmp/graft_stream_latehnsw_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/out"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/batches"), true)
      // build() clears `_ingest/` (the previous run's watermark) too
      // build and staging are directory-independent — overlap (§2.6)
      graft.util.Overlap.par2(
        graft.knn.HnswIndex.build(emb, "vec_id", "embedding",
          s"$base/index", shards = 4),
        stageLateBatches(emb, base, idCol = "vec_id",
          payloadCol = "embedding"))
      graft.streaming.Streams.hnswIngestWatermarked(s, s"$base/batches",
        lateVecBatchSchema, s"$base/index", s"$base/out", "vec_id",
        "embedding", "ts", lateness = 100L, k = 3)
      val committed = graft.knn.HnswIndex.readIds(s, s"$base/index")
        .select(col("id").cast("long").as("id"), lit(-1L).as("ts"),
          lit(false).as("late"))
      val lateRows = s.read.parquet(s"$base/out/late")
        .select(col("vec_id").cast("long").as("id"),
          col("ts").cast("long").as("ts"), lit(true).as("late"))
      committed.unionByName(lateRows)
    }),

    // HNSW re-shard parity with the IVF rebalance (q90): build sharded,
    // re-shard IN PLACE to a different shard count (per-shard graphs
    // rebuilt from the persisted shard images under the writer lock), then
    // search at FULL beam — every shard's whole graph is explored, so
    // the merged top-k must equal brute-force kNN over the corpus no
    // matter how reshard re-filed the nodes. The corpus/query cut is
    // id-bounded so the oracle is identical at every SF.
    "q97_hnsw_reshard" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idxDir = graft.util.TempDirs.register(
        s"/tmp/graft_hnsw_reshard_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      val corpus = emb.filter(col("vec_id") < 400).select("vec_id", "embedding")
      graft.knn.HnswIndex.build(corpus, "vec_id", "embedding", idxDir,
        shards = 8)
      graft.knn.HnswIndex.reshard(s, idxDir, newShards = 3)
      val queries = corpus.filter(col("vec_id") < 200)
      graft.knn.HnswIndex.search(s, idxDir, queries, "vec_id", "embedding",
          k = 5, efSearch = 500)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"),
          round(col("dist"), 6).as("dist"))
    }),

    // The late audit channel's OPERATIONAL LOOP, end to end: the q91
    // gated run routes the ancient-ts rows of batches B/C to late/;
    // `lateRows` then recovers them (full original rows — the channel
    // is self-contained) and they re-ingest through the NON-gated
    // ingester, whose per-document freshness anti-join dedups against
    // committed state (feeding them back through the gate would route
    // them straight back to late/ — their event times sit below the
    // persisted watermark by definition). End state: the index holds
    // base ∪ EVERY staged row — ≡ a one-shot build over everything,
    // which the oracle computes in closed form.
    "q98_late_reingest" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val base = graft.util.TempDirs.register(
        s"/tmp/graft_stream_reingest_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val t0 = 1700000000000L
      // build and staging are directory-independent — overlap (§2.6)
      graft.util.Overlap.par2(
        graft.text.Bm25Index.build(docs, "doc_id", "text", s"$base/index"),
        stageLateBatches(docs, base, t0))
      graft.streaming.Streams.lexIngestWatermarked(s, s"$base/batches",
        lateBatchSchema, s"$base/index", s"$base/out", "doc_id", "text", "ts",
        lateness = 100L, topK = 3)
      // close the loop through the fused surface: the audited rows are
      // already in hand, so they drive the NON-gated ingest body
      // directly (lexReingestLate) — no staged-file + second streaming
      // session round trip (a q98 phase ledger measured that machinery at
      // ~0.25 s/run of pure overhead, OPTIMIZATION_r21.md). The freshness
      // join keeps the op replay-safe — a second run emits nothing.
      // keep the loud guard the staged route had: a gate regression
      // that stops producing late rows must fail HERE by name, not
      // later as an opaque doclens diff (or not at all in a timing run)
      require(graft.streaming.Streams.lateRows(s, s"$base/out").isDefined,
        "q98: expected late rows")
      // the call runs the ingest eagerly; the returned search frame is
      // a side channel this oracle does not consume
      graft.streaming.Streams.lexReingestLate(s, s"$base/out",
        s"$base/index", s"$base/out2", "doc_id", "text", topK = 3)
      graft.text.Bm25Index.readDoclens(s, s"$base/index")
        .select(col("id"), col("dl").cast("long").as("dl"))
    }),

    // REAL JPEG decode round trip — the lossy counterpart of q86 (a
    // 100 TB multimodal corpus is mostly JPEG): per-doc deterministic
    // SMOOTH gradient pixels → genuine baseline JPEG bytes (JDK ImageIO
    // writer, grayscale single-component scan, quality 0.95) → ImageIO
    // decode. Dimensions survive lossy coding exactly; reconstruction
    // is pinned by max-abs-error against the generator — measured ≤ 1
    // gray level for this smooth fixture at q=0.95, gated at ≤ 6, while
    // decode bugs (transposed raster, band mixup) measure ≥ 8 — so the
    // oracle row is fully closed-form.
    // The grid's SECOND escalation tier (hnswAbove → sharded HNSW),
    // ORACLED: same evaluation grid as q89/q93/q94, kNN pass forced
    // through the HNSW tier (hnswAbove=1) at FULL beam (efSearch<=0 →
    // ef = corpus size: every shard's whole graph explored), where the
    // beam degenerates to exhaustive search — so the grid must
    // reproduce the q89 exact-replay oracle cell for cell, with the
    // provenance column naming the engine. This is the plan an untuned
    // >10⁵-key catalog takes by default (DefaultHnswAbove): N·log N
    // beam work inside mapPartitions, no pair-row shuffle.
    "q100_semlink_grid_hnsw" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val catalog = emb.select(col("vec_id").cast("string").as("key"),
        col("embedding").as("vec"))
      val gt = sameLabelTruth(s, d)
        .select(col("query").cast("string").as("q"),
          col("candidate").cast("string").as("c"))
      graft.pipeline.SemLinkGrid.evaluationGridFromCatalog(catalog, gt,
          ks = Seq(5, 10), thresholds = Seq(1.3, 1.42),
          annAbove = 1, hnswAbove = 1, efSearch = 0)
        .withColumnRenamed("precision", "prec")
        .withColumnRenamed("recall", "rec")
    }),

    // The fused re-ingest loop on the IVF family — q98's shape on q95's
    // index: the gated run routes the ancient-ts rows of batches B/C to
    // late/, annReingestLate drives them through the NON-gated ingest
    // body (anti-join freshness, probe, append) in ONE call. The oracle
    // pins (a) the end-state id set = base ∪ EVERY staged row (no %5
    // carve-outs — the late rows came back), and (b) via n_hits at full
    // probe with k beyond the corpus, that the re-ingest probed against
    // EXACTLY the pre-re-ingest committed index: all 10 late rows ship
    // in one re-ingest batch, so each sees N0+65 committed vectors
    // (N0 base + 25 A + 20 B + 20 C on-time), closed-form.
    "q101_ann_reingest" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val base = graft.util.TempDirs.register(
        s"/tmp/graft_ann_reingest_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      // build and staging are directory-independent — overlap (§2.6)
      graft.util.Overlap.par2(
        graft.knn.IvfIndex.build(emb, "vec_id", "embedding",
          s"$base/index", nList = 16),
        stageLateBatches(emb, base, idCol = "vec_id",
          payloadCol = "embedding"))
      graft.streaming.Streams.annIngestWatermarked(s, s"$base/batches",
        lateVecBatchSchema, s"$base/index", s"$base/out", "vec_id",
        "embedding", "ts", lateness = 100L, k = 10000000, nProbe = 16)
      // the gate must actually have produced late rows — fail by name
      // here, not as an opaque row-count diff downstream (q98's guard)
      require(graft.streaming.Streams.lateRows(s, s"$base/out").isDefined,
        "q101: expected late rows")
      val re = graft.streaming.Streams.annReingestLate(s, s"$base/out",
        s"$base/index", s"$base/out2", "vec_id", "embedding",
        k = 10000000, nProbe = 16)
      val hits = re.groupBy(col("query_id").cast("long").as("id"))
        .agg(count(lit(1)).as("n_hits"))
      graft.knn.IvfIndex.readIds(s, s"$base/index")
        .select(col("id").cast("long").as("id"))
        .join(hits, Seq("id"), "left")
        .select(col("id"), coalesce(col("n_hits"), lit(-1L)).as("n_hits"))
    }),

    // The same fused loop on the sharded HNSW family (q96's index). The
    // search channel is approximate (HNSW recall), so the oracle pins
    // membership + WHICH ids came back through the re-ingest (every
    // probed query emits ≥1 row against a non-empty graph), not
    // neighbor sets — the q96 convention.
    "q102_hnsw_reingest" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val base = graft.util.TempDirs.register(
        s"/tmp/graft_hnsw_reingest_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      // build and staging are directory-independent — overlap (§2.6)
      graft.util.Overlap.par2(
        graft.knn.HnswIndex.build(emb, "vec_id", "embedding",
          s"$base/index", shards = 4),
        stageLateBatches(emb, base, idCol = "vec_id",
          payloadCol = "embedding"))
      graft.streaming.Streams.hnswIngestWatermarked(s, s"$base/batches",
        lateVecBatchSchema, s"$base/index", s"$base/out", "vec_id",
        "embedding", "ts", lateness = 100L, k = 3)
      require(graft.streaming.Streams.lateRows(s, s"$base/out").isDefined,
        "q102: expected late rows")
      val re = graft.streaming.Streams.hnswReingestLate(s, s"$base/out",
        s"$base/index", s"$base/out2", "vec_id", "embedding",
        k = 3, efSearch = 64)
      val reIds = re.select(col("query_id").cast("long").as("id"))
        .distinct().withColumn("__re", lit(true))
      graft.knn.HnswIndex.readIds(s, s"$base/index")
        .select(col("id").cast("long").as("id"))
        .join(reIds, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("__re"), lit(false)).as("reingested"))
    }),

    "q99_jpeg_decode" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = (8 + id % 5).toInt
            graft.multimodal.Multimodal.MediaRow(id,
              graft.multimodal.Codecs.Jpeg.encodeGray(w, 8,
                (x, y) => (40 + 2 * x + 3 * y + (id % 50)).toInt),
              "image")
          }
        }
      graft.multimodal.Codecs
        .imageErrStats(media,
          (id, x, y) => (40 + 2 * x + 3 * y + (id % 50)).toInt)
        .toDF()
        .select(col("id"), col("width"), col("height"),
          (col("max_abs_err") <= 6).cast("bigint").as("within_tol"))
    }),

    // The graph family's health surface (HnswIndex.staleness), ORACLED
    // on its closed-form columns: a fresh deterministic build has
    // n_nodes = the built corpus, an active beam law (manifest-v2
    // counts), the raw base beam at zero doublings (spec-scale corpus,
    // law inert below HoldKeys) and zero orphan paths. The
    // hash-placement columns (max_shard_nodes, shard_skew) depend on
    // Spark's xxhash64 and are spec-gated instead (HnswIndexSpec) —
    // DuckDB cannot reproduce the shard assignment.
    "q103_hnsw_staleness" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idxDir = graft.util.TempDirs.register(
        s"/tmp/graft_hnsw_stale_${new java.io.File(d).getName}" +
          s"_${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(idxDir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // fresh dir per run: a bench re-run would otherwise take the
      // rebuild-over-live path, whose superseded manifest is exactly
      // the orphan this row pins at zero
      fs.delete(new org.apache.hadoop.fs.Path(idxDir), true)
      val corpus = emb.filter(col("vec_id") < 400)
        .select("vec_id", "embedding")
      graft.knn.HnswIndex.build(corpus, "vec_id", "embedding", idxDir,
        shards = 4)
      graft.knn.HnswIndex.staleness(s, idxDir)
        .select(col("n_nodes"),
          col("n_shards").cast("long").as("n_shards"),
          col("beam_law_active"),
          col("base_ef").cast("long").as("base_ef"),
          col("effective_ef").cast("long").as("effective_ef"),
          col("beam_doublings").cast("long").as("beam_doublings"),
          col("orphan_paths"),
          // below ShapeProbeAbove an untuned build never runs the shape
          // probe — the health row's evidence columns are closed-form
          // NULL at spec scale (the contract itself, oracled)
          col("rc_q25"), col("shape"))
    }),
  )

  // ------------------------------------------------------------------
  // DuckDB oracle SQL — column names and arithmetic mirror the Spark
  // side exactly (driver sorts columns by name before hashing).
  // ------------------------------------------------------------------

  /** Self-kNN distance + ranking CTE (squared L2 over `generate_series`
    * indexing — double precision, same arithmetic as the Spark side).
    */
  private val knnL2Cte =
    """WITH d AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |         sum(power(CAST(a.embedding[i] AS DOUBLE) - b.embedding[i], 2)) AS dist
      |  FROM embeddings a, embeddings b, generate_series(1, 64) t(i)
      |  WHERE a.vec_id <> b.vec_id GROUP BY 1, 2),
      |knn AS (
      |  SELECT query_id, neighbor_id, dist,
      |         row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
      |  FROM d)""".stripMargin

  private val truthCte =
    """rel AS (
      |  SELECT a.vec_id AS query, b.vec_id AS candidate
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id <> b.vec_id)""".stripMargin

  /** One (k, threshold) cell of the q89 grid: micro P/R/F1 via the q13
    * set-count algebra + NDCG@k via the q14 shape (idcg from a cumulative
    * 1/log2 table instead of a CASE ladder, so any k works). Composed
    * over the shared knn/rel/relc/ilog CTEs by UNION ALL.
    */
  // `engine` mirrors the grid's new escalation-provenance column: the
  // oracle pins WHICH kNN engine produced each cell's metrics, not just
  // the numbers (q89 exact, q93/q94 ivf at full probe, q100 hnsw at
  // full beam — all equal to brute force on this catalog, so the
  // numeric cells are shared)
  private def gridCellSql(k: Int, t: Double, engine: String): String =
    s"""SELECT CAST($k AS INTEGER) AS k, CAST($t AS DOUBLE) AS threshold,
       | '$engine' AS engine,
       | c.tp, c.nd - c.tp AS fp, c.nt - c.tp AS fn,
       | round(c.tp / (c.tp + (c.nd - c.tp) + 1e-8), 4) AS prec,
       | round(c.tp / (c.tp + (c.nt - c.tp) + 1e-8), 4) AS rec,
       | round(2.0 * (c.tp / (c.tp + (c.nd - c.tp) + 1e-8))
       |     * (c.tp / (c.tp + (c.nt - c.tp) + 1e-8))
       |   / ((c.tp / (c.tp + (c.nd - c.tp) + 1e-8))
       |     + (c.tp / (c.tp + (c.nt - c.tp) + 1e-8)) + 1e-8), 4) AS f1,
       | (SELECT round(avg(CASE WHEN per.idcg > 0
       |     THEN per.dcg / per.idcg ELSE 0.0 END), 4) FROM (
       |   SELECT dcgq.dcg, ilog.cum AS idcg
       |   FROM (SELECT k2.query_id AS query,
       |       sum(CASE WHEN rel.query IS NOT NULL
       |         THEN 1.0 / log2(k2.rnk + 1.0) ELSE 0.0 END) AS dcg
       |     FROM (SELECT * FROM knn WHERE rnk <= $k) k2
       |     LEFT JOIN rel ON k2.query_id = rel.query
       |       AND k2.neighbor_id = rel.candidate
       |     GROUP BY 1) dcgq
       |   JOIN relc ON dcgq.query = relc.query
       |   JOIN ilog ON ilog.i = least($k, relc.n_relevant)) per) AS ndcg
       |FROM (
       | SELECT
       |  (SELECT count(*) FROM
       |    (SELECT DISTINCT query_id, neighbor_id FROM knn
       |     WHERE rnk <= $k AND sqrt(dist) <= $t) dd
       |   JOIN rel ON dd.query_id = rel.query
       |     AND dd.neighbor_id = rel.candidate) AS tp,
       |  (SELECT count(*) FROM
       |    (SELECT DISTINCT query_id, neighbor_id FROM knn
       |     WHERE rnk <= $k AND sqrt(dist) <= $t) x) AS nd,
       |  (SELECT count(*) FROM rel) AS nt) c""".stripMargin

  private def profileColSql(table: String, colName: String, typ: String,
      withLens: Boolean): String = {
    val base =
      s"""SELECT '$table' AS table_name, '$colName' AS column_name,
         | '$typ' AS inferred_type, CAST(count(*) AS BIGINT) AS row_count,
         | CAST(count($colName) AS BIGINT) AS num_values,
         | CAST(count(*) - count($colName) AS BIGINT) AS nulls""".stripMargin
    val lens =
      s""", CAST(min(length(CAST($colName AS VARCHAR))) AS BIGINT) AS min_len,
         | CAST(max(length(CAST($colName AS VARCHAR))) AS BIGINT) AS max_len,
         | round(avg(length(CAST($colName AS VARCHAR))), 2) AS avg_len""".stripMargin
    base + (if (withLens) lens else "") + s" FROM $table"
  }

  /** Lake schemas (FIXTURES.md §A) for the generated profile oracles. */
  private val lakeSchema: Seq[(String, Seq[(String, String)])] = Seq(
    "region" -> Seq("r_regionkey" -> "integer", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "integer", "n_name" -> "string",
      "n_regionkey" -> "integer"),
    "customer" -> Seq("c_custkey" -> "integer", "c_name" -> "string",
      "c_nationkey" -> "integer", "c_acctbal" -> "float", "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "integer", "s_name" -> "string",
      "s_nationkey" -> "integer", "s_acctbal" -> "float"),
    "part" -> Seq("p_partkey" -> "integer", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "integer",
      "p_retailprice" -> "float"),
    "orders" -> Seq("o_orderkey" -> "integer", "o_custkey" -> "integer",
      "o_orderstatus" -> "string", "o_totalprice" -> "float",
      "o_orderdate" -> "datetime", "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "integer", "l_partkey" -> "integer",
      "l_suppkey" -> "integer", "l_linenumber" -> "integer",
      "l_quantity" -> "float", "l_extendedprice" -> "float",
      "l_discount" -> "float", "l_tax" -> "float", "l_returnflag" -> "string",
      "l_linestatus" -> "string", "l_shipdate" -> "datetime"))

  private val lakeColsValues: String = lakeSchema.flatMap { case (tbl, cols) =>
    cols.map { case (c, ty) => s"('$tbl', '$c', '$ty')" }
  }.mkString(", ")

  private val enStop = Analysis.stopwords("en").map(w => s"'$w'").mkString(", ")

  private def langScoreSql(lang: String): String = {
    val dict = Analysis.stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"""CASE WHEN n_tok > 0 THEN CAST(len(list_filter(toks, x -> x IN ($dict))) AS DOUBLE) / n_tok
       | ELSE 0.0 END""".stripMargin
  }

  /** q26 oracle: reproduce the sample-free DeepJoin pair texts. Per GT
    * column (all integers): count + length stats of the string-cast values,
    * rendered with the exact `columnToText` format, assembled per GT row.
    */
  private val deepjoinOracle: String = {
    val gtValues = deepjoinGt.map { case (qt, qc, ct, cc) =>
      s"('$qt', '$qc', '$ct', '$cc')"
    }.mkString(", ")
    val involved = deepjoinGt.flatMap { case (qt, qc, ct, cc) =>
      Seq(qt -> qc, ct -> cc)
    }.distinct
    val statsSql = involved.map { case (tbl, c) =>
      s"""SELECT '$tbl' AS tbl, '$c' AS col,
         | CAST(count($c) AS BIGINT) AS num_values,
         | CAST(min(length(CAST($c AS VARCHAR))) AS BIGINT) AS min_len,
         | CAST(max(length(CAST($c AS VARCHAR))) AS BIGINT) AS max_len,
         | round(avg(length(CAST($c AS VARCHAR))), 2) AS avg_len
         |FROM $tbl""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH gt(query_table, query_column, candidate_table, candidate_column)
       |  AS (VALUES $gtValues),
       |stats AS (
       |$statsSql),
       |texts AS (
       |  SELECT tbl, col,
       |    tbl || ' ' ||
       |    regexp_replace(translate(lower(col), ' -', '__'), '^[a-z]_', '') ||
       |    ' contains ' || num_values || ' values (min=' || min_len ||
       |    ', max=' || max_len || ', avg=' ||
       |    CAST(round(avg_len, 1) AS VARCHAR) || '): ' AS text
       |  FROM stats)
       |SELECT qt.text AS text_a, ct.text AS text_b
       |FROM gt
       |JOIN texts qt ON qt.tbl = gt.query_table AND qt.col = gt.query_column
       |JOIN texts ct ON ct.tbl = gt.candidate_table AND ct.col = gt.candidate_column""".stripMargin
  }

  /** q43 oracle: the corrupted catalog and the canonical synonym mapping
    * are computed statically from the same `lakeSchema` the q23/q24
    * oracles embed (the corruption fixtures are seeded-deterministic —
    * CorruptionSpec proves charNoise/poolPick stability — and the
    * first-seen fold is AnnotateSpec-verified), then embedded as VALUES;
    * everything downstream — the semantic-annotation regexp, the mapping
    * application with its unmapped-term fallback, and the per-regime
    * survival aggregation — is recomputed INDEPENDENTLY by DuckDB.
    */
  private val robustnessOracle: String = {
    val pool = lakeSchema.flatMap(_._2.map(_._1))
    val cat = lakeSchema.flatMap { case (tbl, cols) =>
      cols.map(_._1).zipWithIndex.flatMap { case (c, i) => Seq(
        (tbl, c, 1, s"attribute_$i"),
        (tbl, c, 2, graft.corrupt.Corruption.charNoise(c, 0.65, 42)),
        (tbl, c, 3, graft.corrupt.Corruption.poolPick(c, pool, 1.0, 42)))
      }
    }
    // the production first-seen fold over the clean vocabulary in
    // (table, column) ascending order — same contract as
    // Canonicalize.canonicalizeAnnotations' ordered collect
    def anno(name: String): String =
      name.toLowerCase.map(ch => if (ch == ' ' || ch == '-') '_' else ch)
        .replaceFirst("^[a-z]_", "")
    val terms = cat.filter(_._3 == 1).map { case (t, c, _, _) => (t, c) }
      .sorted.map { case (_, c) => anno(c) }
    val mapping = graft.annotate.Canonicalize.foldCanonical(terms)
    val catValues = cat
      .map { case (t, c, r, k) => s"('$t', '$c', $r, '$k')" }.mkString(", ")
    val mapValues = mapping.toSeq.sorted
      .map { case (k, v) => s"('$k', '$v')" }.mkString(", ")
    s"""WITH cat(tbl, col, regime, corrupted) AS (VALUES $catValues),
       |cmap(term, canon) AS (VALUES $mapValues),
       |ann AS (
       |  SELECT CAST(regime AS BIGINT) AS regime,
       |    regexp_replace(translate(lower(col), ' -', '__'), '^[a-z]_', '') AS clean_anno,
       |    regexp_replace(translate(lower(corrupted), ' -', '__'), '^[a-z]_', '') AS corrupt_anno
       |  FROM cat),
       |canon AS (
       |  SELECT regime,
       |    coalesce(mc.canon, clean_anno) AS clean_canon,
       |    coalesce(mk.canon, corrupt_anno) AS corrupt_canon
       |  FROM ann
       |  LEFT JOIN cmap mc ON mc.term = ann.clean_anno
       |  LEFT JOIN cmap mk ON mk.term = ann.corrupt_anno)
       |SELECT regime, CAST(count(*) AS BIGINT) AS n_cols,
       |  CAST(sum(CASE WHEN clean_canon = corrupt_canon THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
       |  round(CAST(sum(CASE WHEN clean_canon = corrupt_canon THEN 1 ELSE 0 END) AS DOUBLE)
       |        / count(*), 4) AS match_rate
       |FROM canon GROUP BY regime""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q26_deepjoin_pairs" -> deepjoinOracle,

    "q43_corruption_robustness" -> robustnessOracle,

    // recall gates: every injected exact-dup pair must be recovered —
    // identical text gives identical MinHash signatures (est_jaccard 1.0)
    // and identical SimHash (hamming 0)
    "q19_minhash_lsh" ->
      """SELECT CAST(doc_id AS BIGINT) AS id_a,
        | CAST(doc_id + 1000000 AS BIGINT) AS id_b,
        | CAST(1.0 AS DOUBLE) AS est_jaccard
        |FROM documents""".stripMargin,

    "q20_simhash" ->
      """SELECT CAST(doc_id AS BIGINT) AS id_a,
        | CAST(doc_id + 1000000 AS BIGINT) AS id_b,
        | CAST(0 AS BIGINT) AS hamming
        |FROM documents WHERE doc_id < 1000""".stripMargin,

    // winnowing recovery gate: identical text ⇒ identical fingerprint
    // set ⇒ every injected pair surfaces from the blocked join
    "q48_winnow_fingerprint" ->
      """SELECT CAST(doc_id AS BIGINT) AS id_a,
        | CAST(doc_id + 1000000 AS BIGINT) AS id_b
        |FROM documents WHERE doc_id < 1000""".stripMargin,

    // LSH kNN recall floor: n_exact = 5·|embeddings| (every query has
    // exactly 5 exact neighbors), and recall@5 ≥ 0.4 must hold
    "q29_lsh_knn" ->
      """SELECT CAST(5 * count(*) AS BIGINT) AS n_exact,
        | CAST(1 AS BIGINT) AS recall_floor_met
        |FROM embeddings""".stripMargin,

    // sharded-HNSW recall floor: same contract as q29 (recall@5 ≥ 0.8)
    "q45_hnsw_knn" ->
      """SELECT CAST(5 * count(*) AS BIGINT) AS n_exact,
        | CAST(1 AS BIGINT) AS recall_floor_met
        |FROM embeddings""".stripMargin,

    // persisted-HNSW recall floor: same contract as q45
    "q49_hnsw_index" ->
      """SELECT CAST(5 * count(*) AS BIGINT) AS n_exact,
        | CAST(1 AS BIGINT) AS recall_floor_met
        |FROM embeddings""".stripMargin,

    // pruned-IVF recall floor: same contract as q29 (recall@5 ≥ 0.5)
    "q37_ivf_pruned" ->
      """SELECT CAST(5 * count(*) AS BIGINT) AS n_exact,
        | CAST(1 AS BIGINT) AS recall_floor_met
        |FROM embeddings""".stripMargin,

    "q39_pii_scrub" ->
      """WITH withpii AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@mail.example.com via https://ex.example/p/' ||
        |    CAST(doc_id AS VARCHAR) || ' or 10.0.' ||
        |    CAST(doc_id % 256 AS VARCHAR) || '.7 tel 555-010-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS clean
        |FROM withpii""".stripMargin,

    // composed cleaning pipeline: scrub → quality/lang filters → dedup;
    // fragments mirror the proven q39/q09/q21 oracles exactly
    "q40_clean_corpus" ->
      s"""WITH scrub AS (
         |  SELECT CAST(doc_id AS BIGINT) AS id,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
         |      'https?://[^\\s]+', '<URL>', 'g'),
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
         |      '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b', '<PHONE>', 'g') AS text
         |  FROM documents),
         |base AS (
         |  SELECT id, text,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM scrub),
         |scored AS (
         |  SELECT id, text, n_tok,
         |    CASE WHEN n_chars > 0
         |      THEN round(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / n_chars, 4)
         |      ELSE 0.0 END AS punct_ratio,
         |    ${langScoreSql("de")} AS s_de,
         |    ${langScoreSql("en")} AS s_en,
         |    ${langScoreSql("es")} AS s_es,
         |    ${langScoreSql("fr")} AS s_fr
         |  FROM base),
         |keep AS (
         |  SELECT id FROM scored
         |  WHERE n_tok >= 3 AND punct_ratio <= 0.5
         |    AND CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr) AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'de'
         |             WHEN s_en = greatest(s_de, s_en, s_es, s_fr) AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'en'
         |             WHEN s_es = greatest(s_de, s_en, s_es, s_fr) AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'es'
         |             WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'fr'
         |             ELSE 'und' END = 'en'),
         |canon AS (SELECT min(id) AS id FROM scrub GROUP BY text)
         |SELECT s.id, s.text AS clean_text
         |FROM scrub s JOIN keep USING (id) JOIN canon USING (id)""".stripMargin,

    // frame sampling: n = (duration-1) / everyMs + 1 (durations here are
    // always >= 1000, so the zero-duration branch never applies)
    "q51_frame_sample" ->
      """SELECT CAST(doc_id AS BIGINT) AS id,
        | CAST((1000 + doc_id % 5000 - 1) // 700 + 1 AS BIGINT) AS n_frames,
        | CAST((1000 + doc_id % 5000 - 1) // 700 AS BIGINT) AS max_idx
        |FROM documents""".stripMargin,

    "q27_media_features" ->
      """SELECT CAST(doc_id AS BIGINT) AS id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(16 AS BIGINT) AS n_features
        |FROM documents""".stripMargin,

    // closed form of the PNG fixture: w = 8 + doc_id % 5, h = 8,
    // pixel(x,y) = (doc_id*31 + x*7 + y*13) % 256 — PNG is lossless so
    // the decoded sum equals the generator sum
    "q86_png_decode" ->
      """SELECT CAST(doc_id AS BIGINT) AS id,
        | CAST(8 + doc_id % 5 AS BIGINT) AS width,
        | CAST(8 AS BIGINT) AS height,
        | CAST(list_sum(flatten(list_transform(range(0, 8 + doc_id % 5), x ->
        |   list_transform(range(0, 8), y ->
        |     (doc_id * 31 + x * 7 + y * 13) % 256)))) AS BIGINT) AS gray_sum
        |FROM documents""".stripMargin,

    // closed form of the WAV fixture: n = 2000 + doc_id % 1000 samples
    // at 8000 Hz, sample(i) = ((doc_id*7919 + i*104729) % 65536) - 32768
    "q87_wav_decode" ->
      """SELECT CAST(doc_id AS BIGINT) AS id,
        | CAST(8000 AS BIGINT) AS sample_rate,
        | CAST(2000 + doc_id % 1000 AS BIGINT) AS n_samples,
        | CAST(list_sum(list_transform(range(0, 2000 + doc_id % 1000), i ->
        |   (doc_id * 7919 + i * 104729) % 65536 - 32768)) AS BIGINT)
        |   AS sum_samples
        |FROM documents""".stripMargin,

    // 100 ms windows at 8000 Hz = 800 samples per frame over the same
    // WAV fixture; last frame is the remainder
    "q88_wav_frames" ->
      """WITH f AS (
        | SELECT CAST(doc_id AS BIGINT) AS id,
        |   2000 + doc_id % 1000 AS n,
        |   unnest(range(0, (2000 + doc_id % 1000 + 799) // 800)) AS fi
        | FROM documents)
        |SELECT id, CAST(fi AS BIGINT) AS frame_idx,
        | CAST(least(n - fi * 800, 800) AS BIGINT) AS n_samples,
        | CAST(list_sum(list_transform(
        |   range(fi * 800, least(n, fi * 800 + 800)), i ->
        |     (id * 7919 + i * 104729) % 65536 - 32768)) AS BIGINT)
        |   AS sum_samples
        |FROM f""".stripMargin,

    // the full grid: shared knn/rel/relc/ilog CTEs, one UNION ALL branch
    // per (k, threshold) cell — same cells as the Spark side
    "q89_semlink_grid" ->
      s"""$knnL2Cte,
         |$truthCte,
         |relc AS (SELECT query, count(*) AS n_relevant FROM rel GROUP BY query),
         |ilog AS (SELECT i, sum(1.0 / log2(i + 1.0)) OVER (ORDER BY i) AS cum
         |         FROM generate_series(1, 50) t(i))
         |${Seq((5, 1.3), (5, 1.42), (10, 1.3), (10, 1.42))
            .map { case (k, t) => gridCellSql(k, t, "exact") }
            .mkString("\nUNION ALL\n")}""".stripMargin,

    // q93 forces the grid's IVF escalation at full probe — exhaustive
    // search, so the EXACT replay oracle (identical to q89's) must hold
    "q93_semlink_grid_ann" ->
      s"""$knnL2Cte,
         |$truthCte,
         |relc AS (SELECT query, count(*) AS n_relevant FROM rel GROUP BY query),
         |ilog AS (SELECT i, sum(1.0 / log2(i + 1.0)) OVER (ORDER BY i) AS cum
         |         FROM generate_series(1, 50) t(i))
         |${Seq((5, 1.3), (5, 1.42), (10, 1.3), (10, 1.42))
            .map { case (k, t) => gridCellSql(k, t, "ivf") }
            .mkString("\nUNION ALL\n")}""".stripMargin,

    // q94: the auto-sized (√N) escalation at full probe — exhaustive
    // over the auto-sized lists, same exact replay oracle as q93
    "q94_semlink_grid_auto" ->
      s"""$knnL2Cte,
         |$truthCte,
         |relc AS (SELECT query, count(*) AS n_relevant FROM rel GROUP BY query),
         |ilog AS (SELECT i, sum(1.0 / log2(i + 1.0)) OVER (ORDER BY i) AS cum
         |         FROM generate_series(1, 50) t(i))
         |${Seq((5, 1.3), (5, 1.42), (10, 1.3), (10, 1.42))
            .map { case (k, t) => gridCellSql(k, t, "ivf") }
            .mkString("\nUNION ALL\n")}""".stripMargin,

    // q100: the HNSW tier at full beam — every shard's whole graph is
    // explored, so the same exact replay oracle as q89 holds, with the
    // engine provenance column pinning WHICH tier produced the cells
    "q100_semlink_grid_hnsw" ->
      s"""$knnL2Cte,
         |$truthCte,
         |relc AS (SELECT query, count(*) AS n_relevant FROM rel GROUP BY query),
         |ilog AS (SELECT i, sum(1.0 / log2(i + 1.0)) OVER (ORDER BY i) AS cum
         |         FROM generate_series(1, 50) t(i))
         |${Seq((5, 1.3), (5, 1.42), (10, 1.3), (10, 1.42))
            .map { case (k, t) => gridCellSql(k, t, "hnsw") }
            .mkString("\nUNION ALL\n")}""".stripMargin,

    // q101: after the fused re-ingest the IVF index holds base ∪ EVERY
    // staged row; the 10 late rows (%5 carve-outs of B/C) re-ingested in
    // ONE batch at full probe with k beyond the corpus, so each probed
    // exactly the pre-re-ingest committed index: N0 + 65 vectors
    // (N0 base + 25 A + 20 B-on-time + 20 C-on-time); every other id
    // was never probed by the re-ingest and carries -1.
    "q101_ann_reingest" ->
      """WITH n0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
        |SELECT CAST(vec_id AS BIGINT) AS id, CAST(-1 AS BIGINT) AS n_hits
        |FROM embeddings
        |UNION ALL
        |SELECT CAST(vec_id + 1000000 AS BIGINT), CAST(-1 AS BIGINT)
        |FROM embeddings WHERE vec_id < 25
        |UNION ALL
        |SELECT CAST(vec_id + 2000000 AS BIGINT),
        |  CASE WHEN vec_id % 5 = 0 THEN (SELECT n FROM n0) + 65
        |       ELSE CAST(-1 AS BIGINT) END
        |FROM embeddings WHERE vec_id >= 25 AND vec_id < 50
        |UNION ALL
        |SELECT CAST(vec_id + 3000000 AS BIGINT),
        |  CASE WHEN vec_id % 5 = 0 THEN (SELECT n FROM n0) + 65
        |       ELSE CAST(-1 AS BIGINT) END
        |FROM embeddings WHERE vec_id >= 50 AND vec_id < 75""".stripMargin,

    // q102: membership end state on the HNSW family — every staged row
    // committed, and exactly the %5 carve-outs of B/C came back through
    // the re-ingest (each probed query emits rows against a non-empty
    // graph, so the reingested flag is closed-form)
    "q102_hnsw_reingest" ->
      """SELECT CAST(vec_id AS BIGINT) AS id, FALSE AS reingested
        |FROM embeddings
        |UNION ALL
        |SELECT CAST(vec_id + 1000000 AS BIGINT), FALSE
        |FROM embeddings WHERE vec_id < 25
        |UNION ALL
        |SELECT CAST(vec_id + 2000000 AS BIGINT), vec_id % 5 = 0
        |FROM embeddings WHERE vec_id >= 25 AND vec_id < 50
        |UNION ALL
        |SELECT CAST(vec_id + 3000000 AS BIGINT), vec_id % 5 = 0
        |FROM embeddings WHERE vec_id >= 50 AND vec_id < 75""".stripMargin,

    // exact-equiv: full probe of the rebalanced index ≡ brute-force kNN
    // over the union corpus (base half + float-shifted drifted half)
    "q90_ivf_rebalance" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0
        |  UNION ALL
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x + 4.0 AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id % 2 = 1),
        |d AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    sum(power(CAST(a.embedding[i] AS DOUBLE) - b.embedding[i], 2)) AS dist
        |  FROM corpus a, corpus b, generate_series(1, 64) t(i)
        |  WHERE a.vec_id <> b.vec_id AND a.vec_id < 500 GROUP BY 1, 2),
        |knn AS (SELECT query_id, neighbor_id, dist,
        |  row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
        |  FROM d)
        |SELECT query_id, neighbor_id, rnk, round(dist, 6) AS dist
        |FROM knn WHERE rnk <= 5""".stripMargin,

    // closed-form late sets: batch A (docs 0..24, ts = id*100) sets the
    // watermark to 2400-100; in B/C every doc_id % 5 == 0 row carries
    // ts = doc_id (ancient) and is dropped; every other row's ts = id*100
    // clears the advancing watermark. Committed doclens ≡ one tokenize
    // of base ∪ admitted (the one-shot-build equivalence).
    "q91_stream_late_ingest" ->
      """WITH tok AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(coalesce(text, ''))),
        |        '\s+')) AS tok
        |    FROM documents)
        |  WHERE tok <> '' GROUP BY 1)
        |SELECT CAST(doc_id AS BIGINT) AS id, dl, FALSE AS late FROM tok
        |UNION ALL
        |SELECT CAST(doc_id + 1000000 AS BIGINT), dl, FALSE FROM tok
        |WHERE doc_id < 25
        |UNION ALL
        |SELECT CAST(doc_id + 2000000 AS BIGINT), dl, FALSE FROM tok
        |WHERE doc_id >= 25 AND doc_id < 50 AND doc_id % 5 <> 0
        |UNION ALL
        |SELECT CAST(doc_id + 3000000 AS BIGINT), dl, FALSE FROM tok
        |WHERE doc_id >= 50 AND doc_id < 75 AND doc_id % 5 <> 0
        |UNION ALL
        |SELECT CAST(doc_id + 2000000 AS BIGINT), CAST(-1 AS BIGINT), TRUE
        |FROM documents WHERE doc_id >= 25 AND doc_id < 50 AND doc_id % 5 = 0
        |UNION ALL
        |SELECT CAST(doc_id + 3000000 AS BIGINT), CAST(-1 AS BIGINT), TRUE
        |FROM documents WHERE doc_id >= 50 AND doc_id < 75 AND doc_id % 5 = 0""".stripMargin,

    // q92: same staging arithmetic as q91, LSH-dedup ingest state. The
    // committed id set = base ∪ batch A ∪ on-time (non-%5) rows of B/C;
    // the late set = ancient (%5) rows of B/C with their original event
    // times (ts = doc_id). Committed rows carry ts = -1 (no event time
    // is stored in the signatures table).
    "q92_stream_dedup_late" ->
      """SELECT CAST(doc_id AS BIGINT) AS id, CAST(-1 AS BIGINT) AS ts,
        |  FALSE AS late FROM documents
        |UNION ALL
        |SELECT CAST(doc_id + 1000000 AS BIGINT), CAST(-1 AS BIGINT), FALSE
        |FROM documents WHERE doc_id < 25
        |UNION ALL
        |SELECT CAST(doc_id + 2000000 AS BIGINT), CAST(-1 AS BIGINT), FALSE
        |FROM documents WHERE doc_id >= 25 AND doc_id < 50 AND doc_id % 5 <> 0
        |UNION ALL
        |SELECT CAST(doc_id + 3000000 AS BIGINT), CAST(-1 AS BIGINT), FALSE
        |FROM documents WHERE doc_id >= 50 AND doc_id < 75 AND doc_id % 5 <> 0
        |UNION ALL
        |SELECT CAST(doc_id + 2000000 AS BIGINT), CAST(doc_id AS BIGINT), TRUE
        |FROM documents WHERE doc_id >= 25 AND doc_id < 50 AND doc_id % 5 = 0
        |UNION ALL
        |SELECT CAST(doc_id + 3000000 AS BIGINT), CAST(doc_id AS BIGINT), TRUE
        |FROM documents WHERE doc_id >= 50 AND doc_id < 75 AND doc_id % 5 = 0""".stripMargin,

    // q95: same staging arithmetic on the embeddings table, IVF ingest
    // state. Committed = base ∪ batch A ∪ on-time (non-%5) rows of B/C;
    // late = ancient (%5) rows of B/C with their event times. n_hits for
    // an admitted query is the INDEX SIZE AS OF ITS BATCH (k exceeds the
    // corpus and the probe is exhaustive): A → N0, B → N0+25, C → N0+45;
    // base rows (never probed) and late rows carry -1.
    "q95_stream_ann_ingest" ->
      """WITH n0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
        |SELECT CAST(vec_id AS BIGINT) AS id, CAST(-1 AS BIGINT) AS ts,
        |  CAST(-1 AS BIGINT) AS n_hits, FALSE AS late FROM embeddings
        |UNION ALL
        |SELECT CAST(vec_id + 1000000 AS BIGINT), CAST(-1 AS BIGINT),
        |  (SELECT n FROM n0), FALSE FROM embeddings WHERE vec_id < 25
        |UNION ALL
        |SELECT CAST(vec_id + 2000000 AS BIGINT), CAST(-1 AS BIGINT),
        |  (SELECT n FROM n0) + 25, FALSE FROM embeddings
        |WHERE vec_id >= 25 AND vec_id < 50 AND vec_id % 5 <> 0
        |UNION ALL
        |SELECT CAST(vec_id + 3000000 AS BIGINT), CAST(-1 AS BIGINT),
        |  (SELECT n FROM n0) + 45, FALSE FROM embeddings
        |WHERE vec_id >= 50 AND vec_id < 75 AND vec_id % 5 <> 0
        |UNION ALL
        |SELECT CAST(vec_id + 2000000 AS BIGINT), CAST(vec_id AS BIGINT),
        |  CAST(-1 AS BIGINT), TRUE FROM embeddings
        |WHERE vec_id >= 25 AND vec_id < 50 AND vec_id % 5 = 0
        |UNION ALL
        |SELECT CAST(vec_id + 3000000 AS BIGINT), CAST(vec_id AS BIGINT),
        |  CAST(-1 AS BIGINT), TRUE FROM embeddings
        |WHERE vec_id >= 50 AND vec_id < 75 AND vec_id % 5 = 0""".stripMargin,

    // q96: q92's oracle shape on the HNSW family — committed id end
    // state (base ∪ batch A ∪ on-time rows of B/C, ts = -1) plus the
    // late set with original event times.
    "q96_stream_hnsw_late" ->
      """SELECT CAST(vec_id AS BIGINT) AS id, CAST(-1 AS BIGINT) AS ts,
        |  FALSE AS late FROM embeddings
        |UNION ALL
        |SELECT CAST(vec_id + 1000000 AS BIGINT), CAST(-1 AS BIGINT), FALSE
        |FROM embeddings WHERE vec_id < 25
        |UNION ALL
        |SELECT CAST(vec_id + 2000000 AS BIGINT), CAST(-1 AS BIGINT), FALSE
        |FROM embeddings WHERE vec_id >= 25 AND vec_id < 50 AND vec_id % 5 <> 0
        |UNION ALL
        |SELECT CAST(vec_id + 3000000 AS BIGINT), CAST(-1 AS BIGINT), FALSE
        |FROM embeddings WHERE vec_id >= 50 AND vec_id < 75 AND vec_id % 5 <> 0
        |UNION ALL
        |SELECT CAST(vec_id + 2000000 AS BIGINT), CAST(vec_id AS BIGINT), TRUE
        |FROM embeddings WHERE vec_id >= 25 AND vec_id < 50 AND vec_id % 5 = 0
        |UNION ALL
        |SELECT CAST(vec_id + 3000000 AS BIGINT), CAST(vec_id AS BIGINT), TRUE
        |FROM embeddings WHERE vec_id >= 50 AND vec_id < 75 AND vec_id % 5 = 0""".stripMargin,

    // brute-force kNN over the id-bounded corpus with the engine tie
    // rule (dist, neighbor_id) — the full-beam HNSW search must match
    // exactly, before OR after reshard (q90's contract on the graph
    // family)
    "q97_hnsw_reshard" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 400),
        |d AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    sum(power(CAST(a.embedding[i] AS DOUBLE) - b.embedding[i], 2)) AS dist
        |  FROM corpus a, corpus b, generate_series(1, 64) t(i)
        |  WHERE a.vec_id <> b.vec_id AND a.vec_id < 200 GROUP BY 1, 2),
        |knn AS (SELECT query_id, neighbor_id, dist,
        |  row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
        |  FROM d)
        |SELECT query_id, neighbor_id, rnk, round(dist, 6) AS dist
        |FROM knn WHERE rnk <= 5""".stripMargin,

    // after the re-ingest loop the index holds base ∪ EVERY staged row
    // (no %5 carve-outs — the late rows came back through the non-gated
    // path), so doclens ≡ one tokenize pass over everything
    "q98_late_reingest" ->
      """WITH tok AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(coalesce(text, ''))),
        |        '\s+')) AS tok
        |    FROM documents)
        |  WHERE tok <> '' GROUP BY 1)
        |SELECT CAST(doc_id AS BIGINT) AS id, dl FROM tok
        |UNION ALL
        |SELECT CAST(doc_id + 1000000 AS BIGINT), dl FROM tok WHERE doc_id < 25
        |UNION ALL
        |SELECT CAST(doc_id + 2000000 AS BIGINT), dl FROM tok
        |WHERE doc_id >= 25 AND doc_id < 50
        |UNION ALL
        |SELECT CAST(doc_id + 3000000 AS BIGINT), dl FROM tok
        |WHERE doc_id >= 50 AND doc_id < 75""".stripMargin,

    // closed form of the JPEG fixture: lossy coding preserves the
    // dimensions exactly (w = 8 + doc_id % 5, h = 8) and the smooth
    // gradient reconstructs within 1 gray level at q=0.95 (measured;
    // gated at <= 6 while decode bugs measure >= 8) — so within_tol is
    // constant 1 whenever the decode is actually correct
    "q99_jpeg_decode" ->
      """SELECT CAST(doc_id AS BIGINT) AS id,
        | CAST(8 + doc_id % 5 AS BIGINT) AS width,
        | CAST(8 AS BIGINT) AS height,
        | CAST(1 AS BIGINT) AS within_tol
        |FROM documents""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_revenue_by_segment" ->
      """SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue,
        | count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q03_top_orders_per_cust" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders) s
        |WHERE rnk <= 3""".stripMargin,

    "q04_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        | round(l_extendedprice * l_discount, 4) AS disc_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q05_setops_nation" ->
      """SELECT 'both' AS tag, nationkey FROM (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |  INTERSECT
        |  SELECT CAST(s_nationkey AS BIGINT) FROM supplier) a
        |UNION ALL
        |SELECT 'customer_only' AS tag, nationkey FROM (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |  EXCEPT
        |  SELECT CAST(s_nationkey AS BIGINT) FROM supplier) b
        |UNION ALL
        |SELECT 'supplier_only' AS tag, nationkey FROM (
        |  SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
        |  EXCEPT
        |  SELECT CAST(c_nationkey AS BIGINT) FROM customer) c""".stripMargin,

    "q06_profile_customer" ->
      lakeSchema.find(_._1 == "customer").get._2
        .map { case (c, ty) => profileColSql("customer", c, ty, withLens = true) }
        .mkString("\nUNION ALL\n"),

    "q07_profile_lake" ->
      lakeSchema.flatMap { case (tbl, cols) =>
        cols.map { case (c, ty) => profileColSql(tbl, c, ty, withLens = false) }
      }.mkString("\nUNION ALL\n"),

    "q08_normalize_text" ->
      """SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm_text
        |FROM documents""".stripMargin,

    "q09_quality_stats" ->
      s"""WITH base AS (
         |  SELECT CAST(doc_id AS BIGINT) AS id, coalesce(text, '') AS text,
         |    CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+')) END AS n_tok,
         |    CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
         |    CAST(length(regexp_replace(trim(coalesce(text, '')), '\\s+', ' ', 'g')) AS BIGINT) AS n_collapsed,
         |    string_split_regex(trim(lower(coalesce(text, ''))), '\\s+') AS toks
         |  FROM documents)
         |SELECT id, CAST(n_tok AS BIGINT) AS n_tokens, n_chars,
         |  CASE WHEN n_tok > 0
         |    THEN round(CAST(n_collapsed - (n_tok - 1) AS DOUBLE) / n_tok, 4)
         |    ELSE 0.0 END AS avg_word_len,
         |  CASE WHEN n_chars > 0
         |    THEN round(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / n_chars, 4)
         |    ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN n_chars > 0
         |    THEN round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / n_chars, 4)
         |    ELSE 0.0 END AS digit_ratio,
         |  CASE WHEN n_tok > 0
         |    THEN round(CAST(len(list_filter(toks, x -> x IN ($enStop))) AS DOUBLE) / n_tok, 4)
         |    ELSE 0.0 END AS stopword_ratio
         |FROM base""".stripMargin,

    "q10_knn_l2" ->
      s"""$knnL2Cte
         |SELECT query_id, neighbor_id, rnk, round(dist, 6) AS dist
         |FROM knn WHERE rnk <= 5""".stripMargin,

    "q28_ivf_knn" ->
      s"""$knnL2Cte
         |SELECT query_id, neighbor_id, rnk, round(dist, 6) AS dist
         |FROM knn WHERE rnk <= 5 AND query_id < 500""".stripMargin,

    // distributed-trainer IVF at nProbe = nList: exact kNN, same oracle
    "q71_distkmeans_ivf" ->
      s"""$knnL2Cte
         |SELECT query_id, neighbor_id, rnk, round(dist, 6) AS dist
         |FROM knn WHERE rnk <= 5 AND query_id < 500""".stripMargin,

    // distributed-train + two-level-assign IVF probed exhaustively:
    // exact regardless of (approximate) list membership — same oracle
    "q76_twolevel_ivf" ->
      s"""$knnL2Cte
         |SELECT query_id, neighbor_id, rnk, round(dist, 6) AS dist
         |FROM knn WHERE rnk <= 5 AND query_id < 500""".stripMargin,

    "q36_knn_plan" ->
      s"""$knnL2Cte
         |SELECT query_id, neighbor_id, rnk, round(dist, 6) AS dist
         |FROM knn WHERE rnk <= 5""".stripMargin,

    "q38_knn_tvf" ->
      s"""$knnL2Cte
         |SELECT query_id, neighbor_id, rnk, round(dist, 6) AS dist
         |FROM knn WHERE rnk <= 5""".stripMargin,

    "q41_ivf_index" ->
      s"""$knnL2Cte
         |SELECT query_id, neighbor_id, rnk, round(dist, 6) AS dist
         |FROM knn WHERE rnk <= 5 AND query_id < 500""".stripMargin,

    // exact-equiv: blockKnn is exact kNN in bounded-memory blocks
    "q54_block_knn" ->
      s"""$knnL2Cte
         |SELECT query_id, neighbor_id, rnk, round(dist, 6) AS dist
         |FROM knn WHERE rnk <= 5""".stripMargin,

    // cosine persisted IVF probed exhaustively ≡ brute-force cosine
    // (same arithmetic as the q11 oracle, query side capped like q41)
    "q52_ivf_cosine_index" ->
      """WITH d AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    CASE WHEN sqrt(sum(power(CAST(a.embedding[i] AS DOUBLE), 2))) *
        |              sqrt(sum(power(CAST(b.embedding[i] AS DOUBLE), 2))) > 0
        |      THEN 1.0 - sum(CAST(a.embedding[i] AS DOUBLE) * b.embedding[i]) /
        |        (sqrt(sum(power(CAST(a.embedding[i] AS DOUBLE), 2))) *
        |         sqrt(sum(power(CAST(b.embedding[i] AS DOUBLE), 2))))
        |      ELSE 1.0 END AS dist
        |  FROM embeddings a, embeddings b, generate_series(1, 64) t(i)
        |  WHERE a.vec_id <> b.vec_id GROUP BY 1, 2),
        |knn AS (
        |  SELECT query_id, neighbor_id, dist,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
        |  FROM d)
        |SELECT query_id, neighbor_id, rnk, round(dist, 6) AS dist
        |FROM knn WHERE rnk <= 5 AND query_id < 500""".stripMargin,

    // persistent-LSH-index recovery gate: every corpus doc must surface
    // against its exact copy in the probe batch with est_jaccard 1.0
    "q53_lsh_dedup_index" ->
      """SELECT CAST(doc_id AS BIGINT) AS id_a,
        | CAST(doc_id + 1000000 AS BIGINT) AS id_b,
        | CAST(1.0 AS DOUBLE) AS est_jaccard
        |FROM documents""".stripMargin,

    // truncated-dim kNN recall floor: same contract as q55 (recall@5 ≥ 0.8)
    "q83_truncated_knn" ->
      """SELECT CAST(5 * count(*) AS BIGINT) AS n_exact,
        | CAST(1 AS BIGINT) AS recall_floor_met
        |FROM embeddings""".stripMargin,

    // quantized-kNN recall floor: same contract as q45 (recall@5 ≥ 0.8)
    "q55_quant_knn" ->
      """SELECT CAST(5 * count(*) AS BIGINT) AS n_exact,
        | CAST(1 AS BIGINT) AS recall_floor_met
        |FROM embeddings""".stripMargin,

    // end-to-end semantic dedup: survivors are exactly the originals
    // (no natural near-identical pairs exist in the corpus — verified)
    "q65_semantic_clean" ->
      """SELECT CAST(vec_id AS BIGINT) AS vec_id FROM embeddings""",

    // tf·ln(N/df) with ranking over the ROUNDED score (ties → term ASC)
    // replayed exactly
    "q70_tfidf_keywords" ->
      """WITH toks AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, tok AS term FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |    FROM documents)
        |  WHERE tok <> ''),
        |tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n
        |       FROM documents),
        |scored AS (
        |  SELECT id, term, tf,
        |    round(tf * ln(n / df), 4) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
        |ranked AS (
        |  SELECT id, term, CAST(tf AS BIGINT) AS tf, score,
        |    row_number() OVER (PARTITION BY id
        |      ORDER BY score DESC, term ASC) AS rnk
        |  FROM scored)
        |SELECT id, term, tf, score, rnk FROM ranked WHERE rnk <= 3""".stripMargin,

    // unigram counts + add-one smoothing + mean ln-prob, replayed in SQL
    // (both engines average IEEE-double ln values; 4-dp rounding is far
    // above any last-ulp libm divergence)
    "q69_lm_score" ->
      """WITH toks AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, tok FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(coalesce(text, ''))),
        |        '\s+')) AS tok
        |    FROM documents)
        |  WHERE tok <> ''),
        |counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |totals AS (SELECT sum(cnt) AS n, count(*) AS v FROM counts),
        |scored AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    round(avg(ln(CAST(cnt + 1 AS DOUBLE) / (n + v))), 4)
        |      AS mean_logprob
        |  FROM toks JOIN counts USING (tok) CROSS JOIN totals
        |  GROUP BY id)
        |SELECT id, n_tokens, mean_logprob FROM scored
        |UNION ALL
        |SELECT CAST(doc_id AS BIGINT), CAST(0 AS BIGINT), 0.0
        |FROM documents
        |WHERE CAST(doc_id AS BIGINT) NOT IN (SELECT id FROM scored)""".stripMargin,

    // trigram census with the same (count DESC, gram ASC) boundary
    // tie-break on both engines
    "q67_top_ngrams" ->
      """WITH w AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |grams AS (
        |  SELECT unnest(list_transform(range(1, len(ws) - 1),
        |    i -> array_to_string(ws[i:i+2], ' '))) AS gram
        |  FROM w WHERE len(ws) >= 3)
        |SELECT gram, CAST(count(*) AS BIGINT) AS cnt
        |FROM grams GROUP BY gram
        |ORDER BY cnt DESC, gram ASC LIMIT 100""".stripMargin,

    // line doc-frequency rule + order-preserving reconstruction replayed
    // in SQL (aligned unnest gives positions; string_agg re-joins)
    "q68_boilerplate" ->
      """WITH corpus AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |    string_split('SITE HEADER NAVIGATION' || chr(10) ||
        |      coalesce(text, ''), chr(10)) AS ls
        |  FROM documents),
        |lines AS (
        |  SELECT id, unnest(ls) AS line,
        |    unnest(range(1, len(ls) + 1)) AS pos
        |  FROM corpus),
        |dfq AS (
        |  SELECT line, count(DISTINCT id) AS df FROM lines GROUP BY line),
        |kept AS (
        |  SELECT l.id, l.line, l.pos
        |  FROM lines l JOIN dfq USING (line)
        |  WHERE df < 50 OR trim(line) = ''),
        |agg AS (
        |  SELECT id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY id)
        |SELECT c.id, coalesce(a.clean_text, '') AS clean_text
        |FROM corpus c LEFT JOIN agg a USING (id)""".stripMargin,

    // component = pair minimum; is_test replays the md5 hex-threshold
    // rule on the component key (0.3 → round(0.3·65536) = 0x4ccd)
    "q66_leakage_split" ->
      """WITH ids AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |    CAST(doc_id AS BIGINT) AS component
        |  FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id + 1000000 AS BIGINT),
        |    CAST(doc_id AS BIGINT)
        |  FROM documents)
        |SELECT id, component,
        |  substr(md5('split:' || CAST(component AS VARCHAR)), 1, 4) < '4ccd'
        |    AS is_test
        |FROM ids""".stripMargin,

    // semantic-dedup recovery gate: every vector must pair with its
    // scaled copy at cosine distance 0 (direction is scale-invariant)
    "q56_semantic_dedup" ->
      """SELECT CAST(vec_id AS BIGINT) AS id_a,
        | CAST(vec_id + 1000000 AS BIGINT) AS id_b,
        | CAST(0.0 AS DOUBLE) AS cos_dist
        |FROM embeddings""".stripMargin,

    // PQ-kNN recall floor: same contract as q55 (recall@5 ≥ 0.8)
    "q57_pq_knn" ->
      """SELECT CAST(5 * count(*) AS BIGINT) AS n_exact,
        | CAST(1 AS BIGINT) AS recall_floor_met
        |FROM embeddings""".stripMargin,

    // full seven-stage SQL replay of the corpus-prep pipeline: clean
    // (q40 CTE) -> exact 3-gram jaccard >= 0.9 (q47 CTE) -> planted
    // semantic pairs -> reachability connected components -> shingle
    // decontamination (q61 CTE) -> md5 split rule (q66) -> greedy packing
    // recurrence (q63). MATERIALIZED stops DuckDB re-inlining the
    // expensive CTEs into the two recursive stages (117 s -> 2 s).
    "q75_corpus_prep" ->
      """WITH corpus AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id + 1000000 AS BIGINT), text || ' zzlexdupq'
        |  FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT CAST(doc_id + 2000000 AS BIGINT), text || ' zzsemdupq'
        |  FROM documents WHERE doc_id < 30
        |  UNION ALL
        |  SELECT CAST(doc_id + 3000000 AS BIGINT), text
        |  FROM documents WHERE doc_id < 20),
        |scrub AS MATERIALIZED (
        |  SELECT id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |      'https?://[^\s]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS text
        |  FROM corpus),
        |base AS (
        |  SELECT id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    string_split_regex(trim(lower(text)), '\s+') AS ltoks
        |  FROM scrub),
        |scored AS (
        |  SELECT id, n_tok,
        |    CASE WHEN n_chars > 0
        |      THEN round(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / n_chars, 4)
        |      ELSE 0.0 END AS punct_ratio,
        |    CASE WHEN n_tok > 0 THEN CAST(len(list_filter(ltoks, x -> x IN ('der', 'die', 'das', 'und', 'ist', 'nicht', 'ein', 'zu', 'mit', 'von'))) AS DOUBLE) / n_tok ELSE 0.0 END AS s_de,
        |    CASE WHEN n_tok > 0 THEN CAST(len(list_filter(ltoks, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'that', 'it', 'for'))) AS DOUBLE) / n_tok ELSE 0.0 END AS s_en,
        |    CASE WHEN n_tok > 0 THEN CAST(len(list_filter(ltoks, x -> x IN ('el', 'la', 'los', 'las', 'y', 'es', 'un', 'una', 'de', 'que'))) AS DOUBLE) / n_tok ELSE 0.0 END AS s_es,
        |    CASE WHEN n_tok > 0 THEN CAST(len(list_filter(ltoks, x -> x IN ('le', 'la', 'les', 'et', 'est', 'un', 'une', 'de', 'que', 'pour'))) AS DOUBLE) / n_tok ELSE 0.0 END AS s_fr
        |  FROM base),
        |keep AS (
        |  SELECT id FROM scored
        |  WHERE n_tok >= 3 AND punct_ratio <= 0.5
        |    AND CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr) AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'de'
        |             WHEN s_en = greatest(s_de, s_en, s_es, s_fr) AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'en'
        |             WHEN s_es = greatest(s_de, s_en, s_es, s_fr) AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'es'
        |             WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'fr'
        |             ELSE 'und' END = 'en'),
        |canon AS (SELECT min(id) AS id FROM scrub GROUP BY text),
        |cleaned AS MATERIALIZED (
        |  SELECT s.id, s.text FROM scrub s
        |  JOIN keep USING (id) JOIN canon USING (id)),
        |-- lexical: exact 3-gram-shingle jaccard >= 0.9 among cleaned survivors
        |ctoks AS MATERIALIZED (
        |  SELECT DISTINCT id, unnest(
        |    CASE WHEN len(w) >= 3
        |      THEN list_transform(generate_series(1, len(w) - 2),
        |                          i -> array_to_string(w[i:i+2], ' '))
        |      ELSE CAST([] AS VARCHAR[]) END) AS tok
        |  FROM (SELECT id, string_split_regex(trim(text), '\s+') AS w
        |        FROM cleaned)),
        |csizes AS (SELECT id, count(*) AS sz FROM ctoks GROUP BY id),
        |cinter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
        |  FROM ctoks a JOIN ctoks b ON a.tok = b.tok AND a.id < b.id
        |  GROUP BY 1, 2),
        |lex AS (
        |  SELECT id_a, id_b FROM cinter
        |  JOIN csizes sa ON sa.id = id_a
        |  JOIN csizes sb ON sb.id = id_b
        |  WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.9),
        |-- semantic: planted scaled-copy pairs only (no natural pairs at 1e-6)
        |sem AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id_a,
        |    CAST(doc_id + 2000000 AS BIGINT) AS id_b
        |  FROM documents WHERE doc_id < 30
        |    AND CAST(doc_id AS BIGINT) IN (SELECT id FROM cleaned)
        |    AND CAST(doc_id + 2000000 AS BIGINT) IN (SELECT id FROM cleaned)),
        |edges AS MATERIALIZED (
        |  SELECT id_a AS src, id_b AS dst FROM lex
        |  UNION SELECT id_a, id_b FROM sem
        |  UNION SELECT id_b, id_a FROM lex
        |  UNION SELECT id_b, id_a FROM sem),
        |walk AS (
        |  WITH RECURSIVE w(id, r) AS (
        |    SELECT src, src FROM edges
        |    UNION
        |    SELECT e.dst, w.r FROM w JOIN edges e ON e.src = w.id)
        |  SELECT id, r FROM w),
        |comp AS (SELECT id, min(r) AS component FROM walk GROUP BY id),
        |deduped AS MATERIALIZED (
        |  SELECT c.id, c.text FROM cleaned c
        |  WHERE c.id NOT IN (SELECT id FROM comp WHERE id <> component)),
        |-- contamination: 8-token shingles of SCRUBBED survivor text vs benchmark
        |-- items = RAW token slice [3:14] of docs 100..119
        |bench AS (
        |  SELECT CAST(doc_id AS BIGINT) AS bench_id,
        |    array_to_string(string_split_regex(trim(text), '\s+')[3:14], ' ') AS btext
        |  FROM documents WHERE doc_id >= 100 AND doc_id < 120),
        |csh AS MATERIALIZED (
        |  SELECT DISTINCT id, sh FROM (
        |    SELECT id, unnest(list_transform(range(1, len(ws) - 6),
        |      i -> array_to_string(ws[i:i+7], ' '))) AS sh
        |    FROM (SELECT id, string_split_regex(trim(text), '\s+') AS ws FROM deduped)
        |    WHERE len(ws) >= 8)),
        |bsh AS MATERIALIZED (
        |  SELECT DISTINCT bench_id, sh FROM (
        |    SELECT bench_id, unnest(list_transform(range(1, len(ws) - 6),
        |      i -> array_to_string(ws[i:i+7], ' '))) AS sh
        |    FROM (SELECT bench_id, string_split_regex(trim(btext), '\s+') AS ws FROM bench)
        |    WHERE len(ws) >= 8)),
        |bt AS (SELECT bench_id, count(*) AS n_bench FROM bsh GROUP BY 1),
        |contam AS (
        |  SELECT DISTINCT id FROM (
        |    SELECT c.id, o.bench_id, count(*) AS n_overlap
        |    FROM csh c JOIN bsh o USING (sh) GROUP BY 1, 2) ov
        |  JOIN bt USING (bench_id)
        |  WHERE round(CAST(n_overlap AS DOUBLE) / n_bench, 4) >= 0.5),
        |finaldocs AS (
        |  SELECT d.id, d.text FROM deduped d WHERE d.id NOT IN (SELECT id FROM contam)),
        |labeled AS (
        |  SELECT f.id, coalesce(c.component, f.id) AS component,
        |    substr(md5('split:' || CAST(coalesce(c.component, f.id) AS VARCHAR)), 1, 4) < '4000' AS is_test,
        |    CASE WHEN length(trim(f.text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(f.text), '\s+')) END AS size
        |  FROM finaldocs f LEFT JOIN comp c ON c.id = f.id),
        |ordered AS MATERIALIZED (
        |  SELECT id, component, is_test, CAST(size AS BIGINT) AS size,
        |    CASE WHEN is_test THEN 'test' ELSE 'train' END AS grp,
        |    row_number() OVER (PARTITION BY (CASE WHEN is_test THEN 'test' ELSE 'train' END) ORDER BY id) AS rn
        |  FROM labeled),
        |packed AS (
        |  WITH RECURSIVE p AS (
        |    SELECT grp, id, size, rn, size AS fill, CAST(0 AS BIGINT) AS seq
        |    FROM ordered WHERE rn = 1
        |    UNION ALL
        |    SELECT o.grp, o.id, o.size, o.rn,
        |      CASE WHEN p.fill + o.size > 512 THEN o.size ELSE p.fill + o.size END,
        |      CASE WHEN p.fill + o.size > 512 THEN p.seq + 1 ELSE p.seq END
        |    FROM p JOIN ordered o ON o.grp = p.grp AND o.rn = p.rn + 1)
        |  SELECT grp, id, seq FROM p)
        |SELECT o.id, o.component, o.is_test, o.size, p.seq AS seq_id
        |FROM ordered o JOIN packed p ON p.id = o.id""".stripMargin,

    // full SQL replay of the DSIR bucket model: {1,2}-gram explode with
    // multiplicity, md5[1:3] buckets, add-one smoothing over the fixed
    // 4096-bucket space, the identical single-ln ratio expression, 4 dp
    // per-doc sums, blank-doc restore at 0, tie-broken top-150
    "q78_dsir_weights" ->
      """WITH docs AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |    string_split_regex(trim(lower(coalesce(text, ''))), '\s+') AS ws,
        |    lang
        |  FROM documents),
        |rg AS MATERIALIZED (
        |  SELECT id, substr(md5(g), 1, 3) AS b FROM (
        |    SELECT id, unnest(ws) AS g FROM docs
        |    UNION ALL
        |    SELECT id, unnest(list_transform(range(1, len(ws)),
        |      i -> array_to_string(ws[i:i+1], ' '))) AS g
        |    FROM docs WHERE len(ws) >= 2)
        |  WHERE g <> ''),
        |tg AS (
        |  SELECT substr(md5(g), 1, 3) AS b FROM (
        |    SELECT unnest(ws) AS g FROM docs WHERE lang = 'zh'
        |    UNION ALL
        |    SELECT unnest(list_transform(range(1, len(ws)),
        |      i -> array_to_string(ws[i:i+1], ' '))) AS g
        |    FROM docs WHERE lang = 'zh' AND len(ws) >= 2)
        |  WHERE g <> ''),
        |rb AS (SELECT b, count(*) AS rcnt FROM rg GROUP BY 1),
        |tb AS (SELECT b, count(*) AS tcnt FROM tg GROUP BY 1),
        |tots AS (
        |  SELECT CAST((SELECT sum(rcnt) FROM rb) AS DOUBLE) AS rtot,
        |    CAST((SELECT coalesce(sum(tcnt), 0) FROM tb) AS DOUBLE) AS ttot),
        |lr AS (
        |  SELECT b, ln((coalesce(tcnt, 0) + 1.0) * (rtot + 4096.0) /
        |    ((rcnt + 1.0) * (ttot + 4096.0))) AS lr
        |  FROM rb LEFT JOIN tb USING (b), tots),
        |scored AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS n_feats,
        |    round(sum(lr), 4) AS weight
        |  FROM rg JOIN lr USING (b) GROUP BY 1),
        |full_w AS (
        |  SELECT * FROM scored
        |  UNION ALL
        |  SELECT d.id, 0, 0.0 FROM docs d
        |  WHERE d.id NOT IN (SELECT id FROM scored))
        |SELECT id, n_feats, weight FROM full_w
        |ORDER BY weight DESC, id LIMIT 150""".stripMargin,

    // full SQL replay of the rate derivation: per-lang char masses, the
    // binding-stratum scale M = min(mass/share), rate = share·M/mass in
    // the same operation order, then the md5-vs-printf threshold rule
    "q79_rebalance_mixture" ->
      """WITH mass AS (
        |  SELECT lang AS s, CAST(sum(n_chars) AS DOUBLE) AS m
        |  FROM documents GROUP BY 1),
        |sh(s, share) AS (
        |  SELECT * FROM (VALUES ('de', 0.3), ('en', 0.4), ('zh', 0.3))),
        |j AS (SELECT s, m, share FROM mass JOIN sh USING (s)),
        |sc AS (SELECT min(m / share) AS mx FROM j),
        |r AS (SELECT s, share * mx / m AS rate FROM j, sc)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang, d.source,
        |  CAST(d.n_chars AS BIGINT) AS n_chars
        |FROM documents d JOIN r ON d.lang = r.s
        |WHERE rate >= 1.0 OR CAST(round(rate * 65536) AS INT) >= 65536
        |  OR substr(md5(concat(d.lang, ':', CAST(d.doc_id AS VARCHAR))), 1, 4)
        |    < printf('%04x', CAST(round(rate * 65536) AS INT))""".stripMargin,

    // full SQL replay of the BM25 model: identical tokenization, tf/df/
    // dl/avgdl statistics, the Lucene idf form, the same operation order
    // in the saturation product, 4-dp rounding before the ranking
    "q80_bm25_topk" ->
      """WITH toks AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, tok AS term FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(coalesce(text, ''))),
        |        '\s+')) AS tok
        |    FROM documents)
        |  WHERE tok <> ''),
        |tf AS MATERIALIZED (
        |  SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS MATERIALIZED (SELECT id, sum(tf) AS dl FROM tf GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
        |       FROM dl),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |q AS (
        |  SELECT DISTINCT CAST(doc_id AS BIGINT) AS query_id, tok AS term
        |  FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(coalesce(text, ''))),
        |        '\s+')) AS tok
        |    FROM documents WHERE doc_id < 5)
        |  WHERE tok <> ''),
        |hits AS (
        |  SELECT q.query_id, tf.id,
        |    ln(1.0 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
        |      (tf.tf * 2.2) /
        |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS contrib
        |  FROM tf JOIN dfreq USING (term) JOIN q USING (term)
        |    JOIN dl ON tf.id = dl.id CROSS JOIN st),
        |scored AS (
        |  SELECT query_id, id, round(sum(contrib), 4) AS score
        |  FROM hits GROUP BY 1, 2),
        |ranked AS (
        |  SELECT query_id, id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, id) AS rnk
        |  FROM scored)
        |SELECT query_id, id, score, rnk FROM ranked
        |WHERE rnk <= 10""".stripMargin,

    // identical model, persisted-index probe — same oracle as q80
    "q82_bm25_index" ->
      """WITH toks AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, tok AS term FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(coalesce(text, ''))),
        |        '\s+')) AS tok
        |    FROM documents)
        |  WHERE tok <> ''),
        |tf AS MATERIALIZED (
        |  SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS MATERIALIZED (SELECT id, sum(tf) AS dl FROM tf GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
        |       FROM dl),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |q AS (
        |  SELECT DISTINCT CAST(doc_id AS BIGINT) AS query_id, tok AS term
        |  FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(coalesce(text, ''))),
        |        '\s+')) AS tok
        |    FROM documents WHERE doc_id < 5)
        |  WHERE tok <> ''),
        |hits AS (
        |  SELECT q.query_id, tf.id,
        |    ln(1.0 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
        |      (tf.tf * 2.2) /
        |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS contrib
        |  FROM tf JOIN dfreq USING (term) JOIN q USING (term)
        |    JOIN dl ON tf.id = dl.id CROSS JOIN st),
        |scored AS (
        |  SELECT query_id, id, round(sum(contrib), 4) AS score
        |  FROM hits GROUP BY 1, 2),
        |ranked AS (
        |  SELECT query_id, id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, id) AS rnk
        |  FROM scored)
        |SELECT query_id, id, score, rnk FROM ranked
        |WHERE rnk <= 10""".stripMargin,

    // both legs replayed — the full BM25 CTE stack and the exact cosine
    // top-10 (the q11 idiom, queries < 5, self excluded) — then the RRF
    // 1/(60+rank) sum, 6-dp rounded before the fused (score, id) ranking
    "q81_hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, tok AS term FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(coalesce(text, ''))),
        |        '\s+')) AS tok
        |    FROM documents)
        |  WHERE tok <> ''),
        |tf AS MATERIALIZED (
        |  SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS MATERIALIZED (SELECT id, sum(tf) AS dl FROM tf GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
        |       FROM dl),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |q AS (
        |  SELECT DISTINCT CAST(doc_id AS BIGINT) AS query_id, tok AS term
        |  FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(coalesce(text, ''))),
        |        '\s+')) AS tok
        |    FROM documents WHERE doc_id < 5)
        |  WHERE tok <> ''),
        |hits AS (
        |  SELECT q.query_id, tf.id,
        |    ln(1.0 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
        |      (tf.tf * 2.2) /
        |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS contrib
        |  FROM tf JOIN dfreq USING (term) JOIN q USING (term)
        |    JOIN dl ON tf.id = dl.id CROSS JOIN st),
        |bscored AS (
        |  SELECT query_id, id, round(sum(contrib), 4) AS score
        |  FROM hits GROUP BY 1, 2),
        |lex AS (
        |  SELECT query_id, id, rnk FROM (
        |    SELECT query_id, id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, id) AS rnk
        |    FROM bscored) WHERE rnk <= 10),
        |dvals AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS id,
        |    CASE WHEN sqrt(sum(power(CAST(a.embedding[i] AS DOUBLE), 2))) *
        |              sqrt(sum(power(CAST(b.embedding[i] AS DOUBLE), 2))) > 0
        |      THEN 1.0 - sum(CAST(a.embedding[i] AS DOUBLE) * b.embedding[i]) /
        |        (sqrt(sum(power(CAST(a.embedding[i] AS DOUBLE), 2))) *
        |         sqrt(sum(power(CAST(b.embedding[i] AS DOUBLE), 2))))
        |      ELSE 1.0 END AS dist
        |  FROM embeddings a, embeddings b, generate_series(1, 64) t(i)
        |  WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id GROUP BY 1, 2),
        |dense AS (
        |  SELECT query_id, id, rnk FROM (
        |    SELECT query_id, id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY dist, id) AS rnk
        |    FROM dvals) WHERE rnk <= 10),
        |allc AS (
        |  SELECT query_id, id, 1.0 / (60 + rnk) AS contrib FROM lex
        |  UNION ALL
        |  SELECT query_id, id, 1.0 / (60 + rnk) AS contrib FROM dense),
        |fused AS (
        |  SELECT query_id, id, round(sum(contrib), 6) AS score
        |  FROM allc GROUP BY 1, 2)
        |SELECT query_id, id, score, rnk FROM (
        |  SELECT query_id, id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, id) AS rnk
        |  FROM fused) WHERE rnk <= 10""".stripMargin,

    // the streaming ingest replayed as TWO full BM25 model instantiations
    // — state 1 (seed corpus) scores batch A, state 2 (seed + batch A)
    // scores batch B; N/avgdl/df all advance between the states
    "q85_stream_lex_ingest" ->
      """WITH s1corpus AS (SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents),
        |s1queries AS (SELECT CAST(doc_id + 1000000 AS BIGINT) AS query_id, text
        |   FROM documents WHERE doc_id < 25),
        |s1toks AS (
        |  SELECT id, tok AS term FROM (
        |    SELECT id,
        |      unnest(string_split_regex(trim(lower(coalesce(text, ''))),
        |        '\s+')) AS tok
        |    FROM s1corpus)
        |  WHERE tok <> ''),
        |s1tf AS MATERIALIZED (
        |  SELECT id, term, count(*) AS tf FROM s1toks GROUP BY 1, 2),
        |s1dl AS MATERIALIZED (SELECT id, sum(tf) AS dl FROM s1tf GROUP BY 1),
        |s1st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
        |       FROM s1dl),
        |s1dfreq AS (SELECT term, count(*) AS df FROM s1tf GROUP BY 1),
        |s1q AS (
        |  SELECT DISTINCT query_id, tok AS term FROM (
        |    SELECT query_id,
        |      unnest(string_split_regex(trim(lower(coalesce(text, ''))),
        |        '\s+')) AS tok
        |    FROM s1queries)
        |  WHERE tok <> ''),
        |s1hits AS (
        |  SELECT q.query_id, tf.id,
        |    ln(1.0 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
        |      (tf.tf * 2.2) /
        |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS contrib
        |  FROM s1tf tf JOIN s1dfreq dfreq USING (term)
        |    JOIN s1q q USING (term)
        |    JOIN s1dl dl ON tf.id = dl.id CROSS JOIN s1st st),
        |s1scored AS (
        |  SELECT query_id, id, round(sum(contrib), 4) AS score
        |  FROM s1hits GROUP BY 1, 2),
        |s1ranked AS (
        |  SELECT query_id, id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, id) AS rnk
        |  FROM s1scored),
        |s2corpus AS (SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents
        |   UNION ALL
        |   SELECT CAST(doc_id + 1000000 AS BIGINT) AS id, text
        |   FROM documents WHERE doc_id < 25),
        |s2queries AS (SELECT CAST(doc_id + 2000000 AS BIGINT) AS query_id, text
        |   FROM documents WHERE doc_id >= 25 AND doc_id < 50),
        |s2toks AS (
        |  SELECT id, tok AS term FROM (
        |    SELECT id,
        |      unnest(string_split_regex(trim(lower(coalesce(text, ''))),
        |        '\s+')) AS tok
        |    FROM s2corpus)
        |  WHERE tok <> ''),
        |s2tf AS MATERIALIZED (
        |  SELECT id, term, count(*) AS tf FROM s2toks GROUP BY 1, 2),
        |s2dl AS MATERIALIZED (SELECT id, sum(tf) AS dl FROM s2tf GROUP BY 1),
        |s2st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
        |       FROM s2dl),
        |s2dfreq AS (SELECT term, count(*) AS df FROM s2tf GROUP BY 1),
        |s2q AS (
        |  SELECT DISTINCT query_id, tok AS term FROM (
        |    SELECT query_id,
        |      unnest(string_split_regex(trim(lower(coalesce(text, ''))),
        |        '\s+')) AS tok
        |    FROM s2queries)
        |  WHERE tok <> ''),
        |s2hits AS (
        |  SELECT q.query_id, tf.id,
        |    ln(1.0 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
        |      (tf.tf * 2.2) /
        |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS contrib
        |  FROM s2tf tf JOIN s2dfreq dfreq USING (term)
        |    JOIN s2q q USING (term)
        |    JOIN s2dl dl ON tf.id = dl.id CROSS JOIN s2st st),
        |s2scored AS (
        |  SELECT query_id, id, round(sum(contrib), 4) AS score
        |  FROM s2hits GROUP BY 1, 2),
        |s2ranked AS (
        |  SELECT query_id, id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, id) AS rnk
        |  FROM s2scored)
        |SELECT query_id, id, score, rnk FROM s1ranked WHERE rnk <= 3
        |UNION ALL
        |SELECT query_id, id, score, rnk FROM s2ranked WHERE rnk <= 3""".stripMargin,

    // persisted-index serving ≡ the one-shot hybrid — same oracle as q81
    "q84_hybrid_serving" ->
      """WITH toks AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, tok AS term FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(coalesce(text, ''))),
        |        '\s+')) AS tok
        |    FROM documents)
        |  WHERE tok <> ''),
        |tf AS MATERIALIZED (
        |  SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS MATERIALIZED (SELECT id, sum(tf) AS dl FROM tf GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
        |       FROM dl),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |q AS (
        |  SELECT DISTINCT CAST(doc_id AS BIGINT) AS query_id, tok AS term
        |  FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(coalesce(text, ''))),
        |        '\s+')) AS tok
        |    FROM documents WHERE doc_id < 5)
        |  WHERE tok <> ''),
        |hits AS (
        |  SELECT q.query_id, tf.id,
        |    ln(1.0 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
        |      (tf.tf * 2.2) /
        |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS contrib
        |  FROM tf JOIN dfreq USING (term) JOIN q USING (term)
        |    JOIN dl ON tf.id = dl.id CROSS JOIN st),
        |bscored AS (
        |  SELECT query_id, id, round(sum(contrib), 4) AS score
        |  FROM hits GROUP BY 1, 2),
        |lex AS (
        |  SELECT query_id, id, rnk FROM (
        |    SELECT query_id, id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, id) AS rnk
        |    FROM bscored) WHERE rnk <= 10),
        |dvals AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS id,
        |    CASE WHEN sqrt(sum(power(CAST(a.embedding[i] AS DOUBLE), 2))) *
        |              sqrt(sum(power(CAST(b.embedding[i] AS DOUBLE), 2))) > 0
        |      THEN 1.0 - sum(CAST(a.embedding[i] AS DOUBLE) * b.embedding[i]) /
        |        (sqrt(sum(power(CAST(a.embedding[i] AS DOUBLE), 2))) *
        |         sqrt(sum(power(CAST(b.embedding[i] AS DOUBLE), 2))))
        |      ELSE 1.0 END AS dist
        |  FROM embeddings a, embeddings b, generate_series(1, 64) t(i)
        |  WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id GROUP BY 1, 2),
        |dense AS (
        |  SELECT query_id, id, rnk FROM (
        |    SELECT query_id, id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY dist, id) AS rnk
        |    FROM dvals) WHERE rnk <= 10),
        |allc AS (
        |  SELECT query_id, id, 1.0 / (60 + rnk) AS contrib FROM lex
        |  UNION ALL
        |  SELECT query_id, id, 1.0 / (60 + rnk) AS contrib FROM dense),
        |fused AS (
        |  SELECT query_id, id, round(sum(contrib), 6) AS score
        |  FROM allc GROUP BY 1, 2)
        |SELECT query_id, id, score, rnk FROM (
        |  SELECT query_id, id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, id) AS rnk
        |  FROM fused) WHERE rnk <= 10""".stripMargin,

    // full SQL replay of the repeated-span rule: 8-token string shingles
    // (hashes elided — same result), occurrence counts >= 2, coverage
    // union, ordered per-doc rebuild via string_agg
    "q77_dedup_substrings" ->
      """WITH corpus AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id + 1000000 AS BIGINT), text
        |  FROM documents WHERE doc_id < 25),
        |w AS MATERIALIZED (
        |  SELECT id, string_split_regex(trim(coalesce(text, '')), '\s+') AS ws
        |  FROM corpus),
        |toks AS MATERIALIZED (
        |  SELECT id, u.p AS pos, u.tok FROM (
        |    SELECT id, unnest(list_transform(range(1, len(ws) + 1),
        |      i -> {'p': i - 1, 'tok': ws[i]})) AS u
        |    FROM w)
        |  WHERE u.tok <> ''),
        |grams AS MATERIALIZED (
        |  SELECT id, u.p AS gp, u.g FROM (
        |    SELECT id, unnest(list_transform(range(1, len(ws) - 6),
        |      i -> {'p': i - 1, 'g': array_to_string(ws[i:i+7], ' ')})) AS u
        |    FROM w WHERE len(ws) >= 8)),
        |shared AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
        |covered AS (
        |  SELECT DISTINCT id, pos FROM (
        |    SELECT id, unnest(range(gp, gp + 8)) AS pos
        |    FROM grams WHERE g IN (SELECT g FROM shared))),
        |kept AS (
        |  SELECT t.id, t.pos, t.tok FROM toks t
        |  LEFT JOIN covered c ON c.id = t.id AND c.pos = t.pos
        |  WHERE c.id IS NULL),
        |reb AS (
        |  SELECT id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
        |    count(*) AS kept_n FROM kept GROUP BY id),
        |ntok AS (
        |  SELECT id, CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS n
        |  FROM corpus)
        |SELECT n.id, coalesce(r.clean_text, '') AS clean_text,
        |  CAST(n.n - coalesce(r.kept_n, 0) AS BIGINT) AS n_removed
        |FROM ntok n LEFT JOIN reb r USING (id)""".stripMargin,

    // streaming ingest: batch A pairs vs originals, batch B pairs vs
    // batch A (both +1M gaps, identical text → est exactly 1.0);
    // doc_id < 2000 mirrors the Spark side's batch cap
    "q74_stream_dedup_ingest" ->
      """SELECT CAST(doc_id + 1000000 AS BIGINT) AS new_id,
        |  CAST(doc_id AS BIGINT) AS indexed_id,
        |  CAST(1.0 AS DOUBLE) AS est_jaccard
        |FROM documents WHERE doc_id < 2000
        |UNION ALL
        |SELECT CAST(doc_id + 2000000 AS BIGINT),
        |  CAST(doc_id + 1000000 AS BIGINT),
        |  CAST(1.0 AS DOUBLE)
        |FROM documents WHERE doc_id < 2000""".stripMargin,

    // perturbed-copy semantic-dedup recall: monotone-in-probes invariant
    // + 0.9 floor at probes=4, asserted Spark-side, replayed as constants
    "q73_semantic_perturbed" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_injected,
        | CAST(1 AS BIGINT) AS monotone_ok,
        | CAST(1 AS BIGINT) AS recall_floor_met
        |FROM embeddings""".stripMargin,

    // blocked-PQ recall floor: same contract as q57
    "q72_pq_block_knn" ->
      """SELECT CAST(5 * count(*) AS BIGINT) AS n_exact,
        | CAST(1 AS BIGINT) AS recall_floor_met
        |FROM embeddings""".stripMargin,

    // persisted IVF-PQ recall floor: same contract as q57
    "q58_ivfpq_index" ->
      """SELECT CAST(5 * count(*) AS BIGINT) AS n_exact,
        | CAST(1 AS BIGINT) AS recall_floor_met
        |FROM embeddings""".stripMargin,

    // streaming micro-batch probe at nProbe=nList over disjoint batches
    // ≡ brute-force kNN on the capped query side (q41's oracle)
    "q59_stream_knn" ->
      s"""$knnL2Cte
         |SELECT query_id, neighbor_id, rnk, round(dist, 6) AS dist
         |FROM knn WHERE rnk <= 5 AND query_id < 500""".stripMargin,

    // full SQL replica of the repetition metrics: line grouping, dup-char
    // sums, bigram enumeration with the (count DESC, gram ASC) tie-break
    "q60_repetition" ->
      """WITH corpus AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id + 1000000 AS BIGINT), text || chr(10) || text
        |  FROM documents),
        |lc AS (
        |  SELECT id, line, count(*) AS cnt, length(line) AS len
        |  FROM (SELECT id, unnest(string_split(text, chr(10))) AS line
        |        FROM corpus)
        |  GROUP BY id, line, length(line)),
        |la AS (
        |  SELECT id, sum(cnt) AS n_lines, count(*) AS n_distinct,
        |    sum(CASE WHEN cnt > 1 THEN len * cnt ELSE 0 END) AS dup_chars,
        |    sum(len * cnt) AS tot_chars
        |  FROM lc GROUP BY id),
        |wsrc AS (
        |  SELECT id, string_split_regex(trim(text), '\s+') AS ws FROM corpus),
        |grams AS (
        |  SELECT id, unnest(list_transform(range(1, len(ws)),
        |    i -> ws[i] || ' ' || ws[i + 1])) AS gram
        |  FROM wsrc WHERE len(ws) >= 2),
        |gc AS (SELECT id, gram, count(*) AS cnt FROM grams GROUP BY id, gram),
        |topg AS (
        |  SELECT id, cnt * length(gram) AS top_chars
        |  FROM (SELECT id, gram, cnt,
        |          row_number() OVER (PARTITION BY id
        |            ORDER BY cnt DESC, gram ASC) AS rn
        |        FROM gc) WHERE rn = 1)
        |SELECT c.id AS id, CAST(la.n_lines AS BIGINT) AS n_lines,
        |  CASE WHEN la.n_lines > 0
        |    THEN round(1.0 - CAST(la.n_distinct AS DOUBLE) / la.n_lines, 4)
        |    ELSE 0.0 END AS dup_line_frac,
        |  CASE WHEN la.tot_chars > 0
        |    THEN round(CAST(la.dup_chars AS DOUBLE) / la.tot_chars, 4)
        |    ELSE 0.0 END AS dup_line_char_frac,
        |  CASE WHEN length(c.text) > 0 AND topg.top_chars IS NOT NULL
        |    THEN round(CAST(topg.top_chars AS DOUBLE) / length(c.text), 4)
        |    ELSE 0.0 END AS top_2gram_char_frac
        |FROM corpus c JOIN la USING (id) LEFT JOIN topg USING (id)""".stripMargin,

    // SQL replica of the contamination join: distinct 8-gram shingles per
    // side joined on the shingle STRING (the Spark side joins on the
    // 64-bit hash — identical pairs modulo negligible collisions)
    "q61_contamination" ->
      """WITH bench AS (
        |  SELECT doc_id + 1000000 AS bench_id,
        |    array_to_string(string_split_regex(trim(text), '\s+')[3:14], ' ')
        |      AS text
        |  FROM documents),
        |csh AS (
        |  SELECT DISTINCT doc_id, sh FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ws) - 6),
        |      i -> array_to_string(ws[i:i+7], ' '))) AS sh
        |    FROM (SELECT doc_id,
        |            string_split_regex(trim(text), '\s+') AS ws
        |          FROM documents)
        |    WHERE len(ws) >= 8)),
        |bsh AS (
        |  SELECT DISTINCT bench_id, sh FROM (
        |    SELECT bench_id, unnest(list_transform(range(1, len(ws) - 6),
        |      i -> array_to_string(ws[i:i+7], ' '))) AS sh
        |    FROM (SELECT bench_id,
        |            string_split_regex(trim(text), '\s+') AS ws
        |          FROM bench)
        |    WHERE len(ws) >= 8)),
        |bt AS (SELECT bench_id, count(*) AS n_bench FROM bsh GROUP BY 1),
        |ov AS (
        |  SELECT doc_id, bench_id, count(*) AS n_overlap
        |  FROM csh JOIN bsh USING (sh) GROUP BY 1, 2)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(bench_id AS BIGINT) AS bench_id,
        |  CAST(n_overlap AS BIGINT) AS n_overlap,
        |  round(CAST(n_overlap AS DOUBLE) / n_bench, 4) AS bench_overlap_frac
        |FROM ov JOIN bt USING (bench_id)""".stripMargin,

    // chunk-window arithmetic replayed over the token list: n_chunks =
    // 1 for short docs else ceil((n-32)/16)+1; chunk k = tokens
    // [16k+1 .. min(16k+32, n)] joined by single spaces
    // empty/whitespace-only (or NULL) docs yield NO chunks — the Spark
    // side's explicit empty-doc gate, mirrored here by the WHERE
    "q64_chunk_documents" ->
      """WITH w AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents WHERE trim(text) <> ''),
        |n AS (
        |  SELECT doc_id, ws, len(ws) AS n,
        |    CASE WHEN len(ws) <= 32 THEN 1
        |      ELSE CAST(ceil((len(ws) - 32) / 16.0) AS BIGINT) + 1 END AS nc
        |  FROM w)
        |SELECT doc_id, u.k AS chunk_idx, u.c AS chunk_text
        |FROM (
        |  SELECT doc_id, unnest(list_transform(range(0, nc),
        |    k -> {'k': k,
        |          'c': array_to_string(ws[k*16+1 : least(k*16+32, n)], ' ')}))
        |    AS u
        |  FROM n)""".stripMargin,

    // the greedy first-overflow recurrence replayed row-by-row as a
    // recursive CTE (depth = max docs per source — catalog-bounded)
    "q63_pack_sequences" ->
      """WITH RECURSIVE ordered AS (
        |  SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(n_chars AS BIGINT) AS n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |packed AS (
        |  SELECT source, doc_id, n_chars, rn,
        |    n_chars AS fill, CAST(0 AS BIGINT) AS seq
        |  FROM ordered WHERE rn = 1
        |  UNION ALL
        |  SELECT o.source, o.doc_id, o.n_chars, o.rn,
        |    CASE WHEN p.fill + o.n_chars > 2000
        |      THEN o.n_chars ELSE p.fill + o.n_chars END,
        |    CASE WHEN p.fill + o.n_chars > 2000
        |      THEN p.seq + 1 ELSE p.seq END
        |  FROM packed p JOIN ordered o
        |    ON o.source = p.source AND o.rn = p.rn + 1)
        |SELECT source, doc_id, n_chars, seq AS seq_id FROM packed""".stripMargin,

    // md5 hex-threshold membership is engine-independent: DuckDB replays
    // the identical keep rule (0.5 → '8000', 0.25 → '4000' of 0x10000)
    "q62_stratified_sample" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source
        |FROM documents
        |WHERE CASE lang
        |  WHEN 'en' THEN
        |    substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < '8000'
        |  WHEN 'zh' THEN
        |    substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
        |  ELSE true END""".stripMargin,

    "q11_knn_cosine" ->
      """WITH d AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    CASE WHEN sqrt(sum(power(CAST(a.embedding[i] AS DOUBLE), 2))) *
        |              sqrt(sum(power(CAST(b.embedding[i] AS DOUBLE), 2))) > 0
        |      THEN 1.0 - sum(CAST(a.embedding[i] AS DOUBLE) * b.embedding[i]) /
        |        (sqrt(sum(power(CAST(a.embedding[i] AS DOUBLE), 2))) *
        |         sqrt(sum(power(CAST(b.embedding[i] AS DOUBLE), 2))))
        |      ELSE 1.0 END AS dist
        |  FROM embeddings a, embeddings b, generate_series(1, 64) t(i)
        |  WHERE a.vec_id <> b.vec_id GROUP BY 1, 2),
        |knn AS (
        |  SELECT query_id, neighbor_id, dist,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
        |  FROM d)
        |SELECT query_id, neighbor_id, rnk, round(dist, 6) AS dist
        |FROM knn WHERE rnk <= 5""".stripMargin,

    "q12_threshold_join" ->
      s"""$knnL2Cte
         |SELECT query_id, neighbor_id, round(dist, 6) AS dist
         |FROM knn WHERE rnk <= 10 AND sqrt(dist) <= 1.19""".stripMargin,

    "q13_knn_eval_prf" ->
      s"""$knnL2Cte,
         |$truthCte,
         |dd AS (SELECT query_id AS query, neighbor_id AS candidate FROM knn WHERE rnk <= 5),
         |c AS (SELECT
         |  (SELECT count(*) FROM dd JOIN rel
         |     ON dd.query = rel.query AND dd.candidate = rel.candidate) AS tp,
         |  (SELECT count(*) FROM dd) AS nd,
         |  (SELECT count(*) FROM rel) AS nt),
         |m AS (SELECT tp, nd - tp AS fp, nt - tp AS fn,
         |  tp / (tp + (nd - tp) + 1e-8) AS p0,
         |  tp / (tp + (nt - tp) + 1e-8) AS r0 FROM c)
         |SELECT tp, fp, fn, round(p0, 4) AS prec, round(r0, 4) AS rec,
         |  round(2.0 * p0 * r0 / (p0 + r0 + 1e-8), 4) AS f1
         |FROM m""".stripMargin,

    "q14_knn_ndcg" ->
      s"""$knnL2Cte,
         |$truthCte,
         |relc AS (SELECT query, count(*) AS n_relevant FROM rel GROUP BY query),
         |dcg AS (
         |  SELECT k.query_id AS query,
         |    sum(CASE WHEN rel.query IS NOT NULL
         |        THEN 1.0 / log2(k.rnk + 1.0) ELSE 0.0 END) AS dcg
         |  FROM (SELECT * FROM knn WHERE rnk <= 5) k
         |  LEFT JOIN rel ON k.query_id = rel.query AND k.neighbor_id = rel.candidate
         |  GROUP BY 1),
         |per AS (
         |  SELECT dcg.query, dcg.dcg,
         |    CASE WHEN least(5, relc.n_relevant) >= 5
         |      THEN 1.0/log2(2.0) + 1.0/log2(3.0) + 1.0/log2(4.0) + 1.0/log2(5.0) + 1.0/log2(6.0)
         |    WHEN least(5, relc.n_relevant) = 4
         |      THEN 1.0/log2(2.0) + 1.0/log2(3.0) + 1.0/log2(4.0) + 1.0/log2(5.0)
         |    WHEN least(5, relc.n_relevant) = 3
         |      THEN 1.0/log2(2.0) + 1.0/log2(3.0) + 1.0/log2(4.0)
         |    WHEN least(5, relc.n_relevant) = 2 THEN 1.0/log2(2.0) + 1.0/log2(3.0)
         |    WHEN least(5, relc.n_relevant) = 1 THEN 1.0/log2(2.0)
         |    ELSE 0.0 END AS idcg
         |  FROM dcg JOIN relc ON dcg.query = relc.query)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  round(avg(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END), 4) AS ndcg
         |FROM per""".stripMargin,

    "q15_dedup_exact" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS canonical_id,
        | count(*) AS dup_count, text
        |FROM documents GROUP BY text""".stripMargin,

    "q16_jaccard_pairs" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 1000),
        |toks AS (
        |  SELECT DISTINCT CAST(doc_id AS BIGINT) AS id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM docs),
        |sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.id = id_a
        |JOIN sizes sb ON sb.id = id_b
        |WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5""".stripMargin,

    "q47_ngram_jaccard" ->
      """WITH docs AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |    string_split_regex(trim(text), '\s+') AS w
        |  FROM documents WHERE doc_id < 1000),
        |sh AS (
        |  SELECT DISTINCT id, unnest(
        |    CASE WHEN len(w) >= 3
        |      THEN list_transform(generate_series(1, len(w) - 2),
        |                          i -> array_to_string(w[i:i+2], ' '))
        |      ELSE CAST([] AS VARCHAR[]) END) AS tok
        |  FROM docs),
        |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.tok = b.tok AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.id = id_a
        |JOIN sizes sb ON sb.id = id_b
        |WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.3""".stripMargin,

    "q17_pair_canon" ->
      """SELECT least(l_partkey, l_suppkey) AS pair_lo,
        | greatest(l_partkey, l_suppkey) AS pair_hi, count(*) AS n
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q18_date_normalize" ->
      """SELECT o_orderkey, raw,
        |  strftime(CASE m WHEN 0 THEN date_trunc('month', o_orderdate)
        |                  WHEN 1 THEN CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
        |                  WHEN 2 THEN date_trunc('month', o_orderdate)
        |                  ELSE date_trunc('quarter', o_orderdate) END,
        |           '%d %B %Y') AS normalized
        |FROM (
        |  SELECT o_orderkey, o_orderkey % 4 AS m, o_orderdate,
        |    CASE o_orderkey % 4
        |      WHEN 0 THEN strftime(o_orderdate, '%Y-%m')
        |      WHEN 1 THEN strftime(o_orderdate, '%Y%m%d')
        |      WHEN 2 THEN strftime(o_orderdate, '%m/%Y')
        |      ELSE strftime(o_orderdate, '%Y') || '-Q' ||
        |           CAST(quarter(o_orderdate) AS INT)
        |    END AS raw
        |  FROM orders) s""".stripMargin,

    "q21_langid" ->
      s"""WITH base AS (
         |  SELECT CAST(doc_id AS BIGINT) AS id,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok,
         |    string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM documents),
         |scored AS (
         |  SELECT id,
         |    ${langScoreSql("de")} AS s_de,
         |    ${langScoreSql("en")} AS s_en,
         |    ${langScoreSql("es")} AS s_es,
         |    ${langScoreSql("fr")} AS s_fr
         |  FROM base)
         |SELECT id, round(s_de, 4) AS score_de, round(s_en, 4) AS score_en,
         |  round(s_es, 4) AS score_es, round(s_fr, 4) AS score_fr,
         |  CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr) AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'de'
         |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'en'
         |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'es'
         |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'fr'
         |       ELSE 'und' END AS lang_pred
         |FROM scored""".stripMargin,

    "q22_event_windows" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        | event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // identical contract to q22 — the Spark side differs only in executing
    // through the streaming engine
    "q42_stream_windows" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        | event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // streaming dedup twin: duplicates injected by the query itself, so
    // the oracle is simply the original events table
    "q50_stream_dedup" ->
      """SELECT event_id, CAST(epoch_us(date_trunc('microseconds', ts)) AS BIGINT) AS ts_us,
        | user_id, event_type, round(value, 2) AS value
        |FROM events""".stripMargin,

    // stream-static enrichment twin: the batch join the streaming
    // execution must reproduce
    "q46_stream_enrich" ->
      """SELECT c_mktsegment, count(*) AS n_events,
        | round(sum(value), 2) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q23_within_group_pairs" ->
      s"""WITH cols(tbl, col, typ) AS (VALUES $lakeColsValues),
         |items AS (
         |  SELECT tbl, col,
         |    regexp_replace(translate(lower(col), ' -', '__'), '^[a-z]_', '') AS anno,
         |    tbl || ':' || col AS key
         |  FROM cols)
         |SELECT a.anno AS group_key, a.key AS id_a, b.key AS id_b
         |FROM items a JOIN items b ON a.anno = b.anno AND a.key < b.key""".stripMargin,

    "q24_annotation_enrich" ->
      s"""WITH cols(table_name, column_name, inferred_type) AS (VALUES $lakeColsValues),
         |ann AS (
         |  SELECT table_name, column_name, inferred_type,
         |    regexp_replace(translate(lower(column_name), ' -', '__'), '^[a-z]_', '')
         |      AS semantic_annotation
         |  FROM cols)
         |SELECT table_name, column_name, semantic_annotation,
         |  CASE WHEN contains(semantic_annotation, 'date') THEN 'date'
         |       ELSE inferred_type END AS enriched_type
         |FROM ann""".stripMargin,

    "q30_embedding_prompt" ->
      (lakeSchema.find(_._1 == "customer").get._2
        .map { case (c, ty) => profileColSql("customer", c, ty, withLens = true) }
        .mkString("WITH s AS (\n", "\nUNION ALL\n", ")\n") +
      """SELECT table_name, column_name,
        |  'The attribute with header: ''' || column_name ||
        |  ''' has semantic annotation: ''' ||
        |  regexp_replace(translate(lower(column_name), ' -', '__'), '^[a-z]_', '') ||
        |  ''' and belongs to a table which is described as: ''Table ' || table_name ||
        |  '''' || chr(10) ||
        |  'The dataset for column ''' || column_name || ''' contains ' ||
        |  num_values || ' entries.' || chr(10) ||
        |  'Key statistics for the column:' || chr(10) ||
        |  '- Maximum value length: ' || max_len || ' characters.' || chr(10) ||
        |  '- Minimum value length: ' || min_len || ' characters.' || chr(10) ||
        |  '- Average value length: ' || CAST(round(avg_len, 1) AS VARCHAR) ||
        |  ' characters.' AS prompt
        |FROM s""".stripMargin),

    // token-exact truncation contract flags (see the q44 query comment).
    // `vocab` pins the vocabulary that ran: 'demo' in this offline build;
    // after scripts/fetch_cl100k.sh installs the published cl100k_base
    // export, the engine reports 'cl100k_base' and this row flags the
    // (intentional) switch to reference-token-exact mode.
    "q44_bpe_truncate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(1 AS BIGINT) AS is_prefix, CAST(1 AS BIGINT) AS under_cap,
        | CAST(1 AS BIGINT) AS noop_below_cap, CAST(1 AS BIGINT) AS cut_above_cap,
        | CAST(1 AS BIGINT) AS is_prefix_tik, CAST(1 AS BIGINT) AS under_cap_tik,
        | CAST(1 AS BIGINT) AS noop_below_cap_tik, CAST(1 AS BIGINT) AS cut_above_cap_tik,
        | 'demo' AS vocab
        |FROM documents""".stripMargin,

    "q31_token_bpe" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS BIGINT)
        |    AS n_bpe_tokens
        |FROM documents""".stripMargin,

    "q32_sliding_windows" ->
      """SELECT CAST((epoch_us(ts) // 1800000000 - k) * 1800 AS BIGINT) AS window_start,
        |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events, (VALUES (0), (1)) t(k)
        |GROUP BY 1, 2""".stripMargin,

    "q33_session_window" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, value FROM events),
        |x AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sno
        |  FROM x)
        |SELECT user_id, min(epoch_us(ts)) AS session_start_us,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM y GROUP BY user_id, sno""".stripMargin,

    "q34_per_query_prf" ->
      s"""$knnL2Cte,
         |$truthCte,
         |relc AS (SELECT query, count(*) AS n_relevant FROM rel GROUP BY query),
         |ret AS (SELECT query_id AS query, count(*) AS n_retrieved
         |        FROM knn WHERE rnk <= 5 GROUP BY 1),
         |h AS (SELECT k.query_id AS query, count(*) AS tp
         |      FROM (SELECT * FROM knn WHERE rnk <= 5) k
         |      JOIN rel ON k.query_id = rel.query AND k.neighbor_id = rel.candidate
         |      GROUP BY 1),
         |m AS (SELECT ret.query, coalesce(h.tp, 0) AS tp, ret.n_retrieved,
         |        relc.n_relevant,
         |        coalesce(h.tp, 0) / (ret.n_retrieved + 1e-8) AS p0,
         |        coalesce(h.tp, 0) / (relc.n_relevant + 1e-8) AS r0
         |      FROM ret JOIN relc ON ret.query = relc.query
         |      LEFT JOIN h ON ret.query = h.query)
         |SELECT query, tp, n_retrieved, n_relevant,
         |  round(p0, 4) AS p_at_k, round(r0, 4) AS r_at_k,
         |  round(2.0 * p0 * r0 / (p0 + r0 + 1e-8), 4) AS f1_at_k
         |FROM m""".stripMargin,

    "q35_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q25_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, value FROM events),
        |x AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sno
        |  FROM x)
        |SELECT user_id, min(epoch_us(ts)) AS session_start_us,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM y GROUP BY user_id, sno""".stripMargin,

    // closed-form: a fresh build of the <400 corpus at 4 shards has
    // counts = the corpus, an active law at the raw base beam, and
    // zero orphans (the hash-placement columns are spec-gated)
    "q103_hnsw_staleness" ->
      """SELECT count(*) AS n_nodes, CAST(4 AS BIGINT) AS n_shards,
        |  true AS beam_law_active, CAST(64 AS BIGINT) AS base_ef,
        |  CAST(64 AS BIGINT) AS effective_ef,
        |  CAST(0 AS BIGINT) AS beam_doublings,
        |  CAST(0 AS BIGINT) AS orphan_paths,
        |  CAST(NULL AS DOUBLE) AS rc_q25,
        |  CAST(NULL AS VARCHAR) AS shape
        |FROM embeddings WHERE vec_id < 400""".stripMargin,
  )
}
