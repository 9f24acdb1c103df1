package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.discover.{Discovery, Eval}
import graft.embed.{Embedder, HashEmbedder}
import graft.knn.KnnJoin
import graft.profile.Profiler
import graft.sources.Lake

/** The reference's evaluation grid (SemLink/join_discoverer.py:454–518):
  * sweep k ∈ {5,10,25} × threshold ∈ {0.1..0.4}, reporting P/R/F1 and
  * NDCG@k per cell against a ground-truth pair relation.
  *
  * The reference recomputes the FAISS search for every threshold although
  * distances depend only on k (join_discoverer.py:485–498), and scores
  * each cell separately (:454–518). Here the kNN runs ONCE, at the max k,
  * and one conditional aggregate over it scores every (k, threshold) cell
  * and every k's NDCG, collected in one action (SURVEY.md §4.1): the
  * grid's Spark jobs do not grow with the number of cells.
  */
object SemLinkGrid {

  /** The grid's first escalation threshold: a catalog past this many
    * keys leaves exact blocked self-kNN, which is O(N²·d) however it is
    * blocked (SCALE_r13: exact grew 5.05× per 10× data, auto-√N IVF
    * 3.14×). 10⁵ keys is the single-broadcast block size, so below it
    * the exact path is one broadcast pass. Escalation is logged;
    * `annAbove = Long.MaxValue` forces exact at any size.
    */
  val DefaultAnnAbove: Long = 100000L

  /** The second escalation tier: a catalog past this many keys runs the
    * grid kNN through sharded HNSW ([[graft.knn.ApproxKnn.hnswBlockKnn]]:
    * built once into a scratch [[graft.knn.HnswIndex]], queries streamed
    * in bounded blocks) instead of IVF. The beam is N·log N overall and
    * emits only top-k rows, where auto-√N IVF is Θ(N^1.5) and shuffles
    * every probed pair (SCALE_r14_default_gate, SCALE_r16_default_gate,
    * SCALE_r16_1m, SCALE_r17_1m_auto). It equals [[DefaultAnnAbove]], so
    * an untuned escalation goes straight to HNSW. IVF stays the explicit
    * middle choice (`hnswAbove = Long.MaxValue`): on spread catalogs its
    * recall collapses where the graph's degrades gracefully
    * (SCALE_r17_recall_200k{,_ivf,_spread,_spread_ivf}).
    *
    * The beam: on the untuned path only (`efSearch` left at
    * [[DefaultEfSearch]], both auto-scale knobs on), one 256-query
    * contrast pass raises a spread catalog's base to
    * [[graft.knn.BeamLaw.SpreadBaseEf]] ([[resolveShapeBase]];
    * SCALE_r19_shape_*, SCALE_r19_recall_*_default). A catalog this
    * size pays an index build, so that pass is noise against it. Then
    * [[autoEfSearch]] widens the base with catalog size
    * (SCALE_r17_recall_1m_ef128, SCALE_r18_recall_1m_spread_ef256).
    * `shapeAutoScale = false` skips the contrast pass, `efAutoScale =
    * false` pins the raw knob, and `efSearch <= 0` is the full beam,
    * never scaled. `Long.MaxValue` opts out of the tier.
    */
  val DefaultHnswAbove: Long = DefaultAnnAbove

  /** The measured hold range of the HNSW tier's base beam: a given
    * efSearch keeps ~build-level recall while the catalog stays within
    * this many keys (SCALE_r17_recall_200k: ef 64 → recall@10 1.0000 at
    * 2·10⁵; the decay only appears past ~5·10⁵ — 0.9680 at 10⁶,
    * SCALE_r17_recall_1m). Shared anchor of [[autoEfSearch]]; the law
    * itself lives in [[graft.knn.BeamLaw]] — [[graft.knn.HnswIndex]]
    * applies the same rule to its persistent serving path, whose corpus
    * grows under streaming appends the same way the grid's catalog
    * grows across tiers.
    */
  val EfHoldKeys: Long = graft.knn.BeamLaw.HoldKeys

  /** Catalog growth per beam doubling past [[EfHoldKeys]]: the measured
    * trade (SCALE_r17_recall_1m_ef128: one doubling restores 0.9949 at
    * 2× keys past the hold range) rounded to the conservative side —
    * per-shard beam work is `ef·log(N/shards)`, so each doubling costs
    * ~2× search compute and buys ~5× catalog at held recall.
    */
  val EfDoublePerKeys: Double = graft.knn.BeamLaw.DoublePerKeys

  /** The HNSW tier's beam-width law — [[graft.knn.BeamLaw.autoEf]]:
    * `base` up to [[EfHoldKeys]] keys, then one doubling per
    * [[EfDoublePerKeys]]× keys (ceil — the quality-first side of the
    * measured rule, so 10⁶ keys already gets the doubling that
    * SCALE_r17_recall_1m_ef128 measured restoring 0.9949 from the fixed
    * beam's 0.9680). `base <= 0` (the full-beam sentinel) is
    * returned untouched — the full beam needs no scaling.
    */
  private[graft] def autoEfSearch(base: Int, n: Long): Int =
    graft.knn.BeamLaw.autoEf(base, n)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One grid cell: the discovered (query, candidate, dist) pairs (lazy:
    * evaluated only when used) and the one-row metrics frame (k,
    * threshold, tp, fp, fn, precision, recall, f1, ndcg, engine), a
    * driver-local frame over the collected grid.
    */
  final case class GridCell(k: Int, threshold: Double,
      discovered: DataFrame, metrics: DataFrame)

  /** What the escalation gate ACTUALLY ran — the surface the scale
    * probes record, so a committed artifact reflects the real plan
    * rather than re-deriving thresholds, the beam law, or the IVF
    * sizing rule (any of which a future gate change could silently
    * desynchronize from the artifact):
    *
    *  - `engine` — "exact" / "ivf" / "hnsw";
    *  - `efUsed` — the EFFECTIVE beam the HNSW tier ran
    *    (post-[[autoEfSearch]]); the caller's `efSearch` verbatim on
    *    the other engines, where it is inert;
    *  - `baseEf` — the base the law scaled: the caller's knob, or the
    *    shape-raised [[graft.knn.BeamLaw.SpreadBaseEf]] when the shape
    *    probe fired;
    *  - `rc`/`rcQ25` — the measured contrast statistics
    *    ([[graft.knn.ShapeStats.relativeContrastStats]]: the published
    *    median and the lower quartile the DECISION uses — a bimodal
    *    mixture's median snaps to a mode, the quartile fires on any
    *    material spread share), when the shape probe ran (untuned HNSW
    *    escalations only);
    *  - `nList`/`nProbe` — the RESOLVED IVF knobs
    *    ([[resolveIvfParams]] — auto-√N sizing and full-probe/clamp
    *    sentinels applied), ivf engine only.
    */
  final case class GridEngine(
      engine: String,
      efUsed: Int,
      baseEf: Int,
      rc: Option[Double] = None,
      rcQ25: Option[Double] = None,
      nList: Option[Int] = None,
      nProbe: Option[Int] = None)

  /** The UNTUNED base beam of the HNSW tier — the value the shape rule
    * treats as "no caller choice": the probe-and-raise path runs only
    * when `efSearch` is left here, because an EXPLICIT base (wider for
    * quality, narrower for speed) is a caller decision the gate must
    * not override (an explicit 64 is indistinguishable from the
    * default and gets the probe — harmless, it IS the default).
    */
  val DefaultEfSearch: Int = 64

  /** The shape-aware base-beam rule, isolated for direct spec pinning
    * against the committed rc anchors — applied to the LOWER-QUARTILE
    * contrast ([[graft.knn.ShapeStats.relativeContrastStats]].q25; the
    * median would coin-flip on a bimodal mixture): a catalog whose q25
    * sits at or below [[graft.knn.ShapeStats.SpreadRcMax]] (spread
    * anchors ≈ 1.5 at 2·10⁵ AND 10⁶ keys — tier-stable; a 50/50
    * mixture's spread mode ≈ 1.4) gets its base raised to
    * [[graft.knn.BeamLaw.SpreadBaseEf]] (never lowered: a caller who
    * set a wider base keeps it); a clustered catalog (q25 ≈ 6) keeps
    * the untuned default, whose recall is measured ≥ 0.99 under the
    * law at both tiers.
    */
  private[graft] def resolveShapeBase(rcQ25: Double, base: Int): Int =
    if (rcQ25 <= graft.knn.ShapeStats.SpreadRcMax)
      math.max(base, graft.knn.BeamLaw.SpreadBaseEf)
    else base

  /** The lake pipeline's grid: profile → serialize → embed, then
    * [[gridCellsFromCatalog]].
    */
  def gridCells(
      spark: SparkSession,
      dir: String,
      groundTruth: DataFrame, // (query_table, query_column, candidate_table, candidate_column)
      ks: Seq[Int] = Seq(5, 10, 25),
      thresholds: Seq[Double] = Seq(0.1, 0.2, 0.3, 0.4),
      embedder: Embedder = HashEmbedder(),
      tables: Seq[String] = Lake.lakeTables): Seq[GridCell] = {
    import graft.functions.TextFns

    val profiles = Profiler.profileLake(spark, dir, tables)
    val embedded = SemLink.columnTexts(profiles)
      .withColumn("vec", embedder.embedColumn(col("text")))

    // composite keys (join_discoverer.py:392–397)
    gridCellsFromCatalog(embedded,
      groundTruth.select(
        TextFns.columnKey(col("query_table"), col("query_column")).as("q"),
        TextFns.columnKey(col("candidate_table"), col("candidate_column")).as("c")),
      ks, thresholds)
  }

  /** The grid core over ANY (key, vec) catalog — the lake pipeline above
    * is one caller (profile → serialize → embed); a pre-embedded corpus
    * (the q89 oracle path, where the kNN + per-cell A8/A9 math is
    * replayed in SQL over stored vectors) is another. `groundTruth` is a
    * two-column (q, c) key-grain pair relation, symmetrized here.
    *
    * One kNN pass at max(k), then ONE aggregate scores every cell
    * (tp/fp/fn, P/R/F1 through [[Eval.prfColumns]]) and every k's NDCG
    * (the [[Eval.ndcgAtK]] semantics through the shared [[Eval.idcg]]),
    * collected once. On an exact catalog of one broadcast block the call
    * runs the same Spark jobs whatever the number of cells: the catalog
    * count, the broadcast kNN's query collect and its scan, whose
    * partials fold on the driver ([[graft.knn.TopK.mergeTopK]]), the
    * truth's exchange and broadcast, and the aggregate's exchange and
    * result.
    */
  def gridCellsFromCatalog(
      catalog: DataFrame, // (key, vec) + anything else, pruned here
      groundTruth: DataFrame, // (q, c) on catalog keys
      ks: Seq[Int],
      thresholds: Seq[Double],
      annAbove: Long = DefaultAnnAbove,
      nList: Int = 0,
      nProbe: Int = 16,
      hnswAbove: Long = DefaultHnswAbove,
      efSearch: Int = 64,
      efAutoScale: Boolean = true,
      shapeAutoScale: Boolean = true,
      scratchDir: Option[String] = None): Seq[GridCell] = {
    // fail fast on an empty sweep — ks.max and the callers' metric
    // reduces would otherwise surface as bare empty.max/empty.reduce
    // after the expensive profiling already ran
    require(ks.nonEmpty && thresholds.nonEmpty,
      "gridCellsFromCatalog: ks and thresholds must be non-empty")
    val spark = catalog.sparkSession
    // lazy localCheckpoints, not cache(): blocks release with the frames
    // (the SemLink.knnPairs rule — cache() pins them for the session)
    val embedded = catalog.select("key", "vec")
      .localCheckpoint(eager = false)

    // Metrics run in LONG-ID space: truth keys hash through the same
    // xxhash64 the kNN uses, cast to string BEFORE hashing (both here and
    // in gridKnnIds) — a long-typed truth column against string catalog
    // keys would otherwise hash 5L and "5" apart into silent all-miss
    // metrics. The symmetric truth is placed by query, so its per-query
    // relevant counts (an aggregate and a window) add no exchange.
    val truth = Discovery.symmetrizeGroundTruth(
      groundTruth.toDF("q", "c").select(
        xxhash64(col("q").cast("string")).as("q"),
        xxhash64(col("c").cast("string")).as("c")),
      "q", "c")
    val relCounts = truth.groupBy("query").agg(count(lit(1)).as("relevant"))

    // ONE kNN pass at kMax; every (k, t) cell is a filter over it. Only
    // the user-facing discovered frames pay the id → key map-back.
    val (coreKnn, keys, eng) = gridKnnIds(embedded, ks.max,
      annAbove = annAbove, nList = nList, nProbe = nProbe,
      hnswAbove = hnswAbove, efSearch = efSearch,
      efAutoScale = efAutoScale, shapeAutoScale = shapeAutoScale,
      scratchDir = scratchDir)
    val knn = coreKnn.localCheckpoint(eager = false)

    // Every cell's tp/fp and every k's NDCG in ONE conditional aggregate
    // over three row kinds, grouped by cell:
    //  - each kNN row inside a cell's rank cut (rank ≤ k) counts toward
    //    tp/fp when it also passes the threshold, and a truth hit adds
    //    its NDCG share gain(rank) / idcg(k, |relevant|);
    //  - each truth query adds its relevant count to every cell, which
    //    gives fn = |truth| − tp and the NDCG mean's query count (truth
    //    queries the kNN missed score 0, as in Eval.ndcgAtK);
    //  - each cell adds one empty row, so a cell with no kNN row and no
    //    truth still has its all-zero metrics row.
    // kNN rows are unique per (query, candidate) — every engine emits one
    // row per neighbor — so the counts keep microPrf1's set semantics.
    // The cells are a literal array exploded per row, not a joined
    // table: broadcasting even a local table costs a Spark job.
    val cells = array((for (k <- ks.distinct; t <- thresholds.distinct)
      yield struct(lit(k).as("k"), lit(t).as("threshold"))): _*)
    val cell = explode(cells).as("cell")
    val relevantOf = Window.partitionBy("query")
    val marked = knn
      .select(col("query_id").as("query"), col("neighbor_id").as("candidate"),
        col("dist"), col("rank"))
      .join(truth.withColumn("relevant", count(lit(1)).over(relevantOf)),
        Seq("query", "candidate"), "left")
    val hit = col("relevant").isNotNull
    val knnRows = marked
      .select(cell, col("dist"), col("rank"), col("relevant"))
      .select("cell.*", "dist", "rank", "relevant")
      .filter(col("rank") <= col("k"))
      .select(col("k"), col("threshold"),
        (sqrt(col("dist")) <= col("threshold")).as("found"), hit.as("hit"),
        when(hit, Eval.gain(col("rank")) / Eval.idcg(col("k"), col("relevant")))
          .as("share"))
    val truthRows = relCounts.select(cell, col("relevant"))
      .select("cell.*", "relevant")
    val emptyRows = spark.range(1).select(cell).select("cell.*")
    val counts = knnRows
      .unionByName(truthRows, allowMissingColumns = true)
      .unionByName(emptyRows, allowMissingColumns = true)
      .groupBy("k", "threshold")
      .agg(
        count(when(col("found") && col("hit"), lit(1))).as("tp"),
        count(when(col("found") && !col("hit"), lit(1))).as("fp"),
        coalesce(sum("relevant"), lit(0L)).as("n_truth"),
        count("relevant").as("n_queries"),
        coalesce(sum("share"), lit(0.0)).as("dcg"))
      .withColumn("fn", col("n_truth") - col("tp"))
    // the ENGINE that produced the kNN rides on every metrics row: the
    // escalation gate switches exact → ANN with only a WARN log as the
    // signal otherwise, and a downstream metrics consumer must be able
    // to tell exact from ANN-derived precision/recall without scraping
    // logs (the oracle paths pin the column per strategy)
    val grid = Eval.prfColumns(counts)
      .withColumn("ndcg", when(col("n_queries") > 0,
        round(col("dcg") / col("n_queries"), 4)))
      .withColumn("engine", lit(eng.engine))
      .select("k", "threshold", "tp", "fp", "fn",
        "precision", "recall", "f1", "ndcg", "engine")
    val rows = grid.collect()
      .map(r => (r.getInt(0), r.getDouble(1)) -> r).toMap

    for (k <- ks; t <- thresholds) yield {
      val discovered = Discovery.thresholdFilter(knn.filter(col("rank") <= k), "dist", t)
        .select(col("query_id").as("query"), col("neighbor_id").as("candidate"),
          col("dist"))
        .join(broadcast(keys.select(col("id").as("query"),
          col("key").as("__qkey"))), Seq("query"))
        .join(broadcast(keys.select(col("id").as("candidate"),
          col("key").as("__ckey"))), Seq("candidate"))
        .select(col("__qkey").as("query"), col("__ckey").as("candidate"),
          col("dist"))
      GridCell(k, t, discovered,
        spark.createDataFrame(java.util.List.of(rows((k, t))), grid.schema))
    }
  }

  /** The collected grid of `cells`, one metrics row per cell, as one
    * driver-local frame: actions on it run no Spark job.
    */
  private def collectedGrid(cells: Seq[GridCell]): DataFrame = {
    val first = cells.head.metrics
    first.sparkSession.createDataFrame(
      cells.flatMap(_.metrics.collect()).asJava, first.schema)
  }

  /** The grid's single kNN pass: string column keys are mapped to
    * deterministic `xxhash64` longs, searched as longs, and mapped back
    * through two broadcast joins. Output: (query_id, neighbor_id, dist,
    * rank) on string keys.
    *
    * The engine is chosen by catalog size. Up to `annAbove` keys it is
    * exact [[graft.knn.ApproxKnn.blockKnn]], which holds at most
    * `blockSize` query rows on the driver and is one broadcast pass
    * when the catalog fits one block. Past `annAbove` it is
    * [[graft.knn.ApproxKnn.ivfKnn]], and past `hnswAbove` the sharded
    * HNSW tier ([[DefaultAnnAbove]], [[DefaultHnswAbove]]), each
    * announced with a WARN log line. `annAbove = Long.MaxValue` forces
    * exact at any size.
    *
    * IVF sizing: `nList <= 0` (the default) sizes nList ∝ √N, so
    * per-query work at a fixed nProbe is O(nProbe·√N) and the grid
    * O(N^1.5) (SCALE_r12: fixed nList 64 grew 4.83× per 10× data, the
    * auto rule 3.21×). `nProbe <= 0` is the full probe, exhaustive and
    * exact: the oracle form of the IVF tier (q93/q94).
    */
  private[graft] def gridKnn(embedded: DataFrame, kMax: Int,
      blockSize: Int = 100000,
      annAbove: Long = DefaultAnnAbove,
      nList: Int = 0,
      nProbe: Int = 16,
      hnswAbove: Long = DefaultHnswAbove,
      efSearch: Int = 64,
      efAutoScale: Boolean = true,
      shapeAutoScale: Boolean = true,
      scratchDir: Option[String] = None): DataFrame =
    gridKnnWithEngine(embedded, kMax, blockSize, annAbove, nList, nProbe,
      hnswAbove, efSearch, efAutoScale, shapeAutoScale, scratchDir)._1

  /** [[gridKnn]] plus [[GridEngine]] — the plan the gate actually ran,
    * for artifacts and metrics consumers.
    */
  private[graft] def gridKnnWithEngine(embedded: DataFrame, kMax: Int,
      blockSize: Int = 100000,
      annAbove: Long = DefaultAnnAbove,
      nList: Int = 0,
      nProbe: Int = 16,
      hnswAbove: Long = DefaultHnswAbove,
      efSearch: Int = 64,
      efAutoScale: Boolean = true,
      shapeAutoScale: Boolean = true,
      scratchDir: Option[String] = None): (DataFrame, GridEngine) = {
    val (core, keys, eng) = gridKnnIds(embedded, kMax, blockSize,
      annAbove, nList, nProbe, hnswAbove, efSearch, efAutoScale,
      shapeAutoScale, scratchDir)
    (core
      .join(broadcast(keys.withColumnRenamed("id", "query_id")
        .withColumnRenamed("key", "__qkey")), Seq("query_id"))
      .join(broadcast(keys.withColumnRenamed("id", "neighbor_id")
        .withColumnRenamed("key", "__nkey")), Seq("neighbor_id"))
      .select(col("__qkey").as("query_id"), col("__nkey").as("neighbor_id"),
        col("dist"), col("rank")), eng)
  }

  /** [[gridKnn]]'s long-id core: (the kNN frame on xxhash64 ids, the
    * id → key dictionary). The grid's metrics path consumes the ids
    * directly — truth keys hash through the same function, so every
    * truth-side join ships 16-byte pairs — and only user-facing outputs
    * pay the map-back.
    */
  private[graft] def gridKnnIds(embedded: DataFrame, kMax: Int,
      blockSize: Int = 100000,
      annAbove: Long = DefaultAnnAbove,
      nList: Int = 0,
      nProbe: Int = 16,
      hnswAbove: Long = DefaultHnswAbove,
      efSearch: Int = 64,
      efAutoScale: Boolean = true,
      shapeAutoScale: Boolean = true,
      scratchDir: Option[String] = None)
      : (DataFrame, DataFrame, GridEngine) = {
    // string-canonicalized hash — must stay in lockstep with the truth
    // hashing in gridCellsFromCatalog (mixed-type tolerance note there)
    val withId = embedded
      .withColumn("id", xxhash64(col("key").cast("string")))
      .select("id", "key", "vec")
    val keys = withId.select("id", "key")
    // one catalog count serves the gates, the auto-nList rule and the
    // exact path's block sizing (xxhash64 ids are never null, so it is
    // also blockKnn's query count). It counts the physical rows in one
    // job; Dataset.count is a two-stage aggregate, two jobs under AQE.
    // annAbove = MaxValue is the documented force-exact opt-out and
    // overrides the HNSW tier too — a caller who pinned exactness must
    // never be silently re-escalated by a new default.
    val gated = annAbove != Long.MaxValue
    val n = embedded.queryExecution.toRdd.count()
    if (gated && n > annAbove && hnswAbove != Long.MaxValue && n > hnswAbove) {
      // the SHAPE probe: on the fully-UNTUNED escalation
      // path only — efSearch left at the default base (an explicit
      // base, wider or narrower, is a caller decision the gate never
      // overrides) and both auto-scale knobs on. A catalog this size
      // pays an index build, so one seeded 256-query rc pass is noise
      // against it: measure which column of the shape × engine recall
      // matrix this catalog is in, and raise the base beam to the
      // measured spread fix when rc says spread (clustered catalogs
      // keep the default unchanged — anchors ≈ 6.3 vs spread ≈ 1.5,
      // tier-stable). efAutoScale = false pins the raw knob for BOTH
      // laws (the ef-sensitivity artifacts are raw runs);
      // shapeAutoScale = false skips just the shape probe (and its
      // catalog pass) while keeping the size law. The DECISION is on
      // the lower quartile (a bimodal mixture's median snaps to a
      // mode; the quartile fires on any material spread share — see
      // ShapeStats.relativeContrastStats); the median rides along as
      // the published anchor statistic.
      val rcStats: Option[graft.knn.ShapeStats.RcStats] =
        if (shapeAutoScale && efAutoScale && efSearch == DefaultEfSearch)
          Some(graft.knn.ShapeStats.relativeContrastStats(withId, "id", "vec"))
        else None
      val base = rcStats.map(s => resolveShapeBase(s.q25, efSearch))
        .getOrElse(efSearch)
      // the beam-width law: the (possibly shape-raised) base is
      // calibrated at gate-tier scale; past EfHoldKeys the gate widens
      // it per the measured recall-decay trade so the UNTUNED default
      // holds build-level recall at any tier
      val ef = if (efAutoScale) autoEfSearch(base, n) else base
      // loud, named: the plan just changed ENGINE (exact → ANN) — see
      // the IVF branch's rationale
      log.warn(s"SemLinkGrid.gridKnn: catalog has $n keys > " +
        s"hnswAbove=$hnswAbove — escalating the grid kNN to the " +
        s"sharded HNSW tier (efSearch=$ef" +
        (if (base != efSearch) s"; base $efSearch raised to $base by the " +
          s"shape rule at measured rc q25=" +
          s"${rcStats.map(s => f"${s.q25}%.2f").get} (median " +
          s"${rcStats.map(s => f"${s.median}%.2f").get}) — " +
          "pass shapeAutoScale=false to skip the shape probe" else "") +
        (if (ef != base) s"; auto-scaled from base $base by the " +
          s"beam law at $n keys — pass efAutoScale=false to pin the raw " +
          "knob" else "") +
        "): N·log N beam work, no pair-row shuffle. Pass " +
        "annAbove=Long.MaxValue to force exact, hnswAbove=Long.MaxValue " +
        "for the IVF tier, or efSearch<=0 for full-beam " +
        "HNSW.")
      (graft.knn.ApproxKnn.hnswBlockKnn(withId, withId, "id", "vec", kMax,
        metric = KnnJoin.MetricL2Sq, efSearch = ef,
        queryBlockSize = blockSize, excludeSelf = true,
        scratchDir = scratchDir),
        keys, GridEngine("hnsw", ef, base, rcStats.map(_.median),
          rcStats.map(_.q25)))
    } else if (gated && n > annAbove) {
      val (lists, probe) = resolveIvfParams(n, nList, nProbe)
      // loud, named: the plan just changed ENGINE (exact → ANN). A
      // silent switch would let a recall regression masquerade as a
      // data problem; an operator reading the log sees the knob — and
      // since round 15 the engine ALSO rides on every metrics row.
      log.warn(s"SemLinkGrid.gridKnn: catalog has $n keys > " +
        s"annAbove=$annAbove — escalating the grid kNN from exact " +
        s"blocked self-kNN (O(N²·d)) to IVF (nList=$lists, " +
        s"nProbe=$probe). Pass annAbove=Long.MaxValue to force the " +
        "exact path, or nProbe<=0 for full-probe (rank-exact) IVF.")
      (graft.knn.ApproxKnn.ivfKnn(withId, withId, "id", "vec", kMax,
        nList = lists, nProbe = probe, metric = KnnJoin.MetricL2Sq,
        excludeSelf = true),
        keys, GridEngine("ivf", efSearch, efSearch,
          nList = Some(lists), nProbe = Some(probe)))
    } else
      (graft.knn.ApproxKnn.blockKnnCounted(withId, n, withId, "id", "vec",
        kMax, KnnJoin.MetricL2Sq, blockSize, excludeSelf = true),
        keys, GridEngine("exact", efSearch, efSearch))
  }

  /** The escalation's IVF sizing rule, isolated for direct spec pinning.
    * `nList <= 0` → nList = max(16, ⌈√n⌉) (each list holds ~√n vectors;
    * with constant nProbe the per-query work is O(nProbe·√n)).
    * `nProbe <= 0` → full probe (= resolved nList: exhaustive, exact);
    * a positive nProbe is clamped to the resolved nList.
    */
  private[graft] def resolveIvfParams(n: Long, nList: Int,
      nProbe: Int): (Int, Int) = {
    val lists =
      if (nList > 0) nList
      else graft.knn.ApproxKnn.autoNList(n)
    val probe = if (nProbe > 0) math.min(nProbe, lists) else lists
    (lists, probe)
  }

  /** The collected grid, one row per (k, threshold): (k, threshold, tp,
    * fp, fn, precision, recall, f1, ndcg, engine), as a driver-local frame.
    */
  def evaluationGrid(
      spark: SparkSession,
      dir: String,
      groundTruth: DataFrame,
      ks: Seq[Int] = Seq(5, 10, 25),
      thresholds: Seq[Double] = Seq(0.1, 0.2, 0.3, 0.4),
      embedder: Embedder = HashEmbedder(),
      tables: Seq[String] = Lake.lakeTables): DataFrame =
    collectedGrid(
      gridCells(spark, dir, groundTruth, ks, thresholds, embedder, tables))

  /** [[evaluationGrid]] over a pre-embedded (key, vec) catalog, as a
    * driver-local frame.
    * `annAbove` / `nList` / `nProbe` / `hnswAbove` / `efSearch`: the
    * [[gridKnn]] compute gates — a catalog past `annAbove` keys routes
    * the single kNN pass through an ANN engine instead of exact blocked
    * search (default [[DefaultAnnAbove]] = 10⁵ keys, logged loudly when
    * it fires and surfaced in the returned `engine` column;
    * `Long.MaxValue` forces exact at any size). The escalation engine is
    * the sharded HNSW tier past `hnswAbove` keys (default
    * [[DefaultHnswAbove]] — N·log N; `efSearch <= 0` means full beam,
    * exact; a positive `efSearch` is the beam at gate-tier scale,
    * widened past [[EfHoldKeys]] keys by the measured [[autoEfSearch]]
    * law unless `efAutoScale = false`) and IVF between the two
    * thresholds (`nList <= 0` sizes lists ∝ √N automatically;
    * `nProbe <= 0` means full probe, exact). `scratchDir`: where the
    * HNSW tier stages its scratch graphs — REQUIRED on a non-local
    * master (a shared-filesystem path: hdfs:/s3a:/...), because the
    * driver-local temp default is refused there (executors could not
    * read it — the [[graft.knn.ApproxKnn.hnswBlockKnn]] guard); on
    * local masters the default temp is correct and self-cleaning.
    */
  def evaluationGridFromCatalog(
      catalog: DataFrame,
      groundTruth: DataFrame,
      ks: Seq[Int],
      thresholds: Seq[Double],
      annAbove: Long = DefaultAnnAbove,
      nList: Int = 0,
      nProbe: Int = 16,
      hnswAbove: Long = DefaultHnswAbove,
      efSearch: Int = 64,
      efAutoScale: Boolean = true,
      shapeAutoScale: Boolean = true,
      scratchDir: Option[String] = None): DataFrame =
    collectedGrid(gridCellsFromCatalog(catalog, groundTruth, ks, thresholds,
      annAbove, nList, nProbe, hnswAbove, efSearch, efAutoScale,
      shapeAutoScale, scratchDir))

  /** Reference-parity export (join_discoverer.py:491–517): one CSV of
    * discovered joinable pairs per cell (`pairs_k<k>_t<t>`, JoinablePair
    * shape, sorted by distance) plus the grid summary as
    * `evaluation_results`. Single-file CSVs — these are evaluation
    * artifacts, metadata-sized by construction. Returns the grid frame.
    */
  def exportGrid(
      spark: SparkSession,
      dir: String,
      groundTruth: DataFrame,
      outDir: String,
      ks: Seq[Int] = Seq(5, 10, 25),
      thresholds: Seq[Double] = Seq(0.1, 0.2, 0.3, 0.4),
      embedder: Embedder = HashEmbedder(),
      tables: Seq[String] = Lake.lakeTables): DataFrame = {
    val cells = gridCells(spark, dir, groundTruth, ks, thresholds, embedder, tables)
    cells.foreach { cell =>
      val pairs = Discovery
        .toJoinablePairs(cell.discovered, "query", "candidate", "dist")
        .orderBy("distance_anns", "t1", "c1", "t2", "c2")
      graft.sources.Formats.csvSink(pairs,
        s"$outDir/pairs_k${cell.k}_t${cell.threshold}", singleFile = true)
    }
    val grid = collectedGrid(cells)
    graft.sources.Formats.csvSink(grid, s"$outDir/evaluation_results",
      singleFile = true)
    grid
  }
}
