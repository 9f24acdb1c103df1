package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up fixture generator: replicate the three added-scope tables of
  * a driver testdata dir (`documents`, `embeddings`, `events`) `copies`×
  * with DISTINCT content per copy, so a 10× run measures real corpus
  * growth rather than degenerate duplication:
  *
  *  - documents: ids offset far above the streaming entries' staging
  *    ranges (50M + k·5M); every 5th word of each copy gets a
  *    copy-unique salt suffix, so copies are NOT near-duplicates of the
  *    original (an exact 10× duplication would hand the dedup family a
  *    corpus where every doc has 9 true near-dups — a different problem
  *    than "10× more documents");
  *  - embeddings: ids offset by k·50M; per-component deterministic
  *    jitter (±0.05) keeps the distribution's shape without exact-dup
  *    vectors;
  *  - events: ids offset by k·100M, timestamps kept (10× denser windows
  *    — the realistic shape of more traffic over the same wall-clock).
  *
  * Usage: runMain graft.MakeScale <srcSfDir> <dstDir> [copies=10] [tables] [embMode]
  * The TPC-H relational tables are not replicated — the scale probe
  * targets the index/ingest/dedup operators, which read these three.
  * `tables` (comma list, default all three) restricts which tables are
  * written — a 500× embeddings-only tier need not pay a 500× document
  * salt pass it never reads.
  *
  * `embMode` (default "jitter") picks the embeddings copies' SHAPE:
  * "jitter" keeps the ±0.05 per-component perturbation — every copy
  * clusters tightly around its original, so the scaled catalog is
  * STRONGLY CLUSTERED (~2000 clusters of `copies` members each);
  * "spread" replaces copy components with deterministic uniform values
  * over the original ±0.37 range — no cluster structure at all;
  * "mixed" alternates the two per copy (odd copies jitter, even copies
  * spread) — half the catalog clustered, half structureless, the
  * INTERMEDIATE shape that places ShapeStats' rc gray zone (2 ≲ rc
  * ≲ 3) on the recall map. The jitter/spread extremes bracket real
  * catalogs: SCALE_r17_recall_200k_ivf measured the IVF tier's recall
  * as cluster-structure-DEPENDENT (1.0000 clustered vs 0.7614
  * spread-2k), so any recall claim at a tier needs the shape that
  * makes it hardest, not just the default.
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val knownTables = Set("documents", "embeddings", "events")
    val tables: Set[String] =
      if (args.length > 3) args(3).split(',').toSet
      else knownTables
    // fail LOUDLY on a typo'd table token — a silently skipped table
    // writes nothing while the echoed JSON records the run as intended
    // (the same silent-skip failure mode the probe-token check closes)
    val unknownTables = tables -- knownTables
    require(unknownTables.isEmpty,
      s"MakeScale: unknown table token(s) ${unknownTables.mkString(",")} — " +
        s"known: ${knownTables.toSeq.sorted.mkString(",")}")
    val embMode = if (args.length > 4) args(4) else "jitter"
    require(Set("jitter", "spread", "mixed")(embMode),
      s"MakeScale: embMode must be jitter|spread|mixed, got $embMode")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (tables("documents")) {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docCopies = (0 until copies).map { k =>
      if (k == 0) docs
      else {
        val salted = array_join(
          zip_with(
            split(coalesce(col("text"), lit("")), "\\s+"),
            sequence(lit(0), size(split(coalesce(col("text"), lit("")), "\\s+")) - 1),
            (w, i) => concat(w,
              when(i % 5 === 0,
                concat(lit(s" zq${k}w"),
                  pmod(xxhash64(col("doc_id") * 131 + i), lit(997))))
                .otherwise(lit("")))),
          " ")
        docs.withColumn("doc_id",
            col("doc_id") + lit(50000000L + k.toLong * 5000000L))
          .withColumn("text", salted)
      }
    }
    docCopies.reduce(_.unionByName(_))
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/documents.parquet")
    }

    if (tables("embeddings")) {
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    // ONE exploded copy axis instead of a `copies`-deep reduced union:
    // the left-deep Union chain's analysis cost is superlinear in copy
    // count (measured: a 2500-copy plan pinned the driver single-threaded
    // for >6 min before a single task ran), while this plan is constant-
    // size. The per-copy expressions are IDENTICAL — `k` moves from a
    // Scala literal into a column in the same xxhash64/pmod formulas, so
    // the generated rows are bit-equal to the union shape's.
    val k = col("__k")
    // "mixed": per-copy alternation — even copies structureless uniform,
    // odd copies jittered clusters; with copy 0 the original, the
    // catalog lands ~half clustered / ~half spread
    val spreadCopy = embMode match {
      case "spread" => k > 0
      case "mixed" => k > 0 && k % 2 === 0
      case _ => lit(false)
    }
    val kOffset = col("vec_id") + k * lit(50000000L)
    // no cluster structure: every copy component is a fresh deterministic
    // uniform draw over the original ±0.37 range — the hardest shape for
    // a cluster-pruned engine (see the embMode doc above)
    def spreadVec(id: org.apache.spark.sql.Column) =
      zip_with(col("embedding"),
        sequence(lit(0), size(col("embedding")) - 1),
        (_, i) => ((pmod(
            xxhash64(id * 131 + i + k * 17),
            lit(100000)).cast("double") / 100000.0 - 0.5) * 0.74)
          .cast("float"))
    def jitterVec(id: org.apache.spark.sql.Column) =
      zip_with(col("embedding"),
        sequence(lit(0), size(col("embedding")) - 1),
        (x, i) => (x +
          (pmod(xxhash64(id * 64 + i + k * 31), lit(1000))
            .cast("double") / 1000.0 - 0.5) * 0.1).cast("float"))
    emb
      .withColumn("__k", explode(sequence(lit(0L), lit(copies.toLong - 1))))
      .withColumn("embedding",
        when(k === 0, col("embedding"))
          .when(spreadCopy, spreadVec(kOffset))
          .otherwise(jitterVec(kOffset)))
      .withColumn("vec_id", kOffset)
      .drop("__k")
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/embeddings.parquet")
    }

    if (tables("events")) {
    val events = graft.sources.Lake.events(spark, src)
    val evCopies = (0 until copies).map { k =>
      if (k == 0) events
      else events.withColumn("event_id",
        col("event_id") + lit(k.toLong * 100000000L))
    }
    evCopies.reduce(_.unionByName(_))
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/events.parquet")
    }

    println(s"""{"made":"$dst","copies":$copies,"tables":"${tables.toSeq.sorted.mkString(",")}","embMode":"$embMode"}""")
    spark.stop()
  }
}

/** Per-query scale-linearity probe (the sf1 gate): run a query list at a
  * base dir and at a `MakeScale`d dir, report seconds and the growth
  * factor. With 10× data, a linear operator grows ≲ 10× (usually much
  * less — fixed micro-batch/driver overheads amortize); a hidden
  * quadratic grain grows ~100× and is unmissable.
  *
  * Besides the named `SparkEntry.queries`, the probe always measures the
  * flagship grid's MULTI-BLOCK kNN escalation directly: `blockKnn` over
  * the embeddings corpus with blockSize forced to ~n/8 (8 quantile-cut
  * blocks — the path a 10⁶-column catalog takes) vs the single-broadcast
  * collapse, asserting the two paths' result hashes are EQUAL on the
  * scaled corpus (the spec-level guarantee, re-checked at probe scale)
  * and reporting both paths' growth.
  *
  * Usage: runMain graft.ScaleProbe <smallDir> <bigDir> <outJson> [q,...] [probes]
  * `probes` (default "block,grid"): which built-in probes to run beside
  * the named queries — "block" (exact blockKnn, O(N²): affordable at
  * 10×, NOT at a 100× tier), "grid" (the forced IVF escalation, whose
  * auto-√N path is exactly what a 100× tier exists to measure),
  * "reshard" (HnswIndex.reshard over the full embeddings table),
  * "griddefault" (gridKnn with PURE defaults — records which engine
  * the DefaultAnnAbove/DefaultHnswAbove gates picked on each side),
  * "gridhnsw" (the forced HNSW escalation tier — the N·log N plan),
  * "drift" (HNSW recall curve across an append/vacuum/reshard mix),
  * "ivfpqdrift" (IVF-PQ ADC recall under drifting appends, with the
  * rebalance recovery stage), "gridrecall" (recall@10 of the untuned
  * default grid engine vs exact kNN on a sampled query subset — the
  * quality twin of griddefault's runtime rows), "shape" (seeded
  * relative contrast of each tier's embeddings —
  * [[graft.knn.ShapeStats]] — the statistic that says which column of
  * the shape × engine recall matrix applies), "indexshape" (the
  * PERSISTENT family's default path: an untuned [[graft.knn.HnswIndex]]
  * build shape-resolves its serving beam past ShapeProbeAbove — the
  * probe records what the index declared and the recall an untuned
  * search serves), "servecache" (cold and warm 16-query requests
  * against an untuned [[graft.knn.HnswIndex]]: image bytes read, CPU
  * and wall — the resident shard cache at the tier's scale),
  * "gridmerge" (the default grid at kMax 25, once per tier: wall, rows
  * and the largest task-result total of one job, against
  * spark.driver.maxResultSize), or "none".
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val small = args(0)
    val big = args(1)
    val outJson = args(2)
    val names: Seq[String] =
      if (args.length > 3 && args(3) == "none") Seq.empty
      else if (args.length > 3 && args(3).nonEmpty && args(3) != "-")
        args(3).split(',').toSeq
      else Seq("q41_ivf_index", "q58_ivfpq_index", "q59_stream_knn",
        "q73_semantic_perturbed", "q74_stream_dedup_ingest",
        "q75_corpus_prep", "q76_twolevel_ivf", "q82_bm25_index",
        "q84_hybrid_serving", "q85_stream_lex_ingest",
        "q91_stream_late_ingest", "q92_stream_dedup_late",
        "q95_stream_ann_ingest", "q96_stream_hnsw_late")
    val knownProbes = Set("block", "grid", "reshard", "griddefault",
      "gridhnsw", "drift", "ivfpqdrift", "gridrecall", "shape",
      "indexshape", "servecache", "gridmerge", "none")
    val probes: Set[String] =
      if (args.length > 4) args(4).split(',').toSet else Set("block", "grid")
    // fail LOUDLY on a typo'd probe token — a silently skipped probe
    // reads as "measured, nothing to report" in the committed artifact
    val unknown = probes -- knownProbes
    require(unknown.isEmpty,
      s"ScaleProbe: unknown probe token(s) ${unknown.mkString(",")} — " +
        s"known: ${knownProbes.toSeq.sorted.mkString(",")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // INFO exposes per-job DAGScheduler timings with callsites — the
    // cheap way to attribute a probe's wall-clock to build vs search
    // stages without changing what is measured
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "WARN"))

    def runOne(name: String, dir: String): Double = {
      val fn = SparkEntry.queries(name)
      // warm once (codegen/JIT), then best-of-2 measured — the probe
      // compares GROWTH, so the same protocol on both sides cancels
      // fixed costs consistently
      fn(spark, dir).count()
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }.min
    }

    val rows = names.map { n =>
      val s = runOne(n, small)
      val b = runOne(n, big)
      (n, s, b, b / s)
    }

    // Flagship multi-block escalation, measured directly: blockKnn with
    // 8 forced quantile-cut blocks vs the one-broadcast collapse. The
    // unordered result hash (bit_xor of per-row xxhash64 over ids +
    // rank + 6-dp dist — order-independent, cannot overflow under ANSI
    // arithmetic the way a sum of full-range longs does) must MATCH
    // between the two paths — both are exact kNN.
    def blockProbe(dir: String): (Double, Double, Long, Long) = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val n = emb.count()
      val multiBlock = math.max(1L, n / 8).toInt
      def run(blockSize: Int): (Double, Long) = {
        def once(): Long = graft.knn.ApproxKnn
          .blockKnn(emb, emb, "vec_id", "embedding", k = 10,
            blockSize = blockSize)
          .select(xxhash64(col("query_id"), col("neighbor_id"),
            col("rank"), round(col("dist"), 6)).as("rh"))
          .agg(expr("bit_xor(rh)").as("h"))
          .collect()(0).getLong(0)
        once() // warm
        val timed = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          val h = once()
          ((System.nanoTime() - t0) / 1e9, h)
        }
        (timed.map(_._1).min, timed.head._2)
      }
      val (tMulti, hMulti) = run(multiBlock)
      val (tSingle, hSingle) = run(Int.MaxValue)
      (tMulti, tSingle, hMulti, hSingle)
    }
    val blockRows = if (!probes("block")) Seq.empty else {
      val (smM, smS, smHm, smHs) = blockProbe(small)
      val (bgM, bgS, bgHm, bgHs) = blockProbe(big)
      require(smHm == smHs && bgHm == bgHs,
        s"blockKnn multi-block hash diverged from single-block: " +
          s"small $smHm/$smHs big $bgHm/$bgHs")
      Seq(
        f""""blockknn_multi8":{"small_s":$smM%.3f,"big_s":$bgM%.3f,"growth":${bgM / smM}%.2f}""",
        f""""blockknn_single":{"small_s":$smS%.3f,"big_s":$bgS%.3f,"growth":${bgS / smS}%.2f}""")
    }

    // The flagship grid's ANN escalation (gridKnn annAbove → ivfKnn):
    // the path a catalog too large for exact O(N²) self-kNN takes —
    // cluster-pruned candidate work should grow FAR slower than the
    // exact pair count's 100× at 10× data.
    def gridAnnProbe(dir: String, nList: Option[Int]): Double = {
      val cat = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("key"),
          col("embedding").as("vec"))
      // hnswAbove pinned to MaxValue: these rows measure the IVF tier
      // specifically (since r15 the untuned default above DefaultHnswAbove
      // routes to HNSW — the griddefault/gridhnsw rows cover that)
      def once(): Unit = nList match {
        // None = the DEFAULT nList (the auto √N sentinel since r13) —
        // what an untuned escalation caller actually runs
        case None => graft.pipeline.SemLinkGrid
          .gridKnn(cat, 10, annAbove = 1, nProbe = 8,
            hnswAbove = Long.MaxValue).count(); ()
        case Some(nl) => graft.pipeline.SemLinkGrid
          .gridKnn(cat, 10, annAbove = 1, nList = nl, nProbe = 8,
            hnswAbove = Long.MaxValue).count(); ()
      }
      once() // warm
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        once()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    val gridRows = if (!probes("grid")) Seq.empty else {
      // the default path: auto (√N) sizing — nList grows with the
      // catalog, so per-query candidate work is O(nProbe·√N)
      val smG = gridAnnProbe(small, None)
      val bgG = gridAnnProbe(big, None)
      // the old fixed-64 sizing, kept as the comparison row: constant
      // probed fraction → per-query work stays O(N)
      val smGf = gridAnnProbe(small, Some(64))
      val bgGf = gridAnnProbe(big, Some(64))
      Seq(
        f""""gridknn_ivf":{"small_s":$smG%.3f,"big_s":$bgG%.3f,"growth":${bgG / smG}%.2f}""",
        f""""gridknn_ivf_fixed64":{"small_s":$smGf%.3f,"big_s":$bgGf%.3f,"growth":${bgGf / smGf}%.2f}""")
    }

    // HnswIndex.reshard over the FULL embeddings table (q97's oracle
    // pins correctness on a fixed 400-vector corpus, so its bench row
    // cannot speak to scale): reshard rebuilds every live node into the
    // new shard layout — the honest growth model is O(N·log N) graph
    // re-insertion, partition-parallel across the new shards.
    def reshardProbe(dir: String): (Double, Long) = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val idx = graft.util.TempDirs.register(
        s"/tmp/graft_scaleprobe_reshard_${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      graft.knn.HnswIndex.build(emb, "vec_id", "embedding", idx, shards = 8)
      val t0 = System.nanoTime()
      val moved = graft.knn.HnswIndex.reshard(spark, idx, newShards = 5)
      ((System.nanoTime() - t0) / 1e9, moved)
    }
    val reshardRows = if (!probes("reshard")) Seq.empty else {
      val (smR, smN) = reshardProbe(small)
      val (bgR, bgN) = reshardProbe(big)
      Seq(
        f""""hnsw_reshard":{"small_s":$smR%.3f,"big_s":$bgR%.3f,"growth":${bgR / smR}%.2f,"small_nodes":$smN,"big_nodes":$bgN}""")
    }

    // The DEFAULT grid path (no annAbove/nList/nProbe overrides): what
    // an untuned evaluationGridFromCatalog caller actually runs. Below
    // DefaultAnnAbove (1e5 keys) this is exact blocked self-kNN; above
    // it the gate escalates to auto-√N IVF — the probe records which
    // engine each side used, so the committed artifact shows the gate
    // firing at scale rather than asserting it.
    def gridDefaultProbe(dir: String)
        : (Double, Long, graft.pipeline.SemLinkGrid.GridEngine) = {
      val cat = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("key"),
          col("embedding").as("vec"))
      val n = cat.count()
      // gridKnnWithEngine surfaces the engine, effective beam, shape
      // decision and resolved IVF knobs the gate ACTUALLY picked —
      // re-deriving them here from the thresholds/beam law would record
      // what the gate SHOULD pick, and a future gate change could
      // silently desynchronize artifact and plan
      def once(): graft.pipeline.SemLinkGrid.GridEngine = {
        val (df, eng) = graft.pipeline.SemLinkGrid
          .gridKnnWithEngine(cat, 10)
        df.count()
        eng
      }
      val eng = once() // warm
      val t = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        once()
        (System.nanoTime() - t0) / 1e9
      }.min
      (t, n, eng)
    }
    val gridDefaultRows = if (!probes("griddefault")) Seq.empty else {
      val (smT, smN, smE) = gridDefaultProbe(small)
      val (bgT, bgN, bgE) = gridDefaultProbe(big)
      def rcS(e: graft.pipeline.SemLinkGrid.GridEngine): String =
        e.rc.map(v => f"$v%.4f").getOrElse("null")
      def rcQ(e: graft.pipeline.SemLinkGrid.GridEngine): String =
        e.rcQ25.map(v => f"$v%.4f").getOrElse("null")
      Seq(
        f""""gridknn_default":{"small_s":$smT%.3f,"big_s":$bgT%.3f,"growth":${bgT / smT}%.2f,"small_n":$smN,"big_n":$bgN,"small_escalated":${smE.engine != "exact"},"big_escalated":${bgE.engine != "exact"},"small_engine":"${smE.engine}","big_engine":"${bgE.engine}","small_ef":${smE.efUsed},"big_ef":${bgE.efUsed},"small_base_ef":${smE.baseEf},"big_base_ef":${bgE.baseEf},"small_rc":${rcS(smE)},"big_rc":${rcS(bgE)},"small_rc_q25":${rcQ(smE)},"big_rc_q25":${rcQ(bgE)}}""")
    }

    // The HNSW escalation tier, measured directly (forced via
    // hnswAbove=1, default efSearch): the N·log N plan the untuned
    // default takes past DefaultHnswAbove keys — comparable side by
    // side with gridknn_ivf on the same catalogs. Also records recall
    // vs the exact top-k ON THE SMALL SIDE only (exact kNN at the big
    // tier is the O(N²) cost this tier exists to avoid).
    def gridHnswProbe(dir: String): (Double, Int) = {
      val cat = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("key"),
          col("embedding").as("vec"))
      // forced graph tier runs under the beam law like the untuned
      // default would — and the row RECORDS the effective beam, so a
      // >HoldKeys-tier timing can never be silently compared against a
      // raw-beam artifact (the gridknn_default/gridknn_recall rule)
      def once(): Int = {
        val (df, eng) = graft.pipeline.SemLinkGrid
          .gridKnnWithEngine(cat, 10, annAbove = 1, hnswAbove = 1)
        df.count()
        eng.efUsed
      }
      val ef = once() // warm
      val t = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        once()
        (System.nanoTime() - t0) / 1e9
      }.min
      (t, ef)
    }
    val gridHnswRows = if (!probes("gridhnsw")) Seq.empty else {
      val (smG, smEf) = gridHnswProbe(small)
      val (bgG, bgEf) = gridHnswProbe(big)
      Seq(
        f""""gridknn_hnsw":{"small_s":$smG%.3f,"big_s":$bgG%.3f,"growth":${bgG / smG}%.2f,"small_ef":$smEf,"big_ef":$bgEf}""")
    }

    // HNSW quality drift under an operational mix at probe scale: build
    // over ~70% of the corpus, then append / vacuum / append / reshard /
    // append, measuring recall@10 vs brute force (ef 32 and 128) after
    // every stage — the scale companion of the HnswIndexSpec drift
    // floor (recall is a GRAPH property; membership oracles cannot see
    // a quality regression).
    def driftProbe(dir: String): Seq[(String, Double, Double)] = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val bucket = pmod(xxhash64(col("vec_id")), lit(10))
      val base = emb.filter(bucket < 7)
      val b1 = emb.filter(bucket === 7)
      val b2 = emb.filter(bucket === 8)
      val b3 = emb.filter(bucket === 9)
      val queries = emb.filter(col("vec_id") < 50) // copy-0 ids survive scaling
      val idx = graft.util.TempDirs.register(
        s"/tmp/graft_scaleprobe_drift_${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      // the ONE shared harness (graft.knn.HnswDrift) — identical mix to
      // the HnswIndexSpec floor, so probe and spec cannot drift apart
      graft.knn.HnswDrift.runMix(spark, idx,
          base, b1, b2, b3, queries, "vec_id", "embedding",
          shards = 8, reshardTo = 5, efs = Seq(32, 128))
        .map { case (stage, r) => (stage, r(32), r(128)) }
    }
    val driftRows = if (!probes("drift")) Seq.empty else {
      def fmt(rows: Seq[(String, Double, Double)]): String =
        rows.map { case (st, r32, r128) =>
          f""""$st":{"ef32":$r32%.4f,"ef128":$r128%.4f}"""
        }.mkString("{", ",", "}")
      val sm = driftProbe(small)
      val bg = driftProbe(big)
      val floor = 0.8
      val within = (sm ++ bg).forall(_._3 >= floor)
      Seq(s""""hnsw_drift":{"small":${fmt(sm)},"big":${fmt(bg)},"floor_ef128":$floor,"all_within_floor":$within}""")
    }

    // RECALL of the DEFAULT grid engine at each tier, measured on a
    // sampled query subset against exact kNN — the quality companion of
    // gridknn_default (whose committed rows prove RUNTIME; recall at the
    // tiers where the HNSW gate actually fires was the one claim still
    // extrapolated from small-tier drift floors). The probe runs the
    // full untuned gridKnnWithEngine ONCE — the measured rows are the
    // default path's own output, not a re-implementation — then filters
    // to ~500 deterministically-sampled queries and scores them against
    // brute-force truth via the ONE RecallEval the drift harnesses use.
    // GRAFT_GRIDRECALL_EF overrides the HNSW tier's beam width (0 = the
    // untuned default, which is what the committed default-gate claim is
    // about; an explicit override is a RAW sensitivity run — the beam
    // law is disabled so the artifact measures exactly the knob it
    // names); the JSON records the EFFECTIVE beam the gate ran, so an
    // ef-sensitivity artifact cannot masquerade as the default-path
    // number and a default-path artifact shows what the law resolved to
    val gridRecallEf = sys.env.getOrElse("GRAFT_GRIDRECALL_EF", "0").toInt
    // GRAFT_GRIDRECALL_ENGINE=ivf forces the EXPLICIT middle tier
    // (annAbove=1, hnswAbove=MaxValue, default auto-nList/nProbe=16) —
    // the grid's IVF choice has measured RUNTIME rows (gridknn_ivf) but
    // its recall at tier scale is otherwise uncited, and its default
    // probed FRACTION (nProbe/√N) shrinks with N: the same decay class
    // the HNSW beam law closes. "default" = whatever the untuned gate
    // picks (the committed default-path claims).
    val gridRecallEngine =
      sys.env.getOrElse("GRAFT_GRIDRECALL_ENGINE", "default")
    require(Set("default", "ivf")(gridRecallEngine),
      s"GRAFT_GRIDRECALL_ENGINE must be default|ivf, got $gridRecallEngine")
    // the ef override has no meaning on the IVF tier — accepting the
    // combination would stamp default_ef:false on a run that silently
    // ignored the override, the exact artifact-masquerade the recorded
    // ef exists to prevent
    require(gridRecallEngine == "default" || gridRecallEf <= 0,
      "GRAFT_GRIDRECALL_EF is ignored in ivf mode — unset it")
    def gridRecallProbe(dir: String)
        : (Long, Long, Double, graft.pipeline.SemLinkGrid.GridEngine) = {
      import spark.implicits._
      val cat = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("key"),
          col("embedding").as("vec"))
      val (knnDf, eng) =
        if (gridRecallEngine == "ivf") graft.pipeline.SemLinkGrid
          .gridKnnWithEngine(cat, 10, annAbove = 1,
            hnswAbove = Long.MaxValue)
        else if (gridRecallEf > 0) graft.pipeline.SemLinkGrid
          .gridKnnWithEngine(cat, 10, efSearch = gridRecallEf,
            efAutoScale = false)
        else graft.pipeline.SemLinkGrid.gridKnnWithEngine(cat, 10)
      // the grid's own id space (xxhash64 of the string key) — truth and
      // approx compare as longs, the same rule gridKnnIds hashes by
      val withId = cat.select(xxhash64(col("key").cast("string")).as("id"),
        col("vec").cast("array<float>").as("vec"))
      val n = withId.count()
      val step = math.max(1L, n / 500L)
      // seeded id-hash sample: uniform across the catalog, deterministic
      // across runs; pinned so the approx filter and the truth side see
      // the same queries
      val sample = withId
        .filter(pmod(xxhash64(col("id"), lit(17)), lit(step)) === 0)
        .localCheckpoint()
      val nQ = sample.count()
      val approx = knnDf.select(
          xxhash64(col("query_id").cast("string")).as("query_id"),
          xxhash64(col("neighbor_id").cast("string")).as("neighbor_id"))
        .join(broadcast(sample.select(col("id").as("query_id"))), "query_id")
      val r = graft.knn.RecallEval.recallVsExact(
        approx, sample, withId, "id", "vec", 10)
      (n, nQ, r, eng)
    }
    val gridRecallRows = if (!probes("gridrecall")) Seq.empty else {
      val (smN, smQ, smR, smE) = gridRecallProbe(small)
      val (bgN, bgQ, bgR, bgE) = gridRecallProbe(big)
      // the drift-mix floor (ScaleProbe `drift` / HnswIndexSpec): the
      // wide-beam recall every operational stage must clear. The small
      // side's exact engine must score ~1.0 by construction — a probe
      // self-check, not a claim
      val floor = 0.8
      require(smE.engine != "exact" || smR > 0.999,
        s"gridrecall: exact engine scored $smR against brute force — " +
          "the probe's truth side is broken")
      // beam fields are HNSW-tier knobs: in ivf mode the raw ef passes
      // through an inert knob, and recording it would let an IVF
      // artifact masquerade as an ef-64 HNSW run (the exact confusion
      // the recorded-ef design exists to prevent) — record the RESOLVED
      // IVF knobs the run actually used (from the gate itself, not
      // re-stated defaults — resolveIvfParams' auto-sizing and clamps
      // applied). HNSW rows also record the base the law scaled and the
      // measured rc when the shape probe ran, so a shape-raised default
      // run is distinguishable from a caller-set base.
      def engFields(e: graft.pipeline.SemLinkGrid.GridEngine): String =
        if (gridRecallEngine == "ivf")
          s""""ef":null,"nprobe":${e.nProbe.map(_.toString).getOrElse("null")},"nlist":${e.nList.map(_.toString).getOrElse("null")}"""
        else s""""ef":${e.efUsed},"base_ef":${e.baseEf},"rc":${e.rc.map(v => f"$v%.4f").getOrElse("null")},"rc_q25":${e.rcQ25.map(v => f"$v%.4f").getOrElse("null")}"""
      val defaultEfField =
        if (gridRecallEngine == "ivf") "null" else s"${gridRecallEf <= 0}"
      Seq(
        f""""gridknn_recall":{"mode":"$gridRecallEngine","default_ef":$defaultEfField,"small":{"n":$smN,"n_queries":$smQ,"engine":"${smE.engine}",${engFields(smE)},"recall_at_10":$smR%.4f},"big":{"n":$bgN,"n_queries":$bgQ,"engine":"${bgE.engine}",${engFields(bgE)},"recall_at_10":$bgR%.4f},"floor":$floor,"within_floor":${smR >= floor && bgR >= floor}}""")
    }

    // PERSISTENT-index twin of gridknn_recall: the r19 shape-resolved
    // serving beam on the DEFAULT HnswIndex.build path, end to end —
    // build with NO efSearch knob (the probe threshold is the real
    // ShapeProbeAbove, so only catalogs past 10⁵ nodes pay the shape
    // pass), then read back what the index declared for itself
    // (staleness: base_ef / rc_q25 / shape) and measure the recall an
    // UNTUNED search actually serves, against brute-force truth on the
    // same ~500-query deterministic sample gridrecall uses. This is the
    // artifact that proves the persistent family's default path lands
    // in the measured recall column its shape probe selected.
    def indexShapeProbe(dir: String)
        : (Long, Long, Double, Int, Int, String, String, Int) = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").cast("long").as("id"),
          col("embedding").cast("array<float>").as("vec"))
      val idx = graft.util.TempDirs.register(
        s"/tmp/graft_scaleprobe_idxshape_${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      // PURE defaults — auto shard sizing AND the shape-resolved beam
      // are exactly what this probe exists to measure
      graft.knn.HnswIndex.build(emb, "id", "vec", idx)
      val st = graft.knn.HnswIndex.staleness(spark, idx).collect()(0)
      val n = emb.count()
      val step = math.max(1L, n / 500L)
      val sample = emb
        .filter(pmod(xxhash64(col("id"), lit(17)), lit(step)) === 0)
        .localCheckpoint()
      val nQ = sample.count()
      val approx = graft.knn.HnswIndex.search(spark, idx, sample,
        "id", "vec", k = 10)
      val r = graft.knn.RecallEval.recallVsExact(approx, sample, emb,
        "id", "vec", 10)
      val rcQ25 = if (st.isNullAt(9)) "null" else f"${st.getDouble(9)}%.4f"
      val shape = if (st.isNullAt(10)) "null" else s""""${st.getString(10)}""""
      (n, nQ, r, st.getInt(5), st.getInt(6), rcQ25, shape, st.getInt(1))
    }
    val indexShapeRows = if (!probes("indexshape")) Seq.empty else {
      val (smN, smQ, smR, smB, smE, smRc, smSh, smShards) =
        indexShapeProbe(small)
      val (bgN, bgQ, bgR, bgB, bgE, bgRc, bgSh, bgShards) =
        indexShapeProbe(big)
      val floor = 0.8
      Seq(
        f""""hnsw_index_shape":{"small":{"n":$smN,"n_queries":$smQ,"shards":$smShards,"base_ef":$smB,"effective_ef":$smE,"rc_q25":$smRc,"shape":$smSh,"recall_at_10":$smR%.4f},"big":{"n":$bgN,"n_queries":$bgQ,"shards":$bgShards,"base_ef":$bgB,"effective_ef":$bgE,"rc_q25":$bgRc,"shape":$bgSh,"recall_at_10":$bgR%.4f},"floor":$floor,"within_floor":${smR >= floor && bgR >= floor}}""")
    }

    // The resident shard cache (graft.knn.ResidentShards) at serving
    // scale: an untuned HnswIndex over the tier's embeddings, then 16-query
    // requests against it — cold (the index's graphs not resident), warm
    // (right after), and the pair again after evicting the graphs, which
    // repeats cold on a JIT-warm JVM. Per request: the image bytes the
    // shard tasks read, the CPU of every JVM thread and the wall.
    def serveCacheProbe(dir: String): String = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").cast("long").as("id"),
          col("embedding").cast("array<float>").as("vec"))
      val idx = graft.util.TempDirs.register(
        s"/tmp/graft_scaleprobe_servecache_${ProcessHandle.current().pid()}")
      val path = new org.apache.hadoop.fs.Path(idx)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(path, true)
      val tb = System.nanoTime()
      graft.knn.HnswIndex.build(emb, "id", "vec", idx)
      val buildS = (System.nanoTime() - tb) / 1e9
      val n = emb.count()
      val queries = emb
        .filter(pmod(xxhash64(col("id"), lit(29)), lit(math.max(1L, n / 64))) === 0)
        .orderBy("id").limit(16).localCheckpoint()
      val (_, shardGens, _) = graft.knn.HnswIndex.readManifest(spark, idx)
      val imageBytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(s"$idx/nodes")).getLength
      val resident = graft.knn.HnswIndex.resident
      val mx = java.lang.management.ManagementFactory.getThreadMXBean
      def cpuNs(): Long = mx.getAllThreadIds.map(mx.getThreadCpuTime).filter(_ > 0).sum
      def request(): String = {
        val (b0, c0, t0) = (resident.imageBytesRead, cpuNs(), System.nanoTime())
        val rows = graft.knn.HnswIndex.search(spark, idx, queries, "id", "vec", k = 10)
          .collect().length
        val (b1, c1, t1) = (resident.imageBytesRead, cpuNs(), System.nanoTime())
        require(rows == 16 * 10, s"servecache: $rows rows for 16 queries")
        f"""{"image_bytes_read":${b1 - b0},"cpu_ms":${(c1 - c0) / 1e6}%.1f,"wall_ms":${(t1 - t0) / 1e6}%.1f}"""
      }
      val cold = request()
      val warm = request()
      resident.evict(fs.makeQualified(path).toString)
      val recold = request()
      val rewarm = request()
      val out = f"""{"n":$n,"shards":${shardGens.size},"build_s":$buildS%.1f,"image_bytes":$imageBytes,"resident_bytes":${resident.residentBytes},"bound_bytes":${resident.boundBytes},"cold":$cold,"warm":$warm,"cold_after_evict":$recold,"warm_after_evict":$rewarm}"""
      fs.delete(path, true)
      resident.evict(fs.makeQualified(path).toString)
      out
    }
    val serveCacheRows = if (!probes("servecache")) Seq.empty else
      Seq(s""""hnsw_serve_cache":{"small":${serveCacheProbe(small)},"big":${serveCacheProbe(big)}}""")

    // The default grid at the flagship's kMax (25, of ks 5/10/25), run
    // once per tier: past DefaultHnswAbove keys hnswBlockKnn answers
    // 100,000-query blocks against 32 shards, whose per-block partials
    // (32 · 10^5 · 25 entries, about 1.9 GB) must merge in the window,
    // not on the driver, under the default spark.driver.maxResultSize.
    // Records the wall, the rows (every key has kMax neighbours) and the
    // largest total of task results any one job sent the driver — the
    // figure spark.driver.maxResultSize bounds.
    def gridMergeProbe(dir: String): String = {
      val cat = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").cast("string").as("key"),
          col("embedding").as("vec"))
      val n = cat.count()
      val kMax = 25
      val jobOf = new java.util.concurrent.ConcurrentHashMap[Int, Int]
      val resultBytes = new java.util.concurrent.ConcurrentHashMap[Int, Long]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          e.stageIds.foreach(st => jobOf.put(st, e.jobId))
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            resultBytes.merge(jobOf.getOrDefault(e.stageId, -1),
              e.taskMetrics.resultSize, (a: Long, b: Long) => a + b)
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val (core, _, eng) = graft.pipeline.SemLinkGrid.gridKnnIds(cat, kMax)
      val rows = core.count()
      val wallS = (System.nanoTime() - t0) / 1e9
      org.apache.spark.SparkInternals.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      val maxJobResult = resultBytes.values.toArray
        .foldLeft(0L)((m, b) => math.max(m, b.asInstanceOf[Long]))
      val maxResultSize = spark.sparkContext.getConf
        .getSizeAsBytes("spark.driver.maxResultSize", "1g")
      f"""{"n":$n,"k_max":$kMax,"engine":"${eng.engine}","ef":${eng.efUsed},"wall_s":$wallS%.1f,"rows":$rows,"rows_expected":${n * kMax},"max_job_result_bytes":$maxJobResult,"max_result_size":$maxResultSize}"""
    }
    val gridMergeRows = if (!probes("gridmerge")) Seq.empty else
      Seq(s""""gridknn_merge":{"small":${gridMergeProbe(small)},"big":${gridMergeProbe(big)}}""")

    // IVF-PQ ADC recall under DRIFTING appends (the PQ family's named
    // LIMIT in COVERAGE.md — "ADC error under drift; the answer is
    // rebuild cadence"): centroids and codebooks train on the base
    // distribution at build; two appended batches arrive component-
    // shifted (+0.3 / +0.6 against a ±0.37 component range — a cluster
    // displaced diagonally out of the training distribution), then the
    // two candidate recovery stages run: rebalance (retrains centroids,
    // re-codes residuals, KEEPS the build-time codebooks — measured to
    // be a list-skew fix, NOT an ADC recovery; see IvfPqDrift's doc) and
    // rebuild (retrains both — the actual answer, hence "rebuild
    // cadence"). Recall@10 vs brute force at every stage, via the one
    // graft.knn.IvfPqDrift harness the spec floor also drives.
    // Two distinct failure regimes, both measured (10× tier, r16): at
    // PARTIAL probe (p16 of 32 lists) the dominant drift failure is the
    // COARSE quantizer — drifted clusters have no centroids near them,
    // probes miss entirely (big tier p16: 0.65 build → 0.22 drifted) and
    // REBALANCE recovers it (→ 0.72, fresh centroids over the drifted
    // corpus); at FULL probe (p32) coarse misses vanish and what remains
    // is pure CODEBOOK error, which rebalance cannot fix (it keeps the
    // build-time codebooks) — only rebuild does. The committed floor
    // gates the full-probe rebuild number: the rebuild-cadence claim.
    def ivfPqDriftProbe(dir: String)
        : Seq[(String, Double, Double, Double, Option[Double], Option[Double],
          Option[Double], Option[Boolean])] = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val bucket = pmod(xxhash64(col("vec_id")), lit(10))
      def shifted(df: org.apache.spark.sql.DataFrame, delta: Double) =
        df.withColumn("embedding",
          transform(col("embedding"), x => (x + lit(delta)).cast("float")))
      val base = emb.filter(bucket < 8)
      val b1 = shifted(emb.filter(bucket === 8), 0.3)
      val b2 = shifted(emb.filter(bucket === 9), 0.6)
      // fixed query set spanning both regimes: copy-0 base ids (survive
      // MakeScale) plus a deterministic slice of the MOST-drifted batch —
      // the queries whose true neighbors are exactly the badly-quantized
      // vectors
      val queries = base.filter(col("vec_id") < 30)
        .unionByName(b2.filter(pmod(col("vec_id"), lit(13)) === 0))
      val idx = graft.util.TempDirs.register(
        s"/tmp/graft_scaleprobe_ivfpqdrift_${ProcessHandle.current().pid()}")
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      // the LIVE staleness signal (IvfIndex.staleness, operator defaults:
      // no ground truth, no harness) read beside every stage's measured
      // recall — the committed correlation that pins the displacement
      // alarm threshold (a number, not a trend-reading exercise). Since
      // r19 the anchor is PERSISTED at build, so the probe also records
      // the ratio/alarm columns staleness now derives from index state
      // alone — confirming the persisted-anchor path reproduces the
      // r18 operator-kept brackets.
      val stale = scala.collection.mutable.LinkedHashMap
        .empty[String, (Option[Double], Option[Double], Option[Double],
          Option[Boolean])]
      val mix = graft.knn.IvfPqDrift.runMix(spark, idx,
          base, b1, b2, queries, "vec_id", "embedding",
          nList = 32, pqM = 8, nProbes = Seq(4, 16, 32),
          onStage = { st =>
            val row = graft.knn.IvfIndex.staleness(spark, idx).collect()(0)
            stale += st -> (
              (if (row.isNullAt(2)) None else Some(row.getDouble(2))),
              (if (row.isNullAt(3)) None else Some(row.getDouble(3))),
              (if (row.isNullAt(5)) None else Some(row.getDouble(5))),
              (if (row.isNullAt(6)) None else Some(row.getBoolean(6))))
          })
      mix.map { case (stage, r) =>
        val (frac, disp, ratio, due) = stale(stage)
        (stage, r(4), r(16), r(32), frac, disp, ratio, due)
      }
    }
    val ivfPqDriftRows = if (!probes("ivfpqdrift")) Seq.empty else {
      def fmt(rows: Seq[(String, Double, Double, Double,
          Option[Double], Option[Double], Option[Double],
          Option[Boolean])]): String =
        rows.map { case (st, r4, r16, r32, frac, disp, ratio, due) =>
          val fracS = frac.map(v => f"$v%.4f").getOrElse("null")
          val dispS = disp.map(v => f"$v%.4f").getOrElse("null")
          val ratioS = ratio.map(v => f"$v%.4f").getOrElse("null")
          val dueS = due.map(_.toString).getOrElse("null")
          f""""$st":{"p4":$r4%.4f,"p16":$r16%.4f,"p32":$r32%.4f,"frac_appended":$fracS,"adc_displacement":$dispS,"displacement_ratio":$ratioS,"rebuild_due":$dueS}"""
        }.mkString("{", ",", "}")
      val sm = ivfPqDriftProbe(small)
      val bg = ivfPqDriftProbe(big)
      // the recovery gate is RELATIVE: after the full rebuild the full
      // probe (p32 = nList — no coarse misses, pure codebook quality)
      // must be back at the BUILD-TIME level on both tiers. An absolute
      // floor would encode a density assumption — the big tier's
      // no-drift build-time p32 is 0.687 (20k corpus: true-neighbor
      // gaps shrink toward the ADC error scale), and rebuild restores
      // (slightly exceeds) it because centroids AND codebooks retrain
      // over the full drifted corpus. The rebuild-cadence claim is
      // exactly this restoration, not a fixed number.
      def p32(rows: Seq[(String, Double, Double, Double,
          Option[Double], Option[Double], Option[Double],
          Option[Boolean])], st: String) =
        rows.find(_._1 == st).get._4
      val tol = 0.02
      val recovered = Seq(sm, bg).forall(r =>
        p32(r, "rebuild") >= p32(r, "build") - tol)
      Seq(s""""ivfpq_drift":{"small":${fmt(sm)},"big":${fmt(bg)},"gate":"rebuild_p32 >= build_p32 - $tol","rebuild_restores_build_level":$recovered}""")
    }

    // Catalog-shape diagnostic: seeded relative contrast of each tier's
    // embeddings (graft.knn.ShapeStats) — the anchors the operating
    // rule cites (clustered well above 2, spread near 1), committed so
    // the rc thresholds in the doc are measured numbers, not folklore
    val shapeRows = if (!probes("shape")) Seq.empty else {
      def rc(dir: String): graft.knn.ShapeStats.RcStats =
        graft.knn.ShapeStats.relativeContrastStats(
          spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id",
          "embedding")
      val (s, b) = (rc(small), rc(big))
      Seq(f""""shape_contrast":{"small_rc":${s.median}%.4f,"small_rc_q25":${s.q25}%.4f,"big_rc":${b.median}%.4f,"big_rc_q25":${b.q25}%.4f}""")
    }

    // null, not false, when the block probe was skipped — false would
    // read as "the hashes DIVERGED"
    val blockHash = if (probes("block")) "true" else "null"
    val json = (rows.map { case (n, s, b, g) =>
      f""""$n":{"small_s":$s%.3f,"big_s":$b%.3f,"growth":$g%.2f}"""
    } ++ blockRows ++ gridRows ++ reshardRows ++ gridDefaultRows ++
      gridHnswRows ++ gridRecallRows ++ indexShapeRows ++ driftRows ++
      ivfPqDriftRows ++ shapeRows ++ serveCacheRows ++ gridMergeRows).mkString(
      s"""{"small":"$small","big":"$big","block_hash_equal":$blockHash,"queries":{""",
      ",", "}}")
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json + "\n")
    spark.stop()
  }
}
