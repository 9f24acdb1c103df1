package graft

import org.apache.spark.sql.functions._

import graft.pipeline.SemLinkGrid
import graft.profile.Sampling

class SemLinkGridSpec extends SparkSpec {
  import spark.implicits._

  private lazy val gt = Seq(
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"))
    .toDF("query_table", "query_column", "candidate_table", "candidate_column")

  test("evaluation grid: one row per (k,t), metrics in range, monotone recall in t") {
    val grid = SemLinkGrid.evaluationGrid(spark, sf0001, gt,
      ks = Seq(5, 10), thresholds = Seq(0.8, 1.1, 1.4)).cache()
    assert(grid.count() == 6)
    val rows = grid.collect()
    rows.foreach { r =>
      val (p, rec, f1, ndcg) = (r.getAs[Double]("precision"),
        r.getAs[Double]("recall"), r.getAs[Double]("f1"), r.getAs[Double]("ndcg"))
      assert(p >= 0 && p <= 1 && rec >= 0 && rec <= 1)
      assert(f1 >= 0 && f1 <= 1 && ndcg >= 0 && ndcg <= 1)
    }
    // recall can only grow as the threshold loosens (same k)
    val rec5 = rows.filter(_.getAs[Int]("k") == 5)
      .sortBy(_.getAs[Double]("threshold")).map(_.getAs[Double]("recall"))
    assert(rec5.sliding(2).forall(w => w(0) <= w(1) + 1e-9))
    // the pipeline actually finds true pairs at a sane operating point
    assert(rows.filter(r => r.getAs[Int]("k") == 5 &&
      r.getAs[Double]("threshold") == 1.4).head.getAs[Long]("tp") > 0)
  }

  test("golden metrics: exact P/R/F1/NDCG for the deterministic pipeline (SURVEY §5.4)") {
    val row = SemLinkGrid.evaluationGrid(spark, sf0001, gt,
      ks = Seq(5), thresholds = Seq(1.1)).collect().head
    // 8 of the 10 symmetric GT pairs discovered at (k=5, t=1.1)
    assert(row.getAs[Long]("tp") == 8L)
    assert(row.getAs[Long]("fp") == 127L)
    assert(row.getAs[Long]("fn") == 2L)
    assert(row.getAs[Double]("precision") == 0.0593)
    assert(row.getAs[Double]("recall") == 0.8)
    assert(row.getAs[Double]("f1") == 0.1103)
    assert(row.getAs[Double]("ndcg") == 0.693)
  }

  test("exportGrid writes per-cell pair CSVs + evaluation_results (reference parity)") {
    val out = java.nio.file.Files.createTempDirectory("grid_export").toString
    val grid = SemLinkGrid.exportGrid(spark, sf0001, gt, out,
      ks = Seq(5), thresholds = Seq(1.1, 1.4))
    // summary round-trips with one row per cell
    val summary = spark.read.option("header", "true").csv(s"$out/evaluation_results")
    assert(summary.count() == 2)
    assert(summary.columns.toSeq == Seq("k", "threshold", "tp", "fp", "fn",
      "precision", "recall", "f1", "ndcg", "engine"))
    // the fixture lake sits far below DefaultAnnAbove: the provenance
    // column must say the metrics came from the exact path
    assert(summary.select("engine").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("exact"))
    // per-cell pair files exist and carry the JoinablePair shape
    val pairs = spark.read.option("header", "true").csv(s"$out/pairs_k5_t1.1")
    assert(pairs.columns.toSeq == Seq("t1", "c1", "t2", "c2", "distance_anns"))
    assert(pairs.count() > 0)
    // looser threshold discovers at least as many pairs
    val pairs14 = spark.read.option("header", "true").csv(s"$out/pairs_k5_t1.4")
    assert(pairs14.count() >= pairs.count())
    // the returned grid matches the golden (k=5, t=1.1) metrics
    val row = grid.filter(col("threshold") === 1.1).collect().head
    assert(row.getAs[Long]("tp") == 8L && row.getAs[Double]("recall") == 0.8)
  }

  test("exportGrid golden files: pinned content of the reference-parity CSVs") {
    // Pins the EXPORTED ARTIFACTS themselves (not just the metrics frame
    // the other tests cover): the deterministic pipeline on the sf0.001
    // fixture lake must reproduce these files exactly — header text, row
    // order (sorted by distance then keys), and VALUES. Distances are
    // pinned as parsed doubles (bit-exact via doubleToLongBits), not as
    // rendered strings: JDK 19 changed Double.toString to
    // shortest-decimal form, so an MD5 over raw renderings would break
    // on a JDK upgrade with numerically identical results. Two cells are
    // pinned — (k=5, t=1.1) and the looser (k=10, t=1.4) — so the
    // multi-cell export loop's per-cell file layout is covered too.
    def csvLines(dir: String): Seq[String] = {
      val f = new java.io.File(dir).listFiles
        .filter(_.getName.endsWith(".csv"))
      assert(f.length == 1, s"expected ONE csv under $dir")
      scala.io.Source.fromFile(f.head).getLines().toSeq
    }
    // canonical digest: key columns verbatim, distance as raw double bits
    def pairsDigest(lines: Seq[String]): String = {
      val canon = lines.tail.map { l =>
        val cols = l.split(",")
        assert(cols.length == 5, s"bad pair line: $l")
        cols.take(4).mkString(",") + "," +
          java.lang.Double.doubleToLongBits(cols(4).toDouble).toHexString
      }
      java.security.MessageDigest.getInstance("MD5")
        .digest(canon.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    val out = java.nio.file.Files.createTempDirectory("grid_golden").toString
    SemLinkGrid.exportGrid(spark, sf0001, gt, out,
      ks = Seq(5, 10), thresholds = Seq(1.1, 1.4))
    val eval = csvLines(s"$out/evaluation_results")
    assert(eval.head == "k,threshold,tp,fp,fn,precision,recall,f1,ndcg,engine")
    assert(eval.size == 5) // header + 4 cells
    // metric values parse-compared (4-dp rounded upstream, so exact)
    val evalParsed = eval.tail.map { l =>
      val c = l.split(",")
      (c(0).toInt, c(1).toDouble, c(2).toLong, c(3).toLong, c(4).toLong,
        c(5).toDouble, c(6).toDouble, c(7).toDouble, c(8).toDouble)
    }
    assert(evalParsed.contains((5, 1.1, 8L, 127L, 2L, 0.0593, 0.8, 0.1103, 0.693)))
    assert(evalParsed.contains((10, 1.4, 10L, 360L, 0L, 0.027, 1.0, 0.0526, 0.7651)))
    // cell (5, 1.1): 135 discovered pairs, order + values pinned
    val pairs = csvLines(s"$out/pairs_k5_t1.1")
    assert(pairs.size == 136) // header + 135 discovered pairs
    assert(pairs.head == "t1,c1,t2,c2,distance_anns")
    val first = pairs(1).split(",")
    assert(first.take(4).toSeq == Seq("lineitem", "l_shipdate", "orders", "o_orderdate"))
    assert(first(4).toDouble == 0.021429170682671934)
    assert(pairs.last.split(",").take(4).toSeq ==
      Seq("supplier", "s_acctbal", "customer", "c_custkey"))
    assert(pairs.last.split(",")(4).toDouble == 1.199283911921412)
    assert(pairsDigest(pairs) == "24426b31b66a00df1c6421dad14fb64b",
      "pairs_k5_t1.1 content drifted from the golden export")
    // cell (10, 1.4): the looser threshold at the deeper k — a superset
    // of the (5, 1.1) pair set, separately pinned
    val pairs14 = csvLines(s"$out/pairs_k10_t1.4")
    assert(pairs14.size == 371) // header + 370 discovered pairs
    assert(pairsDigest(pairs14) == "40c98ff116abc2bee4736cb6b87117fc",
      "pairs_k10_t1.4 content drifted from the golden export")
  }

  test("collected grid equals the per-cell reference (microPrf1Counted + " +
    "ndcgAtK), a cell below every distance included") {
    import graft.discover.{Discovery, Eval}
    import graft.embed.HashEmbedder
    import graft.functions.TextFns
    import graft.pipeline.SemLink
    import graft.profile.Profiler
    val catalog = SemLink.columnTexts(Profiler.profileLake(spark, sf0001))
      .withColumn("vec", HashEmbedder().embedColumn(col("text")))
      .select("key", "vec").cache()
    val keyGt = gt.select(
      TextFns.columnKey(col("query_table"), col("query_column")).as("q"),
      TextFns.columnKey(col("candidate_table"), col("candidate_column")).as("c"))
    val truth = Discovery.symmetrizeGroundTruth(keyGt, "q", "c").cache()
    val nTruth = truth.count()
    val ks = Seq(5, 10)
    val knn = SemLinkGrid.gridKnn(catalog, ks.max)
      .select(col("query_id").as("query"), col("neighbor_id").as("candidate"),
        col("dist"), col("rank")).cache()
    val closest = math.sqrt(knn.agg(min("dist")).head.getDouble(0))
    assert(closest > 0)
    val thresholds = Seq(closest / 2, 0.8, 1.1, 1.4)

    val cells = SemLinkGrid.gridCellsFromCatalog(catalog, keyGt, ks, thresholds)
    assert(cells.map(c => (c.k, c.threshold)) ==
      (for (k <- ks; t <- thresholds) yield (k, t)))
    cells.foreach { cell =>
      val topK = knn.filter(col("rank") <= cell.k)
      val found = Discovery.thresholdFilter(topK, "dist", cell.threshold)
      val prf = Eval.microPrf1Counted(found, truth, nTruth).head
      val ndcg = Eval.ndcgAtK(topK, truth, cell.k).head
      assert(cell.metrics.isLocal, "metrics must be a driver-local frame")
      val got = cell.metrics.collect()
      assert(got.length == 1)
      val r = got.head
      val at = s"cell (${cell.k}, ${cell.threshold})"
      Seq("tp", "fp", "fn").foreach(c =>
        assert(r.getAs[Long](c) == prf.getAs[Long](c), s"$at $c"))
      Seq("precision", "recall", "f1").foreach(c =>
        assert(r.getAs[Double](c) == prf.getAs[Double](c), s"$at $c"))
      assert(r.getAs[Double]("ndcg") == ndcg.getAs[Double]("ndcg"), s"$at ndcg")
      assert(r.getAs[String]("engine") == "exact")
      assert(cell.discovered.collect().toSet ==
        found.select("query", "candidate", "dist").collect().toSet, s"$at pairs")
    }
    // the threshold below every distance discovers nothing, and its row
    // is still there with the whole truth as fn
    cells.filter(_.threshold == closest / 2).foreach { cell =>
      val r = cell.metrics.head()
      assert(r.getAs[Long]("tp") == 0 && r.getAs[Long]("fp") == 0 &&
        r.getAs[Long]("fn") == nTruth)
    }
    // the evaluation grid is the same rows, collected into one local frame
    val grid = SemLinkGrid.evaluationGridFromCatalog(catalog, keyGt, ks, thresholds)
    assert(grid.isLocal)
    assert(grid.collect().toSeq == cells.map(_.metrics.head()))
  }

  test("gridKnn size gate: forced block path ≡ single-broadcast path (no full-catalog collect)") {
    // 60 catalog keys; blockSize=7 forces the multi-block escalation the
    // gate exists for (each block collects ≤ 7 query rows to the driver),
    // while blockSize=10⁵ collapses to the one-broadcast fast path. Both
    // are exact — results must be identical, including ranks.
    val catalog = (1 to 60).map { i =>
      (s"t$i:c$i", Array.tabulate(8)(j => ((i * 31 + j * 7) % 17).toFloat / 17f))
    }.toDF("key", "vec")
    val blocked = SemLinkGrid.gridKnn(catalog, 5, blockSize = 7)
      .orderBy("query_id", "rank").collect().toSeq
    val single = SemLinkGrid.gridKnn(catalog, 5, blockSize = 100000)
      .orderBy("query_id", "rank").collect().toSeq
    assert(blocked == single)
    assert(blocked.size == 60 * 5)
  }

  test("gridKnn ANN gate: forced IVF path at full probe ≡ exact path; grid metrics equal") {
    // the compute gate for catalogs past annAbove keys: at nProbe ==
    // nList the IVF engine probes every list — exhaustive search — so
    // its ranking must be IDENTICAL to the exact blocked path (the q28
    // exact-equivalence contract applied to the flagship's own kNN).
    // With fewer probes it is a recall trade, covered by the ANN specs;
    // here the gate's wiring is what's under test.
    val catalog = (1 to 80).map { i =>
      (s"t$i:c$i", Array.tabulate(8)(j => ((i * 29 + j * 11) % 19).toFloat / 19f))
    }.toDF("key", "vec")
    val exact = SemLinkGrid.gridKnn(catalog, 5)
      .orderBy("query_id", "rank").collect().toSeq
    val ann = SemLinkGrid.gridKnn(catalog, 5, annAbove = 10,
        nList = 8, nProbe = 8)
      .orderBy("query_id", "rank").collect().toSeq
    assert(ann == exact)
    // and below the threshold the gate stays on the exact path (no
    // count-gated surprise for metadata-sized catalogs)
    val under = SemLinkGrid.gridKnn(catalog, 5, annAbove = 1000,
        nList = 8, nProbe = 1)
      .orderBy("query_id", "rank").collect().toSeq
    assert(under == exact)
    // end-to-end: the evaluation grid through the forced-ANN kNN equals
    // the exact grid cell for cell
    val gt = Seq(("t1:c1", "t2:c2"), ("t3:c3", "t4:c4")).toDF("q", "c")
    val gridExact = SemLinkGrid.evaluationGridFromCatalog(catalog, gt,
      Seq(5), Seq(0.5))
    val gridAnn = SemLinkGrid.evaluationGridFromCatalog(catalog, gt,
      Seq(5), Seq(0.5), annAbove = 10, nList = 8, nProbe = 8)
    // numeric cells identical; the provenance column tells them apart
    // (that is its whole job — exact vs ANN-derived metrics)
    assert(gridAnn.drop("engine").collect().toSeq ==
      gridExact.drop("engine").collect().toSeq)
    assert(gridExact.select("engine").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("exact"))
    assert(gridAnn.select("engine").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("ivf"))
  }

  test("gridKnn auto IVF sizing: nList ∝ √N, probe clamp, full-probe sentinel exact") {
    // the sizing rule itself (resolveIvfParams is what the escalation
    // calls with the gate's own catalog count):
    assert(SemLinkGrid.resolveIvfParams(100, 0, 4) == ((16, 4)))  // √100 < floor 16
    assert(SemLinkGrid.resolveIvfParams(1000000, 0, 16) == ((1000, 16)))
    assert(SemLinkGrid.resolveIvfParams(2000000, 0, 16) == ((1415, 16))) // ⌈√n⌉
    assert(SemLinkGrid.resolveIvfParams(1000000, 0, 0) == ((1000, 1000))) // full probe
    assert(SemLinkGrid.resolveIvfParams(1000000, 64, 0) == ((64, 64)))
    assert(SemLinkGrid.resolveIvfParams(1000000, 64, 999) == ((64, 64))) // clamp
    // end to end: both sentinels through the forced escalation — auto
    // nList (floor 16 at this scale) at full probe is exhaustive, so the
    // ranking must be IDENTICAL to the exact blocked path
    val catalog = (1 to 80).map { i =>
      (s"t$i:c$i", Array.tabulate(8)(j => ((i * 29 + j * 11) % 19).toFloat / 19f))
    }.toDF("key", "vec")
    val exact = SemLinkGrid.gridKnn(catalog, 5)
      .orderBy("query_id", "rank").collect().toSeq
    val auto = SemLinkGrid.gridKnn(catalog, 5, annAbove = 10,
        nList = 0, nProbe = 0)
      .orderBy("query_id", "rank").collect().toSeq
    assert(auto == exact)
  }

  test("gridKnn escalation DEFAULT is the auto √N sentinel (nList <= 0)") {
    // An untuned escalation caller must get the O(N^1.5) auto sizing,
    // not a fixed list count (SCALE_r12: fixed 64 grew 4.83× at 10×
    // data vs 3.21× auto). The compiler materializes default args as
    // synthetic `$default$N` methods — read them back directly so a
    // silent default regression fails here, not in a scale probe.
    def defaultOf(method: String, pos: Int): Int = SemLinkGrid.getClass
      .getMethod(s"$method$$default$$$pos").invoke(SemLinkGrid)
      .asInstanceOf[Int]
    // gridKnn(embedded, kMax, blockSize, annAbove, nList, nProbe)
    assert(defaultOf("gridKnn", 5) <= 0, "gridKnn nList default not auto")
    // evaluationGridFromCatalog(catalog, gt, ks, thresholds, annAbove, nList, nProbe)
    assert(defaultOf("evaluationGridFromCatalog", 6) <= 0,
      "evaluationGridFromCatalog nList default not auto")
    // gridCellsFromCatalog(catalog, gt, ks, thresholds, annAbove, nList, nProbe)
    assert(defaultOf("gridCellsFromCatalog", 6) <= 0,
      "gridCellsFromCatalog nList default not auto")
  }

  test("gridKnn gate DEFAULT is finite: annAbove escalates past 1e5 keys") {
    // The one measured scale-killer in the engine is exact O(N²·d)
    // self-kNN; an UNTUNED grid caller must gate onto the IVF path
    // above DefaultAnnAbove instead of silently defaulting to the plan
    // that cannot survive a large catalog (SCALE_r13: exact grew 5.05×
    // at 10× data vs 3.14× auto-IVF; 66× vs 38× at 100×). Read the
    // compiler's synthetic `$default$N` methods so a regression back
    // to Long.MaxValue fails here, not in a scale probe.
    def defaultLongOf(method: String, pos: Int): Long = SemLinkGrid.getClass
      .getMethod(s"$method$$default$$$pos").invoke(SemLinkGrid)
      .asInstanceOf[Long]
    assert(SemLinkGrid.DefaultAnnAbove == 100000L)
    // gridKnn(embedded, kMax, blockSize, annAbove, nList, nProbe)
    assert(defaultLongOf("gridKnn", 4) == SemLinkGrid.DefaultAnnAbove,
      "gridKnn annAbove default not the finite gate")
    // gridCellsFromCatalog(catalog, gt, ks, thresholds, annAbove, ...)
    assert(defaultLongOf("gridCellsFromCatalog", 5) == SemLinkGrid.DefaultAnnAbove,
      "gridCellsFromCatalog annAbove default not the finite gate")
    // evaluationGridFromCatalog(catalog, gt, ks, thresholds, annAbove, ...)
    assert(defaultLongOf("evaluationGridFromCatalog", 5) == SemLinkGrid.DefaultAnnAbove,
      "evaluationGridFromCatalog annAbove default not the finite gate")
    // and below the threshold the default plan is still EXACT: the
    // default-args call must rank identically to the forced-exact call
    val catalog = (1 to 60).map { i =>
      (s"t$i:c$i", Array.tabulate(8)(j => ((i * 31 + j * 7) % 23).toFloat / 23f))
    }.toDF("key", "vec")
    val dflt = SemLinkGrid.gridKnn(catalog, 5)
      .orderBy("query_id", "rank").collect().toSeq
    val exact = SemLinkGrid.gridKnn(catalog, 5, annAbove = Long.MaxValue)
      .orderBy("query_id", "rank").collect().toSeq
    assert(dflt == exact)
    // threshold boundary: n == annAbove stays EXACT (the gate is
    // strictly greater-than — a catalog of exactly the threshold size
    // must not pay the ANN switch), n == annAbove + 1 escalates
    val atThreshold = SemLinkGrid.gridKnn(catalog, 5, annAbove = 60)
      .orderBy("query_id", "rank").collect().toSeq
    assert(atThreshold == exact)
    val over = SemLinkGrid.gridKnn(catalog, 5, annAbove = 59, nProbe = 0)
      .orderBy("query_id", "rank").collect().toSeq
    assert(over == exact) // full-probe IVF: escalated yet rank-exact
  }

  test("gridKnn HNSW tier: forced full-beam path ≡ exact; boundary and " +
    "defaults pinned") {
    // the SECOND escalation tier: past hnswAbove keys the grid kNN runs
    // on the sharded HNSW graphs (N·log N) instead of IVF (Θ(N^1.5)).
    // At full beam (efSearch <= 0 → ef = corpus size) every shard's
    // whole graph is explored, so the ranking must be IDENTICAL to the
    // exact blocked path — the q28/q93 exact-equivalence contract
    // applied to the graph tier.
    val catalog = (1 to 80).map { i =>
      (s"t$i:c$i", Array.tabulate(8)(j => ((i * 29 + j * 11) % 19).toFloat / 19f))
    }.toDF("key", "vec")
    val exact = SemLinkGrid.gridKnn(catalog, 5)
      .orderBy("query_id", "rank").collect().toSeq
    val hnsw = SemLinkGrid.gridKnn(catalog, 5, annAbove = 10,
        hnswAbove = 10, efSearch = 0)
      .orderBy("query_id", "rank").collect().toSeq
    assert(hnsw == exact)
    // boundary: n == hnswAbove stays on the IVF tier (strictly
    // greater-than, like annAbove); n > hnswAbove takes the graph tier
    val gt = Seq(("t1:c1", "t2:c2"), ("t3:c3", "t4:c4")).toDF("q", "c")
    def engineOf(hnswAbove: Long): String =
      SemLinkGrid.evaluationGridFromCatalog(catalog, gt,
          Seq(5), Seq(0.5), annAbove = 10, nProbe = 0,
          hnswAbove = hnswAbove, efSearch = 0)
        .select("engine").distinct().collect().map(_.getString(0)).head
    assert(engineOf(80) == "ivf")
    assert(engineOf(79) == "hnsw")
    // the metrics through the forced graph tier equal the exact grid's
    // cell for cell (full beam — rank-exact)
    val gridExact = SemLinkGrid.evaluationGridFromCatalog(catalog, gt,
      Seq(5), Seq(0.5))
    val gridHnsw = SemLinkGrid.evaluationGridFromCatalog(catalog, gt,
      Seq(5), Seq(0.5), annAbove = 10, hnswAbove = 10, efSearch = 0)
    assert(gridHnsw.drop("engine").collect().toSeq ==
      gridExact.drop("engine").collect().toSeq)
    // defaults pinned via the compiler's synthetic $default$N methods
    // (the annAbove test's technique): hnswAbove must stay the FINITE
    // DefaultHnswAbove — an untuned huge catalog gets the N·log N plan
    def defaultLongOf(method: String, pos: Int): Long = SemLinkGrid.getClass
      .getMethod(s"$method$$default$$$pos").invoke(SemLinkGrid)
      .asInstanceOf[Long]
    assert(SemLinkGrid.DefaultHnswAbove <= 200000L,
      "DefaultHnswAbove must keep the SCALE-probed 200k-key catalog on " +
        "the graph tier")
    // gridKnn(embedded, kMax, blockSize, annAbove, nList, nProbe, hnswAbove, efSearch)
    assert(defaultLongOf("gridKnn", 7) == SemLinkGrid.DefaultHnswAbove,
      "gridKnn hnswAbove default not the finite graph gate")
    // gridCellsFromCatalog(catalog, gt, ks, thresholds, annAbove, nList, nProbe, hnswAbove, efSearch)
    assert(defaultLongOf("gridCellsFromCatalog", 8) == SemLinkGrid.DefaultHnswAbove,
      "gridCellsFromCatalog hnswAbove default not the finite graph gate")
    assert(defaultLongOf("evaluationGridFromCatalog", 8) == SemLinkGrid.DefaultHnswAbove,
      "evaluationGridFromCatalog hnswAbove default not the finite graph gate")
    // force-exact opt-out precedence: annAbove = MaxValue pins the exact
    // engine even when the catalog is past the (tiny, forced) hnsw gate
    val optOut = SemLinkGrid.evaluationGridFromCatalog(catalog, gt,
        Seq(5), Seq(0.5), annAbove = Long.MaxValue, hnswAbove = 1)
      .select("engine").distinct().collect().map(_.getString(0)).toSeq
    assert(optOut == Seq("exact"))
  }

  test("HNSW beam law: autoEfSearch holds the base to EfHoldKeys, " +
    "doubles per 5x past it, passes sentinels through, and is on by " +
    "default") {
    import SemLinkGrid.autoEfSearch
    // the measured anchors (SCALE_r17_recall_{200k,1m,1m_ef128}): the
    // base holds through the hold range...
    assert(autoEfSearch(64, 1L) == 64)
    assert(autoEfSearch(64, 200000L) == 64)
    assert(autoEfSearch(64, SemLinkGrid.EfHoldKeys) == 64)
    // ...the first key past it gets the first doubling (ceil — the
    // quality-first side), which carries exactly to 5x...
    assert(autoEfSearch(64, SemLinkGrid.EfHoldKeys + 1) == 128)
    assert(autoEfSearch(64, 1000000L) == 128) // the measured 1M anchor
    assert(autoEfSearch(64, 2500000L) == 128) // exactly 5x: still one
    // ...and each further 5x adds one more
    assert(autoEfSearch(64, 2500001L) == 256)
    assert(autoEfSearch(64, 12500000L) == 256)
    assert(autoEfSearch(64, 12500001L) == 512)
    // exact power-of-5 boundaries stay INCLUSIVE at every rung — the
    // former ceil(log/log) form overshot here by FP error (JVM
    // log(62.5e6/5e5)/log(5) = 3.0000000000000004 → ef 1024); the
    // integral-threshold law must not
    assert(autoEfSearch(64, 62500000L) == 512)   // 5^3 x hold
    assert(autoEfSearch(64, 62500001L) == 1024)
    assert(autoEfSearch(64, 7812500000L) == 4096) // 5^6 x hold
    assert(autoEfSearch(64, 7812500001L) == 8192)
    // the law scales ANY positive base the same way (a caller's ef is
    // the beam at gate-tier scale)
    assert(autoEfSearch(32, 1000000L) == 64)
    // full-beam sentinel (rank-exact) is never scaled
    assert(autoEfSearch(0, 10000000L) == 0)
    assert(autoEfSearch(-1, 10000000L) == -1)
    // the whole Long domain stays positive: Long.MaxValue/EfHoldKeys is
    // ~1.8e13 → 19 doublings (the 24-doubling clamp is headroom past
    // any representable catalog, never the binding bound)
    assert(autoEfSearch(64, Long.MaxValue) == (64 << 19))
    // SATURATION: a wide base under many doublings clips to
    // Int.MaxValue, never wraps negative — a negative ef is the
    // full-beam rank-exact sentinel downstream, so an Int overflow here
    // would silently flip ANN to exact (base 4096 at 19 doublings is
    // exactly 2^31, the first overflowing case)
    assert(autoEfSearch(4096, Long.MaxValue) == Int.MaxValue)
    assert(autoEfSearch(Int.MaxValue, SemLinkGrid.EfHoldKeys + 1)
      == Int.MaxValue)
    // doublings() is the same integral ladder, exposed for the health
    // surface (HnswIndex.staleness reports the multiplier directly)
    assert(graft.knn.BeamLaw.doublings(SemLinkGrid.EfHoldKeys) == 0)
    assert(graft.knn.BeamLaw.doublings(1000000L) == 1)
    assert(graft.knn.BeamLaw.doublings(2500000L) == 1)
    assert(graft.knn.BeamLaw.doublings(2500001L) == 2)
    assert(graft.knn.BeamLaw.doublings(Long.MaxValue) == 19)
    // plumbing: gridKnnWithEngine returns the EFFECTIVE beam the branch
    // ran — an explicit (caller-tuned) base verbatim below the hold
    // range (no shape probe: the base is not the untuned default), the
    // sentinel verbatim
    val catalog = (1 to 40).map { i =>
      (s"t$i:c$i", Array.tabulate(8)(j => ((i * 29 + j * 11) % 19).toFloat / 19f))
    }.toDF("key", "vec")
    val (_, engRaw) = SemLinkGrid.gridKnnWithEngine(catalog, 5,
      annAbove = 10, hnswAbove = 10, efSearch = 48)
    assert(engRaw.engine == "hnsw" && engRaw.efUsed == 48)
    assert(engRaw.rc.isEmpty,
      "an explicit base must not pay the shape probe's catalog pass")
    val (_, engFull) = SemLinkGrid.gridKnnWithEngine(catalog, 5,
      annAbove = 10, hnswAbove = 10, efSearch = 0)
    assert(engFull.engine == "hnsw" && engFull.efUsed == 0)
    assert(engFull.rc.isEmpty)
    // efAutoScale defaults TRUE on every grid surface (the synthetic
    // $default$N reflection the hnswAbove pins use): the untuned caller
    // gets the law — that is the point of it
    def defaultBoolOf(method: String, pos: Int): Boolean = SemLinkGrid
      .getClass.getMethod(s"$method$$default$$$pos").invoke(SemLinkGrid)
      .asInstanceOf[Boolean]
    // gridKnn(embedded, kMax, blockSize, annAbove, nList, nProbe, hnswAbove, efSearch, efAutoScale)
    assert(defaultBoolOf("gridKnn", 9), "gridKnn efAutoScale default off")
    assert(defaultBoolOf("gridCellsFromCatalog", 10),
      "gridCellsFromCatalog efAutoScale default off")
    assert(defaultBoolOf("evaluationGridFromCatalog", 10),
      "evaluationGridFromCatalog efAutoScale default off")
    // opting out is result-identical below the hold range (the size
    // law is inert at gate-tier n; the default-base path may shape-
    // raise the beam, but any beam ≥ n explores the whole 40-node
    // graph, so the ranking cannot differ)
    val on = SemLinkGrid.gridKnn(catalog, 5, annAbove = 10, hnswAbove = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val off = SemLinkGrid.gridKnn(catalog, 5, annAbove = 10, hnswAbove = 10,
        efAutoScale = false)
      .orderBy("query_id", "rank").collect().toSeq
    assert(on == off)
  }

  test("shape-aware gate: the untuned HNSW escalation measures rc and " +
    "raises the default base to the measured spread fix (rc <= 2 -> " +
    "base 128), keeps clustered catalogs at the default, and never " +
    "overrides an explicit base") {
    // the decision function, pinned at the committed rc anchors
    // (SCALE_r19_shape_*: clustered ~6.3/q25 ~6 at both tiers, spread
    // ~1.5/q25 ~1.4). The decision statistic is the LOWER QUARTILE —
    // a bimodal mixture's median snaps to a mode (measured: the r19
    // mixed fixture read 1.52 on the committed draw and ~5.2 on an
    // independent one), while q25 fires deterministically on any
    // material spread share
    import SemLinkGrid.resolveShapeBase
    assert(resolveShapeBase(6.3, 64) == 64, "clustered anchor must hold")
    assert(resolveShapeBase(1.5, 64) == 128, "spread anchor must raise")
    assert(resolveShapeBase(2.0, 64) == 128, "boundary is inclusive (rc <= 2)")
    assert(resolveShapeBase(2.0001, 64) == 64)
    // never lowered: a caller's wider base survives a spread verdict
    assert(resolveShapeBase(1.5, 256) == 256)
    assert(graft.knn.BeamLaw.SpreadBaseEf == 128,
      "the measured spread fix (SCALE_r17_recall_200k_spread_ef128 / " +
        "SCALE_r18_recall_1m_spread_ef256) is base 128")
    assert(graft.knn.ShapeStats.SpreadRcMax == 2.0)

    // end-to-end through the gate, forced low so spec-sized fixtures
    // exercise the real path. SPREAD fixture: genuinely pseudorandom
    // uniform vectors in d=64 (a LATTICE here measures clustered — its
    // aligned differences give it real near-structure, rc ≈ 38) —
    // distance concentration puts rc well under 2, like the sf0.1
    // random embeddings' measured 1.30
    val rnd = new scala.util.Random(42)
    val spread = (1 to 150).map { i =>
      (s"s$i", Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }.toDF("key", "vec")
    val (_, sEng) = SemLinkGrid.gridKnnWithEngine(spread, 5,
      annAbove = 10, hnswAbove = 10)
    assert(sEng.engine == "hnsw")
    assert(sEng.rc.isDefined && sEng.rcQ25.isDefined,
      "untuned escalation must measure both contrast statistics")
    assert(sEng.rcQ25.get <= 2.0,
      s"uniform fixture measured rc q25=${sEng.rcQ25.get} — expected spread")
    assert(sEng.rcQ25.get <= sEng.rc.get, "q25 must not exceed the median")
    assert(sEng.baseEf == 128 && sEng.efUsed == 128,
      "spread catalog below the hold range: base raised, size law inert")
    // CLUSTERED fixture: 40 tight jittered triples — nn distance is the
    // jitter scale, mean distance the inter-cluster scale, rc >> 3
    val clustered = (0 until 120).map { i =>
      val c = i / 3
      (s"c$i", Array.tabulate(16)(j =>
        ((c * 53 + j * 17) % 23).toFloat + 0.001f * (i % 3)))
    }.toDF("key", "vec")
    val (_, cEng) = SemLinkGrid.gridKnnWithEngine(clustered, 5,
      annAbove = 10, hnswAbove = 10)
    assert(cEng.engine == "hnsw")
    assert(cEng.rc.isDefined && cEng.rcQ25.isDefined)
    assert(cEng.rcQ25.get > 3.0,
      s"jittered-copy fixture measured rc q25=${cEng.rcQ25.get} — " +
        "expected clustered")
    assert(cEng.baseEf == 64 && cEng.efUsed == 64,
      "clustered catalog: the default base must be unchanged")
    // BIMODAL mixture — the case that motivated the quartile decision:
    // 90 tight-cluster members + 60 uniform rows. The spread share
    // (40%) is far past the quartile, so the gate must raise the base
    // DETERMINISTICALLY even though the majority (and so possibly the
    // median) is clustered.
    val mixedRnd = new scala.util.Random(7)
    val mixed = ((0 until 90).map { i =>
      val c = i / 3
      (s"m$i", Array.tabulate(64)(j =>
        ((c * 53 + j * 17) % 23).toFloat + 0.001f * (i % 3)))
    } ++ (90 until 150).map { i =>
      (s"m$i", Array.fill(64)(mixedRnd.nextFloat() * 23f))
    }).toDF("key", "vec")
    val (_, mEng) = SemLinkGrid.gridKnnWithEngine(mixed, 5,
      annAbove = 10, hnswAbove = 10)
    assert(mEng.rcQ25.get <= 2.0,
      s"40%-spread mixture measured q25=${mEng.rcQ25.get} — the " +
        "quartile must see the spread share")
    assert(mEng.baseEf == 128,
      "a material spread share must raise the base deterministically")
    // the opt-out skips the probe (no rc, no catalog pass, default base)
    val (_, offEng) = SemLinkGrid.gridKnnWithEngine(spread, 5,
      annAbove = 10, hnswAbove = 10, shapeAutoScale = false)
    assert(offEng.rc.isEmpty && offEng.baseEf == 64)
    // efAutoScale=false pins the raw knob for BOTH laws
    val (_, rawEng) = SemLinkGrid.gridKnnWithEngine(spread, 5,
      annAbove = 10, hnswAbove = 10, efAutoScale = false)
    assert(rawEng.rc.isEmpty && rawEng.efUsed == 64)
    // shapeAutoScale defaults TRUE on every grid surface (the synthetic
    // $default$N reflection the efAutoScale pins use)
    def defaultBoolOf(method: String, pos: Int): Boolean = SemLinkGrid
      .getClass.getMethod(s"$method$$default$$$pos").invoke(SemLinkGrid)
      .asInstanceOf[Boolean]
    // gridKnn(embedded, kMax, blockSize, annAbove, nList, nProbe, hnswAbove, efSearch, efAutoScale, shapeAutoScale)
    assert(defaultBoolOf("gridKnn", 10), "gridKnn shapeAutoScale default off")
    assert(defaultBoolOf("gridCellsFromCatalog", 11),
      "gridCellsFromCatalog shapeAutoScale default off")
    assert(defaultBoolOf("evaluationGridFromCatalog", 11),
      "evaluationGridFromCatalog shapeAutoScale default off")
    // the IVF middle tier records its RESOLVED knobs (ADVICE r18: the
    // artifact must not re-state defaults that a clamp may have changed)
    val (_, ivfEng) = SemLinkGrid.gridKnnWithEngine(spread, 5,
      annAbove = 10, hnswAbove = Long.MaxValue, nProbe = 1000)
    assert(ivfEng.engine == "ivf")
    assert(ivfEng.nList.contains(16), "auto-sqrt sizing: max(16, ceil(sqrt(120)))")
    assert(ivfEng.nProbe.contains(16),
      "nProbe must record the CLAMPED value (1000 -> resolved nList)")
  }

  test("grid metrics tolerate mixed-type ground truth: long q/c against " +
    "string catalog keys") {
    // the pre-hash code joined raw truth values against string keys and
    // Spark's comparison coercion matched 5L = "5"; the long-id metrics
    // path must keep that tolerance (cast-to-string before xxhash64) —
    // a silent all-miss (tp=0, ndcg=0) would read as a catastrophically
    // bad model instead of a type mismatch
    val catalog = (1 to 40).map { i =>
      (s"$i", Array.tabulate(8)(j => ((i * 29 + j * 11) % 19).toFloat / 19f))
    }.toDF("key", "vec")
    val gtString = Seq(("1", "2"), ("3", "4"), ("5", "6"))
      .toDF("q", "c")
    val gtLong = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("q", "c")
    // k = 39 over a 40-key catalog at a threshold above the metric's
    // max: EVERY ordered pair is discovered, so tp must equal |truth|
    // symmetrized (6) whenever the truth join matches at all
    def grid(gt: org.apache.spark.sql.DataFrame) =
      SemLinkGrid.evaluationGridFromCatalog(catalog, gt,
          ks = Seq(39), thresholds = Seq(10.0))
        .select("k", "threshold", "tp", "fp", "fn", "ndcg")
        .collect().toSeq
    val viaString = grid(gtString)
    val viaLong = grid(gtLong)
    assert(viaString == viaLong)
    assert(viaString.head.getLong(2) > 0, "expected nonzero tp") // tp
  }

  test("seeded sample: deterministic, exact size, subset of input") {
    val df = (1 to 100).toDF("v")
    val s1 = Sampling.seededSample(df, 10, seed = 7).as[Int].collect().toSeq
    val s2 = Sampling.seededSample(df, 10, seed = 7).as[Int].collect().toSeq
    assert(s1 == s2 && s1.size == 10)
    assert(s1.forall((1 to 100).contains))
    val s3 = Sampling.seededSample(df, 10, seed = 8).as[Int].collect().toSeq
    assert(s1 != s3) // different seed, different sample (overwhelmingly)
  }

  test("test-space selection: tail rows, both sides, distinct") {
    val tables = Sampling.testSpaceTables(gt,
      "query_table", "candidate_table", splitRow = 3)
      .as[String].collect().toSet
    // rows 4..5 of the deterministic ordering remain
    assert(tables.nonEmpty && tables.size <= 4)
  }

  test("stratifiedHashSample: deterministic, per-stratum rates, partition-stable") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Lake.documents(spark, sf0001)
      .select("doc_id", "lang")
    val rates = Map("en" -> 0.5, "zh" -> 0.0)
    val s1 = Sampling.stratifiedHashSample(docs, "doc_id", "lang", rates)
    val ids1 = s1.select("doc_id").as[Long].collect().toSet
    // determinism + partition independence: membership is a pure per-row
    // hash decision, so any repartitioning yields the same row set
    val ids2 = Sampling.stratifiedHashSample(docs.repartition(13),
      "doc_id", "lang", rates).select("doc_id").as[Long].collect().toSet
    assert(ids1 == ids2)
    // rate 0 drops the stratum entirely; default 1.0 keeps others whole
    assert(s1.filter(col("lang") === "zh").count() == 0)
    val othersIn = docs.filter(!col("lang").isin("en", "zh")).count()
    assert(s1.filter(!col("lang").isin("en", "zh")).count() == othersIn)
    // binomial rate lands near the target (500-doc corpus, wide tolerance)
    val enTotal = docs.filter(col("lang") === "en").count().toDouble
    val enKept = s1.filter(col("lang") === "en").count().toDouble
    assert(math.abs(enKept / enTotal - 0.5) < 0.15,
      s"en keep rate ${enKept / enTotal} far from 0.5")
    // a rate rounding UP to the full 16-bit threshold must keep ~all rows,
    // not fall into the 5-hex-char lexicographic trap
    val nearOne = Sampling.stratifiedHashSample(docs, "doc_id", "lang",
      Map("en" -> 0.9999999))
    assert(nearOne.filter(col("lang") === "en").count() == enTotal.toLong)
  }

  test("stratifiedHashSample: null strata sample at defaultRate, never vanish") {
    import org.apache.spark.sql.functions._
    val df = spark.range(2000).select(col("id"),
      when(col("id") % 2 === 0, lit("en")).otherwise(lit(null: String)).as("lang"))
    // defaultRate 1.0 keeps every null-stratum row
    val kept = Sampling.stratifiedHashSample(df, "id", "lang", Map("en" -> 0.5))
    assert(kept.filter(col("lang").isNull).count() == 1000)
    // a fractional defaultRate SAMPLES null rows (hash decision), not drops
    val half = Sampling.stratifiedHashSample(df, "id", "lang",
      Map("en" -> 1.0), defaultRate = 0.5)
    val nullKept = half.filter(col("lang").isNull).count()
    assert(nullKept > 300 && nullKept < 700,
      s"null-stratum keep count $nullKept far from the 0.5 rate")
    // and the null branch stays deterministic
    val again = Sampling.stratifiedHashSample(df, "id", "lang",
      Map("en" -> 1.0), defaultRate = 0.5)
    assert(again.filter(col("lang").isNull).count() == nullKept)
  }
}
