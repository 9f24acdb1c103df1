package graft

import org.apache.spark.sql.functions._

import graft.knn.{IvfIndex, KnnJoin}
import graft.sources.Lake

class IvfIndexSpec extends SparkSpec {

  private lazy val emb = Lake.embeddings(spark, sf0001).cache()

  private def exactTop5 = KnnJoin
    .broadcastKnn(emb, emb, "vec_id", "embedding", 5)
    .select("query_id", "neighbor_id").collect()
    .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("persisted index probed at nProbe=nList equals brute force") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    val nUsed = IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 8)
    assert(nUsed == 8)
    val got = IvfIndex
      .search(spark, dir, emb, "vec_id", "embedding", k = 5, nProbe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exactTop5)
  }

  /** `df`'s rows as a local frame: a query side whose scan reads no input. */
  private def local(df: org.apache.spark.sql.DataFrame) =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  test("pruned probe reads only the probed list partitions, recall holds") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx2").toString
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 8)
    // single-query search: few probes → few partitions
    val oneQuery = local(emb.filter(col("vec_id") === 0).select("vec_id", "embedding"))
    // its two probed lists: the centroids nearest it by (squared L2, cid)
    val q = oneQuery.head().getSeq[Float](1)
    val probed = spark.read.parquet(s"$dir/centroids")
      .select(col("cid"), col("vec").cast("array<float>")).as[(Int, Array[Float])]
      .collect().sortBy { case (cid, c) =>
        (q.zip(c).map { case (a, b) => (a.toDouble - b) * (a.toDouble - b) }.sum, cid)
      }.take(2).map(_._1)
    val sizes = IvfIndex.stats(spark, dir).as[(Int, Long)].collect().toMap
    def search() = IvfIndex.search(spark, dir, oneQuery, "vec_id", "embedding",
      k = 5, nProbe = 2).collect()
    search() // opens the index: its metadata reads stay out of the count
    val (rows, read) = taskTotals(search())
    assert(rows.length == 5)
    // the list scan reads exactly the probed lists' rows: the unprobed
    // cid= directories are pruned at file-listing level
    assert(read.recordsRead == probed.map(sizes).sum, s"probed ${probed.toSeq}")
    assert(read.recordsRead < emb.count())
    // full-corpus pruned search keeps a sane recall floor
    val pruned = IvfIndex.search(spark, dir, emb, "vec_id", "embedding",
      k = 5, nProbe = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = pruned.intersect(exactTop5).size.toDouble / exactTop5.size
    assert(recall > 0.5, s"pruned recall too low: $recall")
  }

  test("append without retrain: build(half) + append(rest) ≡ build(all)") {
    import spark.implicits._
    val first = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    val dirInc = java.nio.file.Files.createTempDirectory("ivf_inc").toString
    val dirAll = java.nio.file.Files.createTempDirectory("ivf_all").toString
    // same sampled training set on both sides: train on the SAME half so
    // the coarse quantizers are identical, then append the other half
    val nInc = IvfIndex.build(first, "vec_id", "embedding", dirInc, nList = 8)
    val appended = IvfIndex.append(spark, dirInc, rest, "vec_id", "embedding")
    assert(appended == rest.count())
    IvfIndex.build(first, "vec_id", "embedding", dirAll, nList = 8)
    IvfIndex.append(spark, dirAll, rest, "vec_id", "embedding")
    // the incremental index holds every vector exactly once
    val stored = spark.read.parquet(s"$dirInc/assignments")
    assert(stored.count() == emb.count())
    assert(stored.select("id").distinct().count() == emb.count())
    // probed at nProbe=nList, search over the appended index is EXACT
    val got = IvfIndex
      .search(spark, dirInc, emb, "vec_id", "embedding", k = 5, nProbe = nInc)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exactTop5)
    // appended rows landed in the same cid partitions the quantizer assigns
    val cidOf = spark.read.parquet(s"$dirAll/assignments")
      .select("id", "cid").as[(Long, Int)].collect().toMap
    val cidInc = stored.select("id", "cid").as[(Long, Int)].collect().toMap
    assert(cidInc == cidOf)
  }

  test("cosine index: metric rides the index, search equals brute-force cosine") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_cos").toString
    val nUsed = IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 8,
      metric = KnnJoin.MetricCosine)
    // search takes NO metric argument — cosine must come back from params/
    val got = IvfIndex
      .search(spark, dir, emb, "vec_id", "embedding", k = 5, nProbe = nUsed)
      .select("query_id", "neighbor_id", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = KnnJoin
      .broadcastKnn(emb, emb, "vec_id", "embedding", 5, KnnJoin.MetricCosine)
      .select("query_id", "neighbor_id", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // same pairs AND the same true-cosine distances (both sides compute
    // dot/norms in double on the original vectors — not normalized-L2/2)
    assert(got.map(t => (t._1, t._2)).toSet == exact.map(t => (t._1, t._2)).toSet)
    val exactDist = exact.map(t => (t._1, t._2) -> t._3).toMap
    got.foreach { case (q, n, d) =>
      assert(math.abs(d - exactDist((q, n))) < 1e-12,
        s"cosine distance drift for ($q,$n)")
    }
  }

  test("cosine index: append assigns under the persisted metric, stays exact") {
    val first = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("ivf_cos_app").toString
    val n = IvfIndex.build(first, "vec_id", "embedding", dir, nList = 8,
      metric = KnnJoin.MetricCosine)
    IvfIndex.append(spark, dir, rest, "vec_id", "embedding")
    val got = IvfIndex
      .search(spark, dir, emb, "vec_id", "embedding", k = 5, nProbe = n)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactCos = KnnJoin
      .broadcastKnn(emb, emb, "vec_id", "embedding", 5, KnnJoin.MetricCosine)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exactCos)
  }

  test("an older on-disk layout is refused, naming the rebuild") {
    val dir = graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory("ivf_older").toString)
    def search(usePq: Boolean) = IvfIndex
      .search(spark, dir, emb.limit(5), "vec_id", "embedding", k = 3,
        nProbe = 8, usePq = usePq).collect()
    def older(missing: String)(run: => Any): Unit = {
      val e = intercept[IllegalStateException](run)
      assert(e.getMessage.contains(s"older on-disk layout (no $missing)") &&
        e.getMessage.contains("IvfIndex.build"), e.getMessage)
    }
    // rewrite a table without one of its columns, as older writers did
    def dropColumn(table: String, column: String): Unit = {
      val old = spark.read.parquet(s"$dir/$table").drop(column)
      spark.createDataFrame(java.util.Arrays.asList(old.collect(): _*), old.schema)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$dir/$table")
    }
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 8, pqM = 8)
    dropColumn("pq", "residual")
    search(usePq = false)
    older("pq/residual")(search(usePq = true))
    dropColumn("params", "n_at_train")
    older("params/n_at_train")(search(usePq = false))
    older("params/n_at_train")(IvfIndex.staleness(spark, dir))
    new java.io.File(s"$dir/params").listFiles().foreach(_.delete())
    new java.io.File(s"$dir/params").delete()
    older("params/")(search(usePq = false))
  }

  test("an empty query frame returns an empty frame of searchSchema") {
    val dir = graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory("ivf_noq").toString)
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 4, pqM = 8)
    for (usePq <- Seq(false, true); rerank <- Seq(0, 4)) {
      val none = IvfIndex.search(spark, dir, emb.filter(col("vec_id") < 0),
        "vec_id", "embedding", k = 3, nProbe = 2, usePq = usePq,
        rerank = rerank)
      assert(none.schema.map(f => (f.name, f.dataType)) ==
        IvfIndex.searchSchema.map(f => (f.name, f.dataType)),
        s"usePq=$usePq rerank=$rerank")
      assert(none.collect().isEmpty, s"usePq=$usePq rerank=$rerank")
    }
  }

  test("a k far above the corpus returns every probed neighbor") {
    val dir = graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory("ivf_allk").toString)
    val n = IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 4)
    // an "every neighbor" search: the scan's heaps hold what they keep,
    // not k slots per query
    val counts = IvfIndex.search(spark, dir, emb.filter(col("vec_id") < 20),
      "vec_id", "embedding", k = 10000000, nProbe = n)
      .groupBy("query_id").count().collect().map(_.getLong(1))
    assert(counts.length == 20 && counts.forall(_ == emb.count() - 1),
      counts.toSeq)
  }

  test("index survives a fresh read: search works from paths alone") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx3").toString
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 4)
    // no handle carried over — the directory IS the index
    val res = IvfIndex.search(spark, dir, emb.limit(10), "vec_id", "embedding",
      k = 3, nProbe = 4)
    assert(res.groupBy("query_id").count()
      .filter(col("count") =!= 3).count() == 0)
  }

  test("IVF-PQ: code column persisted, ADC search column-prunes the vectors") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 8,
      pqM = 16, pqKsub = 256)
    // codes live in the lists: m bytes per row
    val lists = spark.read.parquet(s"$dir/assignments")
    assert(lists.columns.contains("code"))
    assert(lists.select(length(col("code")).as("l"))
      .filter(col("l") =!= 16).count() == 0)
    // the ADC scan reads the m-byte codes, not the vectors: fewer bytes
    // than a flat search over the same lists (32× less probe I/O at 64-d
    // is the whole point of storing codes). Measured on a 16× copy of the
    // corpus, whose lists outgrow the reader's buffer, with parquet's
    // vectored reads off: their bytes bypass the file-system statistics
    // the input metrics read.
    val bigDir = graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory("ivfpq_big").toString)
    IvfIndex.build(emb.crossJoin(spark.range(16).toDF("r")).select(
      (col("vec_id") + col("r") * 100000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding", bigDir, nList = 4, pqM = 16, pqKsub = 16)
    val queries = local(emb.filter(col("vec_id") < 20).select("vec_id", "embedding"))
    def bytesRead(usePq: Boolean): Long = {
      def search() = IvfIndex.search(spark, bigDir, queries, "vec_id",
        "embedding", k = 5, nProbe = 4, usePq = usePq, rerank = 0).collect()
      search() // opens the index: its metadata reads stay out of the count
      taskTotals(search())._2.bytesRead
    }
    spark.conf.set("parquet.hadoop.vectored.io.enabled", "false")
    val (adcBytes, flatBytes) =
      try (bytesRead(usePq = true), bytesRead(usePq = false))
      finally spark.conf.unset("parquet.hadoop.vectored.io.enabled")
    assert(adcBytes < flatBytes, s"ADC scan read $adcBytes B, flat $flatBytes B")
    val res = IvfIndex.search(spark, dir, emb, "vec_id", "embedding",
      k = 5, nProbe = 8, usePq = true, rerank = 4)
    // reranked full-probe search tracks brute force closely
    val got = res.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(exactTop5).size.toDouble / exactTop5.size
    assert(recall > 0.9, s"IVF-PQ reranked recall too low: $recall")
  }

  test("IVF-PQ rerank emits exact distances; rerank=0 emits ADC estimates") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq2").toString
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 8,
      pqM = 16, pqKsub = 256)
    val exactDists = KnnJoin.broadcastKnn(emb, emb, "vec_id", "embedding", 50)
      .select("query_id", "neighbor_id", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val reranked = IvfIndex.search(spark, dir, emb, "vec_id", "embedding",
      k = 5, nProbe = 8, usePq = true, rerank = 4).collect()
    reranked.foreach { row =>
      exactDists.get((row.getLong(0), row.getLong(1))).foreach { d =>
        assert(math.abs(row.getDouble(2) - d) < 1e-9,
          s"rerank dist diverges for (${row.getLong(0)}, ${row.getLong(1)})")
      }
    }
    // ADC-only distances are estimates: allowed to differ, ranking useful
    val adcOnly = IvfIndex.search(spark, dir, emb, "vec_id", "embedding",
      k = 5, nProbe = 8, usePq = true, rerank = 0)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = adcOnly.intersect(exactTop5).size.toDouble / exactTop5.size
    assert(recall > 0.5, s"ADC-only recall too low: $recall")
  }

  test("IVF-PQ append encodes the new batch with the persisted codebooks") {
    val first = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq3").toString
    IvfIndex.build(first, "vec_id", "embedding", dir, nList = 8,
      pqM = 16, pqKsub = 256)
    val n = IvfIndex.append(spark, dir, rest, "vec_id", "embedding")
    assert(n == rest.count())
    val lists = spark.read.parquet(s"$dir/assignments")
    assert(lists.filter(col("code").isNull).count() == 0)
    val got = IvfIndex.search(spark, dir, emb, "vec_id", "embedding",
      k = 5, nProbe = 8, usePq = true, rerank = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(exactTop5).size.toDouble / exactTop5.size
    assert(recall > 0.9, s"post-append IVF-PQ recall too low: $recall")
  }

  test("IVF-PQ cosine: spherical codes under the persisted metric") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq4").toString
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 8,
      metric = KnnJoin.MetricCosine, pqM = 16, pqKsub = 256)
    val exactCos = KnnJoin
      .broadcastKnn(emb, emb, "vec_id", "embedding", 5, KnnJoin.MetricCosine)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = IvfIndex.search(spark, dir, emb, "vec_id", "embedding",
      k = 5, nProbe = 8, usePq = true, rerank = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(exactCos).size.toDouble / exactCos.size
    assert(recall > 0.9, s"IVF-PQ cosine recall too low: $recall")
  }

  test("rebuild without PQ clears stale codebooks from a prior PQ build") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq6").toString
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 4,
      pqM = 16, pqKsub = 256)
    assert(new java.io.File(s"$dir/pq").exists())
    // vectors-only rebuild into the same dir: pq/ must NOT survive —
    // append would otherwise re-add codes with books trained on deleted
    // data, and lists would end up with mixed schemas
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 4)
    assert(!new java.io.File(s"$dir/pq").exists())
    IvfIndex.append(spark, dir,
      emb.select((col("vec_id") + 10000).as("vec_id"), col("embedding")),
      "vec_id", "embedding")
    assert(!spark.read.parquet(s"$dir/assignments").columns.contains("code"))
    intercept[IllegalArgumentException] {
      IvfIndex.search(spark, dir, emb.limit(1), "vec_id", "embedding",
        k = 3, nProbe = 2, usePq = true)
    }
  }

  test("residual PQ reconstructs tighter than raw PQ (mean quantization error)") {
    import spark.implicits._
    val dirRes = java.nio.file.Files.createTempDirectory("ivfpq_res").toString
    val dirRaw = java.nio.file.Files.createTempDirectory("ivfpq_raw").toString
    IvfIndex.build(emb, "vec_id", "embedding", dirRes, nList = 8,
      pqM = 8, pqKsub = 16, pqByResidual = true)
    IvfIndex.build(emb, "vec_id", "embedding", dirRaw, nList = 8,
      pqM = 8, pqKsub = 16, pqByResidual = false)

    def meanSelfAdc(dir: String, residual: Boolean): Double = {
      val rows = spark.read.parquet(s"$dir/pq")
        .select(col("s"), col("c"), col("vec").cast("array<float>"))
        .as[(Int, Int, Array[Float])].collect()
      val m = rows.map(_._1).max + 1
      val ksub = rows.map(_._2).max + 1
      val books = Array.ofDim[Array[Float]](m, ksub)
      rows.foreach { case (s, c, v) => books(s)(c) = v }
      val coarse = spark.read.parquet(s"$dir/centroids")
        .select(col("cid"), col("vec").cast("array<float>"))
        .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2)
      val kernel = new org.apache.spark.sql.graft.PqKernel(
        spark.sparkContext.broadcast(new graft.knn.PqCodebooks(books)),
        if (residual) spark.sparkContext.broadcast(coarse) else null)
      val selfD = spark.read.parquet(s"$dir/assignments")
        .select(col("vec").cast("array<float>"), col("cid"), col("code"))
        .as[(Array[Float], Int, Array[Byte])].collect().map { case (v, cid, code) =>
          val q = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
            .fromPrimitiveArray(v)
          if (residual) kernel.adcResidual(q, cid, code) else kernel.adcDirect(q, code)
        }
      selfD.sum / selfD.length
    }
    val errRes = meanSelfAdc(dirRes, residual = true)
    val errRaw = meanSelfAdc(dirRaw, residual = false)
    // a vector's ADC distance to its OWN code is its quantization error;
    // quantizing centroid offsets must beat quantizing absolute position
    assert(errRes < errRaw,
      s"residual error $errRes not below raw error $errRaw")
    // the flag rides the index: both modes search well-formed (recall
    // floors at production-grade codebooks are asserted by the other
    // IVF-PQ tests; this config is deliberately coarse to expose error)
    for (dir <- Seq(dirRes, dirRaw)) {
      val got = IvfIndex.search(spark, dir, emb, "vec_id", "embedding",
        k = 5, nProbe = 8, usePq = true, rerank = 4)
      assert(got.groupBy("query_id").count()
        .filter(col("count") =!= 5).count() == 0)
    }
  }

  test("usePq on a vectors-only index fails with a clear message") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq5").toString
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 4)
    val e = intercept[IllegalArgumentException] {
      IvfIndex.search(spark, dir, emb.limit(1), "vec_id", "embedding",
        k = 3, nProbe = 2, usePq = true)
    }
    assert(e.getMessage.contains("pq"))
  }

  test("auto nList: build(0) sizes √N, rebalance(-1) tracks the grown corpus") {
    import spark.implicits._
    import graft.knn.ApproxKnn
    // the rule itself
    assert(ApproxKnn.autoNList(100) == 16)      // √100 < the 16 floor
    assert(ApproxKnn.autoNList(400) == 20)
    assert(ApproxKnn.autoNList(2000000) == 1415) // ⌈√n⌉
    // build with the sentinel: 256 candidates → √256 = 16 lists
    val vecs = (1 to 400).map { i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 13 + j * 5) % 23).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_auto").toString
    val n0 = IvfIndex.build(vecs.filter(col("vec_id") <= 256),
      "vec_id", "embedding", dir, nList = 0)
    assert(n0 == 16)
    // corpus grows past the build-time sizing; rebalance(-1) re-derives
    // the list count from the CURRENT row count with no caller-side math
    IvfIndex.append(spark, dir, vecs.filter(col("vec_id") > 256),
      "vec_id", "embedding")
    assert(IvfIndex.rebalance(spark, dir, nList = -1) == 20) // ⌈√400⌉
    // the 0 sentinel still means "keep" (unchanged contract)
    assert(IvfIndex.rebalance(spark, dir) == 20)
    // and the resized index stays exact at full probe
    val got = IvfIndex
      .search(spark, dir, vecs, "vec_id", "embedding", k = 3, nProbe = 20)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = KnnJoin.broadcastKnn(vecs, vecs, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact)
  }

  test("staleness: frac tracks appends, PQ rebalance preserves the " +
    "training anchor, rebuild resets it; ADC displacement rises under " +
    "drifted appends") {
    import org.apache.spark.sql.Row
    def row(dir: String): Row =
      IvfIndex.staleness(spark, dir, probeQueries = 48).collect()(0)
    val bucket = pmod(xxhash64(col("vec_id")), lit(10))
    val base = emb.filter(bucket < 8)
    // the drift-harness fixture: the appended batch is component-shifted
    // out of the training distribution
    val drifted = emb.filter(bucket >= 8).withColumn("embedding",
      transform(col("embedding"), x => (x + lit(0.6)).cast("float")))

    val dir = graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory("ivf_stale").toString)
    val nBase = base.count()
    IvfIndex.build(base, "vec_id", "embedding", dir, nList = 16, pqM = 8)
    val fresh = row(dir)
    assert(fresh.getLong(0) == nBase)
    assert(fresh.getLong(1) == nBase)               // anchor = build corpus
    assert(fresh.getDouble(2) == 0.0)               // nothing appended
    val dispFresh = fresh.getDouble(3)
    assert(!fresh.isNullAt(3) && dispFresh >= 0.0)

    IvfIndex.append(spark, dir, drifted, "vec_id", "embedding")
    val nAll = emb.count()
    val after = row(dir)
    assert(after.getLong(0) == nAll)
    assert(after.getLong(1) == nBase)               // anchor unchanged
    val expFrac = (nAll - nBase).toDouble / nAll
    assert(math.abs(after.getDouble(2) - expFrac) < 1e-9)
    // the DIRECT signal: drifted appends quantize badly against the
    // build-time codebooks, so the ADC shortlist order scrambles
    val dispDrifted = after.getDouble(3)
    assert(dispDrifted > dispFresh,
      s"ADC displacement did not rise under drift: $dispFresh -> $dispDrifted")

    // PQ rebalance keeps the codebooks → the anchor (and frac) persist:
    // the stat must keep saying "rebuild due" after the non-recovery op
    IvfIndex.rebalance(spark, dir)
    val rebal = row(dir)
    assert(rebal.getLong(1) == nBase, "PQ rebalance moved the anchor")
    assert(math.abs(rebal.getDouble(2) - expFrac) < 1e-9)

    // full rebuild retrains everything → fresh anchor, frac back to 0
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 16, pqM = 8)
    val rebuilt = row(dir)
    assert(rebuilt.getLong(1) == nAll)
    assert(rebuilt.getDouble(2) == 0.0)

    // vectors-only index: no codebooks → displacement is null, and a
    // rebalance RETRAINS the whole quantizer, so the anchor resets
    val dir2 = graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory("ivf_stale2").toString)
    IvfIndex.build(base, "vec_id", "embedding", dir2, nList = 16)
    IvfIndex.append(spark, dir2, drifted, "vec_id", "embedding")
    val v1 = row(dir2)
    assert(v1.isNullAt(3), "vectors-only index reported ADC displacement")
    assert(v1.getLong(1) == nBase)
    IvfIndex.rebalance(spark, dir2)
    val v2 = row(dir2)
    assert(v2.getLong(1) == nAll, "vectors-only rebalance kept a stale anchor")
    assert(v2.getDouble(2) == 0.0)
  }

  test("rebuildDue: the measured codebook-staleness alarm separates " +
    "codebook-fresh from codebook-stale states in BOTH committed " +
    "drift-harness realizations") {
    // the constant is a MEASURED value, re-pinned in r19 when the
    // hash-ordered training sample re-rolled the quantizer init and
    // broke the old 1.5 threshold on both sides (a recall-collapsed
    // stage at 1.32x slipped under it; the recovered rebalance at
    // 1.94x fired over it) — pin it so a silent change must
    // re-justify itself against the artifact pair
    // (SCALE_r19_ivfpq_staleness_uniform.json; SCALE_r18_ivfpq_
    // staleness.json is the prior realization)
    assert(IvfIndex.AdcDisplacementAlarmRatio == 1.25)
    // --- r19 uniform-sample realization (anchor 3.9531) ---
    val a19 = 3.9531
    // codebook-stale stages fire, whatever serving recall does:
    assert(IvfIndex.rebuildDue(a19, 5.2078)) // drifted append, 1.32x, p32 0.236
    assert(IvfIndex.rebuildDue(a19, 8.0438)) // fully drifted, 2.03x
    assert(IvfIndex.rebuildDue(a19, 7.6563)) // post-rebalance, 1.94x —
      // recall RECOVERED (p32 0.728 > build 0.607) but the codebooks
      // were never retrained: the alarm correctly stays up
    // codebook-fresh states stay quiet:
    assert(!IvfIndex.rebuildDue(a19, 3.9531)) // fresh build, 1.0x
    assert(!IvfIndex.rebuildDue(a19, a19 * 1.20)) // spec-tier probe noise
    // --- r18 prefix-sample realization (anchor 3.8625) ---
    val a18 = 3.8625
    assert(IvfIndex.rebuildDue(a18, 5.9109))  // drifted append, 1.53x
    assert(IvfIndex.rebuildDue(a18, 8.4563))  // fully drifted, 2.19x
    assert(IvfIndex.rebuildDue(a18, 5.3813))  // post-rebalance, 1.39x —
      // under the new semantics this correctly fires too (codebooks
      // stale); the old threshold's quiet here was the init accident
    assert(!IvfIndex.rebuildDue(a18, 3.8625)) // fresh build
  }

  test("persisted displacement anchor: a PQ build snapshots its post-" +
    "build displacement, staleness() emits ratio + rebuild_due from " +
    "index state alone, a protocol-mismatched probe nulls the ratio, " +
    "rebalance keeps the anchor and rebuild re-snapshots it") {
    import org.apache.spark.sql.Row
    def row(dir: String): Row = IvfIndex.staleness(spark, dir).collect()(0)
    // columns: 0 n_rows, 1 n_at_train, 2 frac, 3 disp, 4 disp_at_train,
    //          5 displacement_ratio, 6 rebuild_due
    val bucket = pmod(xxhash64(col("vec_id")), lit(10))
    val base = emb.filter(bucket < 8)
    val drifted = emb.filter(bucket >= 8).withColumn("embedding",
      transform(col("embedding"), x => (x + lit(0.6)).cast("float")))
    val dir = graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory("ivf_anchor").toString)
    IvfIndex.build(base, "vec_id", "embedding", dir, nList = 16, pqM = 8)
    val fresh = row(dir)
    assert(!fresh.isNullAt(4), "PQ build did not persist its anchor")
    val anchor = fresh.getDouble(4)
    assert(anchor >= 0.0)
    assert(!fresh.isNullAt(5), "default-protocol probe must yield a ratio")
    // a just-built index re-probes near its own anchor — far under the
    // alarm (exact equality is not asserted: the seeded sample's limit()
    // may tie-break differently across scans)
    assert(fresh.getDouble(5) < IvfIndex.AdcDisplacementAlarmRatio,
      s"fresh build already alarmed: ratio ${fresh.getDouble(5)}")
    assert(!fresh.isNullAt(6) && !fresh.getBoolean(6))
    // a probe under a DIFFERENT protocol than the anchor records must
    // not pretend to be the measured bracket
    val mismatched =
      IvfIndex.staleness(spark, dir, probeQueries = 48).collect()(0)
    assert(mismatched.isNullAt(5) && mismatched.isNullAt(6),
      "protocol-mismatched probe produced a ratio/alarm")
    assert(!mismatched.isNullAt(4), "the anchor itself is protocol-free")

    // drift, then the two maintenance ops: rebalance KEEPS the anchor
    // (codebook drift is what the ratio tracks and rebalance cannot
    // fix); rebuild re-measures and re-persists it
    IvfIndex.append(spark, dir, drifted, "vec_id", "embedding")
    val after = row(dir)
    assert(!after.isNullAt(5))
    assert(after.getBoolean(6) ==
      (after.getDouble(5) >= IvfIndex.AdcDisplacementAlarmRatio),
      "rebuild_due inconsistent with the ratio rule")
    IvfIndex.rebalance(spark, dir)
    val rebal = row(dir)
    assert(!rebal.isNullAt(4) && rebal.getDouble(4) == anchor,
      "PQ rebalance moved the persisted anchor")
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 16, pqM = 8)
    val rebuilt = row(dir)
    assert(!rebuilt.isNullAt(4))
    assert(!rebuilt.isNullAt(5) &&
      rebuilt.getDouble(5) < IvfIndex.AdcDisplacementAlarmRatio)
    assert(!rebuilt.getBoolean(6))

    // a PQ-less rebuild over a PQ index clears pq AND the dead anchor
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 16)
    val noPq = row(dir)
    assert(noPq.isNullAt(3) && noPq.isNullAt(4) && noPq.isNullAt(5) &&
      noPq.isNullAt(6),
      "PQ-less rebuild left displacement state behind")

    // vectors-only index from scratch: all displacement columns null
    val dir2 = graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory("ivf_anchor2").toString)
    IvfIndex.build(base, "vec_id", "embedding", dir2, nList = 16)
    val v = row(dir2)
    assert(v.isNullAt(3) && v.isNullAt(4) && v.isNullAt(5) && v.isNullAt(6))
  }
}
