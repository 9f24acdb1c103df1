package graft.knn

import graft.SparkSpec

/** The partials merge ([[TopK.mergeTopK]]) in both placements, the
  * driver fold and the range reduce ([[TopK.rangeMerge]]), against the
  * ranking window ([[TopK.topKMerge]]): on the same partials they return
  * the same rows, row for row and bit for bit.
  */
class TopKMergeSpec extends SparkSpec {
  import TopK.Partials

  /** (query_id, neighbor_id, dist, rank), dist as its raw bits. */
  private type Ranked = (Long, Long, Long, Int)

  private def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)

  private def window(shards: Seq[Seq[(Long, Long, Double)]], k: Int): Seq[Ranked] = {
    import spark.implicits._
    TopK.topKMerge(shards.flatten.toDF("query_id", "neighbor_id", "dist"), k)
      .select("query_id", "neighbor_id", "dist", "rank").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), bits(r.getDouble(2)), r.getInt(3)))
      .sortBy(r => (r._1, r._4))
  }

  /** [[TopK.mergeTopK]] over `shards` for the query ids `qids`: the
    * distinct ids by default, which the driver merges. Rows in the
    * frame's own order, which is (query_id, rank) in both placements.
    */
  private def driver(shards: Seq[Partials], k: Int,
      qids: Option[Array[Long]] = None): Seq[Ranked] = {
    val q = qids.getOrElse(shards.flatMap(_.qids).distinct.sorted.toArray)
    val out = TopK.mergeTopK(spark,
      spark.sparkContext.parallelize(shards, shards.size), q, k)
    assert(out.isLocal == qids.isEmpty)
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      IvfIndex.searchSchema.map(f => (f.name, f.dataType)))
    out.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), bits(r.getDouble(2)), r.getInt(3)))
  }

  /** [[TopK.rangeMerge]] over `shards` at `cuts`, ranked: the ranges'
    * partials in partition order.
    */
  private def ranges(shards: Seq[Partials], cuts: Seq[Long], k: Int): Seq[Ranked] = {
    val merged = TopK.rangeMerge(spark.sparkContext.parallelize(shards, shards.size),
      cuts.toArray, k)
    assert(merged.getNumPartitions == cuts.size + 1)
    merged.collect().toSeq.flatMap(TopK.rows)
      .map(r => (r.getLong(0), r.getLong(1), bits(r.getDouble(2)), r.getInt(3)))
  }

  /** A shard's rows as its task hands them to [[Partials.ranked]]:
    * grouped by query id, each query's rows in the HNSW kernel's order,
    * (`Double.compare` dist, id).
    */
  private def shardPartials(rows: Seq[(Long, Long, Double)], k: Int): Partials = {
    val kernelOrder = rows.sortWith { case ((q1, n1, d1), (q2, n2, d2)) =>
      val c = java.lang.Double.compare(d1, d2)
      q1 < q2 || (q1 == q2 && (c < 0 || (c == 0 && n1 < n2)))
    }
    Partials.ranked(kernelOrder.map(_._1).toArray, kernelOrder.map(_._2).toArray,
      kernelOrder.map(_._3).toArray, kernelOrder.size, k)
  }

  private val adversarialK = 3

  private val adversarial: Seq[Seq[(Long, Long, Double)]] = Seq(
    Seq(
      (1L, 10L, 0.5), (1L, 12L, 0.5),
      // within one shard the kernel ranks -0.0 before 0.0; the window
      // ties them and ranks by id
      (2L, 9L, -0.0), (2L, 5L, 0.0), (2L, 20L, 1.0),
      (3L, 7L, Double.NaN), (3L, 8L, 2.0),
      (-6L, 1L, 0.25)),
    Seq(
      (1L, 11L, 0.5), (1L, 3L, 0.7),
      (2L, 3L, 0.0), (2L, 4L, 0.0),
      (3L, 6L, Double.NaN), (3L, 2L, Double.PositiveInfinity),
      // more rows than k from one shard
      (5L, 1L, 0.3), (5L, 2L, 0.1), (5L, 3L, 0.2), (5L, 4L, 0.1),
      (5L, 5L, 0.4)),
    Seq(
      (1L, 9L, 0.5),
      // the only row of its query: fewer than k
      (4L, 42L, 0.1)),
    Seq.empty)

  test("driver merge equals the ranking window on adversarial partials: " +
    "ties across shards, -0.0 against 0.0, NaN, fewer than k rows") {
    val (shards, k) = (adversarial, adversarialK)
    val want = window(shards, k)
    assert(driver(shards.map(shardPartials(_, k)), k) == want)
    // one shard alone, and k above every query's row count
    assert(driver(Seq(shardPartials(shards.flatten, 10)), 10) == window(shards, 10))
    // the data tells the orders apart: ranking each query's rows by
    // `java.lang.Double.compare` (then id) disagrees with the window, so a
    // merge or a shard sort that compares doubles that way fails above
    val javaOrder = shards.flatten.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      rs.sortWith { case ((_, n1, d1), (_, n2, d2)) =>
        val c = java.lang.Double.compare(d1, d2)
        c < 0 || (c == 0 && n1 < n2)
      }.take(k).zipWithIndex.map { case ((q, nid, d), i) => (q, nid, bits(d), i + 1) }
    }.sortBy(r => (r._1, r._4))
    assert(javaOrder != want)
    assert(want.filter(_._1 == 2L).map(_._2) == Seq(3L, 4L, 5L))
  }

  test("range reduce equals the ranking window on the adversarial partials, " +
    "with cuts next to each query and a repeated query id") {
    val (shards, k) = (adversarial, adversarialK)
    val parts = shards.map(shardPartials(_, k))
    val want = window(shards, k)
    val ids = shards.flatten.map(_._1).distinct.sorted
    val cutSets: Seq[Seq[Long]] = Seq(
      Seq.empty,
      ids, // every query opens its own range
      ids.map(_ + 1), // every query closes its range
      ids.flatMap(q => Seq(q, q + 1)), // every query alone in its range
      Seq(Long.MinValue, 2L, 4L, Long.MaxValue), // empty first and last ranges
      Seq(-100L, 100L)) // all queries in the middle range
    for (cuts <- cutSets)
      assert(ranges(parts, cuts, k) == want, s"cuts $cuts")
    // through mergeTopK above the driver bound: a query side that repeats
    // every id until the request passes DriverMergeEntries, so the cuts
    // fall on the repeated ids
    val copies = (TopK.DriverMergeEntries / parts.size / k / ids.size + 1).toInt
    val repeated = ids.flatMap(Seq.fill(copies)(_)).toArray
    assert(driver(parts, k, Some(repeated)) == want)
  }

  test("a repeated query id: the exact scan joins its runs, and both " +
    "placements equal the ranking window") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cands = (0 until 40).map(i => (i.toLong, Array.fill(4)(rnd.nextGaussian().toFloat)))
    // id 5 twice under two vectors, id 9 a candidate too (self-excluded)
    val queries = Seq((5L, cands(1)._2), (9L, cands(9)._2), (5L, cands(30)._2))
      .sortBy(_._1).toArray
    val k = 4
    val shards = cands.grouped(13).toSeq.map(c =>
      TopK.exact(queries, k, cosine = false, excludeSelf = true,
        TopK.everyQuery(queries.length, c.iterator)))
    val qids = queries.map(_._1)
    val want = KnnJoin.windowKnn(queries.toSeq.toDF("vec_id", "embedding"),
        cands.toDF("vec_id", "embedding"), "vec_id", "embedding", k)
      .select("query_id", "neighbor_id", "dist", "rank").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), bits(r.getDouble(2)), r.getInt(3)))
      .sortBy(r => (r._1, r._4))
    assert(want.count(_._1 == 5L) == k)
    assert(driver(shards, k, None) == want)
    assert(ranges(shards, Seq(5L, 6L), k) == want)
    assert(ranges(shards, Seq(9L), k) == want)
    assert(TopK.mergeTopK(spark, spark.sparkContext.parallelize(shards, shards.size),
      qids, k).count() == 2L * k)
  }

  test("both placements equal the ranking window over real shard beams, " +
    "with and without self-exclusion") {
    val rnd = new scala.util.Random(5)
    val base = (0 until 90).map(i => (i.toLong * 7, Array.fill(8)(rnd.nextGaussian().toFloat)))
    // copies under fresh ids in other shards: equal distances across shards
    val copies = base.take(15).map { case (id, v) => (id + 10000L, v.clone()) }
    val shardRows = Seq(base.take(40), base.drop(40) ++ copies,
      base.take(1).map { case (id, v) => (id + 20000L, v) }) // one node: < k
    val graphs = shardRows.map { rows =>
      val g = new HnswGraph(m = 4, efConstruction = 16, seed = 3)
      rows.foreach { case (id, v) => g.insert(id, v) }
      g
    }
    val queries = (base.take(12) ++ copies.take(3) ++
      Seq((-5L, Array.fill(8)(0.0f)), (99999L, base(50)._2)))
      .sortBy(_._1).toArray
    for (excludeSelf <- Seq(true, false); (k, ef) <- Seq((5, 8), (12, 0))) {
      val partials = graphs.map(HnswSearch.beamAll(_, queries, k, ef, excludeSelf))
      val rows = partials.map(p => (0 until p.size).map(i => (p.qids(i), p.nids(i), p.dists(i))))
      val want = window(rows, k)
      assert(driver(partials, k) == want, s"excludeSelf=$excludeSelf k=$k ef=$ef")
      assert(ranges(partials, queries.map(_._1).toSeq.grouped(4).map(_.head).toSeq.tail, k)
        == want, s"range reduce, excludeSelf=$excludeSelf k=$k ef=$ef")
      if (excludeSelf) assert(!rows.flatten.exists(r => r._1 == r._2))
    }
  }

  test("driverMerges: the fixed entry bound, and half of " +
    "spark.driver.maxResultSize at 24 bytes an entry") {
    val conf = new org.apache.spark.SparkConf(false)
    val bound = TopK.DriverMergeEntries
    // ann_serve's bulk request: 16 shards, 1024 queries, k 10
    assert(TopK.driverMerges(conf, 16L * 1024 * 10))
    assert(TopK.driverMerges(conf, bound) && !TopK.driverMerges(conf, bound + 1))
    // a grid block at 10^6 keys: 32 shards, 100,000 queries, k 25
    assert(!TopK.driverMerges(conf, 32L * 100000 * 25))
    conf.set("spark.driver.maxResultSize", "1m")
    assert(TopK.driverMerges(conf, (1L << 19) / 24))
    assert(!TopK.driverMerges(conf, (1L << 19) / 24 + 1))
    conf.set("spark.driver.maxResultSize", "0")
    assert(TopK.driverMerges(conf, bound) && !TopK.driverMerges(conf, bound + 1))
  }

  test("a request whose partials exceed spark.driver.maxResultSize merges " +
    "in the range reduce and answers what the driver merge answers: HNSW, " +
    "the exact scan, blockKnn, pqKnn and knn_join") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 3000
    val k = 10
    val vecs = (0 until n)
      .map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").repartition(4).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("graft_merge_bound").toString
    graft.util.TempDirs.register(dir)
    HnswIndex.build(vecs, "vec_id", "embedding", dir, shards = 4)
    // the merge's own results, then four built on it: the exact scan's
    // plan node (broadcastKnn and knn_join), blockKnn's blocks of it and
    // PQ's rank cut
    def merges() = Seq(
      ApproxKnn.hnswKnn(vecs, vecs, "vec_id", "embedding", k),
      HnswIndex.search(spark, dir, vecs, "vec_id", "embedding", k))
    def ranked() = Seq(
      KnnJoin.broadcastKnn(vecs, vecs, "vec_id", "embedding", k),
      ApproxKnn.blockKnn(vecs, vecs, "vec_id", "embedding", k, blockSize = 2000),
      ApproxKnn.pqKnn(vecs, vecs, "vec_id", "embedding", k, ksub = 16, rerank = 0),
      org.apache.spark.sql.graft.KnnJoinOp.knnJoin(vecs, vecs, "vec_id", "embedding", k))
    // at least 4 partitions each: 4 · 3000 · 10 = 120,000 partials, about
    // 2.9 MB of task results, which the driver merges by default
    val driverMerged = merges()
    val driverRanked = ranked().map(_.localCheckpoint())
    assert(driverMerged.forall(_.isLocal))
    org.apache.spark.SparkInternals.withConf(spark.sparkContext,
        "spark.driver.maxResultSize", "1m") {
      assert(!TopK.driverMerges(spark.sparkContext.getConf, 4L * n * k))
      merges().zip(driverMerged).foreach { case (reduced, local) =>
        assert(!reduced.isLocal)
        assert(reduced.exceptAll(local).isEmpty && local.exceptAll(reduced).isEmpty)
      }
      ranked().zip(driverRanked).foreach { case (reduced, local) =>
        assert(reduced.exceptAll(local).isEmpty && local.exceptAll(reduced).isEmpty)
      }
    }
    assert(driverMerged.forall(_.count() == n.toLong * k))
    assert(driverRanked.forall(_.count() == n.toLong * k))
  }
}
