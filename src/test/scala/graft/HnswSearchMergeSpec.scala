package graft.knn

import graft.SparkSpec

/** The driver-side HNSW merge ([[HnswSearch.mergeTopK]]) against the
  * ranking window it replaced ([[HnswSearch.topKMerge]]): on the same
  * partials the two return the same rows, row for row and bit for bit.
  */
class HnswSearchMergeSpec extends SparkSpec {
  import HnswSearch.Partials

  /** (query_id, neighbor_id, dist, rank), dist as its raw bits. */
  private type Ranked = (Long, Long, Long, Int)

  private def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)

  private def window(shards: Seq[Seq[(Long, Long, Double)]], k: Int): Seq[Ranked] = {
    import spark.implicits._
    HnswSearch.topKMerge(shards.flatten.toDF("query_id", "neighbor_id", "dist"), k)
      .select("query_id", "neighbor_id", "dist", "rank").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), bits(r.getDouble(2)), r.getInt(3)))
      .sortBy(r => (r._1, r._4))
  }

  /** [[HnswSearch.mergeTopK]] over `shards`, as a request of `queries`
    * query vectors: the distinct query ids by default, which the driver
    * merges; a request above [[HnswSearch.DriverMergeEntries]] merges in
    * the window.
    */
  private def driver(shards: Seq[Partials], k: Int,
      queries: Option[Int] = None): Seq[Ranked] = {
    val q = queries.getOrElse(shards.flatMap(_.qids).distinct.size)
    val out = HnswSearch.mergeTopK(spark,
      spark.sparkContext.parallelize(shards, shards.size), q, k)
    assert(out.isLocal == queries.isEmpty)
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      IvfIndex.searchSchema.map(f => (f.name, f.dataType)))
    out.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), bits(r.getDouble(2)), r.getInt(3)))
      .sortBy(r => (r._1, r._4))
  }

  /** A shard's rows as its task hands them to [[Partials.ranked]]:
    * grouped by query id, each query's rows in the kernel's order,
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

  test("driver merge equals the ranking window on adversarial partials: " +
    "ties across shards, -0.0 against 0.0, NaN, fewer than k rows") {
    val k = 3
    val shards: Seq[Seq[(Long, Long, Double)]] = Seq(
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
    val want = window(shards, k)
    assert(driver(shards.map(shardPartials(_, k)), k) == want)
    // the same partials as a request above the driver bound
    val above = (HnswSearch.DriverMergeEntries / shards.size / k + 1).toInt
    assert(driver(shards.map(shardPartials(_, k)), k, Some(above)) == want)
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

  test("driver merge equals the ranking window over real shard beams, with " +
    "and without self-exclusion") {
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
      assert(driver(partials, k) == window(rows, k), s"excludeSelf=$excludeSelf k=$k ef=$ef")
      if (excludeSelf) assert(!rows.flatten.exists(r => r._1 == r._2))
    }
  }

  test("driverMerges: the fixed entry bound, and half of " +
    "spark.driver.maxResultSize at 24 bytes an entry") {
    val conf = new org.apache.spark.SparkConf(false)
    val bound = HnswSearch.DriverMergeEntries
    // ann_serve's bulk request: 16 shards, 1024 queries, k 10
    assert(HnswSearch.driverMerges(conf, 16L * 1024 * 10))
    assert(HnswSearch.driverMerges(conf, bound) && !HnswSearch.driverMerges(conf, bound + 1))
    // a grid block at 10^6 keys: 32 shards, 100,000 queries, k 25
    assert(!HnswSearch.driverMerges(conf, 32L * 100000 * 25))
    conf.set("spark.driver.maxResultSize", "1m")
    assert(HnswSearch.driverMerges(conf, (1L << 19) / 24))
    assert(!HnswSearch.driverMerges(conf, (1L << 19) / 24 + 1))
    conf.set("spark.driver.maxResultSize", "0")
    assert(HnswSearch.driverMerges(conf, bound) && !HnswSearch.driverMerges(conf, bound + 1))
  }

  test("a request whose partials exceed spark.driver.maxResultSize merges " +
    "in the window and answers what the driver merge answers, for both " +
    "HNSW paths") {
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
    def both() = Seq(
      ApproxKnn.hnswKnn(vecs, vecs, "vec_id", "embedding", k),
      HnswIndex.search(spark, dir, vecs, "vec_id", "embedding", k))
    // at least 4 shards each: 4 · 3000 · 10 = 120,000 partials, about
    // 2.9 MB of task results, which the driver merges by default
    val driverMerged = both()
    assert(driverMerged.forall(_.isLocal))
    org.apache.spark.SparkInternals.withConf(spark.sparkContext,
        "spark.driver.maxResultSize", "1m") {
      assert(!HnswSearch.driverMerges(spark.sparkContext.getConf, 4L * n * k))
      both().zip(driverMerged).foreach { case (windowed, local) =>
        assert(!windowed.isLocal)
        assert(windowed.exceptAll(local).isEmpty && local.exceptAll(windowed).isEmpty)
      }
    }
    assert(driverMerged.forall(_.count() == n.toLong * k))
  }
}
