package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.knn.{ApproxKnn, IvfIndex, KMeans, KnnJoin}
import graft.sources.Lake

/** Distributed k-means trainer: parity with the driver Lloyd at small k,
  * large-k training without driver materialization of the sample, and the
  * three consumers (ivfKnn / IvfIndex.build / semanticNearDups) on the
  * distributed path.
  */
class KMeansSpec extends SparkSpec {

  import spark.implicits._

  // three well-separated clusters: assignment argmins can't flip under
  // float-summation-order rounding, so both trainers must agree
  private def clustered(): (Array[Array[Float]], org.apache.spark.sql.DataFrame) = {
    val rnd = new scala.util.Random(7)
    val centers = Array(Array(0f, 0f, 0f, 0f), Array(10f, 10f, 0f, 0f),
      Array(-10f, 5f, 5f, 0f))
    val pts = (0 until 90).map { i =>
      val c = centers(i % 3)
      c.map(x => x + (rnd.nextGaussian() * 0.1).toFloat)
    }.toArray
    (pts, pts.toSeq.toDF("__v"))
  }

  test("lloyd parity: distributed ≡ driver given the same init") {
    val (pts, df) = clustered()
    val init = Array(pts(0), pts(1), pts(2)).map(_.clone())
    val driver = ApproxKnn.lloydDriver(pts, init.map(_.clone()), iters = 5)
    val dist = KMeans.lloyd(df.cache(), init.map(_.clone()), iters = 5)
    assert(dist.length == driver.length)
    driver.zip(dist).foreach { case (a, b) =>
      assert(a.length == b.length)
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-4f) }
    }
    // and the induced assignments are identical
    def assigns(cs: Array[Array[Float]]) = pts.map { p =>
      cs.zipWithIndex.minBy { case (c, i) =>
        (c.zip(p).map { case (a, b) => val d = a - b; d * d }.sum, i)
      }._2
    }.toSeq
    assert(assigns(driver) == assigns(dist))
  }

  test("train is deterministic and handles k > distinct rows") {
    val (_, df) = clustered()
    val a = KMeans.train(df, "__v", 3, iters = 3, seed = 42)
    val b = KMeans.train(df, "__v", 3, iters = 3, seed = 42)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // k beyond the row count: init takes what exists
    val big = KMeans.train(df.limit(5), "__v", 64, iters = 2, seed = 42)
    assert(big.length == 5)
  }

  test("trains 4096 clusters without driver materialization of the sample") {
    // 20k synthetic vectors, dim 8 — far beyond what shuffle-init driver
    // Lloyd reaches at this cluster count; only the 4096 centroids and
    // one (sum, count) row per cluster per iteration land on the driver
    val n = 20000
    val vecs = spark.range(n).select(
      transform(sequence(lit(0), lit(7)),
        j => (hash(col("id") * 8 + j) % 1000).cast("float")).as("__v"))
    val cs = KMeans.train(vecs, "__v", 4096, iters = 2, seed = 1)
    assert(cs.length == 4096)
    assert(cs.forall(c => c.length == 8 && c.forall(x => !x.isNaN && !x.isInfinite)))
  }

  private lazy val emb = Lake.embeddings(spark, sf0001).cache()

  test("ivfKnn distributedTrain with nProbe = nList is exact") {
    val exact = KnnJoin.broadcastKnn(emb, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = ApproxKnn.ivfKnn(emb, emb, "vec_id", "embedding", k = 5,
      nList = 8, nProbe = 8, distributedTrain = true)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact)
  }

  test("IvfIndex.build distributedTrain round-trips and searches exactly") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_dk").toString
    val nUsed = IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 8,
      distributedTrain = true)
    assert(nUsed == 8)
    val exact = KnnJoin.broadcastKnn(emb, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = IvfIndex.search(spark, dir, emb, "vec_id", "embedding",
      k = 5, nProbe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact)
  }

  test("two-level kernel with exhaustive probes equals the exact kernel") {
    val rnd = new scala.util.Random(11)
    val centroids = Array.fill(64)(Array.fill(6)(rnd.nextGaussian().toFloat))
    val exact = new org.apache.spark.sql.graft.CentroidKernel(
      spark.sparkContext.broadcast(centroids))
    // probes = cell count → every fine centroid is scanned
    val twoAll = KMeans.twoLevelIndex(spark.sparkContext.broadcast(centroids),
      probes = 64, seed = 3)
    val twoFour = KMeans.twoLevelIndex(spark.sparkContext.broadcast(centroids),
      probes = 4, seed = 3)
    val probes = Array.fill(300)(Array.fill(6)(rnd.nextGaussian().toFloat))
    var agree4 = 0
    probes.foreach { p =>
      val v = new org.apache.spark.sql.catalyst.util.GenericArrayData(p)
      assert(twoAll.nearestOne(v) == exact.nearestOne(v))
      assert(twoAll.nearestN(v, 5).toIntArray().toSeq ==
        exact.nearestN(v, 5).toIntArray().toSeq)
      if (twoFour.nearestOne(v) == exact.nearestOne(v)) agree4 += 1
    }
    // bounded-probe assign is approximate but must be near-exact on
    // smooth data (the FAISS coarse-assign operating regime)
    assert(agree4 >= 270, s"probes=4 agreement too low: $agree4/300")
  }

  test("IvfIndex.build twoLevelAssign: exhaustive probe is still exact") {
    // list membership may shift under the sublinear assign; searching
    // every list is exact REGARDLESS of where vectors landed
    val dir = java.nio.file.Files.createTempDirectory("ivf_2l").toString
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 16,
      distributedTrain = true, twoLevelAssign = true, twoLevelProbes = 2)
    val exact = KnnJoin.broadcastKnn(emb, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = IvfIndex.search(spark, dir, emb, "vec_id", "embedding",
      k = 5, nProbe = 16)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact)
  }

  test("train twoLevelAssign matches exact training on separated clusters") {
    val (_, df) = clustered()
    val a = KMeans.train(df, "__v", 3, iters = 4, seed = 42)
    val b = KMeans.train(df, "__v", 3, iters = 4, seed = 42,
      twoLevelAssign = true, twoLevelProbes = 2)
    // tiny k → coarse cells ≈ 2, probes 2 = exhaustive; identical input
    // order per iteration → same centroids up to float-summation noise
    a.zip(b).foreach { case (x, y) =>
      x.zip(y).foreach { case (p, q) => assert(math.abs(p - q) < 1e-3f) }
    }
  }

  test("training aggregation keeps map-side partials (ObjectHashAggregate)") {
    val (_, df) = clustered()
    val kernel = new org.apache.spark.sql.graft.CentroidKernel(
      spark.sparkContext.broadcast(Array(Array(0f, 0f, 0f, 0f))))
    val agg = df.groupBy(graft.functions.VectorExpressions
        .nearestCentroid(col("__v"), kernel).as("cid"))
      .agg(graft.functions.AggExpressions.vectorSum(col("__v")).as("s"))
    val plan = agg.queryExecution.executedPlan.toString
    // partial_vector_sum BEFORE the exchange: the shuffle carries one
    // dim-sized buffer per (group, partition), never the vectors
    assert(plan.contains("partial_vector_sum"),
      s"no map-side partial aggregation in:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"unexpected agg mode:\n$plan")
  }

  test("cost: hand-computed quantization cost, elbow direction, drift") {
    import spark.implicits._
    val df = Seq(Array(0f, 0f), Array(2f, 0f), Array(10f, 0f))
      .toDF("v")
    // one centroid at the origin: mean of 0, 4, 100
    val c1 = KMeans.cost(df, "v", Array(Array(0f, 0f)))
    assert(math.abs(c1 - (0.0 + 4.0 + 100.0) / 3) < 1e-9)
    // a second centroid at the outlier: cost can only fall
    val c2 = KMeans.cost(df, "v", Array(Array(0f, 0f), Array(10f, 0f)))
    assert(math.abs(c2 - (0.0 + 4.0 + 0.0) / 3) < 1e-9)
    assert(c2 < c1)
    // two-level with exhaustive probes agrees with the exact kernel
    val (_, cl) = clustered()
    val cs = KMeans.train(cl, "__v", 3, iters = 3, seed = 5)
    val exact = KMeans.cost(cl, "__v", cs)
    val two = KMeans.cost(cl, "__v", cs, twoLevelAssign = true,
      twoLevelProbes = cs.length)
    assert(math.abs(exact - two) < 1e-9)
  }

  test("IvfIndex.stats: per-list occupancy sums to the corpus") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_stats").toString
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 8)
    val st = IvfIndex.stats(spark, dir).collect()
    assert(st.map(_.getLong(1)).sum == emb.count())
    assert(st.length <= 8 && st.forall(_.getLong(1) > 0))
  }

  test("semanticNearDups distributedTrain recovers exact scaled copies") {
    // scaled copies share direction → same nearest-centroid list,
    // regardless of which trainer produced the centroids
    val base = emb.limit(50).select(col("vec_id").cast("long").as("id"),
      col("embedding").cast("array<float>").as("v"))
    val copies = base.filter(col("id") < 10)
      .select((col("id") + 100000).as("id"),
        transform(col("v"), x => (x * 2.0f).cast("float")).as("v"))
    val corpus = base.unionByName(copies)
    val pairs = Dedup.semanticNearDups(corpus, "id", "v",
      maxCosineDistance = 1e-6, nClusters = 8, distributedTrain = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 10L).foreach { i =>
      assert(pairs.contains((i, i + 100000)), s"missing scaled-copy pair for $i")
    }
  }
}
