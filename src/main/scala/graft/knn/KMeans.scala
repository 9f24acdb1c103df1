package graft.knn

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed k-means — the trainer that removes the driver-Lloyd scale
  * ceiling. [[ApproxKnn.kmeans]] trains on a `sampleCap`-bounded collected
  * sample, which caps the cluster count at the sample size; the 100 TB
  * IVF / SemDeDup operating point wants 10⁴–10⁵ centroids trained on
  * 10⁶–10⁷ vectors, which must never land on the driver. (The reference's
  * FAISS analogue trains IVF lists natively in-process,
  * SemLink/join_discoverer.py:277–280 — single-machine training has no
  * 100 TB story at all.)
  *
  * Each Lloyd iteration is ONE DataFrame aggregation over the training
  * frame: the assign runs the codegen [[org.apache.spark.sql.graft
  * .CentroidKernel]] nearest-centroid expression against the broadcast
  * codebook (the exact arithmetic of the driver path), and the
  * per-cluster mean accumulates through the native
  * [[org.apache.spark.sql.graft.VectorSum]] partial aggregate — so the
  * shuffle per iteration carries at most `partitions × k` dim-sized
  * buffers and the driver materializes exactly k (sum, count) rows per
  * iteration: the size of the RESULT, never the data.
  *
  * Deterministic: initial centroids are the k first rows by
  * `(xxhash64(vec, seed), vec)` — a TakeOrdered, not a global sort — and
  * iterations are order-insensitive up to float-summation rounding.
  * Empty clusters keep their previous centroid (the driver-path rule).
  *
  * This object is also the one place that decides how a spherical coarse
  * quantizer (IVF lists, PQ codebooks' sample, SemDeDup blocks) is
  * trained and applied: [[prepare]] and [[unitVectors]] (the one
  * unit-normalizer), [[TrainingSet]] (the one seeded training sample and
  * the driver-or-distributed trainer choice) and [[assignKernel]] (exact
  * or two-level assign).
  */
object KMeans {

  /** Train k centroids over `vecs(vecCol)` (array<float>). Returns
    * min(k, rows) centroids; `what` names the caller in errors.
    *
    * `twoLevelAssign` runs each iteration's assignment through a
    * [[twoLevelIndex]] over the current centroids — O(√k·dim) per row
    * instead of O(k·dim), the knob that keeps a 10⁵-cluster TRAINING
    * pass linear in the corpus (the assign is the only per-row work).
    * Approximate at cell boundaries (Lloyd still converges — mini-batch
    * and online k-means tolerate far larger assignment noise).
    */
  def train(
      vecs: DataFrame,
      vecCol: String,
      k: Int,
      iters: Int,
      seed: Int,
      what: String = "KMeans.train",
      twoLevelAssign: Boolean = false,
      twoLevelProbes: Int = 4): Array[Array[Float]] = {
    require(k > 0, s"$what: k must be positive, got $k")
    val cached = graft.util.Par.balance(
      vecs.select(col(vecCol).cast("array<float>").as("__v"))
        .filter(col("__v").isNotNull))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // distinct BEFORE the hash-ordered take: identical vectors hash
      // identically and sort ADJACENT, so a duplicate-heavy corpus would
      // otherwise fill the init with copies of one point (k−1 dead
      // clusters); init size is min(k, distinct vectors)
      val init = cached
        .dropDuplicates("__v")
        .orderBy(xxhash64(col("__v"), lit(seed)), col("__v"))
        .limit(k)
        .collect()
        .map(rowVec)
      require(init.nonEmpty, s"$what: no input vectors")
      lloyd(cached, init, iters, twoLevelAssign, twoLevelProbes, seed)
    } finally { cached.unpersist(blocking = false); () }
  }

  /** The distributed Lloyd body given explicit initial centroids — the
    * parity hook against [[ApproxKnn.lloydDriver]]: same assignment rule
    * (codegen kernel, ties to the lowest index), same double-accumulated
    * float sums, differing from the driver only in summation ORDER (float
    * rounding). `cached` must be a single-`__v`-column frame the caller
    * has persisted (each iteration re-scans it). Empty clusters keep
    * their previous centroid.
    */
  private[graft] def lloyd(
      cached: DataFrame,
      init: Array[Array[Float]],
      iters: Int,
      twoLevelAssign: Boolean = false,
      twoLevelProbes: Int = 4,
      seed: Int = 42): Array[Array[Float]] = {
    val sc = cached.sparkSession.sparkContext
    var centroids = init
    for (_ <- 1 to iters) {
      val kernel = assignKernel(sc.broadcast(centroids), twoLevelAssign,
        twoLevelProbes, seed)
      val rows = cached
        .groupBy(graft.functions.VectorExpressions
          .nearestCentroid(col("__v"), kernel).as("cid"))
        .agg(graft.functions.AggExpressions.vectorSum(col("__v")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = new Array[Array[Float]](centroids.length)
      System.arraycopy(centroids, 0, next, 0, centroids.length)
      rows.foreach { r =>
        val cid = r.getInt(0)
        val sums = r.getSeq[Double](1)
        val n = r.getLong(2)
        val c = new Array[Float](sums.length)
        var i = 0
        while (i < c.length) { c(i) = (sums(i) / n).toFloat; i += 1 }
        next(cid) = c
      }
      centroids = next
      // this iteration's job is complete (collect returned) — destroy its
      // codebook broadcasts NOW rather than letting a long run (many
      // iterations × 10⁵-centroid codebooks, up to 3 broadcasts each
      // under twoLevelAssign) accumulate driver/executor broadcast
      // memory until the ContextCleaner's GC-driven sweep fires
      kernel.release()
    }
    centroids
  }

  /** The assign kernel over a broadcast codebook: the exact
    * [[org.apache.spark.sql.graft.CentroidKernel]], or under `twoLevel`
    * a [[twoLevelIndex]] that probes `probes` coarse cells. Releasing the
    * kernel destroys `centroids` too.
    */
  private[graft] def assignKernel(
      centroids: Broadcast[Array[Array[Float]]],
      twoLevel: Boolean,
      probes: Int,
      seed: Int): org.apache.spark.sql.graft.CentroidIndex =
    if (twoLevel) twoLevelIndex(centroids, probes, seed)
    else new org.apache.spark.sql.graft.CentroidKernel(centroids)

  /** Build a [[org.apache.spark.sql.graft.TwoLevelCentroidKernel]] over a
    * trained codebook: ~√k coarse cells (the arithmetic optimum when probe
    * cost ≈ member cost) = driver Lloyd over the k centroids
    * (codebook-sized work, never data-sized), member lists = exact
    * assignment of each fine centroid to its cell.
    */
  private[graft] def twoLevelIndex(
      centroids: Broadcast[Array[Array[Float]]],
      probes: Int = 4,
      seed: Int = 42): org.apache.spark.sql.graft.TwoLevelCentroidKernel = {
    val fine = centroids.value
    require(fine.nonEmpty, "twoLevelIndex: empty codebook")
    val k = fine.length
    val kc = math.max(1, math.round(math.sqrt(k.toDouble)).toInt)
    val coarse = ApproxKnn.kmeans(fine, kc, iters = 5, seed)
    val members = Array.fill(coarse.length)(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    var fi = 0
    while (fi < k) {
      val c = fine(fi)
      var best = 0
      var bestD = Double.MaxValue
      var ci = 0
      while (ci < coarse.length) {
        val cc = coarse(ci)
        val m = math.min(cc.length, c.length)
        var d = 0.0
        var j = 0
        while (j < m) { val x = c(j) - cc(j); d += x * x; j += 1 }
        if (d < bestD) { bestD = d; best = ci }
        ci += 1
      }
      members(best) += fi
      fi += 1
    }
    val sc = org.apache.spark.SparkContext.getOrCreate()
    new org.apache.spark.sql.graft.TwoLevelCentroidKernel(centroids,
      sc.broadcast(coarse), sc.broadcast(members.map(_.toArray)),
      math.max(1, probes))
  }

  /** The preparation of an (id, vec) frame for a quantizer: the id as a
    * long under `idAlias`, the vector as array<float> under `vecAlias`
    * and a zero flag under `zeroAlias`. Under `spherical` (cosine) the
    * vector is unit-normalized by [[unitVectors]]; otherwise it is kept
    * and the flag is false.
    */
  private[graft] def prepare(df: DataFrame, idCol: String, vecCol: String,
      spherical: Boolean, idAlias: String, vecAlias: String,
      zeroAlias: String): DataFrame = {
    val base = df.select(col(idCol).cast("long").as(idAlias),
      col(vecCol).cast("array<float>").as(vecAlias))
    if (spherical) unitVectors(base, vecAlias, vecAlias, zeroAlias)
    else base.withColumn(zeroAlias, lit(false))
  }

  /** Adds the unit-normalized copy of `vecCol` (array<float>) as
    * `unitAlias` (which may be `vecCol` itself) and its zero flag as
    * `zeroAlias` — the cosine→L2 reduction: for unit vectors, cosine
    * distance = squared L2 / 2 (exactly, up to float rounding), with
    * identical ranking. The norm is materialized as its own column BEFORE
    * the division lambda (`transform` is not codegen'd and codegen CSE
    * skips lambda bodies — an inline norm would recompute the dot product
    * per element). Zero vectors pass through unnormalized and keep the
    * flag: the engine-wide convention (cosineDistance, HnswGraph) scores
    * any pair involving a zero vector at distance 1.0, which the
    * normalized-L2 form cannot express (it would yield 0.5).
    */
  private[graft] def unitVectors(df: DataFrame, vecCol: String,
      unitAlias: String, zeroAlias: String): DataFrame =
    df.withColumn("__norm", sqrt(
        graft.functions.VectorExpressions.dotProduct(col(vecCol), col(vecCol))))
      .withColumn(zeroAlias, !(col("__norm") > 0))
      .withColumn(unitAlias,
        when(!col(zeroAlias),
          transform(col(vecCol), x => (x / col("__norm")).cast("float")))
          .otherwise(col(vecCol)))
      .drop("__norm")

  /** The training side of one coarse quantizer: a [[prepare]]d frame
    * with its id, vector and zero-flag columns. `what` names the caller
    * in errors.
    *
    * Zero vectors stay out of training (under cosine a raw zero would
    * pull a centroid off the sphere, and the distance-1.0 convention
    * makes zero vectors list-agnostic anyway) unless no row is non-zero:
    * then every distance is 1.0 and the quantizer trains on the zeros
    * rather than fail. A caller that must refuse such a corpus passes
    * only its non-zero rows.
    */
  private[graft] final class TrainingSet(frame: DataFrame, id: String,
      vec: String, zero: String, sampleCap: Int, seed: Int, what: String) {

    private def nonZero: DataFrame = frame.filter(!col(zero))

    /** The bounded driver-side sample: the first `sampleCap` rows by
      * `(xxhash64(id, seed), id)` — a TakeOrderedAndProject, uniform
      * across the catalog and deterministic across layouts (the
      * ShapeStats sampling rule). A bare limit() would read a storage
      * prefix: on a time-ordered corpus under distribution drift that
      * trains the quantizer on the OLDEST regime only, and on an IVF
      * index's lists it reads whichever lists list first.
      */
    lazy val sample: Array[Array[Float]] = {
      import frame.sparkSession.implicits._
      def draw(df: DataFrame): Array[Array[Float]] = df
        .orderBy(xxhash64(col(id), lit(seed)), col(id))
        .limit(sampleCap)
        .select(col(vec).cast("array<float>"))
        .as[Array[Float]].collect()
      val nz = draw(nonZero)
      val s = if (nz.nonEmpty) nz else draw(frame)
      require(s.nonEmpty, s"$what: no vectors to train on")
      s
    }

    /** k coarse centroids: driver Lloyd ([[ApproxKnn.kmeans]]) on
      * [[sample]], which caps k at the sample size; or, under
      * `distributed`, [[train]] over the whole frame — the 10⁴–10⁵-list
      * operating point, with only the k centroids ever on the driver.
      */
    def coarse(k: Int, iters: Int, distributed: Boolean): Array[Array[Float]] =
      if (!distributed) ApproxKnn.kmeans(sample, math.min(k, sample.length), iters, seed)
      else {
        val nz = nonZero
        train(if (nz.isEmpty) frame else nz, vec, k, iters, seed, what)
      }
  }

  /** Mean squared distance to the nearest centroid — the quantization
    * cost that tunes k / iters (the elbow diagnostic) and watches drift
    * on appended corpora (rising cost against a fixed codebook = time to
    * rebuild). ONE aggregation over the frame through the same codegen
    * assign kernel as training; nothing but the scalar comes back.
    */
  def cost(
      vecs: DataFrame,
      vecCol: String,
      centroids: Array[Array[Float]],
      twoLevelAssign: Boolean = false,
      twoLevelProbes: Int = 4,
      seed: Int = 42): Double = {
    require(centroids.nonEmpty, "KMeans.cost: empty codebook")
    val kernel = assignKernel(vecs.sparkSession.sparkContext.broadcast(centroids),
      twoLevelAssign, twoLevelProbes, seed)
    try {
      val rows = vecs
        .select(col(vecCol).cast("array<float>").as("__v"))
        .filter(col("__v").isNotNull)
        .agg(avg(graft.functions.VectorExpressions
          .nearestCentroidDist(col("__v"), kernel)).as("c"))
        .collect()
      if (rows.isEmpty || rows.head.isNullAt(0)) 0.0 else rows.head.getDouble(0)
    } finally
      // the lloyd rationale: cost's documented use is REPEATED calls (an
      // elbow sweep, periodic drift-watching) with 10⁴–10⁵-centroid
      // codebooks — eager release instead of stranding up to three large
      // broadcasts per call until a GC-driven ContextCleaner sweep
      kernel.release()
  }

  private def rowVec(r: Row): Array[Float] = {
    val s = r.getSeq[Float](0)
    val a = new Array[Float](s.length)
    var i = 0
    while (i < a.length) { a(i) = s(i); i += 1 }
    a
  }
}
