package graft.knn

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate kNN — the scale path beyond brute force (SURVEY.md §7.3.3;
  * reference analogue: the hnswlib index, DeepJoin/annIndex.py — we keep
  * the approximation CONTRACT (recall@k), not the algorithm, which is
  * single-machine graph state).
  *
  * Every strategy keeps the [[KnnJoin]] output contract ((query_id,
  * neighbor_id, dist, rank), ties by id):
  *
  *  - [[lshKnn]]: random-hyperplane signatures, `tables` independent hash
  *    tables of `bits` bits. Only same-bucket pairs are scored — the join
  *    is a bucket equi-join, so work scales with bucket occupancy, never
  *    N². Good for cosine-like geometry.
  *
  *  - [[ivfKnn]]: inverted-file index. Coarse centroids come from the one
  *    spherical quantizer trainer ([[KMeans.TrainingSet]]: a bounded,
  *    seeded driver sample or the distributed trainer); every vector is
  *    assigned to its nearest centroid (distributed), queries probe the
  *    `nProbe` nearest centroid lists. Work scales with N·nProbe/nList.
  *
  *  - [[pqKnn]] / [[pqBlockKnn]]: product-quantized candidates scored by
  *    ADC over one code scan, with an exact rerank of the short list.
  *
  *  - [[truncatedKnn]]: exact kNN on a dimension prefix, reranked in full
  *    dimension.
  *
  *  - [[hnswKnn]] / [[hnswBlockKnn]]: per-partition or sharded HNSW
  *    graphs, merged per query.
  *
  *  - [[blockKnn]]: exact kNN with the query side cut into bounded blocks.
  *
  * All are deterministic (seeded); the approximate ones are verified
  * against the exact kNN by recall tests.
  */
object ApproxKnn {

  private def hyperplanes(tables: Int, bits: Int, dim: Int, seed: Int)
      : Array[Array[Array[Float]]] = {
    val rnd = new Random(seed)
    Array.fill(tables, bits, dim)((rnd.nextGaussian()).toFloat)
  }

  /** LSH-bucketed kNN. `queries`/`candidates`: (id, vec) frames. */
  def lshKnn(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      metric: String = KnnJoin.MetricL2Sq,
      tables: Int = 8,
      bits: Int = 6,
      multiProbe: Boolean = true,
      seed: Int = 42,
      excludeSelf: Boolean = true): DataFrame = {
    // `probe=true` (query side only) additionally emits every signature at
    // Hamming distance 1 — classic multi-probe LSH: recall per table goes
    // from p^bits to P(≤1 bit differs) at the cost of (bits+1)× query rows
    // (queries are the small side; candidate storage is unchanged).
    // Signatures come from the native codegen LshBuckets expression (one
    // combined (table<<48)|sig long per bucket — table and signature were
    // only ever a compound join key); the former per-row Scala UDF boxed
    // every vector into Seq[Float] on the one path that touches all rows.
    val kernel = new org.apache.spark.sql.graft.LshKernel(
      hyperplanes(tables, bits, dim, seed))

    def bucketed(df: DataFrame, side: String, probe: Boolean) =
      graft.util.Par.balance(
        df.select(col(idCol).cast("long").as(s"${side}_id"),
          col(vecCol).as(s"__${side}_vec")))
        .withColumn("tb", explode(graft.functions.VectorExpressions
          .lshBuckets(col(s"__${side}_vec"), kernel, probe)))

    val q = bucketed(queries, "query", probe = multiProbe)
    val c = bucketed(candidates, "neighbor", probe = false)
    val joined = q.join(c, Seq("tb"))
    val filtered =
      if (excludeSelf) joined.filter(col("query_id") =!= col("neighbor_id"))
      else joined

    val dist = KnnJoin.distExpr(KnnJoin.isCosine(metric), col("__query_vec"),
      col("__neighbor_vec"))
    // score INSIDE the bucket join projection, then dedupe the multi-table /
    // multi-probe collisions on scalars only — the dedup shuffle carries
    // (q, c, dist), never the vectors (they'd dominate shuffle bytes)
    TopK.topKMerge(
      filtered
        .withColumn("dist", dist)
        .groupBy("query_id", "neighbor_id").agg(min("dist").as("dist")),
      k)
  }

  /** The standard IVF list-sizing rule: nList = max(16, ⌈√n⌉), so each
    * inverted list holds ~√n vectors and a constant-nProbe search does
    * O(nProbe·√n) candidate work per query. Shared by every auto-sizing
    * sentinel (gridKnn escalation, IvfIndex build/rebalance).
    */
  private[graft] def autoNList(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(math.max(0L, n).toDouble)).toInt)

  /** Driver-side mini k-means over a bounded sample (Lloyd iterations).
    * Deterministic: seeded sample, fixed iteration count. For cluster
    * counts beyond the sample cap (the 100 TB IVF/SemDeDup operating
    * point, 10⁴–10⁵ lists), use [[KMeans.train]] — the distributed
    * trainer with the same Lloyd contract.
    */
  private[graft] def kmeans(sample: Array[Array[Float]], nList: Int, iters: Int,
      seed: Int): Array[Array[Float]] = {
    val rnd = new Random(seed)
    // seed from DISTINCT vectors ([[KMeans.train]]'s dropDuplicates
    // contract): a duplicate-heavy sample would otherwise seed the same
    // point as several centroids — ties assign to the lowest index, the
    // clones never receive rows, and the effective list count silently
    // collapses. Like the distributed trainer, a sample with fewer than
    // nList distinct vectors yields that many centroids.
    val init = rnd.shuffle(sample.toVector).distinctBy(_.toSeq)
      .take(nList).map(_.clone()).toArray
    lloydDriver(sample, init, iters)
  }

  /** The Lloyd iteration body given explicit initial centroids — the
    * driver half of the trainer-parity contract with
    * [[KMeans.lloyd]] (same assignment rule, same double-accumulated
    * float arithmetic; the distributed form differs only in summation
    * order, i.e. float rounding).
    */
  private[graft] def lloydDriver(sample: Array[Array[Float]],
      init: Array[Array[Float]], iters: Int): Array[Array[Float]] = {
    val dim = sample.head.length
    var centroids = init
    for (_ <- 1 to iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        var best = 0
        var bestD = Double.MaxValue
        var cIdx = 0
        while (cIdx < centroids.length) {
          var d = 0.0
          var i = 0
          while (i < dim) {
            val x = v(i) - centroids(cIdx)(i); d += x * x; i += 1
          }
          if (d < bestD) { bestD = d; best = cIdx }
          cIdx += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { cIdx =>
        if (counts(cIdx) == 0) centroids(cIdx)
        else {
          val c = new Array[Float](dim)
          var i = 0
          while (i < dim) { c(i) = (sums(cIdx)(i) / counts(cIdx)).toFloat; i += 1 }
          c
        }
      }.toArray
    }
    centroids
  }

  /** IVF kNN: centroid training on a sampled subset, distributed assign +
    * probe. `sampleCap` bounds the driver materialization. Cosine runs as
    * spherical IVF — both sides unit-normalized, centroids trained on the
    * sphere, `dist` emitted as true cosine distance (normalized-L2 / 2).
    *
    * `distributedTrain` switches centroid training from the driver-Lloyd
    * sample path to [[KMeans.train]] over the FULL candidate side —
    * required when `nList` exceeds what a `sampleCap` sample can support
    * (the 10⁴–10⁵-list operating point); the driver then materializes
    * only the k trained centroids, never a vector sample.
    */
  def ivfKnn(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nList: Int = 16,
      nProbe: Int = 4,
      metric: String = KnnJoin.MetricL2Sq,
      kmeansIters: Int = 5,
      sampleCap: Int = 20000,
      seed: Int = 42,
      excludeSelf: Boolean = true,
      distributedTrain: Boolean = false): DataFrame = {
    val spark = candidates.sparkSession
    require(nProbe > 0, s"ivfKnn: nProbe must be positive, got $nProbe")
    val cosine = KnnJoin.isCosine(metric)

    val cand = KMeans.prepare(candidates, idCol, vecCol, cosine,
      "neighbor_id", "__neighbor_vec", "__neighbor_zero")
    val qry = KMeans.prepare(queries, idCol, vecCol, cosine,
      "query_id", "__query_vec", "__query_zero")
    val centroids = new KMeans.TrainingSet(cand, "neighbor_id",
      "__neighbor_vec", "__neighbor_zero", sampleCap, seed, "ivfKnn")
      .coarse(nList, kmeansIters, distributedTrain)
    // assign/probe run the native codegen nearest-centroid expressions over
    // the broadcast codebook — the assign touches EVERY candidate row, so
    // the former Scala UDF (boxed Seq[Float], interpreted, codegen barrier)
    // was the layer's one interpreter-bound inner loop
    val kernel = new org.apache.spark.sql.graft.CentroidKernel(
      spark.sparkContext.broadcast(centroids))

    val assigned = graft.util.Par.balance(cand)
      .withColumn("cid",
        graft.functions.VectorExpressions.nearestCentroid(col("__neighbor_vec"), kernel))

    val probed = graft.util.Par.balance(qry)
      .withColumn("cid", explode(graft.functions.VectorExpressions
        .nearestCentroids(col("__query_vec"), kernel, nProbe)))

    val joined = probed.join(assigned, Seq("cid"))
    val pairs =
      (if (excludeSelf) joined.filter(col("query_id") =!= col("neighbor_id"))
       else joined)
    val l2 = graft.functions.VectorExpressions.squaredL2(
      col("__query_vec"), col("__neighbor_vec"))
    val cosDist = // zero-vector convention: distance 1.0 (see KMeans.unitVectors)
      when(col("__query_zero") || col("__neighbor_zero"), lit(1.0))
        .otherwise(l2 / 2.0)
    TopK.topKMerge(
      pairs
        .withColumn("dist", if (cosine) cosDist else l2)
        .select("query_id", "neighbor_id", "dist"),
      k)
  }

  /** Block-partitioned exact kNN for the case where BOTH sides are too
    * large to broadcast at once: the query side is processed in bounded
    * blocks, each block broadcast against the full candidate side, results
    * unioned. Wall-clock scales linearly in blocks; memory stays bounded.
    *
    * Block boundaries come from a distributed `approxQuantile` sketch over
    * the id column — NOT a global ranking window, which would sort every
    * query id through one reducer. Boundaries partition the id line
    * exactly (every id lands in exactly one block), so the result is still
    * EXACT kNN; only the per-block row counts are approximate (quantile
    * error), which affects memory headroom, not correctness. Ids above
    * 2^53 lose precision through the Double quantile API — the id space
    * contract here is the same as Spark's own sampling-based range
    * partitioner.
    */
  def blockKnn(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      metric: String = KnnJoin.MetricL2Sq,
      blockSize: Int = 100000,
      excludeSelf: Boolean = true): DataFrame = {
    // null-id queries are dropped up front, so the count the blocks are
    // cut by holds only the queries that take part (the kNN node drops
    // them too), and an all-null frame fails the empty-query require
    val qs = queries.filter(col(idCol).isNotNull)
    blockKnnCounted(qs, qs.count(), candidates, idCol, vecCol, k, metric,
      blockSize, excludeSelf)
  }

  /** [[blockKnn]] for a caller that already counted its queries: `qs`
    * holds no null id and `n` is its row count (the SemLink grid's
    * escalation gate counts the same frame). `n == 0` raises
    * `IllegalArgumentException` ("empty query side") before any job.
    */
  private[graft] def blockKnnCounted(
      qs: DataFrame,
      n: Long,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      metric: String,
      blockSize: Int,
      excludeSelf: Boolean): DataFrame = {
    require(n > 0, "blockKnn: empty query side")
    unionChunked(queryBlocks(qs, n, idCol, blockSize, "blockKnn").map(
      KnnJoin.broadcastKnn(_, candidates, idCol, vecCol, k, metric,
        excludeSelf)))
  }

  /** The non-empty id blocks of `qs` (no null id, `n` rows) at about
    * `blockSize` rows each, cut by [[idBlockBounds]]. One block is `qs`
    * itself, with no job.
    */
  private def queryBlocks(qs: DataFrame, n: Long, idCol: String,
      blockSize: Int, what: String): Seq[DataFrame] = {
    val nBlocks = math.max(1L, (n + blockSize - 1) / blockSize).toInt
    if (nBlocks == 1) return Seq(qs)
    val bounds = idBlockBounds(qs, idCol, nBlocks)
    // Quantile rank error can leave an edge block with NO ids once it
    // approaches the block width (large n × coarse relErr) — and
    // HnswIndex.search treats an empty query side as caller error. One
    // scan finds which blocks actually hold ids (block index of an id =
    // how many cuts are ≤ it); empty blocks are skipped, which is exact:
    // an empty block contributes no queries, hence no result rows.
    //
    // The presence predicate and idBlock's per-block filters MUST
    // evaluate the same comparison over the same RAW column: block index
    // of an id = number of cuts c with id >= c, exactly mirroring
    // idBlock's half-open [lo, hi) bounds. A casted copy here can
    // disagree with the raw comparison there (a negative fractional id
    // truncates toward zero under cast("long")), marking a block present
    // that idBlock then empties — re-triggering the empty-query
    // failure this scan exists to prevent.
    val cuts = bounds.flatMap(_._1)
    val cutArr = array(cuts.map(lit(_)): _*)
    val present = qs
      .select(size(filter(cutArr, c => col(idCol) >= c)).as("b"))
      .groupBy("b").count().collect().map(_.getInt(0)).toSet
    val blocks = bounds.zipWithIndex.collect {
      case ((lo, hi), i) if present(i) => idBlock(qs, idCol, lo, hi)
    }
    // n > 0 puts every surviving id in exactly one block, so blocks is
    // provably non-empty — this is a guard against that invariant
    // breaking, not a reachable path (pqBlockKnn's contract)
    require(blocks.nonEmpty, s"$what: no non-empty query blocks")
    blocks
  }

  /** Union many per-block top-k results with a bounded-lineage
    * guarantee: every `chunk` frames, the running union is eagerly
    * `localCheckpoint`ed, so a 1000-block catalog (10⁸ ids / 10⁵
    * blockSize) yields a plan of ~nBlocks/chunk checkpointed leaves
    * instead of a 1000-deep Union lineage that Catalyst must re-analyze
    * on every action. Per-block results are top-k-sized (≤ blockSize × k
    * rows), so the materialized chunks are small by construction; at
    * ≤ chunk blocks — every plausible near-term catalog — no checkpoint
    * happens and the fold is the plain union it always was.
    */
  private[graft] def unionChunked(parts: Seq[DataFrame],
      chunk: Int = 32): DataFrame = {
    val grouped = parts.grouped(chunk).map(_.reduce(_.unionByName(_))).toSeq
    if (grouped.size == 1) grouped.head
    else grouped.map(_.localCheckpoint()).reduce(_.unionByName(_))
  }

  /** Quantile-cut id-line block boundaries shared by [[blockKnn]] and
    * [[pqBlockKnn]]: (lower, upper) half-open ranges partitioning the id
    * line exactly (every id lands in exactly one block) from a
    * distributed `approxQuantile` sketch — never a global ranking window.
    */
  private def idBlockBounds(queries: DataFrame, idCol: String,
      nBlocks: Int): Seq[(Option[Long], Option[Long])] = {
    val probs = (1 until nBlocks).map(_.toDouble / nBlocks).toArray
    val cuts = queries.select(col(idCol).cast("double").as("__id"))
      .stat.approxQuantile("__id", probs, 0.001)
      .map(math.ceil(_).toLong).distinct.sorted
    val lowers: Seq[Option[Long]] = None +: cuts.map(Some(_)).toSeq
    val uppers: Seq[Option[Long]] = cuts.map(Some(_)).toSeq :+ None
    lowers.zip(uppers)
  }

  private def idBlock(df: DataFrame, idCol: String,
      lo: Option[Long], hi: Option[Long]): DataFrame = (lo, hi) match {
    case (None, Some(h))    => df.filter(col(idCol) < h)
    case (Some(l), Some(h)) => df.filter(col(idCol) >= l && col(idCol) < h)
    case (Some(l), None)    => df.filter(col(idCol) >= l)
    case (None, None)       => df
  }

  /** Product-quantized kNN (FAISS `IndexPQ` contract): candidates are
    * compressed to `m`-byte PQ codes (32× smaller than 64-d float vectors
    * — the memory/shuffle story when even ids+vectors no longer fit), the
    * query side stays un-quantized, and distances come from ADC — a
    * per-query `m × ksub` lookup table built once per partition, then `m`
    * byte-indexed reads per candidate. One `mapPartitions` pass over the
    * codes keeps bounded per-query top-(rerank·k) [[TopK.Partials]],
    * merged in [[TopK.mergeTopK]] (no N² rows ever move).
    *
    * `rerank > 0` re-scores the top `rerank·k` ADC survivors per query
    * with EXACT distances against the original vectors (narrow pair rows
    * join back to the candidate table — the standard PQ short-list
    * refinement), recovering near-exact recall@k while the full scan
    * still reads only codes. `rerank = 0` returns raw ADC distances.
    *
    * Cosine runs spherical (both sides unit-normalized, ADC-L2 / 2 ≈
    * cosine distance), zero vectors score 1.0 — the ivfKnn conventions.
    * Deterministic; same output contract as the other strategies.
    */
  def pqKnn(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      metric: String = KnnJoin.MetricL2Sq,
      m: Int = 8,
      ksub: Int = 256,
      rerank: Int = 4,
      kmeansIters: Int = 5,
      sampleCap: Int = 20000,
      seed: Int = 42,
      excludeSelf: Boolean = true): DataFrame = {
    val cosine = KnnJoin.isCosine(metric)
    val (cand, qry, bcBooks, kernel) = pqPrepare(queries, candidates,
      idCol, vecCol, cosine, m, ksub, kmeansIters, sampleCap, seed, "pqKnn")

    val qRows = collectPqQueries(qry)
    require(qRows.nonEmpty, "pqKnn: empty query side")

    // the full-corpus scan reads (id, m-byte code, zero flag) — vectors
    // are gone from the hot path after the encode projection
    val codes = pqCodes(cand, kernel)

    val keep = k * math.max(1, rerank)
    val shortList = TopK.mergeTopK(qry.sparkSession,
      pqAdcPartials(codes, bcBooks, qRows, keep, excludeSelf, cosine),
      qRows.map(_._1), keep)
    if (rerank <= 0) shortList.filter(col("rank") <= k)
    else pqExactRerank(shortList, queries, candidates, idCol, vecCol, k,
      cosine, broadcastQueries = true)
  }

  /** [[pqKnn]]/[[pqBlockKnn]] shared preamble: the normalized
    * (candidates, queries) frames plus the trained codebook broadcast
    * and its ADC kernel — ONE definition, because the blocked variant's
    * recall contract is "identical codebooks: the trainer sees the same
    * sample regardless of blocking", which two drifting copies cannot
    * guarantee. An all-zero cosine candidate side trains on the zeros
    * rather than fail (the [[ivfKnn]] convention — the distance-1.0
    * zero-vector rule makes every such pair well-defined anyway, so a
    * strategy swap stays transparent).
    */
  private def pqPrepare(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      cosine: Boolean,
      m: Int,
      ksub: Int,
      kmeansIters: Int,
      sampleCap: Int,
      seed: Int,
      what: String): (DataFrame, DataFrame,
        org.apache.spark.broadcast.Broadcast[PqCodebooks],
        org.apache.spark.sql.graft.PqKernel) = {
    val spark = candidates.sparkSession
    val cand = KMeans.prepare(candidates, idCol, vecCol, cosine,
      "neighbor_id", "__neighbor_vec", "__neighbor_zero")
    val qry = KMeans.prepare(queries, idCol, vecCol, cosine,
      "query_id", "__query_vec", "__query_zero")
    val sample = new KMeans.TrainingSet(cand, "neighbor_id", "__neighbor_vec",
      "__neighbor_zero", sampleCap, seed, what).sample
    val books = Pq.train(sample, m, ksub, kmeansIters, seed)
    val bcBooks = spark.sparkContext.broadcast(books)
    (cand, qry, bcBooks, new org.apache.spark.sql.graft.PqKernel(bcBooks))
  }

  /** PQ-coded kNN for the case where BOTH sides are too large for the
    * [[pqKnn]] broadcast-query envelope: the query side is processed in
    * bounded quantile-cut id blocks (the [[blockKnn]] memory story) over
    * ONE shared codebook and ONE code scan — codes are encoded once and
    * lazily `localCheckpoint`ed, so each block's ADC pass re-reads the
    * materialized code partitions instead of re-encoding the corpus.
    * The exact short-list rerank runs ONCE over the unioned blocks with
    * shuffle joins: the full query side is never broadcast anywhere.
    * Same recall contract as [[pqKnn]] (identical codebooks: the trainer
    * sees the same sample regardless of blocking).
    */
  def pqBlockKnn(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      metric: String = KnnJoin.MetricL2Sq,
      m: Int = 8,
      ksub: Int = 256,
      rerank: Int = 4,
      kmeansIters: Int = 5,
      sampleCap: Int = 20000,
      seed: Int = 42,
      excludeSelf: Boolean = true,
      blockSize: Int = 100000): DataFrame = {
    val cosine = KnnJoin.isCosine(metric)
    val n = queries.count()
    val nBlocks = math.max(1L, (n + blockSize - 1) / blockSize).toInt
    if (nBlocks == 1)
      return pqKnn(queries, candidates, idCol, vecCol, k, metric, m, ksub,
        rerank, kmeansIters, sampleCap, seed, excludeSelf)

    val (cand, qry, bcBooks, kernel) = pqPrepare(queries, candidates,
      idCol, vecCol, cosine, m, ksub, kmeansIters, sampleCap, seed,
      "pqBlockKnn")
    // one code scan shared by every block: lazy materialization, so the
    // first block's scan writes the checkpoint blocks and later blocks
    // read them
    val codes = pqCodes(cand, kernel).localCheckpoint(eager = false)

    val keep = k * math.max(1, rerank)
    // the blocks' query ids are disjoint, so each merges on its own
    val merged = idBlockBounds(qry, "query_id", nBlocks).flatMap { case (lo, hi) =>
      val qRows = collectPqQueries(idBlock(qry, "query_id", lo, hi))
      if (qRows.isEmpty) None
      else Some(TopK.mergeTopK(qry.sparkSession,
        pqAdcPartials(codes, bcBooks, qRows, keep, excludeSelf, cosine),
        qRows.map(_._1), keep))
    }
    require(merged.nonEmpty, "pqBlockKnn: empty query side")
    val shortList = unionChunked(merged)
    if (rerank <= 0) shortList.filter(col("rank") <= k)
    else pqExactRerank(shortList, queries, candidates, idCol, vecCol, k,
      cosine, broadcastQueries = false)
  }

  /** Collect one (bounded) query block for the PQ broadcast, ordered by
    * id: the caller guarantees the block size envelope.
    */
  private def collectPqQueries(qry: DataFrame): Array[(Long, Array[Float], Boolean)] = {
    import qry.sparkSession.implicits._
    qry.select(col("query_id"), col("__query_vec").cast("array<float>"),
        col("__query_zero"))
      .as[(Long, Array[Float], Boolean)].collect().sortBy(_._1)
  }

  /** The (id, m-byte code, zero flag) projection of a normalized
    * candidate side — the only thing the PQ scan ever reads.
    */
  private def pqCodes(cand: DataFrame,
      kernel: org.apache.spark.sql.graft.PqKernel)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte], Boolean)] = {
    import cand.sparkSession.implicits._
    graft.util.Par.balance(cand)
      .select(col("neighbor_id"),
        graft.functions.VectorExpressions.pqEncode(col("__neighbor_vec"), kernel)
          .as("__code"),
        col("__neighbor_zero"))
      .as[(Long, Array[Byte], Boolean)]
  }

  /** One ADC pass of a broadcast query block (ordered by id) over the
    * code scan: per-query LUT built once per partition, bounded
    * per-partition top-`keep` [[TopK.Partials]].
    */
  private def pqAdcPartials(
      codes: org.apache.spark.sql.Dataset[(Long, Array[Byte], Boolean)],
      bcBooks: org.apache.spark.broadcast.Broadcast[PqCodebooks],
      qRows: Array[(Long, Array[Float], Boolean)],
      keep: Int,
      excludeSelf: Boolean,
      cosine: Boolean): org.apache.spark.rdd.RDD[TopK.Partials] = {
    val bcQ = codes.sparkSession.sparkContext.broadcast(qRows)
    val (kL, ex, cos) = (keep, excludeSelf, cosine)
    codes.rdd.mapPartitions { it =>
      val cb = bcBooks.value
      val q = bcQ.value
      val qZero = q.map(_._3)
      val luts = q.map(r => cb.adcTable(r._2))
      Iterator(TopK.scan(q.map(_._1), kL, ex, TopK.everyQuery(q.length,
          it.map { case (cid, code, czero) => (cid, (code, czero)) })) {
        case (code, czero) => j =>
          if (cos && (qZero(j) || czero)) 1.0
          else if (cos) cb.adcDist(code, luts(j)) / 2.0
          else cb.adcDist(code, luts(j))
      })
    }
  }

  /** Truncated-dimension kNN — the Matryoshka/prefix-search shape
    * (Kusupati et al., NeurIPS 2022: MRL embeddings front-load
    * information into the leading components; OpenAI's `dimensions`
    * parameter is the same contract). Stage 1 ranks on the first
    * `truncDim` components only, cutting the candidate pass's scan,
    * broadcast, and distance-kernel cost by truncDim/dim; an exact
    * full-dimension rerank over the k·`rerank` short list restores
    * precision. Recall follows the energy the prefix carries — near-1
    * for MRL-trained embeddings, lower for raw ones (the SparkEntry gate
    * measures the raw case as the adversarial floor). `rerank` trades
    * stage-2 width for recall exactly like [[pqKnn]]'s short list.
    *
    * Same contract as every kNN strategy here: deterministic
    * (query_id, neighbor_id, dist, rank), dist exact in full dimension.
    */
  def truncatedKnn(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      truncDim: Int,
      metric: String = KnnJoin.MetricL2Sq,
      rerank: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    require(truncDim > 0, s"truncatedKnn: truncDim must be positive, got $truncDim")
    val cosine = KnnJoin.isCosine(metric)
    def trunc(df: DataFrame) = df.select(col(idCol),
      slice(col(vecCol), 1, truncDim).as(vecCol))
    val keep = k * math.max(1, rerank)
    val shortList = KnnJoin.broadcastKnn(trunc(queries), trunc(candidates),
      idCol, vecCol, keep, metric, excludeSelf)
    pqExactRerank(shortList, queries, candidates, idCol, vecCol, k,
      cosine, broadcastQueries = true)
  }

  /** Exact refinement of a short list (ADC or truncated-dimension, and
    * [[IvfIndex]]'s PQ search): narrow (q, c) pair rows join back to the
    * vector tables, and the ranking window keeps k per query. The
    * candidate join is a plain shuffle join on 8-byte ids;
    * `broadcastQueries` hints the query-vector side only on the
    * single-broadcast paths — the block path (query side too large to
    * broadcast by definition) shuffles both.
    */
  private[knn] def pqExactRerank(
      shortList: DataFrame,
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      cosine: Boolean,
      broadcastQueries: Boolean): DataFrame = {
    val qv0 = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("__qv"))
    val qv = if (broadcastQueries) broadcast(qv0) else qv0
    val cv = candidates.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("__cv"))
    val exact = shortList.select("query_id", "neighbor_id")
      .join(qv, "query_id")
      .join(cv, "neighbor_id")
      .withColumn("dist", KnnJoin.distExpr(cosine, col("__qv"), col("__cv")))
      .select("query_id", "neighbor_id", "dist")
    TopK.topKMerge(exact, k)
  }

  /** [[hnswBlockKnn]]'s scratch-dir placement guard, factored out so the
    * message is spec-testable without a non-local cluster: the DEFAULT
    * (owned) scratch dir is a driver-local temp path, which executors on
    * any non-local master cannot read — the build would scatter graph
    * files across machine-local disks and the search would restore
    * nothing. Refuse loudly instead.
    */
  private[graft] def requireLocalScratch(master: String, owned: Boolean): Unit =
    require(!owned || master.startsWith("local"),
      s"hnswBlockKnn: the default scratchDir is DRIVER-LOCAL temp space, " +
        s"which executors under master '$master' cannot read — pass a " +
        "shared-filesystem scratchDir (hdfs:/s3a:/...) on non-local " +
        "deployments")

  /** HNSW kNN for the case where the QUERY side is too large to
    * broadcast at once — the flagship grid's self-kNN, where queries ==
    * candidates == the whole catalog. [[hnswKnn]] rebuilds its
    * per-partition graphs inside every call's `mapPartitions`, so
    * blocking the query side over it would pay the O(N·efC·M) graph
    * build once per block; here the sharded graphs are built ONCE into
    * a scratch [[HnswIndex]] (the persisted family — same graphs, same
    * beam, drift-gated by HnswIndexSpec/SCALE `hnsw_drift`), and the
    * query side streams through it in bounded id-blocks (the
    * [[blockKnn]] quantile-cut machinery), each block broadcast against
    * every shard's restored graph.
    *
    * Scale shape: per-query work is `shards · ef · M · log(N/shards)` —
    * the N·log N self-join, vs auto-√N IVF's Θ(N^1.5) — and, unlike the
    * IVF escalation, no candidate PAIR ROWS ever materialize into a
    * shuffle (the IVF path ships nProbe·N/nList vector pairs per query
    * through the cid join; the beam stays inside `mapPartitions` and
    * emits only top-k rows). Driver/broadcast memory is bounded by
    * `queryBlockSize` vectors per block; `shards` is a fixed parallelism
    * knob, so per-shard graph memory (N/shards nodes) is the scale LIMIT
    * of the full-fan-out design — grow shards past executor memory and
    * the `shards·ef` fan-out term takes over.
    *
    * `efSearch <= 0` means full beam (ef = each shard's node count): every
    * node reachable in a shard's graph is explored — the q97 convention.
    * A node that an insert left unreachable is still missed, so even the
    * full beam is not guaranteed to equal brute force.
    *
    * Result: with the default (owned) scratch dir every block is
    * computed and `localCheckpoint`ed before this returns, and the dir is
    * deleted — unreplicated executor state, so a lost executor makes the
    * frame unrecoverable, a second reason the default is local-mode only.
    * With a caller-provided `scratchDir` each block comes back as
    * [[HnswIndex.search]] returns it: a local frame when its partials fit
    * [[TopK.driverMerges]], else a range reduce computed lazily over the
    * dir, recomputable while the caller keeps it.
    */
  def hnswBlockKnn(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      metric: String = KnnJoin.MetricL2Sq,
      m: Int = 16,
      efConstruction: Int = 100,
      efSearch: Int = 64,
      shards: Int = 32,
      queryBlockSize: Int = 100000,
      excludeSelf: Boolean = true,
      seed: Int = 42,
      scratchDir: Option[String] = None): DataFrame = {
    val spark = candidates.sparkSession
    // an owned (caller-unspecified) scratch dir is deleted as soon as the
    // last block is answered — a long-lived driver calling the HNSW grid
    // tier repeatedly must not accumulate one on-disk graph copy per call
    // until JVM exit (TempDirs stays registered as the crash backstop),
    // which makes the owned path's result eager (see the scaladoc). A
    // caller-provided scratchDir is caller-owned and left in place.
    // NOTE the default is a DRIVER-LOCAL temp path — fine in local mode;
    // on a real cluster pass a shared-FS scratchDir (the graphs are
    // written and re-read through the Hadoop FS API, so any hdfs:/s3a:
    // path works) — the guard below REFUSES the default off local masters
    // rather than letting executors silently write graphs to a path only
    // the driver can see.
    val owned = scratchDir.isEmpty
    requireLocalScratch(spark.sparkContext.master, owned)
    val dir = scratchDir.getOrElse {
      val d = java.nio.file.Files.createTempDirectory("graft_hnsw_block")
        .toString
      graft.util.TempDirs.register(d)
      d
    }
    // efSearch is pinned (to the raw default — never served: every
    // search below passes the caller's resolved beam explicitly with
    // efAutoScale = false) so the scratch build SKIPS HnswIndex's
    // untuned-path shape probe: the grid gate already classified this
    // catalog before choosing the beam it passes here, and paying a
    // second full-catalog contrast pass per grid call — to resolve a
    // serving default nothing reads — would be pure waste
    HnswIndex.build(candidates, idCol, vecCol, dir, m = m,
      efConstruction = efConstruction, metric = metric, shards = shards,
      seed = seed, efSearch = HnswIndex.DefaultServeEf)
    // null-id queries are dropped once, up front — the blockKnn contract
    val qs = queries.filter(col(idCol).isNotNull)
    val blocks = queryBlocks(qs, qs.count(), idCol, queryBlockSize,
      "hnswBlockKnn")
    // efAutoScale = false: this is a RAW primitive — `efSearch` is the
    // caller's knob verbatim (the grid gate applies graft.knn.BeamLaw
    // BEFORE calling here; letting the scratch index's search scale it
    // again would double-apply the law)
    val out = unionChunked(blocks.map { b =>
      val rows = HnswIndex.search(spark, dir, b, idCol, vecCol, k, efSearch,
        excludeSelf, efAutoScale = false)
      if (owned) rows.localCheckpoint() else rows
    })
    if (owned) {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      // local mode (requireLocalScratch): the executors' resident graphs
      // live in this JVM
      HnswIndex.resident.evict(fs.makeQualified(p).toString)
    }
    out
  }

  /** Graph-based ANN: sharded HNSW (the reference's hnswlib contract,
    * DeepJoin/annIndex.py:12–40, distributed the standard way). Each
    * candidate PARTITION builds an independent [[HnswGraph]] in one
    * task — graphs are memory-bounded by partition size and never
    * serialized or shuffled — the broadcast query set beams through
    * every shard (`efSearch`; `<= 0` is the full beam of each
    * partition's graph), and each task returns its per-query top-k as
    * [[TopK.Partials]], which [[TopK.mergeTopK]] merges. Per-shard
    * search is sublinear in partition size, so total query work scales
    * with `partitions · ef · log n_p` instead of N.
    *
    * Contract: (query_id, neighbor_id, dist, rank), rank by (dist,
    * neighbor_id) ascending as every kNN strategy ranks; deterministic
    * (seeded levels, index-tie-broken heaps). When the partials fit
    * [[TopK.driverMerges]] the result is a local frame, computed when
    * this returns: two Spark jobs (the query collect and the
    * build-and-beam fold) and no exchange; larger ones merge in a range
    * reduce ([[TopK.rangeMerge]]). `HnswGoldenSpec`'s `GoldenHnswKnn`
    * digest pins the rows.
    */
  def hnswKnn(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      metric: String = KnnJoin.MetricL2Sq,
      m: Int = 16,
      efConstruction: Int = 100,
      efSearch: Int = 64,
      seed: Int = 42,
      excludeSelf: Boolean = true): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val cosine = KnnJoin.isCosine(metric)
    val bc = spark.sparkContext.broadcast(
      TopK.collectQueries(queries, idCol, vecCol, "hnswKnn"))
    val (mL, efC, efS, kL, ex) = (m, efConstruction, efSearch, k, excludeSelf)

    val partials = graft.util.Par.balance(
      candidates.select(col(idCol).cast("long"), col(vecCol).cast("array<float>")))
      .as[(Long, Array[Float])]
      .rdd
      .mapPartitions { it =>
        val g = new HnswGraph(mL, efC, cosine, seed)
        it.foreach { case (id, v) => g.insert(id, v) }
        Iterator(HnswSearch.beamAll(g, bc.value, kL, efS, ex))
      }

    TopK.mergeTopK(spark, partials, bc.value.map(_._1), k)
  }
}

/** Shared query-side machinery for the in-memory ([[ApproxKnn.hnswKnn]])
  * and persisted ([[HnswIndex.search]]) HNSW paths — one implementation
  * of the beam body, so the two paths cannot drift. Both merge their
  * per-shard [[TopK.Partials]] in [[TopK.mergeTopK]].
  */
private[knn] object HnswSearch {

  /** Beam every query through one shard's graph: per-query top-k partials
    * with self-exclusion (search k+1, drop self, keep k), copied out of
    * the kernel's ranked result arrays, which the next query reuses.
    * The beam is `max(efSearch, k + 1)`; `efSearch <= 0` is the full
    * beam, the shard's node count. This is the one place every HNSW
    * caller's beam is resolved. `queries` are ordered by id
    * ([[TopK.collectQueries]]); a repeated id's hits join one run.
    */
  def beamAll(g: HnswGraph, queries: Array[(Long, Array[Float])], k: Int,
      efSearch: Int, excludeSelf: Boolean): TopK.Partials = {
    val want = k + (if (excludeSelf) 1 else 0)
    val ef = math.max(if (efSearch > 0) efSearch else g.size, k + 1)
    val ids = new Array[Long](math.max(0, math.min(want, g.size)))
    val dists = new Array[Double](ids.length)
    val cap = queries.length.toLong * math.max(0, math.min(k, g.size))
    require(cap <= Int.MaxValue, s"HnswSearch: $cap partial rows exceed " +
      "one array; split the query side into blocks")
    val qs = new Array[Long](cap.toInt)
    val ns = new Array[Long](cap.toInt)
    val ds = new Array[Double](cap.toInt)
    var n = 0
    queries.foreach { case (qid, qv) =>
      val r = if (ids.isEmpty) 0 else g.searchInto(qv, want, ef, ids, dists)
      var kept = 0
      var i = 0
      while (i < r && kept < k) {
        if (!(excludeSelf && ids(i) == qid)) {
          qs(n) = qid; ns(n) = ids(i); ds(n) = dists(i); n += 1; kept += 1
        }
        i += 1
      }
    }
    TopK.Partials.ranked(qs, ns, ds, n, k)
  }
}
