package graft.knn

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent IVF index (SURVEY.md S11, re-expressed Spark-native — the
  * reference serializes an in-process binary ANN index to disk and mmaps
  * it back, DeepJoin/annIndex.py; a single-machine byte blob has no
  * distributed analog, but the INDEX-AS-DATA layout does):
  *
  *  - `centroids/`  — (cid, vec): the trained coarse quantizer, tiny;
  *  - `assignments/` — (id, vec) parquet PARTITIONED BY cid: each inverted
  *    list is a partition directory, so a probe of `nProbe` lists becomes
  *    a partition-pruned scan that never touches the other lists' files;
  *  - `params/` — one row (n_list, metric, seed, n_at_train): like
  *    [[HnswIndex]]'s `params/`, the metric rides IN the index — search
  *    and append read it from disk, so a caller cannot probe a
  *    cosine-built index with L2; `n_at_train` anchors the [[staleness]]
  *    rebuild-cadence signal.
  *
  * Cosine runs as spherical IVF: the quantizer is trained on unit-
  * normalized vectors and both assign and probe normalize on the fly, but
  * the assignments store the ORIGINAL vectors — search emits true cosine
  * distance (dot/norms in double, [[TopK.exact]]), bit-compatible with
  * [[KnnJoin.broadcastKnn]]'s cosine output. Zero vectors keep the
  * engine-wide distance-1.0 convention.
  *
  * Build once, search many times from any session — the same contract as
  * the reference's save/load, with the probe pruning enforced by the
  * storage layout instead of an in-memory structure.
  */
object IvfIndex {

  /** The output schema of [[search]] — the one constant downstream code
    * (e.g. the streaming probe's empty-input branch) should derive empty
    * frames from, so shape changes cannot drift silently.
    */
  val searchSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("neighbor_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dist",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType)))

  /** Train the coarse quantizer on a bounded sample and persist the index
    * layout. Returns the centroid count actually used.
    *
    * `pqM > 0` additionally trains product-quantization codebooks (FAISS
    * `IndexIVFPQ` contract: `pqM` subspaces × `pqKsub` centroids, see
    * [[Pq]]) on the same sample and stores an m-byte `code` column in
    * every list — [[search]] with `usePq = true` then scans codes
    * instead of vectors. `pqByResidual` (default, matching FAISS) makes
    * the codes quantize `v − coarseCentroid` instead of `v`: within a
    * list every vector shares the centroid offset, so the residual cloud
    * is far tighter than absolute positions and the same code budget
    * buys materially lower quantization error. Codebooks persist under
    * `pq/` as (s, c, vec, residual) rows; their absence marks a
    * vectors-only index.
    *
    * `nList <= 0` sizes the list count automatically as max(16, ⌈√N⌉)
    * over the candidate count ([[ApproxKnn.autoNList]]) — the standard
    * IVF rule; costs one extra count job, only on the sentinel path.
    * Auto sizing past the sample cap (N ≳ 4·10⁸ at the default cap)
    * still wants `distributedTrain` — the driver trainer clamps the
    * centroid count to the collected sample as before.
    */
  def build(
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      nList: Int = 16,
      metric: String = KnnJoin.MetricL2Sq,
      kmeansIters: Int = 5,
      sampleCap: Int = 20000,
      seed: Int = 42,
      pqM: Int = 0,
      pqKsub: Int = 256,
      pqByResidual: Boolean = true,
      distributedTrain: Boolean = false,
      twoLevelAssign: Boolean = false,
      twoLevelProbes: Int = 4): Int =
    // same single-writer lock as append/rebalance: a build racing a live
    // append would Overwrite lists the append is mid-commit on, silently
    // losing the append's rows
    graft.util.IndexLock.withLock(candidates.sparkSession, dir,
        "IvfIndex.build") {
      // one column-pruned count serves the auto-nList rule AND the
      // training-time corpus size persisted for [[staleness]]
      val nCand = candidates.count()
      val lists = if (nList > 0) nList else ApproxKnn.autoNList(nCand)
      buildLocked(candidates, idCol, vecCol, dir, lists, metric, kmeansIters,
        sampleCap, seed, pqM, pqKsub, pqByResidual, distributedTrain,
        twoLevelAssign, twoLevelProbes, nCand)
    }

  private def buildLocked(
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      nList: Int,
      metric: String,
      kmeansIters: Int,
      sampleCap: Int,
      seed: Int,
      pqM: Int,
      pqKsub: Int,
      pqByResidual: Boolean,
      distributedTrain: Boolean,
      twoLevelAssign: Boolean,
      twoLevelProbes: Int,
      nAtTrain: Long): Int = {
    val spark = candidates.sparkSession
    import spark.implicits._
    // a crashed rebalance/build must not leak staged tables into this
    // build's staging (a stale assignments.tmp would roll "forward" over
    // the fresh index at the next writer entry)
    recover(spark, dir)
    val cosine = KnnJoin.isCosine(metric)
    // the quantizer trains in assign space (unit vectors under cosine);
    // `distributedTrain` lifts it onto [[KMeans.train]] over the full
    // candidate side. PQ codebooks (ksub ≤ 256 by the byte-code format)
    // train on the bounded sample either way.
    val training = new KMeans.TrainingSet(
      KMeans.prepare(candidates, idCol, vecCol, cosine, "__id", "__vec", "__zero"),
      "__id", "__vec", "__zero", sampleCap, seed, "IvfIndex.build")
    val centroids = training.coarse(nList, kmeansIters, distributedTrain)

    // ONE broadcast of the coarse codebook per build: shared by the
    // residual-sample probe below and writeAssignments' kernels — each
    // executor caches a single copy
    val bcCentroids = spark.sparkContext.broadcast(centroids)
    // all four tables are STAGED as <table>.tmp and committed by the
    // same marker-protected swap as rebalance: a rebuild-in-place that
    // overwrote the live tables sequentially could crash between the
    // centroids write and the assignments write, leaving a NEW quantizer
    // over OLD lists — probe cids computed against centroids the
    // persisted cid values were never assigned under, and recall
    // silently collapses with no error raised.
    // The staged writes are ORDER-INDEPENDENT (the marker is written
    // only after ALL staging; any partial-staging crash rolls back), so
    // the two tiny driver-relation writes below overlap the heavy
    // pq-train + assignments leg (guide §2.6) instead of serializing
    // three scheduler round-trips ahead of it.
    def stageTinyTables(): Unit = {
      centroids.zipWithIndex
        .map { case (v, i) => (i, v) }.toSeq.toDF("cid", "vec")
        .repartition(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids.tmp")
      // n_at_train: the corpus size the quantizer (and codebooks, if any)
      // trained on — the denominator-anchor [[staleness]] reports drift
      // against. A fresh build trains everything, so it IS the corpus size.
      Seq((centroids.length, metric, seed, nAtTrain))
        .toDF("n_list", "metric", "seed", "n_at_train")
        .repartition(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/params.tmp")
    }
    // PQ codebooks train on the same (assign-space) sample: under cosine
    // the sample is already unit-normalized, so codes quantize the sphere
    // the distances are measured on. Residual mode trains on
    // v − nearestCoarseCentroid(v) — the cloud the codes will actually
    // quantize at write time.
    def stageHeavyTables(): Option[(PqCodebooks, Boolean)] = {
    val pq =
      if (pqM <= 0) None
      else {
        // the SAME kernel arithmetic as the distributed write-time assign
        // (one source of truth for the assignment rule — a private
        // re-implementation could drift and silently degrade codebooks)
        val probe = new org.apache.spark.sql.graft.CentroidKernel(bcCentroids)
        val sample = training.sample
        val trainSample =
          if (!pqByResidual) sample
          else sample.map { v =>
            val c = centroids(probe.nearestOne(
              new org.apache.spark.sql.catalyst.util.GenericArrayData(v)))
            val r = new Array[Float](v.length)
            var i = 0
            while (i < v.length) {
              r(i) = v(i) - (if (i < c.length) c(i) else 0.0f); i += 1
            }
            r
          }
        Some((Pq.train(trainSample, pqM, pqKsub, kmeansIters, seed),
          pqByResidual))
      }
    pq.foreach { case (cb, residual) =>
      (for { s <- 0 until cb.m; c <- 0 until cb.ksub }
        yield (s, c, cb.centroids(s)(c), residual))
        .toDF("s", "c", "vec", "residual")
        .repartition(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/pq.tmp")
    }
    // pqM <= 0 stages nothing for pq/: the live table (if a previous
    // build wrote one) is deleted inside the marker window below — a
    // surviving stale codebook would make append() re-add codes with
    // books trained on data this build replaced

    // twoLevelAssign: sublinear per-row assign for large nList (the
    // 10⁴–10⁵-list build path) — see KMeans.twoLevelIndex. Approximate
    // at cell boundaries; list membership shifts, search stays exact
    // within probed lists. Append keeps the exact assign (a mode mismatch
    // only perturbs list balance, but defaults should round-trip).
    val assignKernel =
      KMeans.assignKernel(bcCentroids, twoLevelAssign, twoLevelProbes, seed)
    writeAssignments(candidates, idCol, vecCol, dir, bcCentroids, cosine, pq,
      SaveMode.Overwrite, assignKernel, table = "assignments.tmp")
    pq
    }
    val (pq, _) = graft.util.Overlap.par2(stageHeavyTables(), stageTinyTables())

    // the BUILD op tells roll-forward recovery to also clear the stale
    // pq table, the anchor and the ingest state ([[postSwap]])
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    graft.util.StagedTables.commit(fs, dir, CommitMarker,
      if (pq.isEmpty) MarkerBuildClearPq else MarkerBuild, SwappedTables)(
      postSwap(spark, fs, dir))
    // the post-build displacement ANCHOR ([[staleness]]'s operating
    // rule): measured on the just-committed index at the staleness
    // probe's defaults and persisted beside the training-time corpus
    // size, so [[staleness]] can emit `displacement_ratio` and
    // `rebuild_due` from index state alone — the r18 artifact's alarm
    // required the operator to have kept this number themselves
    pq.foreach { p =>
      // the build holds every piece of metadata the probe needs — no
      // re-reads of the tables it just wrote (and no memo: gen unused)
      val snap = graft.util.Snapshot(dir, 0L,
        new Meta(centroids, metric, nAtTrain, dir, Some(Some(p))))
      measureAdcDisplacement(spark, snap, nAtTrain,
        AnchorProbeQueries, AnchorK, AnchorNProbe, AnchorRerank, AnchorSeed)
        .foreach(d => writeAnchor(spark, fs, dir, d))
    }
    centroids.length
  }

  /** Distributed assign + partitioned write shared by [[build]] and
    * [[append]]. The nearest-centroid assign runs the native codegen
    * expression over the broadcast codebook — it touches EVERY row, the
    * one loop that matters at 100 TB build time. Under cosine the assign
    * sees the unit-normalized copy of each vector (the quantizer lives on
    * the sphere) while the ORIGINAL vector is what lands in the list.
    */
  private def writeAssignments(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      bcCentroids: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]],
      cosine: Boolean,
      pq: Option[(PqCodebooks, Boolean)],
      mode: SaveMode,
      kernel: org.apache.spark.sql.graft.CentroidIndex,
      table: String = "assignments"): Unit = {
    val spark = vectors.sparkSession
    val base = graft.util.Par.balance(
      vectors.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vec")))
    // under cosine the assign sees the unit copy of each vector
    val (assignable, assignVec) =
      if (cosine) (KMeans.unitVectors(base, "vec", "__unit", "__zero"), col("__unit"))
      else (base, col("vec"))
    val withCid = assignable.withColumn("cid",
      graft.functions.VectorExpressions.nearestCentroid(assignVec, kernel))
    // the PQ code quantizes the ASSIGN-space vector (normalized under
    // cosine) — the same vector ADC distances are measured against; in
    // residual mode the code quantizes its offset from the list centroid
    val withCode = (pq match {
      case None => withCid
      case Some((cb, residual)) =>
        val pqKernel = new org.apache.spark.sql.graft.PqKernel(
          spark.sparkContext.broadcast(cb),
          if (residual) bcCentroids else null)
        withCid.withColumn("code",
          if (residual)
            graft.functions.VectorExpressions.pqEncodeResidual(
              assignVec, col("cid"), pqKernel)
          else
            graft.functions.VectorExpressions.pqEncode(assignVec, pqKernel))
    }).drop("__unit", "__zero")
    // cluster by list before writing: without this every task writes a
    // sliver into every cid directory (tasks × nList small files — slow
    // to commit here, slow to list/read at scale). One shuffle buys one
    // well-sized file per list per write; for petabyte lists, salt the
    // partition key to split a hot list across writers.
    // PLACEMENT: when the list count is at most the shuffle parallelism,
    // a bare repartition(col("cid")) Murmur3-collides list ids — ~1/e of
    // the writer tasks idle while others write two whole lists (the
    // measured HnswIndex build/search failure mode, graft.util
    // .ShardSlots) — so small-nList writes place one list per task via
    // the slot mapping. Past that, nList >> partitions and hash placement
    // is statistically balanced (each task writes ~nList/partitions
    // lists), where a 1:1 slot layout would only shrink parallelism.
    val nList = bcCentroids.value.length
    val shufflePartitions = spark.sessionState.conf.numShufflePartitions
    val placed =
      if (nList <= shufflePartitions)
        withCode
          .withColumn("__slot",
            graft.util.ShardSlots.slotCol(col("cid"), 0 until nList))
          .repartition(nList, col("__slot"))
          .drop("__slot")
      else withCode.repartition(col("cid"))
    placed
      .write.mode(mode)
      .partitionBy("cid")
      .parquet(s"$dir/$table")
  }

  /** Append new vectors into the existing index WITHOUT retraining: each
    * vector is assigned against the persisted centroids (under the
    * persisted metric) and written into its cid partition directory
    * (parquet append adds files, never rewrites lists). This is the 100 TB
    * maintenance story — ingesting a new batch costs one assign pass over
    * the batch, not an index rebuild. The coarse quantizer stays fixed,
    * exactly like FAISS `IndexIVF.add` after training (reference keeps a
    * build-once index the same way, DeepJoin/annIndex.py:42–51). Returns
    * the appended row count.
    *
    * Centroid drift: appended data from a shifted distribution degrades
    * list balance, not correctness (search stays exact within probed
    * lists). [[rebalance]] re-trains the quantizer in place when drift
    * warrants it. Maintenance is single-writer, enforced by
    * [[graft.util.IndexLock]]: append and rebalance take the per-index
    * `_writer.lock` and fail fast on contention.
    *
    * Ids must be unique corpus-wide, as in every index family: the
    * guarded [[graft.util.IndexWriter.append]] refuses a batch that
    * repeats an id or carries one the index already holds (a retried
    * crashed append re-submitting a committed batch would otherwise land
    * every id twice in its cid partition, and search would return that
    * neighbor twice within top-k).
    */
  def append(
      spark: SparkSession,
      dir: String,
      newVectors: DataFrame,
      idCol: String,
      vecCol: String): Long =
    graft.util.IndexWriter.append(spark, dir, newVectors, idCol,
      writer(idCol, vecCol))

  /** The writer half of this index ([[graft.util.IndexWriter]]): the
    * batch is written as it is ([[appendPrepared]]); a public append
    * counts the pinned batch.
    */
  private[graft] def writer(idCol: String, vecCol: String)
      : graft.util.IndexWriter[Snapshot] =
    graft.util.IndexWriter[Snapshot]("IvfIndex", recover, readIds, open,
      prepare = (_, _, batch) => batch,
      write = { (sp, snap, batch, micro) =>
        appendPrepared(sp, snap, batch, idCol, vecCol)
        if (micro) -1L else batch.count()
      })

  /** [[append]]'s assign-and-write body against an opened snapshot. The
    * caller holds the writer lock and opened the snapshot after
    * [[recover]] ([[writer]]).
    */
  private[graft] def appendPrepared(
      spark: SparkSession,
      snap: Snapshot,
      newVectors: DataFrame,
      idCol: String,
      vecCol: String): Unit = {
    val bc = spark.sparkContext.broadcast(snap.meta.centroids)
    writeAssignments(newVectors, idCol, vecCol, snap.dir, bc,
      KnnJoin.isCosine(snap.meta.metric), snap.meta.pq(spark), SaveMode.Append,
      new org.apache.spark.sql.graft.CentroidKernel(bc))
  }

  /** The quantizer of `dir`: centroids, metric and training-time corpus
    * size, read when the snapshot opens, and the PQ codebooks
    * (`Some(None)`: none), read on first use — a plain probe pays no
    * codebook collect.
    */
  private[graft] final class Meta(val centroids: Array[Array[Float]],
      val metric: String, val nAtTrain: Long, dir: String,
      private var pqRead: Option[Option[(PqCodebooks, Boolean)]]) {
    def pq(spark: SparkSession): Option[(PqCodebooks, Boolean)] = synchronized {
      if (pqRead.isEmpty) pqRead = Some(loadPq(spark, dir))
      pqRead.get
    }
  }

  private[graft] type Snapshot = graft.util.Snapshot[Meta]

  // `assignments/` stays out of the key: appends grow it every batch
  private val memo = new graft.util.MetaMemo[Meta](Seq("centroids", "params", "pq"))

  /** The snapshot [[probe]] and [[writer]] consume: centroids
    * and metric come from a generation-keyed [[graft.util.MetaMemo]]
    * (two collects on a miss, none on a hit; a [[build]] or
    * [[rebalance]] commit is a miss).
    */
  private[graft] def open(spark: SparkSession, dir: String): Snapshot =
    memo.open(spark, dir) {
      val (metric, nAtTrain) = loadParams(spark, dir)
      new Meta(loadCentroids(spark, dir), metric, nAtTrain, dir, None)
    }

  /** The committed id set (one `id` column, column-pruned scan — no
    * vector I/O). Package-private for the streaming ingester's freshness
    * marker join, mirroring [[graft.text.Bm25Index.readDoclens]] /
    * [[graft.dedup.LshDedupIndex.readSignatures]].
    */
  private[graft] def readIds(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/assignments").select(col("id"))

  /** Per-list occupancy of a persisted index: (cid, n_vectors), one row
    * per inverted list. The balance diagnostic that decides rebuild
    * cadence — drifted appends skew lists, and probe latency follows the
    * LARGEST probed list, not the mean. Reads only the partition column
    * (column-pruned scan, no vector I/O).
    */
  def stats(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/assignments")
      .groupBy("cid").agg(count(lit(1)).as("n_vectors"))

  /** Rebuild-cadence signal — the operational answer to "when is rebuild
    * due?" that the IVF-PQ drift harness (IvfPqDrift) measures
    * offline. One row:
    *
    *  - `n_rows` — current corpus size (column-pruned id scan);
    *  - `n_at_train` — corpus size when the quantizer/codebooks last
    *    trained;
    *  - `frac_appended_since_train` — (n_rows − n_at_train)/n_rows, the
    *    CHEAP proxy: appends are the only way corpus and training drift
    *    apart (builds and vectors-only rebalances reset the anchor;
    *    PQ rebalances preserve it because they keep the codebooks);
    *  - `mean_adc_displacement` — the DIRECT quality signal, PQ indexes
    *    only (null otherwise): over `probeQueries` sampled member
    *    vectors, the mean |ADC rank − exact rank| of the exact top-k
    *    within the k·rerank ADC shortlist, from two probes of the live
    *    index. Fresh codebooks order the shortlist nearly exactly
    *    (displacement ≈ small); drifted appends quantize badly and the
    *    ADC order scrambles — the same mechanism that collapsed recall
    *    in the drift harness (build 0.69 → drifted 0.22 at the 20k
    *    tier), caught here from the index alone, no ground truth or
    *    harness run needed.
    *
    * Operating rule — MEASURED, not a trend-reading exercise
    * (the `ivfpqdrift` probe reads this signal beside every drift
    * stage's harness recall; SCALE_r19_ivfpq_staleness_uniform.json is
    * the current-bracket artifact, measured under the r19 hash-ordered
    * training sample, with SCALE_r18_ivfpq_staleness.json as the prior
    * realization): every PQ [[build]] snapshots the post-build
    * `mean_adc_displacement` into the index (`adc_anchor/`, beside
    * `n_at_train` — its absolute value is corpus-dependent: ~3.9–3.95
    * at the 20k tier vs 8.73 at 2k, where the k·rerank shortlist width
    * saturates it), and this row alarms when the live value reaches
    * [[AdcDisplacementAlarmRatio]]× that anchor:
    *
    *  - `disp_at_train` — the persisted anchor (null: anchor-less
    *    legacy/vectors-only index, or a build that crashed between its
    *    commit and the anchor write);
    *  - `displacement_ratio` — live/anchor, null unless the live probe
    *    ran the same protocol the anchor records (probeQueries, k,
    *    nProbe, rerank, seed all match — a mismatched probe is not the
    *    measured bracket);
    *  - `rebuild_due` — ratio ≥ [[AdcDisplacementAlarmRatio]], the
    *    one-line CODEBOOK-cadence answer, from index state alone (no
    *    operator-kept snapshot; [[rebuildDue]] remains for callers
    *    holding their own anchor).
    *
    * The alarm's semantics are CODEBOOK staleness — see the threshold
    * constant's scaladoc for the two-realization bracket (fresh ≤ 1.20×,
    * codebook-stale ≥ 1.32× including post-rebalance) and for the
    * measured proof that the ratio is NOT monotone with serving recall.
    * [[rebalance]] keeps both the codebooks and the anchor (the stat
    * tracks codebook drift, which rebalance cannot fix — and after one
    * the alarm correctly stays up until a PQ [[build]] retrains). The
    * earlier "frac ≈ 0.25" note was optimistic for adversarial drift:
    * the r18 artifact measured recall halved at frac 0.107 — treat
    * `frac` as the zero-cost trailing indicator (any material value
    * says "go read the displacement") and the displacement ratio as
    * the codebook alarm. Caveat at SPEC-scale corpora (≲ a few k
    * rows): the displacement floor saturates (2k tier: 8.73 build,
    * only ≤ 1.20× when drifted — all three realizations agree) —
    * there, frac is the better signal and `rebuild_due` stays quiet
    * even when drifted; the operational tiers this signal exists for
    * sit on the clean side. A fired alarm means the codes are no
    * longer ordering the shortlist the way exact distance would, and
    * [[rebalance]] will NOT recover THEM (it keeps the codebooks);
    * schedule a [[build]] — noting (measured, r19) that when serving
    * runs the rerank path, a rebalance alone can restore recall while
    * the alarm stays up.
    *
    * Cost: one id-count + (PQ only) ONE `probeQueries`-sized search at
    * `nProbe` (its ADC short list and its re-ranked rows give both
    * orderings) — index-size-independent beyond the probed lists' scan.
    */
  def staleness(
      spark: SparkSession,
      dir: String,
      probeQueries: Int = 64,
      k: Int = 10,
      nProbe: Int = 8,
      rerank: Int = 4,
      seed: Int = 42): DataFrame = {
    import spark.implicits._
    val nRows = readIds(spark, dir).count()
    val snap = open(spark, dir)
    val nAtTrain = snap.meta.nAtTrain
    val frac =
      if (nRows == 0) 0.0 else math.max(0.0, (nRows - nAtTrain).toDouble / nRows)
    val hasPq = {
      val p = new Path(s"$dir/pq")
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    }
    val disp: Option[Double] =
      if (!hasPq || nRows == 0) None
      else measureAdcDisplacement(spark, snap, nRows,
        probeQueries, k, nProbe, rerank, seed)
    // the persisted post-build anchor ([[buildLocked]]'s final step):
    // ratio/alarm only when the live probe ran the SAME protocol the
    // anchor was measured under — a 128-query nProbe-16 displacement
    // against a 64-query nProbe-8 anchor is not the measured bracket
    val anchor = loadAnchor(spark, dir)
    val anchorMatches = anchor.exists(a =>
      a.probeQueries == probeQueries && a.k == k && a.nProbe == nProbe &&
        a.rerank == rerank && a.seed == seed)
    val dispAtTrain: Option[Double] = anchor.map(_.disp)
    val ratio: Option[Double] = for {
      d <- disp
      a <- anchor if anchorMatches && a.disp > 0.0
    } yield d / a.disp
    val due: Option[Boolean] = ratio.map(_ >= AdcDisplacementAlarmRatio)
    Seq((nRows, nAtTrain, frac, disp, dispAtTrain, ratio, due))
      .toDF("n_rows", "n_at_train", "frac_appended_since_train",
        "mean_adc_displacement", "disp_at_train", "displacement_ratio",
        "rebuild_due")
  }

  /** Mean |ADC rank − exact rank| of the exact top-k within the
    * k·rerank ADC short list, over a seeded member sample — the direct
    * codebook-quality probe [[staleness]] reports and [[buildLocked]]
    * anchors. One search: its ADC short list (a local frame of the
    * sample's queries) joined to its re-ranked rows on (query_id,
    * neighbor_id). None on an empty sample (a degenerate corpus).
    */
  private def measureAdcDisplacement(
      spark: SparkSession,
      snap: Snapshot,
      nRows: Long,
      probeQueries: Int,
      k: Int,
      nProbe: Int,
      rerank: Int,
      seed: Int): Option[Double] = {
    // deterministic member sample as the probe query set: the
    // seeded id-hash draws uniformly across list directories (a
    // bare limit() would sample whichever lists list first)
    val sample = spark.read.parquet(s"${snap.dir}/assignments")
      .select(col("id"), col("vec"))
      .filter(pmod(xxhash64(col("id"), lit(seed)), lit(math.max(1L, nRows)))
        < lit(math.min(nRows, probeQueries * 2L)))
      .limit(probeQueries)
    val lists = new ListScan(spark, snap, sample, "id", "vec", nProbe)
    if (lists.ids.isEmpty) return None
    val shortList = lists.adc(codebooks(spark, snap), k * math.max(1, rerank),
      excludeSelf = true)
    val d = lists.rerank(shortList, k)
      .join(shortList.select(col("query_id"), col("neighbor_id"),
        col("rank").as("adc_rank")), Seq("query_id", "neighbor_id"))
      .agg(avg(abs(col("adc_rank") - col("rank"))))
      .collect()(0)
    if (d.isNullAt(0)) None else Some(d.getDouble(0))
  }

  /** The displacement anchor's measurement protocol — [[staleness]]'s
    * defaults, pinned as named constants so the anchor row records the
    * protocol it was measured under and the ratio only fires against a
    * matching live probe.
    */
  private[knn] val AnchorProbeQueries = 64
  private[knn] val AnchorK = 10
  private[knn] val AnchorNProbe = 8
  private[knn] val AnchorRerank = 4
  private[knn] val AnchorSeed = 42

  private val AnchorTable = "adc_anchor"

  private[knn] final case class AdcAnchor(disp: Double, probeQueries: Int,
      k: Int, nProbe: Int, rerank: Int, seed: Int)

  /** Persist the post-build displacement anchor (staged + swapped — the
    * live table is never torn; the build's post-swap step already
    * deleted the previous anchor, so a crash before the swap leaves an
    * anchor-less index, the honest legacy state).
    */
  private def writeAnchor(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      disp: Double): Unit = {
    import spark.implicits._
    Seq((disp, AnchorProbeQueries, AnchorK, AnchorNProbe, AnchorRerank,
        AnchorSeed))
      .toDF("disp_at_train", "probe_queries", "k", "n_probe", "rerank",
        "seed")
      .repartition(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$AnchorTable.tmp")
    graft.util.StagedTables.swapStaged(fs, dir, Seq(AnchorTable))
  }

  private def deleteAnchor(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Unit = {
    fs.delete(new Path(s"$dir/$AnchorTable.tmp"), true)
    fs.delete(new Path(s"$dir/$AnchorTable"), true)
  }

  private def loadAnchor(spark: SparkSession,
      dir: String): Option[AdcAnchor] = {
    val p = new Path(s"$dir/$AnchorTable")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val r = spark.read.parquet(s"$dir/$AnchorTable")
        .select("disp_at_train", "probe_queries", "k", "n_probe", "rerank",
          "seed").collect()
      require(r.length == 1, s"IvfIndex: malformed $AnchorTable under $dir")
      Some(AdcAnchor(r.head.getDouble(0), r.head.getInt(1), r.head.getInt(2),
        r.head.getInt(3), r.head.getInt(4), r.head.getInt(5)))
    }
  }

  /** The measured CODEBOOK-staleness alarm threshold on [[staleness]]'s
    * `mean_adc_displacement`, relative to its post-build anchor.
    *
    * What the signal tracks — and what it does NOT: displacement
    * measures how badly the PQ codes order the shortlist against exact
    * distances, i.e. CODEBOOK drift. It separates codebook-fresh from
    * codebook-stale states in BOTH committed 20k-tier realizations of
    * the drift harness (the r19 uniform-sampling fix re-rolled the
    * quantizer init and moved the band, which is why the threshold
    * sits between the two realizations' extremes): fresh states —
    * post-build/post-rebuild 1.0, spec-tier probe noise ≤ 1.20 —
    * against codebook-stale states — drifted appends 1.32–2.19 across
    * both realizations AND post-rebalance 1.39/1.94. A rebalance
    * retrains the coarse quantizer but NEVER the codebooks, so the
    * alarm correctly stays up after one until a PQ [[build]] clears it
    * (SCALE_r18_ivfpq_staleness.json;
    * SCALE_r19_ivfpq_staleness_uniform.json supersedes the r19
    * prefix-sample artifact and its 1.5 threshold, which the re-rolled
    * init broke on both sides: a collapsed stage at 1.32 slipped under
    * it while the recovered rebalance at 1.94 fired over it).
    *
    * The ratio is therefore NOT monotone with SERVING recall: the
    * committed pair measures a recall-collapsed stage at 1.32×
    * (p32 0.236) and a recall-RECOVERED post-rebalance state at 1.94×
    * (p32 0.728 — above its own build's 0.607). `rebuild_due` answers
    * "are the codebooks due a retrain?"; the serving-quality question
    * under drift belongs to the rerank path and the IvfPqDrift
    * harness.
    */
  val AdcDisplacementAlarmRatio: Double = 1.25

  /** The one-line cadence decision: is a [[build]] due, given a
    * displacement snapshot and the live value? (Ratio rule — absolute
    * displacement is corpus-dependent.) Since the anchor is persisted
    * at build time, [[staleness]] emits `rebuild_due` directly; this
    * form remains for callers tracking their own anchor (e.g. one
    * snapshotted under a non-default probe protocol).
    */
  def rebuildDue(buildDisplacement: Double,
      currentDisplacement: Double): Boolean =
    currentDisplacement >= AdcDisplacementAlarmRatio * buildDisplacement

  /** Re-train the coarse quantizer IN PLACE on the current corpus and
    * re-file every vector — the answer to append drift that [[stats]]
    * diagnoses. [[append]] keeps the quantizer fixed (FAISS `IndexIVF.add`
    * semantics), so a long append tail from a shifted distribution piles
    * into a few hot lists and probe latency follows the largest probed
    * list; a full [[build]] fixes that but needs the original source
    * frame. Rebalance needs only the index directory: the persisted lists
    * ARE the corpus.
    *
    * What it does: (1) trains fresh centroids on a bounded sample of the
    * persisted vectors — same trainer as build, including the
    * `distributedTrain` path for 10⁴⁺-list indexes; (2) re-assigns all
    * rows and rewrites one well-sized file per list (so rebalance is also
    * the IVF COMPACTION story — append's accumulated small files collapse
    * here, the role vacuum plays for the other index families);
    * (3) re-encodes PQ codes against the new centroids when the index
    * carries residual codebooks (the codebooks themselves are kept — they
    * quantize residual clouds, which move far less than assignments; a
    * drift large enough to invalidate them warrants [[build]]).
    *
    * Commit protocol: all three tables (`centroids`, `params`,
    * `assignments`) are written beside the live ones as `<table>.tmp`,
    * then an intent marker (`_rebalance_commit`) is created and the
    * swaps run marker-protected: recovery on entry rolls FORWARD (marker
    * present — finish each table's swap from whatever rename it crashed
    * at) or BACK (no marker — delete staged debris, live tables were
    * never touched). Sequential renames mean a crash can leave a
    * NEW-quantizer / OLD-lists mix until the next maintenance op runs
    * recovery; a full probe (`nProbe = nList`) stays exact even then,
    * and the single-writer lock plus metadata-only rename window make
    * the exposure milliseconds.
    *
    * Search results at `nProbe = nList` are invariant under rebalance
    * (every list is scanned either way); pruned probes change exactly as
    * a rebuild would change them. Returns the new list count.
    *
    * `nList = 0` keeps the persisted list count; pass a larger value to
    * grow capacity (e.g. after the corpus 10×-ed past the build-time
    * sizing); `nList < 0` re-sizes automatically as max(16, ⌈√N⌉) over
    * the CURRENT index row count ([[ApproxKnn.autoNList]]) — the knob a
    * periodic maintenance job wants, since it tracks the corpus as it
    * grows with no caller-side bookkeeping. The count rides the row
    * scan rebalance already does.
    */
  def rebalance(
      spark: SparkSession,
      dir: String,
      nList: Int = 0,
      kmeansIters: Int = 5,
      sampleCap: Int = 20000,
      seed: Int = 42,
      distributedTrain: Boolean = false): Int =
    graft.util.IndexLock.withLock(spark, dir, "IvfIndex.rebalance") {
      rebalanceImpl(spark, dir, nList, kmeansIters, sampleCap, seed,
        distributedTrain)
    }

  private val SwappedTables = Seq("centroids", "params", "pq", "assignments")
  private val CommitMarker = "_rebalance_commit"
  // marker CONTENT distinguishes the committing op: rebalance leaves the
  // marker empty (historic format — old crash debris recovers as
  // rebalance); build writes one of these so roll-forward recovery also
  // clears ingest state (and the stale pq table for a PQ-less rebuild),
  // neither of which a rebalance recovery may touch
  private val MarkerRebalance = ""
  private val MarkerBuild = "build"
  private val MarkerBuildClearPq = "build_clear_pq"

  private def rebalanceImpl(
      spark: SparkSession,
      dir: String,
      nList: Int,
      kmeansIters: Int,
      sampleCap: Int,
      seed: Int,
      distributedTrain: Boolean): Int = {
    import spark.implicits._
    recover(spark, dir)

    val snap = open(spark, dir)
    val metric = snap.meta.metric
    val cosine = KnnJoin.isCosine(metric)
    val pq = snap.meta.pq(spark)
    val k0 = snap.meta.centroids.length

    // the persisted lists are the corpus; cid is dropped — it is the old
    // quantizer's opinion, about to be re-derived
    val corpus = spark.read.parquet(s"$dir/assignments")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    // the corpus arrives ORDERED BY OLD LIST (partition directories) — a
    // bare limit() would sample whichever lists happen to list first and
    // train the new quantizer on a few old lists' neighborhoods. A seeded
    // row-hash filter draws uniformly across lists for ~cap rows, without
    // a global sort; the cap itself still bounds the driver
    val nRows = spark.read.parquet(s"$dir/assignments").count()
    val k =
      if (nList > 0) nList
      else if (nList < 0) ApproxKnn.autoNList(nRows)
      else k0
    // the hash sample bounds only the DRIVER-collect trainer; the
    // distributed trainer runs on the full persisted corpus — same
    // contract as build, where nList beyond the sample cap is exactly
    // why distributedTrain exists (a 10⁵-list rebalance trained on a
    // 2×sampleCap sample would silently clamp k to the sample size)
    val trainRows =
      if (distributedTrain || nRows <= sampleCap) corpus
      else corpus.filter(
        pmod(xxhash64(col("id"), lit(seed)), lit(nRows)) < lit(sampleCap * 2L))

    // train exactly like build; the driver trainer then levels hot lists
    // on its sample
    val training = new KMeans.TrainingSet(
      KMeans.prepare(trainRows, "id", "vec", cosine, "__id", "__vec", "__zero"),
      "__id", "__vec", "__zero", sampleCap, seed, "IvfIndex.rebalance")
    val trained = training.coarse(k, kmeansIters, distributedTrain)
    val centroids =
      if (distributedTrain) trained
      else splitHotLists(training.sample, trained, kmeansIters)
    val bcCentroids = spark.sparkContext.broadcast(centroids)

    // stage all three tables beside the live ones — the staged writes
    // are order-independent (marker written only after ALL staging), so
    // the two tiny driver-relation writes overlap the corpus-sized
    // assignments re-file (guide §2.6) instead of serializing ahead of it
    graft.util.Overlap.par2(
      writeAssignments(corpus, "id", "vec", dir, bcCentroids, cosine, pq,
        SaveMode.Overwrite,
        new org.apache.spark.sql.graft.CentroidKernel(bcCentroids),
        table = "assignments.tmp"), {
        centroids.zipWithIndex
          .map { case (v, i) => (i, v) }.toSeq.toDF("cid", "vec")
          .repartition(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids.tmp")
        // n_at_train across rebalance: a PQ index KEEPS its codebooks (the
        // stat tracks exactly the drift rebalance cannot fix — see the
        // IvfPqDrift two-regime result), so the training anchor is
        // preserved; a vectors-only index has its whole quantizer
        // retrained here, so the anchor resets to the current corpus
        val nAtTrain = if (pq.isDefined) snap.meta.nAtTrain else nRows
        Seq((centroids.length, metric, seed, nAtTrain))
          .toDF("n_list", "metric", "seed", "n_at_train")
          .repartition(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/params.tmp")
      })

    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    graft.util.StagedTables.commit(fs, dir, CommitMarker, MarkerRebalance,
      SwappedTables)(postSwap(spark, fs, dir))
    centroids.length
  }

  /** Balance refinement after Lloyd (the rebalance trainer's whole point
    * is leveling): plain Lloyd is a local-optimum method — when the init
    * draw misses a dense far mode entirely, ONE centroid migrates to it
    * and owns the whole mode, and more iterations never split it (every
    * in-mode point is already nearest that centroid). The classic remedy
    * (FAISS Clustering's split_clusters): replace the coldest centroid
    * with an epsilon-perturbed COPY of the hottest one, so the pair sits
    * at the cluster's center separated by a tiny vector and the
    * perturbation hyperplane halves the members; two Lloyd steps then
    * settle the halves. Reseeding ON a member instead would fail in high
    * dimension: for an isotropic cluster every member is nearly
    * equidistant from every other (concentration of measure), so a
    * member-centroid only captures a vanishing spherical cap while the
    * mean-centroid keeps everything else. The perturbation direction is
    * center → farthest member — radial for isotropic clusters, toward
    * the dominant sub-mode for bimodal ones. Repeats while the hottest
    * list holds > 2× the mean, for at most 8 rounds on the driver-side
    * sample, never data-sized work.
    */
  private def splitHotLists(
      sample: Array[Array[Float]],
      trained: Array[Array[Float]],
      iters: Int): Array[Array[Float]] = {
    val splitFactor = 2.0
    val maxRounds = 8
    var centroids = trained
    val k = centroids.length
    if (k < 2) return centroids
    val mean = sample.length.toDouble / k
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      // assign the sample, count occupancy per centroid
      val counts = new Array[Int](k)
      val members = Array.fill(k)(List.empty[Array[Float]])
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < v.length) {
            val x = v(i) - (if (i < centroids(c).length) centroids(c)(i) else 0f)
            d += x * x; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        members(best) ::= v
      }
      val hot = counts.indices.maxBy(counts)
      if (counts(hot) <= splitFactor * mean) done = true
      else {
        val cold = counts.indices.minBy(counts)
        val c = centroids(hot)
        val far = members(hot).maxBy { v =>
          var d = 0.0; var i = 0
          while (i < v.length) {
            val x = v(i) - (if (i < c.length) c(i) else 0f); d += x * x; i += 1
          }
          d
        }
        val dim = c.length
        var dNorm2 = 0.0
        val dirV = new Array[Float](dim)
        var i = 0
        while (i < dim) {
          dirV(i) = (if (i < far.length) far(i) else 0f) - c(i)
          dNorm2 += dirV(i) * dirV(i); i += 1
        }
        if (dNorm2 == 0.0) done = true // all members identical: unsplittable
        else {
          val eps = 0.05f
          val plus = new Array[Float](dim)
          val minus = new Array[Float](dim)
          i = 0
          while (i < dim) {
            plus(i) = c(i) + eps * dirV(i)
            minus(i) = c(i) - eps * dirV(i); i += 1
          }
          centroids = centroids.clone()
          centroids(cold) = plus
          centroids(hot) = minus
          centroids = ApproxKnn.lloydDriver(sample, centroids,
            math.max(2, iters / 2))
          round += 1
        }
      }
    }
    centroids
  }

  /** Crash recovery for the marker-protected swap shared by [[build]]
    * and [[rebalance]] ([[graft.util.StagedTables.recover]]) — run on
    * entry by every writer and by the streaming ingest driver under its
    * writer lock.
    */
  private[graft] def recover(spark: SparkSession, dir: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    graft.util.StagedTables.recover(fs, dir, CommitMarker, SwappedTables)(
      postSwap(spark, fs, dir))
  }

  /** The commit's post-swap steps by marker op, replayed by [[recover]].
    * A BUILD clears ingest state (fresh corpus, fresh watermark) and the
    * previous build's displacement anchor (it describes codebooks the
    * swap just replaced; the fresh anchor is measured after the commit,
    * so a crash before that write leaves an anchor-less index — the
    * honest legacy state — never a stale one); a PQ-less build also
    * deletes the live `pq/`, whose codebooks were trained on data the
    * build replaced. A rebalance (same corpus, same watermark, kept
    * codebooks) has none.
    */
  private def postSwap(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String)(op: String): Unit =
    if (op.startsWith(MarkerBuild)) {
      if (op == MarkerBuildClearPq) fs.delete(new Path(s"$dir/pq"), true)
      deleteAnchor(fs, dir)
      graft.util.IngestState.clear(spark, dir)
    }

  /** The persisted PQ codebooks (and their residual flag), if this index
    * was built with `pqM > 0`. Presence of `pq/` IS the marker —
    * m/ksub/dsub reconstruct from the (s, c, vec, residual) rows, no
    * params round-trip to drift against.
    */
  private def loadPq(spark: SparkSession, dir: String): Option[(PqCodebooks, Boolean)] = {
    import spark.implicits._
    val p = new Path(s"$dir/pq")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val raw = spark.read.parquet(s"$dir/pq")
      if (!raw.columns.contains("residual")) throw olderLayout(dir, "pq/residual")
      val rows = raw
        .select(col("s"), col("c"), col("vec").cast("array<float>"),
          col("residual"))
        .as[(Int, Int, Array[Float], Boolean)].collect()
      require(rows.nonEmpty, s"IvfIndex: empty pq codebooks under $dir")
      val m = rows.map(_._1).max + 1
      val ksub = rows.map(_._2).max + 1
      require(rows.length == m * ksub, s"IvfIndex: ragged pq codebooks under $dir")
      require(rows.map(_._4).distinct.length == 1,
        s"IvfIndex: inconsistent residual flags under $dir")
      val books = Array.ofDim[Array[Float]](m, ksub)
      rows.foreach { case (s, c, v, _) => books(s)(c) = v }
      Some((new PqCodebooks(books), rows.head._4))
    }
  }

  private def loadCentroids(spark: SparkSession, dir: String): Array[Array[Float]] = {
    import spark.implicits._
    val centroids = spark.read.parquet(s"$dir/centroids")
      .select(col("cid"), col("vec").cast("array<float>"))
      .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2)
    require(centroids.nonEmpty, s"IvfIndex: no centroids under $dir")
    centroids
  }

  /** The persisted metric and training-time corpus size (`params/`). */
  private def loadParams(spark: SparkSession, dir: String): (String, Long) = {
    val p = new Path(s"$dir/params")
    if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
      throw olderLayout(dir, "params/")
    val params = spark.read.parquet(s"$dir/params")
    if (!params.columns.contains("n_at_train"))
      throw olderLayout(dir, "params/n_at_train")
    val rows = params.select("metric", "n_at_train").collect()
    require(rows.length == 1, s"IvfIndex: malformed params under $dir")
    (rows.head.getString(0), rows.head.getLong(1))
  }

  /** An index directory written before `params/` carried the metric and
    * `n_at_train` and `pq/` the residual flag: it has no defaults to fall
    * back on, so the repair is a rebuild.
    */
  private def olderLayout(dir: String, missing: String): IllegalStateException =
    new IllegalStateException(s"IvfIndex: $dir has an older on-disk layout " +
      s"(no $missing); rebuild it with IvfIndex.build")

  /** Probe the persisted index, FAISS `IndexIVF` search over the list
    * layout: the queries are collected in one job, each with its `nProbe`
    * nearest lists; the scan reads only the probed `assignments/cid=`
    * directories, scores each row against the queries that probe its
    * list into per-query top-k [[TopK.Partials]], and [[TopK.mergeTopK]]
    * merges them. Flat lists score exactly ([[TopK.exact]]); with
    * `usePq` the lists' codes score by ADC (halved under cosine), and
    * `rerank > 0` re-ranks each query's k·`rerank` ADC short list exactly
    * ([[ApproxKnn.pqExactRerank]]). The metric comes from the persisted
    * `params/`, never from the caller. Output contract matches
    * [[KnnJoin]]: (query_id, neighbor_id, dist, rank); an empty query
    * side gives an empty frame. A thin wrapper: it opens `dir` and runs
    * [[probe]].
    */
  def search(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 4,
      excludeSelf: Boolean = true,
      usePq: Boolean = false,
      rerank: Int = 4): DataFrame =
    probe(spark, open(spark, dir), queries, idCol, vecCol, k, nProbe,
      excludeSelf, usePq, rerank)

  /** [[search]]'s body over an opened snapshot. */
  private[graft] def probe(
      spark: SparkSession,
      snap: Snapshot,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 4,
      excludeSelf: Boolean = true,
      usePq: Boolean = false,
      rerank: Int = 4): DataFrame = {
    require(nProbe > 0, s"IvfIndex.search: nProbe must be positive, got $nProbe")
    val pq = if (usePq) Some(codebooks(spark, snap)) else None
    val lists = new ListScan(spark, snap, queries, idCol, vecCol, nProbe)
    if (lists.ids.isEmpty)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), searchSchema)
    pq match {
      case None => lists.exact(k, excludeSelf)
      case Some(cb) =>
        val shortList = lists.adc(cb, if (rerank > 0) k * rerank else k, excludeSelf)
        if (rerank > 0) lists.rerank(shortList, k) else shortList
    }
  }

  /** The persisted PQ codebooks of `snap`, or the error naming the
    * build option that writes them.
    */
  private def codebooks(spark: SparkSession, snap: Snapshot): (PqCodebooks, Boolean) =
    snap.meta.pq(spark).getOrElse(throw new IllegalArgumentException(
      s"IvfIndex.search(usePq = true): no pq/ codebooks under ${snap.dir} — " +
        "build the index with pqM > 0"))

  /** One search's queries and probed lists. The constructor runs the one
    * query job: each (id, vector) row with the vector in the quantizer's
    * space (unit under cosine, [[KMeans.unitVectors]]) and its `nProbe`
    * nearest lists (the `nearestCentroids` expression), ordered by id.
    * Rows with a null id or vector probe nothing. [[rows]] reads only the
    * probed `cid=` directories.
    */
  private final class ListScan(spark: SparkSession, snap: Snapshot,
      queries: DataFrame, idCol: String, vecCol: String, nProbe: Int) {
    import spark.implicits._
    val cosine: Boolean = KnnJoin.isCosine(snap.meta.metric)
    private val bcCentroids = spark.sparkContext.broadcast(snap.meta.centroids)
    private val collected = {
      val base = queries.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vec"))
      val spaced =
        if (cosine) KMeans.unitVectors(base, "vec", "space", "__zero")
        else base.withColumn("space", col("vec"))
      spaced
        .select(col("id"), col("vec"), col("space"),
          graft.functions.VectorExpressions.nearestCentroids(col("space"),
            new org.apache.spark.sql.graft.CentroidKernel(bcCentroids), nProbe)
            .as("lists"))
        .filter(col("id").isNotNull && col("lists").isNotNull)
        .as[(Long, Array[Float], Array[Float], Array[Int])]
        .collect().sortBy(_._1)
    }
    val ids: Array[Long] = collected.map(_._1)
    /** Per list, the positions of the queries that probe it. */
    private val probers: Array[Array[Int]] = {
      val by = Array.fill(snap.meta.centroids.length)(Array.newBuilder[Int])
      collected.indices.foreach(j => collected(j)._4.foreach(c => by(c) += j))
      by.map(_.result())
    }

    /** The probed lists' rows: only the `cid=` directories some query
      * probes.
      */
    def rows: DataFrame = spark.read.parquet(s"${snap.dir}/assignments")
      .filter(col("cid").isin(probers.indices.filter(probers(_).nonEmpty): _*))

    /** The flat lists' exact top-k ([[TopK.exact]]). */
    def exact(k: Int, excludeSelf: Boolean): DataFrame = {
      val bc = spark.sparkContext.broadcast((collected.map(r => (r._1, r._2)), probers))
      val cos = cosine
      val parts = rows.select(col("cid"), col("id"), col("vec").cast("array<float>"))
        .as[(Int, Long, Array[Float])].rdd
        .mapPartitions { it =>
          val (qs, by) = bc.value
          Iterator(TopK.exact(qs, k, cos, excludeSelf,
            it.map { case (cid, id, v) => (id, by(cid), v) }))
        }
      TopK.mergeTopK(spark, parts, ids, k)
    }

    /** The PQ lists' ADC short list: `keep` per query, scored per pair by
      * [[org.apache.spark.sql.graft.PqKernel]]'s `adcDirect`/`adcResidual`
      * on the query in the quantizer's space, halved under cosine. The
      * scan reads the m-byte codes, never the vectors.
      */
    def adc(pq: (PqCodebooks, Boolean), keep: Int, excludeSelf: Boolean): DataFrame = {
      val (cb, residual) = pq
      val kernel = new org.apache.spark.sql.graft.PqKernel(
        spark.sparkContext.broadcast(cb), if (residual) bcCentroids else null)
      val bc = spark.sparkContext.broadcast((ids, collected.map(_._3), probers))
      val cos = cosine
      val parts = rows.select(col("cid"), col("id"), col("code"))
        .as[(Int, Long, Array[Byte])].rdd
        .mapPartitions { it =>
          val (qIds, space, by) = bc.value
          val qs = space.map(v =>
            org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(v))
          Iterator(TopK.scan(qIds, keep, excludeSelf,
              it.map { case (cid, id, code) => (id, by(cid), (cid, code)) }) {
            case (cid, code) => j =>
              val d =
                if (residual) kernel.adcResidual(qs(j), cid, code)
                else kernel.adcDirect(qs(j), code)
              if (cos) d / 2.0 else d
          })
        }
      TopK.mergeTopK(spark, parts, ids, keep)
    }

    /** The exact top-k of `shortList` against the probed lists' vectors
      * ([[ApproxKnn.pqExactRerank]]).
      */
    def rerank(shortList: DataFrame, k: Int): DataFrame =
      ApproxKnn.pqExactRerank(shortList,
        collected.map(r => (r._1, r._2)).distinctBy(_._1).toSeq.toDF("id", "vec"),
        rows.select("id", "vec"), "id", "vec", k, cosine, broadcastQueries = true)
  }
}
