package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines (added
  * scope — the reference has none, SURVEY.md §7.4). All shapes are
  * shuffle-minimal: exact dedup is one hash aggregation on the text key;
  * near-dup pipelines block first (LSH bands / shared tokens) so no
  * all-pairs comparison ever happens.
  */
object Dedup {

  /** Exact duplicate grouping: canonical id = min id per identical text.
    * One hash aggregation; at 100 TB, group on a 128-bit text hash instead
    * of the full text to shrink shuffle width ([[exactDupGroupsHashed]]).
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol).as("text"))
      .agg(
        min(col(idCol)).cast("long").as("canonical_id"),
        count(lit(1)).as("dup_count"))
      .select("canonical_id", "dup_count", "text")

  /** Shuffle-lean exact dedup: group on xxhash64(text) — at cluster scale
    * the shuffle carries 8 bytes per row instead of the document.
    */
  def exactDupGroupsHashed(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), xxhash64(col(textCol)).as("text_hash"))
      .groupBy("text_hash")
      .agg(min("id").cast("long").as("canonical_id"), count(lit(1)).as("dup_count"))

  /** [[exactDupGroups]] output shape on the [[exactDupGroupsHashed]] shuffle
    * plan: the GROUP KEY is the 8-byte xxhash64 of the text, and one text
    * copy rides along as an aggregation payload (`min_by`), so map-side
    * partial aggregation collapses duplicates before the exchange and the
    * shuffle key stays fixed-width no matter how long the documents are.
    * Same (canonical_id, dup_count, text) rows as [[exactDupGroups]] up to
    * 64-bit hash collisions (~n²/2⁶⁵ — negligible below ~10⁹ distinct
    * documents; beyond that, widen to a 128-bit key).
    */
  def exactDupGroupsByHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .groupBy(xxhash64(col("text")).as("text_hash"))
      .agg(
        min(col("id")).as("canonical_id"),
        count(lit(1)).as("dup_count"),
        min_by(col("text"), col("id")).as("text"))
      .select("canonical_id", "dup_count", "text")

  /** EXACT word-set Jaccard similarity join via prefix filtering
    * (the AllPairs/SSJoin family): under a global token order by
    * (doc-frequency ASC, token ASC), any pair with J ≥ t shares its
    * lexicographically-smallest common token inside BOTH prefixes of
    * length |x| − ⌈t·|x|⌉ + 1 — if J ≥ t then |x∩y| ≥ ⌈t·|x|⌉ tokens of x,
    * which cannot all fit in the ⌈t·|x|⌉ − 1 positions after the prefix
    * (and symmetrically for y). So the prefix-token equi-join finds every
    * qualifying pair, and exact Jaccard verification of the candidates
    * filters false positives — same output as a full inverted index.
    *
    * Scale property: frequent tokens order LAST and fall out of the
    * prefixes, so the inverted index holds only rare tokens — no hot
    * buckets, candidate volume shrinks with t, and the exact verification
    * touches candidates only. Output: (id_a, id_b, jaccard), id_a < id_b.
    */
  def wordJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, threshold: Double,
      materializeTokens: Boolean = true): DataFrame =
    setJaccardPairs(df, idCol,
      array_distinct(split(trim(col(textCol)), "\\s+")), threshold,
      materializeTokens)

  /** n-gram (word-shingle) Jaccard similarity join — the same EXACT
    * prefix-filter algorithm over the distinct n-gram set of each
    * document. Shingles are far more selective than single tokens
    * (shared phrases, not shared vocabulary), the standard near-dup
    * grain for training-corpus dedup.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double, materializeTokens: Boolean = true): DataFrame =
    setJaccardPairs(df, idCol,
      array_distinct(graft.functions.TextFns.wordShingles(col(textCol), n)),
      threshold, materializeTokens)

  /** Shared exact similarity-join core over any per-document element-set
    * column (see [[wordJaccardPairs]] for the prefix-filter argument).
    *
    * The exploded (id, tok) frame is referenced by the doc-frequency agg,
    * the prefix build, and both sides of the verification join.
    * `materializeTokens = true` (default) materializes it ONCE as a
    * localCheckpoint — unlike `cache()`, the blocks are released by the
    * ContextCleaner when the result plan is dropped, not pinned in the
    * CacheManager for the session lifetime. At corpus scale that
    * materialization is every token row (≫ input bytes when documents
    * are long): pass `false` to recompute the tokenize per reference
    * instead — ~4 extra scans of the text column, zero resident state —
    * when cluster storage is the binding constraint.
    */
  private def setJaccardPairs(
      df: DataFrame, idCol: String, elemsCol: Column, threshold: Double,
      materializeTokens: Boolean): DataFrame = {
    // Par.balance: the shingle/tokenize transform is CPU-bound and a
    // small corpus arrives as one input partition — widen it (no-op at
    // real scale, where scans come pre-partitioned). ONE row per doc
    // with the distinct element ARRAY: the exploded token view, the
    // per-doc size, and the verification stage's element sets all
    // derive from this single tokenize pass.
    val docsPlain = graft.util.Par.balance(df).select(
      col(idCol).cast("long").as("id"),
      elemsCol.as("__toks"))
      .withColumn("sz", size(col("__toks")))
    // LAZY checkpoint: materializes on the first action over the returned
    // frame (then reused by every reference) — the eager default would run
    // the full tokenize as a side effect of merely CONSTRUCTING the
    // plan, before the caller composes or executes it
    val docsArr =
      if (materializeTokens) docsPlain.localCheckpoint(eager = false)
      else docsPlain
    val toks = docsArr.select(col("id"), col("sz"),
      explode(col("__toks")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))

    // per-doc prefix under the (df ASC, tok ASC) global order; the window
    // partitions by doc, so state is one document's token list
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(asc("df"), asc("tok"))
    val prefix = toks
      .join(dfreq, "tok")
      .withColumn("pos", row_number().over(wDoc))
      // required overlap o = ⌈t·sz⌉ computed with an epsilon guard: when
      // t·sz is mathematically integral the IEEE product can land a hair
      // ABOVE it (100 × 0.07 = 7.000000000000001), ceil then overcounts
      // to o+1 and the prefix shrinks by one token — silently dropping
      // exact-boundary pairs the verification filter would have kept.
      // The epsilon can only LENGTHEN the prefix (extra candidates are
      // re-verified), never shorten it, so exactness is preserved.
      .filter(col("pos") <=
        col("sz") - ceil(col("sz") * threshold - lit(1e-9)) + 1)
      .select("id", "tok", "sz")

    // AllPairs LENGTH filter riding the candidate join: jaccard ≥ t
    // forces inter ≥ t·max(sz_a, sz_b) and inter ≤ min(sz_a, sz_b), so
    // min ≥ t·max — any pair whose sizes differ by more than 1/t is
    // dropped BEFORE the verification join ever ships its token lists
    // (guide §3.2 shape: prune the expensive join's input with a cheap
    // predicate that admits no false negatives). The 1e-9 guard can
    // only ADMIT extra candidates at the exact boundary (re-verified
    // below), never drop a true pair — the prefix-length epsilon rule.
    // pair dedup on a PINNED-width exchange (the Par.balance parallelism
    // rule): the exchange carries only (id_a, id_b) pairs — bytes AQE
    // would coalesce to one partition — but the stage that reads it also
    // runs the per-pair array_intersect verification below (broadcast
    // joins fold into it), CPU the coalescer cannot see (measured: a
    // 3.4 s single-task stage at sf0.1/local[32]). dropDuplicates reuses
    // the pinned partitioning (same key), so this is still ONE exchange.
    // the self-join's own exchange is pinned for the same reason — its
    // stage CROSSES each token's two prefix lists (pair-generation CPU ≫
    // exchange bytes), and the self-join reuses one exchange for both
    // sides, so this costs no extra shuffle
    val prefixP = prefix.repartition(
      df.sparkSession.sparkContext.defaultParallelism, col("tok"))
    val cand = prefixP.as("a")
      .join(prefixP.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          least(col("a.sz"), col("b.sz")) >=
            greatest(col("a.sz"), col("b.sz")) * threshold - lit(1e-9))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")

    // exact verification restricted to candidates: |x ∩ y| as ONE
    // codegen `array_intersect` per pair over the two docs' (already
    // distinct) element arrays — the former per-element equi-join +
    // pair-level count shipped |pairs|·avg_tokens (pair, tok) rows
    // through two exchanges and a grouped count (measured as the
    // dominant stage of q16 at sf0.1), where this shape ships each
    // pair's two arrays once and no group-by exists at all. Sizes ride
    // the same arrays (`sz`), deleting the two former sizes joins.
    cand
      .join(docsArr.select(col("id").as("id_a"), col("__toks").as("__ta"),
        col("sz").as("sz_a")), "id_a")
      .join(docsArr.select(col("id").as("id_b"), col("__toks").as("__tb"),
        col("sz").as("sz_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("__ta"), col("__tb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash + LSH banding near-dup candidates
    * (shingle → minhash → band → bucket-join; SURVEY.md north star).
    * `numHashes = bands * rowsPerBand`. Two docs land in the same bucket iff
    * one full band of their signatures agrees; the band self-join only
    * touches same-bucket pairs — no all-pairs stage at any scale.
    * Output: (id_a, id_b, est_jaccard) where est_jaccard is the fraction of
    * agreeing signature positions (unbiased Jaccard estimate).
    */
  def minHashLshCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val numHashes = bands * rowsPerBand
    val signed = minhashSigned(df, idCol, textCol, shingleSize, numHashes)
    val banded = signed.select(
      col("id"), col("sig"),
      explode(bandStructs(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("sig"),
        col("bk.band").as("band"), col("bk.band_hash").as("band_hash"))
    // est_jaccard is computed INSIDE the join projection so the
    // multi-band collision dedup shuffles 3 scalars per pair, not two
    // full numHashes-int signatures (~20× wider rows on the dominant
    // candidate stage — the semanticNearDups scalars-only rule);
    // duplicate pairs carry identical estimates by construction, so
    // first() is exact
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        sigAgreement(col("a.sig"), col("b.sig"), numHashes).as("est_jaccard"))
      .groupBy("id_a", "id_b")
      .agg(first("est_jaccard").as("est_jaccard"))
  }

  /** (id, sig) MinHash signature frame — the native codegen MinHashSig
    * expression (sql/graft/SignatureExprs.scala); the per-row shingle loop
    * was the last interpreted UDF on this every-document path. Shared by
    * the one-shot [[minHashLshCandidates]] and the persistent
    * [[LshDedupIndex]] so the two paths cannot drift.
    */
  private[dedup] def minhashSigned(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int): DataFrame =
    graft.util.Par.balance(
      df.select(col(idCol).cast("long").as("id"), col(textCol).as("__text")))
      .select(col("id"),
        graft.functions.VectorExpressions.minhashSig(col("__text"),
          new org.apache.spark.sql.graft.MinHashKernel(shingleSize, numHashes))
          .as("sig"))

  /** The per-signature band keys: array of (band, band_hash) structs,
    * band_hash = xxhash64 over (band, that band's signature slice).
    */
  private[dedup] def bandStructs(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b), slice(sig, b * rowsPerBand + 1, rowsPerBand))
          .as("band_hash"))): _*)

  /** Fraction of agreeing signature positions — the unbiased Jaccard
    * estimate for MinHash signatures.
    */
  private[dedup] def sigAgreement(sigA: Column, sigB: Column, numHashes: Int): Column =
    aggregate(
      zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes)

  /** 64-bit SimHash over whitespace tokens (deterministic) — the native
    * codegen SimHash64 expression (sql/graft/SignatureExprs.scala).
    */
  def simhash64(text: Column): Column =
    graft.functions.VectorExpressions.simhash64(text)

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, blocked by
    * the pigeonhole principle: split the 64-bit hash into `maxHamming + 1`
    * chunks — any pair within the bound agrees on ≥1 full chunk, so the
    * chunk equi-join sees every true pair without an all-pairs scan.
    */
  def simhashNearDups(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"simhashNearDups: maxHamming must be in [0, 63], got $maxHamming")
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    // bitsPer = 64 (the maxHamming = 0 exact-match case) needs the full
    // mask: (1L << 64) is shift-count-mod-64, so the naive (1L<<64)-1
    // masks to ZERO and every row lands in one bucket — the "blocked"
    // join degenerating to an all-pairs cross product
    val chunkMask = if (bitsPer == 64) -1L else (1L << bitsPer) - 1
    val hashed = graft.util.Par.balance(
      df.select(col(idCol).cast("long").as("id"), col(textCol).as("__text")))
      .select(col("id"), simhash64(col("__text")).as("sh"))
    val chunkCols = (0 until chunks).map(i =>
      struct(lit(i).as("chunk"),
        shiftright(col("sh"), i * bitsPer)
          .bitwiseAND(lit(chunkMask)).as("chunk_val")))
    val blocked = hashed.select(col("id"), col("sh"),
      explode(array(chunkCols: _*)).as("ck"))
      .select(col("id"), col("sh"),
        col("ck.chunk").as("chunk"), col("ck.chunk_val").as("chunk_val"))
    blocked.as("a")
      .join(blocked.as("b"),
        col("a.chunk") === col("b.chunk") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long").as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-dup: kNN join (cosine) + distance cutoff —
    * composition of [[graft.knn.KnnJoin]] with a threshold filter; exposed
    * in the discovery layer. Kept here as documentation of the fifth dedup
    * modality (exact, jaccard, minhash-LSH, simhash, embedding-cosine).
    * For the corpus-scale blocked form, see [[semanticNearDups]].
    */
  def embeddingNearDups(knnPairs: DataFrame, maxCosineDistance: Double): DataFrame =
    knnPairs.filter(col("dist") <= maxCosineDistance)

  /** Semantic (embedding-cosine) near-dup pairs at corpus scale, the
    * SemDeDup shape (Abbas et al. 2023): spherical k-means blocks the
    * corpus by direction, every vector joins its `assignProbes` nearest
    * clusters (overlapping blocks recover pairs that straddle one Voronoi
    * boundary), and only within-block pairs are scored — work is
    * Σ_c n_c·p choose 2, never N². The threshold rides IN the join
    * pipeline before the pair-dedup shuffle, so the exchange carries only
    * (id_a, id_b, cos_dist) scalar rows for pairs that already passed the
    * cutoff — vectors stay inside the block-join projection.
    *
    * Exact recovery guarantee for true duplicates: a scaled or identical
    * copy has the same direction, hence the same nearest-centroid list —
    * exact dup pairs always co-block, regardless of `assignProbes`.
    * Near-dup pairs are approximate with recall rising in `assignProbes`
    * (nClusters = 1 degenerates to the exact all-pairs join).
    *
    * Output: (id_a, id_b, cos_dist), id_a < id_b, cos_dist ≤
    * `maxCosineDistance`. Zero vectors score distance 1.0 against
    * everything (the engine-wide convention) and so never pair at any
    * threshold < 1.0; a threshold ≥ 1.0 admits every co-blocked pair,
    * zero vectors included.
    *
    * `probeLevel = true` appends a `probe_level` column: the SMALLEST
    * probe count at which the pair co-blocks. The kernel's nearestN
    * contract orders probes by (distance, index), so the probe set at p
    * is exactly the p-prefix of the set at `assignProbes` — one run at
    * the largest probe count therefore carries every smaller probe
    * count's pair set as `filter(probe_level <= p)`, replacing one full
    * k-means + assign + self-join pipeline PER probe level with one.
    * Only the flat top-level blocking tracks levels (`blockCap` must be
    * 0: sub-blocking re-probes hot blocks, which has no single-level
    * reading).
    */
  def semanticNearDups(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      maxCosineDistance: Double,
      nClusters: Int = 64,
      assignProbes: Int = 2,
      kmeansIters: Int = 5,
      sampleCap: Int = 20000,
      seed: Int = 42,
      materializeAssignments: Boolean = true,
      distributedTrain: Boolean = false,
      twoLevelAssign: Boolean = false,
      twoLevelProbes: Int = 4,
      blockCap: Int = 0,
      subClusters: Int = 16,
      probeLevel: Boolean = false): DataFrame = {
    require(!probeLevel || blockCap <= 0,
      "semanticNearDups: probeLevel tracking requires blockCap <= 0")
    val spark = df.sparkSession
    import spark.implicits._
    val unit = graft.knn.KMeans.prepare(
      df, idCol, vecCol, spherical = true, "id", "__vec", "__zero")
    // only the non-zero vectors train the blocks, so an all-zero corpus is
    // refused rather than trained on; zero vectors still flow through
    // assignment and are rejected by the distance-1.0 convention below.
    // `distributedTrain` trains on ALL non-zero vectors via
    // [[graft.knn.KMeans.train]] — the SemDeDup operating point at 100 TB
    // wants ~10⁵ clusters, beyond any driver-side sample cap.
    val centroids = new graft.knn.KMeans.TrainingSet(unit.filter(!col("__zero")),
      "id", "__vec", "__zero", sampleCap, seed, "semanticNearDups")
      .coarse(nClusters, kmeansIters, distributedTrain)
    // twoLevelAssign: sublinear per-row cluster assignment for the
    // 10⁴–10⁵-cluster SemDeDup operating point (see KMeans.twoLevelIndex)
    val kernel = graft.knn.KMeans.assignKernel(
      spark.sparkContext.broadcast(centroids), twoLevelAssign, twoLevelProbes,
      seed)
    // both sides of the block self-join reference the assignment frame;
    // materializing it ONCE (localCheckpoint — ContextCleaner-released,
    // not CacheManager-pinned, the setJaccardPairs rationale) halves the
    // scan + normalize + assign work. The materialization is
    // (id, vec, zero, cid) × assignProbes rows; pass `false` to recompute
    // per side instead when cluster storage is the binding constraint.
    val probeList = graft.functions.VectorExpressions
      .nearestCentroids(col("__vec"), kernel, assignProbes)
    val assignedPlain =
      if (probeLevel)
        // posexplode: `__probe` is the probe RANK of this co-block entry
        // (0 = nearest). Pair level below = max of the two ranks + 1.
        graft.util.Par.balance(unit)
          .select(col("*"), posexplode(probeList).as(Seq("__probe", "cid")))
      else graft.util.Par.balance(unit).withColumn("cid", explode(probeList))
    // lazy for the same reason as setJaccardPairs: constructing the
    // near-dup plan must not run the assign job before the caller acts
    val assignedTop =
      if (materializeAssignments) assignedPlain.localCheckpoint(eager = false)
      else assignedPlain
    // `blockCap > 0`: hierarchical re-clustering of OVERSIZED blocks —
    // the escape for a corpus with a dominant direction, where one
    // Voronoi cell swallows a large fraction and the within-block join
    // degenerates quadratic. Blocks above the cap get a SECOND spherical
    // clustering (one shared sub-codebook over the hot rows, multi-probe
    // like the top level) and pair only within (cid, sub). Same-direction
    // copies keep identical sub-assignments, so exact-dup recovery is
    // unaffected; threshold-boundary pairs across sub-cells trade recall
    // for the quadratic escape exactly as the top-level blocking does.
    // A cone still hot after one split needs a larger `subClusters` —
    // one level is the implemented depth.
    val assigned =
      if (blockCap <= 0) assignedTop.withColumn("sub", lit(-1))
      else {
        val hotCids = assignedTop.groupBy("cid")
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > blockCap)
          .select("cid").collect().map(_.getInt(0)) // bounded by nClusters
        val isHot = col("cid").isin(hotCids.map(Integer.valueOf).toSeq: _*)
        val subSample =
          if (hotCids.isEmpty) Array.empty[Array[Float]]
          else assignedTop.filter(isHot && !col("__zero"))
            .select(col("__vec").cast("array<float>"))
            .dropDuplicates()
            // hash-of-value order (the KMeans-init rule — values are
            // distinct after the dedup above, so the vec tiebreak makes
            // the draw fully deterministic): a bare limit() took a
            // storage-prefix of the hot blocks
            .orderBy(xxhash64(col("__vec"), lit(seed)), col("__vec"))
            .limit(sampleCap).as[Array[Float]].collect()
        // an all-zero hot block has nothing to sub-cluster (its pairs all
        // score 1.0 and die at any threshold < 1 anyway)
        if (subSample.isEmpty) assignedTop.withColumn("sub", lit(-1))
        else {
          val subCentroids = graft.knn.ApproxKnn.kmeans(subSample,
            math.min(subClusters, subSample.length), kmeansIters, seed + 1)
          val subKernel = new org.apache.spark.sql.graft.CentroidKernel(
            spark.sparkContext.broadcast(subCentroids))
          val hot = assignedTop.filter(isHot)
            .withColumn("sub", explode(graft.functions.VectorExpressions
              .nearestCentroids(col("__vec"), subKernel, assignProbes)))
          val split = assignedTop.filter(!isHot).withColumn("sub", lit(-1))
            .unionByName(hot)
          if (materializeAssignments) split.localCheckpoint(eager = false)
          else split
        }
      }
    // unit vectors: cosine distance = squared-L2 / 2 (see KMeans.unitVectors)
    val l2 = graft.functions.VectorExpressions.squaredL2(
      col("a.__vec"), col("b.__vec"))
    val cosDist = when(col("a.__zero") || col("b.__zero"), lit(1.0))
      .otherwise(l2 / 2.0)
    // pinned-width block exchange — the setJaccardPairs rule: the
    // within-block pair join's CPU (Σ_c n_c·p choose 2 distance
    // kernels) is invisible to AQE's byte-based coalescer; the
    // self-join reuses one exchange for both sides
    val assignedJ = assigned.repartition(
      spark.sparkContext.defaultParallelism, col("cid"), col("sub"))
    val joined = assignedJ.as("a")
      .join(assignedJ.as("b"),
        col("a.cid") === col("b.cid") && col("a.sub") === col("b.sub") &&
          col("a.id") < col("b.id"))
    if (probeLevel)
      joined
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          cosDist.as("cos_dist"),
          (greatest(col("a.__probe"), col("b.__probe")) + 1)
            .as("probe_level"))
        .filter(col("cos_dist") <= maxCosineDistance)
        // min over co-blocks: the first probe count at which the pair met
        .groupBy("id_a", "id_b").agg(min("cos_dist").as("cos_dist"),
          min("probe_level").as("probe_level"))
    else
      joined
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          cosDist.as("cos_dist"))
        .filter(col("cos_dist") <= maxCosineDistance)
        // multi-probe co-block collisions collapse on scalars only
        .groupBy("id_a", "id_b").agg(min("cos_dist").as("cos_dist"))
  }

  /** Connected components over a near-dup pair graph — the step that
    * turns ANY of the pair producers above into dedup GROUPS (transitive
    * closure: a~b, b~c ⟹ {a,b,c} even when a,c never paired directly).
    *
    * Iterative min-label FRONTIER propagation: every id starts as its
    * own label; each round, only the labels that changed LAST round are
    * delivered to their neighbors (a label that did not change was
    * already delivered the round after it was set, and labels only
    * decrease, so re-delivering it is a no-op — the frontier restriction
    * is exact). Round count is O(graph diameter) — identical to full
    * per-round propagation — but per-round cost shrinks with the
    * frontier: once a cluster settles, its edges leave the join
    * entirely, so late rounds touch only the few still-moving chains
    * rather than re-shuffling every edge. The convergence check is fused
    * into the label update (a `__changed` flag computed in the same
    * projection), so each round costs ONE join+aggregate job plus a scan
    * of the checkpointed result — not a second full-width join. Each
    * round's frame is `localCheckpoint`ed to cut the iterative lineage.
    * Throws if the fixpoint is not reached within `maxIters` (truncated
    * labels would silently split components).
    *
    * Input: (id_a, id_b) pair rows (any extra columns ignored). Output:
    * (id, component) — component = min id of the connected component.
    */
  def nearDupComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    nearDupComponentsWithRounds(pairs, maxIters)._1

  /** [[nearDupComponents]] plus the number of propagation rounds it took
    * — the scale-contract observable (rounds track component DIAMETER,
    * not corpus size; DedupSpec pins that invariant by measuring the
    * same graph at 1× and 10× replication).
    */
  private[graft] def nearDupComponentsWithRounds(pairs: DataFrame,
      maxIters: Int = 20): (DataFrame, Int) = {
    // symmetric edge list, LAZY-checkpointed: the first labels action
    // below materializes it as a side effect — an eager checkpoint here
    // paid a dedicated job for the same blocks
    val fwd = pairs.select(col("id_a").cast("long").as("src"),
      col("id_b").cast("long").as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(eager = false)
    var labels = edges.groupBy("src").agg(min("dst").as("component"))
      .select(col("src").as("id"),
        least(col("src"), col("component")).as("component"))
      .localCheckpoint()
    // the checkpointed frame BACKING the current labels — freed as soon
    // as the next round's checkpoint has materialized (its data fully
    // supersedes this round's), so the loop keeps at most two rounds'
    // blocks resident instead of every round's for the session lifetime
    // (the [[graft.util.Blocks]] discipline)
    var prevCkpt = labels
    // every initial label still awaits its first delivery to neighbors
    var frontier = labels
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // deliver last round's changed labels to their neighbors
      val viaNeighbors = edges
        .join(frontier.select(col("id").as("dst"),
          col("component").as("__nbr")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("__nbr").as("nbr_component"))
      val next = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr_component"),
            col("component"))).as("component"),
          // null nbr_component (no changed neighbor) compares to null →
          // the frontier filter drops it, exactly "unchanged"
          (col("nbr_component") < col("component")).as("__changed"))
        .localCheckpoint(eager = false)
      // ONE job per round: the changed-count aggregate materializes the
      // lazy checkpoint AND answers convergence — the former eager
      // checkpoint + frontier.isEmpty pair paid two scheduler
      // round-trips for the same information
      val nChanged = next
        .agg(count(when(col("__changed"), lit(1)))).collect()(0).getLong(0)
      graft.util.Blocks.free(prevCkpt) // superseded by the materialized next
      prevCkpt = next
      frontier = next.filter(col("__changed")).select("id", "component")
      converged = nChanged == 0
      labels = next.select("id", "component")
      iter += 1
    }
    require(converged,
      s"nearDupComponents: no fixpoint after $maxIters iterations — " +
        "raise maxIters (component diameter exceeds the cap)")
    // the edge list is loop-internal — the returned labels are a
    // checkpoint of their own (lineage truncated), so its blocks are
    // dead weight from here on
    graft.util.Blocks.free(edges)
    (labels, iter)
  }

  /** Ids to DROP for a near-dup-free corpus: everything except each
    * component's minimum id (the canonical survivor). Composes with any
    * pair producer: `df.join(nearDupDropList(pairs), Seq("id"),
    * "left_anti")` is the cleaned corpus.
    */
  def nearDupDropList(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    nearDupComponents(pairs, maxIters)
      .filter(col("id") =!= col("component"))
      .select("id")

  /** Leakage-safe train/test split: near-duplicates must not straddle the
    * boundary (a test doc whose near-copy sits in train is evaluation
    * leakage — the split-level counterpart of dedup itself). The split
    * key is the near-dup COMPONENT label, so every member of a connected
    * near-dup group lands on the same side; singletons key on their own
    * id. Membership is the [[graft.profile.Sampling.stratifiedHashSample]]
    * hash rule (md5 hex threshold — deterministic, partition-stable,
    * engine-independent), applied to the component key.
    *
    * Returns (id, component, is_test). `pairs` comes from any near-dup
    * producer above; docs absent from `pairs` are their own component.
    */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      testFrac: Double,
      maxIters: Int = 20): DataFrame = {
    val comp = nearDupComponents(pairs, maxIters)
    df.select(col(idCol).cast("long").as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      .withColumn("is_test", splitIsTest(col("component"), testFrac))
  }

  /** The split membership rule shared by [[leakageSafeSplit]] and
    * [[graft.text.CorpusPrep]]: md5-hex threshold on the (component) key —
    * deterministic, partition-stable, engine-independent (the
    * [[graft.profile.Sampling.stratifiedHashSample]] hash idiom).
    */
  def splitIsTest(component: Column, testFrac: Double): Column = {
    require(testFrac >= 0 && testFrac <= 1,
      s"splitIsTest: testFrac must be in [0,1], got $testFrac")
    val threshold = (testFrac * 65536).round.toInt
    if (testFrac >= 1.0 || threshold >= 65536) lit(true)
    else if (threshold <= 0) lit(false)
    else substring(md5(concat(lit("split:"), component.cast("string"))),
      1, 4) < lit(f"$threshold%04x")
  }
}
