package graft.knn

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent sharded HNSW index — the graph-ANN counterpart of
  * [[IvfIndex]]'s index-as-data layout (reference: hnswlib
  * `save_index`/`load_index`, DeepJoin/annIndex.py:42–51, a single-machine
  * byte blob; here one blob per shard):
  *
  *  - `nodes/g=<gen>/shard=<s>/_graph.bin` — the shard: its graph image
  *    ([[HnswImage]]), every node's id, vector and links per level in
  *    insertion order, written by the task that built or rebuilt the
  *    shard's graph (temp name, then rename). Generation directories
  *    are IMMUTABLE once committed — append writes touched shards into
  *    the next generation and never rewrites a live file; a shard
  *    directory lives and dies whole (staging, retire, vacuum);
  *  - `manifest/m<gen>.json` — the commit marker: which generation is
  *    live for each shard, and its node count. Written whole to a temp
  *    name then renamed (atomic on HDFS/local), and readers take the
  *    highest-numbered manifest — so a crash anywhere in append leaves
  *    the previous manifest pointing at fully-intact state, and orphaned
  *    new-generation files are simply never referenced;
  *  - `params/` — one row (m, metric, shards, ef_construction,
  *    ef_search, rc_median, rc_q25): the hyperparameters the graphs
  *    were built under, the intended serving beam, and — when an
  *    untuned [[build]] resolved that beam from the catalog's measured
  *    shape (the SERVING BEAM contract on [[build]]) — the relative-
  *    contrast evidence behind the choice. Search reads them from the
  *    index itself — a caller cannot mismatch the build, and an
  *    untuned [[search]] serves the beam the builder declared
  *    (pre-column legacy layouts read as the engine-wide default 64,
  *    which is what they were always served at, with null evidence).
  *
  * Shard assignment is a deterministic hash of the id (stable across
  * builds and loads, independent of input partitioning), and insertion
  * order within a shard is ascending HASH-of-id (a seeded chain distinct
  * from the shard hash — see [[shardGraphFrame]] for the measured reason
  * arrival must be decorrelated from raw id order) — so the persisted
  * index is byte-deterministic for a given dataset. Every reader
  * restores a shard's graph EXACTLY from its image ([[HnswGraph.fromImage]]
  * — adjacency, entry point, top level); search runs the same
  * [[HnswSearch]] broadcast-query beam as [[ApproxKnn.hnswKnn]], so a
  * restored index answers identically to the index that was saved.
  *
  * Serving contract: [[search]] runs one task per live shard, each on
  * that shard's graph alone — restored from its image, or taken from
  * the executor's [[ResidentShards]] cache when the image is unchanged
  * — so a request moves the broadcast queries in and k·|Q| partials
  * per shard out, never the index. A live shard whose image is
  * missing, unreadable or disagrees with the manifest count fails every
  * reader with a named `IllegalStateException`: the image is the
  * shard's only stored form, so the repair is a [[build]] from the
  * source corpus.
  */
object HnswIndex {

  /** Build the per-shard graphs and persist each as its graph image.
    * Returns the node count written.
    *
    * Every build is GENERATION-STAGED and atomic ([[commitGeneration]],
    * shared with [[reshard]]): the new corpus's graphs land in the next
    * generation directory (g=0 in a directory with no committed
    * manifest; no live file touched), params swap and the manifest
    * commit under the commit marker, and only then are the superseded
    * generations deleted. A crash at any earlier point leaves the
    * previous index (if any) fully live — readers keep resolving the old
    * manifest — and [[recover]] at the next writer entry rolls the
    * commit forward or back. Like [[append]], build assumes a single
    * writer per index directory — ENFORCED by [[graft.util.IndexLock]]
    * (create-exclusive `_writer.lock`, stale-TTL broken): a second
    * maintenance writer fails fast with `HeldByOther` instead of racing
    * a swap or interleaving generations.
    *
    * SERVING BEAM: an untuned build (`efSearch` left at
    * [[UseIndexDefault]]) resolves the persisted `ef_search` from the
    * catalog's own measured SHAPE — the same maturation the grid's
    * escalation gate took in r19 ([[graft.pipeline.SemLinkGrid]]):
    * past [[ShapeProbeAbove]] nodes, one
    * [[ShapeStats.relativeContrastStats]] pass over the just-written
    * images (the exact corpus the index will serve; no re-read of
    * the caller's upstream lineage) classifies the catalog, and a
    * spread shape (q25 ≤ [[ShapeStats.SpreadRcMax]]) gets the measured
    * [[BeamLaw.SpreadBaseEf]] while a clustered one keeps
    * [[DefaultServeEf]] — the beam the recall matrix measured for each
    * regime (BeamLaw's ladder;
    * SCALE_r19_hnsw_index_shape_{spread,clustered}.json are the
    * END-TO-END artifacts on this path). The decision and its evidence
    * persist beside the params (`rc_median`/`rc_q25`, null when never
    * measured) and surface in [[staleness]]. An EXPLICIT `efSearch` —
    * any value, including the ≤ 0 full-beam sentinel — skips the probe
    * entirely and persists verbatim; below [[ShapeProbeAbove]] the
    * default stays [[DefaultServeEf]] unprobed (the measured matrix's
    * first tier is 2·10⁵ — at spec scale a 64 beam over shard-local
    * graphs is effectively wide and the probe's full-catalog pass
    * would be pure overhead). Appends never re-measure: shape is a
    * BUILD/REBUILD-time decision, like the IVF family's displacement
    * anchor — a corpus whose shape drifts re-classifies at its next
    * rebuild.
    *
    * SHARD COUNT: the untuned default (`shards` left at
    * [[UseAutoShards]]) is SIZE-AWARE — [[resolveShards]] holds the
    * per-shard graph at or under [[TargetShardNodes]] (~31k) nodes,
    * the per-shard size every committed recall anchor was measured at
    * (the grid tier runs 32 shards, so its 10⁶-key rows ARE ~31k-node
    * graphs). Recall tracks the beam's coverage of the PER-SHARD
    * graph, not the corpus: the same law'd beam measured 0.9949/0.9578
    * (clustered/spread at 10⁶, 31k shards) but only 0.9037/0.6476 when
    * a fixed 16-shard default let shards grow to 62.5k nodes
    * (SCALE_r19_hnsw_index_shape_*_16shards.json — the measurement
    * that forced this default). An explicit `shards` persists
    * verbatim, as before; resolution costs one count of the candidate
    * side on the auto path only.
    */
  def build(
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      m: Int = 16,
      efConstruction: Int = 100,
      metric: String = KnnJoin.MetricL2Sq,
      shards: Int = UseAutoShards,
      seed: Int = 42,
      efSearch: Int = UseIndexDefault,
      shapeProbeAbove: Long = ShapeProbeAbove): Long =
    // same single-writer lock as append/vacuum: a build racing a live
    // append would interleave generations with it, silently losing the
    // append's generation
    graft.util.IndexLock.withLock(candidates.sparkSession, dir,
        "HnswIndex.build") {
      // fail BEFORE any write: an empty corpus would commit an index
      // with no nodes over the previous one. Empty-seed bootstrap is not
      // supported here (unlike LshDedupIndex/Bm25Index, whose explicit
      // on-read schemas exist for the streaming create-on-first-batch
      // path); seed with at least one vector. On the auto-shard path the
      // emptiness check rides the shard-sizing count (count == 0 ⟺
      // empty) — one pass over the candidate lineage instead of two; the
      // explicit-shard path keeps the cheaper isEmpty (a single-partition
      // take, no full count)
      val nAuto: Option[Long] =
        if (shards == UseAutoShards) Some(candidates.count()) else None
      require(nAuto.map(_ > 0L).getOrElse(!candidates.isEmpty),
        s"HnswIndex.build: empty candidate side for $dir — the previous " +
          "index (if any) is untouched")
      recover(candidates.sparkSession, dir)
      // size-aware shard count (the SHARD COUNT contract above): the
      // count job is paid on the auto path only
      commitGeneration(dir,
        candidates.select(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<float>").as("vec")),
        Params(m, metric, resolveShards(shards, nAuto.getOrElse(0L)),
          efConstruction, seed, efSearch, None, None),
        build = true, shapeProbeAbove)
    }

  /** The untuned serving beam on a catalog the shape probe did not (or
    * could not) classify — the engine-wide HNSW default every measured
    * clustered-shape row was taken at.
    */
  val DefaultServeEf: Int = 64

  /** Corpus size below which an untuned [[build]] skips the shape probe
    * and keeps [[DefaultServeEf]]. Aligned with the grid's ANN tier
    * ([[graft.pipeline.SemLinkGrid.DefaultHnswAbove]]) and the measured
    * recall matrix, whose first tier is 2·10⁵: below this the beam
    * choice has no measured recall gap to buy, and the probe's
    * full-catalog nearest-neighbor pass would be the build's single
    * most expensive step instead of noise against graph construction.
    */
  val ShapeProbeAbove: Long = 100000L

  /** [[build]]'s "size the shards for me" sentinel (see the SHARD COUNT
    * contract on its scaladoc).
    */
  val UseAutoShards: Int = 0

  /** The per-shard node ceiling [[resolveShards]] maintains on the auto
    * path: 10⁶ keys over the grid tier's 32 shards, the shard size behind
    * every committed 10⁶-tier recall row. Larger shards lose recall at
    * the same beam (SCALE_r19_hnsw_index_shape_*_16shards); smaller ones
    * only add merge fan-in. Because auto-sized shards stop growing here,
    * [[search]]'s beam law keys on [[BeamLaw.equivalentKeys]] (see
    * [[effectiveEf]]).
    */
  val TargetShardNodes: Long = 31250L

  /** The floor (and the pre-r19 fixed default) for the auto path —
    * spec-scale corpora resolve here, bit-identical to the old
    * default.
    */
  val DefaultShards: Int = 16

  /** [[build]]'s shard-count resolution, a pure function for direct
    * spec pinning: explicit counts pass through verbatim; the
    * [[UseAutoShards]] sentinel resolves to the smallest count that
    * holds per-shard size at or under [[TargetShardNodes]], floored at
    * [[DefaultShards]].
    */
  private[graft] def resolveShards(shards: Int, n: Long): Int = {
    require(shards >= 0,
      s"HnswIndex: shards must be positive (or the UseAutoShards " +
        s"sentinel 0), got $shards")
    if (shards != UseAutoShards) shards
    else math.max(DefaultShards.toLong,
      (n + TargetShardNodes - 1) / TargetShardNodes).toInt
  }

  /** The ONE generation writer, shared by [[build]] (fresh directory or
    * over a live index) and [[reshard]]: every shard graph of `corpus`
    * under `p` stages into `nodes/g=<gen+1>` — a directory with no
    * committed manifest counts as generation −1, so a fresh build writes
    * g=0 — without touching a live file. Each build task returns its
    * shard's node count, collected as the manifest counts (for
    * `p.efSearch` = [[UseIndexDefault]] the staged images are also
    * shape-probed — the serving beam is resolved from the corpus the
    * index will actually serve), `params.tmp` stages, and
    * [[graft.util.StagedTables.commit]] publishes the marker
    * (`build:<g>` on a build, bare `<g>` on a reshard), swaps params and
    * writes the manifest — the commit point [[recover]] pivots on. A
    * build also clears ingest state in that window: a fresh corpus must
    * not inherit the previous corpus's high-water mark, while a reshard
    * keeps the corpus and its watermark. The superseded shard directories
    * retire after the commit. Returns the node count written. The caller
    * holds the writer lock and has run [[recover]].
    */
  private def commitGeneration(dir: String, corpus: DataFrame, p: Params,
      build: Boolean, shapeProbeAbove: Long = ShapeProbeAbove): Long = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val (gen, superseded) = liveManifest(spark, dir)
      .map { case (g, shardGens, _) => (g, shardGens) }
      .getOrElse((-1, Map.empty[Int, Int]))
    val next = gen + 1
    // anything already under g=<next> is debris from a crashed attempt
    // (a stray fresh build included): HnswImage.write keeps an image it
    // finds in place, so staging into it un-cleared could commit the
    // debris instead of this corpus's graph
    fs.delete(new Path(s"$dir/nodes/g=$next"), true)
    val counts = shardGraphFrame(corpus, p.m, p.efConstruction,
        KnnJoin.isCosine(p.metric), p.seed, p.shards, dir, next)
      .as[(Int, Long)].collect().toMap
    val staged = counts.map { case (s, _) => s -> next }
    val n = counts.values.sum
    val params =
      if (p.efSearch != UseIndexDefault) p
      else {
        val (ef, rcMed, rcQ25) = resolveServeEf(
          loadNodes(spark, dir, staged, counts), n, shapeProbeAbove)
        p.copy(efSearch = ef, rcMedian = rcMed, rcQ25 = rcQ25)
      }
    // `rc_median`/`rc_q25` are the shape probe's evidence, null when the
    // beam was explicit, below-threshold, or pre-column legacy
    Seq((params.m, params.metric, params.shards, params.efConstruction,
        params.seed, params.efSearch, params.rcMedian, params.rcQ25))
      .toDF("m", "metric", "shards", "ef_construction", "seed", "ef_search",
        "rc_median", "rc_q25")
      .repartition(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/params.tmp")
    graft.util.StagedTables.commit(fs, dir, CommitMarker,
        (if (build) BuildOp else "") + next, Seq("params")) { _ =>
      writeManifest(spark, dir, next, staged, counts)
      if (build) graft.util.IngestState.clear(spark, dir)
    }
    retire(fs, dir, superseded)
    n
  }

  /** Delete superseded (shard → generation) directories after a commit,
    * and the generation directories that leaves empty. Best-effort: a
    * failure leaves orphans for [[vacuum]], never an inconsistent index.
    */
  private def retire(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      superseded: Map[Int, Int]): Unit =
    try {
      superseded.foreach { case (s, g) =>
        fs.delete(new Path(s"$dir/nodes/g=$g/shard=$s"), true)
      }
      superseded.values.toSet.foreach { (g: Int) =>
        val gd = new Path(s"$dir/nodes/g=$g")
        if (fs.exists(gd) && fs.listStatus(gd).isEmpty) fs.delete(gd, true)
      }
    } catch { case scala.util.control.NonFatal(_) => }

  /** An untuned [[build]]'s serving-beam resolution (the SERVING BEAM
    * contract on its scaladoc; explicit beams persist verbatim and never
    * reach here): below-threshold builds keep [[DefaultServeEf]]
    * unprobed (rc null); past `shapeProbeAbove` one
    * [[ShapeStats.relativeContrastStats]] pass over the just-written
    * images takes the measured beam for the classified shape.
    */
  private def resolveServeEf(written: DataFrame, n: Long,
      shapeProbeAbove: Long): (Int, Option[Double], Option[Double]) =
    if (n < shapeProbeAbove) (DefaultServeEf, None, None)
    else {
      val rc = ShapeStats.relativeContrastStats(written, "id", "vec")
      val ef = if (rc.q25 <= ShapeStats.SpreadRcMax) BeamLaw.SpreadBaseEf
        else DefaultServeEf
      (ef, Some(rc.median), Some(rc.q25))
    }

  /** The deterministic insertion-order key ([[shardGraphFrame]]'s
    * scaladoc explains why arrival must be decorrelated from the raw
    * id): a seeded xxhash64 chain, distinct from the shard-assignment
    * hash so shard membership and arrival order stay independent.
    */
  private val InsertOrderSeed: Long = 2654435769L
  private def insertOrderCol(id: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    xxhash64(id, lit(InsertOrderSeed))

  /** The deterministic shard-graph frame shared by [[build]] and
    * [[reshard]]: shard by id hash, one builder per shard seeing its
    * rows contiguously in HASH-of-id order — byte-identical graphs
    * regardless of source layout. Each task publishes its shards' graph
    * images under `nodes/g=<gen>` ([[persistShard]]) and returns one
    * (shard, n) row per shard.
    *
    * Why hash order and not id order (the pre-r19 recipe): HNSW graph
    * quality is sensitive to insertion order when id order correlates
    * with geometry — a time-ordered corpus whose embedding distribution
    * drifts inserts its oldest regime first, and the graph's upper-level
    * scaffolding (entry point, early hubs) anchors inside a region the
    * rest of the corpus does not live in. MEASURED on the 10⁶ spread
    * fixture (whose first id block is a norm-separated cluster):
    * id-ordered insertion served recall@10 0.8260 at the default beam
    * where the identical member set hash-relabeled served 0.9578
    * (SCALE_r19_hnsw_index_shape_spread* artifacts), and the per-shard
    * diagnostic isolated ORDER as the whole effect (same members, same
    * levels: 0.761 id-ordered vs 0.934 hash-shuffled). A seeded hash of
    * the id decorrelates arrival from any id↔geometry structure while
    * staying fully deterministic; ties fall back to the id.
    */
  private def shardGraphFrame(src: DataFrame, m: Int, efConstruction: Int,
      cosine: Boolean, seed: Int, shards: Int, dir: String, gen: Int)
      : DataFrame = {
    val spark = src.sparkSession
    import spark.implicits._
    val conf = hadoopConf(spark)
    val genDir = s"$dir/nodes/g=$gen"
    src
      .withColumn("shard", pmod(xxhash64(col("id")), lit(shards)).cast("int"))
      .withColumn("__ins", insertOrderCol(col("id")))
      // PERFECT shard placement (graft.util.ShardSlots): a bare
      // repartition(shards, col("shard")) hash-collides shard keys —
      // ~1/e of the build tasks idle while others construct two whole
      // graphs. The groupBy below still tolerates multi-shard
      // partitions, so the slot mapping is a pure balance hint.
      .withColumn("__slot",
        graft.util.ShardSlots.slotCol(col("shard"), 0 until shards))
      .repartition(shards, col("__slot"))
      .sortWithinPartitions("shard", "__ins", "id")
      .select("id", "vec", "shard")
      .as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        it.toSeq.groupBy(_._3).iterator.map { case (shard, rows) =>
          val g = new HnswGraph(m, efConstruction, cosine, seed)
          rows.foreach { case (id, vec, _) => g.insert(id, vec) }
          persistShard(conf.value.value, genDir, shard, g)
        }
      }
      .toDF("shard", "n")
  }

  /** The task-side tail of both shard-graph writers ([[shardGraphFrame]]
    * and [[rebuildTouchedShards]]): publish `g`'s [[HnswImage]] into its
    * shard directory under `genDir` and return (shard, node count).
    */
  private def persistShard(conf: org.apache.hadoop.conf.Configuration,
      genDir: String, shard: Int, g: HnswGraph): (Int, Long) = {
    HnswImage.write(conf, new Path(s"$genDir/shard=$shard"), g)
    (shard, g.size.toLong)
  }

  /** The session's Hadoop configuration, broadcast for the tasks that
    * read or write graph images.
    */
  private def hadoopConf(spark: SparkSession) =
    spark.sparkContext.broadcast(
      new org.apache.spark.SerializableWritable(spark.sessionState.newHadoopConf()))

  /** Atomically publish the shard→generation map as manifest generation
    * `gen`: the JSON is written whole to a dot-prefixed temp name, then
    * renamed into place — readers either see the complete new manifest or
    * keep resolving the previous one. Writers are serialized by
    * [[graft.util.IndexLock]]; the existence check below keeps an
    * already-committed generation from being silently overwritten
    * (POSIX rename replaces an existing dest; HDFS returns false).
    */
  private def writeManifest(
      spark: SparkSession, dir: String, gen: Int, shards: Map[Int, Int],
      counts: Map[Int, Long]): Unit = {
    val mdir = new Path(s"$dir/manifest")
    val fs = mdir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(mdir)
    // counts ride the manifest so search can size its beam from state
    // it already reads (graft.knn.BeamLaw — no extra count job on the
    // serving path). Completeness is REQUIRED at write time: every
    // writer derives counts from the same per-shard agg that derives
    // the shard map, so an incomplete map here is a writer bug — and
    // silently omitting the block would produce a legacy-style manifest
    // that disables the beam law with no signal (search goes inert at
    // the raw knob). Incompleteness stays tolerated on the READ side
    // only, for manifests written before counts rode along.
    require(counts.keySet == shards.keySet,
      s"HnswIndex.writeManifest: counts ${counts.keySet.toSeq.sorted} do " +
        s"not cover shards ${shards.keySet.toSeq.sorted} — a partial map " +
        "would understate the corpus and under-beam every search")
    val countsJson =
      counts.toSeq.sorted.map { case (s, n) => s""""$s":$n""" }
        .mkString(""","counts":{""", ",", "}")
    val json = shards.toSeq.sorted
      .map { case (s, g) => s""""$s":$g""" }
      .mkString("""{"shards":{""", ",", s"}$countsJson}")
    val tmp = new Path(mdir, f".m$gen%06d.json.inprogress")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val dest = new Path(mdir, f"m$gen%06d.json")
    if (fs.exists(dest))
      throw new IllegalStateException(
        s"HnswIndex: manifest $dest already exists — concurrent writer detected " +
          "(the index requires a single writer per directory)")
    if (!fs.rename(tmp, dest))
      throw new IllegalStateException(s"HnswIndex: manifest commit failed: $dest")
  }

  /** Resolve the live (generation, shard→gen, shard→count) state: the
    * highest-numbered committed manifest. Temp (`.inprogress`) files from
    * a crashed writer never match the committed name pattern. The counts
    * map is EMPTY for a manifest written before counts rode along
    * (readers must treat that as "size unknown" — [[search]]'s beam law
    * goes inert rather than guessing); it self-heals at the next append,
    * build, or reshard.
    */
  private[graft] def readManifest(spark: SparkSession, dir: String)
      : (Int, Map[Int, Int], Map[Int, Long]) = {
    val mdir = new Path(s"$dir/manifest")
    val fs = mdir.getFileSystem(spark.sessionState.newHadoopConf())
    // missing manifest/ (an empty dir, or an index persisted by a pre-
    // manifest layout) must surface the clear require below, not an
    // opaque FileNotFoundException from listStatus
    require(fs.exists(mdir), s"HnswIndex: no committed manifest under $dir " +
      "(not an HnswIndex directory, or written by an incompatible layout)")
    val committed = fs.listStatus(mdir).toSeq
      .flatMap(st => st.getPath.getName match {
        case ManifestName(n) => Some(n.toInt -> st.getPath)
        case _ => None
      })
    require(committed.nonEmpty, s"HnswIndex: no committed manifest under $dir")
    val (gen, path) = committed.maxBy(_._1)
    val in = fs.open(path)
    val body =
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(body)
    val node = root.path("shards")
    require(node.isObject, s"HnswIndex: malformed manifest $path")
    val shards = scala.collection.mutable.Map.empty[Int, Int]
    node.fields().forEachRemaining(e => shards += e.getKey.toInt -> e.getValue.asInt())
    val countsNode = root.path("counts")
    val counts = scala.collection.mutable.Map.empty[Int, Long]
    if (countsNode.isObject)
      countsNode.fields().forEachRemaining(e =>
        counts += e.getKey.toInt -> e.getValue.asLong())
    (gen, shards.toMap, counts.toMap)
  }

  /** The live nodes per the manifest, (shard, id, vec): one task per
    * shard reads exactly the image of its committed generation
    * ([[readImage]]); orphans from a crashed writer are never read.
    */
  private def loadNodes(spark: SparkSession, dir: String,
      shardGens: Map[Int, Int], counts: Map[Int, Long]): DataFrame = {
    import spark.implicits._
    eachImage(spark, dir, shardGens, counts)(HnswImage.read)(_.size)
      .flatMap { case (shard, img) =>
        Iterator.tabulate(img.size)(i => (shard, img.ids(i), img.vector(i))) }
      .toDF("shard", "id", "vec")
  }

  /** Each live shard's node count, read from its image's header and id
    * block ([[HnswImage.readIds]]), never its vectors or links.
    */
  private def shardCounts(spark: SparkSession, dir: String,
      shardGens: Map[Int, Int], counts: Map[Int, Long])
      : org.apache.spark.rdd.RDD[(Int, Long)] =
    eachImage(spark, dir, shardGens, counts)(HnswImage.readIds)(_.length)
      .map { case (shard, ids) => (shard, ids.length.toLong) }

  /** One task per live shard, each reading that shard's image with
    * `read` (the whole image, or its ids alone) through [[readImage]].
    */
  private def eachImage[T](spark: SparkSession, dir: String,
      shardGens: Map[Int, Int], counts: Map[Int, Long])(
      read: (org.apache.hadoop.conf.Configuration, Path) => T)(size: T => Int)
      : org.apache.spark.rdd.RDD[(Int, T)] = {
    val conf = hadoopConf(spark)
    val shards = shardGens.toSeq.sorted
      .map { case (shard, gen) => (shard, gen, counts.get(shard)) }
    spark.sparkContext.parallelize(shards, math.max(1, shards.size))
      .map { case (shard, gen, want) =>
        shard -> readImage(conf.value.value, dir, shard, gen, want)(read)(size) }
  }

  /** Per-shard occupancy of the LIVE generation: (shard, n_nodes) — the
    * balance diagnostic of the [[graft.knn.IvfIndex.stats]] family (query
    * latency follows the largest shard's graph, and appended batches land
    * whole shards, so drifted ingest skews here first). Reads only the
    * header and id block of each live shard's image.
    */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, shardGens, counts) = readManifest(spark, dir)
    shardCounts(spark, dir, shardGens, counts).toDF("shard", "n_nodes")
  }

  /** One-row health surface — the [[IvfIndex.staleness]] counterpart for
    * the graph family. The IVF signal answers "is a rebuild due?"
    * (quality decays through codebook drift); HNSW quality decay is
    * corpus-GROWTH-driven and [[BeamLaw]] compensates automatically at
    * serving time, so the operator questions left are capacity and
    * hygiene — answered here from state the index already persists,
    * with ZERO Spark jobs (manifest JSON + two directory listings):
    *
    *  - `n_nodes` — live corpus size from the manifest-v2 counts (null
    *    for a legacy counts-less manifest: unknown, and the beam law is
    *    then inert — see `beam_law_active`);
    *  - `n_shards`, `max_shard_nodes`, `shard_skew` — per-shard count
    *    skew (max/mean). Query latency follows the LARGEST shard's
    *    graph (every query beams every shard; the slowest task gates the
    *    merge), and hash sharding keeps skew ≈ 1 — a high value means
    *    pathological id clustering: [[reshard]] is the knob;
    *  - `beam_law_active` — whether [[search]] will auto-scale the beam
    *    (counts complete and not overridden); false on a legacy manifest
    *    means a grown corpus serves at the RAW base beam, shedding the
    *    measured recall — heal by any append/build/[[reshard]];
    *  - `base_ef`, `effective_ef`, `beam_doublings` — the beam the law
    *    will pick at the current size ([[BeamLaw.autoEf]]) for the
    *    index's OWN serving beam (params' `ef_search` — what an untuned
    *    [[search]] actually runs; the `baseEf` argument overrides for
    *    what-if probing): the per-query search-cost multiplier an
    *    operator is implicitly paying, and the capacity signal (each
    *    doubling ≈ 2× search compute for ~5× catalog — a high doubling
    *    count says the build-time shard sizing is due a [[reshard]]
    *    upward);
    *  - `orphan_paths` — unreferenced generation/shard directories and
    *    superseded manifests (crash debris / failed best-effort deletes;
    *    the graph family has no tombstones, so dead FILES, not dead
    *    rows, are its vacuum bookkeeping): the storage [[vacuum]] would
    *    reclaim;
    *  - `rc_q25`, `shape` — the build-time shape probe's evidence and
    *    verdict ("spread"/"clustered" — which measured recall column
    *    the persisted default beam was chosen from; see [[build]]'s
    *    SERVING BEAM contract). Null when the beam was explicit, the
    *    build was below [[ShapeProbeAbove]], or the layout is
    *    pre-column legacy — the probe never ran, so there is no
    *    evidence to report.
    *
    * Cost: the manifest JSON, two directory listings, and the params
    * through [[open]]: one one-row collect when the params memo misses
    * (the row's only Spark job — the price of reporting the beam the
    * index will actually serve instead of an argument), none on a hit.
    *
    * CONCURRENCY: deliberately lock-free and recovery-free — a health
    * probe must never contend with (or heal under) a live writer. The
    * consequence: during a concurrent append/reshard commit window, or
    * against an index whose last writer crashed mid-swap, the orphan
    * count can include legitimately-staged next-generation directories
    * and the read can even throw on mid-rename state — `orphan_paths`
    * is ADVISORY under concurrency; re-read after the writer settles
    * (or after any maintenance op has run recovery) for a durable
    * number.
    */
  def staleness(spark: SparkSession, dir: String,
      baseEf: Int = UseIndexDefault): DataFrame = {
    import spark.implicits._
    val (liveGen, shardGens, counts) = readManifest(spark, dir)
    val params = open(spark, dir).meta
    val resolvedBaseEf =
      if (baseEf == UseIndexDefault) params.efSearch else baseEf
    val complete = counts.keySet == shardGens.keySet && shardGens.nonEmpty
    val nNodes: Option[Long] = if (complete) Some(counts.values.sum) else None
    val maxShard: Option[Long] = if (complete) Some(counts.values.max) else None
    val skew: Option[Double] =
      nNodes.filter(_ > 0).map(n =>
        counts.values.max.toDouble / (n.toDouble / shardGens.size))
    val effEf = effectiveEf(resolvedBaseEf, efAutoScale = true, shardGens,
      counts)
    val doublings =
      if (complete && resolvedBaseEf > 0)
        BeamLaw.doublings(
          BeamLaw.equivalentKeys(counts.values.sum, shardGens.size))
      else 0
    // hygiene listing: vacuum's own orphan walk, count-only
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val orphans = orphanPaths(fs, dir, liveGen, shardGens).size.toLong
    // which measured recall column this index's default beam was chosen
    // from (build's shape probe — see [[build]]'s SERVING BEAM contract):
    // null/null when the beam was explicit, below-threshold, or legacy
    val shape: Option[String] = params.rcQ25.map(q =>
      if (q <= ShapeStats.SpreadRcMax) "spread" else "clustered")
    Seq((nNodes, shardGens.size, maxShard, skew, complete,
        resolvedBaseEf, effEf, doublings, orphans, params.rcQ25, shape))
      .toDF("n_nodes", "n_shards", "max_shard_nodes", "shard_skew",
        "beam_law_active", "base_ef", "effective_ef", "beam_doublings",
        "orphan_paths", "rc_q25", "shape")
  }

  /** The persisted hyperparameters plus the declared serving beam and
    * its shape evidence. A pre-column legacy layout reads `ef_search`
    * as [[DefaultServeEf]] — the engine-wide untuned default such an
    * index was always served at, not a guess — and the rc columns as
    * None (never measured).
    */
  private[graft] final case class Params(m: Int, metric: String, shards: Int,
      efConstruction: Int, seed: Int, efSearch: Int,
      rcMedian: Option[Double], rcQ25: Option[Double])

  private[graft] type Snapshot = graft.util.Snapshot[Params]

  private val memo = new graft.util.MetaMemo[Params](Seq("params"))

  /** The snapshot [[probe]] and [[appendPrepared]] consume: the params
    * come from a generation-keyed [[graft.util.MetaMemo]] (one one-row
    * collect on a miss, none on a hit — a serving loop probing one
    * directory pays it once; a build or [[reshard]] commit is a miss).
    * The live manifest is not part of the snapshot: appends publish a
    * new one, so every probe and append reads it (JSON, no Spark job).
    */
  private[graft] def open(spark: SparkSession, dir: String): Snapshot =
    memo.open(spark, dir)(loadParams(spark, dir))

  private def loadParams(spark: SparkSession, dir: String): Params = {
    val raw = spark.read.parquet(s"$dir/params")
    val df = Seq[(String, org.apache.spark.sql.Column)](
        "ef_search" -> lit(DefaultServeEf).cast("int"),
        "rc_median" -> lit(null).cast("double"),
        "rc_q25" -> lit(null).cast("double"))
      .foldLeft(raw) { case (d, (c, v)) =>
        if (d.columns.contains(c)) d else d.withColumn(c, v)
      }
    val rows = df
      .select("m", "metric", "shards", "ef_construction", "seed", "ef_search",
        "rc_median", "rc_q25")
      .collect()
    require(rows.length == 1, s"HnswIndex: malformed params under $dir")
    val r = rows.head
    Params(r.getInt(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4),
      r.getInt(5),
      if (r.isNullAt(6)) None else Some(r.getDouble(6)),
      if (r.isNullAt(7)) None else Some(r.getDouble(7)))
  }

  /** Append new vectors WITHOUT rebuilding the whole index: each new
    * vector routes to its deterministic shard, the affected shards'
    * graphs are restored from their images and the new elements
    * inserted incrementally (hnswlib `add_items` semantics — graph
    * insertion is order-dependent, so an appended index is a valid HNSW
    * over the union but not byte-identical to a from-scratch build), and
    * ONLY those shards are rewritten — untouched shards' images are not
    * read or written.
    *
    * Crash-atomic: the rebuilt shards land in a NEW generation directory
    * (no live file is touched), and the append commits by publishing a
    * new manifest (atomic rename). A failure at any earlier point leaves
    * the previous manifest resolving the previous, fully-intact
    * generation; files a crashed attempt staged under the next
    * generation are cleared before the retry stages its own. Superseded
    * generation directories are deleted best-effort AFTER the commit.
    *
    * Hyperparameters come from `params/`, read after recovery: a
    * reshard that died after its params swap but before the manifest
    * commit would otherwise route ids by the uncommitted shard count.
    * Duplicate labels are rejected (hnswlib `add_items` parity) by the
    * guarded [[graft.util.IndexWriter.append]]: a batch that repeats an
    * id, or carries one the index already holds, is refused — a silent
    * double-insert would persist two nodes with one external id and
    * search would return that neighbor twice within top-k. Returns the
    * appended row count.
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
    * batch is inserted as it is ([[appendPrepared]]).
    */
  private[graft] def writer(idCol: String, vecCol: String)
      : graft.util.IndexWriter[Snapshot] =
    graft.util.IndexWriter[Snapshot]("HnswIndex", recover, readIds, open,
      prepare = (_, _, batch) => batch,
      write = (sp, snap, batch, _) =>
        appendPrepared(sp, snap, batch, idCol, vecCol))

  /** The committed id set (one `id` column over the live generations),
    * read from each live image's header and id block only — no vector
    * or link is decoded. Package-private for the streaming ingester's
    * freshness marker join, mirroring [[IvfIndex.readIds]].
    */
  private[graft] def readIds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, shardGens, counts) = readManifest(spark, dir)
    eachImage(spark, dir, shardGens, counts)(HnswImage.readIds)(_.length)
      .flatMap(_._2).toDF("id")
  }

  /** [[append]]'s body against an opened snapshot. The caller holds the
    * writer lock, opened the snapshot after [[recover]] and owns the id
    * guards ([[writer]]); a duplicate label that slips past them still
    * fails loudly in the shard insert kernel ([[HnswGraph.insert]]).
    * Returns the appended row count.
    */
  private[graft] def appendPrepared(
      spark: SparkSession,
      snap: Snapshot,
      newVectors: DataFrame,
      idCol: String,
      vecCol: String): Long = {
    import spark.implicits._
    val dir = snap.dir
    val fresh = newVectors
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vec"))
      .withColumn("shard",
        pmod(xxhash64(col("id")), lit(snap.meta.shards)).cast("int"))
      .cache()
    try {
      // ONE agg over the cached batch serves the touched-shard set and
      // the appended-row count
      val freshByShard = fresh.groupBy("shard").count()
        .as[(Int, Long)].collect().toMap
      val touched = freshByShard.keys.toSeq.sorted
      if (touched.isEmpty) return 0L

      val (gen, shardGens, oldCounts) = readManifest(spark, dir)
      val fs = new Path(s"$dir/nodes").getFileSystem(
        spark.sessionState.newHadoopConf())
      // the live manifest resolves gen, so anything already under
      // g=gen+1 is debris from an append that crashed BEFORE its commit:
      // HnswImage.write keeps an image it finds in place, so staging into
      // it un-cleared could commit the debris instead of the rebuilt
      // shard (single-writer assumption, as documented on this method)
      fs.delete(new Path(s"$dir/nodes/g=${gen + 1}"), true)
      val rebuilt = rebuildTouchedShards(fresh, touched, dir, shardGens,
          oldCounts, gen + 1, snap.meta)
        .as[(Int, Long)].collect().toMap
      // a rebuilt shard's count is its new image's; the others keep
      // theirs. A legacy counts-less manifest heals ONCE here with a
      // header read of the untouched images
      val kept =
        if (oldCounts.keySet == shardGens.keySet) oldCounts
        else shardCounts(spark, dir, shardGens -- touched, Map.empty)
          .collect().toMap
      writeManifest(spark, dir, gen + 1,
        shardGens ++ touched.map(_ -> (gen + 1)), kept ++ rebuilt)
      retire(fs, dir, shardGens.filter { case (s, _) => rebuilt.contains(s) })
      freshByShard.values.sum
    } finally fresh.unpersist()
  }

  /** [[append]]'s touched-shard rebuild as ONE slot-placed partition
    * pass over the fresh rows (shard, id, vec) alone: they are
    * PERFECT-placed one shard per task via [[graft.util.ShardSlots]]
    * (the same contract the build stage uses — a bare
    * `repartition(col("shard"))` hash-collides shard keys, so ~1/e of
    * the rebuild tasks idled while others rebuilt two whole graphs).
    * Each task restores its shard from the live image of `shardGens`
    * (checked against `counts`), or starts an empty graph for a shard
    * the index does not hold yet, inserts the fresh rows in
    * hash-of-id order (the [[shardGraphFrame]] decorrelation rule),
    * publishes the graph's image under generation `next`
    * ([[persistShard]]) and returns (shard, node count).
    */
  private[graft] def rebuildTouchedShards(
      fresh: DataFrame,
      touched: Seq[Int],
      dir: String,
      shardGens: Map[Int, Int],
      counts: Map[Int, Long],
      next: Int,
      p: Params): DataFrame = {
    val spark = fresh.sparkSession
    import spark.implicits._
    val conf = hadoopConf(spark)
    val Params(m, metric, _, efConstruction, seed, _, _, _) = p
    val cosine = KnnJoin.isCosine(metric)
    val genDir = s"$dir/nodes/g=$next"
    fresh
      .withColumn("__ins", insertOrderCol(col("id")))
      .withColumn("__slot",
        graft.util.ShardSlots.slotCol(col("shard"), touched))
      .repartition(touched.size, col("__slot"))
      .select("shard", "id", "vec", "__ins")
      .as[(Int, Long, Array[Float], Long)]
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1).iterator.map { case (shard, rows) =>
          val g = shardGens.get(shard).fold(
            new HnswGraph(m, efConstruction, cosine, seed)) { gen =>
            HnswGraph.fromImage(m, cosine, readImage(conf.value.value, dir,
              shard, gen, counts.get(shard))(HnswImage.read)(_.size),
              efConstruction, seed)
          }
          rows.sortBy(r => (r._4, r._2)).foreach { case (_, id, vec, _) =>
            g.insert(id, vec) }
          persistShard(conf.value.value, genDir, shard, g)
        }
      }
      .toDF("shard", "n")
  }

  /** Probe the persisted index: one task per live shard beams the
    * broadcast query set through that shard's graph and returns its
    * per-query top-k as [[TopK.Partials]]; [[TopK.mergeTopK]] merges
    * them into the ranked result — the [[ApproxKnn.hnswKnn]] execution
    * over restored state. `m` and the metric come from the persisted
    * `params/`, never from the caller.
    *
    * Contract: a frame of [[IvfIndex.searchSchema]], ranked by (dist,
    * neighbor_id) ascending exactly as the ranking window of
    * [[TopK.topKMerge]] would rank the same partials. A request
    * whose partials (shards · |queries| · k) fit
    * [[TopK.driverMerges]] — every serving request — is merged on
    * the driver into a local frame, computed when this returns: two
    * Spark jobs (the query collect and the shard fold) and no exchange.
    * A larger one merges in a range reduce, lazily. A shard's graph is
    * restored from its image ([[readImage]]) or taken from the
    * executor's [[ResidentShards]], which keys it by directory,
    * params generation, generation and shard and checks the image's
    * length and mtime on every lookup; either way a live shard without a
    * readable image, or whose graph disagrees with the manifest count,
    * fails the search with an `IllegalStateException` naming the shard
    * and the repair. `HnswGoldenSpec` pins the rows, `HnswIndexSpec` the
    * cache's safety; the traced `ann_serve` run reads
    * `knn.search_jobs` 2 and `knn.search_shuffle_bytes` 0.
    *
    * Beam law: a positive `efSearch` is the beam at gate-tier scale —
    * past [[BeamLaw.HoldKeys]] EQUIVALENT keys it is widened by the
    * measured [[BeamLaw.autoEf]] rule (the index's corpus grows under
    * streaming appends exactly the way the grid's catalog grows across
    * tiers, and a fixed beam sheds the same measured recall). The law
    * keys on [[BeamLaw.equivalentKeys]] — per-shard coverage under the
    * calibration geometry, so an auto-sharded index's saturated shards
    * stop the doublings where the measured need stops
    * (SCALE_r21_beamlaw_*) — from the manifest's counts and shard map,
    * state this method already reads, zero extra jobs on the serving
    * path. `efAutoScale = false` pins the raw knob; `efSearch <= 0`
    * (the full beam, each shard's node count) passes through unscaled;
    * a legacy counts-less manifest leaves the law inert (raw knob) until
    * the next append/build/reshard heals it.
    *
    * A thin wrapper: it opens `dir` and runs [[probe]].
    */
  def search(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      efSearch: Int = UseIndexDefault,
      excludeSelf: Boolean = true,
      efAutoScale: Boolean = true): DataFrame =
    probe(spark, open(spark, dir), queries, idCol, vecCol, k, efSearch,
      excludeSelf, efAutoScale)

  /** [[search]]'s body over an opened snapshot. */
  private[graft] def probe(
      spark: SparkSession,
      snap: Snapshot,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      efSearch: Int = UseIndexDefault,
      excludeSelf: Boolean = true,
      efAutoScale: Boolean = true): DataFrame = {
    val (dir, params) = (snap.dir, snap.meta)
    val (m, metric, efDefault) = (params.m, params.metric, params.efSearch)
    val cosine = KnnJoin.isCosine(metric)
    val bc = spark.sparkContext.broadcast(
      TopK.collectQueries(queries, idCol, vecCol, "HnswIndex.search"))

    // the UNTUNED call serves the beam the index declares for itself
    // (params' ef_search — 64 on every index built before the column
    // and on defaults, so behavior is unchanged unless a builder SET a
    // serving beam); an explicit efSearch, including the <= 0 full-beam
    // sentinel, overrides as before
    val baseEf = if (efSearch == UseIndexDefault) efDefault else efSearch
    val (_, shardGens, counts) = readManifest(spark, dir)
    val (kL, efS, ex) =
      (k, effectiveEf(baseEf, efAutoScale, shardGens, counts), excludeSelf)
    // an empty manifest (reachable: the streaming gate probes BEFORE the
    // first append) has no neighbors — an empty frame of the search
    // schema, with no job
    if (shardGens.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        IvfIndex.searchSchema)
    val conf = hadoopConf(spark)
    val qdir = qualified(spark, dir)
    val paramsGen = snap.gen
    val shards = shardGens.toSeq.sorted
      .map { case (shard, gen) => (shard, gen, counts.get(shard)) }
    // one task per live shard, each on its own graph
    val partials = spark.sparkContext.parallelize(shards, shards.size)
      .map { case (shard, gen, want) =>
        val g = residentGraph(conf.value.value, qdir, paramsGen, shard, gen,
          want, m, cosine)
        HnswSearch.beamAll(g, bc.value, kL, efS, ex)
      }
    TopK.mergeTopK(spark, partials, bc.value.map(_._1), k)
  }

  /** `dir` as the filesystem qualifies it: the directory part of a
    * [[ResidentShards]] key.
    */
  private def qualified(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p)
      .toString
  }

  /** The restored graphs of live shards, per JVM ([[ResidentShards]]). */
  private[graft] val resident = new ResidentShards(
    Runtime.getRuntime.maxMemory / ResidentShards.HeapShare)

  /** One live shard's graph for [[probe]]: the [[resident]] graph when
    * its image's length and mtime (one `getFileStatus`, no read) still
    * match the ones it was restored from, else a restore through
    * [[readImage]], kept resident. Hit or miss, the graph must hold the
    * manifest's count, and a missing image fails as [[readImage]] does.
    */
  private def residentGraph(conf: org.apache.hadoop.conf.Configuration,
      dir: String, paramsGen: Long, shard: Int, gen: Int, want: Option[Long],
      m: Int, cosine: Boolean): HnswGraph = {
    val key = ResidentShards.Key(dir, paramsGen, gen, shard)
    val (len, mtime) = imageStatus(conf, key).getOrElse(shardFailure(dir,
      shard, gen, s"has no graph image ${imageFile(dir, shard, gen)}"))
    val g = resident.get(key, len, mtime).getOrElse {
      val restored = HnswGraph.fromImage(m, cosine,
        readImage(conf, dir, shard, gen, want)(HnswImage.read)(_.size))
      resident.put(key, len, mtime, restored)(imageStatus(conf, _))
      restored
    }
    want.filter(_ != g.size).foreach(w => shardFailure(dir, shard, gen,
      s"has a graph image of ${g.size} nodes, but the manifest counts $w"))
    g
  }

  private def imageFile(dir: String, shard: Int, gen: Int): Path =
    new Path(s"$dir/nodes/g=$gen/shard=$shard/${HnswImage.FileName}")

  /** The length and mtime of the image a [[ResidentShards]] key names,
    * if it exists.
    */
  private def imageStatus(conf: org.apache.hadoop.conf.Configuration,
      key: ResidentShards.Key): Option[(Long, Long)] = {
    val file = imageFile(key.dir, key.shard, key.gen)
    try {
      val st = file.getFileSystem(conf).getFileStatus(file)
      Some((st.getLen, st.getModificationTime))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** The named error of a live shard that cannot serve: the image is the
    * shard's only stored form, so the repair is a [[build]].
    */
  private def shardFailure(dir: String, shard: Int, gen: Int,
      problem: String): Nothing =
    throw new IllegalStateException(
      s"HnswIndex: live shard $shard (g=$gen) of $dir $problem; a shard " +
        "is stored only as its graph image — rebuild the index from its " +
        "source with HnswIndex.build")

  /** One live shard's image, read by `read` (the whole image, or its
    * ids alone): the image must exist, decode, and hold the manifest's
    * count for the shard (`want`, absent on a legacy counts-less
    * manifest). Anything else is an `IllegalStateException` that names
    * the shard and the repair ([[shardFailure]]).
    */
  private def readImage[T](conf: org.apache.hadoop.conf.Configuration,
      dir: String, shard: Int, gen: Int, want: Option[Long])(
      read: (org.apache.hadoop.conf.Configuration, Path) => T)(size: T => Int)
      : T = {
    val file = imageFile(dir, shard, gen)
    def fail(problem: String) = shardFailure(dir, shard, gen, problem)
    val nodes =
      try read(conf, file)
      catch {
        case _: java.io.FileNotFoundException => fail(s"has no graph image $file")
        case e: java.io.IOException => fail(s"has an unreadable graph image: $e")
        case e: IllegalStateException => fail(s"has a ${e.getMessage}")
      }
    want.filter(_ != size(nodes)).foreach(w =>
      fail(s"has a graph image of ${size(nodes)} nodes, but the manifest counts $w"))
    nodes
  }

  /** [[search]]/[[staleness]]'s "use the persisted serving beam"
    * sentinel — distinct from the <= 0 full-beam sentinel,
    * which remains an explicit caller choice and passes through.
    */
  val UseIndexDefault: Int = Int.MinValue

  /** [[search]]'s beam resolution, isolated for direct spec pinning:
    * the [[BeamLaw]] applies only when the caller left auto-scaling on
    * AND the manifest's counts are complete (an incomplete/legacy map
    * must never under-state the corpus and silently under- or
    * over-beam — the law goes inert, raw knob, instead of guessing).
    *
    * The law keys on [[BeamLaw.equivalentKeys]], the corpus whose
    * per-shard coverage under the law's 32-shard calibration matches
    * this index's, not on raw total N: auto-sized shards saturate at
    * [[TargetShardNodes]], and past that a total-N law widens the beam
    * with no per-shard need (SCALE_r21_beamlaw_{clustered,spread}).
    */
  private[graft] def effectiveEf(efSearch: Int, efAutoScale: Boolean,
      shardGens: Map[Int, Int], counts: Map[Int, Long]): Int =
    if (efAutoScale && counts.keySet == shardGens.keySet)
      BeamLaw.autoEf(efSearch,
        BeamLaw.equivalentKeys(counts.values.sum, shardGens.size))
    else efSearch

  // the generation commit's marker — historically named for reshard,
  // the first op to write it; `build:<g>` marks a build, bare `<g>` a
  // reshard
  private val CommitMarker = "_reshard_commit"
  private val BuildOp = "build:"

  /** Re-shard the persisted index IN PLACE — the [[IvfIndex.rebalance]]
    * counterpart for the graph family: shard count is the scale knob
    * (per-shard graph size bounds both build memory and probe latency),
    * and an index whose corpus 10×-ed past its build-time sizing needs
    * the knob turnable without a from-scratch rebuild of the caller's
    * pipeline. Every live node, read from the shard images, is
    * re-assigned by the deterministic id hash under `newShards` and each
    * new shard's graph is rebuilt
    * with the build recipe (hash-ordered insertion — the resharded
    * index is byte-deterministic, exactly as a fresh [[build]] of the
    * same corpus at `newShards` would be).
    *
    * Crash-atomic via the manifest pivot ([[commitGeneration]], the
    * same writer as [[build]]): the new shards stage into generation
    * `gen+1` (no live file touched), the new `params/` (updated shard
    * count) stages beside the live table, and a marker file carrying the
    * target generation brackets the params swap + manifest commit.
    * [[recover]] — run on entry here and by the streaming ingest driver
    * under its writer lock — rolls an interrupted swap FORWARD when the
    * manifest committed and BACK when it did not, so no crash point
    * leaves params and manifest durably disagreeing. Search is
    * shard-layout-blind (every shard is beamed, partials merge
    * globally), so a search at full beam answers identically before and
    * after. Returns the node count resharded.
    */
  def reshard(
      spark: SparkSession,
      dir: String,
      newShards: Int): Long =
    graft.util.IndexLock.withLock(spark, dir, "HnswIndex.reshard") {
      reshardImpl(spark, dir, newShards)
    }

  private def reshardImpl(
      spark: SparkSession,
      dir: String,
      newShards: Int): Long = {
    require(newShards > 0, s"HnswIndex.reshard: newShards must be positive, got $newShards")
    recover(spark, dir)
    val (_, shardGens, counts) = readManifest(spark, dir)
    val corpus = loadNodes(spark, dir, shardGens, counts).select("id", "vec")
    // ef_search and the shape evidence ride through unchanged — reshard
    // keeps the corpus, so it keeps the corpus's declared serving beam
    // and the rc measurement that chose it
    commitGeneration(dir, corpus,
      open(spark, dir).meta.copy(shards = newShards), build = false)
  }

  /** The live manifest, or None for a directory with no committed one. */
  private def liveManifest(spark: SparkSession, dir: String)
      : Option[(Int, Map[Int, Int], Map[Int, Long])] =
    try Some(readManifest(spark, dir))
    catch { case _: IllegalArgumentException => None }

  /** On-entry crash recovery for an interrupted generation commit
    * ([[build]] or [[reshard]], [[commitGeneration]]) — run by every
    * writer entry and by the streaming ingest driver under its writer
    * lock, so a crashed commit heals on the next micro-batch instead of
    * bricking the ingest. The manifest is the commit point: roll FORWARD
    * (finish the params swap; a build also replays its ingest-state
    * clear) when the marker's target manifest committed; roll BACK
    * (restore `params.old`) when it did not. No marker: the shared
    * markerless rollback of params debris.
    */
  private[graft] def recover(spark: SparkSession, dir: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    graft.util.StagedTables.sweepMarkerTmp(fs, dir, CommitMarker)
    val marker = new Path(s"$dir/$CommitMarker")
    if (!fs.exists(marker)) {
      graft.util.StagedTables.rollBack(fs, dir, Seq("params"))
      return
    }
    val op = graft.util.StagedTables.readMarker(fs, marker)
    // markers publish atomically, so unparseable content is real
    // corruption — fail with a named error, not a bare
    // NumberFormatException
    val isBuild = op.startsWith(BuildOp)
    val target = op.stripPrefix(BuildOp)
    require(target.nonEmpty && target.forall(_.isDigit),
      s"HnswIndex: malformed commit marker '$op' under $dir")
    if (liveManifest(spark, dir).exists(_._1 >= target.toInt)) {
      graft.util.StagedTables.swapStaged(fs, dir, Seq("params"))
      if (isBuild) graft.util.IngestState.clear(spark, dir)
    } else {
      val live = new Path(s"$dir/params")
      val old = new Path(s"$dir/params.old")
      if (fs.exists(old)) {
        fs.delete(live, true)
        require(fs.rename(old, live),
          s"HnswIndex: could not roll back params under $dir")
      }
      fs.delete(new Path(s"$dir/params.tmp"), true)
    }
    fs.delete(marker, false)
  }

  /** Garbage-collect orphaned state: generation directories not referenced
    * by the live manifest (left behind when an append crashed after staging
    * its new generation but before the manifest rename, or when the
    * post-commit best-effort delete of superseded generations failed) and
    * manifests older than the live one. Safe to run any time under the
    * single-writer assumption — the live manifest's referenced directories
    * are never touched, so search before/after vacuum answers identically.
    * Returns the number of paths removed.
    */
  def vacuum(spark: SparkSession, dir: String): Int =
    graft.util.IndexLock.withLock(spark, dir, "HnswIndex.vacuum") {
      vacuumImpl(spark, dir)
    }

  private def vacuumImpl(spark: SparkSession, dir: String): Int = {
    // writer entry: heal a crashed commit first — vacuum keying off a
    // params/manifest pair a dead reshard left disagreeing would treat
    // the committed layout's directories as orphans
    recover(spark, dir)
    val (liveGen, shardGens, _) = readManifest(spark, dir)
    val ndir = new Path(s"$dir/nodes")
    val fs = ndir.getFileSystem(spark.sessionState.newHadoopConf())
    val removed = orphanPaths(fs, dir, liveGen, shardGens)
      .count(fs.delete(_, true))
    // a generation dir emptied of shards is itself garbage
    val emptied = if (!fs.exists(ndir)) 0 else fs.listStatus(ndir).count { st =>
      GenDir.matches(st.getPath.getName) &&
        fs.listStatus(st.getPath).isEmpty && fs.delete(st.getPath, true)
    }
    removed + emptied
  }

  private val GenDir = "g=(\\d+)".r
  private val ShardDir = "shard=(\\d+)".r
  // {6,}: if the generation counter ever outgrows %06d's width the
  // 7-digit name must still parse — a full \d{6} match would silently
  // pin readers to the last 6-digit manifest forever
  private val ManifestName = "m(\\d{6,})\\.json".r

  /** The dead paths [[vacuum]] reclaims and [[staleness]] counts:
    * (generation, shard) directories the live manifest does not
    * reference (a crashed append's staged generation, a failed
    * best-effort retire), superseded manifests, and the `.inprogress`
    * temp of a [[writeManifest]] that crashed between create and rename
    * (single-writer: no in-flight commit can be racing).
    */
  private def orphanPaths(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      liveGen: Int, shardGens: Map[Int, Int]): Seq[Path] = {
    val ndir = new Path(s"$dir/nodes")
    val shardDirs =
      if (!fs.exists(ndir)) Nil
      else fs.listStatus(ndir).toSeq.flatMap { gSt =>
        gSt.getPath.getName match {
          case GenDir(g) =>
            fs.listStatus(gSt.getPath).toSeq.map(_.getPath).filter(_.getName match {
              case ShardDir(sh) => !shardGens.get(sh.toInt).contains(g.toInt)
              case _ => false
            })
          case _ => Nil
        }
      }
    val manifests = fs.listStatus(new Path(s"$dir/manifest")).toSeq
      .map(_.getPath).filter(_.getName match {
        case ManifestName(n) => n.toInt < liveGen
        case name => name.endsWith(".inprogress")
      })
    shardDirs ++ manifests
  }
}
