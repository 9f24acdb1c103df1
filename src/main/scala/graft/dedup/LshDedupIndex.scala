package graft.dedup

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

/** Persistent MinHash+LSH dedup index — the incremental-corpus counterpart
  * of the one-shot [[Dedup.minHashLshCandidates]] self-join (which
  * recomputes every signature per run; deduping a daily batch against a
  * 100 TB corpus must not). Index-as-data layout in the [[graft.knn
  * .IvfIndex]] family (reference analogue: none — the reference keeps no
  * corpus state at all, SURVEY.md §7.4; the layout convention follows the
  * persisted ANN indexes):
  *
  *  - `signatures/` — (id, sig): one MinHash signature row per document;
  *  - `bands/` — (band_hash, id) parquet PARTITIONED BY band: the LSH
  *    bucket membership, fixed-width rows (no text, no signatures);
  *  - `params/` — one row (shingle_size, bands, rows_per_band): the
  *    signature scheme the index was built under. Probe and append read
  *    them from the index itself — a caller cannot mismatch the build.
  *
  * `append(newDocs)` costs one signature pass over the batch (parquet
  * append adds files, never rewrites), and `candidatesAgainst(newDocs)`
  * joins the batch's band keys against the persisted buckets — the
  * corpus-side work is the band equi-join plus an id-join to fetch the
  * candidate signatures, never a recompute of corpus signatures. Both
  * sides of every shuffle carry fixed-width rows; documents and
  * signatures stay out of the candidate join entirely.
  */
object LshDedupIndex {

  /** The output schema of [[candidatesAgainst]] — the constant downstream
    * code (e.g. the streaming ingester's empty-input branch) derives
    * empty frames from, the [[graft.knn.IvfIndex.searchSchema]]
    * convention.
    */
  val candidateSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("new_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("indexed_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("est_jaccard",
        org.apache.spark.sql.types.DoubleType)))

  /** On-disk schemas, explicit on every read (the [[graft.text.Bm25Index]]
    * convention): an index built over an EMPTY seed corpus writes no part
    * files, and a schema-less read of it would throw instead of returning
    * no rows — empty-seed streaming ingest must work.
    */
  private val signaturesSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("sig", ArrayType(IntegerType, containsNull = false))))

  private val bandsSchema: StructType = StructType(Seq(
    StructField("band_hash", LongType),
    StructField("id", LongType),
    StructField("band", IntegerType)))

  /** The committed-membership table: (id, sig), one row per indexed
    * document. Exposed (package-private) so per-batch callers — the
    * streaming ingester's freshness anti-join — can read it ONCE and
    * reuse the frame for the [[probe]]'s signature fetch instead of
    * re-scanning per consumer.
    */
  private[graft] def readSignatures(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(signaturesSchema).parquet(s"$dir/signatures")

  private def readBands(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(bandsSchema).parquet(s"$dir/bands")

  /** Sign the corpus and persist the index layout. Returns the indexed
    * document count. Rebuild-in-place overwrites all three tables.
    */
  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4): Long = {
    val spark = docs.sparkSession
    import spark.implicits._
    // same single-writer lock as append/vacuum: a build racing a live
    // append would Overwrite tables the append is mid-commit on, silently
    // losing the append's rows
    graft.util.IndexLock.withLock(spark, dir, "LshDedupIndex.build") {
      recover(spark, dir)
      // all three tables are STAGED and committed by one marker-protected
      // swap: sequenced live Overwrites could crash between the params
      // write and the data writes, leaving NEW banding params over OLD
      // signatures — probes then sign under parameters the persisted
      // signatures were never computed with, silently returning garbage
      // candidates
      Seq((shingleSize, bands, rowsPerBand))
        .toDF("shingle_size", "bands", "rows_per_band")
        .repartition(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/params.tmp")
      val n = writeState(spark, docs, idCol, textCol, dir, shingleSize,
        bands, rowsPerBand, SaveMode.Overwrite, tableSuffix = ".tmp")
      // fresh corpus → fresh ingest state (graft.util.IngestState
      // contract); inside the marker window so a crash here replays the
      // clear on recovery, and a crash BEFORE the marker rolls back to
      // the previous index with its watermark intact
      val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      graft.util.StagedTables.commit(fs, dir, BuildMarker, BuildOp,
        CommitTables)(_ => graft.util.IngestState.clear(spark, dir))
      n
    }
  }

  /** Sign + write shared by [[build]] and [[append]]. ONE MinHash kernel
    * pass over the documents: the signed frame is localCheckpoint-ed
    * (signatures are ~300 B/doc — orders of magnitude smaller than the
    * text they summarize) and feeds the signature write, the band write,
    * and the returned count; the blocks are released by the
    * ContextCleaner when the frame goes out of scope. An executor loss
    * mid-build fails the (idempotent, restartable) build rather than
    * recomputing — acceptable for an offline index write; pass smaller
    * batches if re-running the kernel is cheaper than holding signatures.
    *
    * Write ORDER is the append crash-safety protocol: bands stage FIRST,
    * the signatures write is the commit point. An id is "in the index"
    * iff its signature row exists — [[append]]'s already-present check
    * reads signatures, and [[candidatesAgainst]]'s final inner join on
    * the signature fetch makes orphaned band rows (a crash between the
    * two writes) invisible to probes. Retrying the crashed append then
    * passes the id check and re-stages the batch's band rows — the
    * duplicates collapse in the probe's pair-level dropDuplicates, and
    * the commit completes. The reverse order would strand the batch:
    * present by id, invisible to probes, and unretryable.
    */
  private def writeState(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      shingleSize: Int,
      bands: Int,
      rowsPerBand: Int,
      mode: SaveMode,
      tableSuffix: String = ""): Long = {
    val numHashes = bands * rowsPerBand
    val signed = Dedup.minhashSigned(docs, idCol, textCol, shingleSize, numHashes)
      .localCheckpoint(eager = false)
    writeSigned(signed, dir, bands, rowsPerBand, mode, needCount = true,
      tableSuffix = tableSuffix)
  }

  /** The write half of [[writeState]], callable with a caller-shared
    * `signed` frame (one [[Dedup.minhashSigned]] kernel pass,
    * localCheckpoint-ed) — a streaming micro-batch signs its batch ONCE
    * and both its [[probe]] and its append reuse the materialized
    * signatures, instead of running the
    * MinHash kernel over the text twice. Write order is the append
    * crash-safety protocol (bands stage first, the signatures write is
    * the commit point). `needCount = false` skips the count job for
    * callers that ignore the return value and returns -1.
    */
  private[graft] def writeSigned(
      signed: DataFrame,
      dir: String,
      bands: Int,
      rowsPerBand: Int,
      mode: SaveMode,
      needCount: Boolean,
      repartitionByBand: Boolean = true,
      tableSuffix: String = ""): Long = {
    // band rows are (band, band_hash, id) — 20 bytes of data per row, the
    // whole bucket structure; partitioned by band so a reduced-band probe
    // prunes directories at file-listing level
    val banded = signed
      .select(col("id"),
        explode(Dedup.bandStructs(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.band_hash").as("band_hash"),
        col("id"))
    // repartitionByBand = false (the per-MICRO-BATCH append path):
    // coalesce to ONE task instead of paying the clustering exchange.
    // The batch's rows sit scattered across the freshness join's cached
    // partitions — writing partitionBy(band) from ~32 tasks fans every
    // task into every band it touches (hundreds of sliver files per
    // append, and every later probe re-lists them; measured as a ~25%
    // q92 regression when this path briefly skipped BOTH the exchange
    // and the coalesce). One task × ≤bands files matches what the
    // exchange produced, narrowly. Micro-batches are single-staged-file
    // sized by contract; full builds keep the exchange.
    (if (repartitionByBand) banded.repartition(col("band"))
     else banded.coalesce(1))
      .write.mode(mode)
      .partitionBy("band")
      .parquet(s"$dir/bands$tableSuffix")
    // commit point (see the write-order doc above); a staging build
    // (`tableSuffix = ".tmp"`) commits via the marker swap instead
    signed.write.mode(mode).parquet(s"$dir/signatures$tableSuffix")
    if (needCount) signed.count() else -1L
  }

  /** The signature scheme the index was built under: the `params/` row. */
  private[graft] final case class Params(shingleSize: Int, bands: Int,
      rowsPerBand: Int)

  private[graft] type Snapshot = graft.util.Snapshot[Params]

  private val memo = new graft.util.MetaMemo[Params](Seq("params"))

  /** The snapshot [[probe]] and [[appendSigned]] consume: the params
    * come from a generation-keyed [[graft.util.MetaMemo]] (one one-row
    * collect on a miss, none on a hit; a build commit is a miss).
    */
  private[graft] def open(spark: SparkSession, dir: String): Snapshot =
    memo.open(spark, dir) {
      val rows = spark.read.parquet(s"$dir/params")
        .select("shingle_size", "bands", "rows_per_band").collect()
      require(rows.length == 1, s"LshDedupIndex: malformed params under $dir")
      Params(rows.head.getInt(0), rows.head.getInt(1), rows.head.getInt(2))
    }

  /** Sign a batch under the index's params — the one MinHash kernel
    * pass a streaming micro-batch shares between its [[probe]] and its
    * append ([[appendSigned]]); localCheckpoint-ed EAGERLY on
    * purpose: the first consumer is the probe plan, which references
    * the signed frame TWICE (band explode + signature fetch), and a
    * not-yet-materialized lazy checkpoint referenced twice inside one
    * job computes the kernel twice — measured as a ~25% q92 regression
    * when this briefly went lazy. Eager pays one small upfront job and
    * every later reference reads blocks. (Lazy remains right when the
    * first consumer references the frame once — the build path, the
    * BM25 tokenRows path.)
    */
  private[graft] def signBatch(docs: DataFrame, idCol: String,
      textCol: String, params: Params): DataFrame =
    Dedup.minhashSigned(docs, idCol, textCol, params.shingleSize,
      params.bands * params.rowsPerBand).localCheckpoint()

  /** Add a new batch WITHOUT touching existing state: one signature pass
    * over the batch, parquet-appended into `signatures/` and the band
    * partitions. Ids must be unique corpus-wide (a duplicate would make
    * the same document surface as its own near-duplicate) — both the
    * within-batch and the against-index check are narrow id-only joins.
    * Returns the appended row count.
    */
  def append(
      spark: SparkSession,
      dir: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String): Long =
    graft.util.IndexLock.withLock(spark, dir, "LshDedupIndex.append") {
      recover(spark, dir)
      val Params(shingleSize, bands, rowsPerBand) = open(spark, dir).meta
      val ids = newDocs.select(col(idCol).cast("long").as("id"))
      require(ids.groupBy("id").count().filter(col("count") > 1).isEmpty,
        "LshDedupIndex.append: duplicate ids within the appended batch")
      require(readSignatures(spark, dir).select("id")
        .join(ids, "id").isEmpty,
        "LshDedupIndex.append: id already present in the index")
      writeState(spark, newDocs, idCol, textCol, dir, shingleSize, bands,
        rowsPerBand, SaveMode.Append)
    }

  /** Streaming-batch append over a caller-shared signed frame
    * ([[signBatch]] under the snapshot's params): the per-batch fast
    * path — no re-sign, no params read, no count job. The caller holds
    * the writer lock and owns the guards [[append]] runs (the ingest
    * driver's freshness and one-row-per-id gate).
    */
  private[graft] def appendSigned(snap: Snapshot, signed: DataFrame): Unit = {
    writeSigned(signed, snap.dir, snap.meta.bands, snap.meta.rowsPerBand,
      SaveMode.Append, needCount = false, repartitionByBand = false); ()
  }

  /** Near-duplicate candidates of `newDocs` AGAINST THE INDEXED CORPUS:
    * (new_id, indexed_id, est_jaccard), one row per (batch doc, corpus
    * doc) pair sharing ≥ 1 LSH bucket. Within-batch duplicates are out of
    * scope here — run [[Dedup.minHashLshCandidates]] on the batch (it is
    * batch-sized work) or append-then-probe.
    *
    * Shuffle shape: the band join carries (band, band_hash, id) on both
    * sides; the pair set is deduped on bare (new_id, indexed_id); the two
    * signature fetches are id-equi-joins (batch-sized candidate side —
    * AQE plans them as broadcasts when small). Corpus signatures are
    * never recomputed and never ride a shuffle wider than the candidate
    * set.
    *
    * `probeBands` < the index's band count probes only the first N band
    * partitions (directory-pruned scan): recall for pairs with Jaccard j
    * drops from 1-(1-j^r)^bands to 1-(1-j^r)^probeBands — exact
    * duplicates (j=1) are still always found. 0 = probe all bands.
    *
    * A thin wrapper: it opens `dir`, signs `newDocs` once ([[signBatch]])
    * and probes with the committed `signatures/` table ([[probe]]).
    */
  def candidatesAgainst(
      spark: SparkSession,
      dir: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      probeBands: Int = 0): DataFrame = {
    val snap = open(spark, dir)
    probe(spark, snap, signBatch(newDocs, idCol, textCol, snap.meta),
      readSignatures(spark, dir), probeBands)
  }

  /** [[candidatesAgainst]]'s body over an opened snapshot. `signed` is
    * the probe side's (id, sig) frame ([[signBatch]] under the snapshot's
    * params), referenced by both the band explode and the signature
    * fetch — a streaming micro-batch signs once and its index append
    * ([[appendSigned]]) reuses the same materialized signatures. `sigs`
    * is the committed (id, sig) frame ([[readSignatures]]) for the
    * candidate signature fetch, so a batch that already read it for its
    * freshness join scans the corpus table once.
    */
  private[graft] def probe(
      spark: SparkSession,
      snap: Snapshot,
      signed: DataFrame,
      sigs: DataFrame,
      probeBands: Int = 0): DataFrame = {
    val Params(_, bands, rowsPerBand) = snap.meta
    val numHashes = bands * rowsPerBand
    require(probeBands >= 0 && probeBands <= bands,
      s"LshDedupIndex: probeBands must be in [0, $bands], got $probeBands")
    val nProbe = if (probeBands == 0) bands else probeBands
    val newBanded = signed
      .select(col("id").as("new_id"),
        explode(Dedup.bandStructs(col("sig"), nProbe, rowsPerBand)).as("bk"))
      .select(col("new_id"), col("bk.band").as("band"),
        col("bk.band_hash").as("band_hash"))
    val idx = readBands(spark, snap.dir)
      .filter(col("band") < nProbe) // static partition filter (no-op at full probe)
      .select(col("band"), col("band_hash"), col("id").as("indexed_id"))
    val pairs = newBanded
      .join(idx, Seq("band", "band_hash"))
      .filter(col("new_id") =!= col("indexed_id"))
      .select("new_id", "indexed_id")
      .dropDuplicates("new_id", "indexed_id")
    val newSigs = signed.select(col("id").as("new_id"), col("sig").as("sig_new"))
    val idxSigs = sigs
      .select(col("id").as("indexed_id"), col("sig").as("sig_idx"))
    pairs
      .join(newSigs, "new_id")
      .join(idxSigs, "indexed_id")
      .withColumn("est_jaccard",
        Dedup.sigAgreement(col("sig_new"), col("sig_idx"), numHashes))
      .select("new_id", "indexed_id", "est_jaccard")
  }

  /** Band-level occupancy: (band, n_rows, n_buckets, max_bucket) — the
    * skew diagnostic of the [[graft.knn.IvfIndex.stats]] family: probe
    * cost follows the HOTTEST bucket (every probe colliding with a
    * saturated bucket pays its full membership), and a band whose bucket
    * count collapses signals a degenerate signature scheme for this
    * corpus (shingle size too small, bands too coarse).
    */
  def stats(spark: SparkSession, dir: String): DataFrame =
    readBands(spark, dir)
      .groupBy("band", "band_hash").agg(count(lit(1)).as("__b"))
      .groupBy("band")
      .agg(sum("__b").cast("long").as("n_rows"),
        count(lit(1)).as("n_buckets"),
        max("__b").cast("long").as("max_bucket"))

  /** Maintenance: reclaim orphaned band rows and compact small files —
    * the [[graft.knn.HnswIndex.vacuum]] counterpart for the dedup index.
    *
    * Orphans are the debris of an append that crashed between the bands
    * stage and the signatures commit: band rows whose id has no signature
    * row. The commit protocol keeps them INVISIBLE to probes (the final
    * signature inner join), so they are a correctness no-op — but they
    * are never reclaimed, and every parquet append also adds new small
    * files to `signatures/` and each band partition forever. At
    * daily-append scale a band partition becomes thousands of sliver
    * files and file listing, not data, starts to dominate probe latency.
    *
    * Rewrite-then-swap: the orphan-free bands table and the compacted
    * signatures table are written BESIDE the live ones (`<table>.tmp`),
    * then swapped in via rename — the same single-writer maintenance
    * contract as [[append]], both now enforced by [[graft.util.IndexLock]]
    * (a concurrent append during the two-rename swap window would land
    * files in `<table>.old` and lose them; with the lock it fails fast).
    * A crash between the two renames leaves
    * `<table>.old` intact; this method performs that recovery on entry
    * (rename back if the live table is missing, clear completed-swap /
    * stale-tmp debris otherwise). Probe results are unchanged by
    * construction: orphans were already invisible, compaction only
    * re-files identical rows.
    *
    * `signatureFiles` is the compacted signature file count (0 = the
    * session's default parallelism); band partitions compact to one file
    * per band per shuffle task, the [[build]] write shape. Returns the
    * number of orphaned band rows reclaimed.
    */
  def vacuum(spark: SparkSession, dir: String, signatureFiles: Int = 0): Long =
    graft.util.IndexLock.withLock(spark, dir, "LshDedupIndex.vacuum") {
      vacuumImpl(spark, dir, signatureFiles)
    }

  private val CommitTables = Seq("params", "bands", "signatures")
  private val BuildMarker = "_build_commit"
  // the build marker's historic empty content: build is its only op
  private val BuildOp = ""

  /** Crash recovery for [[build]]'s marker-protected swap AND for
    * markerless `.tmp`/`.old` debris (a crashed [[vacuum]] swap) — run
    * at every writer entry and by the streaming ingest driver under its
    * writer lock.
    */
  private[graft] def recover(spark: SparkSession, dir: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    graft.util.StagedTables.recover(fs, dir, BuildMarker, CommitTables)(
      _ => graft.util.IngestState.clear(spark, dir))
  }

  private def vacuumImpl(spark: SparkSession, dir: String, signatureFiles: Int): Long = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    recover(spark, dir)

    val sigs = readSignatures(spark, dir)
    val bands = readBands(spark, dir)
      .select("band", "band_hash", "id")
    val liveBands = bands.join(sigs.select("id"), Seq("id"), "left_semi")
      // a retried crashed append re-stages its batch's band rows
      // (writeState contract), leaving IDENTICAL (band, band_hash, id)
      // copies that a semi-join alone would rewrite forever — each copy
      // inflating that batch's bucket membership in every probe's band
      // join (Bm25Index.vacuum collapses its analogous retry duplicates
      // the same way)
      .dropDuplicates("band", "band_hash", "id")
    val orphans = bands.count() - liveBands.count()

    liveBands
      .select("band", "band_hash", "id")
      .repartition(col("band"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("band")
      .parquet(s"$dir/bands.tmp")
    val nSigFiles =
      if (signatureFiles > 0) signatureFiles
      else spark.sparkContext.defaultParallelism
    sigs.repartition(nSigFiles)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/signatures.tmp")

    graft.util.StagedTables.swapStaged(fs, dir, Seq("bands", "signatures"))
    orphans
  }
}
