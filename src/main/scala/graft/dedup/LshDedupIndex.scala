package graft.dedup

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

  /** `bands/` partitioned by band, `signatures/` the commit table,
    * joined on id.
    */
  private val layout = new graft.util.PartitionedTables("LshDedupIndex",
    "bands", "band", "signatures", Seq("id"),
    StructType(Seq(
      StructField("band_hash", LongType),
      StructField("id", LongType),
      StructField("band", IntegerType))),
    StructType(Seq(
      StructField("id", LongType),
      StructField("sig", ArrayType(IntegerType, containsNull = false)))))

  /** The committed-membership table: (id, sig), one row per indexed
    * document. Exposed (package-private) so per-batch callers — the
    * streaming ingester's freshness anti-join — can read it ONCE and
    * reuse the frame for the [[probe]]'s signature fetch instead of
    * re-scanning per consumer.
    */
  private[graft] def readSignatures(spark: SparkSession, dir: String): DataFrame =
    layout.readCommitted(spark, dir)

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
      // one MinHash pass; its signatures (~300 B/doc) feed the band
      // write, the signature write and the count
      val signed = Dedup.minhashSigned(docs, idCol, textCol, shingleSize,
        bands * rowsPerBand).localCheckpoint(eager = false)
      val n = writeSigned(signed, dir, bands, rowsPerBand, micro = false,
        build = true)
      layout.commitBuild(spark, dir)
      n
    }
  }

  /** Write a signed (id, sig) frame: bands stage first, the signatures
    * write is the commit point ([[graft.util.PartitionedTables.write]]).
    * An id is "in the index" iff its signature row exists — the append
    * guard reads signatures, and [[probe]]'s final inner join on the
    * signature fetch makes orphaned band rows (a crash between the two
    * writes) invisible. Retrying the crashed append then passes the id
    * guard and re-stages the batch's band rows; the duplicates collapse
    * in the probe's pair-level dropDuplicates. The reverse order would
    * strand the batch: present by id, invisible to probes, and
    * unretryable. Band rows are (band, band_hash, id), partitioned by
    * band so a reduced-band probe prunes directories. Returns the signed
    * row count, or -1 for a `micro` batch.
    */
  private def writeSigned(signed: DataFrame, dir: String, bands: Int,
      rowsPerBand: Int, micro: Boolean, build: Boolean = false): Long =
    layout.write(
      signed
        .select(col("id"),
          explode(Dedup.bandStructs(col("sig"), bands, rowsPerBand)).as("bk"))
        .select(col("bk.band").as("band"), col("bk.band_hash").as("band_hash"),
          col("id")),
      signed, dir, micro, build)

  /** The signature scheme the index was built under: the `params/` row. */
  private[graft] final case class Params(shingleSize: Int, bands: Int,
      rowsPerBand: Int)

  private[graft] type Snapshot = graft.util.Snapshot[Params]

  private val memo = new graft.util.MetaMemo[Params](Seq("params"))

  /** The snapshot [[probe]] and [[writer]] consume: the params
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
    * write ([[writer]]). localCheckpoint-ed EAGERLY: the probe plan
    * references the signed frame twice (band explode + signature
    * fetch), and a lazy checkpoint referenced twice inside one job
    * computes the kernel twice.
    */
  private[graft] def signBatch(docs: DataFrame, idCol: String,
      textCol: String, params: Params): DataFrame =
    Dedup.minhashSigned(docs, idCol, textCol, params.shingleSize,
      params.bands * params.rowsPerBand).localCheckpoint()

  /** Add a new batch WITHOUT touching existing state: one signature pass
    * over the batch, parquet-appended into `signatures/` and the band
    * partitions, through the guarded [[graft.util.IndexWriter.append]]:
    * ids must be unique corpus-wide (a duplicate would make the same
    * document surface as its own near-duplicate). Returns the appended
    * row count.
    */
  def append(
      spark: SparkSession,
      dir: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String): Long =
    graft.util.IndexWriter.append(spark, dir, newDocs, idCol,
      writer(idCol, textCol))

  /** The writer half of this index ([[graft.util.IndexWriter]]): the
    * batch is prepared as its signatures ([[signBatch]]), which a
    * streaming micro-batch's probe reuses.
    */
  private[graft] def writer(idCol: String, textCol: String)
      : graft.util.IndexWriter[Snapshot] =
    graft.util.IndexWriter[Snapshot]("LshDedupIndex", recover, readSignatures,
      open,
      prepare = (_, snap, docs) => signBatch(docs, idCol, textCol, snap.meta),
      write = (_, snap, signed, micro) => writeSigned(signed, snap.dir,
        snap.meta.bands, snap.meta.rowsPerBand, micro))

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
    * fetch — a streaming micro-batch signs once and its index write
    * ([[writer]]) reuses the same materialized signatures. `sigs`
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
    val idx = layout.readPartitioned(spark, snap.dir)
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
    layout.readPartitioned(spark, dir)
      .groupBy("band", "band_hash").agg(count(lit(1)).as("__b"))
      .groupBy("band")
      .agg(sum("__b").cast("long").as("n_rows"),
        count(lit(1)).as("n_buckets"),
        max("__b").cast("long").as("max_bucket"))

  /** Maintenance: reclaim orphaned band rows (the debris of an append
    * that crashed between the bands stage and the signatures commit) and
    * the duplicate band rows of retried appends, and compact the small
    * files every append adds ([[graft.util.PartitionedTables.vacuum]]).
    * Orphans are invisible to probes (the final signature inner join)
    * but are never reclaimed otherwise, and at daily-append scale file
    * listing, not data, starts to dominate probe latency. Probe results
    * are unchanged. Returns the number of band rows reclaimed.
    */
  def vacuum(spark: SparkSession, dir: String): Long = layout.vacuum(spark, dir)

  /** Crash recovery for [[build]]'s marker-protected swap and for a
    * crashed [[vacuum]] swap, run at every writer entry.
    */
  private[graft] def recover(spark: SparkSession, dir: String): Unit =
    layout.recover(spark, dir)
}
