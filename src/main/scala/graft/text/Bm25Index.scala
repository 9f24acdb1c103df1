package graft.text

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField, StructType}

/** Persistent BM25 inverted index — the incremental-corpus counterpart of
  * the one-shot [[Bm25.scoreTopK]] (which re-derives the whole index per
  * run; serving lexical retrieval over a 100 TB corpus must not).
  * Index-as-data layout in the [[graft.knn.IvfIndex]] /
  * [[graft.dedup.LshDedupIndex]] family (reference analogue: none — the
  * reference keeps no corpus state at all, SURVEY.md §7.4):
  *
  *  - `postings/` — (id, th, term, tf) parquet PARTITIONED BY `bucket` =
  *    pmod(xxhash64(term), nBuckets): the inverted index. ALL postings of
  *    a term live in that term's bucket, so a probe reads only the
  *    buckets its query terms hash to (directory-pruned at file-listing
  *    level) and per-term document frequencies counted inside a pruned
  *    read are complete;
  *  - `doclens/` — (id, th, dl): one row per token-bearing document.
  *    Doubles as the corpus-statistics source: N and avgdl are a 1-row
  *    aggregation over this narrow table at probe time, so they are
  *    always consistent with the committed corpus — no separately
  *    maintained stats row to drift;
  *  - `params/` — one row (n_buckets): the partitioning scheme. Probe
  *    and append read it from the index — a caller cannot mismatch the
  *    build.
  *
  * `th` is the EPOCH stamp: xxhash64 of the document's raw text, carried
  * on every postings row and on the doclens row. The probe joins
  * postings to doclens on (id, th), so a posting is visible ONLY when
  * the exact text version it was derived from is committed.
  *
  * Write ORDER is the append crash-safety protocol (the LshDedupIndex
  * convention): postings stage FIRST, the doclens write is the commit
  * point. A document is "in the index" iff its doclens row exists. The
  * (id, th) join then makes every crash shape harmless:
  *  - crash between the writes → orphaned postings, no doclens row:
  *    invisible to probes; reclaimed by [[vacuum]];
  *  - retry of the crashed append (same text, same th) → postings staged
  *    twice: collapsed at probe time (max over identical rows) and
  *    reclaimed by [[vacuum]];
  *  - id REUSED after a crashed append with DIFFERENT text (corrected
  *    content, no vacuum in between) → the old epoch's postings carry a
  *    th no doclens row ever commits: permanently invisible, and
  *    [[vacuum]] reclaims them even though the id itself is now live.
  * One probe-visible transient remains: per-term df counts from a pruned
  * read include orphaned postings until [[vacuum]] — a bounded score
  * perturbation (df over-count ≤ the crashed batches), never a phantom
  * result row.
  */
object Bm25Index {

  /** `postings/` partitioned by bucket, `doclens/` the commit table,
    * joined on the (id, th) epoch.
    */
  private val layout = new graft.util.PartitionedTables("Bm25Index",
    "postings", "bucket", "doclens", Seq("id", "th"),
    StructType(Seq(
      StructField("id", LongType),
      StructField("th", LongType),
      StructField("term", StringType),
      StructField("tf", LongType),
      StructField("bucket", LongType))),
    StructType(Seq(
      StructField("id", LongType),
      StructField("th", LongType),
      StructField("dl", LongType))))

  /** The output schema of [[searchTopK]] — the empty-probe constant, the
    * [[graft.knn.IvfIndex.searchSchema]] convention.
    */
  val searchSchema: StructType = StructType(Seq(
    StructField("query_id", LongType),
    StructField("id", LongType),
    StructField("score", DoubleType),
    StructField("rnk", IntegerType, nullable = false)))

  /** Build the index layout under `dir`. Returns the indexed (token-
    * bearing) document count. Rebuild-in-place overwrites all tables.
    */
  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      nBuckets: Int = 32): Long = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nBuckets > 0, s"Bm25Index: nBuckets must be positive, got $nBuckets")
    // same single-writer lock as append/vacuum: a build racing a live
    // append would Overwrite tables the append is mid-commit on, silently
    // losing the append's rows
    graft.util.IndexLock.withLock(spark, dir, "Bm25Index.build") {
      recover(spark, dir)
      // all three tables are STAGED and committed by one marker-protected
      // swap: sequenced live Overwrites could crash between the params
      // write and the data writes, leaving a NEW bucket count over OLD
      // postings — probes would then prune to buckets the persisted
      // rows were never hashed into, silently missing terms
      // staged writes are order-independent (the marker-protected commit
      // below is the atomicity point) — the tiny params write overlaps
      // the corpus-sized tokenize + postings/doclens writes (guide §2.6)
      val (n, _) = graft.util.Overlap.par2(
        writeRows(tokenRows(docs, idCol, textCol).localCheckpoint(eager = false),
          dir, nBuckets, micro = false, build = true),
        Seq(Tuple1(nBuckets)).toDF("n_buckets")
          .repartition(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/params.tmp"))
      layout.commitBuild(spark, dir)
      n
    }
  }

  /** The per-document token frame of a batch: (id, th, tfs) with `tfs`
    * an array<struct<term, tf>> computed PER ROW ([[Bm25.termFreqs]] —
    * term frequency is document-local, so no tokenize shuffle exists at
    * any corpus size). The ONE text scan whose output feeds every
    * index-state consumer: the postings write ([[tfFromRows]] explode),
    * the doclens write ([[dlFromRows]] array sum — no shuffle either),
    * and the probe's query-term set ([[probe]]'s `queryTerms`). A writer
    * computes this once, lazy-localCheckpoint-ed ([[writer]]'s `prepare`),
    * and a streaming micro-batch's probe reuses it.
    */
  private[graft] def tokenRows(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
        xxhash64(coalesce(col(textCol), lit(""))).as("th"),
        Bm25.termFreqs(col(textCol)).as("tfs"))

  /** (id, th, term, tf) — the inverted-index rows of a [[tokenRows]]
    * frame.
    */
  private[graft] def tfFromRows(rows: DataFrame): DataFrame =
    rows.select(col("id"), col("th"), explode(col("tfs")).as("r"))
      .select(col("id"), col("th"), col("r.term").as("term"),
        col("r.tf").as("tf"))

  /** (id, th, dl) document lengths of a [[tokenRows]] frame — blank
    * documents (dl 0) index nothing, exactly the explode-side filter.
    */
  private[graft] def dlFromRows(rows: DataFrame): DataFrame =
    rows.select(col("id"), col("th"),
        aggregate(col("tfs"), lit(0L), (a, x) => a + x.getField("tf")).as("dl"))
      .filter(col("dl") > 0)

  /** Write a [[tokenRows]] frame: postings stage first, the doclens
    * write is the commit point ([[graft.util.PartitionedTables.write]]).
    * Returns the indexed (token-bearing) document count, or -1 for a
    * `micro` batch.
    */
  private def writeRows(rows: DataFrame, dir: String, nBuckets: Int,
      micro: Boolean, build: Boolean = false): Long =
    layout.write(
      tfFromRows(rows).withColumn("bucket",
        pmod(xxhash64(col("term")), lit(nBuckets.toLong))),
      dlFromRows(rows), dir, micro, build)

  /** The index's partitioning scheme: the `params/` row. */
  private[graft] final case class Params(nBuckets: Int)

  private[graft] type Snapshot = graft.util.Snapshot[Params]

  private val memo = new graft.util.MetaMemo[Params](Seq("params"))

  /** The snapshot [[probe]] and [[writer]] consume: the params come
    * from a generation-keyed [[graft.util.MetaMemo]] (one one-row
    * collect on a miss, none on a hit; a build commit is a miss).
    */
  private[graft] def open(spark: SparkSession, dir: String): Snapshot =
    memo.open(spark, dir) {
      val rows = spark.read.parquet(s"$dir/params").select("n_buckets").collect()
      require(rows.length == 1, s"Bm25Index: malformed params under $dir")
      Params(rows.head.getInt(0))
    }

  /** The committed-membership table: (id, th, dl). Exposed
    * (package-private) so per-batch callers — the streaming ingester's
    * freshness anti-join — can read it ONCE, lazy-localCheckpoint it, and
    * hand the same frame to [[probe]] instead of re-scanning the corpus
    * table per consumer.
    */
  private[graft] def readDoclens(spark: SparkSession, dir: String): DataFrame =
    layout.readCommitted(spark, dir)

  /** Add a new batch WITHOUT touching existing state: one tokenize pass,
    * parquet-appended into the bucket partitions and `doclens/`, through
    * the guarded [[graft.util.IndexWriter.append]]: ids must be unique
    * corpus-wide, so a batch that repeats an id, or carries one the index
    * already holds, is refused. Blank documents index nothing (the
    * [[Bm25.scoreTopK]] convention — they can never match a term) and do
    * not count toward the returned appended-row count.
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
    * batch is prepared as its [[tokenRows]], lazy-localCheckpoint-ed, so
    * a streaming micro-batch's probe and its write share one tokenize.
    */
  private[graft] def writer(idCol: String, textCol: String)
      : graft.util.IndexWriter[Snapshot] =
    graft.util.IndexWriter[Snapshot]("Bm25Index", recover, readDoclens, open,
      prepare = (_, _, docs) =>
        tokenRows(docs, idCol, textCol).localCheckpoint(eager = false),
      write = (_, snap, rows, micro) =>
        writeRows(rows, snap.dir, snap.meta.nBuckets, micro))

  /** BM25 top-k retrieval AGAINST THE INDEXED CORPUS — exactly
    * [[Bm25.scoreTopK]]'s contract and output (query_id, id, score, rnk),
    * computed from persisted state through the SAME shared scoring tail
    * ([[Bm25.scoreFrom]]), so the probe cannot drift from the one-shot:
    * identical formula, identical 4-dp round-before-rank tie rule,
    * N/avgdl from `doclens/`. A probe of an index built from `docs`
    * equals `scoreTopK(docs, …)` row for row.
    *
    * Probe cost: the query batch's distinct terms hash to a bucket set
    * (collected driver-side — bounded by the query batch, the IvfIndex
    * probed-cid convention, and CAPPED at `maxDriverQueryTerms` rows:
    * past the cap the collect would gamble the driver, so the probe
    * falls back to the distributed shape — distinct bucket ids only on
    * the driver, left-semi term pruning, qterms shuffled on term
    * instead of broadcast — with rank-identical results), and only
    * those partition directories are listed and scanned. Per-term df is counted inside the pruned read
    * (complete — a term's postings never span buckets); the (id, th)
    * doclens join ships candidate-sized hits against the narrow doclens
    * table and erases every uncommitted epoch; the ranking window
    * partitions per query.
    *
    * A thin wrapper: it opens `dir` and probes it with the queries'
    * distinct terms and the committed `doclens/` table ([[probe]]).
    */
  def searchTopK(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      qIdCol: String,
      qTextCol: String,
      topK: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxDriverQueryTerms: Int = 100000): DataFrame =
    probe(spark, open(spark, dir), Bm25.queryTerms(queries, qIdCol, qTextCol),
      readDoclens(spark, dir), topK, k1, b, maxDriverQueryTerms)

  /** [[searchTopK]]'s body over an opened snapshot. `queryTerms` is the
    * (query_id, term) set, one row per distinct term of each query — a
    * streaming micro-batch derives it from the [[tokenRows]] pass its
    * append reuses (tf rows are unique per (id, term)). `dl` is the
    * committed (id, th, dl) frame ([[readDoclens]], ideally
    * lazy-localCheckpoint-ed), used for BOTH the N/avgdl stats and the
    * candidate join, so a batch that already read it for its freshness
    * join scans the corpus table once.
    */
  private[graft] def probe(
      spark: SparkSession,
      snap: Snapshot,
      queryTerms: DataFrame,
      dl: DataFrame,
      topK: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxDriverQueryTerms: Int = 100000): DataFrame = {
    require(maxDriverQueryTerms > 0,
      "Bm25Index.searchTopK: maxDriverQueryTerms must be positive")
    val (dir, nBuckets) = (snap.dir, snap.meta.nBuckets)
    // lazy checkpoint: the limit-probe below consumes one evaluation,
    // and the over-cap fallback consumes THREE more (bucket distinct,
    // left-semi prune, scoring join) — without it a corpus-sized query
    // frame would pay its tokenization four times; the serving path
    // pays one batch-sized cache it would have paid as a broadcast
    // anyway
    val qtWithBucket = queryTerms
      .withColumn("__bucket", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      .localCheckpoint(eager = false)
    // ONE BOUNDED driver collect serves the bucket set (the static
    // partition filter that prunes the postings listing), AND the
    // query-term relation itself: the scoring join broadcasts qterms
    // anyway — a broadcast IS a driver materialization — so collecting
    // it here costs nothing extra at SERVING scale and saves the
    // per-batch jobs that re-derived the same rows for the bucket
    // distinct. But the probe's contract is "serving-sized query
    // batch", and nothing used to enforce it: a caller handing a
    // corpus-sized query frame to the public API would OOM the driver
    // on this collect before the broadcast ever got the chance. The
    // limit(cap+1) probe decides in one pass: fewer than cap+1 rows
    // back means that WAS the whole relation (use it); cap+1 means the
    // query side is over the cap — fall back to the distributed shape
    // (distinct bucket ids only, ≤ nBuckets rows on the driver; term
    // pruning via left-semi join; qterms stays a lazy frame shuffled
    // on term into tfdf's partitioning instead of broadcast).
    // saturating +1: maxDriverQueryTerms = Int.MaxValue (the "disable
    // the cap" idiom) must not wrap to a negative limit and throw
    val probeN =
      if (maxDriverQueryTerms == Int.MaxValue) Int.MaxValue
      else maxDriverQueryTerms + 1
    // corpus stats (N, avgdl: one tiny agg over the caller-checkpointed
    // doclens frame) run as their OWN collect, CONCURRENT with the
    // query-term probe, so the stats round-trip hides behind it. Fusing
    // the two into one action (a union) would demote the probe's
    // incremental CollectLimit to a full single-partition exchange
    // (+2 jobs per probe; OPTIMIZATION_r21.md).
    val statsFut = java.util.concurrent.CompletableFuture.supplyAsync { () =>
      dl.agg(count(lit(1)).cast("double").as("__n_docs"),
        avg("dl").as("__avgdl")).collect().head
    }
    val qtCollected =
      try qtWithBucket.limit(probeN).collect()
      catch { case t: Throwable =>
        // don't leave the stats job orphaned if the probe throws
        try statsFut.join() catch { case _: Throwable => () }
        throw t
      }
    val statsRow = statsFut.join()
    if (qtCollected.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], searchSchema)
    val fitsDriver = qtCollected.length <= maxDriverQueryTerms
    val nDocs = statsRow.getDouble(0)
    val avgdl = if (statsRow.isNullAt(1)) 0.0 else statsRow.getDouble(1)
    // candidate generation in ONE term-keyed exchange: repartition by
    // term, then the duplicate collapse (a retried crashed append stages
    // its postings TWICE before the single doclens commit — identical
    // rows, so max == tf) and the per-term document-frequency count both
    // reuse that partitioning (hash(term) clusters every finer grain) —
    // where the former groupBy(term,id,th) + groupBy(term) + join-back
    // shape paid three exchanges and re-shipped the candidates twice.
    // Term-level pruning on top of the bucket partition filter: the
    // bucket cut is directory-grain and degenerates to a full postings
    // scan once a wide-vocabulary query batch hashes into every bucket;
    // dropping every non-query term BEFORE the exchange makes candidate
    // volume "postings of the query's terms", the quantity the probe's
    // cost model promises, instead of "postings of every co-bucketed
    // term" — an InSet filter when the term set rode the qterms collect,
    // a left-semi join in the over-cap fallback.
    val (pruned, qterms, broadcastQ) =
      if (fitsDriver) {
        // row layout: queryTerms cols ++ (__bucket)
        val buckets = qtCollected.map(r => r.getLong(r.length - 1)).distinct
        val q = {
          import scala.jdk.CollectionConverters._
          spark.createDataFrame(
            qtCollected.map(r => org.apache.spark.sql.Row(r.toSeq.dropRight(1): _*))
              .toList.asJava,
            queryTerms.schema)
        }
        val termSet = qtCollected.map(_.getString(
          queryTerms.schema.fieldIndex("term"))).toSet
        (layout.readPartitioned(spark, dir)
          .filter(col("bucket").isin(buckets.toSeq: _*))
          .filter(col("term").isInCollection(termSet)), q, true)
      } else {
        // over the cap: only the DISTINCT bucket ids touch the driver
        // (≤ nBuckets by construction); everything else stays lazy —
        // derived from the CHECKPOINTED frame so the three consumers
        // share one tokenization pass
        val buckets = qtWithBucket.select("__bucket").distinct()
          .collect().map(_.getLong(0))
        val qtermsLazy = qtWithBucket.drop("__bucket")
        (layout.readPartitioned(spark, dir)
          .filter(col("bucket").isin(buckets.toSeq: _*))
          .join(qtermsLazy.select("term").distinct(), Seq("term"), "left_semi"),
          qtermsLazy, false)
      }
    val tfdf = pruned
      .select(col("term"), col("id"), col("th"), col("tf"))
      // EXPLICIT partition count (the Par.balance parallelism rule):
      // this exchange's stage is where the qterms broadcast join fans
      // every posting out to every query sharing its term — work AQE
      // cannot see from the exchange's (narrow, pre-expansion) byte
      // count, so its coalescing collapses the whole scoring stage to
      // ONE task (measured: a 1.0 s single-task stage inside a 1.6 s
      // probe at sf0.1/local[32]). Pinning the count keeps the
      // expansion parallel at the cluster's width; the exchange itself
      // still carries only deduped candidate rows (scale shape
      // unchanged, guide §2.3).
      .repartition(spark.sparkContext.defaultParallelism, col("term"))
      .groupBy("term", "id", "th").agg(max("tf").as("tf"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("term")))
    Bm25.scoreJoined(tfdf, dl, nDocs, avgdl, qterms, Seq("id", "th"),
      topK, k1, b, broadcastQ = broadcastQ)
  }

  /** Bucket-level occupancy: (bucket, n_rows, n_terms, max_term_rows) —
    * the [[graft.dedup.LshDedupIndex.stats]] family. Probe cost follows
    * the hottest bucket a query hashes into; a bucket whose term count
    * collapses relative to the others signals a degenerate hash or a
    * stopword-dominated corpus (raise nBuckets, or stoplist upstream).
    */
  def stats(spark: SparkSession, dir: String): DataFrame =
    layout.readPartitioned(spark, dir)
      .groupBy("bucket", "term").agg(count(lit(1)).as("__t"))
      .groupBy("bucket")
      .agg(sum("__t").cast("long").as("n_rows"),
        count(lit(1)).as("n_terms"),
        max("__t").cast("long").as("max_term_rows"))

  /** Maintenance: reclaim invisible postings — orphans of crashed
    * appends (no doclens row for their (id, th) epoch, including the
    * stale epoch of an id that was later re-appended with different
    * text) and the duplicate rows of retried appends — and compact small
    * files ([[graft.util.PartitionedTables.vacuum]]). Probe results are
    * unchanged: everything reclaimed was already invisible through the
    * (id, th) join. Returns the number of postings rows reclaimed.
    */
  def vacuum(spark: SparkSession, dir: String): Long = layout.vacuum(spark, dir)

  /** Crash recovery for [[build]]'s marker-protected swap and for a
    * crashed [[vacuum]] swap, run at every writer entry.
    */
  private[graft] def recover(spark: SparkSession, dir: String): Unit =
    layout.recover(spark, dir)
}
