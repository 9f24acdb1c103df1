package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.util.IndexWriter

/** Structured Streaming operators over the `events` table (added scope —
  * the reference is purely batch, SURVEY.md §2.9). Each operator has a
  * batch twin with identical semantics so correctness is DuckDB-checkable;
  * the streaming form adds watermarks/state, nothing else.
  */
object Streams {

  /** Historic events.parquet generations carried TIMESTAMP(NANOS) → read
    * ts as long (see [[graft.sources.Lake.events]]); streaming sources
    * need the schema up front. Current generations carry
    * TIMESTAMP(MICROS) and resolve to a native timestamp — [[eventsStream]]
    * dispatches on one batch footer read.
    */
  val eventsLongSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private def tsToTimestamp(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => // nanos-as-long layout: truncate to micros
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // native timestamp (micros) layout: session-tz cast only
        df.withColumn("ts", col("ts").cast(TimestampType))
    }

  /** Streaming source over a directory of events parquet files. The
    * stream schema must match the files' layout (nanos-as-long vs native
    * micros — both exist across driver testdata generations), so one
    * batch footer read picks it before the stream is constructed. An
    * EMPTY source directory — a normal starting state for a file stream
    * (files arrive later) — has no footer to read; the inference failure
    * falls back to [[eventsLongSchema]] instead of failing stream
    * construction. A MISSING directory still fails loudly (a typo'd
    * path must not become a silent empty stream with a guessed schema).
    *
    * SESSION-CONF CAVEAT: this sets `spark.sql.legacy.parquet.nanosAsLong`
    * for the stream's lifetime and does NOT restore it — the flag must
    * stay on while micro-batches read nanos-layout files. The drain
    * helpers ([[drainToMemorySink]]) restore the pre-call value after
    * the stream terminates; a direct caller owning the stream lifecycle
    * owns the restore too, or unrelated TIMESTAMP(NANOS) reads in the
    * same session will decode as longs.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"eventsStream: no such directory: $dir")
    val fileSchema =
      try spark.read.parquet(dir).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("infer schema") =>
          eventsLongSchema
      }
    tsToTimestamp(spark.readStream.schema(fileSchema).parquet(dir))
  }

  /** The file stream source requires a DIRECTORY; a single-file input is
    * staged into a scratch dir (symlink when the filesystem allows, copy
    * otherwise) registered for JVM-exit cleanup.
    */
  /** Symlink-or-copy one existing file into a staging dir. */
  private def stageFile(dir: java.nio.file.Path, name: String,
      f: java.io.File): Unit = {
    val target = dir.resolve(name)
    try java.nio.file.Files.createSymbolicLink(target, f.toPath)
    catch { case _: Exception =>
      java.nio.file.Files.copy(f.toPath, target)
    }
  }

  private def stageDir(path: String): String = {
    val f = new java.io.File(path)
    // fail fast: a symlink to a missing target succeeds at creation time
    // and the stream would silently drain zero rows
    require(f.isFile || f.isDirectory, s"no such path: $path")
    if (f.isDirectory) path
    else {
      val dir = java.nio.file.Files.createTempDirectory("graft_events_stream")
      graft.util.TempDirs.register(dir.toString)
      stageFile(dir, f.getName, f)
      dir.toString
    }
  }

  /** Tumbling/sliding window aggregation with watermark:
    * counts + sum(value) per (window, event_type). `slide == size` →
    * tumbling. Late data beyond the watermark is dropped.
    */
  def windowedAgg(events: DataFrame, size: String = "1 hour",
      slide: Option[String] = None, watermark: String = "2 hours"): DataFrame = {
    val win = slide match {
      case Some(s) => window(col("ts"), size, s)
      case None    => window(col("ts"), size)
    }
    events
      .withWatermark("ts", watermark)
      .groupBy(win.as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(unix_timestamp(col("w.start")).cast("long").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
  }

  private val memorySinkSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drain a streaming frame into a Complete-mode memory sink with
    * `AvailableNow` and return the materialized table — the
    * oracle-comparable surface for streaming-EXECUTED correctness
    * entries. Unique sink name (memory-sink tables are session-global;
    * bench reruns must not collide), explicit checkpoint under JVM-exit
    * cleanup (the engine would otherwise warn and create an unmanaged
    * temp checkpoint), and the nanosAsLong flag [[eventsStream]] flips is
    * restored afterwards — a shared bench session must not see an
    * order-dependent conf change.
    */
  private def drainToMemorySink(spark: SparkSession, streamed: => DataFrame,
      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val name = s"graft_stream_sink_${memorySinkSeq.incrementAndGet()}"
    val checkpoint = java.nio.file.Files.createTempDirectory("graft_stream_ckpt")
    graft.util.TempDirs.register(checkpoint.toString)
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    // `streamed` is BY-NAME and must only be forced after this capture:
    // constructing it calls eventsStream, which flips the flag — an eager
    // parameter would capture the already-flipped value and make the
    // restore below a no-op
    val prevNanos = spark.conf.getOption(nanosKey)
    try {
      streamed.writeStream
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint.toString)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally {
      prevNanos match {
        case Some(v) => spark.conf.set(nanosKey, v)
        case None    => spark.conf.unset(nanosKey)
      }
    }
    spark.table(name)
  }

  /** Run [[windowedAgg]] as an ACTUAL streaming execution — `readStream` →
    * watermarked window agg → memory sink, drained with `AvailableNow` —
    * and return the materialized result. This is the correctness harness
    * for the streaming path itself (the batch twin checks semantics; this
    * checks the streaming EXECUTION produces them): `Complete` output mode
    * keeps every window in the sink, so a bounded replay equals the batch
    * aggregation row-for-row.
    *
    * Bounded-input harness by design — a production deployment writes
    * `Append` with the watermark evicting state to a durable sink; the
    * memory sink here is the oracle-comparable surface.
    */
  def windowedAggOnce(spark: SparkSession, eventsPath: String,
      size: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    drainToMemorySink(spark,
      windowedAgg(eventsStream(spark, stageDir(eventsPath)), size,
        slide = None, watermark = watermark))

  /** Stream-static enrichment, EXECUTED: the event stream joins a static
    * dimension (resolved fresh per micro-batch; Catalyst broadcasts the
    * dim exactly as in batch) and aggregates per segment — the canonical
    * production streaming-enrichment pattern, drained like
    * [[windowedAggOnce]] so the result is batch-oracle-comparable.
    */
  def enrichBySegmentOnce(spark: SparkSession, eventsPath: String,
      customers: DataFrame): DataFrame =
    drainToMemorySink(spark,
      eventsStream(spark, stageDir(eventsPath))
        .join(broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
          col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value")))

  /** Streaming ANN serving, EXECUTED micro-batch form — the Spark-shaped
    * answer to "online" similarity search over a persisted index (a true
    * per-request server is out of Spark's execution model; micro-batch
    * probing is what Structured Streaming offers): each arriving batch of
    * query vectors runs the partition-pruned [[graft.knn.IvfIndex]] batch
    * probe via `foreachBatch` — the per-batch centroid math is bounded
    * driver work, the inverted-list scan stays distributed and pruned —
    * and results append to `outDir` as the streaming sink. The index
    * directory is shared state: appends to the index between batches are
    * picked up by the next batch's probe (each probe re-reads the
    * manifest-free parquet layout).
    *
    * `queriesDir` is a directory of parquet files with (idCol, vecCol)
    * columns; `maxFilesPerTrigger` bounds batch size (queries per batch ×
    * k rows of output state — nothing else accumulates). Returns the
    * union of all batches' results read back from `outDir`.
    *
    * `outDir` is OWNED by the call: it is cleared first, so a re-run
    * (whose fresh checkpoint replays every source file) returns one
    * result set instead of appending a duplicate copy per invocation.
    * An empty `queriesDir` returns an empty, correctly-shaped frame.
    */
  def knnEnrichOnce(
      spark: SparkSession,
      queriesDir: String,
      querySchema: StructType,
      indexDir: String,
      outDir: String,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 4,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val checkpoint = java.nio.file.Files.createTempDirectory("graft_knn_ckpt")
    graft.util.TempDirs.register(checkpoint.toString)
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(outPath, true)
    // IvfIndex.search opens the index per batch: its generation-keyed
    // metadata memo reads (centroids, metric) once per loop, and again
    // only after a maintenance op commits between batches
    spark.readStream
      .schema(querySchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(queriesDir)
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.knn.IvfIndex
          .search(batch.sparkSession, indexDir, batch.toDF(), idCol, vecCol,
            k, nProbe)
          .write.mode("append").parquet(outDir)
        ()
      }
      .option("checkpointLocation", checkpoint.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
    if (fs.exists(outPath)) spark.read.parquet(outDir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.knn.IvfIndex.searchSchema)
  }

  /** Write `df` as ONE parquet file at `dir/name` with an explicit
    * modification time. The file stream source orders files by
    * (modification time, path) — staged batches therefore replay in a
    * DETERMINISTIC order, which matters whenever batch N+1 must observe
    * state batch N wrote (the [[dedupIngestOnce]] contract).
    *
    * Pure Hadoop-FileSystem implementation, so `dir` may live on any
    * configured filesystem (local, hdfs://, s3a://): the single-file
    * write is staged into a DOT-PREFIXED scratch dir beside the target
    * (hidden-path-filtered by every Spark file listing, including the
    * file stream source, and on the same FS so the rename is atomic),
    * renamed into place, then `fs.setTimes` stamps the mtime — a failed
    * stamp is an ERROR when replay order is actually at stake: object
    * stores that ignore setTimes cannot honor the mtime contract. The
    * failure is scoped to where it matters — a directory holding ONE
    * staged batch has a vacuous replay order, so single-batch staging
    * keeps working on such stores; only the second batch staged into
    * the same directory fails. `requireMtimeOrder = false` is the
    * explicit caller override for stores without setTimes support:
    * batches then replay in the file source's (upload-mtime, PATH)
    * order, so the caller must name batches in lexicographic replay
    * order (batch_a, batch_b, …) for determinism.
    */
  def stageBatch(df: DataFrame, dir: String, name: String, mtimeMs: Long,
      requireMtimeOrder: Boolean = true): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(dirPath, s".graft_stage_$name.tmp")
    fs.delete(tmp, true)
    df.repartition(1).write.mode("overwrite").parquet(tmp.toString)
    val parts = fs.globStatus(
      new org.apache.hadoop.fs.Path(tmp, "part-*.parquet"))
    require(parts != null && parts.length == 1,
      s"stageBatch: expected one part file under $tmp, " +
        s"found ${if (parts == null) 0 else parts.length}")
    val target = new org.apache.hadoop.fs.Path(dirPath, name)
    // setTimes is a SILENT no-op on stores that don't support it (the
    // Hadoop default is an empty body — object stores keep upload
    // mtimes), and the file stream orders batches by mtime. PROBE
    // support on the staged tmp part BEFORE touching the target: a
    // failed stamp breaks the 'batch N+1 observes batch N's state'
    // replay contract — but only once the directory holds MORE than
    // one staged batch (ordering one file is vacuous) — and refusing
    // here, pre-rename, leaves every previously staged batch INTACT
    // (a post-rename undo would destroy the prior version of a
    // re-staged same-name batch along with the new one).
    if (requireMtimeOrder) {
      fs.setTimes(parts.head.getPath, mtimeMs, -1)
      val supported =
        fs.getFileStatus(parts.head.getPath).getModificationTime == mtimeMs
      if (!supported) {
        val others = fs.exists(dirPath) && fs.listStatus(dirPath).exists { st =>
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".") && n != name &&
            !n.startsWith(".graft_stage_")
        }
        if (others) {
          fs.delete(tmp, true)
          throw new IllegalArgumentException(
            s"stageBatch: the mtime stamp does not take effect on this " +
              s"store (setTimes is a no-op), so the replay order of " +
              s"multiple batches staged under $dir cannot be " +
              "guaranteed — refusing BEFORE staging, so the directory " +
              "is unchanged. Stage one batch per directory, or pass " +
              "requireMtimeOrder = false and name batches in " +
              "lexicographic replay order (the file source falls back " +
              "to path order for equal mtimes)")
        }
      }
    }
    fs.delete(target, false)
    require(fs.rename(parts.head.getPath, target),
      s"stageBatch: could not move staged file into place at $target")
    fs.setTimes(target, mtimeMs, -1)
    fs.delete(tmp, true)
    ()
  }

  /** The event-time lateness gate of [[ingestBatch]]: `tsCol` is a LONG
    * event-time column in any monotone unit; `lateness` is how far below
    * the highest event time seen so far a row may still arrive.
    */
  private[graft] final case class LatenessGate(tsCol: String, lateness: Long)

  /** One micro-batch of persistent-index ingest: the ONE body behind
    * every ingest entry point ([[lexIngestOnce]], [[dedupIngestOnce]],
    * the four `*IngestWatermarked`, the three `*ReingestLate`). The
    * family value supplies only the index calls ([[IngestFamily]]: the
    * family's [[IndexWriter]] and its probe).
    *
    * Contract — the whole batch runs under the index's writer lock, as
    * one maintenance op:
    *
    *  - RECOVERY first: a crashed build/vacuum/rebalance/reshard commit
    *    is healed before anything reads committed state or metadata (a
    *    batch signed under the old LSH params while the new tables swap
    *    live would append band rows the new params never hashed).
    *  - FRESHNESS: rows whose id the index already holds are dropped, so
    *    a batch replayed after a crash between the index commit and the
    *    stream checkpoint (or a whole-call rerun) re-emits nothing —
    *    exactly-once PER DOCUMENT.
    *  - ONE ROW PER ID: admitted rows must carry distinct ids. A batch
    *    that repeats one fails before any channel, audit, index or
    *    watermark write, naming the batch and one repeated id (an
    *    at-least-once source redelivered inside the batch; dedup it
    *    upstream). Rows whose id is already committed are not admitted,
    *    so a replay of a committed batch passes.
    *  - LATENESS, only with a `gate`: the watermark starts at
    *    Long.MinValue and after every batch advances to
    *    `max(previous, max(tsCol in batch) - lateness)`. A fresh row is
    *    LATE iff its event time is below the watermark AS OF THE START of
    *    its batch, or NULL (unclassifiable). Late rows are never probed
    *    or appended; they are audited as the FULL original batch rows
    *    under `<outDir>/late/batch=<id>`, overwritten per batch, which
    *    makes the audit exactly-once across replays and self-contained
    *    for [[lateRows]]. The watermark is persisted beside the index
    *    ([[IngestWatermark]]) and written AFTER the commit, so a crash
    *    inside the batch replays under the old watermark with the same
    *    late verdicts.
    *  - PROBE BEFORE APPEND: admitted rows are probed against the index
    *    AS OF batch start (a batch never matches itself), the result
    *    rows written batch-keyed with Overwrite to `<channel>/batch=<id>`
    *    — a crash between that write and the append replays into the
    *    same directory instead of duplicating it — and then appended.
    *    The channel is `outDir` itself without a gate and
    *    `<outDir>/<family channel>` (beside `late/`) with one.
    *  - METADATA comes from the family's `open`, called after this
    *    batch's recovery ran: its memo serves the snapshot's metadata
    *    while the commit generation holds, so a loop reads it once and
    *    again only after a commit that swapped it.
    *
    * End state: the committed index equals a one-shot build over
    * base ∪ admitted — index state is per document, so append order
    * cannot matter (the q91/q92/q95/q96 oracles pin it).
    */
  private[graft] def ingestBatch[S](
      sp: SparkSession,
      fam: IngestFamily[S],
      indexDir: String,
      outDir: String,
      batchId: Long,
      batch: DataFrame,
      idCol: String,
      gate: Option[LatenessGate]): Unit = {
    // lazy checkpoints: each frame is materialized by its first action
    // (the gate's one-pass agg) and reused from blocks after — eager
    // would pay one extra dedicated job per frame per batch
    val b = batch.localCheckpoint(eager = false)
    // LAZY val, first forced by the gate thunk INSIDE the writer lock and
    // after recovery: a frame constructed (and its file listing pinned)
    // pre-lock could read tables a crashed commit was mid-rename on
    val w = fam.writer
    lazy val committed = w.committed(sp, indexDir)
      .localCheckpoint(eager = false)
    watermarkGatedBatch(sp, indexDir, outDir, batchId, b,
        { w.recover(sp, indexDir); committed }, idCol, gate) { fresh =>
      val snap = w.open(sp, indexDir)
      sp.sparkContext.setJobDescription("graft ingest: probe")
      val prepared = w.prepare(sp, snap, fresh)
      fam.probe(sp, snap, fresh, prepared, committed)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"${channelDir(fam, outDir, gate)}/batch=$batchId")
      sp.sparkContext.setJobDescription("graft ingest: append")
      w.write(sp, snap, prepared, /* micro = */ true)
    }
  }

  private def channelDir(fam: IngestFamily[_], outDir: String,
      gate: Option[LatenessGate]): String =
    if (gate.isEmpty) outDir else s"$outDir/${fam.channel}"

  /** The freshness, uniqueness and lateness gate of [[ingestBatch]],
    * under the index's writer lock. `committedIds` (one `id` column) is
    * BY-NAME and evaluated once inside the lock, so a family whose
    * committed-id read needs crash recovery first can run it in the
    * thunk without racing a live writer.
    *
    * The gate left-joins the batch against the committed ids with a
    * presence marker, so freshness, the late split, the batch max event
    * time, both emptiness checks and the id-uniqueness count all come
    * from ONE aggregate over the joined batch — one scheduler round-trip
    * where a naive formulation pays one per question. Distinct ids are
    * counted by a per-partition set merged in the same aggregate (a
    * `count(DISTINCT)` would add an exchange and a job); the merged set
    * holds one micro-batch's admitted ids. Only a failing batch pays a
    * second query, to name one repeated id. `admit` gets the admitted
    * rows (never empty).
    */
  private def watermarkGatedBatch(
      sp: SparkSession,
      indexDir: String,
      outDir: String,
      batchId: Long,
      b: DataFrame,
      committedIds: => DataFrame,
      idCol: String,
      gate: Option[LatenessGate])(admit: DataFrame => Unit): Unit =
    graft.util.IndexLock.withLock(sp, indexDir, "ingest-batch") { try {
      val wm = gate.map(_ => IngestWatermark.read(sp, indexDir))
      val id = col(idCol).cast("long")
      val marked = IndexWriter.markCommitted(b, id, committedIds)
        .localCheckpoint(eager = false)
      val isFresh = col(IndexWriter.CommittedId).isNull
      val ts = gate.fold(lit(null).cast("long"))(g => col(g.tsCol).cast("long"))
      // NULL event time is unclassifiable — late, never admitted; a bare
      // `ts < wm` / `ts >= wm` filter pair would drop it from BOTH sides
      val (admitted, late) = wm.fold((isFresh, lit(false))) { w =>
        (isFresh && ts >= w, isFresh && (ts.isNull || ts < w))
      }
      sp.sparkContext.setJobDescription("graft ingest: lateness gate")
      val stats = marked.agg(
        count(lit(1)).as("n"),
        max(ts).as("max_ts"),
        count(when(admitted, 1)).as("n_admit"),
        count(when(late, 1)).as("n_late"),
        count(when(admitted, id)).as("n_admit_ids"),
        size(collect_set(when(admitted, id))).as("n_distinct_ids"))
        .collect().head
      if (stats.getInt(5) < stats.getLong(4)) {
        val dup = marked.filter(admitted).groupBy(id.as("__id")).count()
          .filter(col("count") > 1).select("__id").head().getLong(0)
        throw new IllegalArgumentException(
          s"ingest batch $batchId: ${stats.getLong(4)} admitted rows carry " +
            s"only ${stats.getInt(5)} distinct ids ($idCol $dup occurs more " +
            "than once); the batch was refused before any write")
      }
      if (stats.getLong(0) > 0) {
        // a batch with no late rows skips the (empty) audit write: the
        // late verdict is deterministic in (batch, pre-batch watermark),
        // so a replay that computes zero late rows computed zero the
        // first time too — there is no stale partition to overwrite
        if (stats.getLong(3) > 0) {
          sp.sparkContext.setJobDescription("graft ingest: late audit")
          marked.filter(late).drop(IndexWriter.CommittedId)
            .write.mode(SaveMode.Overwrite)
            .parquet(s"$outDir/late/batch=$batchId")
        }
        if (stats.getLong(2) > 0)
          admit(marked.filter(admitted).drop(IndexWriter.CommittedId)
            .localCheckpoint(eager = false))
        // an all-null-ts batch advances nothing
        for (g <- gate; w <- wm if !stats.isNullAt(1))
          IngestWatermark.write(sp, indexDir,
            math.max(w, stats.getLong(1) - g.lateness))
      }
      // finally, not a trailing call: descriptions are session-global, so
      // a throw from the audit write / admit / watermark write would
      // otherwise label every later unrelated job "graft ingest: …"
    } finally sp.sparkContext.setJobDescription(null) }

  /** The staged-file driver: one AvailableNow pass over `batchesDir`,
    * every micro-batch through [[ingestBatch]]. `outDir` is owned by the call (cleared first, so a
    * rerun — whose fresh checkpoint replays every file — returns one
    * result set); returns the union of every batch's channel rows.
    */
  private def ingestFiles[S](
      spark: SparkSession,
      fam: IngestFamily[S],
      batchesDir: String,
      batchSchema: StructType,
      indexDir: String,
      outDir: String,
      idCol: String,
      gate: Option[LatenessGate],
      maxFilesPerTrigger: Int): DataFrame = {
    val checkpoint = java.nio.file.Files.createTempDirectory("graft_ingest_ckpt")
    graft.util.TempDirs.register(checkpoint.toString)
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an explicit schema means a typo'd source path would become a
    // SILENT empty stream (zero batches, empty result) — after this
    // call has already cleared outDir of prior results. Fail loudly
    // instead (the eventsStream missing-dir contract).
    val src = new org.apache.hadoop.fs.Path(batchesDir)
    require(src.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(src),
      s"ingest: batches directory does not exist: $batchesDir")
    fs.delete(outPath, true)
    spark.readStream
      .schema(batchSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(batchesDir)
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ingestBatch(batch.sparkSession, fam, indexDir, outDir, batchId,
          batch.toDF(), idCol, gate)
      }
      .option("checkpointLocation", checkpoint.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
    channelOrEmpty(spark, fs, channelDir(fam, outDir, gate), fam.channelSchema)
  }

  /** The late-audit loop in ONE call: the `late/` rows of a gated run
    * ([[lateRows]]) go through [[ingestBatch]] directly, without a gate
    * (they are below the watermark by definition) and without a staged-
    * file round trip (file write, stream source, checkpoint: pure
    * machinery — the rows are already in hand). Identical to
    * [[stageBatch]] + the family's non-gated ingest over the same rows;
    * freshness makes it replay-safe (a second call emits nothing). The
    * staged route remains the right shape when the re-ingest happens in
    * a LATER session than the gated run.
    *
    * The audit channel unions EVERY batch's partition: the same id
    * arriving late in two batches (at-least-once redelivery) is recorded
    * twice and stays uncommitted. The copies are identical rows, so they
    * are deduplicated here rather than refused by the one-row-per-id
    * rule. `outDir` is owned by the call (cleared first); returns the
    * probe rows of the re-admitted rows (an empty frame when the audit
    * channel has no recoverable rows).
    */
  private def reingestLate[S](
      spark: SparkSession,
      fam: IngestFamily[S],
      gatedOutDir: String,
      indexDir: String,
      outDir: String,
      idCol: String): DataFrame = {
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(outPath, true)
    lateRows(spark, gatedOutDir).foreach { late =>
      ingestBatch(spark, fam, indexDir, outDir, 0L, late.dropDuplicates(idCol),
        idCol, gate = None)
    }
    channelOrEmpty(spark, fs, outDir, fam.channelSchema)
  }

  /** A driver's batch-keyed result channel (`<dir>/batch=<id>`, the
    * partition key dropped), or an empty frame of the family's schema
    * when no batch ever wrote it.
    */
  private def channelOrEmpty(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      path: String,
      emptySchema: StructType): DataFrame =
    if (fs.exists(new org.apache.hadoop.fs.Path(path)))
      spark.read.parquet(path).drop("batch")
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema)

  /** The late audit channel's full payload rows (every original batch
    * column; the `batch` partition key dropped) — the re-ingest surface
    * the gate's audit contract promises. Late rows carry event times
    * BELOW the index's watermark by definition, so feeding them back
    * through the gated path would route them straight back to `late/`;
    * the loop closes through the NON-gated ingest instead (the
    * `*ReingestLate` calls, [[lexIngestOnce]] / [[dedupIngestOnce]], or
    * the index `append`s), whose freshness join still dedups against
    * committed state. Empty (schema-less dirs included) → None, so
    * callers distinguish "no late rows ever" from an empty frame of
    * unknown shape.
    */
  def lateRows(spark: SparkSession, outDir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$outDir/late")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      // a crash during the audit write can leave late/ holding only
      // _temporary debris — no committed files, no inferable schema;
      // that is "no late rows recoverable", not an operator-facing
      // crash. Decide by LISTING for committed parquet (non-hidden)
      // rather than catching AnalysisException wholesale: a blanket
      // catch would also convert genuine read failures (conflicting
      // schemas across late/batch=N partitions from mixed-version
      // runs) into "no late rows", silently dropping auditable data.
      val committed = new java.util.ArrayDeque[org.apache.hadoop.fs.Path]()
      committed.push(p)
      var found = false
      while (!found && !committed.isEmpty) {
        val dir = committed.pop()
        fs.listStatus(dir).foreach { st =>
          val n = st.getPath.getName
          if (!n.startsWith("_") && !n.startsWith(".")) {
            if (st.isDirectory) committed.push(st.getPath)
            else if (n.endsWith(".parquet")) found = true
          }
        }
      }
      if (!found) None
      else Some(spark.read.parquet(p.toString).drop("batch"))
    }
  }

  /** Streaming lexical-index ingest of staged batch files into a
    * persisted [[graft.text.Bm25Index]], no lateness gate: every batch
    * document is searched against everything committed so far (BM25
    * top-k; N, avgdl and per-term df advance batch over batch), then
    * appended — the [[ingestBatch]] contract. Returns the union of all
    * batches' search rows (query_id, id, score, rnk) under `outDir`.
    */
  def lexIngestOnce(
      spark: SparkSession,
      batchesDir: String,
      batchSchema: StructType,
      indexDir: String,
      outDir: String,
      idCol: String,
      textCol: String,
      topK: Int = 10,
      maxFilesPerTrigger: Int = 1): DataFrame =
    ingestFiles(spark, IngestFamily.lex(idCol, textCol, topK), batchesDir,
      batchSchema, indexDir, outDir, idCol, None, maxFilesPerTrigger)

  /** Streaming near-dup ingest of staged batch files into a persisted
    * [[graft.dedup.LshDedupIndex]], no lateness gate: every batch is
    * probed against the whole committed corpus, then appended, so a later
    * batch dedups against every earlier one — the [[ingestBatch]]
    * contract. Near-dups WITHIN one batch are the batch-sized
    * [[graft.dedup.Dedup.minHashLshCandidates]]'s job. Returns the union
    * of all batches' candidate rows (new_id, indexed_id, est_jaccard).
    */
  def dedupIngestOnce(
      spark: SparkSession,
      batchesDir: String,
      batchSchema: StructType,
      indexDir: String,
      outDir: String,
      idCol: String,
      textCol: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    ingestFiles(spark, IngestFamily.dedup(idCol, textCol), batchesDir,
      batchSchema, indexDir, outDir, idCol, None, maxFilesPerTrigger)

  /** [[lexIngestOnce]] behind the event-time lateness gate (the
    * [[ingestBatch]] contract): late rows go to `<outDir>/late`, search
    * rows of admitted documents to `<outDir>/search`, which is returned.
    */
  def lexIngestWatermarked(
      spark: SparkSession,
      batchesDir: String,
      batchSchema: StructType,
      indexDir: String,
      outDir: String,
      idCol: String,
      textCol: String,
      tsCol: String,
      lateness: Long,
      topK: Int = 10,
      maxFilesPerTrigger: Int = 1): DataFrame =
    ingestFiles(spark, IngestFamily.lex(idCol, textCol, topK), batchesDir,
      batchSchema, indexDir, outDir, idCol,
      Some(LatenessGate(tsCol, lateness)), maxFilesPerTrigger)

  /** [[dedupIngestOnce]] behind the event-time lateness gate (the
    * [[ingestBatch]] contract): late rows go to `<outDir>/late`,
    * candidate rows of admitted documents to `<outDir>/cands`, which is
    * returned.
    */
  def dedupIngestWatermarked(
      spark: SparkSession,
      batchesDir: String,
      batchSchema: StructType,
      indexDir: String,
      outDir: String,
      idCol: String,
      textCol: String,
      tsCol: String,
      lateness: Long,
      maxFilesPerTrigger: Int = 1): DataFrame =
    ingestFiles(spark, IngestFamily.dedup(idCol, textCol), batchesDir,
      batchSchema, indexDir, outDir, idCol,
      Some(LatenessGate(tsCol, lateness)), maxFilesPerTrigger)

  /** Gated streaming VECTOR ingest into a persistent
    * [[graft.knn.IvfIndex]] (the [[ingestBatch]] contract): admitted
    * embeddings are probed against the index as of batch start (rows
    * under `<outDir>/search`, returned) and appended into their inverted
    * lists; late rows go to `<outDir>/late`. The committed id set equals
    * base ∪ admitted, and a full probe (`nProbe = nList`) over the
    * committed index is exact.
    *
    * Reference anchor: the reference builds its ANN index once and
    * serves lookups from it (DeepJoin/annIndex.py:42–51); continuous
    * index maintenance under event-time lateness is the at-scale
    * extension of that serving loop.
    */
  def annIngestWatermarked(
      spark: SparkSession,
      batchesDir: String,
      batchSchema: StructType,
      indexDir: String,
      outDir: String,
      idCol: String,
      vecCol: String,
      tsCol: String,
      lateness: Long,
      k: Int = 10,
      nProbe: Int = 4,
      maxFilesPerTrigger: Int = 1): DataFrame =
    ingestFiles(spark, IngestFamily.ann(idCol, vecCol, k, nProbe), batchesDir,
      batchSchema, indexDir, outDir, idCol,
      Some(LatenessGate(tsCol, lateness)), maxFilesPerTrigger)

  /** [[annIngestWatermarked]] on the sharded [[graft.knn.HnswIndex]]:
    * admitted vectors are beam-probed, then inserted into their shards'
    * graphs by the generation-committed append (its manifest rename is
    * the batch's index commit). Membership and the late split are exact;
    * only the search channel is approximate (HNSW recall).
    */
  def hnswIngestWatermarked(
      spark: SparkSession,
      batchesDir: String,
      batchSchema: StructType,
      indexDir: String,
      outDir: String,
      idCol: String,
      vecCol: String,
      tsCol: String,
      lateness: Long,
      k: Int = 10,
      efSearch: Int = 64,
      maxFilesPerTrigger: Int = 1): DataFrame =
    ingestFiles(spark, IngestFamily.hnsw(idCol, vecCol, k, efSearch),
      batchesDir, batchSchema, indexDir, outDir, idCol,
      Some(LatenessGate(tsCol, lateness)), maxFilesPerTrigger)

  /** Re-ingest the late rows of a gated [[lexIngestWatermarked]] run —
    * [[reingestLate]]; returns their search rows.
    */
  def lexReingestLate(
      spark: SparkSession,
      gatedOutDir: String,
      indexDir: String,
      outDir: String,
      idCol: String,
      textCol: String,
      topK: Int = 10): DataFrame =
    reingestLate(spark, IngestFamily.lex(idCol, textCol, topK), gatedOutDir,
      indexDir, outDir, idCol)

  /** Re-ingest the late rows of a gated [[annIngestWatermarked]] run —
    * [[reingestLate]]; returns their probe rows.
    */
  def annReingestLate(
      spark: SparkSession,
      gatedOutDir: String,
      indexDir: String,
      outDir: String,
      idCol: String,
      vecCol: String,
      k: Int = 10,
      nProbe: Int = 4): DataFrame =
    reingestLate(spark, IngestFamily.ann(idCol, vecCol, k, nProbe),
      gatedOutDir, indexDir, outDir, idCol)

  /** Re-ingest the late rows of a gated [[hnswIngestWatermarked]] run —
    * [[reingestLate]]; returns their (approximate) probe rows.
    */
  def hnswReingestLate(
      spark: SparkSession,
      gatedOutDir: String,
      indexDir: String,
      outDir: String,
      idCol: String,
      vecCol: String,
      k: Int = 10,
      efSearch: Int = 64): DataFrame =
    reingestLate(spark, IngestFamily.hnsw(idCol, vecCol, k, efSearch),
      gatedOutDir, indexDir, outDir, idCol)

  /** Streaming exact dedup, EXECUTED: the events file is staged TWICE
    * into the source directory, so every event genuinely arrives as a
    * duplicate; `dropDuplicatesWithinWatermark` on the key keeps the
    * first arrival, and the drained Append-mode sink must equal the
    * ORIGINAL table row-for-row — a batch-oracle-checkable execution of
    * the streaming dedup state machine.
    */
  def dedupEventsOnce(spark: SparkSession, eventsPath: String,
      delay: String = "2 hours"): DataFrame = {
    val f = new java.io.File(eventsPath)
    require(f.isFile, s"dedupEventsOnce: not a file: $eventsPath")
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_dup")
    graft.util.TempDirs.register(dir.toString)
    Seq("dup_a.parquet", "dup_b.parquet").foreach(stageFile(dir, _, f))
    drainToMemorySink(spark,
      dedupStream(eventsStream(spark, dir.toString), Seq("event_id"),
        delay = delay),
      OutputMode.Append())
  }

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionAgg(user_id: Long, session_start_us: Long,
      n_events: Long, sum_value: Double)

  // must be public: Spark's generated state-encoder code instantiates and
  // reads this class reflectively from outside the enclosing object
  final case class SessionState(startUs: Long, lastUs: Long, cnt: Long, total: Double)

  /** Gap-based sessionization, BATCH form: a new session starts when the
    * gap to the previous event of the same user exceeds `gapMinutes`.
    * Window-function formulation — one shuffle by user, no state.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val us = unix_micros(col("ts"))
    val gapUs = gapMinutes.toLong * 60 * 1000000
    events
      .withColumn("__prev", lag(us, 1).over(byUser))
      .withColumn("__new_session",
        when(col("__prev").isNull || us - col("__prev") > gapUs, 1L).otherwise(0L))
      .withColumn("__session_no",
        sum("__new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "__session_no")
      .agg(min(us).as("session_start_us"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
      .select("user_id", "session_start_us", "n_events", "sum_value")
  }

  /** Streaming exact dedup: `dropDuplicatesWithinWatermark` over the key
    * columns — the streaming twin of the batch exact-dedup canonicalization
    * (dedup/Dedup.exactDupGroups). State is bounded by the watermark: a
    * duplicate arriving within the delay is dropped, and the key's state is
    * evicted once the watermark passes — the only dedup contract that holds
    * on an unbounded stream without an external store.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermarkCol: String = "ts", delay: String = "1 hour"): DataFrame =
    events.withWatermark(watermarkCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Gap-based sessionization, STREAMING form: custom state machine via
    * flatMapGroupsWithState — emits a session when the gap closes it (same
    * session boundaries as the batch twin for in-order input).
    * `flushTimeout=true` adds a processing-time timeout so idle sessions
    * eventually flush in production; leave it off for deterministic
    * drain-and-stop tests (timeout batches otherwise keep the query busy
    * forever).
    */
  def sessionizeStream(events: Dataset[Event], gapMinutes: Int = 30,
      flushTimeout: Boolean = false): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (flushTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        sessionUpdate(gapMinutes, flushTimeout))
  }

  /** The sessionization state machine (extracted so the timeout path is
    * unit-testable with `TestGroupState` — a ProcessingTimeTimeout query
    * never drains under `processAllAvailable`).
    */
  private[graft] def sessionUpdate(gapMinutes: Int, flushTimeout: Boolean)(
      userId: Long, evs: Iterator[Event],
      state: GroupState[SessionState]): Iterator[SessionAgg] = {
    val gapUs = gapMinutes.toLong * 60 * 1000000
    // processing-time timeout fired with no new events: flush the idle
    // session and clear state — otherwise the timeout would be re-armed
    // below and the session would never be emitted
    if (state.hasTimedOut) {
      val flushed = state.getOption.map(s =>
        SessionAgg(userId, s.startUs, s.cnt, math.rint(s.total * 100) / 100))
      state.remove()
      return flushed.iterator
    }
    var out = List.empty[SessionAgg]
    var cur = state.getOption
    // MICROsecond event time, like the batch twin's unix_micros: getTime
    // alone truncates to ms (java.sql.Timestamp carries sub-ms in nanos),
    // and a 10:00:00.000500 event would sessionize differently in the
    // two twins, breaking the row-for-row boundary contract
    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime / 1000 * 1000000L + ts.getNanos / 1000
    evs.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
      val us = micros(e.ts)
      cur match {
        case Some(s) if us - s.lastUs <= gapUs =>
          cur = Some(s.copy(lastUs = us, cnt = s.cnt + 1, total = s.total + e.value))
        case Some(s) =>
          out ::= SessionAgg(userId, s.startUs, s.cnt,
            math.rint(s.total * 100) / 100)
          cur = Some(SessionState(us, us, 1, e.value))
        case None =>
          cur = Some(SessionState(us, us, 1, e.value))
      }
    }
    cur.foreach(s => state.update(s))
    if (flushTimeout) state.setTimeoutDuration(s"$gapMinutes minutes")
    out.reverseIterator
  }
}
