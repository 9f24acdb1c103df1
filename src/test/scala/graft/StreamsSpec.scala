package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Lake
import graft.streaming.{IngestFamily, Streams}

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("events_stream")
    Files.copy(Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("eventsStream: empty dir falls back to the long schema; missing dir fails loudly") {
    // empty source dir is a normal file-stream starting state (files
    // arrive later): stream construction must succeed on the fallback
    // schema rather than die on 'unable to infer schema'
    val empty = Files.createTempDirectory("events_empty").toString
    val stream = Streams.eventsStream(spark, empty)
    assert(stream.isStreaming)
    assert(stream.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType) // tsToTimestamp applied
    // a missing dir stays a loud failure — a typo must not become a
    // silent empty stream
    val e = intercept[IllegalArgumentException] {
      Streams.eventsStream(spark, s"$empty/no_such_subdir")
    }
    assert(e.getMessage.contains("no such directory"))
  }

  test("streaming windowed agg equals the batch result (complete mode)") {
    val stream = Streams.eventsStream(spark, eventsDir)
    val q = Streams.windowedAgg(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("win_out")
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet

    val batch = Lake.events(spark, sf0001)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .select(unix_timestamp(col("w.start")).cast("long"), col("event_type"),
        col("n"), col("v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet

    assert(got == batch)
  }

  test("windowedAggOnce (q42 surface) drains a real stream to batch-equal rows") {
    // points at the single parquet FILE, exactly as the q42 entry does
    val got = Streams.windowedAggOnce(spark, s"$sf0001/events.parquet")
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val batch = SparkEntry.queries("q22_event_windows")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == batch)
  }

  test("enrichBySegmentOnce (q46 surface) equals the batch stream-static join") {
    val customers = graft.sources.Lake.table(spark, sf0001, "customer")
    val got = Streams.enrichBySegmentOnce(spark, s"$sf0001/events.parquet", customers)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.sources.Lake.events(spark, sf0001)
      .join(customers, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("dedupEventsOnce (q50 surface): doubled input drains to the original rows") {
    val got = Streams.dedupEventsOnce(spark, s"$sf0001/events.parquet")
      .select("event_id").collect().map(_.getLong(0)).sorted
    val batch = graft.sources.Lake.events(spark, sf0001)
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.length == batch.length, "every duplicate must be dropped")
    assert(got.toSeq == batch.toSeq)
  }

  test("drain restores the nanosAsLong conf to its pre-call state") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key) // registered conf: getOption now yields the default
    val before = spark.conf.get(key)
    assert(before == "false")
    Streams.windowedAggOnce(spark, s"$sf0001/events.parquet")
    // the capture must happen BEFORE eventsStream flips the flag — an
    // eager capture would see "true" and the restore would be a no-op
    assert(spark.conf.get(key) == before,
      "the flag must be back to its effective pre-call value after the drain")
  }

  test("batch sessionization: session boundaries honor the gap") {
    val events = Seq(
      (1L, "2024-01-01 10:00:00", 1.0),
      (1L, "2024-01-01 10:10:00", 2.0), // same session (10 min gap)
      (1L, "2024-01-01 11:00:00", 4.0), // new session (50 min gap)
      (2L, "2024-01-01 10:05:00", 8.0))
      .toDF("user_id", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val sessions = Streams.sessionizeBatch(events, gapMinutes = 30)
      .orderBy("user_id", "session_start_us").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(sessions.toSeq == Seq((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0)))
  }

  test("streaming sessionization emits closed sessions with batch-equal boundaries") {
    val events = Seq(
      Streams.Event(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7, "c", 1.0),
      Streams.Event(2, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 7, "c", 2.0),
      Streams.Event(3, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 7, "c", 4.0))
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Streams.Event]
    mem.addData(events: _*)
    val q = Streams.sessionizeStream(mem.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    q.processAllAvailable()
    q.stop()
    // the 10:00 session (2 events, sum 3.0) closed when the 12:00 event arrived
    val got = spark.table("sess_out").as[Streams.SessionAgg].collect()
    assert(got.exists(s => s.user_id == 7 && s.n_events == 2 && s.sum_value == 3.0))
  }

  test("streaming dedup within watermark drops duplicate keys, keeps distinct") {
    val mk = (id: Long, t: String, v: Double) =>
      Streams.Event(id, java.sql.Timestamp.valueOf(t), 7, "c", v)
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Streams.Event]
    mem.addData(
      mk(1, "2024-01-01 10:00:00", 1.0),
      mk(1, "2024-01-01 10:05:00", 1.0), // duplicate event_id within watermark
      mk(2, "2024-01-01 10:10:00", 2.0))
    val q = Streams.dedupStream(mem.toDS().toDF(), Seq("event_id"),
        delay = "30 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_out").select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L))
  }

  test("sessionUpdate flushes and clears the buffered session on timeout") {
    import org.apache.spark.sql.streaming.TestGroupState
    val buffered = Streams.SessionState(startUs = 1000L, lastUs = 2000L,
      cnt = 3L, total = 6.125)
    val state = TestGroupState.create[Streams.SessionState](
      optionalState = org.apache.spark.api.java.Optional.of(buffered),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 10000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = true)
    val out = Streams.sessionUpdate(gapMinutes = 30, flushTimeout = true)(
      7L, Iterator.empty, state).toList
    assert(out == List(Streams.SessionAgg(7L, 1000L, 3L, 6.12)))
    assert(state.isRemoved) // no state left, timeout not re-armed
  }

  test("sessionUpdate carries MICROsecond event time like the batch twin") {
    import org.apache.spark.sql.streaming.TestGroupState
    // sub-ms timestamp: getTime truncates to ms; the batch twin's
    // unix_micros keeps the 500µs — both twins must agree boundary-exact
    val ts = new java.sql.Timestamp(1700000000000L)
    ts.setNanos(500000) // .0005s
    val state = TestGroupState.create[Streams.SessionState](
      optionalState = org.apache.spark.api.java.Optional.empty[Streams.SessionState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 10000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    Streams.sessionUpdate(gapMinutes = 30, flushTimeout = false)(
      1L, Iterator(Streams.Event(1L, ts, 1L, "view", 2.0)), state).toList
    assert(state.get.startUs == 1700000000000000L + 500L,
      s"micros lost: ${state.get.startUs}")
  }

  test("sessionUpdate with timeout and fresh events keeps buffering, no flush") {
    import org.apache.spark.sql.streaming.TestGroupState
    val state = TestGroupState.create[Streams.SessionState](
      optionalState = org.apache.spark.api.java.Optional.of(
        Streams.SessionState(0L, 0L, 1L, 1.0)),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 10000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val ev = Streams.Event(1, new java.sql.Timestamp(1000L), 7, "c", 2.0)
    val out = Streams.sessionUpdate(gapMinutes = 30, flushTimeout = true)(
      7L, Iterator(ev), state).toList
    assert(out.isEmpty) // gap not exceeded: session extends, nothing emitted
    assert(state.exists && state.get.cnt == 2L)
  }

  test("streaming ANN serving: micro-batch index probes union to the batch result") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val emb = graft.sources.Lake.embeddings(spark, sf0001)
      .select("vec_id", "embedding")
    val base = Files.createTempDirectory("knn_serve").toString
    graft.knn.IvfIndex.build(emb, "vec_id", "embedding", s"$base/index",
      nList = 8)
    // 3 part files + maxFilesPerTrigger=1 → 3 genuine micro-batches
    emb.repartition(3).write.parquet(s"$base/queries")
    val qSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val streamed = Streams.knnEnrichOnce(spark, s"$base/queries", qSchema,
      s"$base/index", s"$base/out", "vec_id", "embedding",
      k = 5, nProbe = 8)
    val batch = graft.knn.IvfIndex.search(spark, s"$base/index", emb,
      "vec_id", "embedding", k = 5, nProbe = 8)
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(keyed(streamed) == keyed(batch))
    // the sink really accumulated multiple appends (one per micro-batch)
    val parts = new java.io.File(s"$base/out")
      .listFiles().count(_.getName.startsWith("part-"))
    assert(parts >= 3, s"expected >=3 sink part files, got $parts")
    // a RE-RUN owns the sink dir: same single result set, not a second
    // appended copy (the fresh checkpoint replays every source file);
    // `streamed` itself is stale after the rerun rewrote outDir — compare
    // against the batch result
    val rerun = Streams.knnEnrichOnce(spark, s"$base/queries", qSchema,
      s"$base/index", s"$base/out", "vec_id", "embedding",
      k = 5, nProbe = 8)
    assert(keyed(rerun) == keyed(batch))
    // an empty source directory yields an empty, correctly-shaped frame
    val emptyDir = Files.createTempDirectory("knn_serve_empty").toString
    val none = Streams.knnEnrichOnce(spark, emptyDir, qSchema,
      s"$base/index", s"$base/out_none", "vec_id", "embedding", k = 5)
    assert(none.isEmpty &&
      none.columns.toSeq == Seq("query_id", "neighbor_id", "dist", "rank"))
  }

  test("one-shot dedup ingest heals a crashed build BEFORE signing: the " +
    "batch lands under the NEW params") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val docs = graft.sources.Lake.table(spark, sf0001, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .limit(60).localCheckpoint()
    val base = Files.createTempDirectory("dedup_heal").toString
    graft.dedup.LshDedupIndex.build(docs, "doc_id", "text", s"$base/index")
    // fabricate a rebuild over a smaller corpus under DIFFERENT banding
    // params that died mid-commit: staged tables + marker
    val corpus2 = docs.limit(30).localCheckpoint()
    val stage = Files.createTempDirectory("dedup_heal_stage").toString
    graft.dedup.LshDedupIndex.build(corpus2, "doc_id", "text", stage,
      shingleSize = 3, bands = 8, rowsPerBand = 2)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("params", "bands", "signatures").foreach { t =>
      require(fs.rename(new org.apache.hadoop.fs.Path(s"$stage/$t"),
        new org.apache.hadoop.fs.Path(s"$base/index/$t.tmp")))
    }
    fs.create(new org.apache.hadoop.fs.Path(s"$base/index/_build_commit"),
      false).close()
    // one fresh batch through the one-shot ingester: recovery must run
    // BEFORE the batch signs, or its band rows land hashed under the OLD
    // params while the locked append swaps the NEW tables live mid-batch
    val batch = docs.limit(20)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .localCheckpoint()
    Streams.stageBatch(batch, s"$base/batches", "batch_a.parquet",
      1700000000000L)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    Streams.dedupIngestOnce(spark, s"$base/batches", schema,
      s"$base/index", s"$base/out", "doc_id", "text").count()
    assert(graft.dedup.LshDedupIndex.open(spark, s"$base/index").meta ==
      graft.dedup.LshDedupIndex.Params(3, 8, 2),
      "crashed build not rolled forward before the batch")
    // end state ≡ one-shot build over (new corpus ∪ batch) at new params
    val dirAll = Files.createTempDirectory("dedup_heal_all").toString
    graft.dedup.LshDedupIndex.build(corpus2.unionByName(batch),
      "doc_id", "text", dirAll, shingleSize = 3, bands = 8, rowsPerBand = 2)
    def sigs(d: String) = spark.read.parquet(s"$d/signatures")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    assert(sigs(s"$base/index") == sigs(dirAll),
      "ingested batch not signed under the recovered params")
  }

  test("streaming dedup ingestion: later batches see earlier appends") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val docs = graft.sources.Lake.table(spark, sf0001, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val n = docs.count()
    val base = Files.createTempDirectory("dedup_ingest").toString
    graft.dedup.LshDedupIndex.build(docs, "doc_id", "text", s"$base/index")
    val t0 = 1700000000000L
    Streams.stageBatch(
      docs.select((col("doc_id") + 1000000).as("doc_id"), col("text")),
      s"$base/batches", "batch_a.parquet", t0)
    Streams.stageBatch(
      docs.select((col("doc_id") + 2000000).as("doc_id"), col("text")),
      s"$base/batches", "batch_b.parquet", t0 + 60000)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val out = Streams.dedupIngestOnce(spark, s"$base/batches", schema,
      s"$base/index", s"$base/out", "doc_id", "text")
    val exactPairs = out
      .filter(col("new_id") === col("indexed_id") + 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // batch A vs originals AND batch B vs batch A — the latter half only
    // exists because A's append was visible to B's probe
    assert(exactPairs.length == 2 * n,
      s"expected ${2 * n} exact-copy pairs, got ${exactPairs.length}")
    assert(exactPairs.count(_._2 >= 1000000) == n,
      "no cross-batch pairs: batch A's append was invisible to batch B")
    assert(exactPairs.forall(_._3 == 1.0))
    // end state ≡ one-shot build over all three corpora
    val dirAll = Files.createTempDirectory("dedup_ingest_all").toString
    graft.dedup.LshDedupIndex.build(
      docs.unionByName(
        docs.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        .unionByName(
          docs.select((col("doc_id") + 2000000).as("doc_id"), col("text"))),
      "doc_id", "text", dirAll)
    def sigs(d: String) = spark.read.parquet(s"$d/signatures")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    assert(sigs(s"$base/index") == sigs(dirAll))
  }

  test("streaming lexical ingestion: per-batch search sees prior state only") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val docs = graft.sources.Lake.table(spark, sf0001, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val base = Files.createTempDirectory("lex_ingest").toString
    graft.text.Bm25Index.build(docs, "doc_id", "text", s"$base/index")
    val t0 = 1700000000000L
    val batchA = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val batchB = docs.filter(col("doc_id") >= 10 && col("doc_id") < 20)
      .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
    Streams.stageBatch(batchA, s"$base/batches", "batch_a.parquet", t0)
    Streams.stageBatch(batchB, s"$base/batches", "batch_b.parquet", t0 + 60000)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val out = Streams.lexIngestOnce(spark, s"$base/batches", schema,
        s"$base/index", s"$base/out", "doc_id", "text", topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    // replay: batch A scored against the seed corpus; batch B against
    // the seed PLUS batch A (exactly what the index held at each search)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val wantA = rows(graft.text.Bm25.scoreTopK(docs, "doc_id", "text",
      batchA.withColumnRenamed("doc_id", "qid"), "qid", "text", topK = 3))
    val wantB = rows(graft.text.Bm25.scoreTopK(docs.unionByName(batchA),
      "doc_id", "text",
      batchB.withColumnRenamed("doc_id", "qid"), "qid", "text", topK = 3))
    assert(out == (wantA ++ wantB))
    // batch A's docs ARE findable by batch B (cross-batch visibility)
    assert(out.exists { case (q, id, _, _) => q >= 2000000 && id >= 1000000 }
      || wantB.forall { case (_, id, _, _) => id < 1000000 })
    // end state ≡ one-shot build over all three corpora
    val dirAll = Files.createTempDirectory("lex_ingest_all").toString
    graft.text.Bm25Index.build(
      docs.unionByName(batchA).unionByName(batchB), "doc_id", "text", dirAll)
    def dls(d: String) = spark.read.parquet(s"$d/doclens")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dls(s"$base/index") == dls(dirAll))
  }

  test("watermarked lexical ingestion: late rows dropped to the audit " +
    "channel, end state equals one-shot build over base + admitted") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val docs = graft.sources.Lake.table(spark, sf0001, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val base = Files.createTempDirectory("lexwm_ingest").toString
    graft.text.Bm25Index.build(docs, "doc_id", "text", s"$base/index")
    val t0 = 1700000000000L
    // batch A: on-time (ts = id*100) → watermark lands at 1900 - 100
    val batchA = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000000).as("doc_id"),
        (col("doc_id") * 100).as("ts"), col("text"))
    // batch B arrives AFTER A but every doc_id % 3 == 0 row carries an
    // ancient event time → dropped; the rest are on-time
    val batchB = docs.filter(col("doc_id") >= 20 && col("doc_id") < 40)
      .select((col("doc_id") + 2000000).as("doc_id"),
        when(col("doc_id") % 3 === 0, col("doc_id"))
          .otherwise(col("doc_id") * 100).as("ts"), col("text"))
    Streams.stageBatch(batchA, s"$base/batches", "batch_a.parquet", t0)
    Streams.stageBatch(batchB, s"$base/batches", "batch_b.parquet", t0 + 60000)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", LongType), StructField("text", StringType)))
    Streams.lexIngestWatermarked(spark, s"$base/batches", schema,
      s"$base/index", s"$base/out", "doc_id", "text", "ts",
      lateness = 100L, topK = 3)

    // the late audit channel holds EXACTLY batch B's ancient rows
    val late = spark.read.parquet(s"$base/out/late")
      .collect().map(_.getLong(0)).toSet
    val wantLate = docs.filter(col("doc_id") >= 20 && col("doc_id") < 40 &&
        col("doc_id") % 3 === 0)
      .select((col("doc_id") + 2000000).as("id"))
      .collect().map(_.getLong(0)).toSet
    assert(late == wantLate && late.nonEmpty)

    // end state ≡ one-shot build over base ∪ A ∪ admitted(B)
    val admittedB = docs.filter(col("doc_id") >= 20 && col("doc_id") < 40 &&
        col("doc_id") % 3 =!= 0)
      .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
    val dirAll = Files.createTempDirectory("lexwm_all").toString
    graft.text.Bm25Index.build(
      docs.unionByName(batchA.drop("ts")).unionByName(admittedB),
      "doc_id", "text", dirAll)
    def dls(d: String) = spark.read.parquet(s"$d/doclens")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dls(s"$base/index") == dls(dirAll))

    // whole-call replay (fresh checkpoint, same batches): nothing new is
    // committed, and the late audit is re-derived identically — the
    // persisted watermark re-drops late rows, the anti-join keeps
    // committed rows out of both channels
    val out2 = Streams.lexIngestWatermarked(spark, s"$base/batches", schema,
      s"$base/index", s"$base/out", "doc_id", "text", "ts",
      lateness = 100L, topK = 3)
    assert(out2.isEmpty)
    assert(dls(s"$base/index") == dls(dirAll))
    val late2 = spark.read.parquet(s"$base/out/late")
      .collect().map(_.getLong(0))
    // set-equal AND duplicate-free: the batch-keyed overwrite keeps the
    // audit channel exactly-once per row even across replays
    assert(late2.toSet == wantLate && late2.length == wantLate.size)
  }

  test("watermarked dedup ingestion: same gate contract on the LSH path " +
    "(late audit, one-shot-build end state, replay determinism)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val docs = graft.sources.Lake.table(spark, sf0001, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val base = Files.createTempDirectory("dedupwm_ingest").toString
    graft.dedup.LshDedupIndex.build(docs, "doc_id", "text", s"$base/index")
    val t0 = 1700000000000L
    val batchA = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000000).as("doc_id"),
        (col("doc_id") * 100).as("ts"), col("text"))
    val batchB = docs.filter(col("doc_id") >= 20 && col("doc_id") < 40)
      .select((col("doc_id") + 2000000).as("doc_id"),
        when(col("doc_id") % 3 === 0, col("doc_id"))
          .otherwise(col("doc_id") * 100).as("ts"), col("text"))
    Streams.stageBatch(batchA, s"$base/batches", "batch_a.parquet", t0)
    Streams.stageBatch(batchB, s"$base/batches", "batch_b.parquet", t0 + 60000)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", LongType), StructField("text", StringType)))
    val cands = Streams.dedupIngestWatermarked(spark, s"$base/batches", schema,
      s"$base/index", s"$base/out", "doc_id", "text", "ts", lateness = 100L)
    // every batch doc is a near-dup of its source doc — candidates flow
    assert(cands.count() > 0)

    val late = spark.read.parquet(s"$base/out/late")
      .collect().map(_.getLong(0)).toSet
    val wantLate = docs.filter(col("doc_id") >= 20 && col("doc_id") < 40 &&
        col("doc_id") % 3 === 0)
      .select((col("doc_id") + 2000000).as("id"))
      .collect().map(_.getLong(0)).toSet
    assert(late == wantLate && late.nonEmpty)

    // end state ≡ one-shot build over base ∪ A ∪ admitted(B)
    val admittedB = docs.filter(col("doc_id") >= 20 && col("doc_id") < 40 &&
        col("doc_id") % 3 =!= 0)
      .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
    val dirAll = Files.createTempDirectory("dedupwm_all").toString
    graft.dedup.LshDedupIndex.build(
      docs.unionByName(batchA.drop("ts")).unionByName(admittedB),
      "doc_id", "text", dirAll)
    def sigIds(d: String) = spark.read.parquet(s"$d/signatures")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(sigIds(s"$base/index") == sigIds(dirAll))

    // whole-call replay: nothing admitted, late audit re-derived identically
    val cands2 = Streams.dedupIngestWatermarked(spark, s"$base/batches",
      schema, s"$base/index", s"$base/out", "doc_id", "text", "ts",
      lateness = 100L)
    assert(cands2.isEmpty)
    assert(sigIds(s"$base/index") == sigIds(dirAll))
    val late2 = spark.read.parquet(s"$base/out/late")
      .collect().map(_.getLong(0))
    assert(late2.toSet == wantLate && late2.length == wantLate.size)
  }

  test("lateness gate: NULL event times are audited to late/, never admitted, " +
    "never silently dropped; an all-null batch advances nothing") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val docs = graft.sources.Lake.table(spark, sf0001, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("doc_id") < 30)
    val base = Files.createTempDirectory("nullts_ingest").toString
    graft.text.Bm25Index.build(docs, "doc_id", "text", s"$base/index")
    val t0 = 1700000000000L
    // one batch, doc_id % 4 == 0 rows carry NULL event time
    val batch = docs
      .select((col("doc_id") + 1000000).as("doc_id"),
        when(col("doc_id") % 4 === 0, lit(null).cast(LongType))
          .otherwise(col("doc_id") * 100).as("ts"), col("text"))
    Streams.stageBatch(batch, s"$base/batches", "batch_a.parquet", t0)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", LongType), StructField("text", StringType)))
    Streams.lexIngestWatermarked(spark, s"$base/batches", schema,
      s"$base/index", s"$base/out", "doc_id", "text", "ts",
      lateness = 100L, topK = 3)
    val lateRows = spark.read.parquet(s"$base/out/late").collect()
    val wantNull = docs.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 1000000).as("id"))
      .collect().map(_.getLong(0)).toSet
    assert(lateRows.map(_.getLong(0)).toSet == wantNull)
    assert(lateRows.forall(_.isNullAt(1)), "late null-ts rows must keep NULL ts")
    // admitted = exactly the non-null rows; nulls are NOT in the index
    val committed = spark.read.parquet(s"$base/index/doclens")
      .select("id").collect().map(_.getLong(0)).toSet
    val wantAdmitted = docs.filter(col("doc_id") % 4 =!= 0)
      .select((col("doc_id") + 1000000).as("id"))
      .collect().map(_.getLong(0)).toSet
    assert(committed.filter(_ >= 1000000) == wantAdmitted)

    // an ALL-null-ts batch must not throw on the max() and not advance
    // the watermark
    val wmBefore = graft.streaming.IngestWatermark.read(spark, s"$base/index")
    val nullBatch = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 2000000).as("doc_id"),
        lit(null).cast(LongType).as("ts"), col("text"))
    Streams.stageBatch(nullBatch, s"$base/batches2", "batch_n.parquet", t0)
    Streams.lexIngestWatermarked(spark, s"$base/batches2", schema,
      s"$base/index", s"$base/out2", "doc_id", "text", "ts",
      lateness = 100L, topK = 3)
    assert(graft.streaming.IngestWatermark.read(spark, s"$base/index") == wmBefore)
  }

  private val familyCases = Seq(
    IngestCase("lex", "documents", "doc_id", "text",
      IngestFamily.lex("doc_id", "text", 3),
      (df, dir) => graft.text.Bm25Index.build(df, "doc_id", "text", dir)),
    IngestCase("dedup", "documents", "doc_id", "text",
      IngestFamily.dedup("doc_id", "text"),
      (df, dir) => graft.dedup.LshDedupIndex.build(df, "doc_id", "text", dir)),
    IngestCase("ann", "embeddings", "vec_id", "embedding",
      IngestFamily.ann("vec_id", "embedding", 3, 4),
      (df, dir) => graft.knn.IvfIndex.build(df, "vec_id", "embedding", dir,
        nList = 4)),
    IngestCase("hnsw", "embeddings", "vec_id", "embedding",
      IngestFamily.hnsw("vec_id", "embedding", 3, 64),
      (df, dir) => graft.knn.HnswIndex.build(df, "vec_id", "embedding", dir,
        shards = 2)))

  /** The family with an append that dies after the channel write. */
  private def crashBeforeAppend[S](f: IngestFamily[S]): IngestFamily[S] =
    f.copy(writer = f.writer.copy(write = (_, _, _, _) =>
      throw new RuntimeException("crash before append")))

  familyCases.foreach { c =>
    test(s"ingest driver [${c.name}]: crash replay, full-commit replay, " +
      "dup-in-batch") {
      val base = Files.createTempDirectory(s"ingest_${c.name}").toString
      val (idx, out) = (s"$base/index", s"$base/out")
      val rows = Lake.table(spark, sf0001, c.table)
        .select(col(c.idCol).cast("long").as(c.idCol), col(c.payload))
        .filter(col(c.idCol) < 40).localCheckpoint()
      c.build(rows, idx)
      def arrivals(from: Int, offset: Long) =
        rows.filter(col(c.idCol) >= from && col(c.idCol) < from + 10)
          .select((col(c.idCol) + offset).as(c.idCol),
            (col(c.idCol) * 100).as("ts"), col(c.payload))
      val batch = arrivals(0, 1000000L)
      val gate = Some(Streams.LatenessGate("ts", 100L))
      def run(fam: IngestFamily[_], batchId: Long,
          b: org.apache.spark.sql.DataFrame): Unit =
        Streams.ingestBatch(spark, fam, idx, out, batchId, b, c.idCol, gate)
      val channel = s"$out/${c.family.channel}"
      def newIds() = c.family.writer.committed(spark, idx).select("id").collect()
        .map(_.getLong(0)).filter(_ >= 1000000).sorted.toSeq
      def exists(p: String) = new java.io.File(p).exists()

      // ATTEMPT 1 — crash between the channel write and the index append:
      // the channel holds rows for a batch the index never committed
      val boom = intercept[RuntimeException] {
        run(crashBeforeAppend(c.family), 0L, batch)
      }
      assert(boom.getMessage == "crash before append")
      val firstAttempt = spark.read.parquet(s"$channel/batch=0").count()
      assert(firstAttempt > 0, "channel write must have landed before the crash")
      assert(newIds().isEmpty, "append must NOT have landed")

      // REPLAY — the rows are still fresh, so the probe re-runs and the
      // batch-keyed Overwrite REPLACES the channel rows; an append-mode
      // channel would now hold every row twice
      run(c.family, 0L, batch)
      val afterReplay = spark.read.parquet(channel).drop("batch")
      assert(afterReplay.count() == firstAttempt,
        "replay must overwrite, not duplicate, the channel")
      assert(afterReplay.count() == afterReplay.distinct().count())
      assert(newIds() == (1000000L until 1000010L))

      // REPLAY AFTER FULL COMMIT — crash after the append, before the
      // stream checkpoint: freshness empties the admitted set, so neither
      // the channel nor the index moves
      run(c.family, 0L, batch)
      assert(spark.read.parquet(channel).count() == firstAttempt)
      assert(newIds() == (1000000L until 1000010L))

      // DUP IN BATCH — an on-time batch that carries one fresh id twice is
      // refused by name before any channel, audit, index or watermark
      // write, with the lateness gate and without it (the Once path)
      val wm = graft.streaming.IngestWatermark.read(spark, idx)
      val next = arrivals(10, 2000000L)
      val dup = next.unionByName(next.filter(col(c.idCol) === 2000013L))
      for ((outDir, g) <- Seq((out, gate), (s"$base/once", None))) {
        val e = intercept[IllegalArgumentException] {
          Streams.ingestBatch(spark, c.family, idx, outDir, 1L, dup, c.idCol, g)
        }
        assert(e.getMessage.contains("batch 1") &&
          e.getMessage.contains("2000013"), e.getMessage)
      }
      assert(!exists(s"$channel/batch=1") && !exists(s"$out/late") &&
        !exists(s"$base/once"), "a refused batch must write nothing")
      assert(newIds() == (1000000L until 1000010L))
      assert(graft.streaming.IngestWatermark.read(spark, idx) == wm)
    }
  }

  test("late audit channel is self-contained: lateRows returns the full " +
    "payload, and re-ingesting it through the non-gated path commits " +
    "every late doc exactly once") {
    import org.apache.spark.sql.types._
    val docs = graft.sources.Lake.table(spark, sf0001, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("doc_id") < 30)
    val base = Files.createTempDirectory("latereingest").toString
    graft.text.Bm25Index.build(docs, "doc_id", "text", s"$base/index")
    val t0 = 1700000000000L
    // batch A advances the watermark; batch B's %3 rows arrive ancient
    Streams.stageBatch(
      docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000).as("doc_id"),
          (col("doc_id") * 100).as("ts"), col("text")),
      s"$base/batches", "batch_a.parquet", t0)
    Streams.stageBatch(
      docs.filter(col("doc_id") >= 10 && col("doc_id") < 30)
        .select((col("doc_id") + 2000000).as("doc_id"),
          when(col("doc_id") % 3 === 0, col("doc_id"))
            .otherwise(col("doc_id") * 100).as("ts"), col("text")),
      s"$base/batches", "batch_b.parquet", t0 + 60000)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", LongType), StructField("text", StringType)))
    Streams.lexIngestWatermarked(spark, s"$base/batches", schema,
      s"$base/index", s"$base/out", "doc_id", "text", "ts",
      lateness = 100L, topK = 3)

    // an outDir that never saw a late write answers None, not a crash
    assert(Streams.lateRows(spark, s"$base/never_out").isEmpty)

    // the audit rows carry the WHOLE original payload (text included)
    val late = Streams.lateRows(spark, s"$base/out").get
    assert(late.columns.toSet == Set("doc_id", "ts", "text"))
    val lateIds = late.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lateIds.nonEmpty && lateIds.forall(_ >= 2000000))
    assert(late.filter(col("text").isNull).isEmpty,
      "payload must survive the audit round-trip")

    // close the loop: stage the audit rows as a batch and run the
    // NON-gated ingest (its freshness anti-join still dedups; no
    // lateness gate to re-drop them)
    Streams.stageBatch(late.drop("ts"), s"$base/rebatches",
      "late_redo.parquet", t0 + 120000)
    Streams.lexIngestOnce(spark, s"$base/rebatches",
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))),
      s"$base/index", s"$base/out2", "doc_id", "text", topK = 3)
    val committed = spark.read.parquet(s"$base/index/doclens")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(lateIds.subsetOf(committed),
      "every late doc must be committed after re-ingest")
    // exactly once: no duplicate doclens rows for the re-ingested ids
    val dl = spark.read.parquet(s"$base/index/doclens")
      .groupBy("id").count().filter(col("count") > 1)
    assert(dl.isEmpty)
  }

  test("lexReingestLate ≡ staged re-ingest: identical end state, " +
    "replay-safe, empty audit channel is a no-op") {
    import org.apache.spark.sql.types._
    val docs = graft.sources.Lake.table(spark, sf0001, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("doc_id") < 30)
    val base = Files.createTempDirectory("latereingest_fused").toString
    graft.text.Bm25Index.build(docs, "doc_id", "text", s"$base/index")
    val t0 = 1700000000000L
    Streams.stageBatch(
      docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000).as("doc_id"),
          (col("doc_id") * 100).as("ts"), col("text")),
      s"$base/batches", "batch_a.parquet", t0)
    Streams.stageBatch(
      docs.filter(col("doc_id") >= 10 && col("doc_id") < 30)
        .select((col("doc_id") + 2000000).as("doc_id"),
          when(col("doc_id") % 3 === 0, col("doc_id"))
            .otherwise(col("doc_id") * 100).as("ts"), col("text")),
      s"$base/batches", "batch_b.parquet", t0 + 60000)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", LongType), StructField("text", StringType)))
    Streams.lexIngestWatermarked(spark, s"$base/batches", schema,
      s"$base/index", s"$base/out", "doc_id", "text", "ts",
      lateness = 100L, topK = 3)
    // two identical post-gate indexes: one per re-ingest route
    locally {
      import scala.sys.process._
      Seq("cp", "-r", s"$base/index", s"$base/index_b").!!; ()
    }
    // route 1: staged file + non-gated streaming session
    val late = Streams.lateRows(spark, s"$base/out").get
    Streams.stageBatch(late.select("doc_id", "ts", "text"),
      s"$base/rebatches", "late_redo.parquet", t0 + 120000)
    Streams.lexIngestOnce(spark, s"$base/rebatches", schema,
      s"$base/index", s"$base/out2", "doc_id", "text", topK = 3)
    // route 2: the fused one-call surface
    val fusedSearch = Streams.lexReingestLate(spark, s"$base/out",
      s"$base/index_b", s"$base/out2b", "doc_id", "text", topK = 3)
    assert(fusedSearch.count() > 0) // late docs really were probed
    def doclens(dir: String) = spark.read.parquet(s"$dir/doclens")
      .select("id", "dl").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(doclens(s"$base/index") == doclens(s"$base/index_b"))
    // replay safety: a second fused call emits nothing and changes nothing
    val before = doclens(s"$base/index_b")
    val replay = Streams.lexReingestLate(spark, s"$base/out",
      s"$base/index_b", s"$base/out2b", "doc_id", "text", topK = 3)
    assert(replay.isEmpty && doclens(s"$base/index_b") == before)
    // an audit channel that never saw a late write is a clean no-op
    val none = Streams.lexReingestLate(spark, s"$base/never_out",
      s"$base/index_b", s"$base/out2c", "doc_id", "text", topK = 3)
    assert(none.isEmpty &&
      none.schema == graft.text.Bm25Index.searchSchema)
  }

  test("annReingestLate / hnswReingestLate: end state = base ∪ every " +
    "staged row, replay-safe, empty audit channel is a no-op") {
    import org.apache.spark.sql.types._
    val emb = graft.sources.Lake.embeddings(spark, sf0001)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id") < 40)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("ts", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val t0 = 1700000000000L

    def stage(base: String): Unit = {
      Streams.stageBatch(
        emb.filter(col("vec_id") < 10)
          .select((col("vec_id") + 1000000).as("vec_id"),
            (col("vec_id") * 100).as("ts"), col("embedding")),
        s"$base/batches", "batch_a.parquet", t0)
      Streams.stageBatch(
        emb.filter(col("vec_id") >= 10 && col("vec_id") < 40)
          .select((col("vec_id") + 2000000).as("vec_id"),
            when(col("vec_id") % 3 === 0, col("vec_id"))
              .otherwise(col("vec_id") * 100).as("ts"), col("embedding")),
        s"$base/batches", "batch_b.parquet", t0 + 60000)
    }
    // every staged id, no lateness carve-outs — the re-ingest loop
    // brings the ancient-ts rows back
    val wantIds = (emb.select(col("vec_id")).collect().map(_.getLong(0)) ++
      (0L until 10L).map(_ + 1000000) ++
      (10L until 40L).map(_ + 2000000)).toSet

    locally { // IVF family
      val base = Files.createTempDirectory("annreingest").toString
      graft.knn.IvfIndex.build(emb, "vec_id", "embedding",
        s"$base/index", nList = 4)
      stage(base)
      Streams.annIngestWatermarked(spark, s"$base/batches", schema,
        s"$base/index", s"$base/out", "vec_id", "embedding", "ts",
        lateness = 100L, k = 3, nProbe = 4)
      val re = Streams.annReingestLate(spark, s"$base/out",
        s"$base/index", s"$base/out2", "vec_id", "embedding",
        k = 3, nProbe = 4)
      assert(re.count() > 0) // late vectors really were probed
      def ids() = graft.knn.IvfIndex.readIds(spark, s"$base/index")
        .collect().map(_.getLong(0)).toSet
      assert(ids() == wantIds)
      // replay safety: a second call emits nothing and changes nothing
      val replay = Streams.annReingestLate(spark, s"$base/out",
        s"$base/index", s"$base/out2", "vec_id", "embedding",
        k = 3, nProbe = 4)
      assert(replay.isEmpty && ids() == wantIds)
      val none = Streams.annReingestLate(spark, s"$base/never",
        s"$base/index", s"$base/out3", "vec_id", "embedding")
      assert(none.isEmpty && none.schema == graft.knn.IvfIndex.searchSchema)
    }

    locally { // HNSW family
      val base = Files.createTempDirectory("hnswreingest").toString
      graft.knn.HnswIndex.build(emb, "vec_id", "embedding",
        s"$base/index", shards = 2)
      stage(base)
      Streams.hnswIngestWatermarked(spark, s"$base/batches", schema,
        s"$base/index", s"$base/out", "vec_id", "embedding", "ts",
        lateness = 100L, k = 3)
      val re = Streams.hnswReingestLate(spark, s"$base/out",
        s"$base/index", s"$base/out2", "vec_id", "embedding", k = 3)
      assert(re.count() > 0)
      def ids() = graft.knn.HnswIndex.readIds(spark, s"$base/index")
        .collect().map(_.getLong(0)).toSet
      assert(ids() == wantIds)
      val replay = Streams.hnswReingestLate(spark, s"$base/out",
        s"$base/index", s"$base/out2", "vec_id", "embedding", k = 3)
      assert(replay.isEmpty && ids() == wantIds)
      val none = Streams.hnswReingestLate(spark, s"$base/never",
        s"$base/index", s"$base/out3", "vec_id", "embedding")
      assert(none.isEmpty && none.schema == graft.knn.IvfIndex.searchSchema)
    }
  }

  test("IngestWatermark: versioned FS JSON — crash-safe, monotone, " +
    "cleared by index build") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("wm_store").toString
    val wm = graft.streaming.IngestWatermark
    assert(wm.read(spark, dir) == Long.MinValue)
    wm.write(spark, dir, 100L)
    assert(wm.read(spark, dir) == 100L)
    wm.write(spark, dir, 250L)
    assert(wm.read(spark, dir) == 250L)
    // a torn newest version (crashed write) falls back to the previous one
    val ingest = new org.apache.hadoop.fs.Path(s"$dir/_ingest")
    val fs = ingest.getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(ingest).map(_.getPath.getName).sorted
    val maxSeq = names.filter(_.startsWith("wm-")).last
      .stripPrefix("wm-").stripSuffix(".json").toLong
    val torn = new org.apache.hadoop.fs.Path(ingest,
      f"wm-${maxSeq + 1}%08d.json")
    val out = fs.create(torn, true)
    out.write("{\"wm\":".getBytes); out.close()
    assert(wm.read(spark, dir) == 250L)
    // a crashed write's tmp leftover is swept by the next write, and
    // pruning keeps exactly one committed version
    val strayTmp = new org.apache.hadoop.fs.Path(ingest, ".wm-99999999.json.tmp")
    fs.create(strayTmp, true).close()
    wm.write(spark, dir, 300L)
    assert(wm.read(spark, dir) == 300L)
    val left = fs.listStatus(ingest).map(_.getPath.getName)
    assert(left.count(_.endsWith(".json")) == 1, s"versions not pruned: ${left.toSeq}")
    assert(!left.exists(_.endsWith(".tmp")), s"tmp not swept: ${left.toSeq}")
    // Bm25Index.build clears the whole _ingest dir (fresh corpus, fresh gate)
    val docs = graft.sources.Lake.table(spark, sf0001, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("doc_id") < 10)
    graft.text.Bm25Index.build(docs, "doc_id", "text", dir)
    assert(wm.read(spark, dir) == Long.MinValue)
  }

  test("IngestWatermark: persistent corruption fails loudly — never a " +
    "silent reset to -infinity") {
    // a non-empty listing whose files ALL fail to parse after every
    // retry is not a prune race (that resolves on re-list) — it is
    // persistent corruption, and falling through to Long.MinValue
    // would re-admit rows the gate already classified as late
    val dir = Files.createTempDirectory("wm_corrupt").toString
    val ingest = new org.apache.hadoop.fs.Path(s"$dir/_ingest")
    val fs = ingest.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(ingest)
    // EXACTLY ONE torn version is the documented crash shape (the
    // first-ever write died mid-publish; the committed pre-crash state
    // was MinValue) — falls through, never throws
    val torn1 = new org.apache.hadoop.fs.Path(ingest, "wm-00000001.json")
    val o1 = fs.create(torn1, true); o1.write("{\"wm\":".getBytes); o1.close()
    assert(graft.streaming.IngestWatermark.read(spark, dir) == Long.MinValue)
    // TWO unparseable versions cannot be a crash artifact (only the
    // newest write can tear — the one before it was a completed
    // publish): persistent corruption, named error
    val o2 = fs.create(
      new org.apache.hadoop.fs.Path(ingest, "wm-00000002.json"), true)
    o2.write("{\"wm\":".getBytes); o2.close()
    val err = intercept[IllegalStateException] {
      graft.streaming.IngestWatermark.read(spark, dir)
    }
    assert(err.getMessage.contains("persistent corruption"))
    // restoring ONE parseable version recovers the read
    val ok3 = new org.apache.hadoop.fs.Path(ingest, "wm-00000003.json")
    val out = fs.create(ok3, true)
    out.write("{\"wm\":42}".getBytes); out.close()
    assert(graft.streaming.IngestWatermark.read(spark, dir) == 42L)
    // a GONE version (vanished between list and open — simulated by a
    // directory wearing a wm name, whose open throws) is a lost race,
    // not corruption evidence: it neither blocks a healthy read …
    fs.mkdirs(new org.apache.hadoop.fs.Path(ingest, "wm-00000004.json"))
    assert(graft.streaming.IngestWatermark.read(spark, dir) == 42L)
    // … nor MASKS real corruption: with the parseable version removed,
    // the listing is 2 torn + 1 gone — the torn count alone decides
    // (an all-listed-must-be-torn rule would fall through to the
    // silent Long.MinValue reset here)
    fs.delete(ok3, false)
    val err2 = intercept[IllegalStateException] {
      graft.streaming.IngestWatermark.read(spark, dir)
    }
    assert(err2.getMessage.contains("persistent corruption"))
  }

  test("stageBatch on a store without setTimes: one batch per dir is " +
    "fine, a second fails, explicit override accepted") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.setClass("fs.noset.impl",
      classOf[NoSetTimesFs], classOf[org.apache.hadoop.fs.FileSystem])
    val base = Files.createTempDirectory("stage_noset").toString
    val dir = s"noset:$base/batches"
    val df = Seq((1L, "a")).toDF("id", "text")
    // ordering ONE staged batch is vacuous — must stay functional on
    // stores that ignore setTimes (object stores keep upload mtimes)
    Streams.stageBatch(df, dir, "batch_a.parquet", 1000L)
    // the SECOND batch is where replay order becomes real — fail loudly,
    // and BEFORE staging: the guard probes setTimes support on the tmp
    // part, so the directory is untouched (a post-rename undo would
    // destroy the prior version of a re-staged same-name batch)
    val err = intercept[IllegalArgumentException] {
      Streams.stageBatch(df, dir, "batch_b.parquet", 2000L)
    }
    assert(err.getMessage.contains("setTimes"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def committed() = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filterNot(_.startsWith(".")).sorted.toSeq
    assert(committed() == Seq("batch_a.parquet"))
    // explicit override: caller accepts path-order replay
    Streams.stageBatch(df, dir, "batch_b.parquet", 2000L,
      requireMtimeOrder = false)
    assert(committed() == Seq("batch_a.parquet", "batch_b.parquet"))
    // re-staging an EXISTING name without the override refuses with the
    // old version left fully intact (readable, same rows) — the
    // refusal really did happen pre-rename
    val before = spark.read.parquet(s"$dir/batch_b.parquet").collect().toSeq
    intercept[IllegalArgumentException] {
      Streams.stageBatch(df.withColumn("text", lit("changed")),
        dir, "batch_b.parquet", 3000L)
    }
    assert(committed() == Seq("batch_a.parquet", "batch_b.parquet"))
    assert(spark.read.parquet(s"$dir/batch_b.parquet").collect().toSeq
      == before)
  }

  test("IngestWatermark: legacy one-row-parquet store is read as the seed " +
    "on upgrade, superseded by the first JSON write") {
    import spark.implicits._
    val dir = Files.createTempDirectory("wm_legacy").toString
    val wm = graft.streaming.IngestWatermark
    // an index written before the versioned-JSON store: watermark lives
    // as a one-row parquet table at <indexDir>/ingest_watermark
    Seq(1234L).toDF("wm").write.parquet(s"$dir/ingest_watermark")
    // upgraded-in-place read must see the legacy value, not MinValue
    // (a silent reset would re-admit rows already classified as late)
    assert(wm.read(spark, dir) == 1234L)
    // the first advance publishes a JSON version AND retires the legacy
    // table — a surviving legacy table would be resurrected as a STALE
    // seed if a later build wiped _ingest/ without it
    wm.write(spark, dir, 2000L)
    assert(wm.read(spark, dir) == 2000L)
    assert(!new java.io.File(s"$dir/ingest_watermark").exists())
    // an unreadable legacy table degrades to MinValue, not a crash
    val dir2 = Files.createTempDirectory("wm_legacy2").toString
    new java.io.File(s"$dir2/ingest_watermark").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir2/ingest_watermark/part-0.parquet"),
      "not parquet")
    assert(wm.read(spark, dir2) == Long.MinValue)
  }

  test("IngestWatermark: rebuild clears the legacy store too — no stale " +
    "pre-rebuild watermark resurrected through the migration fallback") {
    import spark.implicits._
    val dir = Files.createTempDirectory("wm_legacy_rebuild").toString
    val wm = graft.streaming.IngestWatermark
    // upgraded-in-place index that was REBUILT before any JSON advance:
    // the legacy table still holds the dead pre-rebuild watermark
    Seq(999999L).toDF("wm").write.parquet(s"$dir/ingest_watermark")
    graft.util.IngestState.clear(spark, dir)
    // a rebuilt index must start from MinValue — seeding from the dead
    // legacy value would classify the entire next ingest as late
    assert(wm.read(spark, dir) == Long.MinValue)
    assert(!new java.io.File(s"$dir/ingest_watermark").exists())
  }

  test("MetaMemo: cached while the commit generation holds — one " +
    "metadata read per ingest loop, not per micro-batch — and a changed " +
    "generation (a rebuild/rebalance committed between batches) forces " +
    "a reload instead of serving the pre-swap metadata") {
    var loads = 0
    val memo = new graft.util.MetaMemo[Int](Seq("params"))
    assert(memo.getOrLoad("file:/idx", 10L) { loads += 1; 7 } == 7)
    assert(memo.getOrLoad("file:/idx", 10L) { loads += 1; 99 } == 7)
    assert(loads == 1, "metadata loaded more than once per generation")
    // the swap: a new fingerprint invalidates the slot
    assert(memo.getOrLoad("file:/idx", 11L) { loads += 1; 42 } == 42)
    assert(memo.getOrLoad("file:/idx", 11L) { loads += 1; 99 } == 42)
    assert(loads == 2, "post-swap metadata not reloaded exactly once")
    // another directory at the same generation is another index
    assert(memo.getOrLoad("file:/other", 11L) { loads += 1; 5 } == 5)
    assert(loads == 3, "a second directory was served the first one's metadata")
  }

  test("annIngestBatch after a mid-loop rebalance: the shared memo " +
    "reloads the swapped quantizer, and the appended vector is filed " +
    "under the NEW centroids' assignment — not the pre-swap lists") {
    import spark.implicits._
    val dir = Files.createTempDirectory("memo_swap_idx").toString
    val out = Files.createTempDirectory("memo_swap_out").toString
    // two tight far-apart clusters; nList=2 puts one centroid on each
    val base = ((0 until 30).map(i => (i.toLong, Array.fill(8)(0.01f * i % 0.3f))) ++
      (30 until 60).map(i => (i.toLong, Array.fill(8)(10f + 0.01f * i % 0.3f))))
      .toDF("id", "vec")
    graft.knn.IvfIndex.build(base, "id", "vec", dir, nList = 2)
    val fam = IngestFamily.ann("id", "vec", k = 3, nProbe = 2)
    val gate = Some(Streams.LatenessGate("ts", lateness = 10L))
    def batch(id: Long, fill: Float) =
      Seq((id, Array.fill(8)(fill), 1000L)).toDF("id", "vec", "ts")
    Streams.ingestBatch(spark, fam, dir, out, 0L, batch(100L, 0.1f), "id",
      gate)
    // the mid-loop maintenance op: retrains the quantizer (5 lists)
    graft.knn.IvfIndex.rebalance(spark, dir, nList = 5)
    Streams.ingestBatch(spark, fam, dir, out, 1L, batch(200L, 9.9f), "id",
      gate)
    // the proof: id 200's persisted cid equals the nearest-centroid
    // assignment under the LIVE (post-rebalance) centroids — a stale
    // memo would have filed it under the dead 2-list quantizer
    val live = spark.read.parquet(s"$dir/centroids")
      .select(col("cid"), col("vec").cast("array<float>"))
      .as[(Int, Array[Float])].collect().sortBy(_._1)
    assert(live.length == 5, "rebalance did not commit 5 lists")
    val v = Array.fill(8)(9.9f)
    val want = live.minBy { case (_, c) =>
      c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
    }._1
    val got = spark.read.parquet(s"$dir/assignments")
      .filter(col("id") === 200L).select("cid").collect()
    assert(got.length == 1)
    assert(got.head.getInt(0) == want,
      s"appended row filed under cid ${got.head.getInt(0)}, but the live " +
        s"quantizer assigns $want — the memo served pre-swap centroids")
  }
}

/** Test-only filesystem modeling an object store whose `setTimes` is the
  * Hadoop-default silent no-op (upload mtimes win) — the store class the
  * stageBatch ordering contract has to stay honest on.
  */
class NoSetTimesFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("noset:///")
  override def setTimes(p: org.apache.hadoop.fs.Path,
      mtime: Long, atime: Long): Unit = ()
}

/** One index family under the ingest driver: its source table, id and
  * payload columns, and how to build its base index.
  */
private final case class IngestCase(name: String, table: String,
    idCol: String, payload: String, family: IngestFamily[_],
    build: (org.apache.spark.sql.DataFrame, String) => Unit)
