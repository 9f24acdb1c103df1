package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.dedup.LshDedupIndex
import graft.knn.{HnswIndex, IvfIndex}
import graft.sources.Lake
import graft.text.Bm25Index

/** Crash recovery shared by the four persistent index families: every
  * writer entry runs the family's one `recover`, which heals the debris
  * its commit protocol can leave behind.
  */
class IndexRecoverySpec extends SparkSpec {

  private lazy val docs = Lake.table(spark, sf0001, "documents")
    .select("doc_id", "text").filter(col("doc_id") % 4 === 0).cache()
  private lazy val emb = Lake.embeddings(spark, sf0001)
    .select("vec_id", "embedding").filter(col("vec_id") % 4 === 0).cache()

  private def tempDir(tag: String): String =
    graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory(s"idx_recover_$tag").toString)

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def writeMarker(dir: String, marker: String, op: String): Unit = {
    val out = fsOf(dir).create(new Path(s"$dir/$marker"), false)
    try out.write(op.getBytes("UTF-8")) finally out.close()
  }

  /** The mid-commit state of a table family's build: `rebuilt` (a
    * finished build in another directory) staged as `<t>.tmp` beside the
    * live tables and the marker published, no swap started.
    */
  private def stageBuild(dir: String, rebuilt: String, marker: String,
      tables: Seq[String], op: String): Unit = {
    val fs = fsOf(dir)
    tables.filter(t => fs.exists(new Path(s"$rebuilt/$t"))).foreach { t =>
      require(fs.rename(new Path(s"$rebuilt/$t"), new Path(s"$dir/$t.tmp")))
    }
    writeMarker(dir, marker, op)
  }

  /** One persistent index family under test.
    *
    * @param build builds the family's index over the first corpus
    * @param writerEntry a writer entry, which runs the family's `recover`
    * @param committed the committed id count
    * @param rebuild builds over a second corpus with other parameters
    * @param crashBuild leaves `dir` where a crash after the build
    *   marker's publish leaves [[rebuild]] over it (`scratch` is free
    *   space)
    * @param meta the parameters a probe reads
    * @param answer a deterministic probe
    */
  private case class Family(name: String, marker: String, tables: Seq[String],
      build: String => Unit, writerEntry: String => Unit,
      committed: String => Long, rebuild: String => Unit,
      crashBuild: (String, String) => Unit, meta: String => Any,
      answer: String => Set[_])

  private lazy val lexQueries =
    docs.limit(5).select(col("doc_id").as("qid"), col("text"))
  private lazy val dupProbe =
    docs.limit(30).withColumn("doc_id", col("doc_id") + 2000000)

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[_] =
    df.collect().map(_.toSeq).toSet

  private val families: Seq[Family] = {
    val lexTables = Seq("params", "postings", "doclens")
    val dedupTables = Seq("params", "bands", "signatures")
    val annTables = Seq("centroids", "params", "pq", "assignments")
    def lexRebuild(d: String) =
      Bm25Index.build(docs.limit(30), "doc_id", "text", d, nBuckets = 8)
    def dedupRebuild(d: String) = LshDedupIndex.build(docs.limit(30),
      "doc_id", "text", d, shingleSize = 3, bands = 8, rowsPerBand = 2)
    // PQ-less, over an index with codebooks: the commit drops pq/
    def annRebuild(d: String) = IvfIndex.build(emb.filter(col("vec_id") < 300),
      "vec_id", "embedding", d, nList = 8)
    def hnswRebuild(d: String) = HnswIndex.build(
      emb.filter(col("vec_id") < 300), "vec_id", "embedding", d, shards = 3)
    Seq(
      Family("lex", "_build_commit", lexTables,
        d => Bm25Index.build(docs, "doc_id", "text", d, nBuckets = 4),
        d => Bm25Index.vacuum(spark, d),
        d => Bm25Index.readDoclens(spark, d).count(),
        lexRebuild,
        (d, scratch) => { lexRebuild(scratch)
          stageBuild(d, scratch, "_build_commit", lexTables, "") },
        d => Bm25Index.open(spark, d).meta,
        d => rowSet(Bm25Index.searchTopK(spark, d, lexQueries, "qid", "text",
          topK = 10))),
      Family("dedup", "_build_commit", dedupTables,
        d => LshDedupIndex.build(docs, "doc_id", "text", d),
        d => LshDedupIndex.vacuum(spark, d),
        d => LshDedupIndex.readSignatures(spark, d).count(),
        dedupRebuild,
        (d, scratch) => { dedupRebuild(scratch)
          stageBuild(d, scratch, "_build_commit", dedupTables, "") },
        d => LshDedupIndex.open(spark, d).meta,
        d => rowSet(LshDedupIndex.candidatesAgainst(spark, d, dupProbe,
          "doc_id", "text"))),
      Family("ann", "_rebalance_commit", annTables,
        d => IvfIndex.build(emb, "vec_id", "embedding", d, nList = 4,
          pqM = 4, pqKsub = 16),
        d => IvfIndex.append(spark, d, emb.limit(0), "vec_id", "embedding"),
        d => IvfIndex.readIds(spark, d).count(),
        annRebuild,
        (d, scratch) => { annRebuild(scratch)
          stageBuild(d, scratch, "_rebalance_commit", annTables,
            "build_clear_pq") },
        d => { val m = IvfIndex.open(spark, d).meta
          (m.centroids.length, m.metric, m.pq(spark).isDefined) },
        d => rowSet(IvfIndex.search(spark, d, emb.limit(20), "vec_id",
          "embedding", k = 5))),
      // HNSW's commit point is its manifest: the roll-forward state is a
      // written manifest with the marker and params.old still present
      Family("hnsw", "_reshard_commit", Seq("params"),
        d => HnswIndex.build(emb, "vec_id", "embedding", d, shards = 2),
        d => HnswIndex.vacuum(spark, d),
        d => HnswIndex.readIds(spark, d).count(),
        hnswRebuild,
        (d, scratch) => {
          val fs = fsOf(d)
          require(org.apache.hadoop.fs.FileUtil.copy(fs, new Path(s"$d/params"),
            fs, new Path(s"$scratch/params"), false, fs.getConf))
          hnswRebuild(d)
          require(fs.rename(new Path(s"$scratch/params"), new Path(s"$d/params.old")))
          writeMarker(d, "_reshard_commit",
            s"build:${HnswIndex.readManifest(spark, d)._1}")
        },
        d => HnswIndex.open(spark, d).meta,
        d => rowSet(HnswIndex.search(spark, d, emb.limit(20), "vec_id",
          "embedding", k = 3))))
  }

  for (f <- families)
    test(s"a crashed marker temp (.<marker>.tmp) is swept at writer " +
      s"entry [${f.name}]") {
      val dir = tempDir(f.name)
      f.build(dir)
      val n = f.committed(dir)
      val fs = fsOf(dir)
      // a marker publish that died between writing its temp and the
      // rename: never read (dot-prefixed), but must not accumulate
      val tmp = new Path(s"$dir/.${f.marker}.tmp")
      val out = fs.create(tmp, false)
      out.write("build".getBytes("UTF-8")); out.close()
      f.writerEntry(dir)
      assert(!fs.exists(tmp), s"${f.name} left its marker temp behind")
      assert(!fs.exists(new Path(s"$dir/${f.marker}")))
      assert(f.committed(dir) == n, s"${f.name} recovery changed the index")
    }

  for (f <- families)
    test(s"with no marker, a staged <t>.tmp is dropped and a <t>.old " +
      s"whose live table is missing is restored at writer entry [${f.name}]") {
      val dir = tempDir(s"${f.name}_rollback")
      f.build(dir)
      graft.streaming.IngestWatermark.write(spark, dir, 77L)
      val n = f.committed(dir)
      val (meta, answer) = (f.meta(dir), f.answer(dir))
      val fs = fsOf(dir)
      def table(t: String, suffix: String = "") = new Path(s"$dir/$t$suffix")
      // not every build writes every table (IVF's pq is optional)
      val live = f.tables.filter(t => fs.exists(table(t)))
      val rows = live.map(t => t -> spark.read.parquet(table(t).toString).count())
        .toMap
      live.foreach { t =>
        // a writer that died while staging: an empty `<t>.tmp` would
        // make the live table unreadable if it were ever committed
        fs.mkdirs(table(t, ".tmp"))
        // a markerless swap that died between its two renames
        require(fs.rename(table(t), table(t, ".old")))
      }
      f.writerEntry(dir)
      live.foreach { t =>
        assert(!fs.exists(table(t, ".tmp")), s"${f.name} left $t.tmp behind")
        assert(!fs.exists(table(t, ".old")), s"${f.name} left $t.old behind")
        assert(spark.read.parquet(table(t).toString).count() == rows(t),
          s"${f.name} did not restore $t")
      }
      assert(!fs.exists(new Path(s"$dir/${f.marker}")))
      assert(f.committed(dir) == n, s"${f.name} recovery changed the index")
      assert(f.meta(dir) == meta && f.answer(dir) == answer,
        s"${f.name} recovery changed the index's params or answers")
      assert(graft.streaming.IngestWatermark.read(spark, dir) == 77L,
        s"${f.name} rollback cleared the live corpus's watermark")
    }

  for (f <- families)
    test(s"crashed build marker rolls forward at the next writer entry " +
      s"[${f.name}]") {
      val dir = tempDir(s"${f.name}_forward")
      val want = tempDir(s"${f.name}_forward_want")
      f.build(dir)
      f.rebuild(want)
      f.crashBuild(dir, tempDir(s"${f.name}_forward_scratch"))
      // the previous corpus's watermark, which the cut commit never cleared
      graft.streaming.IngestWatermark.write(spark, dir, 42L)
      f.writerEntry(dir)
      val fs = fsOf(dir)
      assert(!fs.exists(new Path(s"$dir/${f.marker}")))
      f.tables.foreach { t =>
        assert(!fs.exists(new Path(s"$dir/$t.tmp")), s"${f.name} left $t.tmp")
        assert(!fs.exists(new Path(s"$dir/$t.old")), s"${f.name} left $t.old")
        // a table the rebuild does not write (IVF's pq) is dropped
        assert(fs.exists(new Path(s"$dir/$t")) == fs.exists(new Path(s"$want/$t")),
          s"${f.name}: $t after recovery")
      }
      assert(graft.streaming.IngestWatermark.read(spark, dir) == Long.MinValue,
        s"${f.name}: the previous corpus's watermark survived the roll-forward")
      assert(f.committed(dir) == f.committed(want))
      assert(f.meta(dir) == f.meta(want), s"${f.name}: rebuilt params not live")
      val answer = f.answer(dir)
      assert(answer.nonEmpty && answer == f.answer(want),
        s"${f.name}: the recovered index does not answer as the rebuild")
    }
}
