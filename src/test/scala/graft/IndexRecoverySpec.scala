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

  /** family → (commit marker, the tables its commit swaps, build, a
    * writer entry, committed id count)
    */
  private val families: Seq[(String, String, Seq[String], String => Unit,
      String => Unit, String => Long)] =
    Seq(
      ("lex", "_build_commit", Seq("params", "postings", "doclens"),
        d => Bm25Index.build(docs, "doc_id", "text", d, nBuckets = 4),
        d => Bm25Index.vacuum(spark, d),
        d => Bm25Index.readDoclens(spark, d).count()),
      ("dedup", "_build_commit", Seq("params", "bands", "signatures"),
        d => LshDedupIndex.build(docs, "doc_id", "text", d),
        d => LshDedupIndex.vacuum(spark, d),
        d => LshDedupIndex.readSignatures(spark, d).count()),
      ("ann", "_rebalance_commit",
        Seq("centroids", "params", "pq", "assignments"),
        d => IvfIndex.build(emb, "vec_id", "embedding", d, nList = 4),
        d => IvfIndex.append(spark, d, emb.limit(0), "vec_id", "embedding"),
        d => IvfIndex.readIds(spark, d).count()),
      ("hnsw", "_reshard_commit", Seq("params"),
        d => HnswIndex.build(emb, "vec_id", "embedding", d, shards = 2),
        d => HnswIndex.vacuum(spark, d),
        d => HnswIndex.readIds(spark, d).count()))

  for ((family, marker, _, build, writerEntry, committed) <- families)
    test(s"a crashed marker temp (.<marker>.tmp) is swept at writer " +
      s"entry [$family]") {
      val dir = tempDir(family)
      build(dir)
      val n = committed(dir)
      val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      // a marker publish that died between writing its temp and the
      // rename: never read (dot-prefixed), but must not accumulate
      val tmp = new Path(s"$dir/.$marker.tmp")
      val out = fs.create(tmp, false)
      out.write("build".getBytes("UTF-8")); out.close()
      writerEntry(dir)
      assert(!fs.exists(tmp), s"$family left its marker temp behind")
      assert(!fs.exists(new Path(s"$dir/$marker")))
      assert(committed(dir) == n, s"$family recovery changed the index")
    }

  for ((family, marker, tables, build, writerEntry, committed) <- families)
    test(s"with no marker, a staged <t>.tmp is dropped and a <t>.old " +
      s"whose live table is missing is restored at writer entry [$family]") {
      val dir = tempDir(s"${family}_rollback")
      build(dir)
      val n = committed(dir)
      val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      def table(t: String, suffix: String = "") = new Path(s"$dir/$t$suffix")
      // not every build writes every table (IVF's pq is optional)
      val live = tables.filter(t => fs.exists(table(t)))
      val rows = live.map(t => t -> spark.read.parquet(table(t).toString).count())
        .toMap
      live.foreach { t =>
        // a writer that died while staging: an empty `<t>.tmp` would
        // make the live table unreadable if it were ever committed
        fs.mkdirs(table(t, ".tmp"))
        // a markerless swap that died between its two renames
        require(fs.rename(table(t), table(t, ".old")))
      }
      writerEntry(dir)
      live.foreach { t =>
        assert(!fs.exists(table(t, ".tmp")), s"$family left $t.tmp behind")
        assert(!fs.exists(table(t, ".old")), s"$family left $t.old behind")
        assert(spark.read.parquet(table(t).toString).count() == rows(t),
          s"$family did not restore $t")
      }
      assert(!fs.exists(new Path(s"$dir/$marker")))
      assert(committed(dir) == n, s"$family recovery changed the index")
    }
}
