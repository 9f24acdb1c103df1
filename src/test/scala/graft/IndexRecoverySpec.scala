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

  /** family → (commit marker, build, a writer entry, committed id count) */
  private val families
      : Seq[(String, String, String => Unit, String => Unit, String => Long)] =
    Seq(
      ("lex", "_build_commit",
        d => Bm25Index.build(docs, "doc_id", "text", d, nBuckets = 4),
        d => Bm25Index.vacuum(spark, d),
        d => Bm25Index.readDoclens(spark, d).count()),
      ("dedup", "_build_commit",
        d => LshDedupIndex.build(docs, "doc_id", "text", d),
        d => LshDedupIndex.vacuum(spark, d),
        d => LshDedupIndex.readSignatures(spark, d).count()),
      ("ann", "_rebalance_commit",
        d => IvfIndex.build(emb, "vec_id", "embedding", d, nList = 4),
        d => IvfIndex.append(spark, d, emb.limit(0), "vec_id", "embedding"),
        d => IvfIndex.readIds(spark, d).count()),
      ("hnsw", "_reshard_commit",
        d => HnswIndex.build(emb, "vec_id", "embedding", d, shards = 2),
        d => HnswIndex.vacuum(spark, d),
        d => HnswIndex.readIds(spark, d).count()))

  for ((family, marker, build, writerEntry, committed) <- families)
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
}
