package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.LshDedupIndex
import graft.knn.{HnswIndex, IvfIndex}
import graft.sources.Lake
import graft.text.Bm25Index

/** `open` on the four persistent index families: one snapshot per
  * (directory, commit generation). An append keeps the generation and
  * the memoized metadata; a commit that swaps the metadata tables moves
  * the generation, and the next `open` — and every public probe behind
  * it — serves the new metadata.
  */
class IndexSnapshotSpec extends SparkSpec {

  private lazy val docs = Lake.table(spark, sf0001, "documents")
    .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    .filter(col("doc_id") % 3 === 0).cache()
  private lazy val emb = Lake.embeddings(spark, sf0001)
    .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    .filter(col("vec_id") % 3 === 0).cache()

  private def tempDir(tag: String): String =
    graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory(s"idx_snapshot_$tag").toString)

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def base(df: DataFrame, id: String) = df.filter(col(id) < 600)
  private def extra(df: DataFrame, id: String) = df.filter(col(id) >= 600)
  private def textQueries =
    docs.filter(col("doc_id") < 60)
      .select((col("doc_id") + 5000000).as("doc_id"), col("text"))

  private val families = Seq(
    SnapshotFamily("lex",
      d => Bm25Index.build(base(docs, "doc_id"), "doc_id", "text", d,
        nBuckets = 4),
      d => Bm25Index.append(spark, d, extra(docs, "doc_id"), "doc_id", "text"),
      d => Bm25Index.build(docs, "doc_id", "text", d, nBuckets = 16),
      d => Bm25Index.build(docs, "doc_id", "text", d, nBuckets = 16),
      d => { val s = Bm25Index.open(spark, d); (s.gen, s.meta) },
      m => m == Bm25Index.Params(16),
      d => rows(Bm25Index.searchTopK(spark, d, textQueries, "doc_id", "text",
        topK = 5))),
    SnapshotFamily("dedup",
      d => LshDedupIndex.build(base(docs, "doc_id"), "doc_id", "text", d),
      d => LshDedupIndex.append(spark, d, extra(docs, "doc_id"), "doc_id",
        "text"),
      d => LshDedupIndex.build(docs, "doc_id", "text", d, bands = 8,
        rowsPerBand = 2),
      d => LshDedupIndex.build(docs, "doc_id", "text", d, bands = 8,
        rowsPerBand = 2),
      d => { val s = LshDedupIndex.open(spark, d); (s.gen, s.meta) },
      m => m == LshDedupIndex.Params(3, 8, 2),
      d => rows(LshDedupIndex.candidatesAgainst(spark, d, textQueries,
        "doc_id", "text"))),
    // rebalance retrains the quantizer with its own trainer, so the
    // comparison runs at full probe (nProbe = nList), where rebalance
    // leaves results invariant
    SnapshotFamily("ann",
      d => IvfIndex.build(base(emb, "vec_id"), "vec_id", "embedding", d,
        nList = 2),
      d => IvfIndex.append(spark, d, extra(emb, "vec_id"), "vec_id",
        "embedding"),
      d => IvfIndex.rebalance(spark, d, nList = 5),
      d => IvfIndex.build(emb, "vec_id", "embedding", d, nList = 5),
      d => { val s = IvfIndex.open(spark, d); (s.gen, s.meta) },
      m => m.asInstanceOf[IvfIndex.Meta].centroids.length == 5,
      d => rows(IvfIndex.search(spark, d, emb.limit(20), "vec_id",
        "embedding", k = 5, nProbe = 5))),
    SnapshotFamily("hnsw",
      d => HnswIndex.build(base(emb, "vec_id"), "vec_id", "embedding", d,
        shards = 2),
      d => HnswIndex.append(spark, d, extra(emb, "vec_id"), "vec_id",
        "embedding"),
      d => HnswIndex.reshard(spark, d, 4),
      d => HnswIndex.build(emb, "vec_id", "embedding", d, shards = 4),
      d => { val s = HnswIndex.open(spark, d); (s.gen, s.meta) },
      m => m.asInstanceOf[HnswIndex.Params].shards == 4,
      d => rows(HnswIndex.search(spark, d, emb.limit(20), "vec_id",
        "embedding", k = 5))))

  for (f <- families)
    test(s"open [${f.name}]: an append keeps the snapshot, a commit moves it") {
      val dir = tempDir(f.name)
      f.build(dir)
      val (g0, m0) = f.open(dir)
      val (g0b, m0b) = f.open(dir)
      assert(g0b == g0, "generation not deterministic")
      assert(m0b eq m0, "a second open reloaded the metadata")
      assert(!f.isNew(m0))

      // appends never touch the metadata tables
      f.append(dir)
      val (g1, m1) = f.open(dir)
      assert(g1 == g0, "an append changed the generation")
      assert(m1 eq m0, "an append invalidated the memoized metadata")

      // a metadata-changing commit: new generation, new metadata
      f.commit(dir)
      val (g2, m2) = f.open(dir)
      assert(g2 != g0, "the commit did not change the generation")
      assert(f.isNew(m2), s"open served the pre-commit metadata $m2")

      // the public probe serves the committed settings: it equals the
      // same probe on an index built directly with them
      val direct = tempDir(s"${f.name}_direct")
      f.rebuild(direct)
      val got = f.probe(dir)
      assert(got.nonEmpty)
      assert(got == f.probe(direct),
        "probe after the commit differs from a direct build at its settings")
    }
}

/** One family: `build` the base index, `append` a batch, `commit` a
  * metadata-changing maintenance op, `rebuild` a fresh directory
  * directly at the committed settings, `open` as (gen, meta), whether
  * meta `isNew` (carries the committed settings), and the public
  * `probe` as a row set.
  */
private final case class SnapshotFamily(
    name: String,
    build: String => Unit,
    append: String => Unit,
    commit: String => Unit,
    rebuild: String => Unit,
    open: String => (Long, AnyRef),
    isNew: AnyRef => Boolean,
    probe: String => Set[Seq[Any]])
