package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.knn.{ApproxKnn, HnswGraph, HnswImage, HnswIndex, KnnJoin}
import graft.sources.Lake

/** Golden SHA-256 digests of the HNSW kernel's outputs: graph images
  * after build, append and reshard, and raw search results (ids and
  * distance bits) over inputs with distance ties, `k > n`, `ef < k`, a
  * full beam, a one-node and an empty graph. Any change to a distance
  * bit, a tie-break or the graph that `insert` builds changes a digest.
  */
class HnswGoldenSpec extends SparkSpec {

  private class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array()) }
    def dist(d: Double): Unit = long(java.lang.Double.doubleToRawLongBits(d))
    def bytes(b: Array[Byte]): Unit = { long(b.length.toLong); md.update(b) }
    def hex: String = md.digest().map(b => f"$b%02x").mkString
  }

  private def hits(d: Digest, out: Seq[(Long, Double)]): Unit = {
    d.long(out.length.toLong)
    out.foreach { case (id, dist) => d.long(id); d.dist(dist) }
  }

  /** A seeded graph with 20 duplicated vectors under fresh ids and, for
    * cosine, two zero vectors (distance 1.0 to everything).
    */
  private def corpus(cosine: Boolean): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(2024)
    val base = (0 until 240).map(i =>
      (i * 5L + 3, Array.fill(12)(rnd.nextGaussian().toFloat)))
    val dups = base.take(20).map { case (id, v) => (id + 100000L, v.clone()) }
    val zeros =
      if (cosine) Seq((-1L, new Array[Float](12)), (-2L, new Array[Float](12)))
      else Nil
    rnd.shuffle(base ++ dups ++ zeros)
  }

  private def searchDigest(cosine: Boolean): String = {
    val d = new Digest
    val rnd = new scala.util.Random(99)
    val data = corpus(cosine)
    val g = new HnswGraph(m = 6, efConstruction = 40, cosine = cosine, seed = 11)
    data.foreach { case (id, v) => g.insert(id, v) }
    g.nodes.foreach { case (id, v, ls) =>
      d.long(id)
      v.foreach(x => d.long(java.lang.Float.floatToRawIntBits(x).toLong))
      d.long(ls.length.toLong)
      ls.foreach { l => d.long(l.length.toLong); l.foreach(e => d.long(e.toLong)) }
    }
    val queries = Seq.fill(25)(Array.fill(12)(rnd.nextGaussian().toFloat)) ++
      data.take(6).map(_._2) ++ Seq(new Array[Float](12))
    val params = Seq((1, 1), (5, 16), (10, 4), (400, 8), (10, 0), (7, -3),
      (20, 500))
    for (q <- queries; (k, ef) <- params) hits(d, g.search(q, k, ef))
    val one = new HnswGraph(m = 4, efConstruction = 8, cosine = cosine)
    hits(d, one.search(queries.head, 3, 8))
    one.insert(42L, data.head._2)
    queries.take(3).foreach(q => hits(d, one.search(q, 3, 8)))
    d.hex
  }

  test("HnswGraph search digests: L2 and cosine") {
    assert(searchDigest(cosine = false) == GoldenSearchL2)
    assert(searchDigest(cosine = true) == GoldenSearchCosine)
  }

  test("HnswIndex image and search digests after build, append and reshard") {
    val emb = Lake.embeddings(spark, sf0001)
    val dir = graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory("hnsw_golden").toString)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val queries = emb.filter(col("vec_id") < 440).orderBy("vec_id").limit(40)
    // the image bytes and each search case are digested apart, so a
    // change to the beam shows up in the search digests alone
    def digest(): (String, Seq[String]) = {
      val img = new Digest
      HnswIndex.readManifest(spark, dir)._2.toSeq.sorted.foreach { case (s, g) =>
        val in = fs.open(new Path(s"$dir/nodes/g=$g/shard=$s/${HnswImage.FileName}"))
        img.long(s.toLong)
        try img.bytes(in.readAllBytes()) finally in.close()
      }
      val n = HnswIndex.readIds(spark, dir).count().toInt
      val searches = for ((ef, auto) <- Seq((16, false), (0, true), (n, false))) yield {
        val d = new Digest
        val rows = HnswIndex.search(spark, dir, queries, "vec_id", "embedding",
            k = 5, efSearch = ef, efAutoScale = auto)
          .select("query_id", "neighbor_id", "dist", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .sortBy(r => (r._1, r._4))
        d.long(rows.length.toLong)
        rows.foreach { case (q, nid, dist, rank) =>
          d.long(q); d.long(nid); d.dist(dist); d.long(rank.toLong) }
        d.hex
      }
      (img.hex, searches)
    }
    HnswIndex.build(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
      dir, shards = 4)
    val built = digest()
    HnswIndex.append(spark, dir,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 440),
      "vec_id", "embedding")
    val appended = digest()
    HnswIndex.reshard(spark, dir, 3)
    val resharded = digest()
    val cosDir = graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory("hnsw_golden_cos").toString)
    HnswIndex.build(emb, "vec_id", "embedding", cosDir, shards = 3,
      metric = KnnJoin.MetricCosine)
    val cosRows = HnswIndex.search(spark, cosDir, queries, "vec_id", "embedding",
        k = 5).select("query_id", "neighbor_id", "dist").collect()
    val inMem = ApproxKnn.hnswKnn(queries, emb.repartition(3), "vec_id",
        "embedding", k = 5, m = 8, efConstruction = 40, efSearch = 0)
      .select("query_id", "neighbor_id", "dist").collect()
    def rowsDigest(rows: Array[org.apache.spark.sql.Row]): String = {
      val d = new Digest
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
        .foreach { case (q, nid, dist) => d.long(q); d.long(nid); d.dist(dist) }
      d.hex
    }
    assert(Seq(built, appended, resharded).map(_._1) == GoldenImages)
    assert(Seq(built, appended, resharded).map(_._2) == GoldenSearches)
    assert(rowsDigest(cosRows) == GoldenCosineIndex)
    assert(rowsDigest(inMem) == GoldenHnswKnn)
  }

  // computed with the boxed PriorityQueue kernel that the flat kernel
  // replaced: the flat kernel must reproduce its results bit for bit
  private val GoldenSearchL2 =
    "0f658d09410bf4127b8999828b29aa645effb132de7622ffb4ab65d85cdfa2b5"
  private val GoldenSearchCosine =
    "79dc0389d42013009ba986cc9ebe1453fa3a99c6b68e4d22d9148362dec3a08b"
  // the `_graph.bin` bytes after build, append and reshard
  private val GoldenImages = Seq(
    "7ee732febe9252ab9eff437a2ca546c18786a0dc23aedd5a808303113ce867be",
    "48d6492b4d81478cb86b3122ea322ba4e619e8ee944cb406c1e43c621ed53486",
    "5d644c607470a93e1b056df3a2659101ebd00b144449cc4e5676a8dbc2979eb8")
  // per stage: the search rows at ef 16, the ef = 0 sentinel and ef = n
  private val GoldenSearches = Seq(
    Seq("b1e676d84f1b0bcbc37e2149abd37696f2dcfbb371f67be95d029c2643abc747",
      "b1e676d84f1b0bcbc37e2149abd37696f2dcfbb371f67be95d029c2643abc747",
      "b1e676d84f1b0bcbc37e2149abd37696f2dcfbb371f67be95d029c2643abc747"),
    Seq("17ddcc434d7de34d2c79db54ab81664347b0d14663fcc7b57a0322af2a7f50d7",
      "17ddcc434d7de34d2c79db54ab81664347b0d14663fcc7b57a0322af2a7f50d7",
      "17ddcc434d7de34d2c79db54ab81664347b0d14663fcc7b57a0322af2a7f50d7"),
    Seq("17ddcc434d7de34d2c79db54ab81664347b0d14663fcc7b57a0322af2a7f50d7",
      "17ddcc434d7de34d2c79db54ab81664347b0d14663fcc7b57a0322af2a7f50d7",
      "17ddcc434d7de34d2c79db54ab81664347b0d14663fcc7b57a0322af2a7f50d7"))
  private val GoldenCosineIndex =
    "2997732566e7ce4b6b43ef8d58f63003a331ca463d4133378dcba8e85993131d"
  private val GoldenHnswKnn =
    "0be4ddfd1c5abaa95b2d7e01b425632a166ae64ee4794a9c7d2b02f39e23f2ba"
}
