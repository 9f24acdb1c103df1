package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.knn.{ApproxKnn, IvfIndex, KnnJoin}
import graft.sources.Lake

/** Golden SHA-256 digests of the spherical coarse quantizer's outputs:
  * `ivfKnn`, `pqKnn` and `pqBlockKnn` rows; `IvfIndex` centroids, PQ
  * codebooks, list assignments and search rows after `build` and
  * `rebalance`; `semanticNearDups` pairs; and the all-zero cosine corpus.
  * Any change to the training sample, the unit-normalizer, the trainer or
  * the assign kernel changes a digest. A digest may change only with a
  * stated reason.
  *
  * The `distributedTrain` cases are digested too: two runs of the same
  * code agree bit for bit on local[4] (the Lloyd sums fold in a fixed
  * partition order there).
  */
class IvfGoldenSpec extends SparkSpec {

  private class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array()) }
    def dist(d: Double): Unit = long(java.lang.Double.doubleToRawLongBits(d))
    def vec(v: Seq[Float]): Unit = {
      long(v.length.toLong)
      v.foreach(x => long(java.lang.Float.floatToRawIntBits(x).toLong))
    }
    def bytes(b: Array[Byte]): Unit = {
      long(b.length.toLong); b.foreach(x => long(x.toLong))
    }
    def hex: String = md.digest().map(b => f"$b%02x").mkString
  }

  private lazy val emb = Lake.embeddings(spark, sf0001)
    .select("vec_id", "embedding").cache()
  /** The embeddings are unit vectors; the cosine cases scale each row by
    * 1 to 5 so that the unit-normalizer has work to do.
    */
  private lazy val scaled = emb.select(col("vec_id"),
    transform(col("embedding"), x =>
      (x * (col("vec_id") % 5 + 1).cast("float")).cast("float")).as("embedding"))
    .cache()
  private lazy val queries = emb.filter(col("vec_id") < 60)
  private lazy val scaledQueries = scaled.filter(col("vec_id") < 60)
  /** Every component shifted far outside the base, under fresh ids. */
  private lazy val drifted = emb
    .select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), x => (x + lit(10.0f)).cast("float"))
        .as("embedding"))
  private lazy val zeros = {
    import spark.implicits._
    (0L until 24L).map(i => (i, new Array[Float](8))).toDF("vec_id", "embedding")
  }

  private val dirs = scala.collection.mutable.Map[String, String]()

  private def tempDir(tag: String): String = {
    val d = graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory(s"ivf_golden_$tag").toString)
    dirs(tag) = d
    d
  }

  /** The raw bits of the post-build `adc_anchor` displacement of the
    * index [[built]] under `tag`, in hex.
    */
  private def anchor(tag: String): String = {
    val r = spark.read.parquet(s"${dirs(tag)}/adc_anchor")
      .select("disp_at_train").collect()
    assert(r.length == 1)
    java.lang.Long.toHexString(
      java.lang.Double.doubleToRawLongBits(r.head.getDouble(0)))
  }

  /** (query_id, neighbor_id, dist, rank) rows in (query, rank) order. */
  private def rows(df: DataFrame): String = {
    val d = new Digest
    val rs = df.select(col("query_id"), col("neighbor_id"), col("dist"),
        col("rank").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(r => (r._1, r._4))
    d.long(rs.length.toLong)
    rs.foreach { case (q, n, dist, rank) =>
      d.long(q); d.long(n); d.dist(dist); d.long(rank) }
    d.hex
  }

  private def pairs(df: DataFrame): String = {
    val d = new Digest
    val rs = df.select("id_a", "id_b", "cos_dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    d.long(rs.length.toLong)
    rs.foreach { case (a, b, dist) => d.long(a); d.long(b); d.dist(dist) }
    d.hex
  }

  private def vecs(r: Row, i: Int): Seq[Float] = r.getSeq[Float](i)

  /** centroids/, pq/ (when present) and the (id, cid, code) assignments. */
  private def index(dir: String): Seq[String] = {
    val c = new Digest
    spark.read.parquet(s"$dir/centroids").select("cid", "vec").collect()
      .sortBy(_.getInt(0)).foreach { r => c.long(r.getInt(0).toLong); c.vec(vecs(r, 1)) }
    val pq = new Digest
    if (new java.io.File(s"$dir/pq").exists())
      spark.read.parquet(s"$dir/pq").select("s", "c", "vec", "residual").collect()
        .sortBy(r => (r.getInt(0), r.getInt(1))).foreach { r =>
          pq.long(r.getInt(0).toLong); pq.long(r.getInt(1).toLong)
          pq.vec(vecs(r, 2)); pq.long(if (r.getBoolean(3)) 1L else 0L)
        }
    val a = new Digest
    val lists = spark.read.parquet(s"$dir/assignments")
    val withCode = lists.columns.contains("code")
    lists.select(Seq(col("id"), col("cid")) ++
        (if (withCode) Seq(col("code")) else Nil): _*).collect()
      .sortBy(_.getLong(0)).foreach { r =>
        a.long(r.getLong(0)); a.long(r.getInt(1).toLong)
        if (withCode) a.bytes(r.getAs[Array[Byte]](2))
      }
    Seq(c.hex, pq.hex, a.hex)
  }

  private def built(tag: String, metric: String = KnnJoin.MetricL2Sq,
      pqM: Int = 0, pqByResidual: Boolean = true,
      distributedTrain: Boolean = false,
      twoLevelAssign: Boolean = false): Seq[String] = {
    val dir = tempDir(tag)
    val (c, q) =
      if (metric == KnnJoin.MetricCosine) (scaled, scaledQueries) else (emb, queries)
    IvfIndex.build(c, "vec_id", "embedding", dir, nList = 8, metric = metric,
      pqM = pqM, pqByResidual = pqByResidual,
      distributedTrain = distributedTrain, twoLevelAssign = twoLevelAssign,
      twoLevelProbes = 1)
    index(dir) :+ rows(IvfIndex.search(spark, dir, q, "vec_id",
      "embedding", k = 5, nProbe = 4, usePq = pqM > 0))
  }

  /** Fails with every changed case, printed as its new golden entry. */
  private def check(got: Seq[(String, Seq[String])],
      golden: Map[String, Seq[String]]): Unit = {
    val changed = got.filterNot { case (name, ds) => golden.get(name).contains(ds) }
    assert(changed.isEmpty, changed.map { case (name, ds) =>
      s""""$name" -> Seq(${ds.map("\"" + _ + "\"").mkString(", ")}),"""
    }.mkString("changed digests:\n", "\n", ""))
  }

  test("ivfKnn, pqKnn and pqBlockKnn row digests") {
    val n = queries.count()
    check(Seq(
      "ivfKnn l2" -> Seq(rows(ApproxKnn.ivfKnn(queries, emb, "vec_id",
        "embedding", k = 5, nList = 8, nProbe = 2))),
      "ivfKnn cosine" -> Seq(rows(ApproxKnn.ivfKnn(scaledQueries, scaled, "vec_id",
        "embedding", k = 5, nList = 8, nProbe = 2,
        metric = KnnJoin.MetricCosine))),
      "ivfKnn cosine distributed" -> Seq(rows(ApproxKnn.ivfKnn(scaledQueries, scaled,
        "vec_id", "embedding", k = 5, nList = 8, nProbe = 2,
        metric = KnnJoin.MetricCosine, distributedTrain = true))),
      "pqKnn adc" -> Seq(rows(ApproxKnn.pqKnn(queries, emb, "vec_id",
        "embedding", k = 5, m = 8, ksub = 16, rerank = 0))),
      "pqKnn cosine rerank" -> Seq(rows(ApproxKnn.pqKnn(scaledQueries, scaled, "vec_id",
        "embedding", k = 5, metric = KnnJoin.MetricCosine, m = 8, ksub = 16))),
      "pqBlockKnn adc 3 blocks" -> Seq(rows(ApproxKnn.pqBlockKnn(queries, emb,
        "vec_id", "embedding", k = 5, m = 8, ksub = 16, rerank = 0,
        blockSize = ((n + 2) / 3).toInt)))),
      Golden)
  }

  test("IvfIndex.build digests: centroids, pq/, assignments, search") {
    check(Seq(
      "build l2" -> built("l2"),
      "build cosine" -> built("cos", metric = KnnJoin.MetricCosine),
      "build pq residual" -> built("pqres", pqM = 8),
      "build cosine pq raw" -> built("pqraw", metric = KnnJoin.MetricCosine,
        pqM = 8, pqByResidual = false),
      "build two-level" -> built("two", twoLevelAssign = true),
      "build cosine pq distributed" -> built("dist",
        metric = KnnJoin.MetricCosine, pqM = 8, distributedTrain = true),
      "adc anchor: pq residual, cosine pq raw" ->
        Seq(anchor("pqres"), anchor("pqraw"))),
      Golden)
  }

  test("IvfIndex.rebalance digests after a drifted append") {
    def rebalanced(tag: String, metric: String, nLists: Seq[Int],
        distributedTrain: Boolean = false): Seq[String] = {
      val dir = tempDir(tag)
      IvfIndex.build(if (metric == KnnJoin.MetricCosine) scaled else emb,
        "vec_id", "embedding", dir, nList = 8, metric = metric)
      IvfIndex.append(spark, dir, drifted, "vec_id", "embedding")
      nLists.flatMap { nl =>
        IvfIndex.rebalance(spark, dir, nList = nl,
          distributedTrain = distributedTrain)
        index(dir)
      }
    }
    check(Seq(
      "rebalance l2 0 -1" -> rebalanced("l2", KnnJoin.MetricL2Sq, Seq(0, -1)),
      "rebalance cosine 0" -> rebalanced("cos", KnnJoin.MetricCosine, Seq(0)),
      "rebalance l2 distributed" -> rebalanced("dist", KnnJoin.MetricL2Sq,
        Seq(0), distributedTrain = true)),
      Golden)
  }

  test("semanticNearDups pair digests") {
    val copies = scaled.filter(col("vec_id") < 100).select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
        .as("embedding"))
    val corpus = scaled.unionByName(copies)
    def sem(blockCap: Int = 0, distributedTrain: Boolean = false,
        twoLevelAssign: Boolean = false): String =
      pairs(Dedup.semanticNearDups(corpus, "vec_id", "embedding", 0.72,
        nClusters = 6, assignProbes = 1, blockCap = blockCap, subClusters = 4,
        twoLevelProbes = 1,
        distributedTrain = distributedTrain, twoLevelAssign = twoLevelAssign))
    check(Seq(
      "semdedup flat" -> Seq(sem()),
      "semdedup blockCap" -> Seq(sem(blockCap = 80)),
      "semdedup two-level" -> Seq(sem(twoLevelAssign = true)),
      "semdedup distributed" -> Seq(sem(distributedTrain = true))),
      Golden)
  }

  test("all-zero cosine corpus: IVF trains on the zeros, SemDeDup refuses") {
    val dir = tempDir("zeros")
    IvfIndex.build(zeros, "vec_id", "embedding", dir, nList = 4,
      metric = KnnJoin.MetricCosine)
    val q = zeros.filter(col("vec_id") < 5)
    check(Seq(
      "zeros build" -> (index(dir) :+ rows(IvfIndex.search(spark, dir, q,
        "vec_id", "embedding", k = 3, nProbe = 1))),
      // the post-build ADC anchors, computed at commit f4ddc78
    "adc anchor: pq residual, cosine pq raw" -> Seq(
      "401bd4cccccccccd", "4018c1999999999a"),
    "zeros ivfKnn" -> Seq(rows(ApproxKnn.ivfKnn(q, zeros, "vec_id",
        "embedding", k = 3, nList = 4, nProbe = 1,
        metric = KnnJoin.MetricCosine))),
      "zeros ivfKnn distributed" -> Seq(rows(ApproxKnn.ivfKnn(q, zeros,
        "vec_id", "embedding", k = 3, nList = 4, nProbe = 1,
        metric = KnnJoin.MetricCosine, distributedTrain = true)))),
      Golden)
    Seq(false, true).foreach { distributed =>
      val e = intercept[IllegalArgumentException](
        Dedup.semanticNearDups(zeros, "vec_id", "embedding", 0.5,
          distributedTrain = distributed).collect())
      assert(e.getMessage.contains("semanticNearDups"), e.getMessage)
    }
  }

  // computed at commit c602838, before the coarse-quantizer training moved
  // into one place (KMeans)
  private val Golden: Map[String, Seq[String]] = Map(
    "ivfKnn l2" -> Seq(
      "72ca755c98b4a9289e8a044cfd8c30988250db2e2ccedd4514a5e078036e41f8"),
    "ivfKnn cosine" -> Seq(
      "bd5598d323a89fa8bf37a46a2e3a1689bdbb06b99302f98a682a16a147edd21e"),
    "ivfKnn cosine distributed" -> Seq(
      "f25c478becc9ee964842f321143474b311250674a45c8e5f00f0c8d1d8e82f5c"),
    "pqKnn adc" -> Seq(
      "e21c07a27c440349a2804d9a9f0cded6023f2ee29cce033373479f4c9b480764"),
    "pqKnn cosine rerank" -> Seq(
      "d187c6cbcfa659c6532bb451c227529e5ba47972550aaebbec016473ddbcccc8"),
    "pqBlockKnn adc 3 blocks" -> Seq(
      "e21c07a27c440349a2804d9a9f0cded6023f2ee29cce033373479f4c9b480764"),
    "build l2" -> Seq(
      "420bfb412a53f661362be82af469d0db5bda930428e56eef9c1507a039c54594",
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
      "eeb3a155d876e0738d7254ec928aa6db42da3ec561064978477c70e5f760ba0d",
      "9893ff804ce265b0a358e7ed5b026e6944c748134a94130f384a611d9b1bcfbe"),
    "build cosine" -> Seq(
      "ddbd573aa4847cf8ffd9a48940f6b015648ce02ff0562ae8adcbaa4498010a4b",
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
      "eeb3a155d876e0738d7254ec928aa6db42da3ec561064978477c70e5f760ba0d",
      "83822866be550c1c329d6f5e4a2c7fafe555fbde6840e21e341cf6a09de1360c"),
    "build pq residual" -> Seq(
      "420bfb412a53f661362be82af469d0db5bda930428e56eef9c1507a039c54594",
      "dccabbb7f4dc43723c1158c49dd9a1bedb1c60165d58db1de1369b3b59a8dfc1",
      "6cefbac24fcbeb521c269d71b49bfa8322bb0e5720afc9b979bfd021cba67eeb",
      "aba5427c2fa6a9bdf3c0795b548c187b46a1fe06fc06823905c4924dd9d6d554"),
    "build cosine pq raw" -> Seq(
      "ddbd573aa4847cf8ffd9a48940f6b015648ce02ff0562ae8adcbaa4498010a4b",
      "09bded09696a1fdbfad258e167426ad6d5a80790622ed16b493cf9600a1d6304",
      "b9324d8d8c2c0953d6f3c5d09ed013a354007f121d0d51b862adea3f5f77b264",
      "73cc8a4d44eea669fee8662b71f309a55a6357e602cf26d2a45fe3b16a705b8f"),
    "build two-level" -> Seq(
      "420bfb412a53f661362be82af469d0db5bda930428e56eef9c1507a039c54594",
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
      "66966fd44667da9627e1b8be51124e77d3c6a046da996494263d4aa4645c008e",
      "ef90a7cba8b909df53fe0bfd1a585d32a5f55be98fa5abc725a29723d54a03c5"),
    "build cosine pq distributed" -> Seq(
      "fdbfd710c9612b232c45cc6ad58a29945db7b9b4db4bb8ec0b3e3fd065838b2a",
      "5b0e10e68c31fac05b4239f54acffc2296638b47d896520d27d01be0ac834289",
      "f101ec2ea5d250d8acd7c019f2bfbc692b3c7f4429f380f42135b67ea2d5d936",
      "e2a22e376c1a974c39f3222ee08718857b44c0cee0367d48a5fe7304cb9297ec"),
    "rebalance l2 0 -1" -> Seq(
      "b5aed8d3af69acb8732753a4f84f7800a02e97c45e82e58449ad1c0a51c71f30",
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
      "e5e11e3f8a0a6502fbaedc83b84b7fa2325079338ee2ca7b45015c3cb6a40630",
      "6e946ee0d9ae2b6eccb101f664aa9ff7499f9c73c9f75fc536bafa1ace9f5c09",
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
      "096c3ba33fc9ae6dc3befd06bc4e537725bfc9a1e937fcfde97496148653d525"),
    "rebalance cosine 0" -> Seq(
      "31a92ff8353c8986de6a3b8155a436d67b7743256de46866a1da1807a339a9f8",
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
      "7a1125edcea22d151168f378240d492e9c84a37ccac57f15c2f0f243601ff9c8"),
    "rebalance l2 distributed" -> Seq(
      "ee00b89f5cd52efc20fa9133eb06bf0b933334a1f2126162eec6864d4db86ed6",
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
      "6e22162af98eb2c88de0d7182bfb537d2b3ab11b422829403e5d1817108faae0"),
    "zeros build" -> Seq(
      "802a377d62f86073f4f24803d31925b35801aeaeef7252ad54cd16ede13f307a",
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
      "c3f42ceb9e4d9e1d9d3d9209e3ac9009af7326addab3c8bca0c4520d0a9feccf",
      "a9e3c5a89d114c9b948330e8ce994fe618585bda583de62ebf00664a7bfcab45"),
    // the post-build ADC anchors, computed at commit f4ddc78
    "adc anchor: pq residual, cosine pq raw" -> Seq(
      "401bd4cccccccccd", "4018c1999999999a"),
    "zeros ivfKnn" -> Seq(
      "a9e3c5a89d114c9b948330e8ce994fe618585bda583de62ebf00664a7bfcab45"),
    "zeros ivfKnn distributed" -> Seq(
      "a9e3c5a89d114c9b948330e8ce994fe618585bda583de62ebf00664a7bfcab45"),
    "semdedup flat" -> Seq(
      "4625347bdb46ea164bd94fbeac7ccdb01b87add0f2663055e864ac00d9929fa4"),
    "semdedup blockCap" -> Seq(
      "6ff3f04fa4213f2f8c8555072c0ea04ca7097c6c95b3e02db33a5569c499f224"),
    "semdedup two-level" -> Seq(
      "17c0b5fc864b64c7a8a8675d2d948b9087566cb6e6ecdeeea1ea92f242bc0ec2"),
    "semdedup distributed" -> Seq(
      "428a5b37f4459be0187712bf7345de8c4ea49e678651f4a38aac5de1dc4d2900"))
}
