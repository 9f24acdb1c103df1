package graft

import org.apache.spark.sql.functions._

import org.apache.hadoop.fs.Path

import graft.knn.{HnswGraph, HnswImage, HnswIndex, KnnJoin}
import graft.sources.Lake

class HnswIndexSpec extends SparkSpec {

  private lazy val emb = Lake.embeddings(spark, sf0001).cache()

  private def tempDir(tag: String): String =
    graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory(s"hnsw_idx_$tag").toString)

  test("restore rebuilds the exact graph: identical search results") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 120).map(i => (i * 3L, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val g = new HnswGraph(m = 8, efConstruction = 32)
    vecs.foreach { case (id, v) => g.insert(id, v) }
    val restored = HnswGraph.restore(m = 8, cosine = false, g.nodes)
    (1 to 10).foreach { _ =>
      val q = Array.fill(16)(rnd.nextGaussian().toFloat)
      assert(restored.search(q, 5, 32) == g.search(q, 5, 32))
    }
  }

  test("concurrent searches of one graph match its sequential results") {
    val rnd = new scala.util.Random(11)
    val g = new HnswGraph(m = 8, efConstruction = 32)
    (0 until 500).foreach(i => g.insert(i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val qs = IndexedSeq.fill(200)(Array.fill(16)(rnd.nextGaussian().toFloat))
    def ef(i: Int) = 8 + (i % 5) * 60
    val want = qs.indices.map(i => g.search(qs(i), 10, ef(i)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val runs = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[(Int, Seq[(Long, Double)])]] {
          def call() = (0 until 3 * qs.length).map { j =>
            val i = (j + 50 * t) % qs.length
            i -> g.search(qs(i), 10, ef(i))
          }
        })
      }
      runs.foreach(_.get().foreach { case (i, got) =>
        assert(got == want(i), s"query $i") })
    } finally pool.shutdown()
  }

  test("image decode rejects a link outside the image and a link above its " +
    "target's top level") {
    val rnd = new scala.util.Random(5)
    val g = new HnswGraph(m = 4, efConstruction = 16)
    (0 until 200).foreach(i => g.insert(i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val bytes = HnswImage.encode(g)
    val img = HnswImage.decode(bytes)
    val n = img.size
    val linksAt = 16 + 8 * n + 4 * n * img.dim + 4 * n + 4 * img.offsets.length
    def decodeError(slot: Int, target: Int): String = {
      val b = bytes.clone()
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(linksAt + 4 * slot, target)
      val msg = intercept[IllegalStateException](HnswImage.decode(b)).getMessage
      assert(msg.startsWith("corrupt graph image: "), msg)
      msg
    }
    assert(decodeError(0, n).contains(s"links to node $n at level 0, outside"))
    assert(decodeError(0, -1).contains("links to node -1 at level 0, outside"))
    // the first non-empty level-1 list, pointed at a node with level 0 only
    val firstList = img.levels.scanLeft(0)(_ + _)
    val node = (0 until n).find(i => img.levels(i) >= 2 &&
      img.offsets(firstList(i) + 2) > img.offsets(firstList(i) + 1)).get
    val flat = img.levels.indexWhere(_ == 1)
    assert(decodeError(img.offsets(firstList(node) + 1), flat)
      .contains(s"links to node $flat at level 1, above that node's top level 0"))
  }

  private def imagePath(dir: String, shard: Int, gen: Int): Path =
    new Path(s"$dir/nodes/g=$gen/shard=$shard/${HnswImage.FileName}")

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def imageBytes(dir: String, shard: Int, gen: Int): Array[Byte] = {
    val in = fsOf(dir).open(imagePath(dir, shard, gen))
    try in.readAllBytes() finally in.close()
  }

  /** Copy every live shard directory of `dir` into generation `gen` —
    * the debris a writer that crashed after staging `gen` leaves behind.
    */
  private def stageDebris(dir: String, gen: Int): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = fsOf(dir)
    HnswIndex.readManifest(spark, dir)._2.foreach { case (s, g) =>
      require(org.apache.hadoop.fs.FileUtil.copy(fs,
        new Path(s"$dir/nodes/g=$g/shard=$s"), fs,
        new Path(s"$dir/nodes/g=$gen/shard=$s"), false, conf))
    }
  }

  test("graph images: one file per live shard, matching readIds, counts and " +
    "search") {
    import spark.implicits._
    val dir = tempDir("images")
    val conf = spark.sessionState.newHadoopConf()
    val fs = fsOf(dir)
    val queries = emb.filter(col("vec_id") < 440).orderBy("vec_id").limit(40)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])].collect().toSeq
    val qDf = queries.toDF("vec_id", "embedding")
    val (k, ef) = (5, 16)
    // the serving path spelled out: each live image → HnswGraph.restore
    // → the per-shard beam (k + 1, self dropped) → the global
    // (dist, neighbor_id) top-k merge
    def oracle(): Set[(Long, Long, Double, Int)] = {
      val params = HnswIndex.open(spark, dir).meta
      val (_, shardGens, _) = HnswIndex.readManifest(spark, dir)
      shardGens.toSeq.flatMap { case (s, g) =>
        val graph = HnswGraph.fromImage(params.m, cosine = false,
          HnswImage.read(conf, imagePath(dir, s, g)))
        queries.flatMap { case (qid, qv) =>
          graph.search(qv, k + 1, math.max(ef, k + 1)).filter(_._1 != qid)
            .take(k).map { case (nid, d) => (qid, nid, d) }
        }
      }.groupBy(_._1).values.flatMap(_.sortBy(r => (r._3, r._2)).take(k)
        .zipWithIndex.map { case ((q, nid, d), i) => (q, nid, d, i + 1) })
        .toSet
    }
    def check(stage: String): Unit = {
      val (_, shardGens, counts) = HnswIndex.readManifest(spark, dir)
      val shards = HnswIndex.open(spark, dir).meta.shards
      // readIds, split by the routing hash into each shard's ids
      val idsByShard = HnswIndex.readIds(spark, dir)
        .select(col("id"), pmod(xxhash64(col("id")), lit(shards)).cast("int"))
        .as[(Long, Int)].collect().groupBy(_._2)
        .map { case (s, ids) => s -> ids.map(_._1).sorted.toSeq }
      assert(idsByShard.keySet == shardGens.keySet, s"$stage: readIds shards")
      shardGens.foreach { case (s, g) =>
        // the image is the whole shard: no other file beside it
        assert(fs.listStatus(new Path(s"$dir/nodes/g=$g/shard=$s")).toSeq
          .map(_.getPath.getName) == Seq(HnswImage.FileName),
          s"$stage: shard $s holds more than its image")
        val image = HnswImage.read(conf, imagePath(dir, s, g))
        assert(image.size == counts(s),
          s"$stage: shard $s image and manifest counts disagree")
        assert(image.ids.toSeq.sorted == idsByShard(s),
          s"$stage: shard $s image ids differ from its readIds")
      }
      // no node-row table, live or superseded, anywhere under nodes/
      val files = fs.listFiles(new Path(s"$dir/nodes"), true)
      while (files.hasNext) {
        val f = files.next().getPath
        assert(f.getName == HnswImage.FileName, s"$stage: stray file $f")
      }
      val got = HnswIndex.search(spark, dir, qDf, "vec_id", "embedding", k,
          efSearch = ef, efAutoScale = false)
        .select("query_id", "neighbor_id", "dist", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      assert(got.length == queries.length * k)
      assert(got.toSet == oracle(), s"$stage: search differs from the image oracle")
    }
    HnswIndex.build(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
      dir, shards = 4)
    check("build")
    HnswIndex.append(spark, dir,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 440),
      "vec_id", "embedding")
    check("append")
    HnswIndex.reshard(spark, dir, 3)
    check("reshard")
  }

  test("search fails loudly, naming the shard and the repair, when a live " +
    "shard's image is short, torn or missing") {
    val dir = tempDir("badimage")
    HnswIndex.build(emb, "vec_id", "embedding", dir, shards = 4)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(dir).getFileSystem(conf)
    val (_, shardGens, counts) = HnswIndex.readManifest(spark, dir)
    val (s, g) = shardGens.min
    val image = imagePath(dir, s, g)
    def probe() = HnswIndex.search(spark, dir, emb.limit(5), "vec_id",
      "embedding", k = 3).collect()
    def searchError(): String = {
      val e = intercept[Exception](probe())
      val named = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case ise: IllegalStateException => ise.getMessage }
        .getOrElse(fail(s"expected a named IllegalStateException, got $e"))
      assert(named.contains(s"live shard $s (g=$g)") &&
        named.contains("HnswIndex.build"), named)
      named
    }
    def overwrite(bytes: Array[Byte]): Unit = {
      val out = fs.create(image, true)
      try out.write(bytes) finally out.close()
    }
    val bytes = imageBytes(dir, s, g)
    val img = HnswImage.read(conf, image)
    val short = new HnswGraph()
    (0 until img.size - 1).foreach(i => short.insert(img.ids(i), img.vector(i)))
    overwrite(HnswImage.encode(short))
    assert(searchError().contains(
      s"image of ${img.size - 1} nodes, but the manifest counts ${counts(s)}"))
    overwrite(bytes.take(bytes.length / 2))
    assert(searchError().contains("truncated"))
    fs.delete(image, false)
    assert(searchError().contains("has no graph image"))
    // the image is the shard's only stored form, so the named repair is
    // a build from the source corpus, and it restores serving
    HnswIndex.build(emb, "vec_id", "embedding", dir, shards = 4)
    assert(probe().length == 15)
  }

  private def qualified(dir: String): String =
    fsOf(dir).makeQualified(new Path(dir)).toString

  /** (query_id, neighbor_id, dist bits, rank), sorted. */
  private def searchRows(dir: String, queries: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Long, Long, Int)] =
    HnswIndex.search(spark, dir, queries, "vec_id", "embedding", k = 5)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
      .sorted

  test("resident shards: a warm search reads no image, and after an append, " +
    "an in-place rebuild over another corpus and a reshard a warm search " +
    "equals a cold one") {
    val dir = tempDir("resident")
    val queries = emb.filter(col("vec_id") < 440).orderBy("vec_id").limit(40)
    // a cold search: this directory's graphs forgotten first
    def cold() = { HnswIndex.resident.evict(qualified(dir)); searchRows(dir, queries) }
    HnswIndex.build(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
      dir, shards = 4)
    val built = cold()
    val read0 = HnswIndex.resident.imageBytesRead
    assert(searchRows(dir, queries) == built)
    assert(HnswIndex.resident.imageBytesRead == read0,
      "a repeated search re-read shard images")
    var previous = built
    def warmEqualsCold(stage: String): Unit = {
      val warm = searchRows(dir, queries)
      assert(warm == cold(), s"$stage: warm search differs from a cold one")
      assert(warm != previous, s"$stage: the operation left the answers " +
        "unchanged, so the comparison shows nothing")
      previous = warm
    }
    HnswIndex.append(spark, dir,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 440),
      "vec_id", "embedding")
    warmEqualsCold("append")
    HnswIndex.build(emb.filter(col("vec_id") >= 150), "vec_id", "embedding",
      dir, shards = 4)
    warmEqualsCold("rebuild")
    HnswIndex.reshard(spark, dir, 3)
    val resharded = searchRows(dir, queries)
    assert(resharded == cold(), "reshard: warm search differs from a cold one")
  }

  test("resident shards: after a warm search, an overwritten, truncated or " +
    "deleted live image still fails the search with its named error") {
    val dir = tempDir("resident_bad")
    HnswIndex.build(emb, "vec_id", "embedding", dir, shards = 4)
    val conf = spark.sessionState.newHadoopConf()
    val fs = fsOf(dir)
    val (_, shardGens, counts) = HnswIndex.readManifest(spark, dir)
    val (s, g) = shardGens.min
    val image = imagePath(dir, s, g)
    def probe() = HnswIndex.search(spark, dir, emb.limit(5), "vec_id",
      "embedding", k = 3).collect()
    def searchError(): String = {
      val e = intercept[Exception](probe())
      val named = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case ise: IllegalStateException => ise.getMessage }
        .getOrElse(fail(s"expected a named IllegalStateException, got $e"))
      assert(named.contains(s"live shard $s (g=$g)") &&
        named.contains("HnswIndex.build"), named)
      named
    }
    def overwrite(bytes: Array[Byte]): Unit = {
      val out = fs.create(image, true)
      try out.write(bytes) finally out.close()
    }
    val bytes = imageBytes(dir, s, g)
    val img = HnswImage.read(conf, image)
    val short = new HnswGraph()
    (0 until img.size - 1).foreach(i => short.insert(img.ids(i), img.vector(i)))
    def warm(): Unit = { overwrite(bytes); assert(probe().length == 15) }
    warm()
    overwrite(HnswImage.encode(short))
    assert(searchError().contains(
      s"image of ${img.size - 1} nodes, but the manifest counts ${counts(s)}"))
    warm()
    overwrite(bytes.take(bytes.length / 2))
    assert(searchError().contains("truncated"))
    warm()
    fs.delete(image, false)
    assert(searchError().contains("has no graph image"))
  }

  test("resident shards: the byte bound holds, least recently used out") {
    val rnd = new scala.util.Random(3)
    def graph(n: Int) = {
      val g = new HnswGraph(m = 4, efConstruction = 8)
      (0 until n).foreach(i => g.insert(i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      g
    }
    val graphs = (0 until 12).map(_ => graph(50))
    val one = graphs.head.residentBytes
    val cache = new graft.knn.ResidentShards(4 * one + one / 2)
    def key(i: Int) = graft.knn.ResidentShards.Key("file:/idx", 1L, 0, i)
    graphs.indices.foreach { i =>
      cache.put(key(i), 100L + i, 7L, graphs(i))(_ => None)
      assert(cache.residentBytes <= cache.boundBytes, s"after graph $i")
      // graph 0 is read on every round, so it stays; the rest age out
      assert(cache.get(key(0), 100L, 7L).contains(graphs(0)))
    }
    assert(cache.residentBytes == 4 * one)
    assert((8 until 12).map(i => cache.get(key(i), 100L + i, 7L)).count(_.nonEmpty) == 3)
    assert(cache.get(key(1), 101L, 7L).isEmpty)
    // a changed length or mtime is a miss
    assert(cache.get(key(11), 111L, 8L).isEmpty && cache.get(key(11), 112L, 7L).isEmpty)
    // a graph above the bound is not kept
    cache.put(key(99), 1L, 1L, graph(400))(_ => None)
    assert(cache.get(key(99), 1L, 1L).isEmpty && cache.residentBytes <= cache.boundBytes)
    cache.evict("file:/idx")
    assert(cache.residentBytes == 0)
  }

  test("resident shards: a miss forgets the graphs of superseded " +
    "generations and of indexes whose images are gone") {
    val (a, b) = (tempDir("resident_a"), tempDir("resident_b"))
    val queries = emb.filter(col("vec_id") < 40)
    // (shard, g) of the graphs kept for `dir`, and of its live shards
    def kept(dir: String) = HnswIndex.resident.keys.filter(_.dir == qualified(dir))
      .map(k => (k.shard, k.gen)).sorted
    def live(dir: String) = HnswIndex.readManifest(spark, dir)._2.toSeq.sorted
    HnswIndex.build(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
      a, shards = 4)
    searchRows(a, queries)
    assert(kept(a) == live(a) && live(a).size == 4)
    val before = live(a)
    HnswIndex.append(spark, a,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 440),
      "vec_id", "embedding")
    searchRows(a, queries)
    assert(live(a) != before, "the append left every generation as it was")
    assert(kept(a) == live(a), "an appended shard's old generation stayed")
    HnswIndex.reshard(spark, a, 3)
    searchRows(a, queries)
    assert(kept(a) == live(a) && live(a).size == 3,
      "the graphs of the pre-reshard layout stayed")
    val paramsGens = HnswIndex.resident.keys.filter(_.dir == qualified(a))
      .map(_.paramsGen).distinct
    assert(paramsGens.size == 1)
    // a deleted index's graphs leave at the next miss of another index
    fsOf(a).delete(new Path(a), true)
    HnswIndex.build(emb.filter(col("vec_id") < 200), "vec_id", "embedding",
      b, shards = 2)
    searchRows(b, queries)
    assert(kept(a).isEmpty && kept(b) == live(b))
  }

  test("persisted index: well-formed search, recall floor, repeat-search identity") {
    val dir = tempDir("e2e")
    val n = HnswIndex.build(emb, "vec_id", "embedding", dir, shards = 8)
    assert(n == emb.count())
    val s1 = HnswIndex.search(spark, dir, emb, "vec_id", "embedding", k = 5)
    val got = s1.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(got.toSet ==
      HnswIndex.search(spark, dir, emb, "vec_id", "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet)
    assert(s1.filter(col("query_id") === col("neighbor_id")).count() == 0)
    assert(s1.groupBy("query_id").count().filter(col("count") =!= 5).count() == 0)
    // recall vs exact kNN
    val exact = KnnJoin.broadcastKnn(emb, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val approx = got.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val hits = exact.map { case (q, t) =>
      approx.get(q).map(a => (a intersect t).size).getOrElse(0)
    }.sum
    val recall = hits.toDouble / (exact.size * 5)
    assert(recall > 0.8, s"persisted-HNSW recall@5 too low: $recall")
  }

  test("quality drift across an operational mix: recall floor holds " +
    "after interleaved appends, vacuum and reshard") {
    // The membership/lateness oracles (q96/q97/q98) pin WHAT is in the
    // graph, not how well it searches; the q49/q58 recall floors pin a
    // build-then-search fixture only. This drives the graph through
    // the operational life an index actually lives — append, vacuum,
    // append, reshard, append — and measures recall@10 vs brute force
    // after EVERY stage across ef, so a graph quality regression from
    // any maintenance op fails here instead of surfacing as silent
    // result decay in production.
    val dir = tempDir("drift")
    val base = emb.filter(col("vec_id") < 300)
    val b1 = emb.filter(col("vec_id") >= 300 && col("vec_id") < 380)
    val b2 = emb.filter(col("vec_id") >= 380 && col("vec_id") < 440)
    val b3 = emb.filter(col("vec_id") >= 440)
    val queries = emb.filter(col("vec_id") < 50)
    // the ONE shared harness (graft.knn.HnswDrift) — the scale probe
    // runs the same mix, so spec floor and probe numbers cannot drift
    // apart
    val curve = graft.knn.HnswDrift.runMix(spark, dir,
      base, b1, b2, b3, queries, "vec_id", "embedding",
      shards = 4, reshardTo = 3, efs = Seq(32, 128))
    curve.foreach { case (stage, r) =>
      // the q49-family floor, held at EVERY stage of the mix at the
      // wide beam; the narrow beam asserts a sane (looser) floor so a
      // degenerate graph fails even where beam width could mask it
      assert(r(128) >= 0.8, s"recall@10 ef=128 after $stage: ${r(128)}")
      assert(r(32) >= 0.5, s"recall@10 ef=32 after $stage: ${r(32)}")
      // widening the beam must never cost recall materially
      assert(r(128) >= r(32) - 0.02,
        s"ef=128 below ef=32 after $stage: $r")
    }
  }

  test("append rebuild: one touched shard per task (slot placement), " +
    "insert order id-ascending regardless of arrival order") {
    import spark.implicits._
    val shards = 8
    val dir = tempDir("slotappend")
    val base = emb.filter(col("vec_id") < 300)
    HnswIndex.build(base, "vec_id", "embedding", dir, shards = shards)
    val fresh = emb.filter(col("vec_id") >= 300)
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<float>").as("vec"))
      .withColumn("shard", pmod(xxhash64(col("id")), lit(shards)).cast("int"))
      // REVERSED arrival order: the rebuild must re-sort inserts by id,
      // so persisted state stays arrival-order-independent
      .orderBy(desc("id"))
    val touched = (0 until shards).toSeq
    // the rebuild stages into the next generation, uncommitted: the
    // append below clears it as crash debris
    val (gen, shardGens, counts) = HnswIndex.readManifest(spark, dir)
    val rebuilt = HnswIndex.rebuildTouchedShards(
      fresh.select("shard", "id", "vec"), touched, dir, shardGens, counts,
      gen + 1, HnswIndex.open(spark, dir).meta)
    // the ShardSlots contract end to end on the APPEND path: every
    // touched shard rebuilds alone in its own task — the cogroup shape
    // this replaced idled ~1/e of the tasks on Murmur3 collisions
    val placed = rebuilt
      .select(col("shard"), spark_partition_id().as("pid"))
      .distinct().collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(placed.length == shards, s"shards split across tasks: $placed")
    assert(placed.map(_._2).distinct.length == shards,
      s"two shards shared a rebuild task: $placed")
    // arrival-order independence: the same append via the public API
    // (which hits this helper) must answer full-beam searches exactly
    // like a fresh build over the union — the byte-determinism contract
    HnswIndex.append(spark, dir, emb.filter(col("vec_id") >= 300)
      .orderBy(desc("vec_id")), "vec_id", "embedding")
    val dir2 = tempDir("slotappend_fresh")
    HnswIndex.build(emb, "vec_id", "embedding", dir2, shards = shards)
    val n = emb.count().toInt
    def fullBeam(d: String) = HnswIndex
      .search(spark, d, emb, "vec_id", "embedding", k = 5, efSearch = n + 8)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fullBeam(dir) == fullBeam(dir2),
      "append-built index diverged from fresh build at full beam")
  }

  test("reshard: full-beam search identical before and after; byte-deterministic vs fresh build") {
    val dir = tempDir("reshard")
    val n = emb.count().toInt
    HnswIndex.build(emb, "vec_id", "embedding", dir, shards = 8)
    // full beam: every shard's whole graph is explored, so the merged
    // top-k is the exact kNN regardless of how ids are sharded
    def fullBeam(d: String) = HnswIndex
      .search(spark, d, emb, "vec_id", "embedding", k = 5, efSearch = n + 8)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val before = fullBeam(dir)
    val moved = HnswIndex.reshard(spark, dir, newShards = 3)
    assert(moved == n.toLong)
    assert(fullBeam(dir) == before,
      "full-beam search changed across reshard")
    // the resharded index IS a fresh build at the new shard count: same
    // deterministic recipe → byte-identical graph images (the
    // byte-determinism contract extended to reshard)
    val fresh = tempDir("reshard_fresh")
    HnswIndex.build(emb, "vec_id", "embedding", fresh, shards = 3)
    def images(d: String): Map[Int, Array[Byte]] =
      HnswIndex.readManifest(spark, d)._2.map { case (s, g) =>
        s -> imageBytes(d, s, g) }
    val (resharded, built) = (images(dir), images(fresh))
    assert(resharded.keySet == (0 until 3).toSet &&
      resharded.keySet == built.keySet)
    resharded.foreach { case (s, bytes) =>
      assert(java.util.Arrays.equals(bytes, built(s)),
        s"shard $s: resharded image differs from a fresh build's")
    }
    // params carry the new count; a later append routes by it
    HnswIndex.append(spark, dir,
      emb.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")),
      "vec_id", "embedding")
    assert(HnswIndex.stats(spark, dir).collect().map(_.getLong(1)).sum == 2L * n)
  }

  test("reshard crash recovery: marker rolls back before the manifest commit, forward after") {
    val dir = tempDir("reshard_crash")
    HnswIndex.build(emb, "vec_id", "embedding", dir, shards = 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def params = spark.read.parquet(s"$dir/params")
      .select("shards").collect().head.getInt(0)
    // simulate a crash AFTER the params swap but BEFORE the manifest
    // commit: params renamed, marker present, manifest still at gen 0
    val p = new org.apache.hadoop.fs.Path(s"$dir/params")
    fs.rename(p, new org.apache.hadoop.fs.Path(s"$dir/params.old"))
    spark.read.parquet(s"$dir/params.old").withColumn("shards", lit(2))
      .select("m", "metric", "shards", "ef_construction", "seed")
      .repartition(1).write.parquet(s"$dir/params")
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_reshard_commit")
    val out = fs.create(marker, false)
    out.write("1".getBytes("UTF-8")); out.close()
    HnswIndex.recover(spark, dir)
    assert(params == 4, "un-committed reshard must roll back to the old params")
    assert(!fs.exists(marker))
    // a REAL reshard then works and commits
    HnswIndex.reshard(spark, dir, newShards = 2)
    assert(params == 2)
    assert(HnswIndex.stats(spark, dir).collect().map(_.getLong(1)).sum == emb.count())
  }

  test("rebuild over a live index is generation-staged: pre-commit crash " +
    "keeps the old corpus and watermark; the commit swaps and clears both") {
    val dir = tempDir("atomic_rebuild")
    val base = emb.filter(col("vec_id") < 150)
    val next = emb.filter(col("vec_id") >= 150 && col("vec_id") < 300)
    HnswIndex.build(base, "vec_id", "embedding", dir, shards = 4)
    graft.streaming.IngestWatermark.write(spark, dir, 42L)
    def probeIds() = HnswIndex.search(spark, dir, emb.limit(20), "vec_id",
        "embedding", k = 3)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    val before = probeIds()
    assert(before.nonEmpty && before.forall(_ < 150))

    // crash-sim: a rebuild staged its params and build marker, died
    // before the swap — the next writer entry must roll BACK
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    spark.read.parquet(s"$dir/params").repartition(1)
      .write.parquet(s"$dir/params.tmp")
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_reshard_commit")
    val out = fs.create(marker, false)
    out.write("build:1".getBytes("UTF-8")); out.close()
    HnswIndex.vacuum(spark, dir) // writer entry heals
    assert(!fs.exists(marker))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/params.tmp")))
    assert(probeIds() == before, "pre-commit crash changed the live index")
    assert(graft.streaming.IngestWatermark.read(spark, dir) == 42L,
      "pre-commit crash must keep the old corpus's watermark")

    // the real rebuild: atomically swaps corpora, clears the watermark,
    // and retires the superseded generation dirs
    HnswIndex.build(next, "vec_id", "embedding", dir, shards = 4)
    val after = probeIds()
    assert(after.nonEmpty && after.forall(id => id >= 150 && id < 300),
      "rebuilt index still answers from the old corpus")
    assert(graft.streaming.IngestWatermark.read(spark, dir) == Long.MinValue,
      "rebuild must clear the previous corpus's watermark")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/nodes/g=0")),
      "superseded generation not retired after the commit")
  }

  test("build clears stale reshard debris; later writers keep the fresh params") {
    // a reshard of the PREVIOUS index dies mid-swap, the operator
    // recovers by rebuilding from scratch: a stale marker (target 1)
    // left for a later writer's recover would roll the FRESH params
    // back to the previous index's params.old — build must heal the
    // debris at entry, before its own commit
    val dir = tempDir("reshard_debris_build")
    HnswIndex.build(emb, "vec_id", "embedding", dir, shards = 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    spark.read.parquet(s"$dir/params").withColumn("shards", lit(2))
      .select("m", "metric", "shards", "ef_construction", "seed")
      .repartition(1).write.parquet(s"$dir/params.old")
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_reshard_commit")
    val out = fs.create(marker, false)
    out.write("1".getBytes("UTF-8")); out.close()
    HnswIndex.build(emb, "vec_id", "embedding", dir, shards = 8)
    assert(!fs.exists(marker), "build must clear the stale reshard marker")
    HnswIndex.append(spark, dir,
      emb.orderBy("vec_id").limit(3)
        .select((col("vec_id") + 5000000).as("vec_id"), col("embedding")),
      "vec_id", "embedding")
    assert(spark.read.parquet(s"$dir/params")
      .select("shards").collect().head.getInt(0) == 8,
      "a writer after the rebuild must keep the fresh params")
    assert(HnswIndex.stats(spark, dir).collect().map(_.getLong(1)).sum ==
      emb.count() + 3L)
  }

  test("a crashed fresh build's debris is replaced, not duplicated: stray " +
    "g=0 rows and a torn manifest temp under no committed manifest") {
    val dir = tempDir("fresh_debris")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the state a fresh build leaves when it dies inside writeManifest:
    // a full g=0 generation on disk, the manifest temp, no m000000.json
    val crashed = tempDir("fresh_debris_src")
    HnswIndex.build(emb, "vec_id", "embedding", crashed, shards = 4)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/nodes"))
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$crashed/nodes/g=0"),
      new org.apache.hadoop.fs.Path(s"$dir/nodes/g=0")))
    val torn = fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/manifest/.m000000.json.inprogress"), false)
    torn.write("{\"shards\":".getBytes("UTF-8")); torn.close()

    val n = emb.count()
    assert(HnswIndex.build(emb, "vec_id", "embedding", dir, shards = 4) == n)
    val manifests = new java.io.File(s"$dir/manifest").list().toSet
    assert(manifests.filterNot(_.startsWith(".")) == Set("m000000.json") &&
      !manifests.exists(_.endsWith(".inprogress")), s"manifests: $manifests")
    val ids = HnswIndex.readIds(spark, dir).collect().map(_.getLong(0))
    assert(ids.length == n, "stray g=0 nodes were committed beside the build")
    assert(ids.distinct.length == n)
    assert(HnswIndex.stats(spark, dir).collect().map(_.getLong(1)).sum == n)
    def nodeTree(): Set[String] =
      new java.io.File(s"$dir/nodes").listFiles().flatMap(g =>
        Option(g.listFiles()).toSeq.flatten.map(sh => s"${g.getName}/${sh.getName}"))
        .toSet
    val before = nodeTree()
    HnswIndex.vacuum(spark, dir)
    assert(nodeTree() == before, "vacuum found orphans under nodes/")
  }

  test("malformed commit marker fails with a named error; marker temps " +
    "are swept at writer entry") {
    val dir = tempDir("badmarker")
    HnswIndex.build(emb, "vec_id", "embedding", dir, shards = 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // markers publish atomically (temp + rename), so garbage content is
    // real corruption — the parse must name it, not throw a bare
    // NumberFormatException
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_reshard_commit")
    val out = fs.create(marker, false)
    out.write("build:".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalArgumentException] {
      HnswIndex.append(spark, dir, emb.limit(0)
        .select((col("vec_id") + 900000L).as("vec_id"), col("embedding")),
        "vec_id", "embedding")
    }
    assert(e.getMessage.contains("malformed commit marker"))
    fs.delete(marker, false)
    // a crashed writeMarker's temp is dot-prefixed debris, swept on entry
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/._reshard_commit.tmp"),
      false).close()
    HnswIndex.vacuum(spark, dir)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/._reshard_commit.tmp")))
  }

  test("append on an index with a crashed reshard heals it first") {
    // the IvfIndex recover discipline: EVERY writer entry runs
    // recovery, not just reshard and the streaming thunk — without it a
    // direct append would read the dead reshard's uncommitted params
    // (shards=2 here), route new ids by the wrong count, and check
    // presence against shards the committed 4-way layout doesn't map
    // the same way, silently admitting duplicate nodes
    val dir = tempDir("reshard_crash_append")
    HnswIndex.build(emb, "vec_id", "embedding", dir, shards = 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val p = new org.apache.hadoop.fs.Path(s"$dir/params")
    fs.rename(p, new org.apache.hadoop.fs.Path(s"$dir/params.old"))
    spark.read.parquet(s"$dir/params.old").withColumn("shards", lit(2))
      .select("m", "metric", "shards", "ef_construction", "seed")
      .repartition(1).write.parquet(s"$dir/params")
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_reshard_commit")
    val out = fs.create(marker, false)
    out.write("1".getBytes("UTF-8")); out.close()
    // ONE deterministic 5-row batch for both appends: a bare limit(5)
    // is plan-dependent and two evaluations could pick different rows,
    // making the duplicate-rejection intercept below spurious
    val batch5 = emb.orderBy("vec_id").limit(5)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      .cache()
    // direct append, NO explicit recovery call — the append must heal
    val appended = HnswIndex.append(spark, dir, batch5,
      "vec_id", "embedding")
    assert(appended == 5L)
    assert(!fs.exists(marker), "append must consume the reshard marker")
    assert(spark.read.parquet(s"$dir/params")
      .select("shards").collect().head.getInt(0) == 4,
      "append must roll the uncommitted params back before routing")
    // the healed presence check SEES the appended ids (it reads the
    // committed 4-way layout, not the dead reshard's 2-way routing):
    // re-appending the same rows is rejected, not silently duplicated
    val dup = intercept[Exception] {
      HnswIndex.append(spark, dir, batch5, "vec_id", "embedding")
    }
    assert(dup.getMessage.contains("already present"))
    assert(HnswIndex.stats(spark, dir).collect().map(_.getLong(1)).sum ==
      emb.count() + 5L)
  }

  test("stats: live-generation shard occupancy sums to the corpus") {
    val dir = tempDir("stats")
    HnswIndex.build(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      dir, shards = 4)
    HnswIndex.append(spark, dir, emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding")
    val st = HnswIndex.stats(spark, dir).collect()
    // append rewrote some shards into a new generation — stats must read
    // the MANIFEST's live paths, never stale generations
    assert(st.map(_.getLong(1)).sum == emb.count())
    assert(st.forall(_.getLong(1) > 0))
  }

  test("params ride the index: cosine build searches as cosine; bad metric throws") {
    val dir = tempDir("cos")
    HnswIndex.build(emb, "vec_id", "embedding", dir, shards = 4,
      metric = KnnJoin.MetricCosine)
    val exactCos = KnnJoin.broadcastKnn(emb, emb, "vec_id", "embedding", 5,
        KnnJoin.MetricCosine)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    // search takes NO metric argument — it must come back cosine from params/
    val got = HnswIndex.search(spark, dir, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = exactCos.map { case (q, t) =>
      got.get(q).map(g => (g intersect t).size).getOrElse(0)
    }.sum
    val recall = hits.toDouble / (exactCos.size * 5)
    assert(recall > 0.8, s"persisted cosine recall@5 too low: $recall")
    intercept[IllegalArgumentException](
      HnswIndex.build(emb.limit(5), "vec_id", "embedding", tempDir("bad"),
        metric = "manhattan"))
  }

  test("build on an empty corpus fails fast; a previous index stays intact") {
    val dir = tempDir("emptybuild")
    HnswIndex.build(emb, "vec_id", "embedding", dir)
    val q = emb.limit(10)
    def probe() = HnswIndex
      .search(spark, dir, q, "vec_id", "embedding", k = 3, efSearch = 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probe()
    // an empty rebuild used to delete the manifest FIRST and then die on
    // nodes/ schema inference — directory unreadable, no recovery path
    val e = intercept[IllegalArgumentException] {
      HnswIndex.build(emb.limit(0), "vec_id", "embedding", dir)
    }
    assert(e.getMessage.contains("empty candidate side"))
    assert(probe() == before, "failed empty build damaged the live index")
  }

  test("append inserts into affected shards only; appended index searches the union") {
    val dir = tempDir("app")
    val base = emb.filter(col("vec_id") < 300)
    val extra = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    HnswIndex.build(base, "vec_id", "embedding", dir, shards = 8)
    def statsCounts() = HnswIndex.stats(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val before = statsCounts()
    val n = HnswIndex.append(spark, dir, extra, "vec_id", "embedding")
    assert(n == extra.count())
    assert(statsCounts().values.sum == before.values.sum + n)
    // every persisted node row is intact and searchable: appended ids are
    // reachable with perfect self-recall at the ef used for the beam
    val got = HnswIndex.search(spark, dir, extra, "vec_id", "embedding",
        k = 1, excludeSelf = false)
      .filter(col("rank") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == extra.count())
    got.foreach { case (q, nbr, d) => assert(q == nbr && d == 0.0) }
    // recall floor over the union
    val all = emb.filter(col("vec_id") < 400)
    val exact = KnnJoin.broadcastKnn(all, all, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val approx = HnswIndex.search(spark, dir, all, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = exact.map { case (q, t) =>
      approx.get(q).map(g => (g intersect t).size).getOrElse(0)
    }.sum
    val recall = hits.toDouble / (exact.size * 5)
    assert(recall > 0.8, s"post-append recall@5 too low: $recall")

    // a three-row batch routes to at most three of the eight shards; the
    // others are neither read into a new generation nor rewritten: same
    // generation, same image bytes and modification time
    val small = emb.filter(col("vec_id") >= 400 && col("vec_id") < 403)
    val routed = small
      .select(pmod(xxhash64(col("vec_id").cast("long")), lit(8)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(routed.nonEmpty && routed.size <= 3)
    val (gen0, gens0, _) = HnswIndex.readManifest(spark, dir)
    val fs = fsOf(dir)
    def image(s: Int, g: Int) = (imageBytes(dir, s, g).toSeq,
      fs.getFileStatus(imagePath(dir, s, g)).getModificationTime)
    val images0 = gens0.map { case (s, g) => s -> image(s, g) }
    assert(HnswIndex.append(spark, dir, small, "vec_id", "embedding") == 3L)
    val (_, gens1, _) = HnswIndex.readManifest(spark, dir)
    assert(gens1.keySet == gens0.keySet)
    gens1.foreach { case (s, g) =>
      if (routed(s)) assert(g == gen0 + 1, s"touched shard $s not rewritten")
      else {
        assert(g == gens0(s), s"untouched shard $s moved to g=$g")
        assert(image(s, g) == images0(s), s"untouched shard $s was rewritten")
      }
    }
    assert(statsCounts().values.sum == before.values.sum + n + 3L)
  }

  test("append is manifest-committed: an orphaned generation from a crashed append is invisible") {
    val dir = tempDir("crash")
    val base = emb.filter(col("vec_id") < 200)
    HnswIndex.build(base, "vec_id", "embedding", dir, shards = 4)
    def results() = HnswIndex.search(spark, dir, base.limit(40), "vec_id",
        "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val before = results()
    // simulate an append that crashed after staging its new generation but
    // BEFORE the manifest rename: copy every live shard into g=99.
    // If search read it, every neighbor would appear twice and ranks shift.
    stageDebris(dir, 99)
    assert(results() == before,
      "orphaned uncommitted generation leaked into search results")
  }

  test("append retry after a staging-only crash equals a clean append") {
    val dirCrash = tempDir("retry")
    val dirClean = tempDir("retry_clean")
    val base = emb.filter(col("vec_id") < 200)
    val rest = emb.filter(col("vec_id") >= 200 && col("vec_id") < 260)
    HnswIndex.build(base, "vec_id", "embedding", dirCrash, shards = 4)
    HnswIndex.build(base, "vec_id", "embedding", dirClean, shards = 4)
    // simulate attempt #1 crashing AFTER staging images into g=1 but
    // BEFORE the manifest commit: plausible shard images sit in the exact
    // directory the retry will stage into
    stageDebris(dirCrash, 1)
    // the retry must clear the debris first — otherwise the commit could
    // publish a stale image in place of a rebuilt shard
    HnswIndex.append(spark, dirCrash, rest, "vec_id", "embedding")
    HnswIndex.append(spark, dirClean, rest, "vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 260).limit(60)
    def results(dir: String) = HnswIndex
      .search(spark, dir, q, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(results(dirCrash) == results(dirClean),
      "staging debris from the crashed attempt leaked into the committed index")
  }

  test("rebuild-in-place after appends: fresh build clears stale manifests") {
    val dir = tempDir("rebuild")
    val base = emb.filter(col("vec_id") < 200)
    val extra = emb.filter(col("vec_id") >= 200 && col("vec_id") < 260)
    HnswIndex.build(base, "vec_id", "embedding", dir, shards = 4)
    HnswIndex.append(spark, dir, extra, "vec_id", "embedding")
    // rebuild into the same dir with ONLY the base rows: without manifest
    // cleanup the surviving m000001.json would outrank the fresh m000000
    // and resolve generation dirs the Overwrite just deleted
    HnswIndex.build(base, "vec_id", "embedding", dir, shards = 4)
    val got = HnswIndex.search(spark, dir, base, "vec_id", "embedding",
        k = 1, excludeSelf = false)
      .filter(col("rank") === 1).collect()
    assert(got.length == base.count())
    got.foreach(r => assert(r.getLong(0) == r.getLong(1) && r.getDouble(2) == 0.0))
    // the appended-only ids are gone from the rebuilt index
    val nbrs = HnswIndex.search(spark, dir, extra, "vec_id", "embedding",
        k = 3, excludeSelf = false)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(nbrs.forall(_ < 200))
  }

  test("vacuum removes orphaned generations and stale manifests, search unaffected") {
    val dir = tempDir("vac")
    val base = emb.filter(col("vec_id") < 200)
    val extra = emb.filter(col("vec_id") >= 200 && col("vec_id") < 240)
    HnswIndex.build(base, "vec_id", "embedding", dir, shards = 4)
    def results() = HnswIndex.search(spark, dir, emb.limit(40), "vec_id",
        "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    // crash-sim: a staged generation with no manifest commit
    stageDebris(dir, 77)
    // a committed append leaves a superseded manifest m000000 behind too
    HnswIndex.append(spark, dir, extra, "vec_id", "embedding")
    val before = results()
    val removed = HnswIndex.vacuum(spark, dir)
    assert(removed > 0, "vacuum found nothing to remove")
    assert(results() == before, "vacuum changed search results")
    // orphan generation is gone; only the live manifest remains
    val gens = new java.io.File(s"$dir/nodes").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(!gens.contains("g=77"))
    val manifests = new java.io.File(s"$dir/manifest").listFiles()
      .map(_.getName).filter(_.endsWith(".json")).toSet
    assert(manifests == Set("m000001.json"))
    // second vacuum is a no-op
    assert(HnswIndex.vacuum(spark, dir) == 0)
  }

  test("manifest-less layout fails with a clear message, not FileNotFoundException") {
    // simulate a legacy/foreign layout: params exist, manifest/ absent
    val dir = tempDir("notidx")
    import spark.implicits._
    Seq((8, "l2sq", 4, 100, 42))
      .toDF("m", "metric", "shards", "ef_construction", "seed")
      .write.parquet(s"$dir/params")
    val e = intercept[IllegalArgumentException](
      HnswIndex.search(spark, dir, emb.limit(1), "vec_id", "embedding", k = 1))
    assert(e.getMessage.contains("no committed manifest"))
  }

  test("index build is layout-independent: rebuild from shuffled input answers identically") {
    val d1 = tempDir("a")
    val d2 = tempDir("b")
    HnswIndex.build(emb, "vec_id", "embedding", d1, shards = 4)
    // different source partitioning/order must yield the same persisted
    // answers: shard = hash(id), insertion id-ascending within shard
    HnswIndex.build(emb.repartition(13).sortWithinPartitions(desc("vec_id")),
      "vec_id", "embedding", d2, shards = 4)
    def res(d: String) =
      HnswIndex.search(spark, d, emb.limit(50), "vec_id", "embedding", k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(res(d1) == res(d2))
  }

  test("manifest counts: maintained by build/append/reshard, equal to " +
    "stats(), feed the search beam law, and a legacy counts-less " +
    "manifest is inert then heals on append") {
    import org.apache.hadoop.fs.Path
    import java.nio.charset.StandardCharsets
    val dir = tempDir("counts")
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    def liveManifest(): Path = {
      val pat = "m(\\d{6,})\\.json".r
      fs.listStatus(new Path(s"$dir/manifest")).toSeq
        .flatMap(st => st.getPath.getName match {
          case pat(n) => Some(n.toInt -> st.getPath)
          case _ => None
        }).maxBy(_._1)._2
    }
    def manifestBody(): String = {
      val in = fs.open(liveManifest())
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    }
    def manifestCounts(): Map[Int, Long] = {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(manifestBody()).path("counts")
      assert(node.isObject, s"manifest has no counts: ${manifestBody()}")
      val m = scala.collection.mutable.Map.empty[Int, Long]
      node.fields().forEachRemaining(e =>
        m += e.getKey.toInt -> e.getValue.asLong())
      m.toMap
    }
    def statsCounts(): Map[Int, Long] = HnswIndex.stats(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    // every writer keeps the manifest's counts equal to the scanned
    // truth (stats): the serving path sizes its beam off them, so a
    // stale count would silently mis-beam every later search
    HnswIndex.build(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
      dir, shards = 4)
    assert(manifestCounts() == statsCounts(), "after build")
    HnswIndex.append(spark, dir,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 380),
      "vec_id", "embedding")
    assert(manifestCounts() == statsCounts(), "after append")
    HnswIndex.reshard(spark, dir, 3)
    assert(manifestCounts() == statsCounts(), "after reshard")

    // below BeamLaw.HoldKeys the law is inert: search with and without
    // it answers identically — no small-corpus caller pays anything
    val q = emb.filter(col("vec_id") < 30)
    def got(auto: Boolean) = HnswIndex.search(spark, dir, q,
        "vec_id", "embedding", k = 5, efAutoScale = auto)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got(auto = true) == got(auto = false))
    // ...and it defaults ON (the untuned caller gets the law — the
    // point of it), pinned via the synthetic $default$9
    // (spark, dir, queries, idCol, vecCol, k, efSearch, excludeSelf, efAutoScale)
    assert(HnswIndex.getClass.getMethod("search$default$9")
      .invoke(HnswIndex).asInstanceOf[Boolean],
      "HnswIndex.search efAutoScale default off")
    // the law the manifest counts feed is the ONE BeamLaw the grid gate
    // uses (its anchors are spec-pinned in SemLinkGridSpec)
    assert(graft.knn.BeamLaw.autoEf(64, 1000000L) == 128)
    // search's beam resolution, pinned at the decision function (the
    // graph clamps ef to >= k, so result-level observation can't
    // distinguish beams at spec-sized corpora): the law fires only with
    // auto ON and COMPLETE counts — a 10^6-node manifest doubles the
    // default beam; auto off, an incomplete/legacy counts map, and the
    // full-beam sentinel all pin the raw knob. hnswBlockKnn and the
    // drift harness call search with efAutoScale=false (their callers
    // own the law / the recorded ef), so the law applies exactly once
    // on every path.
    // the law keys on PER-SHARD coverage under the 32-shard calibration
    // geometry (BeamLaw.equivalentKeys — SCALE_r21_beamlaw_*): two
    // 500k-node shards are the coverage of a 16e6-key calibration
    // corpus (3 doublings), NOT of their raw 1e6 total
    val sg = Map(0 -> 1, 1 -> 1)
    val full = Map(0 -> 600000L, 1 -> 400000L)
    assert(graft.knn.BeamLaw.equivalentKeys(1000000L, 2) == 16000000L)
    assert(HnswIndex.effectiveEf(64, efAutoScale = true, sg, full) == 512)
    assert(HnswIndex.effectiveEf(64, efAutoScale = false, sg, full) == 64)
    assert(HnswIndex.effectiveEf(64, efAutoScale = true, sg,
      full - 1) == 64, "incomplete counts must leave the law inert")
    assert(HnswIndex.effectiveEf(0, efAutoScale = true, sg, full) == 0,
      "full-beam sentinel must never scale")
    // the three measured geometries of the per-shard keying:
    // 32 shards = the calibration geometry — equivalent keys ARE total
    // keys, behavior bit-identical to the total-N law at every tier
    val sg32 = (0 until 32).map(_ -> 1).toMap
    val c32 = (0 until 32).map(_ -> 31250L).toMap
    assert(graft.knn.BeamLaw.equivalentKeys(1000000L, 32) == 1000000L)
    assert(HnswIndex.effectiveEf(64, efAutoScale = true, sg32, c32) == 128)
    // the saturated AUTO path: 160 shards at the TargetShardNodes
    // ceiling (the 5e6-key tier SCALE_r21_beamlaw_clustered measured:
    // ef 128 serves 0.9953, anchor-level) — the law caps at ONE
    // doubling instead of total-N's two
    val sg160 = (0 until 160).map(_ -> 1).toMap
    val c160 = (0 until 160).map(_ -> 31250L).toMap
    assert(graft.knn.BeamLaw.equivalentKeys(5000000L, 160) == 1000000L)
    assert(HnswIndex.effectiveEf(64, efAutoScale = true, sg160, c160) == 128,
      "saturated auto shards must hold the 1e6-anchor beam, not double on")
    // empty manifest: nothing sharded, law inert at base
    assert(graft.knn.BeamLaw.equivalentKeys(0L, 0) == 0L)
    assert(HnswIndex.effectiveEf(64, efAutoScale = true,
      Map.empty[Int, Int], Map.empty[Int, Long]) == 64)

    // legacy manifest (written before counts rode along): strip counts
    // in place — search must still answer (raw beam, law inert rather
    // than guessing a size), and the NEXT append heals the counts from
    // the live layout
    val body = manifestBody()
    val stripped = body.replaceAll(""","counts":\{[^}]*\}""", "")
    assert(stripped != body, "counts strip did not match")
    val live = liveManifest()
    val out = fs.create(live, true)
    try out.write(stripped.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    assert(got(auto = true) == got(auto = false), "legacy search broken")
    HnswIndex.append(spark, dir,
      emb.filter(col("vec_id") >= 380 && col("vec_id") < 440),
      "vec_id", "embedding")
    assert(manifestCounts() == statsCounts(), "append did not heal counts")
  }

  test("staleness: one-row health surface — zero-job size/skew/beam from " +
    "the manifest, orphan bookkeeping tracks vacuum, legacy counts go " +
    "inert not wrong") {
    import org.apache.hadoop.fs.Path
    import java.nio.charset.StandardCharsets
    val dir = tempDir("stale")
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    def liveManifest(): Path = {
      val pat = "m(\\d{6,})\\.json".r
      fs.listStatus(new Path(s"$dir/manifest")).toSeq
        .flatMap(st => st.getPath.getName match {
          case pat(n) => Some(n.toInt -> st.getPath)
          case _ => None
        }).maxBy(_._1)._2
    }
    def rewriteManifest(f: String => String): Unit = {
      val live = liveManifest()
      val in = fs.open(live)
      val body = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      val out = fs.create(live, true)
      try out.write(f(body).getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    def row() = HnswIndex.staleness(spark, dir).collect()(0)

    HnswIndex.build(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
      dir, shards = 4)
    val statsCounts = HnswIndex.stats(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val r0 = row()
    assert(r0.getLong(0) == statsCounts.values.sum, "n_nodes != live corpus")
    assert(r0.getInt(1) == 4, "n_shards")
    assert(r0.getLong(2) == statsCounts.values.max, "max_shard_nodes")
    val expectSkew = statsCounts.values.max.toDouble /
      (statsCounts.values.sum.toDouble / 4)
    assert(math.abs(r0.getDouble(3) - expectSkew) < 1e-9, "shard_skew")
    assert(r0.getBoolean(4), "beam law must be active on a v2 manifest")
    assert(r0.getInt(5) == 64 && r0.getInt(6) == 64 && r0.getInt(7) == 0,
      "below HoldKeys the reported beam is the raw base at zero doublings")
    assert(r0.getLong(8) == 0, "fresh build has no orphans")

    // an append supersedes the old manifest (best-effort deletes clear
    // the old generation dirs locally) — the health row must surface the
    // debris vacuum would reclaim, and drop to zero after vacuum runs
    HnswIndex.append(spark, dir,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 360),
      "vec_id", "embedding")
    assert(row().getLong(8) > 0, "superseded manifest not counted as orphan")
    HnswIndex.vacuum(spark, dir)
    assert(row().getLong(8) == 0, "orphans survive vacuum")

    // the beam the law will pick is reported from the manifest counts
    // alone: a (faked) 10^6-node manifest over 4 shards is 250k-node
    // shards — per-shard-keyed equivalent 8e6 (BeamLaw.equivalentKeys),
    // two doublings at the default base — the capacity signal, with
    // zero Spark jobs, consistent with what search will actually run
    rewriteManifest(_.replaceAll(""""counts":\{[^}]*\}""",
      s""""counts":{${statsCounts.keys.toSeq.sorted
        .map(s => s""""$s":250000""").mkString(",")}}"""))
    val rBig = row()
    assert(rBig.getLong(0) == 1000000L)
    assert(rBig.getInt(6) == 256 && rBig.getInt(7) == 2,
      "effective_ef/beam_doublings must report the per-shard-keyed law")

    // legacy counts-less manifest: size unknown — null n_nodes/skew and
    // beam_law_active=false (the effective beam honestly reports the raw
    // base the search will actually run), never a guessed size
    rewriteManifest(_.replaceAll(""","counts":\{[^}]*\}""", ""))
    val rLegacy = row()
    assert(rLegacy.isNullAt(0) && rLegacy.isNullAt(2) && rLegacy.isNullAt(3),
      "legacy manifest must report unknown size, not a guess")
    assert(!rLegacy.getBoolean(4), "law must be inert on a legacy manifest")
    assert(rLegacy.getInt(6) == 64 && rLegacy.getInt(7) == 0)
  }

  test("ef_search persisted in params: staleness reports the beam the " +
    "index will actually serve (not an argument), an untuned search " +
    "serves it, reshard preserves it, and legacy layouts read as 64") {
    val dir = tempDir("efparam")
    val corpus = emb.filter(col("vec_id") < 300)
    // builder declares a non-default serving beam
    HnswIndex.build(corpus, "vec_id", "embedding", dir, shards = 4,
      efSearch = 96)
    def staleRow() = HnswIndex.staleness(spark, dir).collect()(0)
    val r0 = staleRow()
    assert(r0.getInt(5) == 96,
      "staleness base_ef must come from the persisted serving beam")
    assert(r0.getInt(6) == 96, "law inert below HoldKeys: effective == base")
    // the explicit baseEf argument still overrides (what-if probing)
    val rOver = HnswIndex.staleness(spark, dir, baseEf = 32).collect()(0)
    assert(rOver.getInt(5) == 32 && rOver.getInt(6) == 32)
    // an UNTUNED search runs the declared beam: ef 96 >= corpus size
    // here, so it must match the full-beam top-k exactly,
    // while a deliberately narrow explicit beam is allowed to differ
    // (and an explicit efSearch still overrides — same knob as before)
    val q = corpus.limit(8)
    val untuned = HnswIndex.search(spark, dir, q, "vec_id", "embedding",
        k = 3)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = HnswIndex.search(spark, dir, q, "vec_id", "embedding",
        k = 3, efSearch = 0)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(untuned == full,
      "untuned search did not serve the declared (saturating) beam")
    // reshard keeps the corpus AND the declared serving beam
    HnswIndex.reshard(spark, dir, 2)
    assert(staleRow().getInt(5) == 96, "reshard dropped ef_search")
    // legacy layout (params written before the column): strip ef_search
    // from the persisted row — reads as the engine-wide default 64
    val legacy = spark.read.parquet(s"$dir/params")
      .drop("ef_search")
    legacy.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/params_legacy")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/params"), true)
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/params_legacy"),
      new org.apache.hadoop.fs.Path(s"$dir/params")))
    assert(staleRow().getInt(5) == 64,
      "legacy params must read as the default 64, not fail or guess")
    // a pre-shape-column legacy layout also reads null rc/shape — the
    // probe never ran, so the health row reports no evidence
    val rLeg = staleRow()
    assert(rLeg.isNullAt(9) && rLeg.isNullAt(10),
      "legacy params must report null shape evidence")
  }

  test("shape-resolved serving beam: an untuned build past the probe " +
    "threshold measures the catalog and persists the measured base for " +
    "its shape; explicit beams and below-threshold builds stay unprobed; " +
    "reshard carries the evidence and a rebuild re-measures") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val d = 64
    // ShapeStatsSpec's two measured shapes in miniature: jittered-copy
    // clusters (the clustered fixture) vs uniform components (the
    // embMode=spread adversarial fixture)
    val centers = Array.fill(20)(Array.fill(d)(rnd.nextFloat() * 2 - 1))
    val clustered = (0 until 600).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.02f))
    }.toDF("vec_id", "embedding")
    val spread = (0 until 600)
      .map(i => (i.toLong, Array.fill(d)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    def stale(dir: String) = HnswIndex.staleness(spark, dir).collect()(0)

    // spread catalog, probe forced on: the persisted beam is the
    // measured spread base, with the rc evidence and verdict beside it
    val dirS = tempDir("shapespread")
    HnswIndex.build(spread, "vec_id", "embedding", dirS, shards = 4,
      shapeProbeAbove = 0L)
    val rS = stale(dirS)
    assert(rS.getInt(5) == graft.knn.BeamLaw.SpreadBaseEf,
      s"spread catalog must persist the measured base, got ${rS.getInt(5)}")
    assert(rS.getDouble(9) <= graft.knn.ShapeStats.SpreadRcMax,
      s"rc_q25 ${rS.getDouble(9)} must classify spread")
    assert(rS.getString(10) == "spread")
    // an untuned search serves the shape-resolved beam: identical to an
    // explicit SpreadBaseEf call (beam-for-beam the same deterministic
    // search — full-beam identity would be too strong here: a 128 beam
    // on a spread corpus legitimately misses, which is the very
    // shape-behavior the raised base exists to mitigate)
    val q = spread.limit(6)
    def ids(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ids(HnswIndex.search(spark, dirS, q, "vec_id", "embedding", k = 3))
      == ids(HnswIndex.search(spark, dirS, q, "vec_id", "embedding", k = 3,
        efSearch = graft.knn.BeamLaw.SpreadBaseEf)),
      "untuned search did not serve the shape-resolved beam")

    // clustered catalog: the defaults the recall matrix measured apply
    val dirC = tempDir("shapeclust")
    HnswIndex.build(clustered, "vec_id", "embedding", dirC, shards = 4,
      shapeProbeAbove = 0L)
    val rC = stale(dirC)
    assert(rC.getInt(5) == HnswIndex.DefaultServeEf,
      s"clustered catalog must keep the default base, got ${rC.getInt(5)}")
    assert(rC.getDouble(9) > graft.knn.ShapeStats.SpreadRcMax)
    assert(rC.getString(10) == "clustered")

    // below the threshold (the real default: spec-scale corpora) the
    // probe never runs — default beam, no evidence, same bits as r18
    val dirD = tempDir("shapedefault")
    HnswIndex.build(spread, "vec_id", "embedding", dirD, shards = 4)
    val rD = stale(dirD)
    assert(rD.getInt(5) == HnswIndex.DefaultServeEf)
    assert(rD.isNullAt(9) && rD.isNullAt(10),
      "below-threshold build must not fabricate shape evidence")

    // an explicit beam always wins and skips the probe entirely
    val dirE = tempDir("shapeexplicit")
    HnswIndex.build(spread, "vec_id", "embedding", dirE, shards = 4,
      efSearch = 96, shapeProbeAbove = 0L)
    val rE = stale(dirE)
    assert(rE.getInt(5) == 96 && rE.isNullAt(9) && rE.isNullAt(10),
      "explicit efSearch must persist verbatim with no probe")

    // reshard keeps the corpus — and therefore the corpus's measured
    // shape and the beam it chose
    HnswIndex.reshard(spark, dirS, 2)
    val rReshard = stale(dirS)
    assert(rReshard.getInt(5) == graft.knn.BeamLaw.SpreadBaseEf
      && rReshard.getString(10) == "spread"
      && rReshard.getDouble(9) == rS.getDouble(9),
      "reshard must carry the shape evidence through unchanged")

    // a rebuild over the live index swaps the corpus, so it RE-measures:
    // the spread index rebuilt with the clustered corpus flips verdicts
    HnswIndex.build(clustered, "vec_id", "embedding", dirS, shards = 4,
      shapeProbeAbove = 0L)
    val rFlip = stale(dirS)
    assert(rFlip.getInt(5) == HnswIndex.DefaultServeEf
      && rFlip.getString(10) == "clustered",
      "rebuild must re-classify the new corpus")
  }

  test("size-aware default shard count: the auto sentinel holds per-shard " +
    "size at the measured ceiling, explicit counts pass through, and " +
    "spec-scale auto builds keep the old fixed default") {
    import graft.knn.HnswIndex.{UseAutoShards, DefaultShards, TargetShardNodes}
    // the resolution ladder, pinned as a pure function (the BeamLaw.autoEf
    // precedent): the floor holds through TargetShardNodes * DefaultShards
    // keys, then one shard per further TargetShardNodes
    assert(HnswIndex.resolveShards(UseAutoShards, 2000L) == DefaultShards)
    assert(HnswIndex.resolveShards(UseAutoShards,
      TargetShardNodes * DefaultShards) == DefaultShards)
    assert(HnswIndex.resolveShards(UseAutoShards,
      TargetShardNodes * DefaultShards + 1) == DefaultShards + 1)
    // the measured anchor: 10^6 keys resolve to the grid tier's 32
    // shards — the per-shard size every committed recall row measures
    assert(HnswIndex.resolveShards(UseAutoShards, 1000000L) == 32)
    assert(HnswIndex.resolveShards(UseAutoShards, 2000000L) == 64)
    // explicit counts are never second-guessed (reshard stays the knob)
    assert(HnswIndex.resolveShards(7, 1000000L) == 7)
    intercept[IllegalArgumentException](HnswIndex.resolveShards(-1, 10L))
    // an auto build at spec scale resolves to the floor — bit-compatible
    // with the pre-auto fixed default
    val dir = tempDir("autoshards")
    HnswIndex.build(emb, "vec_id", "embedding", dir)
    assert(HnswIndex.staleness(spark, dir).collect()(0).getInt(1)
      == DefaultShards, "spec-scale auto build must keep the old default")
  }

  test("per-batch fast path: probe over open and appendPrepared match " +
      "search and append") {
    val base = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    // default path
    val dirA = tempDir("fastpath_a")
    HnswIndex.build(base, "vec_id", "embedding", dirA, shards = 4)
    HnswIndex.append(spark, dirA, batch, "vec_id", "embedding")
    val sA = HnswIndex.search(spark, dirA, base.limit(50), "vec_id",
      "embedding", k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    // fast path: one opened snapshot shared by append and probe, guards
    // skipped (the streaming ingester's contract — freshness established
    // by its marker join, within-batch uniqueness by input contract)
    val dirB = tempDir("fastpath_b")
    HnswIndex.build(base, "vec_id", "embedding", dirB, shards = 4)
    val snap = HnswIndex.open(spark, dirB)
    graft.util.IndexLock.withLock(spark, dirB, "spec") {
      HnswIndex.appendPrepared(spark, snap, batch, "vec_id", "embedding")
    }
    val sB = HnswIndex.probe(spark, HnswIndex.open(spark, dirB), base.limit(50),
      "vec_id", "embedding", k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(sA == sB, "fast-path append/search must answer identically")
    // committed id sets agree too (the append filed the same nodes)
    val idsA = HnswIndex.readIds(spark, dirA).collect().map(_.getLong(0)).toSet
    val idsB = HnswIndex.readIds(spark, dirB).collect().map(_.getLong(0)).toSet
    assert(idsA == idsB)
  }

  test("fast-path append rejects a duplicate-id batch LOUDLY: the guard " +
      "moved into the shard insert kernel, zero extra jobs on clean batches") {
    val base = emb.filter(col("vec_id") < 200)
    val dir = tempDir("dupguard")
    HnswIndex.build(base, "vec_id", "embedding", dir, shards = 4)
    // the same id twice inside ONE batch — the case append's batch
    // guard rejects and the gate's freshness marker join
    // (index-vs-batch, not within-batch) never could
    val dup = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") % 2 + 1000000).as("vec_id"), col("embedding"))
    val snap = HnswIndex.open(spark, dir)
    val e = intercept[org.apache.spark.SparkException] {
      graft.util.IndexLock.withLock(spark, dir, "spec") {
        HnswIndex.appendPrepared(spark, snap, dup, "vec_id", "embedding")
      }
    }
    assert(e.getMessage.contains("duplicate label") ||
      Option(e.getCause).exists(_.getMessage.contains("duplicate label")),
      s"expected the HnswGraph duplicate-label rejection, got: $e")
    // a duplicate AGAINST THE INDEX on the guard-skipped path fails in
    // the same kernel (the reingest multi-batch-union corruption shape)
    val reins = base.filter(col("vec_id") < 3)
    val e2 = intercept[org.apache.spark.SparkException] {
      graft.util.IndexLock.withLock(spark, dir, "spec") {
        HnswIndex.appendPrepared(spark, snap, reins, "vec_id", "embedding")
      }
    }
    assert(e2.getMessage.contains("duplicate label") ||
      Option(e2.getCause).exists(_.getMessage.contains("duplicate label")))
  }

  test("efSearch <= 0 runs the full shard beam: the rows of ef = shard " +
      "size through HnswIndex.search, hnswKnn and hnswBlockKnn") {
    // a sparse graph (m 4, efConstruction 8) on which the narrowest beam
    // (k + 1) misses neighbours that the full beam finds
    val n = emb.count().toInt
    val q = emb.filter(col("vec_id") % 3 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "dist", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val dir = tempDir("fullbeam")
    HnswIndex.build(emb, "vec_id", "embedding", dir, m = 4,
      efConstruction = 8, shards = 2)
    def search(ef: Int, auto: Boolean) = rows(HnswIndex.search(spark, dir, q,
      "vec_id", "embedding", k = 10, efSearch = ef, efAutoScale = auto))
    val indexFull = search(n, auto = false)
    assert(search(0, auto = true) == indexFull, "HnswIndex.search ef = 0")
    assert(search(-3, auto = false) == indexFull, "HnswIndex.search ef = -3")
    def inMem(ef: Int) = rows(graft.knn.ApproxKnn.hnswKnn(q, emb.repartition(2),
      "vec_id", "embedding", k = 10, m = 4, efConstruction = 8, efSearch = ef))
    assert(inMem(0) == inMem(n), "ApproxKnn.hnswKnn ef = 0")
    // two query blocks, so the per-block search is the one under test
    def blocked(ef: Int) = rows(graft.knn.ApproxKnn.hnswBlockKnn(q, emb,
      "vec_id", "embedding", k = 10, m = 4, efConstruction = 8,
      efSearch = ef, shards = 2, queryBlockSize = 100))
    assert(blocked(0) == blocked(n), "ApproxKnn.hnswBlockKnn ef = 0")
  }
}
