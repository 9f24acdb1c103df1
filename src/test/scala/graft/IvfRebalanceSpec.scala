package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.knn.{IvfIndex, KnnJoin}
import graft.sources.Lake

/** IvfIndex.rebalance: the in-place answer to append drift — re-trained
  * quantizer, re-filed lists, marker-protected triple swap, writer-lock
  * enforced.
  */
class IvfRebalanceSpec extends SparkSpec {

  private lazy val emb = Lake.embeddings(spark, sf0001)
    .select("vec_id", "embedding").cache()

  /** A drifted batch: every component shifted far outside the base
    * distribution, with fresh ids — under a fixed quantizer these all
    * pile into whichever list happens to own that far corner.
    */
  private lazy val drifted = emb
    .select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), x => (x + lit(10.0f)).cast("float"))
        .as("embedding"))
    .cache()

  private def tempDir(tag: String): String =
    graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory(s"ivf_reb_$tag").toString)

  private def fullProbe(dir: String, union: org.apache.spark.sql.DataFrame,
      nList: Int) =
    IvfIndex.search(spark, dir, union, "vec_id", "embedding", k = 5,
        nProbe = nList)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def occupancyStats(dir: String): (Int, Double, Double) = {
    val occ = IvfIndex.stats(spark, dir).select("n_vectors")
      .collect().map(_.getLong(0).toDouble)
    val mean = occ.sum / occ.length
    (occ.length, occ.map(x => (x - mean) * (x - mean)).sum / occ.length,
      occ.max)
  }

  test("drifted appends skew lists; rebalance re-levels them and " +
    "full-probe results are exactly invariant") {
    val dir = tempDir("drift")
    val nList = IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 8)
    IvfIndex.append(spark, dir, drifted, "vec_id", "embedding")
    val union = emb.unionByName(drifted)

    val before = fullProbe(dir, union, nList)
    val (nBefore, varBefore, maxBefore) = occupancyStats(dir)

    val nAfter = IvfIndex.rebalance(spark, dir)
    assert(nAfter == nList) // nList = 0 keeps the persisted list count
    val (nListsAfter, varAfter, maxAfter) = occupancyStats(dir)

    // full probe scans every list — invariant under any re-filing
    assert(fullProbe(dir, union, nList) == before)
    // brute force agrees too (exact-equivalence, not just self-consistency)
    val exact = KnnJoin.broadcastKnn(union, union, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before == exact)

    // the drift concentrated the appended mode into few lists; the
    // re-trained quantizer spreads both modes. Probe latency follows the
    // LARGEST probed list, so the hottest list must shrink — and overall
    // dispersion must not grow
    assert(nListsAfter == nList)
    assert(maxAfter < maxBefore * 0.8 && varAfter < varBefore,
      s"occupancy not re-leveled: var $varBefore -> $varAfter, " +
        s"max $maxBefore -> $maxAfter ($nBefore lists before)")
    // row conservation: nothing lost or duplicated in the re-file
    val total = IvfIndex.stats(spark, dir)
      .agg(sum("n_vectors")).collect()(0).getLong(0)
    assert(total == union.count())
  }

  test("rebalance can grow nList and pruned probes still hit") {
    val dir = tempDir("grow")
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 4)
    IvfIndex.append(spark, dir, drifted, "vec_id", "embedding")
    val union = emb.unionByName(drifted)
    val grown = IvfIndex.rebalance(spark, dir, nList = 12)
    assert(grown == 12)
    assert(fullProbe(dir, union, 12) ==
      KnnJoin.broadcastKnn(union, union, "vec_id", "embedding", 5)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    // pruned probe keeps a sane recall floor on the rebalanced layout
    val pruned = IvfIndex.search(spark, dir, union, "vec_id", "embedding",
        k = 5, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = fullProbe(dir, union, 12)
    assert(pruned.intersect(exact).size.toDouble / exact.size > 0.5)
  }

  test("rebalance re-encodes residual PQ codes against the new centroids") {
    val dir = tempDir("pq")
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 4, pqM = 8)
    IvfIndex.append(spark, dir, drifted, "vec_id", "embedding")
    val union = emb.unionByName(drifted)
    IvfIndex.rebalance(spark, dir)
    // ADC + exact rerank over the rebalanced codes still lands on the
    // exact top-1 for most queries (codes re-encoded under new cids —
    // stale residuals would send rerank to the wrong short-list)
    val got = IvfIndex.search(spark, dir, union, "vec_id", "embedding",
        k = 1, nProbe = 4, usePq = true, rerank = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = KnnJoin.broadcastKnn(union, union, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall > 0.8, s"post-rebalance PQ recall too low: $recall")
  }

  test("crash recovery: staged-but-uncommitted rolls back; " +
    "marker-present rolls forward") {
    val dir = tempDir("crash")
    val nList = IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 8)
    val before = fullProbe(dir, emb, nList)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

    // crash BEFORE the marker: staged debris only → rollback, live intact
    fs.mkdirs(new Path(s"$dir/assignments.tmp"))
    fs.mkdirs(new Path(s"$dir/centroids.tmp"))
    IvfIndex.rebalance(spark, dir) // recovery runs on entry, then rebalances
    assert(!fs.exists(new Path(s"$dir/assignments.tmp")))
    assert(fullProbe(dir, emb, nList) == before)

    // crash MID-SWAP (marker present, one table fully swapped, one staged):
    // recovery must finish the swap, not resurrect the old tables
    val reb2 = tempDir("crash2")
    IvfIndex.build(emb, "vec_id", "embedding", reb2, nList = 8)
    // simulate: centroids fully swapped, assignments still staged
    val fs2 = new Path(reb2).getFileSystem(spark.sessionState.newHadoopConf())
    require(fs2.rename(new Path(s"$reb2/assignments"),
      new Path(s"$reb2/assignments.tmp")))
    fs2.create(new Path(s"$reb2/_rebalance_commit"), false).close()
    // the next maintenance op (an empty append) rolls forward on entry:
    // assignments.tmp becomes live before anything lands in the lists
    IvfIndex.append(spark, reb2, drifted.limit(0), "vec_id", "embedding")
    assert(fs2.exists(new Path(s"$reb2/assignments")))
    assert(!fs2.exists(new Path(s"$reb2/_rebalance_commit")))
    assert(fullProbe(reb2, emb, 8) == before)
  }

  test("interrupted BUILD before its marker rolls back: previous index, " +
    "pq and watermark all intact") {
    val dir = tempDir("buildroll")
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 4, pqM = 4)
    graft.streaming.IngestWatermark.write(spark, dir, 777L)
    val before = fullProbe(dir, emb, 4)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    // staged debris only — the crash hit before the marker existed
    fs.mkdirs(new Path(s"$dir/centroids.tmp"))
    fs.mkdirs(new Path(s"$dir/pq.tmp"))
    IvfIndex.append(spark, dir, drifted.limit(0), "vec_id", "embedding")
    assert(!fs.exists(new Path(s"$dir/centroids.tmp")))
    assert(!fs.exists(new Path(s"$dir/pq.tmp")))
    assert(fs.exists(new Path(s"$dir/pq")), "rollback deleted the live pq")
    assert(graft.streaming.IngestWatermark.read(spark, dir) == 777L,
      "rollback cleared the live corpus's watermark")
    assert(fullProbe(dir, emb, 4) == before)
  }

  test("distributedTrain rebalance trains on the full corpus: nList is " +
    "not clamped to the driver sample") {
    val dir = tempDir("dtrain")
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 4)
    // sampleCap 10 bounds the driver-collect trainer to ~20 hash-sampled
    // rows; a distributed trainer fed that sample could never produce
    // more than ~20 lists. The fix feeds it the full corpus.
    val n = IvfIndex.rebalance(spark, dir, nList = 50, sampleCap = 10,
      distributedTrain = true)
    assert(n > 20, s"distributed trainer clamped to the driver sample: $n lists")
    val (nLists, _, _) = occupancyStats(dir)
    assert(nLists == n)
    // full probe stays exact whatever the quantizer looks like
    val brute = KnnJoin.broadcastKnn(emb, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fullProbe(dir, emb, n) == brute)
  }

  test("rebalance refuses to run under a held writer lock") {
    val dir = tempDir("lock")
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 4)
    val held = graft.util.IndexLock.acquire(spark, dir, "other-writer")
    try intercept[graft.util.IndexLock.HeldByOther] {
      IvfIndex.rebalance(spark, dir)
    } finally graft.util.IndexLock.release(spark, held)
    assert(IvfIndex.rebalance(spark, dir) == 4)
  }
}
