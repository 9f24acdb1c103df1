package graft

import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, LshDedupIndex}
import graft.sources.Lake

class LshDedupIndexSpec extends SparkSpec {

  private lazy val docs =
    Lake.table(spark, sf0001, "documents").select("doc_id", "text").cache()

  private def tempDir(tag: String): String =
    graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory(s"lsh_idx_$tag").toString)

  test("candidatesAgainst recovers exact copies across the batch boundary") {
    val dir = tempDir("recall")
    val n = LshDedupIndex.build(docs, "doc_id", "text", dir)
    assert(n == docs.count())
    val dups = docs.withColumn("doc_id", col("doc_id") + 1000000)
    val got = LshDedupIndex
      .candidatesAgainst(spark, dir, dups, "doc_id", "text")
      .filter(col("new_id") === col("indexed_id") + 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // identical text → identical signatures → every pair surfaces, est 1.0
    assert(got.length == docs.count())
    got.foreach { case (_, _, est) => assert(est == 1.0) }
  }

  test("append ≡ rebuild: same persisted state, same candidates") {
    val first = docs.filter(col("doc_id") % 2 === 0)
    val rest = docs.filter(col("doc_id") % 2 === 1)
    val dirInc = tempDir("inc")
    val dirAll = tempDir("all")
    LshDedupIndex.build(first, "doc_id", "text", dirInc)
    val appended = LshDedupIndex.append(spark, dirInc, rest, "doc_id", "text")
    assert(appended == rest.count())
    LshDedupIndex.build(docs, "doc_id", "text", dirAll)
    def sigs(d: String) = spark.read.parquet(s"$d/signatures")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    def bandRows(d: String) = spark.read.parquet(s"$d/bands")
      .select("band", "band_hash", "id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(sigs(dirInc) == sigs(dirAll))
    assert(bandRows(dirInc) == bandRows(dirAll))
    val probe = docs.limit(50).withColumn("doc_id", col("doc_id") + 5000000)
    def cands(d: String) = LshDedupIndex
      .candidatesAgainst(spark, d, probe, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cands(dirInc) == cands(dirAll))
  }

  test("candidates match the one-shot self-join on the same corpus") {
    // index the corpus, probe with IT (self-probe): modulo direction and
    // self-pairs, the candidate set must equal minHashLshCandidates'
    val dir = tempDir("parity")
    LshDedupIndex.build(docs, "doc_id", "text", dir)
    val fromIndex = LshDedupIndex
      .candidatesAgainst(spark, dir, docs, "doc_id", "text")
      .select(least(col("new_id"), col("indexed_id")).as("id_a"),
        greatest(col("new_id"), col("indexed_id")).as("id_b"),
        col("est_jaccard"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = Dedup.minHashLshCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromIndex == oneShot)
  }

  test("probeBands prunes band partitions; full probe when 0") {
    val dir = tempDir("probe")
    LshDedupIndex.build(docs, "doc_id", "text", dir)
    val dups = docs.limit(100).withColumn("doc_id", col("doc_id") + 1000000)
    val res = LshDedupIndex.candidatesAgainst(spark, dir, dups, "doc_id", "text",
      probeBands = 4)
    // partition filter on band reaches the bands/ scan
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("band#"),
      s"no partition filter on the bands scan:\n$plan")
    // exact copies still recovered: ANY shared band suffices
    val got = res.filter(col("new_id") === col("indexed_id") + 1000000)
      .collect()
    assert(got.length == 100)
  }

  test("crashed append (bands staged, signatures not committed) is invisible and retryable") {
    val dir = tempDir("crash")
    LshDedupIndex.build(docs, "doc_id", "text", dir)
    val batch = docs.withColumn("doc_id", col("doc_id") + 1000000)
    // simulate the pre-commit crash state of the band-first write order:
    // the batch's band rows are staged, its signature rows are NOT —
    // fabricated via a throwaway index on the batch (same default params)
    val stage = tempDir("stage")
    LshDedupIndex.build(batch, "doc_id", "text", stage)
    spark.read.parquet(s"$stage/bands")
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("band").parquet(s"$dir/bands")
    // a probe batch colliding with BOTH corpus and phantom ids must not
    // surface the phantoms: no committed signature row, no pair
    val probe = docs.withColumn("doc_id", col("doc_id") + 2000000)
    val before = LshDedupIndex
      .candidatesAgainst(spark, dir, probe, "doc_id", "text")
    assert(before.filter(col("indexed_id") >= 1000000L).count() == 0,
      "uncommitted band rows leaked into candidates")
    // the retry passes the id-presence check (commit marker = signatures)
    // and completes the append; duplicated band rows collapse per pair
    assert(LshDedupIndex.append(spark, dir, batch, "doc_id", "text") ==
      batch.count())
    val after = LshDedupIndex
      .candidatesAgainst(spark, dir, probe, "doc_id", "text")
      .filter(col("new_id") === col("indexed_id") + 1000000)
      .collect()
    assert(after.length == docs.count(), "retried batch not fully probed")
    assert(after.map(r => (r.getLong(0), r.getLong(1))).distinct.length ==
      after.length, "duplicate candidate pairs after retry")
  }

  private def bandFiles(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(s"$dir/bands"))
  }

  test("vacuum reclaims crash-orphaned band rows; probes unchanged") {
    val dir = tempDir("vac")
    LshDedupIndex.build(docs, "doc_id", "text", dir)
    // crash-sim: a batch's band rows staged, signatures never committed
    val batch = docs.limit(40).withColumn("doc_id", col("doc_id") + 1000000)
    val stage = tempDir("vacstage")
    LshDedupIndex.build(batch, "doc_id", "text", stage)
    spark.read.parquet(s"$stage/bands")
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("band").parquet(s"$dir/bands")
    val orphanRows = spark.read.parquet(s"$stage/bands").count()
    val probe = docs.limit(60).withColumn("doc_id", col("doc_id") + 2000000)
    val before = LshDedupIndex
      .candidatesAgainst(spark, dir, probe, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(LshDedupIndex.vacuum(spark, dir) == orphanRows)
    val after = LshDedupIndex
      .candidatesAgainst(spark, dir, probe, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(after == before, "vacuum changed probe results")
    // all orphans gone: a second vacuum finds nothing
    assert(LshDedupIndex.vacuum(spark, dir) == 0L)
  }

  test("vacuum collapses retry-duplicated band rows of LIVE ids") {
    val dir = tempDir("vacdup")
    LshDedupIndex.build(docs, "doc_id", "text", dir)
    // a committed append whose band rows then land a SECOND time — the
    // crashed-retry shape where the crash hit after the bands stage and
    // the retry re-staged them before committing signatures. Both copies
    // reference live ids, so the orphan semi-join alone keeps both.
    val batch = docs.limit(40).withColumn("doc_id", col("doc_id") + 1000000)
    LshDedupIndex.append(spark, dir, batch, "doc_id", "text")
    val stage = tempDir("vacdupstage")
    LshDedupIndex.build(batch, "doc_id", "text", stage)
    val dupRows = spark.read.parquet(s"$stage/bands").count()
    spark.read.parquet(s"$stage/bands")
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("band").parquet(s"$dir/bands")
    val probe = docs.limit(60).withColumn("doc_id", col("doc_id") + 2000000)
    val before = LshDedupIndex
      .candidatesAgainst(spark, dir, probe, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(LshDedupIndex.vacuum(spark, dir) == dupRows,
      "vacuum did not reclaim the duplicated live band rows")
    assert(LshDedupIndex.vacuum(spark, dir) == 0L,
      "duplicates survived the first vacuum")
    val after = LshDedupIndex
      .candidatesAgainst(spark, dir, probe, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(after == before, "vacuum changed probe results")
  }

  test("vacuum compacts append small files; candidates identical") {
    val dir = tempDir("compact")
    LshDedupIndex.build(docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", dir)
    (1 to 3).foreach { r =>
      LshDedupIndex.append(spark, dir,
        docs.filter(col("doc_id") % 4 === r), "doc_id", "text")
    }
    val probe = docs.limit(60).withColumn("doc_id", col("doc_id") + 2000000)
    val before = LshDedupIndex
      .candidatesAgainst(spark, dir, probe, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val filesBefore = bandFiles(dir)
    assert(LshDedupIndex.vacuum(spark, dir) == 0L)
    val filesAfter = bandFiles(dir)
    assert(filesAfter < filesBefore,
      s"compaction did not reduce band files: $filesBefore -> $filesAfter")
    val after = LshDedupIndex
      .candidatesAgainst(spark, dir, probe, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(after == before, "compaction changed probe results")
  }

  test("stats: per-band rows sum to docs × bands, buckets bounded") {
    val dir = tempDir("stats")
    val n = LshDedupIndex.build(docs, "doc_id", "text", dir)
    val st = LshDedupIndex.stats(spark, dir).collect()
    assert(st.length == 16) // default band count
    assert(st.map(_.getLong(1)).sum == n * 16) // one row per (doc, band)
    st.foreach { r =>
      assert(r.getLong(2) <= n)                // buckets per band ≤ docs
      assert(r.getLong(3) >= 1 && r.getLong(3) <= n) // hottest bucket
    }
  }

  test("vacuum recovers a crashed swap on entry") {
    val dir = tempDir("vacrec")
    LshDedupIndex.build(docs.limit(100), "doc_id", "text", dir)
    // crash-sim: rename-away done, rename-in never happened
    val f = new java.io.File(s"$dir/bands")
    assert(f.renameTo(new java.io.File(s"$dir/bands.old")))
    assert(LshDedupIndex.vacuum(spark, dir) == 0L)
    val probe = docs.limit(20).withColumn("doc_id", col("doc_id") + 2000000)
    // index fully functional after recovery
    LshDedupIndex.candidatesAgainst(spark, dir, probe, "doc_id", "text").count()
  }
}
