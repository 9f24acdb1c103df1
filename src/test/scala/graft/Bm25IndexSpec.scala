package graft

import org.apache.spark.sql.functions._

import graft.sources.Lake
import graft.text.{Bm25, Bm25Index}

class Bm25IndexSpec extends SparkSpec {

  private lazy val docs =
    Lake.table(spark, sf0001, "documents").select("doc_id", "text").cache()
  private lazy val queries = docs.filter(col("doc_id") < 5)
    .select(col("doc_id").as("qid"), col("text")).cache()

  private def tempDir(tag: String): String =
    graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory(s"bm25_idx_$tag").toString)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet

  test("probe of a built index equals the one-shot scoreTopK exactly") {
    val dir = tempDir("parity")
    val n = Bm25Index.build(docs, "doc_id", "text", dir)
    assert(n == docs.count()) // every sf0.001 doc has tokens
    val got = rows(Bm25Index.searchTopK(spark, dir, queries, "qid", "text",
      topK = 10))
    val want = rows(Bm25.scoreTopK(docs, "doc_id", "text", queries,
      "qid", "text", topK = 10))
    assert(got == want && got.nonEmpty)
  }

  test("over-cap query side takes the distributed fallback, rank-identical") {
    // The driver collect in searchTopK is serving-sized BY CONTRACT;
    // a corpus-sized query frame must not OOM the driver — past
    // maxDriverQueryTerms the probe falls back to the distributed
    // shape (bucket-distinct on the driver, left-semi term pruning,
    // qterms shuffled instead of broadcast) with IDENTICAL results.
    val dir = tempDir("cap")
    Bm25Index.build(docs, "doc_id", "text", dir)
    // the whole corpus as the query side, cap forced to 1 → fallback
    val corpusQ = docs.select(col("doc_id").as("qid"), col("text"))
    val viaFallback = rows(Bm25Index.searchTopK(spark, dir, corpusQ,
      "qid", "text", topK = 5, maxDriverQueryTerms = 1))
    val viaCollect = rows(Bm25Index.searchTopK(spark, dir, corpusQ,
      "qid", "text", topK = 5))
    assert(viaFallback == viaCollect && viaFallback.nonEmpty)
    intercept[IllegalArgumentException] {
      Bm25Index.searchTopK(spark, dir, queries, "qid", "text",
        maxDriverQueryTerms = 0)
    }
    // boundary: a cap of EXACTLY the query-term count stays on the
    // collect path (limit(cap+1) returns cap rows → that was the whole
    // relation); cap = count−1 falls back — both rank-identical
    val nTerms = queries.select(col("qid"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .distinct().count().toInt
    val atCap = rows(Bm25Index.searchTopK(spark, dir, queries, "qid",
      "text", maxDriverQueryTerms = nTerms))
    val justUnder = rows(Bm25Index.searchTopK(spark, dir, queries, "qid",
      "text", maxDriverQueryTerms = nTerms - 1))
    val reference = rows(Bm25Index.searchTopK(spark, dir, queries, "qid",
      "text"))
    assert(atCap == reference && justUnder == reference)
    // Int.MaxValue disables the cap without overflowing the limit probe
    val uncapped = rows(Bm25Index.searchTopK(spark, dir, queries, "qid",
      "text", maxDriverQueryTerms = Int.MaxValue))
    assert(uncapped == reference)
  }

  test("append ≡ rebuild: identical probe results") {
    val first = docs.filter(col("doc_id") % 2 === 0)
    val rest = docs.filter(col("doc_id") % 2 === 1)
    val dir = tempDir("inc")
    Bm25Index.build(first, "doc_id", "text", dir)
    val appended = Bm25Index.append(spark, dir, rest, "doc_id", "text")
    assert(appended == rest.count())
    val got = rows(Bm25Index.searchTopK(spark, dir, queries, "qid", "text"))
    val want = rows(Bm25.scoreTopK(docs, "doc_id", "text", queries,
      "qid", "text"))
    assert(got == want)
  }

  test("orphaned postings are probe-invisible; vacuum reclaims them") {
    val dir = tempDir("orphan")
    Bm25Index.build(docs, "doc_id", "text", dir)
    val before = rows(Bm25Index.searchTopK(spark, dir, queries, "qid", "text"))
    // crash simulation: a batch staged its postings but never committed
    // doclens. Terms are disjoint from every query term, so even the df
    // transient cannot shift scores here.
    import spark.implicits._
    val nBuckets = spark.read.parquet(s"$dir/params")
      .collect().head.getInt(0)
    Seq((9999991L, 77L, "zzorphanterm", 3L), (9999992L, 77L, "zzorphanterm", 1L))
      .toDF("id", "th", "term", "tf")
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      .write.mode("append").partitionBy("bucket").parquet(s"$dir/postings")
    assert(rows(Bm25Index.searchTopK(spark, dir, queries, "qid", "text"))
      == before)
    val reclaimed = Bm25Index.vacuum(spark, dir)
    assert(reclaimed == 2L)
    assert(rows(Bm25Index.searchTopK(spark, dir, queries, "qid", "text"))
      == before)
    // idempotent: nothing left to reclaim
    assert(Bm25Index.vacuum(spark, dir) == 0L)
  }

  test("a retried append's double-staged postings never double a score") {
    val dir = tempDir("retry")
    Bm25Index.build(docs, "doc_id", "text", dir)
    val want = rows(Bm25Index.searchTopK(spark, dir, queries, "qid", "text"))
    // retry simulation: re-stage the committed postings of docs < 5 (the
    // query docs themselves — their self-match tf would double if the
    // probe failed to collapse)
    val staged = spark.read.parquet(s"$dir/postings")
      .filter(col("id") < 5)
      .select("term", "id", "th", "tf", "bucket")
    val n = staged.count()
    assert(n > 0)
    staged.write.mode("append").partitionBy("bucket").parquet(s"$dir/postings")
    assert(rows(Bm25Index.searchTopK(spark, dir, queries, "qid", "text"))
      == want)
    // vacuum collapses the duplicates and probes are still identical
    assert(Bm25Index.vacuum(spark, dir) == n)
    assert(rows(Bm25Index.searchTopK(spark, dir, queries, "qid", "text"))
      == want)
  }

  test("vacuum compacts files; stats cover every postings row") {
    val dir = tempDir("compact")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    Bm25Index.build(half1, "doc_id", "text", dir)
    Bm25Index.append(spark, dir, half2, "doc_id", "text")
    def nFiles = {
      val base = new java.io.File(s"$dir/postings")
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(base)
    }
    val filesBefore = nFiles
    val st = Bm25Index.stats(spark, dir).collect()
    val totalRows = st.map(_.getLong(1)).sum
    assert(totalRows ==
      spark.read.parquet(s"$dir/postings").count())
    assert(st.forall(r => r.getLong(3) <= r.getLong(1)))
    Bm25Index.vacuum(spark, dir)
    assert(nFiles < filesBefore)
    // post-compaction probe still matches the one-shot
    assert(rows(Bm25Index.searchTopK(spark, dir, queries, "qid", "text"))
      == rows(Bm25.scoreTopK(docs, "doc_id", "text", queries, "qid", "text")))
  }

  test("no-term queries yield an empty, correctly-shaped frame") {
    val dir = tempDir("empty")
    Bm25Index.build(docs, "doc_id", "text", dir)
    import spark.implicits._
    val q = Seq((1L, ""), (2L, "   ")).toDF("qid", "text")
    val out = Bm25Index.searchTopK(spark, dir, q, "qid", "text")
    assert(out.schema == Bm25Index.searchSchema)
    assert(out.count() == 0)
  }

  test("empty-seed index: search returns no rows; ingestion then works") {
    val dir = tempDir("seed")
    // the streaming-ingest seed: an index over ZERO documents (the
    // partitioned postings write emits no part files — reads must not
    // throw)
    assert(Bm25Index.build(docs.filter(col("doc_id") < 0), "doc_id",
      "text", dir) == 0L)
    val out = Bm25Index.searchTopK(spark, dir, queries, "qid", "text")
    assert(out.count() == 0)
    assert(Bm25Index.stats(spark, dir).count() == 0)
    assert(Bm25Index.vacuum(spark, dir) == 0L)
    // first real batch lands and is searchable
    Bm25Index.append(spark, dir, docs, "doc_id", "text")
    assert(rows(Bm25Index.searchTopK(spark, dir, queries, "qid", "text"))
      == rows(Bm25.scoreTopK(docs, "doc_id", "text", queries, "qid", "text")))
  }

  test("id reused after a crashed append with different text: no phantom") {
    val dir = tempDir("reuse")
    Bm25Index.build(docs, "doc_id", "text", dir)
    import spark.implicits._
    val nBuckets = spark.read.parquet(s"$dir/params")
      .collect().head.getInt(0)
    // crash simulation: append of (id 9999993, "zzwrongtext…") staged its
    // postings but never committed doclens
    val badText = "zzwrongterm zzwrongterm zzotherterm"
    Seq((9999993L, badText)).toDF("id", "t")
      .select(col("id"), xxhash64(col("t")).as("th"),
        explode(split(col("t"), " ")).as("term"))
      .groupBy("id", "th", "term").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      .write.mode("append").partitionBy("bucket").parquet(s"$dir/postings")
    // the id is REUSED with corrected content, no vacuum in between
    Bm25Index.append(spark, dir,
      Seq((9999993L, "replacement content entirely")).toDF("doc_id", "text"),
      "doc_id", "text")
    // a query for the crashed text's terms must NOT surface the doc —
    // the stale epoch has no doclens row even though the id is now live
    val phantom = Bm25Index.searchTopK(spark, dir,
      Seq((1L, "zzwrongterm")).toDF("qid", "text"), "qid", "text")
    assert(phantom.count() == 0)
    // the committed content IS found
    val realHit = Bm25Index.searchTopK(spark, dir,
      Seq((1L, "replacement content")).toDF("qid", "text"), "qid", "text")
    assert(realHit.collect().exists(_.getLong(1) == 9999993L))
    // vacuum reclaims the stale-epoch rows despite the live id
    assert(Bm25Index.vacuum(spark, dir) == 2L)
    assert(Bm25Index.searchTopK(spark, dir,
      Seq((1L, "zzwrongterm")).toDF("qid", "text"), "qid", "text")
      .count() == 0)
    // the committed corpus (originals + the corrected doc) is exactly
    // what probes score against — parity with the one-shot over it
    assert(rows(Bm25Index.searchTopK(spark, dir, queries, "qid", "text"))
      == rows(Bm25.scoreTopK(
        docs.unionByName(Seq((9999993L, "replacement content entirely"))
          .toDF("doc_id", "text")),
        "doc_id", "text", queries, "qid", "text")))
  }
}
