package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.discover.Discovery
import graft.embed.{Embedder, HashEmbedder}
import graft.functions.TextFns
import graft.knn.KnnJoin
import graft.profile.Profiler
import graft.sources.Lake

/** The flagship end-to-end pipeline (reference entry point
  * `python SemLink/semlink.py`, SURVEY.md §3.1): profile the lake →
  * serialize every column to text → embed → exact kNN join over the
  * embedding space → distance-threshold filter → joinable column pairs.
  *
  * Every stage is a lazy Dataset transform — Catalyst fuses the projection
  * chain, and the expensive embedding projection is cached before the kNN
  * stage (replacing the reference's file-level memoization,
  * join_discoverer.py:189–197).
  */
object SemLink {

  /** Column catalog with the `"table:column"` key and the serialized
    * column sentence (F6 — header mode).
    */
  def columnTexts(profiles: DataFrame): DataFrame =
    profiles.select(
      TextFns.columnKey(col("table"), col("column")).as("key"),
      TextFns.truncateTokens(
        TextFns.columnToText(
          lit(""), col("column"), col("num_values"),
          col("min_len"), col("max_len"), col("avg_len"),
          col("values_sample"))).as("text"))

  /** Semantic-mode catalog: the full F7 embedding prompt — annotation line,
    * examples, entry count, length stats, top-20 most-common values
    * (join_discoverer.py:64–127). The reference never produced
    * `most_common_values` (latent schema mismatch, SURVEY.md §1.4); our
    * profiler does, so the prompt path is complete.
    */
  def columnPrompts(profiles: DataFrame, annotations: DataFrame): DataFrame = {
    val ann = org.apache.spark.sql.functions.broadcast(
      annotations.select(col("table"), col("column"),
        col("table_description"), col("semantic_annotation")))
    profiles.join(ann, Seq("table", "column"), "left")
      .select(
        TextFns.columnKey(col("table"), col("column")).as("key"),
        TextFns.truncateTokens(
          TextFns.embeddingPrompt(
            col("column"),
            coalesce(col("semantic_annotation"), lit("NA")),
            coalesce(col("table_description"), lit("")),
            col("num_values"), col("min_len"), col("max_len"), col("avg_len"),
            col("values_sample"), col("most_common_values"))).as("text"))
  }

  /** Full discovery run at (k, t): JoinablePair frame
    * (t1, c1, t2, c2, distance_anns), globally sorted by distance
    * (join_discoverer.py:299).
    *
    * The kNN stage runs on the blocked broadcast + partial-top-k scale
    * path ([[graft.knn.ApproxKnn.blockKnn]]): the string column keys are
    * mapped to DETERMINISTIC `xxhash64` long ids (per-partition-unique
    * `monotonically_increasing_id` would be recomputed with different
    * values on a cache eviction, silently mapping neighbors to wrong
    * columns — see `knnPairs`), searched as longs, and mapped back — the
    * same shape that holds when the catalog has 10⁶ columns.
    */
  def discover(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      threshold: Double = 1.0,
      embedder: Embedder = HashEmbedder(),
      tables: Seq[String] = Lake.lakeTables): DataFrame = {
    val profiles = Profiler.profileLake(spark, dir, tables)
    knnPairs(columnTexts(profiles), embedder, k, threshold)
  }

  /** Semantic-mode discovery (join_discoverer.py semantic path + SURVEY.md
    * §3.1): columns are annotated first (rule-based by default; plug an
    * [[graft.annotate.LlmAnnotator]] for the reference's LLM flow), then
    * embedded from the full F7 prompt instead of the bare header sentence.
    * Same kNN + threshold + JoinablePair tail as [[discover]].
    */
  def discoverSemantic(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      threshold: Double = 1.0,
      annotator: graft.annotate.Annotator = graft.annotate.RuleAnnotator,
      embedder: Embedder = HashEmbedder(),
      tables: Seq[String] = Lake.lakeTables): DataFrame = {
    // lazy localCheckpoint: the catalog feeds both the annotator and the
    // prompt builder; blocks release with the frame (the knnPairs rule)
    val profiles = Profiler.profileLake(spark, dir, tables)
      .localCheckpoint(eager = false)
    val annotations = annotator.annotate(profiles)
    knnPairs(columnPrompts(profiles, annotations), embedder, k, threshold)
  }

  /** Shared tail: embed the (key, text) catalog, self-kNN on the broadcast
    * scale path, threshold, map ids back to keys, JoinablePair output.
    */
  private def knnPairs(
      catalog: DataFrame,
      embedder: Embedder,
      k: Int,
      threshold: Double): DataFrame = {
    // ids must be DETERMINISTIC, not merely distinct: the keys mapping and
    // the kNN sides are separate evaluations of this frame, and a cache
    // eviction would recompute monotonically_increasing_id with different
    // values — silently mapping neighbors to wrong columns. xxhash64 of
    // the (unique) key is stable by construction; a 64-bit collision over
    // a catalog-sized key set is ~|K|²/2⁶⁵ — negligible, and it would
    // only merge two columns' candidates, not corrupt unrelated rows.
    // lazy localCheckpoint, not cache(): the frame feeds the keys map and
    // both kNN sides, and checkpoint blocks are released by the
    // ContextCleaner when the frame goes out of scope — cache() pins
    // them in the CacheManager for the session lifetime, a leak for a
    // notebook/server calling discover() repeatedly
    val embedded = catalog
      .withColumn("vec", embedder.embedColumn(col("text")))
      .withColumn("id", xxhash64(col("key")))
      .select("id", "key", "vec")
      .localCheckpoint(eager = false)
    val keys = embedded.select("id", "key")
    // blockKnn, not one exact-scan node over the whole catalog: the
    // self-kNN's query side IS the catalog, and the node collects every
    // query vector to the driver — fine at 10⁴ columns, a scale-killer
    // at a 10⁶-column lake. blockKnn runs one node per block of
    // blockSize query rows, and a single node when the catalog fits one
    // block (the gridKnn gate)
    val knn = graft.knn.ApproxKnn.blockKnn(embedded, embedded, "id", "vec",
      k, KnnJoin.MetricL2Sq, excludeSelf = true)
      .join(broadcast(keys.withColumnRenamed("id", "query_id")
        .withColumnRenamed("key", "column_1")), Seq("query_id"))
      .join(broadcast(keys.withColumnRenamed("id", "neighbor_id")
        .withColumnRenamed("key", "column_2")), Seq("neighbor_id"))
      .withColumnRenamed("dist", "distance_anns")
    val filtered = Discovery.thresholdFilter(knn, "distance_anns", threshold)
    Discovery.toJoinablePairs(filtered, "column_1", "column_2", "distance_anns")
      .orderBy("distance_anns", "t1", "c1", "t2", "c2")
  }
}
