package graft.discover

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Joinable-pair extraction from kNN distances (SemLink stage 3:
  * SemLink/join_discoverer.py:303–325) plus pair-set utilities shared by
  * the evaluation layer.
  */
object Discovery {

  /** Distance-threshold filter. Distances are stored SQUARED (FAISS
    * convention); the reference applies sqrt at filter time
    * (join_discoverer.py:318) — `sqrt(dist) <= t`, kept verbatim.
    */
  def thresholdFilter(distances: DataFrame, distCol: String, threshold: Double): DataFrame =
    distances.filter(sqrt(col(distCol)) <= lit(threshold))

  /** Split `"table:column"` keys into a JoinablePair-shaped frame
    * (join_discoverer.py:321–322: 2-field split contract).
    */
  def toJoinablePairs(filtered: DataFrame, col1: String, col2: String,
      distCol: String): DataFrame =
    filtered.select(
      TextFns.keyTable(col(col1)).as("t1"),
      TextFns.keyColumn(col(col1)).as("c1"),
      TextFns.keyTable(col(col2)).as("t2"),
      TextFns.keyColumn(col(col2)).as("c2"),
      col(distCol).as("distance_anns"))

  /** Canonical unordered pair key: (least, greatest) —
    * `tuple(sorted([a, b]))` (join_discoverer.py:399–407).
    */
  def canonicalPair(a: Column, b: Column): (Column, Column) =
    (least(a, b), greatest(a, b))

  /** Symmetric ground-truth expansion: both directions of every GT row
    * (join_discoverer.py:392–397), distinct. The pairs are placed by
    * query, so the distinct and any per-query aggregate or window over
    * the result share one exchange.
    */
  def symmetrizeGroundTruth(gt: DataFrame, qCol: String, cCol: String): DataFrame =
    gt.select(col(qCol).as("query"), col(cCol).as("candidate"))
      .union(gt.select(col(cCol).as("query"), col(qCol).as("candidate")))
      .repartition(col("query"))
      .distinct()
}
