package graft.knn

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** kNN join — the reference's flagship operator (FAISS `IndexFlatL2` build +
  * search, SemLink/join_discoverer.py:255–301; hnswlib variant,
  * DeepJoin/annIndex.py:12–40), re-expressed as a relational operator:
  * for each query vector, the k nearest candidate vectors with their
  * distance and rank.
  *
  * Strategy escalation (SURVEY.md §7.3):
  *  - [[windowKnn]]: cross join + distance expression + ranking window.
  *    Exact; fine for metadata-sized inputs (≤ ~10⁴ rows). Serves as the
  *    correctness oracle for the fast path.
  *  - [[broadcastKnn]]: the `knn_join` plan node
  *    ([[org.apache.spark.sql.graft.KnnJoinOp.knnJoin]]), the one body of
  *    the whole-partition exact scan: the query side is collected and
  *    broadcast, each candidate partition keeps a bounded per-query top-k
  *    ([[TopK.exact]] into [[TopK.Partials]]), and [[TopK.mergeTopK]]
  *    merges only |partitions|·|Q|·k entries. No N² rows ever hit a
  *    shuffle. Beyond a broadcastable query side: block it
  *    ([[ApproxKnn.blockKnn]]) or prune with LSH/IVF/HNSW.
  *
  * In the plan node a row with a null id takes no part on either side
  * (as in [[windowKnn]] with `excludeSelf`), and an empty query side
  * gives an empty result.
  *
  * Distances: squared L2 (stored squared, FAISS convention) or cosine
  * distance. Ties broken by neighbor id ascending — deterministic output.
  */
object KnnJoin {

  val MetricL2Sq = "l2sq"
  val MetricCosine = "cosine"

  /** The one metric parser: whether `metric` names cosine distance
    * ([[MetricCosine]]) rather than squared L2 ([[MetricL2Sq]]). Any other
    * name raises `IllegalArgumentException`.
    */
  def isCosine(metric: String): Boolean = metric match {
    case MetricCosine => true
    case MetricL2Sq   => false
    case other => throw new IllegalArgumentException(s"unknown metric: $other")
  }

  /** The distance column of the frame-based strategies, from the native
    * codegen expressions ([[graft.functions.VectorExpressions]]);
    * [[graft.functions.Dist]]'s higher-order-function forms are the
    * interpreted correctness oracle.
    */
  private[knn] def distExpr(cosine: Boolean, a: Column, b: Column): Column =
    if (cosine) graft.functions.VectorExpressions.cosineDistance(a, b)
    else graft.functions.VectorExpressions.squaredL2(a, b)

  /** Exact kNN via cross join + window. `queries`/`candidates`: two-column
    * frames (id, vec). Output: (query_id, neighbor_id, dist, rank), rank
    * 1..k per query ordered by (dist, neighbor_id).
    */
  def windowKnn(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      metric: String = MetricL2Sq,
      excludeSelf: Boolean = true): DataFrame = {
    // ids cast to long like every other strategy — the oracle and the
    // fast paths must emit the SAME schema or recall checks that union
    // or join the two hit type mismatches
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("__qv"))
    val c = candidates.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("__cv"))
    val joined = q.crossJoin(c)
    val filtered =
      if (excludeSelf) joined.filter(col("query_id") =!= col("neighbor_id")) else joined
    TopK.topKMerge(
      filtered
        .withColumn("dist", distExpr(isCosine(metric), col("__qv"), col("__cv")))
        .select("query_id", "neighbor_id", "dist"),
      k)
  }

  /** Scalable exact kNN: the `knn_join` plan node over these frames, so
    * it runs when the result is executed. Same contract as [[windowKnn]]
    * (with `excludeSelf`).
    */
  def broadcastKnn(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      metric: String = MetricL2Sq,
      excludeSelf: Boolean = true): DataFrame =
    org.apache.spark.sql.graft.KnnJoinOp.knnJoin(queries, candidates, idCol,
      vecCol, k, metric, excludeSelf)
}
