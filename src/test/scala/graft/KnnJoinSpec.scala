package graft

import org.apache.spark.sql.functions._

import graft.knn.KnnJoin
import graft.sources.Lake

class KnnJoinSpec extends SparkSpec {

  private lazy val emb = Lake.embeddings(spark, sf0001).cache()

  test("broadcastKnn matches windowKnn exactly (L2sq)") {
    val fast = KnnJoin.broadcastKnn(emb, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val slow = KnnJoin.windowKnn(emb, emb, "vec_id", "embedding", 5)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fast == slow)
  }

  test("oracle and fast path emit the same schema; ragged dims compare " +
    "on the shared prefix instead of crashing") {
    import spark.implicits._
    // int-typed ids: both strategies must cast to long (a recall check
    // that unions oracle vs fast output would otherwise type-mismatch)
    val intIds = Seq((1, Array(0f, 0f)), (2, Array(3f, 4f)), (3, Array(1f, 1f)))
      .toDF("vec_id", "embedding")
    val slow = KnnJoin.windowKnn(intIds, intIds, "vec_id", "embedding", 2)
    val fast = KnnJoin.broadcastKnn(intIds, intIds, "vec_id", "embedding", 2)
    // names and types must agree (nullability legitimately differs: the
    // oracle's dist is an expression over a nullable column)
    assert(slow.schema.map(f => (f.name, f.dataType)) ==
      fast.schema.map(f => (f.name, f.dataType)))
    // one candidate shorter than the queries: every kernel min-clamps
    // (the engine-wide short-dimension convention), so the fast path
    // must agree with the oracle instead of throwing AIOOBE
    val ragged = Seq((1L, Array(1f, 2f)), (2L, Array(2f, 1f)),
      (3L, Array(5f))).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(KnnJoin.broadcastKnn(ragged, ragged, "vec_id", "embedding", 2))
      == rows(KnnJoin.windowKnn(ragged, ragged, "vec_id", "embedding", 2)))
  }

  test("broadcastKnn matches windowKnn exactly (cosine)") {
    val fast = KnnJoin.broadcastKnn(emb, emb, "vec_id", "embedding", 3, KnnJoin.MetricCosine)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val slow = KnnJoin.windowKnn(emb, emb, "vec_id", "embedding", 3, KnnJoin.MetricCosine)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fast == slow)
  }

  test("kNN invariants: k rows per query, self excluded, distances non-decreasing") {
    val res = KnnJoin.broadcastKnn(emb, emb, "vec_id", "embedding", 5).cache()
    val n = emb.count()
    assert(res.count() == n * 5)
    assert(res.filter(col("query_id") === col("neighbor_id")).count() == 0)
    val decreasing = res
      .withColumn("prev", lag("dist", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy("rank")))
      .filter(col("prev").isNotNull && col("dist") < col("prev"))
    assert(decreasing.count() == 0)
  }

  /** One query at the origin against [id 7 with a NaN component, id 3
    * finite], in that order: the window ranks the NaN distance last, so
    * at k = 1 the finite candidate must displace it from a full buffer.
    */
  private def nanCase = {
    import spark.implicits._
    val queries = Seq((1L, Array(0f, 0f))).toDF("vec_id", "embedding")
    val cands = Seq((7L, Array(Float.NaN, 0f)), (3L, Array(1f, 1f)))
    val oneSlice = spark.createDataFrame(spark.sparkContext.parallelize(cands, 1))
      .toDF("vec_id", "embedding")
    val want = KnnJoin.windowKnn(queries, oneSlice, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(want == Seq((1L, 3L, 2.0, 1)))
    (cands, oneSlice, want)
  }

  test("the exact partition scan ranks a NaN distance last, as the window does") {
    val (cands, _, want) = nanCase
    val p = graft.knn.TopK.exact(Array((1L, Array(0f, 0f))), 1, cosine = false,
      excludeSelf = true, graft.knn.TopK.everyQuery(1, cands.iterator))
    assert(graft.knn.TopK.rows(p)
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq == want)
  }

  test("knn_join over one candidate partition ranks a NaN distance last, " +
    "as the window does") {
    import org.apache.spark.sql.graft.KnnJoinOp
    GraftFunctions.register(spark)
    val (_, oneSlice, want) = nanCase
    val queries = spark.createDataFrame(Seq((1L, Array(0f, 0f))))
      .toDF("vec_id", "embedding")
    val got = KnnJoinOp.knnJoin(queries, oneSlice, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(got == want)
  }

  test("a null id takes no part on either side: knn_join and broadcastKnn " +
    "return windowKnn's rows") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val vecs = Seq((Some(1L), Array(0f, 0f)), (Some(2L), Array(1f, 0f)),
      (Some(3L), Array(5f, 5f)), (None, Array(0.1f, 0f))).toDF("vec_id", "embedding")
    vecs.createOrReplaceTempView("null_id_vecs")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq.sorted
    val want = rows(KnnJoin.windowKnn(vecs, vecs, "vec_id", "embedding", 2))
    assert(want.map(_._1).distinct == Seq(1L, 2L, 3L))
    assert(rows(spark.sql("SELECT * FROM knn_join('null_id_vecs', 'null_id_vecs', " +
      "'vec_id', 'embedding', 2)")) == want)
    assert(rows(KnnJoin.broadcastKnn(vecs, vecs, "vec_id", "embedding", 2)) == want)
  }

  test("distance symmetry: dist(a,b) == dist(b,a)") {
    import graft.functions.Dist
    val pairs = emb.limit(20).as("a").crossJoin(emb.limit(20).as("b"))
      .select(
        Dist.squaredL2(col("a.embedding"), col("b.embedding")).as("ab"),
        Dist.squaredL2(col("b.embedding"), col("a.embedding")).as("ba"))
      .filter(col("ab") =!= col("ba"))
    assert(pairs.count() == 0)
  }
}
