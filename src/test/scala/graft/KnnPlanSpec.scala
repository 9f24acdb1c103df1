package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.KnnJoinOp

import graft.knn.KnnJoin
import graft.sources.Lake

class KnnPlanSpec extends SparkSpec {

  private lazy val emb = Lake.embeddings(spark, sf0001).cache()

  /** (query_id, neighbor_id, dist, rank) rows, dist as its raw bits. */
  private def ranked(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Int)] =
    df.select("query_id", "neighbor_id", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3))).toSet

  test("KnnJoinPlan physical operator equals windowKnn exactly") {
    val planned = KnnJoinOp.knnJoin(emb, emb, "vec_id", "embedding", 5)
    assert(ranked(planned) == ranked(KnnJoin.windowKnn(emb, emb, "vec_id", "embedding", 5)))
  }

  test("KnnJoinPlan cosine metric and downstream composition") {
    val planned = KnnJoinOp.knnJoin(emb, emb, "vec_id", "embedding", 3, "cosine")
    // the node composes inside a larger plan: filter + agg downstream
    val counts = planned.filter(col("rank") <= 3)
      .groupBy("query_id").count()
    assert(counts.filter(col("count") =!= 3).count() == 0)
    assert(ranked(planned) == ranked(KnnJoin.windowKnn(emb, emb, "vec_id", "embedding", 3,
      KnnJoin.MetricCosine)))
  }

  test("SQL TVF: FROM knn_join(...) over temp views equals the Dataset operator") {
    GraftFunctions.register(spark)
    emb.createOrReplaceTempView("emb_view")
    val viaSql = spark.sql(
      "SELECT query_id, neighbor_id, dist, rank " +
        "FROM knn_join('emb_view', 'emb_view', 'vec_id', 'embedding', 3)")
    val got = viaSql.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val expected = KnnJoinOp.knnJoin(emb, emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == expected)
    // composes in plain SQL downstream
    val agg = spark.sql(
      "SELECT query_id, count(*) AS n FROM knn_join('emb_view', 'emb_view', " +
        "'vec_id', 'embedding', 3) GROUP BY query_id")
    assert(agg.filter(col("n") =!= 3).count() == 0)
  }

  test("SQL TVF: bad arguments are rejected with usage errors") {
    GraftFunctions.register(spark)
    emb.createOrReplaceTempView("emb_view")
    val tooFew = intercept[Exception] {
      spark.sql("SELECT * FROM knn_join('emb_view', 'emb_view', 'vec_id', 'embedding')")
        .collect()
    }
    assert(tooFew.getMessage.contains("knn_join") ||
      tooFew.getCause != null) // usage error surfaces through the analyzer
    val badK = intercept[Exception] {
      spark.sql("SELECT * FROM knn_join('emb_view', 'emb_view', 'vec_id', 'embedding', 'five')")
        .collect()
    }
    assert(badK != null)
  }

  test("SQL TVF: argument errors are AnalysisExceptions naming knn_join and the argument") {
    import org.apache.spark.sql.AnalysisException
    GraftFunctions.register(spark)
    emb.createOrReplaceTempView("emb_view")
    def analysisError(sql: String): String = {
      val e = intercept[Exception](spark.sql(sql).collect())
      // the analyzer may wrap the builder's error; unwrap to the root
      val root = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).toSeq.last
      assert(root.isInstanceOf[AnalysisException] ||
        e.isInstanceOf[AnalysisException], s"got ${e.getClass}: ${e.getMessage}")
      Option(root.getMessage).getOrElse(e.getMessage)
    }
    // non-boolean 7th arg: previously a raw ClassCastException
    val m1 = analysisError("SELECT * FROM knn_join('emb_view', 'emb_view', " +
      "'vec_id', 'embedding', 2, 'l2sq', 'yes')")
    assert(m1.contains("knn_join") && m1.contains("exclude_self"))
    // non-literal (unfoldable) k — rand() resolves but cannot fold
    val m2 = analysisError("SELECT * FROM knn_join('emb_view', 'emb_view', " +
      "'vec_id', 'embedding', CAST(rand() * 10 AS INT))")
    assert(m2.contains("knn_join") && m2.contains("'k'"))
    // NULL k
    val m3 = analysisError("SELECT * FROM knn_join('emb_view', 'emb_view', " +
      "'vec_id', 'embedding', CAST(NULL AS INT))")
    assert(m3.contains("knn_join") && m3.contains("NULL"))
    // fractional k
    val m4 = analysisError("SELECT * FROM knn_join('emb_view', 'emb_view', " +
      "'vec_id', 'embedding', 2.5)")
    assert(m4.contains("knn_join") && m4.contains("'k'"))
    // boolean literal 7th arg still works
    val ok = spark.sql("SELECT count(*) AS n FROM knn_join('emb_view', 'emb_view', " +
      "'vec_id', 'embedding', 2, 'l2sq', false)").collect().head.getLong(0)
    assert(ok > 0)
  }

  test("an unknown metric fails through SQL and through knnJoin, never runs as L2") {
    GraftFunctions.register(spark)
    emb.createOrReplaceTempView("emb_view")
    val e = intercept[Exception](spark.sql("SELECT * FROM knn_join('emb_view', " +
      "'emb_view', 'vec_id', 'embedding', 2, 'cosin')").collect())
    val root = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).toSeq.last
    val analysis = Seq(e, root).find(_.isInstanceOf[org.apache.spark.sql.AnalysisException])
    assert(analysis.isDefined, s"got ${e.getClass}: ${e.getMessage}")
    assert(analysis.get.getMessage.contains("knn_join") &&
      analysis.get.getMessage.contains("unknown metric: cosin"), analysis.get.getMessage)
    val e2 = intercept[IllegalArgumentException](
      KnnJoinOp.knnJoin(emb, emb, "vec_id", "embedding", 2, "cosin"))
    assert(e2.getMessage.contains("unknown metric: cosin"), e2.getMessage)
  }

  test("SQL TVF: cosine metric argument is honored") {
    GraftFunctions.register(spark)
    emb.createOrReplaceTempView("emb_view")
    val viaSql = spark.sql(
      "SELECT * FROM knn_join('emb_view', 'emb_view', 'vec_id', 'embedding', 2, 'cosine')")
    assert(ranked(viaSql) == ranked(KnnJoin.windowKnn(emb, emb, "vec_id", "embedding", 2,
      KnnJoin.MetricCosine)))
  }

  test("physical plan contains the custom exec node, no cartesian product") {
    GraftFunctions.register(spark)
    val planned = KnnJoinOp.knnJoin(emb, emb, "vec_id", "embedding", 2)
    planned.collect()
    // TreeNode renders KnnJoinExec as "KnnJoin" (Exec suffix stripped)
    val plan = planned.queryExecution.executedPlan.toString
    assert(plan.contains("KnnJoin ") || plan.contains("KnnJoin\n") ||
      plan.contains("KnnJoin ["))
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"))
  }
}
