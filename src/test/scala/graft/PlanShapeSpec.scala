package graft

import graft.profile.Profiler

/** Scale-posture assertions (SURVEY.md §4.2): the plans must KEEP the
  * shapes that make them survive a 100× scale-up — pushdown into the scan,
  * broadcast for metadata joins, map-side partial aggregation. A refactor
  * that silently loses one of these still passes value checks; these tests
  * catch the plan regression itself.
  */
class PlanShapeSpec extends SparkSpec {

  private def executedPlan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf0001)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q04: filters and projection reach the parquet scan") {
    val plan = executedPlan("q04_filter_project")
    // toString truncates the filter list — assert on its (untruncated) head
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    // column pruning: the 11-column lineitem scan reads only what q04 needs
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_returnflag") && !readSchema.contains("l_tax"))
  }

  test("q02: the customer dim side is broadcast, not shuffled") {
    val plan = executedPlan("q02_revenue_by_segment")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("profiler stats: single aggregation, no melt explosion") {
    val df = Profiler.profileStats(
      spark.read.parquet(s"$sf0001/lineitem.parquet"), "lineitem")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // hash agg directly over the scan; any exchange carries only the tiny
    // partial-agg rows (shuffle is O(columns), not O(rows)), and the
    // explode back to catalog grain runs AFTER the aggregation on its
    // single stats row
    assert(plan.contains("HashAggregate"))
    assert(plan.linesIterator.count(_.contains("Exchange")) <= 2)
    val genIdx = plan.indexOf("Generate")
    val aggIdx = plan.indexOf("HashAggregate")
    assert(genIdx >= 0 && aggIdx > genIdx) // agg is BELOW the explode in the tree
  }

  test("profileTable: bounded top-k aggregation, no ranking window anywhere") {
    val df = Profiler.profileTable(
      spark.read.parquet(s"$sf0001/lineitem.parquet"), "lineitem")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the samples come from the partial bounded_topk aggregate
    // (ObjectHashAggregate with a partial phase), NOT from a per-column
    // ranking window — a Window here puts every distinct value of a column
    // through one reducer, the 100 TB scale-killer this test pins down
    assert(plan.contains("ObjectHashAggregate"))
    assert(plan.contains("partial_boundedtopk") || plan.contains("partial_bounded_topk"))
    assert(!plan.contains("Window"))
  }

  test("profileLake: one plan shape for 1, 3 and 7 tables") {
    // the melted lake plan: its aggregates and exchanges (hence its jobs)
    // do not grow with the table count. (AQE's toString repeats the tree
    // as "Initial Plan" — cut it off.)
    def shape(n: Int): (Int, Int) = {
      val df = Profiler.profileLake(spark, sf0001, graft.sources.Lake.lakeTables.take(n))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head.linesIterator.toSeq
      (plan.count(_.contains("Aggregate")), plan.count(_.contains("Exchange")))
    }
    val shapes = Seq(1, 3, 7).map(n => n -> shape(n))
    assert(shapes.head._2._1 > 0 && shapes.head._2._2 > 0)
    assert(shapes.map(_._2).distinct.size == 1,
      s"(aggregates, exchanges) by table count: $shapes")
  }

  test("microPrf1 evaluates the discovered input exactly once") {
    val df = SparkEntry.queries("q13_knn_eval_prf")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // one kNN subtree, not one per set-op branch: the embeddings table is
    // scanned once for the kNN side and once per truth self-join side.
    // (AQE's toString repeats the tree as "Initial Plan" — cut it off.)
    val current = plan.split("== Initial Plan ==").head
    val scanCount = current.linesIterator.count(
      _.matches(".*FileScan parquet.*embeddings.*"))
    assert(scanCount <= 3,
      s"embeddings scanned $scanCount times — discovered side re-evaluated:\n$current")
  }

  test("cleanCorpus plans one corpus scan, no joins, and scrubs exactly once") {
    val df = SparkEntry.queries("q40_clean_corpus")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the identical-text⇒identical-keep fold: filtered projection + one
    // min-id-by-hash aggregation — no second pass, no semi-joins
    assert(plan.linesIterator.count(_.contains("FileScan")) == 1)
    assert(!plan.contains("Join"))
    // the non-deterministic scrub barrier holds: the 4-regex chain must NOT
    // be re-inlined into the scan's data filters (PushDownPredicate) — the
    // quality/lang filter evaluates the already-scrubbed attribute
    val scanLine = plan.linesIterator.find(_.contains("FileScan")).get
    assert(!scanLine.contains("regexp_replace"),
      s"scrub chain pushed into the scan:\n$scanLine")
    // one hash shuffle (the dedup-fold aggregation); Par.balance may add
    // one ROUND-ROBIN exchange (local-parallelism repair of a one-file
    // scan — a no-op at real scale where scans arrive pre-partitioned)
    assert(plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning")) <= 1)
    assert(plan.linesIterator.count(_.contains("Exchange")) <= 2)
  }

  test("prefix-filtered Jaccard join never plans a cartesian product") {
    val df = SparkEntry.queries("q16_jaccard_pairs")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("evaluation grid kNN runs the broadcast path, not the N² cross-join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val embedded = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .limit(200)
      .select(concat(lit("t:"), col("vec_id")).as("key"),
        col("embedding").cast("array<float>").as("vec"))
    val knn = graft.pipeline.SemLinkGrid.gridKnn(embedded, 5)
    knn.collect()
    val plan = knn.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the scale path: broadcast queries + a per-partition top-k scan,
    // the exact scan's one plan node; never an N² join
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(knnExecs(knn) == 1)
  }

  /** The `knn_join` exec nodes in `df`'s executed plan. */
  private def knnExecs(df: org.apache.spark.sql.DataFrame): Int =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.graft.KnnJoinExec => e
      }.size

  test("broadcastKnn plans through the knn_join node, on a session that " +
    "never registered the graft functions") {
    val fresh = spark.newSession()
    val emb = fresh.read.parquet(s"$sf0001/embeddings.parquet").select("vec_id", "embedding")
    val knn = graft.knn.KnnJoin.broadcastKnn(emb, emb, "vec_id", "embedding", 3)
    assert(knn.count() == emb.count() * 3)
    assert(knnExecs(knn) == 1)
  }

  test("kNN queries never plan a cartesian/nested-loop join") {
    val df = SparkEntry.queries("q10_knn_l2")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("IvfIndex.search: no ranking window outside the PQ re-rank; a flat search shuffles nothing") {
    import org.apache.spark.sql.functions._
    import graft.knn.{IvfIndex, TopK}
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").select("vec_id", "embedding")
    val dir = graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory("plan_ivf").toString)
    IvfIndex.build(emb, "vec_id", "embedding", dir, nList = 8, pqM = 8)
    val queries = emb.filter(col("vec_id") < 40)
    def search(usePq: Boolean) = IvfIndex.search(spark, dir, queries, "vec_id",
      "embedding", k = 5, nProbe = 2, usePq = usePq, rerank = 4)
    def windows(usePq: Boolean): Int = {
      val df = search(usePq)
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
        .split("Window \\[", -1).length - 1
    }
    // the list scans merge in TopK.mergeTopK; the one window left is the
    // exact re-rank's (ApproxKnn.pqExactRerank)
    assert(windows(usePq = false) == 0)
    assert(windows(usePq = true) == 1)
    // 40 queries · k 5 over the scan's few partitions fold on the driver:
    // the query collect and the list scan's fold, no exchange
    assert(TopK.driverMerges(spark.sparkContext.getConf, 64L * 40 * 5))
    assert(taskTotals(search(usePq = false).collect())._2.shuffleBytesWritten == 0)
  }

  test("dedup signature paths carry no interpreted UDF: native expressions only") {
    // the round-4 ask: MinHash/SimHash signatures were the last per-row
    // Scala UDFs on an every-document path — pin their absence
    for (q <- Seq("q19_minhash_lsh", "q20_simhash")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
        s"$q still plans an interpreted UDF:\n$plan")
      val expected = if (q == "q19_minhash_lsh") "minhash_sig" else "simhash64"
      assert(plan.contains(expected), s"$q missing native $expected:\n$plan")
    }
  }

  test("q44: one corpus scan feeds every BPE contract flag") {
    val df = SparkEntry.queries("q44_bpe_truncate")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.linesIterator.count(_.contains("FileScan")) == 1, plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("q67: global top-k plans as TakeOrdered, not a full sort") {
    val plan = executedPlan("q67_top_ngrams")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k fell back to a global sort:\n$plan")
    assert(!plan.split("TakeOrdered").head.contains("Sort "),
      s"unexpected pre-sort above the top-k:\n$plan")
  }

  test("PQ encode runs as a native expression inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorExpressions
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val sample = emb.select(col("embedding").cast("array<float>"))
      .limit(200).collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    val books = graft.knn.Pq.train(sample, m = 8, ksub = 16)
    val kernel = new org.apache.spark.sql.graft.PqKernel(
      spark.sparkContext.broadcast(books))
    // pqEncode's argument is a float VECTOR — feeding it a code is a type
    // error the expression must reject at analysis, not runtime
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      emb.select(VectorExpressions.pqEncode(col("embedding"), kernel).as("code"))
        .select(VectorExpressions.pqEncode(col("code"), kernel).as("again"))
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("pq_encode"))
    val enc = emb.select(
      VectorExpressions.pqEncode(col("embedding"), kernel).as("code"))
    enc.collect()
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    assert(plan.linesIterator.exists(l =>
      l.contains("Project") && l.contains("pq_encode") && l.contains("*(")),
      s"pq_encode fell out of the codegen span:\n$plan")
  }
}
