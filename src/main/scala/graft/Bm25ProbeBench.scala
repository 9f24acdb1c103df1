package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Isolated per-batch BM25 probe cost — the r20→r21 regression suspect
  * (q98 +20%: the stats-trailer union vs the two-collect probe). Builds
  * one sf-sized index, then times the BM25 probe alone for a 25-doc
  * query batch (the q91/q98 per-batch shape: `Bm25Index.probe` over an
  * opened snapshot, the batch's checkpointed doclens frame and its
  * tokenRows-derived query terms, exactly the ingest loop's call),
  * with job counts, so probe-shape changes are measured in isolation
  * instead of through an 11 s end-to-end run.
  */
object Bm25ProbeBench {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          jobStart.put(js.jobId, System.nanoTime()); ()
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobStart.remove(je.jobId)).foreach { t0 =>
            jobLog.add(f"job ${je.jobId}%3d ${(System.nanoTime() - t0) / 1e6}%7.1f ms")
          }
          ()
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val dur = for {
            s <- si.submissionTime; c <- si.completionTime
          } yield c - s
          jobLog.add(f"    stage ${si.stageId}%3d ${dur.getOrElse(-1L)}%5d ms " +
            s"tasks=${si.numTasks} ${si.name.take(60)}")
          ()
        }
      })
    def drained(): Int = {
      var prev = jobs.get(); Thread.sleep(50); var cur = jobs.get()
      var spins = 0
      while (cur != prev && spins < 100) {
        prev = cur; Thread.sleep(50); cur = jobs.get(); spins += 1
      }
      cur
    }
    val docs = sources.Lake.documents(spark, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val dir = util.TempDirs.register(
      s"/tmp/graft_bm25probe_${ProcessHandle.current().pid()}")
    text.Bm25Index.build(docs, "doc_id", "text", dir)
    val batch = docs.filter(col("doc_id") < 25)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      .localCheckpoint()
    for (i <- 1 to 6) {
      val dl = text.Bm25Index.readDoclens(spark, dir)
        .localCheckpoint(eager = false)
      val snap = text.Bm25Index.open(spark, dir)
      val rows = text.Bm25Index.tokenRows(batch, "doc_id", "text")
        .localCheckpoint(eager = false)
      val j0 = drained()
      val t0 = System.nanoTime()
      val res = text.Bm25Index.probe(spark, snap,
        text.Bm25Index.tfFromRows(rows)
          .select(col("id").as("query_id"), col("term")), dl, topK = 3)
      val n = res.count()
      println(f"probe run$i ${(System.nanoTime() - t0) / 1e9}%.3f s " +
        s"jobs=${drained() - j0} rows=$n")
      if (i == 6) {
        import scala.jdk.CollectionConverters._
        jobLog.asScala.toSeq.takeRight(drained() - j0).foreach(l =>
          println("  " + l))
        println(res.queryExecution.executedPlan.toString.take(6000))
      } else jobLog.clear()
    }
    spark.stop()
  }
}
