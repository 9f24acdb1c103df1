package graft
import org.apache.spark.sql.SparkSession

/** Ad-hoc per-query latency + scheduler-round-trip probe: runs each named
  * query 3× on `SPARK_GRAFT_SF_DIR`, printing wall seconds AND the number
  * of Spark jobs the run launched — the fixed-overhead diagnostic for the
  * streaming/index queries, where each job is a driver round-trip that
  * dominates micro-batch-sized work (round-10/11 verdicts on q91).
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    // GRAFT_PROBE_CPUS: probe the bench's low-core leg too (the driver
    // measures every query at 8 and 32 cores; scaling-ratio diagnoses
    // need the same knob here)
    val cpus = sys.env.getOrElse("GRAFT_PROBE_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("GRAFT_PROBE_AQE", "true"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val traceSites = sys.env.contains("GRAFT_PROBE_SITES")
    val sites = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    // per-description wall seconds beside the counts: which step OWNS the
    // time, not just how many round-trips it makes (a per-description
    // ledger for any query)
    val siteStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val siteNs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          if (traceSites) {
            // attribution order: explicit job description, then the
            // job's ROOT stage callsite — the first graft frame in the
            // stage details names the operator line that launched it
            // (descriptions are unset outside the streaming family)
            val fromStage = js.stageInfos.lastOption.flatMap { si =>
              si.details.linesIterator
                .find(l => l.contains("graft.") && !l.contains("Probe"))
                .map(_.trim.take(90))
                .orElse(Some(si.name.take(60)))
            }
            val site = Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .orElse(fromStage)
              .getOrElse("?")
            sites.merge(site, 1, (a, b) => a + b)
            siteStart.put(js.jobId, (site, System.nanoTime()))
          }
          ()
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(siteStart.remove(je.jobId)).foreach { case (site, t0) =>
            siteNs.merge(site, System.nanoTime() - t0, (a, b) => a + b)
          }
          ()
        }
      })
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // listener events arrive on an async bus: without a drain, a short
    // query's tail jobs land in the NEXT run's count — poll until the
    // counter stops moving before sampling it
    def drainedJobs(): Int = {
      var prev = jobs.get()
      Thread.sleep(50) // one settle window even for an already-idle bus
      var cur = jobs.get()
      var spins = 0
      while (cur != prev && spins < 100) {
        prev = cur; Thread.sleep(50); cur = jobs.get(); spins += 1
      }
      if (cur != prev)
        println("  WARN listener bus still draining after 5s — " +
          "jobs= counts may bleed into the next run")
      cur
    }
    for (q <- args; i <- 1 to 3) {
      val j0 = drainedJobs()
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, d).count()
      println(f"$q run$i ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        s"jobs=${drainedJobs() - j0}")
      // per-run site histogram: dump on the last run, reset between runs
      if (traceSites) {
        if (i == 3) {
          import scala.jdk.CollectionConverters._
          sites.asScala.toSeq.sortBy(-_._2.intValue).foreach { case (s, n) =>
            val secs = Option(siteNs.get(s)).fold(0.0)(_.longValue / 1e9)
            println(f"  SITE $n%-3d $secs%6.2f s  ${s.linesIterator.next()}")
          }
        }
        sites.clear()
        siteNs.clear()
      }
    }
    spark.stop()
  }
}
