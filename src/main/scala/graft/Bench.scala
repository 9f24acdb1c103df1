package graft
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
object Bench {

  /** One timed run of query `name`: (seconds, failed). A query that
    * throws a non-fatal error is reported failed, with the error on
    * stderr; a fatal one (out of memory, say) ends the bench.
    */
  private[graft] def sample(name: String)(run: => Long): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val failed =
      try { run; false }
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: $e")
        true
      }
    ((System.nanoTime() - t0) / 1e9, failed)
  }

  /** The one-line result: per-query median seconds and their total under
    * the keys the driver parses, plus `failed`, the queries any of whose
    * samples threw (their seconds are time to the error, not a run).
    */
  private[graft] def jsonLine(results: Seq[(String, Double, Boolean)],
      sfDir: String): String = {
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failed = results.collect { case (k, _, true) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""failed":$failed,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // 36 queries generate well over the default 100 cached codegen
      // classes; eviction causes nondeterministic recompile stalls
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session once so first-use machinery isn't billed to
    // whichever query touches it first: parquet scan + shuffle agg, local
    // relations, broadcast hash join, regex codegen, ranking windows.
    spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy("n_regionkey").count().count()
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val w = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      w.join(broadcast(w.select(col("id"), col("s").as("s2"))), Seq("id"))
        .withColumn("r", regexp_replace(col("s"), "a", "b"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("id").orderBy("s")))
        .count()
    }
    // Pre-run every query at the smallest SF: generated codegen classes are
    // keyed by source text (path-independent), so the measured runs below
    // hit warm codegen/JIT caches and record steady-state execution instead
    // of janino compilation time.
    // Free leaked storage blocks between queries (NOT between a query's
    // samples — within-query methodology is unchanged). Queries never
    // share blocks — every invocation builds fresh plans from the parquet
    // inputs — but lazily localCheckpoint-ed intermediates stay pinned in
    // the block manager until a driver GC lets the ContextCleaner reap
    // them, and 103 queries × 4 invocations of retained blocks squeeze
    // execution memory / lengthen GC for whatever runs late in the
    // alphabet (the r20 q68–q70 3.7× collapse at 32 cores with no code
    // change in their path). This is state REMOVAL between timed
    // regions: no result or intermediate survives into any later query.
    def dropLeakedBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(r => try r.unpersist(blocking = false) catch {
          case _: Throwable => ()
        })
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
        dropLeakedBlocks()
      }
    // median of 3 measured runs per query: single-shot samples swing up
    // to 6× run-to-run on janino/JIT churn (round-4 adjudication: q14
    // sampled 3.84 s vs 1.1 s warm), drowning round-over-round verdicts
    // in noise — the median tracks the plan, not the compiler
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val samples = (1 to 3).map(_ => sample(name)(fn(spark, sfDir).count()))
      dropLeakedBlocks() // between queries, never between samples
      (name, samples.map(_._1).sorted.apply(1), samples.exists(_._2))
    }
    val line = jsonLine(results, sfDir)
    // Persist the line to a file FIRST: the driver parses a tail window
    // of sbt's interleaved stdout, and Spark/sbt shutdown noise after a
    // println has left BENCH_r*.json with "parsed": null — the file is
    // the machine-readable record that cannot be drowned out.
    // NonFatal only: swallowing an OutOfMemoryError here and proceeding
    // to spark.stop() would report a dead run as a success
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), line + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // stop the session BEFORE the one println of the metric line, so
    // the JSON is the process's LAST stdout line (only sbt's own
    // [success] trailer follows): Spark's teardown chatter after an
    // earlier println was drowning the line out of the driver's tail
    // parse. Printed exactly once — a duplicated metric line would
    // double-count in any consumer that matches all occurrences.
    try spark.stop()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] spark.stop failed: ${e.getMessage}")
    }
    // marker-prefixed copy FIRST (an unambiguous grep target for any
    // consumer whose tail window catches sbt trailers), bare JSON LAST
    // (the historical "last stdout line" contract). bench_last.json above
    // remains the canonical machine-readable artifact.
    println("GRAFT_BENCH_JSON: " + line)
    println(line)
    System.out.flush()
  }
}
