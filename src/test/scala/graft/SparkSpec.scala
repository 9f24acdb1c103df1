package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sf0001 = "/root/testdata/sf0.001"

  /** `body`'s result and what the tasks of the jobs it ran did, summed by
    * a listener: input records and bytes, and shuffle bytes written.
    */
  def taskTotals[T](body: => T): (T, TaskTotals) = {
    val sums = Array.fill(3)(new java.util.concurrent.atomic.AtomicLong)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          sums(0).addAndGet(m.inputMetrics.recordsRead)
          sums(1).addAndGet(m.inputMetrics.bytesRead)
          sums(2).addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
    }
    val sc = spark.sparkContext
    org.apache.spark.SparkInternals.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.SparkInternals.drainListeners(sc)
      (out, TaskTotals(sums(0).get, sums(1).get, sums(2).get))
    } finally sc.removeSparkListener(listener)
  }
}

final case class TaskTotals(recordsRead: Long, bytesRead: Long,
    shuffleBytesWritten: Long)
