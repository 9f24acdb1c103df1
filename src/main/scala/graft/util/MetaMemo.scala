package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** An opened persistent index: its directory, the commit generation of
  * its metadata tables, and the metadata read under that generation
  * (BM25 bucket count, LSH band params, IVF quantizer, HNSW params).
  * Each family's `open` returns one and its probe and append consume it.
  * The committed data frame (doclens, signatures, ids) is deliberately
  * not part of it: a parquet frame pins its file listing when it is
  * created, and a memoized snapshot outlives the appends it would miss.
  */
private[graft] final case class Snapshot[M](dir: String, gen: Long, meta: M)

/** The one-slot memo behind a family's `open`, keyed by (qualified
  * directory, commit generation), so a serving or ingest loop that
  * opens the same directory again reads its metadata once.
  *
  * The memo is not unconditional, because "append-immutable" is not
  * "immutable": a build, rebalance or reshard can commit (or be
  * crash-recovered by a writer's own `recover`) between two opens,
  * swapping the very tables the memo holds, and stale IVF centroids or
  * LSH band params would file later rows under a replaced scheme. So
  * every [[open]] recomputes the generation, the
  * [[StagedTables.metaFingerprint]] of the family's metadata `tables`
  * (filesystem metadata only, no Spark job): same directory and
  * generation → the cached value; any committed swap → a reload. Appends
  * never touch those tables and keep the generation. Writers open after
  * their own `recover`.
  */
private[graft] final class MetaMemo[M](tables: Seq[String]) {
  private val slot =
    new java.util.concurrent.atomic.AtomicReference[Option[(String, Long, M)]](None)

  def open(spark: SparkSession, dir: String)(load: => M): Snapshot[M] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val gen = StagedTables.metaFingerprint(fs, dir, tables)
    Snapshot(dir, gen, getOrLoad(fs.makeQualified(p).toString, gen)(load))
  }

  def getOrLoad(key: String, gen: Long)(load: => M): M = slot.get match {
    case Some((k, g, v)) if k == key && g == gen => v
    case _ =>
      val v = load
      slot.set(Some((key, gen, v)))
      v
  }
}
