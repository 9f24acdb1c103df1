package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The writer half of one persistent index family (BM25, LSH, IVF, HNSW):
  * the index calls a write needs, each a direct call into the family's
  * own index object. Two writers use it: the family's public `append`
  * ([[IndexWriter.append]]) and the streaming ingest driver
  * (`graft.streaming.Streams.ingestBatch`), which adds its freshness and
  * lateness gate and a probe.
  *
  *  - `name` labels the writer lock and the guard messages;
  *  - `recover` is the family's crash recovery (a crashed build, vacuum,
  *    rebalance or reshard commit), run under the writer lock before
  *    anything reads committed state or metadata;
  *  - `committed` reads the committed table, with an `id` column;
  *  - `open` returns the family's snapshot (directory, commit generation,
  *    metadata), called after recovery;
  *  - `prepare` turns a batch into the rows `write` consumes: BM25's
  *    per-document token rows, LSH's signatures, the batch itself for the
  *    vector families. The ingest driver's probe reuses them;
  *  - `write(sp, snap, prepared, micro)` commits them and returns the
  *    rows it indexed. `micro = true` is the ingest driver's per-batch
  *    write, whose result is ignored: BM25 and LSH then write each table
  *    from one task and skip the count (returning -1), where a public
  *    append's write clusters by partition.
  */
private[graft] final case class IndexWriter[S](
    name: String,
    recover: (SparkSession, String) => Unit,
    committed: (SparkSession, String) => DataFrame,
    open: (SparkSession, String) => S,
    prepare: (SparkSession, S, DataFrame) => DataFrame,
    write: (SparkSession, S, DataFrame, Boolean) => Long)

private[graft] object IndexWriter {

  /** The batch-side column [[markCommitted]] adds: the committed id a
    * batch row matches, null for a fresh row.
    */
  val CommittedId = "__cid"

  /** `batch` ⟕ the committed ids on `id`: every batch row, marked with
    * [[CommittedId]]. Both id guards (this object's [[append]] and the
    * ingest driver's gate) aggregate over it.
    */
  def markCommitted(batch: DataFrame, id: Column, committed: DataFrame): DataFrame =
    batch.join(committed.select(col("id").cast("long").as(CommittedId)),
      id === col(CommittedId), "left")

  /** The public append of every family. Under the writer lock it
    * recovers, opens, pins the batch once, then refuses a batch that
    * repeats an id or carries one the index already holds, with one
    * aggregate over [[markCommitted]]. Only then does it prepare and
    * write. The pin makes the guard and the write see the same rows,
    * even from a non-deterministic source. Ids are unique corpus-wide in
    * every family: a second row for one id would surface a document as
    * its own near-duplicate, or one neighbour twice within a top-k.
    * Returns what `write` returns.
    */
  def append[S](spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, w: IndexWriter[S]): Long =
    IndexLock.withLock(spark, dir, s"${w.name}.append") {
      w.recover(spark, dir)
      val snap = w.open(spark, dir)
      val pinned = batch.localCheckpoint(eager = false)
      val id = col(idCol).cast("long")
      val s = markCommitted(pinned, id, w.committed(spark, dir))
        .agg(count(id), count_distinct(id), count(col(CommittedId)))
        .collect().head
      require(s.getLong(1) == s.getLong(0),
        s"${w.name}.append: duplicate ids within the appended batch")
      require(s.getLong(2) == 0L,
        s"${w.name}.append: id already present in the index")
      w.write(spark, snap, w.prepare(spark, snap, pinned), false)
    }
}
