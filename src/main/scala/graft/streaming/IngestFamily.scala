package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.dedup.LshDedupIndex
import graft.knn.{HnswIndex, IvfIndex}
import graft.text.Bm25Index

/** One persistent index family as the ingest driver
  * ([[Streams.ingestBatch]]) sees it: the index calls that differ by
  * family, and nothing else. Every field is a direct call into the
  * family's own index object; the driver owns the lock, the freshness
  * and lateness gate and the batch-keyed channel write.
  *
  *  - `recover` is the family's one crash-recovery entry (`recover` on
  *    each index object; BM25/LSH/IVF through
  *    [[graft.util.StagedTables.recover]], HNSW by its manifest pivot),
  *    healing a crashed build/vacuum/rebalance/reshard commit; the
  *    driver runs it under the writer lock before anything reads
  *    committed state or metadata.
  *  - `committed` reads the committed table (with an `id` column) once
  *    per batch; the same frame feeds the freshness join and `probe`
  *    (BM25 doclens → N/avgdl and the candidate join, LSH signatures →
  *    the candidate signature fetch).
  *  - `open` is the family's `open`: the index snapshot (directory,
  *    commit generation, metadata) behind a generation-keyed memo, so a
  *    loop reads the metadata once and rereads it after a commit that
  *    swapped it. The driver opens after recovery.
  *  - `probe(sp, snap, fresh, committed)` returns the result rows the
  *    driver writes to the batch's channel, and the prepared frame
  *    `append` consumes: one tokenize (BM25) or MinHash (LSH) pass
  *    shared by probe and append; the vector families append `fresh`.
  *  - `append` commits the prepared rows; the caller already holds the
  *    writer lock and has established freshness and id uniqueness.
  *
  * `channel` names the result channel beside `late/` on the gated path.
  */
private[graft] final case class IngestFamily[S](
    channel: String,
    channelSchema: StructType,
    recover: (SparkSession, String) => Unit,
    committed: (SparkSession, String) => DataFrame,
    open: (SparkSession, String) => S,
    probe: (SparkSession, S, DataFrame, DataFrame) => (DataFrame, DataFrame),
    append: (SparkSession, S, DataFrame) => Unit)

private[graft] object IngestFamily {

  /** BM25 ([[Bm25Index]]): search rows (query_id, id, score, rnk). */
  def lex(idCol: String, textCol: String, topK: Int)
      : IngestFamily[Bm25Index.Snapshot] =
    IngestFamily[Bm25Index.Snapshot]("search", Bm25Index.searchSchema,
      Bm25Index.recover, Bm25Index.readDoclens, Bm25Index.open,
      probe = { (sp, snap, fresh, doclens) =>
        // tf rows are unique per (id, term), matching the probe's
        // per-document query-term distinctness
        val rows = Bm25Index.tokenRows(fresh, idCol, textCol)
          .localCheckpoint(eager = false)
        (Bm25Index.probe(sp, snap, Bm25Index.tfFromRows(rows)
          .select(col("id").as("query_id"), col("term")), doclens, topK), rows)
      },
      append = (_, snap, rows) => Bm25Index.appendRows(snap, rows))

  /** LSH near-dup ([[LshDedupIndex]]): candidate rows (new_id,
    * indexed_id, est_jaccard).
    */
  def dedup(idCol: String, textCol: String): IngestFamily[LshDedupIndex.Snapshot] =
    IngestFamily[LshDedupIndex.Snapshot]("cands", LshDedupIndex.candidateSchema,
      LshDedupIndex.recover, LshDedupIndex.readSignatures, LshDedupIndex.open,
      probe = { (sp, snap, fresh, sigs) =>
        val signed = LshDedupIndex.signBatch(fresh, idCol, textCol, snap.meta)
        (LshDedupIndex.probe(sp, snap, signed, sigs), signed)
      },
      append = (_, snap, signed) => LshDedupIndex.appendSigned(snap, signed))

  /** IVF ([[IvfIndex]]): probe rows (query_id, neighbor_id, dist, rank). */
  def ann(idCol: String, vecCol: String, k: Int, nProbe: Int)
      : IngestFamily[IvfIndex.Snapshot] =
    IngestFamily[IvfIndex.Snapshot]("search", IvfIndex.searchSchema,
      IvfIndex.recover, IvfIndex.readIds, IvfIndex.open,
      probe = (sp, snap, fresh, _) =>
        (IvfIndex.probe(sp, snap, fresh, idCol, vecCol, k, nProbe), fresh),
      append = (sp, snap, fresh) =>
        IvfIndex.appendPrepared(sp, snap, fresh, idCol, vecCol))

  /** Sharded HNSW ([[HnswIndex]]): beam-probe rows in the engine kNN
    * shape (approximate, so oracles pin membership, not neighbor sets).
    */
  def hnsw(idCol: String, vecCol: String, k: Int, efSearch: Int)
      : IngestFamily[HnswIndex.Snapshot] =
    IngestFamily[HnswIndex.Snapshot]("search", IvfIndex.searchSchema,
      HnswIndex.recover, HnswIndex.readIds, HnswIndex.open,
      probe = (sp, snap, fresh, _) =>
        (HnswIndex.probe(sp, snap, fresh, idCol, vecCol, k, efSearch), fresh),
      append = (sp, snap, fresh) =>
        HnswIndex.appendPrepared(sp, snap, fresh, idCol, vecCol))
}
