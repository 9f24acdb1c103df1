package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.dedup.LshDedupIndex
import graft.knn.{HnswIndex, IvfIndex}
import graft.text.Bm25Index
import graft.util.IndexWriter

/** One persistent index family as the ingest driver
  * ([[Streams.ingestBatch]]) sees it: the family's writer half
  * ([[graft.util.IndexWriter]]: recover, committed ids, open, prepare,
  * write) and its probe. The driver owns the lock, the freshness and
  * lateness gate and the batch-keyed channel write.
  *
  *  - `probe(sp, snap, fresh, prepared, committed)` returns the result
  *    rows the driver writes to the batch's channel. `prepared` is the
  *    writer's `prepare` of `fresh` (BM25 token rows, LSH signatures),
  *    shared by probe and write; `committed` is the writer's committed
  *    table, read once per batch for the freshness join and the probe
  *    (BM25 doclens → N/avgdl and the candidate join, LSH signatures →
  *    the candidate signature fetch).
  *
  * `channel` names the result channel beside `late/` on the gated path.
  */
private[graft] final case class IngestFamily[S](
    channel: String,
    channelSchema: StructType,
    writer: IndexWriter[S],
    probe: (SparkSession, S, DataFrame, DataFrame, DataFrame) => DataFrame)

private[graft] object IngestFamily {

  /** BM25 ([[Bm25Index]]): search rows (query_id, id, score, rnk). */
  def lex(idCol: String, textCol: String, topK: Int)
      : IngestFamily[Bm25Index.Snapshot] =
    IngestFamily[Bm25Index.Snapshot]("search", Bm25Index.searchSchema,
      Bm25Index.writer(idCol, textCol),
      // tf rows are unique per (id, term), matching the probe's
      // per-document query-term distinctness
      probe = (sp, snap, _, rows, doclens) =>
        Bm25Index.probe(sp, snap, Bm25Index.tfFromRows(rows)
          .select(col("id").as("query_id"), col("term")), doclens, topK))

  /** LSH near-dup ([[LshDedupIndex]]): candidate rows (new_id,
    * indexed_id, est_jaccard).
    */
  def dedup(idCol: String, textCol: String): IngestFamily[LshDedupIndex.Snapshot] =
    IngestFamily[LshDedupIndex.Snapshot]("cands", LshDedupIndex.candidateSchema,
      LshDedupIndex.writer(idCol, textCol),
      probe = (sp, snap, _, signed, sigs) =>
        LshDedupIndex.probe(sp, snap, signed, sigs))

  /** IVF ([[IvfIndex]]): probe rows (query_id, neighbor_id, dist, rank). */
  def ann(idCol: String, vecCol: String, k: Int, nProbe: Int)
      : IngestFamily[IvfIndex.Snapshot] =
    IngestFamily[IvfIndex.Snapshot]("search", IvfIndex.searchSchema,
      IvfIndex.writer(idCol, vecCol),
      probe = (sp, snap, fresh, _, _) =>
        IvfIndex.probe(sp, snap, fresh, idCol, vecCol, k, nProbe))

  /** Sharded HNSW ([[HnswIndex]]): beam-probe rows in the engine kNN
    * shape (approximate, so oracles pin membership, not neighbor sets).
    */
  def hnsw(idCol: String, vecCol: String, k: Int, efSearch: Int)
      : IngestFamily[HnswIndex.Snapshot] =
    IngestFamily[HnswIndex.Snapshot]("search", IvfIndex.searchSchema,
      HnswIndex.writer(idCol, vecCol),
      probe = (sp, snap, fresh, _, _) =>
        HnswIndex.probe(sp, snap, fresh, idCol, vecCol, k, efSearch))
}
