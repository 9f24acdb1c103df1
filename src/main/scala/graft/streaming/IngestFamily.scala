package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.dedup.LshDedupIndex
import graft.knn.{HnswIndex, IvfIndex, PqCodebooks}
import graft.text.Bm25Index

/** One persistent index family as the ingest driver
  * ([[Streams.ingestBatch]]) sees it: the index calls that differ by
  * family, and nothing else. Every field is a direct call into the
  * family's own index object; the driver owns the lock, the freshness
  * and lateness gate, the batch-keyed channel write and the per-loop
  * metadata memo.
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
  *  - `metaGen`/`loadMeta` key and load the append-immutable metadata
  *    the driver memoizes per loop ([[Streams.MetaMemo]]).
  *  - `probe(sp, indexDir, fresh, committed, meta)` returns the result
  *    rows the driver writes to the batch's channel, and the prepared
  *    frame `append` consumes: one tokenize (BM25) or MinHash (LSH) pass
  *    shared by probe and append; the vector families append `fresh`.
  *  - `append` commits the prepared rows; the caller already holds the
  *    writer lock and has established freshness and id uniqueness.
  *
  * `channel` names the result channel beside `late/` on the gated path.
  */
private[graft] final case class IngestFamily[M](
    channel: String,
    channelSchema: StructType,
    recover: (SparkSession, String) => Unit,
    committed: (SparkSession, String) => DataFrame,
    metaGen: (SparkSession, String) => Long,
    loadMeta: (SparkSession, String) => M,
    probe: (SparkSession, String, DataFrame, DataFrame, M) => (DataFrame, DataFrame),
    append: (SparkSession, String, DataFrame, M) => Unit)

private[graft] object IngestFamily {

  /** BM25 ([[Bm25Index]]): search rows (query_id, id, score, rnk); meta
    * is the bucket count.
    */
  def lex(idCol: String, textCol: String, topK: Int): IngestFamily[Int] =
    IngestFamily[Int]("search", Bm25Index.searchSchema,
      Bm25Index.recover, Bm25Index.readDoclens,
      Bm25Index.metaGen, Bm25Index.loadParams,
      probe = { (sp, dir, fresh, doclens, nBuckets) =>
        // tf rows are unique per (id, term), matching the probe's
        // per-document query-term distinctness
        val rows = Bm25Index.tokenRows(fresh, idCol, textCol)
          .localCheckpoint(eager = false)
        (Bm25Index.searchTopK(sp, dir, fresh, idCol, textCol, topK,
          preDoclens = Some(doclens),
          preQTerms = Some(Bm25Index.tfFromRows(rows)
            .select(col("id").as("query_id"), col("term"))),
          preNBuckets = Some(nBuckets)), rows)
      },
      append = (_, dir, rows, nBuckets) =>
        Bm25Index.appendRows(dir, rows, nBuckets))

  /** LSH near-dup ([[LshDedupIndex]]): candidate rows (new_id,
    * indexed_id, est_jaccard); meta is (shingleSize, bands, rowsPerBand).
    */
  def dedup(idCol: String, textCol: String): IngestFamily[(Int, Int, Int)] =
    IngestFamily[(Int, Int, Int)]("cands", LshDedupIndex.candidateSchema,
      LshDedupIndex.recover, LshDedupIndex.readSignatures,
      LshDedupIndex.metaGen, LshDedupIndex.loadParams,
      probe = { (sp, dir, fresh, sigs, params) =>
        val signed = LshDedupIndex.signBatch(fresh, idCol, textCol, params)
        (LshDedupIndex.candidatesAgainst(sp, dir, fresh, idCol, textCol,
          preSigs = Some(sigs), preSigned = Some(signed),
          preParams = Some(params)), signed)
      },
      append = { case (_, dir, signed, (_, bands, rowsPerBand)) =>
        LshDedupIndex.appendSigned(dir, signed, bands, rowsPerBand)
      })

  type IvfMeta = (Array[Array[Float]], String, Option[(PqCodebooks, Boolean)])

  /** IVF ([[IvfIndex]]): probe rows (query_id, neighbor_id, dist, rank);
    * meta is (centroids, metric, PQ codebooks).
    */
  def ann(idCol: String, vecCol: String, k: Int, nProbe: Int)
      : IngestFamily[IvfMeta] =
    IngestFamily[IvfMeta]("search", IvfIndex.searchSchema,
      IvfIndex.recover, IvfIndex.readIds,
      IvfIndex.metaGen, IvfIndex.loadIndexMeta,
      probe = { case (sp, dir, fresh, _, (centroids, metric, _)) =>
        (IvfIndex.search(sp, dir, fresh, idCol, vecCol, k, nProbe,
          preMeta = Some((centroids, metric))), fresh)
      },
      append = { case (sp, dir, fresh, (centroids, metric, pq)) =>
        IvfIndex.appendPrepared(sp, dir, fresh, idCol, vecCol, centroids,
          metric, pq)
      })

  /** Sharded HNSW ([[HnswIndex]]): beam-probe rows in the engine kNN
    * shape (approximate, so oracles pin membership, not neighbor sets);
    * meta is the index params.
    */
  def hnsw(idCol: String, vecCol: String, k: Int, efSearch: Int)
      : IngestFamily[HnswIndex.Params] =
    IngestFamily[HnswIndex.Params]("search", IvfIndex.searchSchema,
      HnswIndex.recover, HnswIndex.readIds,
      HnswIndex.metaGen, HnswIndex.loadParams,
      probe = (sp, dir, fresh, _, params) =>
        (HnswIndex.search(sp, dir, fresh, idCol, vecCol, k, efSearch,
          preParams = Some(params)), fresh),
      append = (sp, dir, fresh, params) =>
        HnswIndex.appendPrepared(sp, dir, fresh, idCol, vecCol, params))
}
