package graft.discover

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-quality evaluation (SemLink/join_discoverer.py:327–451;
  * DeepJoin/search_query.py:69–117): micro Precision/Recall/F1 over pair
  * sets and NDCG@k over ranked candidate lists. Pure built-in aggregations
  * and windows — partial aggregation and AQE apply unchanged at scale.
  */
object Eval {

  /** The reference adds eps to DENOMINATORS (join_discoverer.py:27;
    * search_query.py:71, 104–106), so even perfect retrieval scores
    * slightly below 1.0 — semantics kept exactly.
    */
  val Eps = 1e-8

  /** Micro P/R/F1 over directed (query, candidate) pair sets.
    * `discovered` and `truth` both two-column frames named
    * (query, candidate). TP = |discovered ∩ truth|, FP = |discovered − truth|,
    * FN = |truth − discovered| (set semantics: join_discoverer.py:417–423).
    * One-row output, metrics rounded to 4 (search_query.py:108–111).
    *
    * Single pass: one full-outer join + conditional counts, so the
    * (potentially expensive) `discovered` plan — a whole kNN job in the
    * SemLink pipeline — is evaluated exactly once, not once per set op.
    */
  def microPrf1(discovered: DataFrame, truth: DataFrame): DataFrame = {
    val d = discovered.select("query", "candidate").distinct()
      .withColumn("__d", lit(1))
    val t = truth.select("query", "candidate").distinct()
      .withColumn("__t", lit(1))
    prfColumns(d.join(t, Seq("query", "candidate"), "full_outer")
      .agg(
        count(when(col("__d").isNotNull && col("__t").isNotNull, lit(1))).as("tp"),
        count(when(col("__d").isNotNull && col("__t").isNull, lit(1))).as("fp"),
        count(when(col("__d").isNull && col("__t").isNotNull, lit(1))).as("fn")))
  }

  /** [[microPrf1]] when |truth| is ALREADY KNOWN and `truth` is already
    * distinct — the repeated-cells shape (the SemLink grid scores many
    * (k, threshold) cells against ONE truth relation). Set algebra:
    * fn = |truth| − tp, so the truth side never has to flow through a
    * per-cell full-outer join — a LEFT join ships only the (small)
    * discovered side against it, and a truth frame checkpointed
    * pre-partitioned on (query, candidate) is not re-shuffled per cell.
    * Identical output to [[microPrf1]] by construction (shared
    * [[prfColumns]] arithmetic; spec-pinned).
    */
  def microPrf1Counted(discovered: DataFrame, truthDistinct: DataFrame,
      nTruth: Long): DataFrame =
    prfColumns(discovered.select("query", "candidate").distinct()
      .join(truthDistinct.select("query", "candidate")
        .withColumn("__t", lit(1)), Seq("query", "candidate"), "left")
      .agg(
        count(when(col("__t").isNotNull, lit(1))).as("tp"),
        count(when(col("__t").isNull, lit(1))).as("fp"))
      .withColumn("fn", lit(nTruth) - col("tp")))

  /** The one shared P/R/F1 arithmetic over a (tp, fp, fn) frame — eps in
    * denominators, round to 4 — so the full-outer, counted and grid paths
    * cannot drift.
    */
  private[graft] def prfColumns(counts: DataFrame): DataFrame =
    counts
      .withColumn("precision",
        round(col("tp") / (col("tp") + col("fp") + lit(Eps)), 4))
      .withColumn("recall",
        round(col("tp") / (col("tp") + col("fn") + lit(Eps)), 4))
      .withColumn("f1", round(
        lit(2.0) * (col("tp") / (col("tp") + col("fp") + lit(Eps))) *
          (col("tp") / (col("tp") + col("fn") + lit(Eps))) /
          ((col("tp") / (col("tp") + col("fp") + lit(Eps))) +
            (col("tp") / (col("tp") + col("fn") + lit(Eps))) + lit(Eps)), 4))

  /** A10: per-query (macro) metrics at k — precision@k, recall@k, f1@k per
    * query (search_query.py:89–102; the reference computes these per query
    * and reports only aggregate means — we expose the per-query grain,
    * from which any aggregate derives).
    * `ranked`: (query, candidate, rank); `truth`: (query, candidate).
    * Queries with no truth entry are skipped (inner join, SemLink
    * semantics). Eps-in-denominator kept.
    */
  def perQueryPrf(ranked: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    val t = truth.select("query", "candidate").distinct()
    val relCounts = t.groupBy("query").agg(count(lit(1)).as("n_relevant"))
    // ONE pass over the (expensive — usually a kNN job) ranked side: a
    // left join against the truth flag feeds both counts, instead of the
    // separate retrieved/hits aggregations that would evaluate topK twice
    val topK = ranked.filter(col("rank") <= k)
    val perQ = topK
      .join(t.withColumn("__rel", lit(1)), Seq("query", "candidate"), "left")
      .groupBy("query")
      .agg(count(lit(1)).as("n_retrieved"), count(col("__rel")).as("tp"))
    perQ
      .join(relCounts, Seq("query"), "inner")
      .withColumn("p_at_k", round(col("tp") / (col("n_retrieved") + lit(Eps)), 4))
      .withColumn("r_at_k", round(col("tp") / (col("n_relevant") + lit(Eps)), 4))
      .withColumn("f1_at_k", round(
        lit(2.0) * (col("tp") / (col("n_retrieved") + lit(Eps))) *
          (col("tp") / (col("n_relevant") + lit(Eps))) /
          ((col("tp") / (col("n_retrieved") + lit(Eps))) +
            (col("tp") / (col("n_relevant") + lit(Eps))) + lit(Eps)), 4))
      .select("query", "tp", "n_retrieved", "n_relevant",
        "p_at_k", "r_at_k", "f1_at_k")
  }

  /** NDCG@k (join_discoverer.py:327–368): per query, candidates ordered by
    * rank; DCG = Σ 1/log2(rank+1) over relevant hits at rank ≤ k
    * (reference enumerates i from 0 with discount 1/log2(i+2));
    * IDCG = Σ_{i=1..min(k,|relevant|)} 1/log2(i+1).
    * Queries absent from the truth relation are skipped (SemLink semantics,
    * join_discoverer.py:344–346); `zeroWhenNoTruth=true` gives the DeepJoin
    * variant that scores them 0.0 (search_query.py:97).
    *
    * DELIBERATE DIVERGENCE from both references (default semantics):
    * truth queries the retrieval returned NO rows for score 0 here —
    * they are real misses, and dropping them would inflate the mean (a
    * system that found nothing for half the truth queries would report
    * perfect NDCG). Both references compute the mean over RETRIEVED
    * queries only (join_discoverer.py groups df_distances by column_1;
    * search_query.py iterates results), so reported NDCG can sit above
    * this method's default whenever retrieval misses a truth query
    * entirely. `retrievedOnly=true` restores reference parity exactly:
    * the mean runs over queries present in `ranked` (intersected with
    * truth, or all of them under `zeroWhenNoTruth`).
    * Output: one row (n_queries, ndcg) with ndcg = mean over queries,
    * rounded to 4.
    */
  def ndcgAtK(
      ranked: DataFrame, // (query, candidate, rank)
      truth: DataFrame,  // (query, candidate)
      k: Int,
      zeroWhenNoTruth: Boolean = false,
      retrievedOnly: Boolean = false): DataFrame = {
    val t = truth.select("query", "candidate").distinct()
    val relCounts = t.groupBy("query").agg(count(lit(1)).as("n_relevant"))

    val dcg = ranked
      .filter(col("rank") <= k)
      .join(t.withColumn("__t", lit(1)), Seq("query", "candidate"), "left")
      .groupBy("query")
      .agg(sum(when(col("__t").isNotNull, gain(col("rank")))
        .otherwise(lit(0.0))).as("dcg"))

    // the query universe (default): truth queries the retrieval
    // returned NOTHING for are kept (dcg is built from `ranked`, so
    // they have no dcg row) — a right/full join scores them 0; an
    // inner join would silently drop them from both n_queries and the
    // mean. zeroWhenNoTruth (DeepJoin) additionally keeps ranked
    // queries with no truth entries, also at 0. retrievedOnly is the
    // reference-parity mode: mean over retrieved queries only (the
    // pre-divergence inner/left semantics).
    val joinType =
      if (retrievedOnly) { if (zeroWhenNoTruth) "left" else "inner" }
      else { if (zeroWhenNoTruth) "full" else "right" }
    val perQuery = dcg.join(relCounts, Seq("query"), joinType)
      .withColumn("idcg", idcg(lit(k), col("n_relevant")))
      .withColumn("ndcg_q",
        when(col("idcg") > 0,
          coalesce(col("dcg"), lit(0.0)) / col("idcg")).otherwise(lit(0.0)))

    perQuery.agg(
      count(lit(1)).as("n_queries"),
      round(avg("ndcg_q"), 4).as("ndcg"))
  }

  /** The discounted gain of a relevant hit at 1-based `rank`:
    * 1/log2(rank+1) (the reference's 1/log2(i+2) over 0-based i).
    */
  private[graft] def gain(rank: Column): Column =
    lit(1.0) / log2(rank + lit(1.0))

  /** IDCG@k of a query with `nRelevant` relevant candidates:
    * Σ_{i=1..min(k, nRelevant)} 1/log2(i+1), summed in rank order; 0 for a
    * query outside the truth relation (`nRelevant` null). Shared by
    * [[ndcgAtK]] and the SemLink grid, whose `k` is a column.
    */
  private[graft] def idcg(k: Column, nRelevant: Column): Column =
    when(nRelevant.isNull, lit(0.0)).otherwise(
      aggregate(
        sequence(lit(1), least(k, nRelevant.cast("int"))),
        lit(0.0),
        (acc, i) => acc + gain(i.cast("double"))))
}
