package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Okapi BM25 lexical retrieval and reciprocal-rank-fusion hybrid search.
  *
  * The reference ranks retrieval candidates by embedding distance alone
  * (join_discoverer.py's FAISS top-k is the only ranking primitive); a
  * production retrieval stack pairs that dense leg with a lexical one
  * and fuses the two rankings. [[scoreTopK]] is the lexical leg —
  * Robertson et al., TREC-3 (1994), with the non-negative idf form
  * ln(1 + (N − df + ½)/(df + ½)) popularized by Lucene so common terms
  * (df > N/2) dampen to ~0 instead of going negative. [[rrfFuse]] is
  * reciprocal rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
  * score(d) = Σ_lists 1/(k₀ + rank_list(d)), robust to the two legs'
  * incomparable score scales because only ranks enter.
  *
  * Scale posture: the corpus side is reduced to an inverted index of
  * scalar (term, id, tf) rows — document texts never ride a shuffle.
  * Document frequency joins on the same `term` key as the query probe
  * (one term-keyed exchange, reused), the query side is a broadcast
  * (bounded query set — the same envelope as broadcastKnn), and corpus
  * constants (N, avgdl) are a 1-row broadcast aggregate. The ranking
  * window partitions per query, so its state is one query's candidate
  * list, never a global sort.
  */
object Bm25 {

  /** (query_id, term) distinct query terms — derived from the SAME
    * [[termFreqs]] kernel as the postings (a term in the array is
    * unique and non-blank by construction), so query-side and
    * corpus-side tokenization cannot drift.
    */
  private[text] def queryTerms(queries: DataFrame, qIdCol: String,
      qTextCol: String): DataFrame =
    queries.select(col(qIdCol).cast("long").as("query_id"),
        explode(termFreqs(col(qTextCol))).as("r"))
      .select(col("query_id"), col("r.term").as("term"))

  private type Col = org.apache.spark.sql.Column

  /** A document's (term, tf) pairs as a per-ROW array — term frequency
    * is document-local, so computing it with an explode + groupBy (the
    * obvious idiom) pays a corpus-wide shuffle for what is actually a
    * per-row count. Native one-pass kernel
    * ([[org.apache.spark.sql.graft.TermFreqKernel]]): O(tokens) per
    * document, runs inside the whole-stage-codegen span, zero exchanges
    * at any corpus size — the build, the per-batch append and the
    * probe's query-term prep all drop their tokenize shuffle. (A
    * Column-HOF formulation was measured 30× slower: lambda bodies are
    * excluded from codegen CSE, so every element access re-evaluated
    * the captured sorted-token subtree.)
    */
  private[text] def termFreqs(c: Col): Col =
    org.apache.spark.sql.graft.Interop.column(
      org.apache.spark.sql.graft.TermFreqs(
        org.apache.spark.sql.graft.Interop.expression(
          coalesce(c, lit(""))))) // null text = blank text, the toks rule

  /** The one BM25 contribution formula — idf · saturation, with the
    * corpus constants injected as columns (broadcast-stats form) or
    * literals (the probe's collected form), so the two call shapes
    * cannot drift numerically: identical Column tree, identical doubles.
    */
  private def contribCore(nDocs: org.apache.spark.sql.Column,
      avgdl: org.apache.spark.sql.Column, k1: Double, b: Double) =
    log(lit(1.0) + (nDocs - col("df") + 0.5) /
        (col("df") + 0.5)) *
      (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl))

  /** The shared ranking tail: per-(query, doc) contribution sum with the
    * 4-dp round-before-rank tie rule, per-query top-k.
    */
  private def rankTail(scored: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("id"))
    scored
      // ONE exchange for the contribution sum AND the ranking window:
      // hash(query_id) clusters (query_id, id) — the groupBy reuses it
      // (map-side partial agg still collapses per-term rows before the
      // shuffle) and the window's per-query requirement is the same key,
      // where the default groupBy(query_id, id) partitioning forced a
      // second exchange to regroup by query_id alone (guide §2.4).
      // Per-partition state stays one query's candidate list either way.
      .repartition(col("query_id"))
      .groupBy("query_id", "id")
      .agg(round(sum("contrib"), 4).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select("query_id", "id", "score", "rnk")
  }

  private[text] def scoreFrom(
      tf: DataFrame, dfreq: DataFrame, dl: DataFrame, stats: DataFrame,
      qterms: DataFrame, dlJoinKeys: Seq[String], topK: Int,
      k1: Double, b: Double): DataFrame = {
    require(topK > 0, s"bm25: topK must be positive, got $topK")
    require(k1 >= 0 && b >= 0 && b <= 1, s"bm25: bad k1/b ($k1, $b)")
    val contrib = contribCore(col("n_docs"), col("avgdl"), k1, b)
    rankTail(
      tf.join(dfreq, "term")                 // same term-keyed exchange
        .join(broadcast(qterms), "term")     // bounded query set
        .join(dl, dlJoinKeys)
        .crossJoin(broadcast(stats))
        .select(col("query_id"), col("id"), contrib.as("contrib")),
      topK)
  }

  /** [[scoreFrom]] for a per-batch probe that has already (a) fused the
    * document-frequency count INTO the candidate frame (`tfdf`: (term,
    * id, th, tf, df) — one term-keyed exchange instead of the dedup
    * aggregation + df aggregation + df join's three) and (b) collected
    * the 1-row corpus stats driver-side (it pays collects per micro-
    * batch anyway; literals skip the broadcast-stage round-trip). Same
    * formula via [[contribCore]], same [[rankTail]] — numerically
    * identical to [[scoreFrom]] by construction.
    */
  private[text] def scoreJoined(
      tfdf: DataFrame, dl: DataFrame, nDocs: Double, avgdl: Double,
      qterms: DataFrame, dlJoinKeys: Seq[String], topK: Int,
      k1: Double, b: Double,
      broadcastQ: Boolean = true): DataFrame = {
    require(topK > 0, s"bm25: topK must be positive, got $topK")
    require(k1 >= 0 && b >= 0 && b <= 1, s"bm25: bad k1/b ($k1, $b)")
    val contrib = contribCore(lit(nDocs), lit(avgdl), k1, b)
    // broadcastQ = false is the LARGE-query-side shape
    // (Bm25Index.searchTopK's over-cap fallback): qterms shuffles on
    // term into tfdf's existing term partitioning instead of being
    // materialized whole on the driver as a broadcast
    val q = if (broadcastQ) broadcast(qterms) else qterms
    rankTail(
      tfdf.join(q, "term")
        .join(dl, dlJoinKeys)
        .select(col("query_id"), col("id"), contrib.as("contrib")),
      topK)
  }

  /** BM25 top-k retrieval: for each query row, the `topK` documents
    * ranked by Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    * ties broken by document id ascending. Scores are rounded to 4 dp
    * BEFORE ranking so the order is reproducible across engines and
    * aggregation orders (the q69/q70 convention — templated corpora
    * produce genuinely tied scores, and a last-ulp summation difference
    * must not flip the ranking).
    *
    * N and avgdl are taken over documents with ≥ 1 token: empty or
    * blank documents can never match a term, so they are simply absent
    * from both the index and the corpus statistics. A query none of
    * whose terms occur in the corpus yields no rows (there is nothing
    * to rank it against); repeated query terms count once — BM25's
    * standard bag-of-documents form, not query-side tf weighting.
    *
    * Output: (query_id, id, score, rnk), rnk 1..topK per query.
    */
  def scoreTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      qIdCol: String,
      qTextCol: String,
      topK: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    // per-document (term, tf) arrays, checkpointed BEFORE the explode:
    // one text scan feeds the inverted index (explode), the document
    // lengths (array sum — no shuffle; [[termFreqs]] makes term
    // frequency a per-row run-length count, so neither tf nor dl pays
    // the corpus-wide shuffle the explode + groupBy idiom cost)
    val rows = docs.select(col(idCol).cast("long").as("id"),
        termFreqs(col(textCol)).as("tfs"))
      .localCheckpoint(eager = false)
    val tf = rows.select(col("id"), explode(col("tfs")).as("r"))
      .select(col("id"), col("r.term").as("term"), col("r.tf").as("tf"))
    val dl = rows.select(col("id"),
        aggregate(col("tfs"), lit(0L), (a, x) => a + x.getField("tf")).as("dl"))
      .filter(col("dl") > 0)
    // corpus constants snapshot at the same action as the index — a
    // 1-row broadcast, never a driver count() at plan construction
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg("dl").as("avgdl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    scoreFrom(tf, dfreq, dl, stats, queryTerms(queries, qIdCol, qTextCol),
      Seq("id"), topK, k1, b)
  }

  /** Reciprocal rank fusion over any number of ranked lists, each with
    * columns (`queryCol`, `idCol`, `rankCol`): score = Σ 1/(k₀ + rank)
    * over the lists where the document appears, top `topK` per query,
    * score ties broken by id ascending. Scores are rounded to 6 dp
    * before ranking (same cross-engine reproducibility rule as
    * [[scoreTopK]]; with the default k₀ = 60 adjacent ranks differ by
    * ~2.6e-4 ≫ 1e-6, so rounding never merges distinct fusion scores).
    *
    * One union + one grouped sum + a per-query window — list count and
    * length are the only scale factors; nothing corpus-sized moves.
    *
    * Output: (query_id, id, score, rnk), rnk 1..topK per query.
    */
  def rrfFuse(
      ranked: Seq[DataFrame],
      queryCol: String,
      idCol: String,
      rankCol: String,
      k0: Int = 60,
      topK: Int = 10): DataFrame = {
    require(ranked.nonEmpty, "rrfFuse: no ranked lists given")
    require(k0 >= 0 && topK > 0, s"rrfFuse: bad k0/topK ($k0, $topK)")
    val contribs = ranked.map(_.select(
      col(queryCol).cast("long").as("query_id"),
      col(idCol).cast("long").as("id"),
      (lit(1.0) / (lit(k0.toDouble) + col(rankCol))).as("contrib")))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("id"))
    contribs.reduce(_ unionByName _)
      .groupBy("query_id", "id")
      .agg(round(sum("contrib"), 6).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select("query_id", "id", "score", "rnk")
  }
}
