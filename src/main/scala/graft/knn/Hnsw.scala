package graft.knn

import scala.collection.mutable

/** In-memory hierarchical navigable-small-world graph — the public HNSW
  * algorithm (Malkov & Yashunin 2016), covering the reference's
  * graph-index contract (hnswlib, DeepJoin/annIndex.py:12–40) with a
  * pure-JVM implementation.
  *
  * Determinism: an element's level comes from a seeded hash of its id
  * (not a shared RNG), and every heap ordering breaks ties by node index,
  * so a graph built from the same (id, vec) sequence is identical across
  * JVMs and runs.
  *
  * Scale architecture (see [[ApproxKnn.hnswKnn]]): one graph per
  * candidate PARTITION — sharded HNSW, the standard horizontal
  * deployment. Builds are independent and memory-bounded by partition
  * size, and a graph is never shuffled. A persisted shard
  * ([[HnswIndex]]) is stored once, as its [[HnswImage]], which the
  * shard's search or append task reads back whole.
  */
final class HnswGraph(
    m: Int = 16,
    efConstruction: Int = 100,
    cosine: Boolean = false,
    seed: Int = 42) {

  require(m >= 2, s"HnswGraph: m=$m must be >= 2")

  private val maxM = m        // per-level link cap (upper layers)
  private val maxM0 = 2 * m   // layer-0 link cap (paper recommendation)
  private val mL = 1.0 / math.log(m.toDouble)

  private val ids = mutable.ArrayBuffer.empty[Long]
  private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
  private val norms = mutable.ArrayBuffer.empty[Double]
  // links(node)(level) = neighbor node indices
  private val links = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
  private var entryPoint = -1
  private var topLevel = -1

  // Label-uniqueness guard for [[insert]] (hnswlib add_items parity: a
  // duplicate label is a hard error, never a silent second node that
  // search would return twice within top-k). LAZY: built on the first
  // insert over whatever the graph already holds, so restore-then-search
  // tasks (the serving path) never pay the O(N) populate — only
  // append/build tasks do, once, well under their beam work. This is the
  // zero-Spark-job enforcement point for the streaming fast path
  // (HnswIndex.appendPrepared, which runs no batch-level guard jobs): a
  // duplicated id inside one late batch (or across a multi-batch late
  // union) fails loudly in the task that would have corrupted the shard
  // graph.
  private var labelSet: java.util.HashSet[java.lang.Long] = null
  private def labels(): java.util.HashSet[java.lang.Long] = {
    if (labelSet == null) {
      labelSet = new java.util.HashSet[java.lang.Long](
        math.max(16, ids.length * 2))
      var i = 0
      while (i < ids.length) { labelSet.add(ids(i)); i += 1 }
    }
    labelSet
  }

  def size: Int = ids.length

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private def distTo(node: Int, q: Array[Float], qNorm: Double): Double =
    if (cosine) {
      val den = norms(node) * qNorm
      if (den > 0) 1.0 - dot(vecs(node), q) / den else 1.0
    } else {
      val v = vecs(node)
      var s = 0.0; var i = 0
      val n = math.min(v.length, q.length)
      while (i < n) { val d = v(i).toDouble - q(i).toDouble; s += d * d; i += 1 }
      s
    }

  /** Exponentially-distributed insertion level from a seeded per-id hash
    * (`floor(-ln(u) · mL)`, the paper's distribution) — id-deterministic,
    * no shared RNG state.
    */
  private def levelFor(id: Long): Int = {
    val rnd = new java.util.Random(id * 0x9E3779B97F4A7C15L + seed)
    val u = math.max(rnd.nextDouble(), 1e-12)
    math.min((-math.log(u) * mL).toInt, 32)
  }

  /** Greedy descent: hill-climb to the locally-nearest node at `level`. */
  private def greedyClosest(q: Array[Float], qNorm: Double, start: Int,
      level: Int): Int = {
    var cur = start
    var curD = distTo(cur, q, qNorm)
    var improved = true
    while (improved) {
      improved = false
      val ns = links(cur)(level)
      var i = 0
      while (i < ns.length) {
        val d = distTo(ns(i), q, qNorm)
        if (d < curD || (d == curD && ns(i) < cur)) {
          curD = d; cur = ns(i); improved = true
        }
        i += 1
      }
    }
    cur
  }

  /** The paper's SEARCH-LAYER: beam of width `ef` over one level.
    * Returns (dist, node) ascending.
    */
  private def searchLayer(q: Array[Float], qNorm: Double, entry: Int,
      ef: Int, level: Int): mutable.ArrayBuffer[(Double, Int)] = {
    val visited = new java.util.BitSet(ids.length)
    // candidates: nearest-first; result: furthest-first (bounded at ef)
    implicit val nearest: Ordering[(Double, Int)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Int.reverse)
    val candidates = mutable.PriorityQueue.empty[(Double, Int)](nearest)
    val result = mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
    val d0 = distTo(entry, q, qNorm)
    visited.set(entry)
    candidates.enqueue((d0, entry))
    result.enqueue((d0, entry))
    while (candidates.nonEmpty) {
      val (cd, c) = candidates.dequeue()
      if (cd > result.head._1 && result.size >= ef) {
        candidates.clear() // beam exhausted
      } else {
        val ns = links(c)(level)
        var i = 0
        while (i < ns.length) {
          val e = ns(i)
          if (!visited.get(e)) {
            visited.set(e)
            val d = distTo(e, q, qNorm)
            if (result.size < ef || d < result.head._1) {
              candidates.enqueue((d, e))
              result.enqueue((d, e))
              if (result.size > ef) result.dequeue()
            }
          }
          i += 1
        }
      }
    }
    val out = mutable.ArrayBuffer.empty[(Double, Int)]
    out ++= result
    out.sortInPlace()(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
    out
  }

  /** Keep a node's link list within `cap` by retaining the closest
    * (SELECT-NEIGHBORS-SIMPLE).
    */
  private def prune(node: Int, level: Int, cap: Int): Unit = {
    val ns = links(node)(level)
    if (ns.length > cap) {
      val v = vecs(node)
      val vN = if (cosine) norms(node) else 0.0
      val kept = ns.map(e => (distTo(e, v, vN), e))
        .sortInPlace()(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
        .take(cap).map(_._2)
      ns.clear()
      ns ++= kept
    }
  }

  def insert(id: Long, vec: Array[Float]): Unit = {
    require(labels().add(id),
      s"HnswGraph.insert: duplicate label $id — an id may be inserted " +
        "once (hnswlib add_items parity); a second node under the same " +
        "external id would surface twice within top-k")
    val node = ids.length
    ids += id
    vecs += vec
    norms += (if (cosine) math.sqrt(dot(vec, vec)) else 0.0)
    val level = levelFor(id)
    links += Array.fill(level + 1)(mutable.ArrayBuffer.empty[Int])
    if (entryPoint < 0) {
      entryPoint = node
      topLevel = level
      return
    }
    val qNorm = if (cosine) norms(node) else 0.0
    var ep = entryPoint
    var lc = topLevel
    while (lc > level) { ep = greedyClosest(vec, qNorm, ep, lc); lc -= 1 }
    lc = math.min(level, topLevel)
    while (lc >= 0) {
      val w = searchLayer(vec, qNorm, ep, efConstruction, lc)
      val cap = if (lc == 0) maxM0 else maxM
      val neighbors = w.take(maxM)
      neighbors.foreach { case (_, e) =>
        links(node)(lc) += e
        links(e)(lc) += node
        prune(e, lc, cap)
      }
      ep = w.head._2
      lc -= 1
    }
    if (level > topLevel) { topLevel = level; entryPoint = node }
  }

  /** Top-k by (distance, id): greedy descent through the upper layers,
    * then a beam of width `max(ef, k)` at layer 0.
    */
  def search(q: Array[Float], k: Int, ef: Int): Seq[(Long, Double)] = {
    if (entryPoint < 0) return Nil
    val qNorm = if (cosine) math.sqrt(dot(q, q)) else 0.0
    var ep = entryPoint
    var lc = topLevel
    while (lc > 0) { ep = greedyClosest(q, qNorm, ep, lc); lc -= 1 }
    searchLayer(q, qNorm, ep, math.max(ef, k), 0)
      .iterator.map { case (d, n) => (ids(n), d) }
      .toSeq
      .sortBy { case (nid, d) => (d, nid) }
      .take(k)
  }

  /** Persistence snapshot: one (id, vec, links-per-level) per node in
    * insertion order — the graph state [[HnswGraph.restore]] rebuilds
    * exactly (index-as-data, no re-insertion).
    */
  def nodes: IndexedSeq[(Long, Array[Float], Seq[Seq[Int]])] =
    ids.indices.map(i => (ids(i), vecs(i), links(i).toSeq.map(_.toSeq)))
}

object HnswGraph {

  /** Exact graph restoration from a [[HnswGraph.nodes]] snapshot (rows in
    * original insertion order): adjacency, entry point and top level are
    * reconstructed directly — search behavior is identical to the graph
    * that was persisted. `entryPoint` is derivable: insertion only
    * replaces it when a node EXCEEDS the current top level, so it is the
    * earliest node holding the maximum level. Pass the build-time
    * `efConstruction`/`seed` when the restored graph will receive further
    * [[HnswGraph.insert]]s (append): they govern new elements' beam width
    * and level assignment.
    */
  def restore(m: Int, cosine: Boolean,
      nodes: Seq[(Long, Array[Float], Seq[Seq[Int]])],
      efConstruction: Int = 1, seed: Int = 42): HnswGraph = {
    val g = new HnswGraph(m = m, efConstruction = efConstruction,
      cosine = cosine, seed = seed)
    nodes.foreach { case (id, vec, ls) =>
      g.ids += id
      g.vecs += vec
      g.norms += (if (cosine) math.sqrt(g.dot(vec, vec)) else 0.0)
      g.links += ls.map(l => mutable.ArrayBuffer.from(l)).toArray
    }
    if (g.ids.nonEmpty) {
      g.topLevel = g.links.iterator.map(_.length - 1).max
      g.entryPoint = g.links.indexWhere(_.length - 1 == g.topLevel)
    }
    g
  }
}
