package graft.knn

import scala.collection.immutable.ArraySeq

/** In-memory hierarchical navigable-small-world graph — the public HNSW
  * algorithm (Malkov & Yashunin 2016), covering the reference's
  * graph-index contract (hnswlib, DeepJoin/annIndex.py:12–40) with a
  * pure-JVM implementation.
  *
  * Layout: one flat primitive kernel, hnswlib's shape. Node `i` (its
  * insertion position) owns
  *  - `ids(i)`, a `long`;
  *  - `vecs[i·dim, (i+1)·dim)`, its vector widened once to `double` on
  *    insert or restore (exact), in one contiguous `double[n·dim]` block;
  *  - `norms(i)`, its Euclidean norm (cosine graphs only, else 0);
  *  - its level-0 neighbor list at `link0[i·stride0]`: a count, then the
  *    neighbor positions, in a fixed stride with room for one link past
  *    the cap (an insert links, then prunes);
  *  - for each level `1..levels(i)` one list of the same shape in the
  *    node's own `upper(i)` block (most nodes have none).
  *
  * Resident memory per node is its vector (64-d: 256 B as floats, 512 B
  * as doubles; a [[HnswIndex.TargetShardNodes]] shard of 31,250 nodes at
  * 384-d holds about 96 MB of vectors) plus `4·(2m + 2)` B of level-0
  * links (136 B at m = 16).
  *
  * All vectors of one graph share one dimension (insert rejects any
  * other); a query is compared over its common prefix with them.
  *
  * Search: the beam's heaps are primitive two-array binary heaps with
  * total orders (candidates by (dist, node) ascending, results by
  * (dist, node) descending, bounded at `ef`), and every distance adds
  * its terms in component order, so results are bit-reproducible
  * (HnswGoldenSpec pins them). `jdk.incubator.vector` is not used: a
  * lane-parallel sum reorders the additions, which changes distance
  * bits. Each call takes its scratch (visited stamps, heaps, the
  * widened query) from its thread's scratch beam, which stays sized for
  * the largest graph and beam that thread has searched, so concurrent
  * searches of one graph are safe.
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
  * shard's search or append task decodes straight into these arrays.
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

  private var n = 0
  private var dim = -1 // set by the first insert or a restore
  private var ids = new Array[Long](0)
  private var vecs = new Array[Double](0)
  private var norms = new Array[Double](0)
  private var levels = new Array[Int](0) // top level per node
  private var stride0 = maxM0 + 2
  private var link0 = new Array[Int](0)
  private var strideU = maxM + 2
  private var upper = new Array[Array[Int]](0)
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
      labelSet = new java.util.HashSet[java.lang.Long](math.max(16, n * 2))
      var i = 0
      while (i < n) { labelSet.add(ids(i)); i += 1 }
    }
    labelSet
  }

  def size: Int = n

  /** The array holding (node, level)'s list, and the list's offset in
    * it: the count at the offset, the entries after it.
    */
  private def listArray(node: Int, level: Int): Array[Int] =
    if (level == 0) link0 else upper(node)
  private def listAt(node: Int, level: Int): Int =
    if (level == 0) node * stride0 else (level - 1) * strideU

  private def append(node: Int, level: Int, e: Int): Unit = {
    val arr = listArray(node, level)
    val at = listAt(node, level)
    arr(at + 1 + arr(at)) = e
    arr(at) += 1
  }

  private def norm(a: Array[Double], off: Int, len: Int): Double = {
    var s = 0.0; var i = 0
    while (i < len) { s += a(off + i) * a(off + i); i += 1 }
    math.sqrt(s)
  }

  /** Distance from `node` to the query `q[qOff, qOff + qLen)` of norm
    * `qNorm`, over their common prefix.
    */
  private def distTo(node: Int, q: Array[Double], qOff: Int, qLen: Int,
      qNorm: Double): Double = {
    val v = vecs
    val b = node * dim
    val len = math.min(dim, qLen)
    if (cosine) {
      val den = norms(node) * qNorm
      if (den > 0) {
        var s = 0.0; var i = 0
        while (i < len) { s += v(b + i) * q(qOff + i); i += 1 }
        1.0 - s / den
      } else 1.0
    } else {
      var s = 0.0; var i = 0
      while (i < len) { val d = v(b + i) - q(qOff + i); s += d * d; i += 1 }
      s
    }
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
  private def greedyClosest(q: Array[Double], qOff: Int, qLen: Int,
      qNorm: Double, start: Int, level: Int): Int = {
    var cur = start
    var curD = distTo(cur, q, qOff, qLen, qNorm)
    var improved = true
    while (improved) {
      improved = false
      val arr = listArray(cur, level)
      val at = listAt(cur, level)
      val end = at + arr(at)
      var i = at + 1
      while (i <= end) {
        val e = arr(i)
        val d = distTo(e, q, qOff, qLen, qNorm)
        if (d < curD || (d == curD && e < cur)) {
          curD = d; cur = e; improved = true
        }
        i += 1
      }
    }
    cur
  }

  /** The paper's SEARCH-LAYER: beam of width `ef` over one level. Leaves
    * the result in `b.outD`/`b.outN`, (dist, node) ascending, and
    * returns its length.
    */
  private def searchLayer(b: HnswGraph.Beam, q: Array[Double], qOff: Int,
      qLen: Int, qNorm: Double, entry: Int, ef: Int, level: Int): Int = {
    val stamp = b.nextStamp(n)
    val visited = b.visited
    val cand = b.candidates
    val res = b.results
    cand.clear(); res.clear()
    val d0 = distTo(entry, q, qOff, qLen, qNorm)
    visited(entry) = stamp
    cand.push(d0, entry)
    res.push(d0, entry)
    var exhausted = false
    while (!exhausted && cand.size > 0) {
      val cd = cand.topDist
      val c = cand.topNode
      cand.pop()
      if (cd > res.topDist && res.size >= ef) exhausted = true
      else {
        val arr = listArray(c, level)
        val at = listAt(c, level)
        val end = at + arr(at)
        var i = at + 1
        while (i <= end) {
          val e = arr(i)
          if (visited(e) != stamp) {
            visited(e) = stamp
            val d = distTo(e, q, qOff, qLen, qNorm)
            if (res.size < ef || d < res.topDist) {
              cand.push(d, e)
              res.push(d, e)
              if (res.size > ef) res.pop()
            }
          }
          i += 1
        }
      }
    }
    val r = res.size
    b.ensureOut(r)
    var j = r - 1
    while (j >= 0) {
      b.outD(j) = res.topDist; b.outN(j) = res.topNode; res.pop(); j -= 1
    }
    r
  }

  /** Keep a node's link list within `cap` by retaining the closest
    * (SELECT-NEIGHBORS-SIMPLE), ordered by (dist, node).
    */
  private def prune(node: Int, level: Int, cap: Int): Unit = {
    val arr = listArray(node, level)
    val at = listAt(node, level)
    val cnt = arr(at)
    if (cnt > cap) {
      val off = node * dim
      val qNorm = norms(node)
      val pd = new Array[Double](cnt)
      val pn = new Array[Int](cnt)
      var i = 0
      while (i < cnt) {
        val e = arr(at + 1 + i)
        val d = distTo(e, vecs, off, dim, qNorm)
        var j = i
        while (j > 0 && HnswGraph.before(d, e, pd(j - 1), pn(j - 1))) {
          pd(j) = pd(j - 1); pn(j) = pn(j - 1); j -= 1
        }
        pd(j) = d; pn(j) = e
        i += 1
      }
      System.arraycopy(pn, 0, arr, at + 1, cap)
      arr(at) = cap
    }
  }

  /** Size every array for `count` nodes of dimension `d`, with link
    * strides that hold `deg0`/`degU` links plus one. An empty graph
    * takes its dimension from its first insert.
    */
  private def allocate(count: Int, d: Int, deg0: Int, degU: Int): Unit = {
    dim = if (count == 0) -1 else d
    stride0 = math.max(maxM0, deg0) + 2
    strideU = math.max(maxM, degU) + 2
    ids = new Array[Long](count)
    vecs = new Array[Double](Math.multiplyExact(count, d))
    norms = new Array[Double](count)
    levels = new Array[Int](count)
    link0 = new Array[Int](Math.multiplyExact(count, stride0))
    upper = new Array[Array[Int]](count)
  }

  /** Make room for one more node. */
  private def grow(): Unit =
    if (n == ids.length) {
      val cap = math.max(16, 2 * n)
      ids = java.util.Arrays.copyOf(ids, cap)
      vecs = java.util.Arrays.copyOf(vecs, Math.multiplyExact(cap, dim))
      norms = java.util.Arrays.copyOf(norms, cap)
      levels = java.util.Arrays.copyOf(levels, cap)
      link0 = java.util.Arrays.copyOf(link0, Math.multiplyExact(cap, stride0))
      upper = java.util.Arrays.copyOf(upper, cap)
    }

  /** Set node `i`'s id and top level, and give it empty lists. */
  private def place(i: Int, id: Long, level: Int): Unit = {
    ids(i) = id
    levels(i) = level
    link0(i * stride0) = 0
    upper(i) = if (level > 0) new Array[Int](level * strideU) else null
  }

  /** Set node `i`'s list at `level` from `len` entries of `src`. */
  private def setList(i: Int, level: Int, src: Array[Int], from: Int,
      len: Int): Unit = {
    val arr = listArray(i, level)
    val at = listAt(i, level)
    arr(at) = len
    System.arraycopy(src, from, arr, at + 1, len)
  }

  /** Widen `src[from, from + dim)` into node `i`'s vector. */
  private def setVector(i: Int, src: Array[Float], from: Int): Unit = {
    val off = i * dim
    var j = 0
    while (j < dim) { vecs(off + j) = src(from + j).toDouble; j += 1 }
    norms(i) = if (cosine) norm(vecs, off, dim) else 0.0
  }

  /** After a restore of `count` nodes: the entry point is the earliest
    * node holding the maximum level (insertion only replaces it when a
    * node EXCEEDS the current top level).
    */
  private def seal(count: Int): Unit = {
    n = count
    var i = 0
    while (i < n) {
      if (levels(i) > topLevel) { topLevel = levels(i); entryPoint = i }
      i += 1
    }
  }

  def insert(id: Long, vec: Array[Float]): Unit = {
    if (dim < 0) dim = vec.length
    require(vec.length == dim, s"HnswGraph.insert: a ${vec.length}-d " +
      s"vector in a $dim-d graph; one graph holds one dimension")
    require(labels().add(id),
      s"HnswGraph.insert: duplicate label $id — an id may be inserted " +
        "once (hnswlib add_items parity); a second node under the same " +
        "external id would surface twice within top-k")
    grow()
    val node = n
    val level = levelFor(id)
    place(node, id, level)
    setVector(node, vec, 0)
    n += 1
    if (entryPoint < 0) {
      entryPoint = node
      topLevel = level
      return
    }
    val b = HnswGraph.beams.get()
    val off = node * dim
    val qNorm = norms(node)
    var ep = entryPoint
    var lc = topLevel
    while (lc > level) { ep = greedyClosest(vecs, off, dim, qNorm, ep, lc); lc -= 1 }
    lc = math.min(level, topLevel)
    while (lc >= 0) {
      val r = searchLayer(b, vecs, off, dim, qNorm, ep, efConstruction, lc)
      val cap = if (lc == 0) maxM0 else maxM
      var i = 0
      while (i < math.min(maxM, r)) {
        val e = b.outN(i)
        append(node, lc, e)
        append(e, lc, node)
        prune(e, lc, cap)
        i += 1
      }
      ep = b.outN(0)
      lc -= 1
    }
    if (level > topLevel) { topLevel = level; entryPoint = node }
  }

  /** Top-k by (distance, id): greedy descent through the upper layers,
    * then a beam of width `max(ef, k)` at layer 0.
    */
  def search(q: Array[Float], k: Int, ef: Int): Seq[(Long, Double)] = {
    val cap = math.max(0, math.min(k, n))
    val outIds = new Array[Long](cap)
    val outDists = new Array[Double](cap)
    val r = searchInto(q, k, ef, outIds, outDists)
    ArraySeq.tabulate(r)(i => (outIds(i), outDists(i)))
  }

  /** [[search]] into caller arrays of length at least `min(k, size)`:
    * writes the top-k (id, dist) ranked by (dist, id) and returns how
    * many it wrote.
    */
  private[knn] def searchInto(q: Array[Float], k: Int, ef: Int,
      outIds: Array[Long], outDists: Array[Double]): Int = {
    if (entryPoint < 0 || k <= 0) return 0
    val b = HnswGraph.beams.get()
    val qd = b.widen(q)
    val qLen = q.length
    val qNorm = if (cosine) norm(qd, 0, qLen) else 0.0
    var ep = entryPoint
    var lc = topLevel
    while (lc > 0) { ep = greedyClosest(qd, 0, qLen, qNorm, ep, lc); lc -= 1 }
    val r = searchLayer(b, qd, 0, qLen, qNorm, ep, math.max(ef, k), 0)
    // the beam ranks ties by node; the result ranks them by id, so each
    // run of equal distances is re-sorted by id
    val kept = math.min(k, r)
    var i = 0
    while (i < kept) {
      var j = i + 1
      while (j < r && java.lang.Double.compare(b.outD(j), b.outD(i)) == 0) j += 1
      var t = i
      while (t < j) { b.runIds(t - i) = ids(b.outN(t)); t += 1 }
      if (j - i > 1) java.util.Arrays.sort(b.runIds, 0, j - i)
      t = i
      while (t < math.min(j, kept)) {
        outIds(t) = b.runIds(t - i); outDists(t) = b.outD(t); t += 1
      }
      i = j
    }
    kept
  }

  /** Persistence snapshot: one (id, vec, links-per-level) per node in
    * insertion order — the graph state [[HnswGraph.restore]] rebuilds
    * exactly (index-as-data, no re-insertion).
    */
  def nodes: IndexedSeq[(Long, Array[Float], Seq[Seq[Int]])] =
    ArraySeq.tabulate(n) { i =>
      val v = new Array[Float](dim)
      var j = 0
      while (j < dim) { v(j) = vector(i, j); j += 1 }
      val ls = ArraySeq.tabulate(levelCount(i)) { l =>
        val arr = listArray(i, l)
        val at = listAt(i, l)
        ArraySeq.unsafeWrapArray(
          java.util.Arrays.copyOfRange(arr, at + 1, at + 1 + arr(at))): Seq[Int]
      }
      (ids(i), v, ls: Seq[Seq[Int]])
    }

  /** The heap bytes of the graph's arrays (array headers left out): the
    * size the resident shard cache ([[HnswIndex]]) charges for it.
    */
  private[graft] def residentBytes: Long = {
    var b = 8L * ids.length + 8L * vecs.length + 8L * norms.length +
      4L * levels.length + 4L * link0.length + 8L * upper.length
    var i = 0
    while (i < n) { if (upper(i) != null) b += 4L * upper(i).length; i += 1 }
    b
  }

  // the graph's arrays, as [[HnswImage.encode]] writes them
  private[knn] def dimension: Int = math.max(dim, 0)
  private[knn] def id(i: Int): Long = ids(i)
  private[knn] def vector(i: Int, j: Int): Float = vecs(i * dim + j).toFloat
  private[knn] def levelCount(i: Int): Int = levels(i) + 1
  private[knn] def linkCount(i: Int, level: Int): Int =
    listArray(i, level)(listAt(i, level))
  private[knn] def link(i: Int, level: Int, j: Int): Int =
    listArray(i, level)(listAt(i, level) + 1 + j)
}

object HnswGraph {

  /** (d1, n1) before (d2, n2) in the beam's total order. */
  private def before(d1: Double, n1: Int, d2: Double, n2: Int): Boolean = {
    val c = java.lang.Double.compare(d1, d2)
    c < 0 || (c == 0 && n1 < n2)
  }

  /** A binary heap of (dist, node) pairs in two primitive arrays: the
    * smallest pair on top (`max = false`) or the largest (`max = true`).
    */
  private final class Heap(max: Boolean) {
    private var d = new Array[Double](64)
    private var v = new Array[Int](64)
    var size = 0

    def clear(): Unit = size = 0
    def topDist: Double = d(0)
    def topNode: Int = v(0)

    private def above(i: Int, j: Int): Boolean =
      if (max) before(d(j), v(j), d(i), v(i)) else before(d(i), v(i), d(j), v(j))

    private def swap(i: Int, j: Int): Unit = {
      val td = d(i); d(i) = d(j); d(j) = td
      val tv = v(i); v(i) = v(j); v(j) = tv
    }

    def push(dist: Double, node: Int): Unit = {
      if (size == d.length) {
        d = java.util.Arrays.copyOf(d, 2 * size)
        v = java.util.Arrays.copyOf(v, 2 * size)
      }
      d(size) = dist; v(size) = node
      var i = size
      size += 1
      while (i > 0 && above(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    }

    def pop(): Unit = {
      size -= 1
      d(0) = d(size); v(0) = v(size)
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        if (l >= size) done = true
        else {
          val c = if (l + 1 < size && above(l + 1, l)) l + 1 else l
          if (above(c, i)) { swap(i, c); i = c } else done = true
        }
      }
    }
  }

  /** One thread's search scratch, reused across its calls on any graph:
    * epoch-stamped visited marks, the two beam heaps, the beam's sorted
    * output and the widened query.
    */
  private final class Beam {
    var visited = new Array[Int](0)
    private var stamp = 0
    val candidates = new Heap(max = false)
    val results = new Heap(max = true)
    var outD = new Array[Double](0)
    var outN = new Array[Int](0)
    var runIds = new Array[Long](0)
    private var query = new Array[Double](0)

    /** A fresh visited stamp for a graph of `n` nodes. */
    def nextStamp(n: Int): Int = {
      if (visited.length < n) visited = new Array[Int](math.max(n, 2 * visited.length))
      if (stamp == Int.MaxValue) { java.util.Arrays.fill(visited, 0); stamp = 0 }
      stamp += 1
      stamp
    }

    def ensureOut(r: Int): Unit =
      if (outD.length < r) {
        val cap = math.max(r, 2 * outD.length)
        outD = new Array[Double](cap); outN = new Array[Int](cap)
        runIds = new Array[Long](cap)
      }

    /** `q` widened into this beam's query buffer. */
    def widen(q: Array[Float]): Array[Double] = {
      if (query.length < q.length) query = new Array[Double](q.length)
      var i = 0
      while (i < q.length) { query(i) = q(i).toDouble; i += 1 }
      query
    }
  }

  private val beams = ThreadLocal.withInitial[Beam](() => new Beam)

  /** Exact graph restoration from a [[HnswGraph.nodes]] snapshot (rows in
    * original insertion order): adjacency, entry point and top level are
    * reconstructed directly — search behavior is identical to the graph
    * that was persisted. Pass the build-time `efConstruction`/`seed` when
    * the restored graph will receive further [[HnswGraph.insert]]s
    * (append): they govern new elements' beam width and level
    * assignment.
    */
  def restore(m: Int, cosine: Boolean,
      nodes: Seq[(Long, Array[Float], Seq[Seq[Int]])],
      efConstruction: Int = 1, seed: Int = 42): HnswGraph = {
    val g = new HnswGraph(m = m, efConstruction = efConstruction,
      cosine = cosine, seed = seed)
    if (nodes.nonEmpty) {
      val dim = nodes.head._2.length
      var deg0 = 0
      var degU = 0
      val it = nodes.iterator
      while (it.hasNext) {
        val (_, v, ls) = it.next()
        require(v.length == dim && ls.nonEmpty, "HnswGraph.restore: every " +
          "node needs a level-0 list and a vector of the graph's one dimension")
        val lists = ls.iterator
        deg0 = math.max(deg0, lists.next().length)
        while (lists.hasNext) degU = math.max(degU, lists.next().length)
      }
      g.allocate(nodes.length, dim, deg0, degU)
      var i = 0
      val it2 = nodes.iterator
      while (it2.hasNext) {
        val (id, v, ls) = it2.next()
        g.place(i, id, ls.length - 1)
        g.setVector(i, v, 0)
        val lists = ls.iterator
        var l = 0
        while (lists.hasNext) {
          val list = lists.next()
          val arr = g.listArray(i, l)
          val at = g.listAt(i, l)
          arr(at) = list.length
          list.copyToArray(arr, at + 1)
          l += 1
        }
        i += 1
      }
      g.seal(nodes.length)
    }
    g
  }

  /** Restore the graph a decoded [[HnswImage]] holds, with bulk copies:
    * the same graph [[restore]] rebuilds from the image's nodes.
    */
  private[graft] def fromImage(m: Int, cosine: Boolean, img: HnswImage.Shard,
      efConstruction: Int = 1, seed: Int = 42): HnswGraph = {
    val g = new HnswGraph(m = m, efConstruction = efConstruction,
      cosine = cosine, seed = seed)
    val n = img.size
    var deg0 = 0
    var degU = 0
    var k = 0
    var i = 0
    while (i < n) {
      var l = 0
      while (l < img.levels(i)) {
        val len = img.offsets(k + 1) - img.offsets(k)
        if (l == 0) deg0 = math.max(deg0, len) else degU = math.max(degU, len)
        k += 1; l += 1
      }
      i += 1
    }
    g.allocate(n, img.dim, deg0, degU)
    k = 0
    i = 0
    while (i < n) {
      g.place(i, img.ids(i), img.levels(i) - 1)
      g.setVector(i, img.vecs, i * img.dim)
      var l = 0
      while (l < img.levels(i)) {
        g.setList(i, l, img.links, img.offsets(k), img.offsets(k + 1) - img.offsets(k))
        k += 1; l += 1
      }
      i += 1
    }
    g.seal(n)
    g
  }
}
