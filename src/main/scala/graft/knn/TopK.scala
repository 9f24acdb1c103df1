package graft.knn

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded per-query top-k accumulator of a partition scan: a max-heap
  * on [[TopK.before]]'s (dist, id) order, O(log k) per kept entry, whose
  * arrays grow with the entries it holds — an "every neighbor" search (k
  * far above the candidate count) costs what it keeps. [[sorted]] leaves
  * the entries ascending.
  */
private[knn] final class TopKBuf(val k: Int) {
  var dists = new Array[Double](math.min(k, 16))
  var ids = new Array[Long](dists.length)
  var size = 0

  def offer(d: Double, id: Long): Unit =
    if (size < k) {
      if (size == dists.length) {
        val n = math.min(k.toLong, 2L * size).toInt
        dists = java.util.Arrays.copyOf(dists, n); ids = java.util.Arrays.copyOf(ids, n)
      }
      var i = size
      size += 1
      while (i > 0 && TopK.before(dists((i - 1) / 2), ids((i - 1) / 2), d, id)) {
        val p = (i - 1) / 2
        dists(i) = dists(p); ids(i) = ids(p); i = p
      }
      dists(i) = d; ids(i) = id
    } else if (TopK.before(d, id, dists(0), ids(0))) siftDown(d, id, size)

  /** (d, id) into the root's slot, sifted down within the first n entries. */
  private def siftDown(d: Double, id: Long, n: Int): Unit = {
    var i = 0
    var c = 1
    while (c < n) {
      if (c + 1 < n && TopK.before(dists(c), ids(c), dists(c + 1), ids(c + 1))) c += 1
      if (TopK.before(d, id, dists(c), ids(c))) {
        dists(i) = dists(c); ids(i) = ids(c); i = c; c = 2 * i + 1
      } else c = n
    }
    dists(i) = d; ids(i) = id
  }

  /** The entries ascending by (dist, id), in place (heap sort). */
  def sorted(): TopKBuf = {
    var n = size
    while (n > 1) {
      n -= 1
      val d = dists(n)
      val id = ids(n)
      dists(n) = dists(0); ids(n) = ids(0)
      siftDown(d, id, n)
    }
    this
  }
}

/** The per-query top-k of every kNN strategy that broadcasts its query
  * side and scans candidate partitions: the exact scan (the `knn_join`
  * plan node, behind [[KnnJoin.broadcastKnn]] too), the PQ ADC scan, the
  * HNSW beams and the [[IvfIndex]] list scan. Each partition's scan
  * returns one [[TopK.Partials]], and [[TopK.merge]] is the one
  * kernel that merges them, placed by [[TopK.mergeTopK]]: folded on the
  * driver, or reduced by query-id range.
  *
  * The strategies whose candidates meet their queries in a join (LSH,
  * [[ApproxKnn.ivfKnn]], the exact short-list re-rank and
  * [[KnnJoin.windowKnn]]) rank their frames in [[TopK.topKMerge]]'s
  * window instead. Both give the same contract: per query, rank 1..k
  * ascending by (dist, neighbor_id), doubles ordered as Spark's sort
  * orders them.
  */
object TopK extends Serializable { // task closures here call its methods

  /** The query side on the driver, ordered by id (the order
    * [[Partials]] and [[mergeTopK]]'s result follow).
    */
  def collectQueries(queries: DataFrame, idCol: String, vecCol: String,
      what: String): Array[(Long, Array[Float])] = {
    import queries.sparkSession.implicits._
    val qRows = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect()
    require(qRows.nonEmpty, s"$what: empty query side")
    qRows.sortBy(_._1)
  }

  /** Per-query top-k partials as parallel primitive arrays, one entry
    * per (query_id, neighbor_id, dist) row. Ordered: query ids ascend,
    * and each query's run holds at most k entries ascending by
    * [[before]]. The one value a partition scan returns.
    */
  final class Partials(val qids: Array[Long], val nids: Array[Long],
      val dists: Array[Double]) extends Serializable {
    def size: Int = qids.length
  }

  object Partials {
    val empty = new Partials(Array.emptyLongArray, Array.emptyLongArray,
      Array.emptyDoubleArray)

    /** The first `n` entries of the arrays. */
    def of(qids: Array[Long], nids: Array[Long], dists: Array[Double],
        n: Int): Partials =
      if (n == qids.length) new Partials(qids, nids, dists)
      else new Partials(java.util.Arrays.copyOf(qids, n),
        java.util.Arrays.copyOf(nids, n), java.util.Arrays.copyOf(dists, n))

    /** The first `n` rows of the arrays, grouped by ascending query id,
      * as [[Partials]]: each query's run sorted by [[before]] and cut to
      * `k`, in place. An insertion sort, because the kernels' rows
      * arrive in (dist, id) order already, so only a repeated query id
      * (and, from the HNSW beam, −0.0/NaN ties) moves a row.
      */
    def ranked(qs: Array[Long], ns: Array[Long], ds: Array[Double], n: Int,
        k: Int): Partials = {
      var o = 0
      var run = 0
      while (run < n) {
        var end = run + 1
        while (end < n && qs(end) == qs(run)) {
          val nid = ns(end)
          val d = ds(end)
          var j = end
          while (j > run && before(d, nid, ds(j - 1), ns(j - 1))) {
            ns(j) = ns(j - 1); ds(j) = ds(j - 1); j -= 1
          }
          ns(j) = nid; ds(j) = d
          end += 1
        }
        val keep = math.min(k, end - run)
        System.arraycopy(qs, run, qs, o, keep)
        System.arraycopy(ns, run, ns, o, keep)
        System.arraycopy(ds, run, ds, o, keep)
        o += keep
        run = end
      }
      of(qs, ns, ds, o)
    }
  }

  /** The ranking window's order on (dist, neighbor_id), ascending.
    * Distances compare as Spark's sort compares doubles
    * (`SQLOrderingUtil.compareDoubles`): −0.0 equals 0.0, and NaN equals
    * NaN and follows every other value. `java.lang.Double.compare`
    * differs on both, and raw `<` never admits a value past a NaN.
    */
  def before(d1: Double, n1: Long, d2: Double, n2: Long): Boolean = {
    val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil
      .compareDoubles(d1, d2)
    c < 0 || (c == 0 && n1 < n2)
  }

  /** One candidate partition's scan. Each candidate (id, js, c) is scored
    * against the queries at positions `js` of `qIds` (ascending ids): the
    * query with id `qIds(j)` keeps its top-k of `dist(c)(j)`, skipping its
    * own id under `excludeSelf`. `dist(c)` runs once per candidate, the
    * function it returns once per scored query.
    */
  private[knn] def scan[C](qIds: Array[Long], k: Int, excludeSelf: Boolean,
      candidates: Iterator[(Long, Array[Int], C)])(dist: C => Int => Double): Partials = {
    val heaps = Array.fill(qIds.length)(new TopKBuf(k))
    candidates.foreach { case (cid, js, c) =>
      val d = dist(c)
      var i = 0
      while (i < js.length) {
        val j = js(i)
        if (!(excludeSelf && qIds(j) == cid)) heaps(j).offer(d(j), cid)
        i += 1
      }
    }
    val n = heaps.iterator.map(_.size).sum
    val (qs, ns, ds) = (new Array[Long](n), new Array[Long](n), new Array[Double](n))
    var o = 0
    for (j <- heaps.indices; h = heaps(j).sorted(); r <- 0 until h.size) {
      qs(o) = qIds(j); ns(o) = h.ids(r); ds(o) = h.dists(r); o += 1
    }
    Partials.ranked(qs, ns, ds, n, k)
  }

  /** The candidates of a scan that scores each one against all `n`
    * queries.
    */
  def everyQuery[C](n: Int, candidates: Iterator[(Long, C)])
      : Iterator[(Long, Array[Int], C)] = {
    val all = Array.range(0, n)
    candidates.map { case (id, c) => (id, all, c) }
  }

  /** The exact kNN scan of one candidate partition, shared by the
    * `knn_join` plan node (the exact scan) and the flat [[IvfIndex]] list
    * scan, under squared L2 or cosine distance (1 − cos, and 1.0 when
    * either vector is zero). `queries` are ordered by id; each candidate
    * carries the query positions it is scored against ([[scan]]).
    */
  def exact(
      queries: Array[(Long, Array[Float])],
      k: Int,
      cosine: Boolean,
      excludeSelf: Boolean,
      candidates: Iterator[(Long, Array[Int], Array[Float])]): Partials = {
    val qVecs = queries.map(_._2)
    val qNorms = if (cosine) qVecs.map(v => math.sqrt(dot(v, v))) else Array.emptyDoubleArray
    scan(queries.map(_._1), k, excludeSelf, candidates) { cvec =>
      val cNorm = if (cosine) math.sqrt(dot(cvec, cvec)) else 0.0
      j =>
        if (cosine) {
          val den = qNorms(j) * cNorm
          if (den > 0) 1.0 - dot(qVecs(j), cvec) / den else 1.0
        } else l2sq(qVecs(j), cvec)
    }
  }

  // min-clamped like every other distance kernel in the engine (codegen
  // SquaredL2/DotProduct, HnswGraph, PQ zero-padding): a short vector
  // compares on the shared prefix instead of crashing the task
  private def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Two [[Partials]] into one: per query id, the first k entries of the
    * union by [[before]]. Linear in the two sizes. The one per-query
    * top-k merge kernel.
    */
  def merge(a: Partials, b: Partials, k: Int): Partials = {
    if (a.size == 0) return b
    if (b.size == 0) return a
    val n = a.size + b.size
    val qs = new Array[Long](n)
    val ns = new Array[Long](n)
    val ds = new Array[Double](n)
    var i = 0
    var j = 0
    var o = 0
    while (i < a.size || j < b.size) {
      val q =
        if (j == b.size || (i < a.size && a.qids(i) <= b.qids(j))) a.qids(i)
        else b.qids(j)
      var kept = 0
      while ((i < a.size && a.qids(i) == q) || (j < b.size && b.qids(j) == q)) {
        val inA = i < a.size && a.qids(i) == q
        val inB = j < b.size && b.qids(j) == q
        val fromA = !inB ||
          (inA && !before(b.dists(j), b.nids(j), a.dists(i), a.nids(i)))
        if (kept < k) {
          qs(o) = q
          if (fromA) { ns(o) = a.nids(i); ds(o) = a.dists(i) }
          else { ns(o) = b.nids(j); ds(o) = b.dists(j) }
          o += 1; kept += 1
        }
        if (fromA) i += 1 else j += 1
      }
    }
    Partials.of(qs, ns, ds, o)
  }

  /** The most partial entries (partitions · queries · k) one merge takes
    * in on the driver: 2^20, 24 MiB of task results. A serving request is
    * far below it (`ann_serve`'s bulk request: 16 shards · 1024 queries
    * · k 10 = 163,840); a grid block is far above it (32 shards ·
    * 100,000 queries · k 25 = 8·10^7).
    */
  val DriverMergeEntries: Long = 1L << 20

  /** Whether `entries` partials fold on the driver: at most
    * [[DriverMergeEntries]], and at most half of
    * `spark.driver.maxResultSize` at 24 bytes an entry — the bound Spark
    * puts on the task results of one job (0: no bound).
    */
  def driverMerges(conf: org.apache.spark.SparkConf, entries: Long): Boolean = {
    val max = conf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    entries <= DriverMergeEntries && (max <= 0 || entries * 24 <= max / 2)
  }

  /** The per-query top-k of every partition's [[Partials]] (`parts`, one
    * per partition, over the query ids `qids`, ascending) as a frame of
    * [[IvfIndex.searchSchema]] in (query_id, rank) order, row for row
    * what [[topKMerge]] returns for the same partials (`TopKMergeSpec`).
    * When the partials fit [[driverMerges]]: one fold of the partition
    * results on the driver ([[merge]]), a local frame computed when this
    * returns. Otherwise: the [[rangeMerge]] at cuts the driver picks from
    * `qids`, one range per partition at most, computed lazily.
    */
  def mergeTopK(spark: SparkSession, parts: RDD[Partials], qids: Array[Long],
      k: Int): DataFrame = {
    val n = parts.getNumPartitions
    if (driverMerges(parts.sparkContext.getConf, n.toLong * qids.length * k))
      return spark.createDataFrame(
        rows(parts.fold(Partials.empty)(merge(_, _, k))).toSeq.asJava,
        IvfIndex.searchSchema)
    val ranges = math.max(1, math.min(n, qids.length))
    val cuts = (1 until ranges).map(r => qids((r.toLong * qids.length / ranges).toInt))
    spark.createDataFrame(rangeMerge(parts, cuts.distinct.toArray, k).flatMap(rows),
      IvfIndex.searchSchema)
  }

  /** [[mergeTopK]]'s distributed placement, computed lazily: each
    * partition's partials cut into slices at `cuts` (ascending query
    * ids; range r holds the ids in [cuts(r − 1), cuts(r))), and the
    * slices of each range merged by a `reduceByKey`. Partition r of the
    * result holds range r's merged partials, so the result is in
    * query-id order, and neither the driver nor
    * `spark.driver.maxResultSize` sees the entries.
    */
  private[knn] def rangeMerge(parts: RDD[Partials], cuts: Array[Long],
      k: Int): RDD[Partials] =
    parts
      .flatMap { p =>
        val ends = cuts.scanLeft(0) { (from, c) =>
          val i = p.qids.indexWhere(_ >= c, from)
          if (i < 0) p.size else i
        } :+ p.size
        Iterator.range(0, ends.length - 1).collect { case r if ends(r) < ends(r + 1) =>
          r -> new Partials(p.qids.slice(ends(r), ends(r + 1)),
            p.nids.slice(ends(r), ends(r + 1)), p.dists.slice(ends(r), ends(r + 1)))
        }
      }
      .reduceByKey(new org.apache.spark.HashPartitioner(cuts.length + 1),
        merge(_, _, k))
      .values

  /** Each entry of `p` as a (query_id, neighbor_id, dist, rank) row, its
    * rank 1 + its place in its query's run.
    */
  def rows(p: Partials): Iterator[Row] = {
    var rank = 0
    Iterator.tabulate(p.size) { i =>
      rank = if (i > 0 && p.qids(i - 1) == p.qids(i)) rank + 1 else 1
      Row(p.qids(i), p.nids(i), p.dists(i), rank)
    }
  }

  /** The ranking window over (query_id, neighbor_id, dist) rows: rank
    * 1-based ascending by (dist, neighbor_id), cut to k. The merge of
    * the strategies whose candidates meet their queries in a join, so
    * their partials stay frames: [[ApproxKnn.lshKnn]], [[ApproxKnn.ivfKnn]],
    * the exact short-list re-rank ([[ApproxKnn.pqExactRerank]]) and
    * [[KnnJoin.windowKnn]]. A window rather than a bounded top-k
    * aggregate: the aggregate measured slower on the 200k-key grid tier
    * (SCALE_r16_default_gate).
    */
  def topKMerge(partials: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(asc("dist"), asc("neighbor_id"))
    partials
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
