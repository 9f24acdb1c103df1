package graft.knn

import org.apache.spark.sql.catalyst.util.ArrayData

/** Product-quantization codebooks (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011 — the compression scheme
  * behind FAISS `IndexPQ`/`IndexIVFPQ`; reference analogue: the FAISS
  * index family in SemLink/join_discoverer.py:255–301, which we extend
  * with the memory-bounded variant its flat index lacks).
  *
  * The vector space is split into `m` contiguous subspaces of `dsub`
  * dims; each subspace has its own `ksub`-centroid codebook. A vector
  * encodes to `m` bytes (one centroid id per subspace) — 64-d float
  * vectors compress 256 B → 8 B (32×), which is the difference between
  * "the candidate side spills" and "the candidate side fits" at 100 TB.
  *
  * Search is ADC (asymmetric distance computation): the query stays
  * un-quantized; per query a `m × ksub` lookup table of partial squared
  * L2 distances is built ONCE, after which each candidate's approximate
  * distance is `m` byte-indexed table reads — no float arithmetic on
  * the scan.
  *
  * `centroids` is indexed `[subspace][centroid][dim]`.
  */
final class PqCodebooks(val centroids: Array[Array[Array[Float]]])
    extends Serializable {

  val m: Int = centroids.length
  require(m > 0, "PqCodebooks: no subspaces")
  val ksub: Int = centroids(0).length
  require(ksub > 0 && ksub <= 256, s"PqCodebooks: ksub=$ksub not in [1,256]")
  val dsub: Int = centroids(0)(0).length
  def dim: Int = m * dsub

  /** Nearest sub-centroid id per subspace — the PQ code. Input shorter
    * than `dim` reads as zero-padded (matching the engine-wide
    * short-dimension convention); ties keep the lowest centroid id.
    * With `base != null` the RESIDUAL `v − base` is encoded (IVF-PQ
    * by-residual form: codes quantize the offset from the coarse
    * centroid, which is far tighter than quantizing absolute position).
    */
  def encode(v: ArrayData, base: Array[Float] = null): Array[Byte] = {
    val n = v.numElements()
    val code = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val cb = centroids(s)
      val off = s * dsub
      var best = 0
      var bestD = Double.MaxValue
      var ci = 0
      while (ci < cb.length) {
        val c = cb(ci)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          var x = (if (off + i < n) v.getFloat(off + i) else 0.0f) - c(i)
          if (base != null && off + i < base.length) x -= base(off + i)
          d += x * x
          i += 1
        }
        if (d < bestD) { bestD = d; best = ci }
        ci += 1
      }
      code(s) = best.toByte
      s += 1
    }
    code
  }

  /** Per-query ADC lookup table: `m * ksub` floats, row-major by
    * subspace — entry `s * ksub + c` is the squared L2 distance from the
    * query's subvector `s` to centroid `c` of that subspace.
    */
  def adcTable(q: Array[Float]): Array[Float] = {
    val lut = new Array[Float](m * ksub)
    var s = 0
    while (s < m) {
      val cb = centroids(s)
      val off = s * dsub
      var ci = 0
      while (ci < cb.length) {
        val c = cb(ci)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val x = (if (off + i < q.length) q(off + i) else 0.0f) - c(i)
          d += x * x
          i += 1
        }
        lut(s * ksub + ci) = d.toFloat
        ci += 1
      }
      s += 1
    }
    lut
  }

  /** Approximate squared L2 from a code and a query's LUT: m table reads. */
  def adcDist(code: Array[Byte], lut: Array[Float]): Double = {
    var d = 0.0
    var s = 0
    while (s < m) { d += lut(s * ksub + (code(s) & 0xff)); s += 1 }
    d
  }

  /** ADC without a LUT: squared L2 from the query straight to the code's
    * reconstruction, accumulated per subspace — `m·dsub` multiplies, the
    * same arithmetic cost as an exact distance. The win is NOT compute,
    * it is that the scan feeding this reads m-byte codes instead of
    * vectors; [[adcTable]]/[[adcDist]] serve [[ApproxKnn.pqKnn]]'s scan,
    * this per-pair form the [[IvfIndex]] list scan (whose persisted
    * digests pin its rounding). Matches `adcDist(code, adcTable(q))` to
    * float-accumulation rounding.
    * With `base != null` the code reconstructs `base + centroid` (the
    * residual form: distance is measured from `q − base` to the
    * sub-centroid, same arithmetic cost).
    */
  def adcDirect(q: ArrayData, code: Array[Byte], base: Array[Float] = null): Double = {
    val n = q.numElements()
    var d = 0.0
    var s = 0
    while (s < m) {
      val c = centroids(s)(code(s) & 0xff)
      val off = s * dsub
      var part = 0.0
      var i = 0
      while (i < dsub) {
        var x = (if (off + i < n) q.getFloat(off + i) else 0.0f) - c(i)
        if (base != null && off + i < base.length) x -= base(off + i)
        part += x * x
        i += 1
      }
      d += part.toFloat.toDouble // match adcTable's per-subspace float rounding
      s += 1
    }
    d
  }
}

object Pq {

  /** Train PQ codebooks on a driver-side sample: independent k-means per
    * subspace (reusing the IVF Lloyd kernel on sliced subvectors).
    * `dim` must divide evenly by `m`; `ksub` is clamped to the sample
    * size (small-SF data can't support 256 distinct sub-centroids).
    * Deterministic: seeded per subspace.
    */
  def train(sample: Array[Array[Float]], m: Int, ksub: Int = 256,
      iters: Int = 5, seed: Int = 42): PqCodebooks = {
    require(sample.nonEmpty, "Pq.train: empty sample")
    val dim = sample.head.length
    require(dim % m == 0, s"Pq.train: dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val k = math.min(ksub, sample.length)
    val raw = Array.tabulate(m) { s =>
      val off = s * dsub
      val sub = sample.map { v =>
        val a = new Array[Float](dsub)
        var i = 0
        while (i < dsub) { a(i) = if (off + i < v.length) v(off + i) else 0.0f; i += 1 }
        a
      }
      ApproxKnn.kmeans(sub, k, iters, seed + s)
    }
    // kmeans seeds from DISTINCT sub-vectors, so low-diversity subspaces
    // yield fewer than k centroids — and different counts per subspace.
    // The byte-code format indexes one uniform [s][ksub] table, so pad
    // shorter books by repeating their first centroid: encode's
    // lowest-id tie-break never picks a pad, and unused ADC entries cost
    // bytes, not correctness
    val kUniform = raw.map(_.length).max
    val books = raw.map { b =>
      if (b.length == kUniform) b
      else b ++ Array.fill(kUniform - b.length)(b.head.clone())
    }
    new PqCodebooks(books)
  }
}
