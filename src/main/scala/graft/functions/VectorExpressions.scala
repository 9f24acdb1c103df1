package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.{CentroidIndex, DotProduct, NearestCentroidDist, Interop, LshBuckets, LshKernel, MinHashKernel, MinHashSig, NearestCentroid, NearestCentroids, PqEncode, PqEncodeResidual, PqKernel, SimHash64, SimHashKernel, SquaredL2}

/** Column API over the native Catalyst vector expressions (implementation
  * in org.apache.spark.sql.graft — see the packaging note there). The
  * higher-order-function forms in [[Dist]] are the interpreted correctness
  * oracle; these generate tight primitive loops in whole-stage codegen.
  */
object VectorExpressions {

  def squaredL2(a: Column, b: Column): Column =
    Interop.column(SquaredL2(Interop.expression(a), Interop.expression(b)))

  def dotProduct(a: Column, b: Column): Column =
    Interop.column(DotProduct(Interop.expression(a), Interop.expression(b)))

  /** Cosine distance composed from the codegen dot product. */
  def cosineDistance(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions._
    val denom = sqrt(dotProduct(a, a)) * sqrt(dotProduct(b, b))
    when(denom > 0, lit(1.0) - dotProduct(a, b) / denom).otherwise(lit(1.0))
  }

  /** Nearest centroid index (IVF assign) over a broadcast codebook. */
  def nearestCentroid(v: Column, kernel: CentroidIndex): Column =
    Interop.column(NearestCentroid(Interop.expression(v), kernel))

  /** The `n` nearest centroid indices by (distance, index) (IVF probe). */
  def nearestCentroids(v: Column, kernel: CentroidIndex, n: Int): Column =
    Interop.column(NearestCentroids(Interop.expression(v), kernel, n))

  /** Squared L2 to the nearest centroid (quantization-cost term). */
  def nearestCentroidDist(v: Column, kernel: CentroidIndex): Column =
    Interop.column(NearestCentroidDist(Interop.expression(v), kernel))

  /** Combined LSH bucket keys (`(table << 48) | signature`). */
  def lshBuckets(v: Column, kernel: LshKernel, probe: Boolean): Column =
    Interop.column(LshBuckets(Interop.expression(v), kernel, probe))

  /** MinHash signature of a document (`array<int>`, non-nullable). */
  def minhashSig(text: Column, kernel: MinHashKernel): Column =
    Interop.column(MinHashSig(Interop.expression(text), kernel))

  /** 64-bit SimHash of a document (non-nullable). */
  def simhash64(text: Column): Column =
    Interop.column(SimHash64(Interop.expression(text), new SimHashKernel))

  /** Product-quantization code (`binary`, m bytes) over broadcast codebooks. */
  def pqEncode(v: Column, kernel: PqKernel): Column =
    Interop.column(PqEncode(Interop.expression(v), kernel))

  /** Residual-PQ code: quantizes `v − coarseCentroid(cid)` (IVF-PQ). */
  def pqEncodeResidual(v: Column, cid: Column, kernel: PqKernel): Column =
    Interop.column(PqEncodeResidual(Interop.expression(v),
      Interop.expression(cid), kernel))
}
