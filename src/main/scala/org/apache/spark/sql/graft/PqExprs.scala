/* Hosted in org.apache.spark.sql (see GraftExprs.scala). */
package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BinaryType, DataType, FloatType}

import graft.knn.PqCodebooks

/** Product-quantization encode kernel: holds the trained codebooks as a
  * Spark `Broadcast` (same shipping rationale as [[CentroidKernel]] — the
  * expression serializes as a handle; a large codebook tensor rides the
  * torrent protocol once per executor, not per task). Encoding touches
  * EVERY candidate row at build time, so it runs as a codegen expression
  * reading primitives straight off `ArrayData`; the per-pair ADC methods
  * score the `IvfIndex` PQ list scan.
  */
final class PqKernel(
    bc: Broadcast[PqCodebooks],
    coarse: Broadcast[Array[Array[Float]]] = null) extends Serializable {

  @transient private lazy val cb: PqCodebooks = bc.value
  @transient private lazy val cc: Array[Array[Float]] =
    if (coarse == null) null else coarse.value

  def encode(v: ArrayData): Array[Byte] = cb.encode(v)

  def adcDirect(q: ArrayData, code: Array[Byte]): Double = cb.adcDirect(q, code)

  private def base(cid: Int): Array[Float] = {
    require(cc != null, "PqKernel: residual op without coarse centroids")
    cc(cid)
  }

  /** Residual encode: the code quantizes `v − coarseCentroid(cid)`. */
  def encodeResidual(v: ArrayData, cid: Int): Array[Byte] =
    cb.encode(v, base(cid))

  /** Residual ADC: distance from `q − coarseCentroid(cid)` to the code. */
  def adcResidual(q: ArrayData, cid: Int, code: Array[Byte]): Double =
    cb.adcDirect(q, code, base(cid))
}

/** PQ code for a float vector: `binary` of `m` bytes, one sub-centroid id
  * per subspace (see [[graft.knn.PqCodebooks.encode]]).
  */
case class PqEncode(child: Expression, kernel: PqKernel)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(input: Any): Any =
    kernel.encode(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqKernel", kernel, classOf[PqKernel].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $ref.encode($arr);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Residual-PQ encode: the code quantizes `v − coarseCentroid(cid)` —
  * the IVF-PQ by-residual form (kernel must carry the coarse codebook).
  */
case class PqEncodeResidual(left: Expression, right: Expression, kernel: PqKernel)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), org.apache.spark.sql.types.IntegerType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq_encode_residual"

  override def nullSafeEval(v: Any, cid: Any): Any =
    kernel.encodeResidual(v.asInstanceOf[ArrayData], cid.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqKernel", kernel, classOf[PqKernel].getName)
    nullSafeCodeGen(ctx, ev,
      (v, c) => s"${ev.value} = $ref.encodeResidual($v, $c);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncodeResidual =
    copy(left = newLeft, right = newRight)
}
