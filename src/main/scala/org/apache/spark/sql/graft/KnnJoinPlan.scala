/* Hosted in org.apache.spark.sql (see GraftExprs.scala): logical/physical
 * plan nodes need private[sql] surface (Dataset.ofRows, logicalPlan).
 */
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import _root_.graft.knn.{KnnJoin, TopK}

/** Whole-operator kNN join as a first-class plan node (SURVEY.md §7.3.3
  * phase 3): `KnnJoinPlan(queries, candidates, k, cosine)` produces, for
  * every query row, its k nearest candidates with distance and rank,
  * under cosine distance or squared L2 (the metric parsed once, by
  * graft.knn.KnnJoin.isCosine, where the node is built).
  *
  * Child contract (enforced by the [[KnnJoinOp]] API wrapper): each child
  * outputs exactly (id: bigint, vec: array<float>).
  *
  * The physical operator is the one body of the whole-partition exact
  * scan, behind both `knn_join` and graft.knn.KnnJoin.broadcastKnn,
  * planned by Catalyst so the operator composes inside larger plans: it
  * collects and broadcasts the query side, scans each candidate partition
  * into per-query top-k partials (graft.knn.TopK.exact), and merges them
  * with graft.knn.TopK.mergeTopK — on the driver when they fit its
  * bound, else in a reduce by query-id range. No N² rows ever hit a
  * shuffle. A row with a null id takes no part on either side, and an
  * empty query side gives an empty result.
  */
case class KnnJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    k: Int,
    cosine: Boolean,
    excludeSelf: Boolean,
    // output attrs live in the constructor: a `val` would mint fresh
    // ExprIds on every transform copy and break downstream references
    output: Seq[Attribute] = KnnJoinPlan.freshOutput()) extends BinaryNode {

  override lazy val resolved: Boolean = childrenResolved

  // the node GENERATES its output (not derived from child attrs) — without
  // this the analyzer's missing-attribute check rejects the plan
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    outputSet

  // the exec reads BOTH child columns positionally — without declared
  // references, column pruning would rewrite the children and break the
  // (id, vec) positional contract. Guarded: the TVF path constructs this
  // node over UNRESOLVED children, whose .output would throw.
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    if (childrenResolved)
      org.apache.spark.sql.catalyst.expressions.AttributeSet(left.output ++ right.output)
    else org.apache.spark.sql.catalyst.expressions.AttributeSet.empty

  // the result's size, |Q|·k rows (|Q| estimated from the query side's
  // size), not the default product of the children's sizes, which keeps
  // a downstream join from broadcasting the result
  override def stats: Statistics = Statistics(left.stats.sizeInBytes * k *
    EstimationUtils.getSizePerRow(output) / EstimationUtils.getSizePerRow(left.output))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): KnnJoinPlan =
    copy(left = newLeft, right = newRight)
}

object KnnJoinPlan {
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("query_id", LongType, nullable = false)(),
    AttributeReference("neighbor_id", LongType, nullable = false)(),
    AttributeReference("dist", DoubleType, nullable = false)(),
    AttributeReference("rank", IntegerType, nullable = false)())
}

case class KnnJoinExec(
    output: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan,
    k: Int,
    cosine: Boolean,
    excludeSelf: Boolean) extends BinaryExecNode {

  override protected def doExecute(): RDD[InternalRow] = {
    val (cos, kLocal, exclude) = (cosine, k, excludeSelf)

    val queryRows: Array[(Long, Array[Float])] = left.executeCollect().collect {
      case r if !r.isNullAt(0) => (r.getLong(0), r.getArray(1).toFloatArray())
    }.sortBy(_._1)
    if (queryRows.isEmpty) return sparkContext.emptyRDD[InternalRow]
    val bc = sparkContext.broadcast(queryRows)

    val partials = right.execute().mapPartitions { it =>
      Iterator(TopK.exact(bc.value, kLocal, cos, exclude,
        TopK.everyQuery(bc.value.length, it.collect {
          case row if !row.isNullAt(0) => (row.getLong(0), row.getArray(1).toFloatArray())
        })))
    }
    TopK.mergeTopK(session, partials, queryRows.map(_._1), k).queryExecution.toRdd
  }

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(left.output ++ right.output)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): KnnJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy mapping the logical node to the physical operator.
  * Registered via graft.GraftExtensions or [[setup]].
  */
object KnnJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: KnnJoinPlan =>
      KnnJoinExec(p.output, planLater(p.left), planLater(p.right),
        p.k, p.cosine, p.excludeSelf) :: Nil
    case _ => Nil
  }

  /** Adds this strategy to `session`'s `experimental.extraStrategies`
    * unless it is there already.
    */
  def setup(session: org.apache.spark.sql.SparkSession): Unit =
    session.experimental.synchronized {
      if (!session.experimental.extraStrategies.contains(this))
        session.experimental.extraStrategies :+= this
    }
}

/** SQL table-valued-function surface over the plan node:
  *
  * {{{
  *   SELECT * FROM knn_join('queries_view', 'candidates_view',
  *                          'id_col', 'vec_col', k [, metric [, exclude_self]])
  * }}}
  *
  * The builder plants [[KnnJoinPlan]] over UNRESOLVED relations/attributes;
  * the analyzer resolves the views from the catalog and the (id, vec)
  * normalization projections exactly as it would for hand-written SQL.
  * Registered by graft.GraftFunctions.register via the session's
  * TableFunctionRegistry.
  */
object KnnJoinTvf {
  import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
  import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, Expression, Literal}
  import org.apache.spark.sql.catalyst.plans.logical.Project

  /** Analysis-time argument errors surface as AnalysisException (the
    * class SQL frontends render with position/sqlState), never as raw
    * require/ClassCastException from builder internals.
    */
  private def fail(detail: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "USER_RAISED_EXCEPTION", Map("errorMessage" -> s"knn_join: $detail"), None)

  private def asString(e: Expression, what: String): String = e match {
    case Literal(v, StringType) if v != null => v.toString
    case _ => fail(s"argument '$what' must be a non-null string literal, got $e")
  }

  private def asInt(e: Expression, what: String): Int = {
    if (!e.resolved || !e.foldable)
      fail(s"argument '$what' must be a foldable integer literal, got $e")
    e.eval() match {
      case n: Byte  => n.toInt
      case n: Short => n.toInt
      case n: Int   => n
      case n: Long if n.isValidInt => n.toInt
      case null  => fail(s"argument '$what' must not be NULL")
      case other => fail(s"argument '$what' must be an integer literal, " +
        s"got $other of type ${e.dataType.simpleString}")
    }
  }

  private def asBoolean(e: Expression, what: String): Boolean = {
    if (!e.resolved || !e.foldable)
      fail(s"argument '$what' must be a foldable boolean literal, got $e")
    if (e.dataType != org.apache.spark.sql.types.BooleanType)
      fail(s"argument '$what' must be a boolean literal, " +
        s"got type ${e.dataType.simpleString}")
    e.eval() match {
      case b: Boolean => b
      case _ => fail(s"argument '$what' must not be NULL")
    }
  }

  def builder(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 5 || args.length > 7)
      fail("usage: knn_join(queries, candidates, id_col, vec_col, k[, metric[, exclude_self]])")
    val idCol = asString(args(2), "id_col")
    val vecCol = asString(args(3), "vec_col")
    val k = asInt(args(4), "k")
    val metric = if (args.length >= 6) asString(args(5), "metric") else KnnJoin.MetricL2Sq
    val cosine =
      try KnnJoin.isCosine(metric)
      catch { case e: IllegalArgumentException => fail(e.getMessage) }
    val excludeSelf =
      if (args.length >= 7) asBoolean(args(6), "exclude_self") else true

    def child(tableArg: Expression, what: String): LogicalPlan = Project(Seq(
      Alias(Cast(UnresolvedAttribute.quoted(idCol), LongType), "id")(),
      Alias(Cast(UnresolvedAttribute.quoted(vecCol), ArrayType(FloatType)), "vec")()),
      UnresolvedRelation(asString(tableArg, what).split('.').toSeq))

    KnnJoinPlan(child(args(0), "queries"), child(args(1), "candidates"),
      k, cosine, excludeSelf)
  }
}

/** Dataset-level API over the plan node. */
object KnnJoinOp {

  /** Normalizes both sides to the (id, vec) child contract, spreads the
    * candidates over the cluster's cores (graft.util.Par.balance) and
    * plans a [[KnnJoinPlan]], installing [[KnnJoinStrategy]] on the
    * session if it lacks it. An unknown `metric` raises
    * `IllegalArgumentException`.
    */
  def knnJoin(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      metric: String = KnnJoin.MetricL2Sq,
      excludeSelf: Boolean = true): DataFrame = {
    val cosine = KnnJoin.isCosine(metric)
    def normalize(df: DataFrame) = df.select(
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vec"))
    val spark = candidates.sparkSession
    KnnJoinStrategy.setup(spark)
    val plan = KnnJoinPlan(
      normalize(queries).queryExecution.analyzed,
      _root_.graft.util.Par.balance(normalize(candidates)).queryExecution.analyzed,
      k, cosine, excludeSelf)
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  }
}
