package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.{BoundedTopK, BpeTokenCount, BpeTruncate, DotProduct, Interop, MinHashKernel, MinHashSig, SimHash64, SimHashKernel, SquaredL2}

import graft.dates.DateNorm
import graft.functions.BpeTokenizer

/** SQL surface for the engine's custom functions.
  *
  * Two registration paths (SURVEY.md §2.10):
  *  - [[GraftExtensions]] via `spark.sql.extensions` /
  *    `SparkSession.builder().withExtensions(...)` — cluster-wide;
  *  - [[GraftFunctions.register]] on a live session — tests and notebooks.
  *
  * `squared_l2` / `dot_product` are native codegen expressions;
  * `normalize_date` expands to the when/coalesce/try_to_date tree
  * (RuntimeReplaceable-style: pure built-ins after expansion, so codegen
  * and constant folding apply untouched).
  */
object GraftFunctions {

  /** Analysis-time argument errors surface as AnalysisException (same
    * hardening as KnnJoinTvf.asInt): a column reference or unresolved
    * expression here must not reach `eval()`, which would throw an opaque
    * eval-on-unresolved-expression error out of builder internals.
    */
  private def intLit(e: Expression, fn: String, what: String): Int = {
    def fail(detail: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION", Map("errorMessage" -> s"$fn: $detail"), None)
    if (!e.resolved || !e.foldable)
      fail(s"argument '$what' must be a foldable integer literal, got $e")
    e.eval() match {
      case n: Byte   => n.toInt
      case n: Short  => n.toInt
      case n: Int    => n
      case n: Long if n.isValidInt => n.toInt
      case x => fail(s"argument '$what' must be an integer literal, got $x")
    }
  }

  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "squared_l2" -> (es => SquaredL2(es(0), es(1))),
    "dot_product" -> (es => DotProduct(es(0), es(1))),
    "normalize_date" -> (es => Interop.expression(
      DateNorm.normalizeDate(Interop.column(es.head)))),
    // token-exact BPE over the bundled vocabulary (custom merge tables go
    // through the Scala API, which takes a tokenizer instance)
    "bpe_token_count" -> (es => BpeTokenCount(es(0), BpeTokenizer.bundled)),
    "bpe_truncate" -> (es => BpeTruncate(es(0), BpeTokenizer.bundled,
      intLit(es(1), "bpe_truncate", "max_tokens"))),
    // dedup signature kernels: minhash_sig(text, shingle_size, num_hashes)
    "minhash_sig" -> (es => MinHashSig(es(0), new MinHashKernel(
      intLit(es(1), "minhash_sig", "shingle_size"),
      intLit(es(2), "minhash_sig", "num_hashes")))),
    "simhash64" -> (es => SimHash64(es(0), new SimHashKernel)),
    // winnowing fingerprints (normalizes like the Column API):
    // winnow_fingerprints(text, k, w)
    "winnow_fingerprints" -> (es => Interop.expression(
      graft.text.Analysis.winnowingFingerprint(Interop.column(es(0)),
        intLit(es(1), "winnow_fingerprints", "k"),
        intLit(es(2), "winnow_fingerprints", "w")))),
    // partial top-k aggregate: bounded_topk(longKey, stringValue, k) —
    // the analyzer wraps the bare AggregateFunction in AggregateExpression
    "bounded_topk" -> (es =>
      BoundedTopK(es(0), es(1), intLit(es(2), "bounded_topk", "k"))))

  def register(spark: SparkSession): Unit = {
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    // whole-operator kNN join plan node (org.apache.spark.sql.graft)
    org.apache.spark.sql.graft.KnnJoinStrategy.setup(spark)
    // SQL TVF surface: FROM knn_join('q_view', 'c_view', 'id', 'vec', k)
    spark.sessionState.tableFunctionRegistry.createOrReplaceTempFunction(
      "knn_join", org.apache.spark.sql.graft.KnnJoinTvf.builder, "scala_udf")
  }
}

/** `SparkSessionExtensions` hook: inject the graft SQL functions at session
  * build time (`--conf spark.sql.extensions=graft.GraftExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    GraftFunctions.builders.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftFunctions", name), builder))
    }
    e.injectPlannerStrategy(_ => org.apache.spark.sql.graft.KnnJoinStrategy)
  }
}
