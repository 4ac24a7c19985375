package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two float/double arrays.
  *
  * One fused loop computes dot product and both norms in a single pass over
  * the arrays — no intermediate zipped/transformed arrays like the
  * higher-order-function formulation (`aggregate(zip_with(...))`), and it
  * participates in whole-stage codegen via `doGenCode`. The accumulation is
  * the same left-to-right double fold as the HOF version and DuckDB's
  * `list_dot_product`, so results are bitwise identical (oracle parity).
  *
  * Zero-norm inputs yield 0.0; null or length-mismatched inputs yield null.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // Length-mismatched inputs yield null regardless of child nullability, so
  // this expression is always nullable. Without this override, non-nullable
  // children would make nullSafeCodeGen emit `false = true;` for the mismatch
  // branch (ev.isNull is the literal "false") — a Janino compile error that
  // silently disables whole-stage codegen.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity expects array<float|double>, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else CosineSimilarity.compute(x, isFloat(left), y, isFloat(right))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => s"""
      if ($x.numElements() != $y.numElements()) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.expressions.CosineSimilarity.compute(
          $x, ${isFloat(left)}, $y, ${isFloat(right)});
      }
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_similarity"
}

object CosineSimilarity {

  /** The one kernel, shared by eval and codegen: dot product and both
    * norms in one left-to-right double fold over equal-length arrays.
    */
  def compute(x: ArrayData, xFloat: Boolean, y: ArrayData, yFloat: Boolean): Double = {
    val n = x.numElements()
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }
}
