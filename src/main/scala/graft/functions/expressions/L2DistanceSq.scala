package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: squared L2 distance of two float/double
  * arrays — the exact-rerank kernel of the ANN shortlist paths
  * ([[graft.operators.Pq]]/[[graft.operators.IvfPq]]).
  *
  * One fused codegen'd loop; the accumulation is the same left-to-right
  * 0.0-seeded double fold as the higher-order-function formulation
  * (`aggregate(zip_with(...))`, kept as [[graft.functions.VectorFunctions.l2DistanceSqViaHof]]
  * for parity testing), so results are bitwise identical while skipping
  * the interpreted lambda and its per-row zipped array.
  *
  * Null or length-mismatched inputs yield null.
  */
case class L2DistanceSq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // Length mismatch yields null regardless of child nullability (see the
  // matching note in [[CosineSimilarity]]).
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
        s"l2_distance_sq expects array<float|double>, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else L2DistanceSq.compute(x, isFloat(left), y, isFloat(right))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => s"""
      if ($x.numElements() != $y.numElements()) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.expressions.L2DistanceSq.compute(
          $x, ${isFloat(left)}, $y, ${isFloat(right)});
      }
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2DistanceSq =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "l2_distance_sq"
}

object L2DistanceSq {

  /** The one kernel, shared by eval and codegen: the 0.0-seeded
    * left-to-right double fold of squared differences over equal-length
    * arrays.
    */
  def compute(x: ArrayData, xFloat: Boolean, y: ArrayData, yFloat: Boolean): Double = {
    val n = x.numElements()
    var d = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
      val t = xi - yi
      d += t * t
      i += 1
    }
    d
  }
}
