package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftFunctions.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity over two numeric arrays as ONE codegen'd expression —
  * the pair-verification kernel of every embedding near-dup / ANN operator.
  *
  * Why an expression: the Column form
  * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)` three times — dot, |a|², |b|²)
  * builds interpreted higher-order lambdas per row; on candidate-pair joins
  * (hundreds of thousands of pairs × 64 dims) that interpretation dominates
  * the operator — the same shape already replaced for minhash
  * (MinHashBandKeys) and RP signatures (RpSignatureExpr).
  *
  * Bit-parity with the Column form it replaces (the test sources'
  * `SimilarityReference.cosineColumns`, property-tested for same-typed
  * arrays — the only shape the engine produces): float inputs multiply IN
  * FLOAT then widen into a double left-fold in ascending index order —
  * exactly `zip_with`'s elementwise product feeding `aggregate`'s fold;
  * `0.0` when both norms' product is zero; null when lengths differ or any
  * element is null (zip_with pads/propagates null through the fold).
  * Mixed float/double inputs square each side in its own representation
  * and cross-multiply in double.
  */
final case class CosineSimExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  // Float/double arrays only: the Column form coerced integer arrays, this
  // kernel reads the unsafe representation directly — reject anything else
  // at analysis time instead of misreading memory at runtime.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>/array<double> inputs, got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  @transient private lazy val leftFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  @transient private lazy val rightFloat = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  // Boxed Double or null — null mirrors the Column form's propagation.
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dotAB = 0.0
    var dotAA = 0.0
    var dotBB = 0.0
    var i = 0
    val bothFloat = leftFloat && rightFloat
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      if (bothFloat) {
        val x = a.getFloat(i)
        val y = b.getFloat(i)
        dotAB += (x * y).toDouble // float multiply, then widen: zip_with parity
        dotAA += (x * x).toDouble
        dotBB += (y * y).toDouble
      } else {
        // each side's self-product stays in that side's own representation
        // (a float side squares in float — zip_with(a, a, _*_) parity);
        // the mixed cross-product follows double math, as zip_with's type
        // coercion would widen the float side first
        if (leftFloat) { val x = a.getFloat(i); dotAA += (x * x).toDouble }
        else { val x = a.getDouble(i); dotAA += x * x }
        if (rightFloat) { val y = b.getFloat(i); dotBB += (y * y).toDouble }
        else { val y = b.getDouble(i); dotBB += y * y }
        val xd = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val yd = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
        dotAB += xd * yd
      }
      i += 1
    }
    val d = math.sqrt(dotAA) * math.sqrt(dotBB)
    if (d == 0.0) 0.0 else dotAB / d
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosineSim", this, classOf[CosineSimExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("cos") // fresh: two instances may share a method scope
      s"""
         |java.lang.Double $r = $ref.compute($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

object CosineSimExpr {
  /** Column face. */
  def apply(a: Column, b: Column): Column = column(CosineSimExpr(expression(a), expression(b)))
}
