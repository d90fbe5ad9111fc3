package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftFunctions.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Random-hyperplane LSH signature as ONE codegen'd expression.
  *
  * Bit j = sign of the dot product with hyperplane j, whose components are
  * ±1 derived from xxhash64(j, dim_index) parity — deterministic, no rand(),
  * no fitted state. Bit-parity with the Column form it replaces
  * (`aggregate(zip_with(vec, dims, ...))` per bit, the test sources'
  * `SimilarityReference.rpSignatureColumns`): lane hash =
  * XXH64.hashInt(d, XXH64.hashInt(j, 42)) exactly as `xxhash64(lit(j), d)`
  * evaluates, accumulation in ascending-d double adds exactly as
  * `aggregate`'s left fold.
  *
  * Why an expression: the Column form builds nbits interpreted
  * aggregate-over-zip_with lambdas PER ROW — the same shape measured 2×
  * slower (fully interpreted higher-order functions) and replaced for
  * minhash in round 2 (MinHashBandKeys). The ±1 sign matrix is precomputed
  * once per plan; per row this is a tight nbits×dim loop inside whole-stage
  * codegen.
  *
  * Malformed input (length ≠ dim, or a null element — which nulls every
  * projection in the Column form) signs to 0L.
  */
final case class RpSignatureExpr(child: Expression, dim: Int, nbits: Int)
    extends UnaryExpression {
  require(nbits <= 62, "signature must fit a long")

  override def dataType: DataType = LongType
  override def prettyName: String = "rp_signature"

  // ±1 hyperplane components, laid out signs(j*dim + d).
  @transient private lazy val signs: Array[Double] = {
    val a = new Array[Double](nbits * dim)
    var j = 0
    while (j < nbits) {
      val seedJ = XXH64.hashInt(j, 42L)
      var d = 0
      while (d < dim) {
        // xxhash64(lit(j), d) = hashInt(d, hashInt(j, 42)); sign = parity
        a(j * dim + d) = if ((XXH64.hashInt(d, seedJ) & 1L) == 0L) 1.0 else -1.0
        d += 1
      }
      j += 1
    }
    a
  }

  @transient private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    if (n != dim) return 0L
    var d = 0
    while (d < n) { if (arr.isNullAt(d)) return 0L; d += 1 }
    var bits = 0L
    var j = 0
    while (j < nbits) {
      var proj = 0.0
      val off = j * dim
      var i = 0
      if (isFloat) {
        while (i < dim) { proj += arr.getFloat(i).toDouble * signs(off + i); i += 1 }
      } else {
        while (i < dim) { proj += arr.getDouble(i) * signs(off + i); i += 1 }
      }
      if (proj >= 0) bits |= 1L << j
      j += 1
    }
    bits
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rpSignature", this, classOf[RpSignatureExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): RpSignatureExpr =
    copy(child = newChild)
}

object RpSignatureExpr {
  /** Column face. */
  def apply(vec: Column, dim: Int, nbits: Int): Column =
    column(RpSignatureExpr(expression(vec), dim, nbits))
}
