package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftFunctions.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Custom Catalyst expressions for the MinHash/LSH hot path.
  *
  * Why expressions instead of the `functions._` composition: a numHashes-lane
  * minhash as Columns is `array(lane_0 … lane_63)` where every lane is
  * `array_min(transform(sh, s -> xxhash64(j, s)))` — a 64-subtree plan that
  * costs seconds of analyzer+janino work PER QUERY (measured ~3 s at 32
  * lanes, ~8 s at 64 on this VM) and evaluates 64 separate passes over the
  * shingle array per row. [[MinHashBandKeys]] is ONE expression: a tight
  * two-level loop (lanes × shingles) of static XXH64 calls, emitted into
  * whole-stage codegen as a single helper call — constant plan cost, one
  * pass over the data per lane batch, no boxing.
  *
  * Lane hash parity with the Column form: `xxhash64(lit(j), s)` evaluates
  * `hashLong(s, hashInt(j, 42))`, reproduced here verbatim so signatures
  * (and therefore banding statistics) are unchanged.
  */
object MinHashUtil {

  private final val Seed = 42L

  // Public-domain xxHash64 primes (the same constants XXH64 uses — they are
  // private there, and the lanes×shingles loop below needs hashLong's two
  // halves SPLIT so the shingle-only half hoists out of the lane loop).
  private final val P1 = 0x9e3779b185ebca87L
  private final val P2 = 0xc2b2ae3d27d4eb4fL
  private final val P3 = 0x165667b19e3779f9L
  private final val P4 = 0x85ebca77c2b2ae63L
  private final val P5 = 0x27d4eb2f165667c5L

  /** Per-lane seed bases: hashInt(j, Seed) + P5 + 8 — the seed-only prefix
    * of XXH64.hashLong. Built once per [[MinHashBandKeys]] instance and
    * handed to [[bandKeys]], so no state is shared between callers.
    */
  def laneBases(numHashes: Int): Array[Long] =
    Array.tabulate(numHashes)(j => XXH64.hashInt(j, Seed) + P5 + 8L)

  /** LSH band keys straight from the shingle set: for each band b, fold the
    * band's `rowsPerBand` minhash lanes into one 64-bit key.
    * `bases` = [[laneBases]](numHashes). Empty input → all-identical
    * sentinel keys (empty docs bucket together; the bucket cap bounds that
    * degenerate bucket, Dedup.bucketPairs).
    *
    * Loop shape (round-7): shingle-OUTER with the shingle-only half of
    * XXH64.hashLong — `rotl(s·P2, 31)·P1` — hoisted and computed once per
    * shingle instead of once per (lane, shingle); the lane loop then does
    * xor + rotl + mul + add + fmix per pair. Bit-identical to calling
    * XXH64.hashLong(s, hashInt(j, Seed)) per pair (property-tested against
    * the pre-round-7 lane loop kept in `src/test`): hashLong(l, seed) decomposes as
    * fmix(rotl((seed + P5 + 8) ^ k1, 27)·P1 + P4) with k1 = rotl(l·P2,31)·P1.
    */
  def bandKeys(sh: ArrayData, bases: Array[Long], numBands: Int): ArrayData = {
    val numHashes = bases.length
    val rowsPerBand = numHashes / numBands
    val n = sh.numElements()
    val lanes = new Array[Long](numHashes)
    java.util.Arrays.fill(lanes, Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!sh.isNullAt(i)) {
        val k1 = java.lang.Long.rotateLeft(sh.getLong(i) * P2, 31) * P1
        var j = 0
        while (j < numHashes) {
          var h = bases(j) ^ k1
          h = java.lang.Long.rotateLeft(h, 27) * P1 + P4
          // fmix
          h ^= h >>> 33
          h *= P2
          h ^= h >>> 29
          h *= P3
          h ^= h >>> 32
          if (h < lanes(j)) lanes(j) = h
          j += 1
        }
      }
      i += 1
    }
    val keys = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var h = XXH64.hashInt(b, Seed)
      var r = 0
      while (r < rowsPerBand) {
        h = XXH64.hashLong(lanes(b * rowsPerBand + r), h)
        r += 1
      }
      keys(b) = h
      b += 1
    }
    new GenericArrayData(keys)
  }

  /** |a ∩ b| of two SORTED long arrays by linear merge — the LSH verify
    * kernel. Unsigned-safe compare (hash values span the full long range).
    */
  def intersectCountSorted(a: ArrayData, b: ArrayData): Int = {
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0; var k = 0; var n = 0
    while (i < na && k < nb) {
      val c = java.lang.Long.compare(a.getLong(i), b.getLong(k))
      if (c == 0) { n += 1; i += 1; k += 1 }
      else if (c < 0) i += 1
      else k += 1
    }
    n
  }
}

/** shingle set (array<bigint>) → numBands LSH band keys (array<bigint>). */
final case class MinHashBandKeys(child: Expression, numHashes: Int, numBands: Int)
    extends UnaryExpression {
  require(numHashes % numBands == 0, "numHashes must divide into bands")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_keys"
  @transient private lazy val bases: Array[Long] = MinHashUtil.laneBases(numHashes)
  override protected def nullSafeEval(input: Any): Any =
    MinHashUtil.bandKeys(input.asInstanceOf[ArrayData], bases, numBands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("laneBases", bases, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashUtil.bandKeys($c, $ref, $numBands)")
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashBandKeys =
    copy(child = newChild)
}

/** |a ∩ b| of two sorted long arrays (int). */
final case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    MinHashUtil.intersectCountSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.MinHashUtil.intersectCountSorted($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
}

object MinHash {
  /** Column face of [[MinHashBandKeys]]. */
  def bandKeys(sh: Column, numHashes: Int, numBands: Int): Column =
    column(MinHashBandKeys(expression(sh), numHashes, numBands))

  /** Column face of [[SortedIntersectCount]]. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))
}
