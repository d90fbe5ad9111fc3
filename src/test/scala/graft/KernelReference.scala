package graft

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ItemsSketch, LongsSketch}
import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
import org.apache.datasketches.tdigest.TDigestDouble

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sketch.{ColumnProfiler, Sketches}

/** Differential references for `TopK`, `MinHashUtil`, `ColumnProfiler`,
  * `CosineSimExpr` and `RpSignatureExpr`: the kernels they replaced or
  * spell out, checked against them by OpsSpec and SketchSpec.
  */
object TopKReference {

  /** The pre-round-7 two-phase salted tournament, kept as a window-only
    * differential reference for `TopK.topKPerGroup`. Phase 1 takes the top k
    * within each of `fanout` deterministic salt cells per group (any global
    * top-k row is top-k in its cell, so survivors are a superset); phase 2
    * ranks the ≤ fanout·k survivors per group exactly.
    *
    * Honest complexity: phase 1's parallelism is `fanout`-wide per group,
    * and each (group, salt) cell still sorts ~group_size/fanout rows on one
    * task — NOT O(k·fanout) per partition. Callers with extreme group sizes
    * must raise `fanout` accordingly; the aggregate path
    * (`TopK.topKPerGroup`) has no such knob to tune.
    */
  def topKPerGroupSalted(
      df: DataFrame,
      groupCols: Seq[String],
      order: Seq[(Column, Boolean)],
      k: Int,
      rankCol: String = "rank",
      fanout: Int = 64
  ): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(order.nonEmpty, "order must be non-empty")
    require(k > 0 && fanout > 0, s"k and fanout must be positive: $k/$fanout")
    val salt = "_topk_salt"
    require(!df.columns.contains(salt) && !df.columns.contains(rankCol),
      s"TopK reserves columns $salt/$rankCol")
    val ord = order.map { case (c, asc) => if (asc) c.asc else c.desc }
    val cell = pmod(xxhash64(order.map(_._1): _*), lit(fanout))
    val survivors = df
      .withColumn(salt, cell)
      .withColumn(rankCol, row_number().over(
        Window.partitionBy((groupCols :+ salt).map(col): _*).orderBy(ord: _*)))
      .filter(col(rankCol) <= k)
      .drop(salt, rankCol)
    survivors
      .withColumn(rankCol, row_number().over(
        Window.partitionBy(groupCols.map(col): _*).orderBy(ord: _*)))
      .filter(col(rankCol) <= k)
  }
}

object MinHashReference {

  private final val Seed = 42L

  /** The pre-round-7 lane loop (XXH64.hashLong per (lane, shingle)) — kept
    * as the parity reference for `MinHashUtil.bandKeys`'s hoisted
    * decomposition.
    */
  def bandKeysReference(sh: ArrayData, numHashes: Int, numBands: Int): ArrayData = {
    val rowsPerBand = numHashes / numBands
    val n = sh.numElements()
    val lanes = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) {
      val laneSeed = XXH64.hashInt(j, Seed)
      var min = Long.MaxValue
      var i = 0
      while (i < n) {
        if (!sh.isNullAt(i)) {
          val h = XXH64.hashLong(sh.getLong(i), laneSeed)
          if (h < min) min = h
        }
        i += 1
      }
      lanes(j) = min
      j += 1
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
}

object ProfilerReference {

  /** Mutable per-task buffer holding all sketches; serializable via
    * `Sketches.Buf` (compact sketch binary formats). Updates and merges call
    * DataSketches directly, independent of the kinds' own.
    */
  final class ProfileBuf(lgK: Int, tdK: Short, freqMap: Int) extends Serializable {
    var n: Long = 0L
    val hllId = new Sketches.Buf(Sketches.HllString(lgK), new HllSketch(lgK, TgtHllType.HLL_8))
    val hllPh = new Sketches.Buf(Sketches.HllLong(lgK), new HllSketch(lgK, TgtHllType.HLL_8))
    val tdW = new Sketches.Buf(Sketches.TDigest(tdK), new TDigestDouble(tdK))
    val tdH = new Sketches.Buf(Sketches.TDigest(tdK), new TDigestDouble(tdK))
    val fqFmt = new Sketches.Buf(Sketches.FreqString(freqMap), new ItemsSketch[String](freqMap))
    val fqPh = new Sketches.Buf(Sketches.FreqLong(freqMap), new LongsSketch(freqMap))

    def add(imageId: String, phash: java.lang.Long, w: java.lang.Integer, h: java.lang.Integer, fmt: String): this.type = {
      n += 1
      if (imageId != null) hllId.sk.update(imageId)
      if (phash != null) { hllPh.sk.update(phash.longValue); fqPh.sk.update(phash.longValue) }
      if (w != null) tdW.sk.update(w.doubleValue)
      if (h != null) tdH.sk.update(h.doubleValue)
      if (fmt != null) fqFmt.sk.update(fmt)
      this
    }

    def mergeIn(o: ProfileBuf): this.type = {
      n += o.n
      val u1 = new Union(hllId.sk.getLgConfigK); u1.update(hllId.sk); u1.update(o.hllId.sk)
      hllId.sk = u1.getResult(TgtHllType.HLL_8)
      val u2 = new Union(hllPh.sk.getLgConfigK); u2.update(hllPh.sk); u2.update(o.hllPh.sk)
      hllPh.sk = u2.getResult(TgtHllType.HLL_8)
      tdW.sk.merge(o.tdW.sk); tdH.sk.merge(o.tdH.sk)
      fqFmt.sk.merge(o.fqFmt.sk); fqPh.sk.merge(o.fqPh.sk)
      this
    }
  }

  /** Explicit executor-tree merge: seqOp per row, combOp up a depth-2 tree.
    * Reads ONLY the five narrow columns (projection before .rdd keeps
    * column pruning: bytes/caption never leave the scan).
    */
  def profileTree(df: DataFrame, depth: Int = 2, lgK: Int = 12): ColumnProfiler.SketchProfile = {
    val rows = df.select("image_id", "phash", "w", "h", "fmt").rdd
    val buf = rows.treeAggregate(new ProfileBuf(lgK, 200.toShort, 512))(
      seqOp = (b: ProfileBuf, r: Row) =>
        b.add(
          r.getAs[String]("image_id"),
          if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)),
          if (r.isNullAt(2)) null else java.lang.Integer.valueOf(r.getInt(2)),
          if (r.isNullAt(3)) null else java.lang.Integer.valueOf(r.getInt(3)),
          r.getAs[String]("fmt")
        ),
      combOp = (a: ProfileBuf, b: ProfileBuf) => a.mergeIn(b),
      depth = depth
    )
    ColumnProfiler.SketchProfile(buf.n, Map(
      "hll_image_id" -> buf.hllId.sk.toCompactByteArray,
      "hll_phash" -> buf.hllPh.sk.toCompactByteArray,
      "td_w" -> buf.tdW.sk.toByteArray,
      "td_h" -> buf.tdH.sk.toByteArray,
      "freq_fmt" -> buf.fqFmt.sk.toByteArray(new ArrayOfStringsSerDe),
      "freq_phash" -> buf.fqPh.sk.toByteArray
    ))
  }
}

object SimilarityReference {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Pure-Column cosine — the differential reference for
    * `graft.functions.CosineSimExpr`'s bit-parity property test.
    */
  def cosineColumns(a: Column, b: Column): Column = {
    val d = l2norm(a) * l2norm(b)
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** The original `functions._` composition of `Similarity.rpSignature` —
    * nbits interpreted aggregate-over-zip_with lambdas per row. The
    * differential oracle for `graft.functions.RpSignatureExpr`'s bit parity.
    */
  def rpSignatureColumns(vec: Column, dim: Int, nbits: Int): Column = {
    require(nbits <= 62, "signature must fit a long")
    val dims = sequence(lit(0), lit(dim - 1))
    val bits = (0 until nbits).map { j =>
      val proj = aggregate(
        zip_with(vec, dims, (x, d) => x * when(pmod(xxhash64(lit(j), d), lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0))),
        lit(0.0),
        (acc, v) => acc + v
      )
      when(proj >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }
}
