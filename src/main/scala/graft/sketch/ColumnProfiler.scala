package graft.sketch

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-pass sketch profile of an image+caption snapshot — the column
  * statistics block of the north_star: HLL++ on image_id/phash, t-digest on
  * w/h (and optionally byte size), frequent-items on fmt and phash.
  *
  * [[profile]] is one hash-free `agg` of udaf sketch aggregators — Spark
  * runs partial aggregation per partition and merges partials on the final
  * reduce (zero extra shuffle of data rows). An explicit
  * `RDD.treeAggregate` of the same sketches, kept in `src/test`, is its
  * differential reference.
  */
object ColumnProfiler {

  /** Serialized, mergeable snapshot statistics (persisted in the manifest). */
  final case class SketchProfile(
      nRows: Long,
      hllImageId: Array[Byte],
      hllPhash: Array[Byte],
      tdW: Array[Byte],
      tdH: Array[Byte],
      tdByteSize: Option[Array[Byte]],
      freqFmt: Array[Byte],
      freqPhash: Array[Byte]
  ) {
    def distinctImageIds: Double = Sketches.hllEstimate(hllImageId)
    def distinctPhashes: Double = Sketches.hllEstimate(hllPhash)
  }

  /** Idiomatic path: single aggregation, sketch partials merged by Spark. */
  def profile(df: DataFrame, includeByteSize: Boolean = false): SketchProfile = {
    val base = Seq(
      count(lit(1)).as("n"),
      Sketches.hllString(col("image_id")).as("hll_id"),
      Sketches.hllLong(col("phash")).as("hll_ph"),
      Sketches.tdigest(col("w")).as("td_w"),
      Sketches.tdigest(col("h")).as("td_h"),
      Sketches.freqString(col("fmt")).as("fq_fmt"),
      Sketches.freqLong(col("phash")).as("fq_ph")
    )
    val aggs = if (includeByteSize) base :+ Sketches.tdigest(length(col("bytes"))).as("td_bs") else base
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    SketchProfile(
      nRows = r.getAs[Long]("n"),
      hllImageId = r.getAs[Array[Byte]]("hll_id"),
      hllPhash = r.getAs[Array[Byte]]("hll_ph"),
      tdW = r.getAs[Array[Byte]]("td_w"),
      tdH = r.getAs[Array[Byte]]("td_h"),
      tdByteSize = if (includeByteSize) Some(r.getAs[Array[Byte]]("td_bs")) else None,
      freqFmt = r.getAs[Array[Byte]]("fq_fmt"),
      freqPhash = r.getAs[Array[Byte]]("fq_ph")
    )
  }

  // ------------------------------------------------------------ checks ----

  final case class UniquenessReport(column: String, estimatedDistinct: Double, nRows: Long, ratio: Double, threshold: Double, pass: Boolean)

  /** Approx-uniqueness gate: HLL estimate / row count ≥ τ (north_rule
    * `unique(image_id)`, `unique(phash)`; ancestor: event meta.id
    * uniqueness intent, /root/reference/test/schemas/test/0.0.1:22-25).
    */
  def uniqueness(p: SketchProfile, column: String, tau: Double): UniquenessReport = {
    val est = column match {
      case "image_id" => p.distinctImageIds
      case "phash"    => p.distinctPhashes
      case other      => throw new IllegalArgumentException(s"no HLL sketch for column $other")
    }
    val ratio = if (p.nRows == 0) 1.0 else est / p.nRows
    UniquenessReport(column, est, p.nRows, ratio, tau, ratio >= tau)
  }
}
