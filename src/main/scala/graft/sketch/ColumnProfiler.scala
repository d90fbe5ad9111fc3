package graft.sketch

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass sketch profile of an image+caption snapshot — the column
  * statistics block of the north_star: HLL++ on image_id/phash, t-digest on
  * w/h/byte size, frequent-items on fmt and phash.
  *
  * [[Profiled]] is the one list of which column gets which sketch under
  * which manifest name. [[profile]] and the validation commit's
  * Observation both aggregate the entries whose column the frame has, and
  * drift reads the sketches back by those names.
  *
  * [[profile]] is one hash-free `agg` of udaf sketch aggregators — Spark
  * runs partial aggregation per partition and merges partials on the final
  * reduce (zero extra shuffle of data rows). An explicit
  * `RDD.treeAggregate` of the same sketches, kept in `src/test`, is its
  * differential reference.
  */
object ColumnProfiler {

  /** Sketch `name` of `kind` over `value`, profiled when the frame has
    * `column`. */
  final case class Profile(name: String, column: String, value: Column, kind: Sketches.Kind[_, _]) {
    /** The aggregate of `kind` over `keep(value)`, named `name`. */
    def aggregate(keep: Column => Column): Column = kind.aggregate(keep(value)).as(name)
  }

  val Profiled: Seq[Profile] = Seq(
    Profile("hll_image_id", "image_id", col("image_id"), Sketches.HllString()),
    Profile("hll_phash", "phash", col("phash"), Sketches.HllLong()),
    Profile("td_w", "w", col("w"), Sketches.TDigest()),
    Profile("td_h", "h", col("h"), Sketches.TDigest()),
    // north_star names byte-size quantiles; on the commit path bytes is
    // already in the written row, so length() adds no scan width
    Profile("td_byte_size", "bytes", length(col("bytes")), Sketches.TDigest()),
    Profile("freq_fmt", "fmt", col("fmt"), Sketches.FreqString()),
    Profile("freq_phash", "phash", col("phash"), Sketches.FreqLong())
  )

  /** The profile entries whose column `df` has. */
  def profiledIn(df: DataFrame): Seq[Profile] = Profiled.filter(p => df.columns.contains(p.column))

  /** Serialized, mergeable snapshot statistics: sketch name -> bytes. */
  final case class SketchProfile(nRows: Long, sketches: Map[String, Array[Byte]]) {
    def sketch(name: String): Array[Byte] =
      sketches.getOrElse(name, throw new IllegalArgumentException(s"profile has no sketch '$name'"))
  }

  /** Idiomatic path: single aggregation, sketch partials merged by Spark. */
  def profile(df: DataFrame): SketchProfile = {
    val entries = profiledIn(df)
    val r = df.agg(count(lit(1)), entries.map(_.aggregate(identity)): _*).collect()(0)
    SketchProfile(r.getLong(0), entries.map(p => p.name -> r.getAs[Array[Byte]](p.name)).toMap)
  }

  // ------------------------------------------------------------ checks ----

  final case class UniquenessReport(column: String, estimatedDistinct: Double, nRows: Long, ratio: Double, threshold: Double, pass: Boolean)

  /** Approx-uniqueness gate: HLL estimate / row count ≥ τ (north_rule
    * `unique(image_id)`, `unique(phash)`; ancestor: event meta.id
    * uniqueness intent, /root/reference/test/schemas/test/0.0.1:22-25).
    */
  def uniqueness(p: SketchProfile, column: String, tau: Double): UniquenessReport = {
    val est = Sketches.hllEstimate(
      p.sketches.getOrElse(s"hll_$column", throw new IllegalArgumentException(s"no HLL sketch for column $column")))
    val ratio = if (p.nRows == 0) 1.0 else est / p.nRows
    UniquenessReport(column, est, p.nRows, ratio, tau, ratio >= tau)
  }
}
