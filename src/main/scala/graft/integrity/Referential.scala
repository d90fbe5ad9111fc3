package graft.integrity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Referential integrity between the image table and the captions side
  * table (north_rule `referential(captions↔images)`; reference ancestor:
  * event→schema existence lookup, where a missing referenced schema raises
  * EventSchemaLoadError, /root/reference/lib/EventValidator.js:231-236).
  *
  * [[check]] counts both directions in one aggregate pass over the union
  * of both sides' ids; [[orphanImages]]/[[danglingCaptions]] return the
  * rows themselves as anti-joins on image_id. Strategy notes for scale:
  *  - `broadcast()` is applied by the caller when one side is dimension-like
  *    (Catalyst also auto-broadcasts below the threshold).
  *  - image_id is near-unique so the shuffle is skew-free; skewed keys
  *    (e.g. joining ON phash) go through [[SkewJoin.saltedJoin]].
  */
object Referential {

  final case class RefReport(
      orphanImages: Long, // images with no caption row    (left_anti →)
      danglingCaptions: Long, // caption rows with no image (← left_anti)
      pass: Boolean
  )

  /** Images that no caption row references. */
  def orphanImages(images: DataFrame, captions: DataFrame): DataFrame =
    images.filter(col("image_id").isNotNull).join(captions.select("image_id").distinct(), Seq("image_id"), "left_anti")

  /** Caption rows whose image_id does not exist in the image table. */
  def danglingCaptions(images: DataFrame, captions: DataFrame): DataFrame =
    captions.filter(col("image_id").isNotNull).join(images.select("image_id").distinct(), Seq("image_id"), "left_anti")

  /** Both counts from one pass: the non-null image_ids of both sides,
    * tagged by side, grouped by id (a partially aggregated shuffle of ids
    * only). Orphans = Σ image rows of ids with no caption row; dangling =
    * Σ caption rows of ids with no image — the row counts of
    * [[orphanImages]] and [[danglingCaptions]].
    */
  def check(images: DataFrame, captions: DataFrame): RefReport = {
    def side(df: DataFrame, img: Long) =
      df.filter(col("image_id").isNotNull).select(col("image_id"), lit(img).as("_img"), lit(1L - img).as("_cap"))
    val r = side(images, 1L).unionByName(side(captions, 0L))
      .groupBy("image_id")
      .agg(sum("_img").as("ni"), sum("_cap").as("nc"))
      .agg(
        coalesce(sum(when(col("nc") === 0, col("ni"))), lit(0L)),
        coalesce(sum(when(col("ni") === 0, col("nc"))), lit(0L)))
      .head()
    val (o, d) = (r.getLong(0), r.getLong(1))
    RefReport(o, d, o == 0 && d == 0)
  }

  /** Orphans/dangling as violation rows (same shape the engine writes), so
    * referential failures flow to the violations table through the same
    * committed pipeline — the durable version of the reference's error-event
    * re-ingest (/root/reference/lib/eventgate.js:237-271, SURVEY §7.4.2).
    */
  def violations(images: DataFrame, captions: DataFrame, snapshotId: String): DataFrame = {
    val o = orphanImages(images, captions).select(
      lit(snapshotId).as("snapshot_id"),
      lit(-1).as("partition_id"),
      col("image_id"),
      lit("referential(images->captions)").as("constraint_id"),
      lit("image_id").as("field"),
      lit("'.image_id' should have a caption row").as("detail"),
      lit("invalid").as("status")
    )
    val d = danglingCaptions(images, captions).select(
      lit(snapshotId).as("snapshot_id"),
      lit(-1).as("partition_id"),
      col("image_id"),
      lit("referential(captions->images)").as("constraint_id"),
      lit("image_id").as("field"),
      lit("'.image_id' should reference an existing image").as("detail"),
      lit("invalid").as("status")
    )
    o.unionByName(d)
  }
}
