package graft.integrity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sketch.Sketches

/** Explicit skew handling for large-large equi-joins (north_rule: "salted
  * broadcast-or-sort-merge joins with explicit skew splitting on hot phash
  * buckets").
  *
  * Mechanics: heavy-hitter keys are detected with a frequent-items sketch
  * (one narrow pass, no shuffle), then both sides get a salt and ONE join
  * runs on (key, salt):
  *
  *   cold keys → salt 0 on both sides, so they join as on the key alone;
  *   hot keys  → left rows get a deterministic salt in [0, saltFactor),
  *               right rows are replicated once per salt value — so one
  *               hot key fans out over saltFactor reducers instead of
  *               melting one.
  *
  * The result is identical to the plain join (property tested) — salting
  * only changes the partitioning — and each input is scanned once.
  *
  * AQE's skew-join handles sort-merge skew adaptively; this explicit path
  * exists because (a) the north_rule demands it, (b) AQE only splits
  * oversized shuffle partitions AFTER materializing them, while salting
  * prevents the hot partition from existing at all, and (c) it also covers
  * broadcast-ineligible cases AQE won't rescue.
  */
object SkewJoin {

  /** Detect heavy-hitter long keys: one sketch aggregation (map-side
    * combined), keys whose estimated share exceeds `minShare`.
    */
  def detectHotLongKeys(df: DataFrame, key: String, minShare: Double = 0.01, maxMapSize: Int = 1024): Seq[Long] = {
    val r = df.agg(Sketches.freqLong(col(key), maxMapSize).as("fq"), count(lit(1)).as("n")).collect()(0)
    val n = r.getAs[Long]("n")
    if (n == 0) Seq.empty
    else
      Sketches
        .freqLongTopK(r.getAs[Array[Byte]]("fq"), maxMapSize)
        .filter(_._2.toDouble / n >= minShare)
        .map(_._1)
  }

  /** Salted equi-join on a single key column present in both sides.
    * Supported joinTypes: inner, left (the shapes referential checks use).
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      joinType: String = "inner",
      saltFactor: Int = 8,
      hotKeys: Seq[Long]
  ): DataFrame = {
    require(saltFactor > 1, "saltFactor must be > 1")
    require(Seq("inner", "left", "left_outer").contains(joinType), s"unsupported joinType $joinType")
    if (hotKeys.isEmpty) return left.join(right, Seq(key), joinType)

    // A null key is never hot (isin yields null, so `when` falls through
    // to salt 0) and never matches, as in the plain join.
    val hot: Column = col(key).isin(hotKeys: _*)
    // Deterministic, uniformly-spread salt: hash of the key plus
    // monotonically_increasing_id (partition id in the high bits + row
    // counter — cheap, narrow, no rand()). Hashing only these keeps wide
    // columns (e.g. multi-KB `bytes`) out of the salt expression, so column
    // pruning survives when the caller projects narrow columns after the
    // join (plan-asserted in IntegritySpec), and identical-key rows inside
    // one input partition still spread across all saltFactor reducers.
    val saltExpr =
      pmod(xxhash64(col(key), monotonically_increasing_id()), lit(saltFactor)).cast("int")
    val l = left.withColumn("_salt", when(hot, saltExpr).otherwise(0))
    val r = right.withColumn("_salt",
      explode(when(hot, sequence(lit(0), lit(saltFactor - 1))).otherwise(array(lit(0)))))
    l.join(r, Seq(key, "_salt"), joinType).drop("_salt")
  }

  /** Convenience: detect hot keys then salt-join. */
  def saltedJoinAuto(
      left: DataFrame,
      right: DataFrame,
      key: String,
      joinType: String = "inner",
      saltFactor: Int = 8,
      minShare: Double = 0.01
  ): DataFrame =
    saltedJoin(left, right, key, joinType, saltFactor, detectHotLongKeys(left, key, minShare))
}
