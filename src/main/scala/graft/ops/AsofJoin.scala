package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** As-of joins: for each left row, attach the payload of the single right
  * row nearest in time per join key — at or before it ([[backward]]), at
  * or after it ([[forward]]), or on either side ([[nearest]]). The
  * training-pipeline staple ("the user's most recent purchase before this
  * click", "the latest config snapshot before this event") that plain
  * equi/range joins can't express without a per-row top-1.
  *
  * Spark-first scale shape — the union + running-last trick, NOT a range
  * join: both sides are tagged and unioned, shuffled ONCE by the join
  * keys, sorted within partitions by (time, side), and the right payload
  * is carried with `last`/`first(_, ignoreNulls)` over an unbounded-
  * preceding/following window. Cost = one shuffle + one sort of |L|+|R|
  * rows, independent of match distance — a range-join formulation
  * explodes as |L|×|candidate window| and a per-left-row subquery is
  * quadratic. Nearest computes both carries over the same sort, so Spark
  * evaluates them in one Window operator at the cost of one backward join.
  * At equal time the matching right row must fall INSIDE the left row's
  * frame, so a right row at exactly the left time matches (DuckDB
  * `ASOF JOIN ... ON l.t >= r.t` / `l.t <= r.t` semantics — the oracles of
  * q42 and q48).
  *
  * Contract:
  *  - the payload rides in ONE struct, so a right row whose payload
  *    FIELDS are legitimately null still matches (ignoreNulls skips only
  *    rows, never legitimate null fields);
  *  - right rows with a null key or null time are dropped (they can
  *    never match under SQL equality/inequality — keeping them would let
  *    Spark's null-grouping window falsely match null-keyed left rows);
  *  - left rows always survive (left-outer): no candidate right row, or a
  *    null left time ⇒ null payload fields;
  *  - determinism requires the right side be unique per (keys, rightTime)
  *    — pre-aggregate duplicates (q42 takes max event_id per instant);
  *    with duplicates the tie winner follows sort order, which Spark does
  *    not define for equal sort keys.
  *
  * @param tolerance optional max distance: a match is kept only when its
  *   distance from the left time is `<= tolerance` (e.g.
  *   `expr("INTERVAL 7 DAYS")` for timestamps, `lit(30L)` for numeric
  *   times). The nearest candidate is the ONLY candidate — a too-distant
  *   match yields null, it never falls back to a farther row (standard
  *   as-of tolerance semantics, e.g. pandas merge_asof).
  * @param splitHotKeys route keys holding at least `hotKeyShare` of the
  *   rows through a quantile-chunked carry: one hot key spreads over
  *   `hotKeyChunks` tasks, result-identical to the plain path
  *   (differential-tested). A single key's timeline otherwise sorts in one
  *   task, and salting cannot help: as-of needs the key's full ordered
  *   timeline.
  */
object AsofJoin {

  /** Backward: the right row with the LARGEST right time ≤ the left time. */
  def backward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Column] = None,
      splitHotKeys: Boolean = false,
      hotKeyShare: Double = 0.05,
      hotKeyChunks: Int = 32
  ): DataFrame =
    carry(left, right, keys, leftTime, rightTime, tolerance, Seq(Past), splitHotKeys, hotKeyShare, hotKeyChunks)

  /** Forward: the right row with the SMALLEST right time ≥ the left time
    * ("the next config snapshot AFTER this event").
    */
  def forward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Column] = None,
      splitHotKeys: Boolean = false,
      hotKeyShare: Double = 0.05,
      hotKeyChunks: Int = 32
  ): DataFrame =
    carry(left, right, keys, leftTime, rightTime, tolerance, Seq(Future), splitHotKeys, hotKeyShare, hotKeyChunks)

  /** Nearest (pandas `merge_asof direction='nearest'`): the right row
    * minimizing |leftTime − rightTime| per key; ties break toward the PAST
    * (the backward candidate). `tolerance` bounds the absolute distance of
    * the CHOSEN candidate — the farther direction's candidate can never be
    * within tolerance when the nearer is not, so gating after choosing is
    * exact.
    */
  def nearest(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Column] = None,
      splitHotKeys: Boolean = false,
      hotKeyShare: Double = 0.05,
      hotKeyChunks: Int = 32
  ): DataFrame =
    carry(left, right, keys, leftTime, rightTime, tolerance, Seq(Past, Future), splitHotKeys, hotKeyShare, hotKeyChunks)

  /** One carry direction and its working columns: the within-window match,
    * a chunk's extreme right row, and the carry across chunks.
    */
  private sealed abstract class Dir(val m: String, val b: String, val c: String) {
    /** The payload carried over `w`, `skip` rows away from the current row. */
    def over(payload: Column, w: WindowSpec, skip: Long): Column
    /** A chunk's right row nearest the next chunk in this direction. */
    def extreme(payload: Column, t: Column): Column
    /** How far a right time `rt` in this direction lies from `lt`. */
    def distance(lt: Column, rt: Column): Column
  }
  private case object Past extends Dir("_mb", "_bB", "_carryB") {
    def over(payload: Column, w: WindowSpec, skip: Long): Column =
      last(payload, ignoreNulls = true).over(w.rowsBetween(Window.unboundedPreceding, -skip))
    def extreme(payload: Column, t: Column): Column = max_by(payload, t)
    def distance(lt: Column, rt: Column): Column = lt - rt
  }
  private case object Future extends Dir("_mf", "_bF", "_carryF") {
    def over(payload: Column, w: WindowSpec, skip: Long): Column =
      first(payload, ignoreNulls = true).over(w.rowsBetween(skip, Window.unboundedFollowing))
    def extreme(payload: Column, t: Column): Column = min_by(payload, t)
    def distance(lt: Column, rt: Column): Column = rt - lt
  }

  private def carry(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Column],
      dirs: Seq[Dir],
      splitHotKeys: Boolean,
      hotKeyShare: Double,
      hotKeyChunks: Int
  ): DataFrame = {
    require(keys.nonEmpty, "asof join needs at least one key column")
    require(hotKeyChunks > 1, "hotKeyChunks must be > 1")
    val payloadCols = right.columns.filterNot(c => keys.contains(c)).toSeq
    val leftCols = left.columns.toSeq
    val overlap = payloadCols.toSet.intersect(leftCols.toSet)
    require(overlap.isEmpty, s"right payload columns collide with left columns: $overlap — rename before joining")
    val reserved = (Set("_t", "_side", "_payload", "_matched", "_kh", "_bounds", "_chunk") ++
      Seq(Past, Future).flatMap(d => Seq(d.m, d.b, d.c))).intersect((leftCols ++ right.columns).toSet)
    require(reserved.isEmpty, s"asof join reserves working columns $reserved — rename before joining")

    // At equal time the matching right row must fall INSIDE the left row's
    // frame: the backward frame (preceding..current) needs rights first,
    // the forward frame (current..following) rights after. Nearest sorts
    // rights first: the at-instant right lands in the backward carry at
    // distance 0, which wins every comparison.
    val (leftMark, rightMark) = if (dirs.contains(Past)) (1, 0) else (0, 1)
    val l = left
      .withColumn("_t", col(leftTime))
      .withColumn("_side", lit(leftMark))
      .withColumn("_payload",
        // a NULL struct (not a struct of nulls): ignoreNulls must skip
        // left rows entirely when carrying the right payload across
        when(lit(false), struct(payloadCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)))
    val r = right
      .filter(keys.map(col(_).isNotNull).reduce(_ && _) && col(rightTime).isNotNull)
      .withColumn("_t", col(rightTime))
      .withColumn("_side", lit(rightMark))
      .withColumn("_payload", struct(payloadCols.map(col): _*))
      .select(keys.map(col) ++ Seq(col("_t"), col("_side"), col("_payload")): _*)
    val unioned = l
      .select(keys.map(col) ++ Seq(col("_t"), col("_side"), col("_payload")) ++
        leftCols.filterNot(keys.contains).map(col): _*)
      .unionByName(r, allowMissingColumns = true)

    // The keyed window: every direction's carry over the same (keys[,
    // chunk]) sort, so they share one Window operator. Left rows only.
    def carryWindow(df: DataFrame, extraPart: Seq[Column] = Seq.empty): DataFrame = {
      val w = Window.partitionBy(keys.map(col) ++ extraPart: _*).orderBy(col("_t"), col("_side"))
      dirs.foldLeft(df)((d, dir) => d.withColumn(dir.m, dir.over(col("_payload"), w, 0)))
        .filter(col("_side") === leftMark)
    }

    /** Two-pass chunked carry for HOT keys (a key whose full timeline
      * exceeds one task): quantile-split the key's timeline into
      * `hotKeyChunks` time ranges, run the carry window partitioned by
      * (keys, chunk), then patch chunk-boundary misses from a tiny
      * per-(key, chunk) summary table (each direction's extreme right row
      * of each chunk, carried across chunks by a window over #hotKeys ×
      * hotKeyChunks rows, broadcast back). A within-chunk candidate always
      * beats the cross-chunk carry in its own direction (chunks are
      * time-ordered), so coalesce is exact. Equal times always share a
      * chunk (boundary cut is strict >), so the ≥/≤ tie semantics are
      * preserved exactly; a hot spot at ONE instant is the only
      * unsplittable residue.
      */
    def chunkedCarry(df: DataFrame): DataFrame = {
      val keyCols = keys.map(col)
      // Any monotone numeric image of _t works for range-chunking; ANSI
      // mode (Spark 4 default) forbids timestamp→double casts, so go
      // through unix_micros (NTZ first reinterpreted in the session tz —
      // still monotone, which is all the chunk cut needs).
      val tNum = df.schema("_t").dataType match {
        case org.apache.spark.sql.types.TimestampType =>
          unix_micros(col("_t")).cast("double")
        case org.apache.spark.sql.types.TimestampNTZType =>
          unix_micros(col("_t").cast("timestamp")).cast("double")
        case _ => col("_t").cast("double")
      }
      val fracs = (1 until hotKeyChunks).map(i => lit(i.toDouble / hotKeyChunks))
      val bounds = df.groupBy(keyCols: _*)
        .agg(percentile_approx(tNum, array(fracs: _*), lit(1000)).as("_bounds"))
      // chunk = #boundaries strictly below t — monotone in t, ties co-chunk
      val withChunk = df.join(broadcast(bounds), keys)
        .withColumn("_chunk",
          aggregate(col("_bounds"), lit(0), (acc, b) => acc + when(tNum > b, 1).otherwise(0)))
        .drop("_bounds")
      val within = carryWindow(withChunk, Seq(col("_chunk")))
      val extremes = dirs.map(d => d.extreme(col("_payload"), col("_t")).as(d.b))
      val summaries = withChunk.filter(col("_side") === rightMark)
        .groupBy(keyCols :+ col("_chunk"): _*)
        .agg(extremes.head, extremes.tail: _*)
      // bounds is already one row per hot key — no second distinct scan;
      // the dense chunk domain gives empty chunks a carry row too
      val domain = bounds.select(keyCols: _*)
        .withColumn("_chunk", explode(sequence(lit(0), lit(hotKeyChunks - 1))))
      val wC = Window.partitionBy(keyCols: _*).orderBy(col("_chunk"))
      val carries = dirs
        .foldLeft(domain.join(summaries, keys :+ "_chunk", "left"))((d, dir) =>
          d.withColumn(dir.c, dir.over(col(dir.b), wC, 1)))
        .select(keyCols ++ (col("_chunk") +: dirs.map(d => col(d.c))): _*)
      dirs
        .foldLeft(within.join(broadcast(carries), keys :+ "_chunk", "left"))((d, dir) =>
          d.withColumn(dir.m, coalesce(col(dir.m), col(dir.c))))
        .drop("_chunk" +: dirs.map(_.c): _*)
    }

    val routed =
      if (!splitHotKeys) carryWindow(unioned)
      else {
        // Hot-key detection composes with the skew toolkit: one narrow
        // frequent-items sketch pass over the hashed key (no shuffle, no
        // extra scan of wide columns). Hash collisions only mark extra
        // keys hot — the chunked path is correct for any key, just two-pass.
        val kh = xxhash64(keys.map(col): _*)
        val hotHashes = graft.integrity.SkewJoin.detectHotLongKeys(
          unioned.select(kh.as("_kh")), "_kh", minShare = hotKeyShare)
        if (hotHashes.isEmpty) carryWindow(unioned)
        else {
          // Null-key left rows must stay on the COLD path: xxhash64 skips
          // null children, so an all-null key hashes to a constant that a
          // large null population gets detected as "hot" — but
          // chunkedCarry's inner bounds-join on the keys would then drop
          // those rows (null never equi-joins), while the left-outer
          // contract says they survive with a null payload.
          val nullKey = keys.map(col(_).isNull).reduce(_ || _)
          val isHot = !nullKey && kh.isin(hotHashes: _*)
          // The chunked carry scans the hot frame three times (bounds,
          // carry, summaries), so it is cached MEMORY_AND_DISK to pay the
          // upstream scan once. It is not unpersisted (the result is lazy);
          // a long-lived session running many hot-key joins should
          // `spark.catalog.clearCache()` between them.
          val hot = unioned.filter(isHot).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          carryWindow(unioned.filter(!isHot)).unionByName(chunkedCarry(hot))
        }
      }

    // A null left time has no distance to any right time, but ascending
    // sort is NULLS FIRST: a null-time left row heads the partition, and a
    // forward frame (current..following) would hold EVERY right row of the
    // key. Null its carries in every direction.
    val guard = col(leftTime).isNotNull
    val carried = dirs.foldLeft(routed)((d, dir) => d.withColumn(dir.m, when(guard, col(dir.m))))
    def gap(m: String, dir: Dir): Column = dir.distance(col(leftTime), col(s"$m.`$rightTime`"))
    val chosen = dirs match {
      case Seq(dir) => col(dir.m)
      case _ =>
        when(col(Past.m).isNull, col(Future.m))
          .when(col(Future.m).isNull, col(Past.m))
          .when(gap(Past.m, Past) <= gap(Future.m, Future), col(Past.m)) // tie → past
          .otherwise(col(Future.m))
    }
    val matched = carried.withColumn("_matched", chosen)
    val gated = tolerance match {
      case None => matched
      case Some(tol) =>
        val distance = dirs match {
          case Seq(dir) => gap("_matched", dir)
          case _ =>
            when(col(s"_matched.`$rightTime`") >= col(leftTime), gap("_matched", Future))
              .otherwise(gap("_matched", Past))
        }
        matched.withColumn("_matched", when(distance <= tol, col("_matched")))
    }
    gated.select(leftCols.map(col) ++ payloadCols.map(c => col(s"_matched.`$c`").as(c)): _*)
  }
}
