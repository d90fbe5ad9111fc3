package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join: for each left row, attach the payload of the
  * single right row with the LARGEST right time ≤ the left row's time,
  * per join key — the training-pipeline staple ("the user's most recent
  * purchase before this click", "the latest config snapshot before this
  * event") that plain equi/range joins can't express without a per-row
  * top-1.
  *
  * Spark-first scale shape — the union + running-last trick, NOT a range
  * join: both sides are tagged and unioned, shuffled ONCE by the join
  * keys, sorted within partitions by (time, side), and the right payload
  * is carried forward with `last(_, ignoreNulls)` over an unbounded-
  * preceding window. Cost = one shuffle + one sort of |L|+|R| rows,
  * independent of match distance — a range-join formulation explodes as
  * |L|×|candidate window| and a per-left-row subquery is quadratic. Right
  * rows sort BEFORE left rows at equal time, so a right row at exactly the
  * left time matches (DuckDB `ASOF JOIN ... ON l.t >= r.t` semantics —
  * the oracle of q42). Skewed keys behave like any keyed window: one hot
  * key = one task; mitigate upstream by splitting the key if a single key
  * exceeds a task (salting cannot preserve as-of semantics, which need
  * the key's full timeline in one ordered partition).
  *
  * Contract:
  *  - the payload rides in ONE struct, so a right row whose payload
  *    FIELDS are legitimately null still matches (ignoreNulls skips only
  *    rows, never legitimate null fields);
  *  - right rows with a null key or null time are dropped (they can
  *    never match under SQL equality/inequality — keeping them would let
  *    Spark's null-grouping window falsely match null-keyed left rows);
  *  - left rows always survive (left-outer): no prior right row ⇒ null
  *    payload fields;
  *  - determinism requires the right side be unique per (keys, rightTime)
  *    — pre-aggregate duplicates (q42 takes max event_id per instant);
  *    with duplicates the tie winner follows sort order, which Spark does
  *    not define for equal sort keys.
  */
object AsofJoin {

  /** The chunked hot-key carry scans its input THREE times (quantile
    * bounds, the chunked carry itself, boundary summaries); with
    * `persistHot = true` (the default) the filtered hot frame is cached
    * MEMORY_AND_DISK so the upstream scan + filter is paid once — the hot
    * subset is by definition a small key set, but a hot key can be many
    * rows, and at 100× the triple upstream scan dominates (round-5 verdict
    * item). The cache is not explicitly unpersisted (the operator is lazy —
    * results may be consumed long after return). LRU eviction covers the memory
    * tier only — blocks spilled to disk stay until unpersist or session
    * end, so a long-lived session running MANY hot-key joins should
    * `spark.catalog.clearCache()` between them (or pass
    * `persistHot = false` when the caller already persists its inputs).
    */
  private def maybePersist(df: DataFrame, on: Boolean): DataFrame =
    if (on) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else df

  /** Forward as-of: for each left row, the right row with the SMALLEST
    * right time ≥ the left row's time per key ("the next config snapshot
    * AFTER this event"). Same union + keyed running shape as [[backward]],
    * mirrored: sort ascending, carry the payload BACKWARD with
    * `first(_, ignoreNulls)` over currentRow..unboundedFollowing, left
    * rows sorting BEFORE right rows at equal time so an at-instant right
    * row matches (≥ semantics, DuckDB `ASOF ... ON l.t <= r.t`).
    * `tolerance` bounds the wait: matches farther than
    * `rightTime - leftTime > tolerance` are nulled, never replaced by a
    * later row.
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
      hotKeyChunks: Int = 32,
      persistHot: Boolean = true
  ): DataFrame =
    joinImpl(left, right, keys, leftTime, rightTime, tolerance, forwardDir = true,
      splitHotKeys, hotKeyShare, hotKeyChunks, persistHot)

  /** @param tolerance optional max staleness: a match is kept only when
    *   `leftTime - rightTime <= tolerance` (e.g. `expr("INTERVAL 7 DAYS")`
    *   for timestamps, `lit(30L)` for numeric times). The nearest-prior row
    *   is still the ONLY candidate — a too-stale nearest match yields null,
    *   it does not fall back to an even older row (standard as-of
    *   tolerance semantics, e.g. pandas merge_asof).
    */
  def backward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Column] = None,
      splitHotKeys: Boolean = false,
      hotKeyShare: Double = 0.05,
      hotKeyChunks: Int = 32,
      persistHot: Boolean = true
  ): DataFrame =
    joinImpl(left, right, keys, leftTime, rightTime, tolerance, forwardDir = false,
      splitHotKeys, hotKeyShare, hotKeyChunks, persistHot)

  /** Nearest as-of (pandas `merge_asof direction='nearest'`): the right
    * row minimizing |leftTime − rightTime| per key; ties break toward the
    * PAST (the backward candidate) — deterministic given the right side's
    * uniqueness-per-(keys, time) contract. Cost is IDENTICAL to one
    * backward join: both candidate carries are window functions over the
    * SAME (keys)-partitioned (time, side) sort, so Spark evaluates them in
    * one Window operator — still ONE shuffle + sort of |L|+|R|.
    * `tolerance` bounds the absolute distance of the CHOSEN candidate
    * (both-direction gate, merge_asof semantics; the farther direction's
    * candidate can never be within tolerance when the nearer is not, so
    * gating after choosing is exact). `splitHotKeys` routes hot keys
    * through the same quantile-chunked carry as backward/forward, with
    * BOTH boundary extremes summarized per chunk — one hot key spreads
    * over hotKeyChunks tasks and the plain/chunked paths are
    * result-identical (differential-tested).
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
      hotKeyChunks: Int = 32,
      persistHot: Boolean = true
  ): DataFrame = {
    require(keys.nonEmpty, "asof join needs at least one key column")
    require(hotKeyChunks > 1, "hotKeyChunks must be > 1")
    val payloadCols = right.columns.filterNot(c => keys.contains(c)).toSeq
    val leftCols = left.columns.toSeq
    val overlap = payloadCols.toSet.intersect(leftCols.toSet)
    require(overlap.isEmpty, s"right payload columns collide with left columns: $overlap — rename before joining")
    val reserved = Set("_t", "_side", "_payload", "_mb", "_mf", "_matched",
      "_kh", "_bounds", "_chunk", "_bB", "_bF", "_carryB", "_carryF")
      .intersect((leftCols ++ right.columns).toSet)
    require(reserved.isEmpty, s"asof join reserves working columns $reserved — rename before joining")

    // Rights sort before lefts at equal time (backward convention): the
    // at-instant right lands in the backward frame at distance 0, which
    // wins every comparison — the forward frame correctly excludes it.
    val l = left
      .withColumn("_t", col(leftTime))
      .withColumn("_side", lit(1))
      .withColumn("_payload",
        when(lit(false), struct(payloadCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)))
    val r = right
      .filter(keys.map(col(_).isNotNull).reduce(_ && _) && col(rightTime).isNotNull)
      .withColumn("_t", col(rightTime))
      .withColumn("_side", lit(0))
      .withColumn("_payload", struct(payloadCols.map(col): _*))
      .select(keys.map(col) ++ Seq(col("_t"), col("_side"), col("_payload")): _*)
    val unioned = l
      .select(keys.map(col) ++ Seq(col("_t"), col("_side"), col("_payload")) ++
        leftCols.filterNot(keys.contains).map(col): _*)
      .unionByName(r, allowMissingColumns = true)

    // Both carries in one window pass over the same (keys[, chunk]) sort.
    def bothCarries(df: DataFrame, extraPart: Seq[Column] = Seq.empty): DataFrame = {
      val base = Window.partitionBy(keys.map(col) ++ extraPart: _*).orderBy(col("_t"), col("_side"))
      df.withColumn("_mb", last(col("_payload"), ignoreNulls = true)
          .over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("_mf", first(col("_payload"), ignoreNulls = true)
          .over(base.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
        .filter(col("_side") === 1)
    }

    /** The chunked hot-key carry, dual-direction: same quantile time-chunks
      * as joinImpl's, but each chunk's boundary summary holds BOTH extreme
      * right rows (latest for the backward candidate, earliest for the
      * forward one) and both carries patch their respective misses. A
      * within-chunk candidate always beats the cross-chunk carry in its
      * own direction (chunks are time-ordered), so coalesce is exact.
      */
    def chunkedBoth(df: DataFrame): DataFrame = {
      val keyCols = keys.map(col)
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
      val withChunk = df.join(broadcast(bounds), keys)
        .withColumn("_chunk",
          aggregate(col("_bounds"), lit(0), (acc, b) => acc + when(tNum > b, 1).otherwise(0)))
        .drop("_bounds")
      val within = bothCarries(withChunk, Seq(col("_chunk")))
      val summaries = withChunk.filter(col("_side") === 0)
        .groupBy(keyCols :+ col("_chunk"): _*)
        .agg(max_by(col("_payload"), col("_t")).as("_bB"),
          min_by(col("_payload"), col("_t")).as("_bF"))
      val domain = bounds.select(keyCols: _*)
        .withColumn("_chunk", explode(sequence(lit(0), lit(hotKeyChunks - 1))))
      val wC = Window.partitionBy(keyCols: _*).orderBy(col("_chunk"))
      val carries = domain.join(summaries, keys :+ "_chunk", "left")
        .withColumn("_carryB", last(col("_bB"), ignoreNulls = true)
          .over(wC.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("_carryF", first(col("_bF"), ignoreNulls = true)
          .over(wC.rowsBetween(1, Window.unboundedFollowing)))
        .select(keyCols ++ Seq(col("_chunk"), col("_carryB"), col("_carryF")): _*)
      within.join(broadcast(carries), keys :+ "_chunk", "left")
        .withColumn("_mb", coalesce(col("_mb"), col("_carryB")))
        .withColumn("_mf", coalesce(col("_mf"), col("_carryF")))
        .drop("_chunk", "_carryB", "_carryF")
    }

    val routed =
      if (!splitHotKeys) bothCarries(unioned)
      else {
        val kh = xxhash64(keys.map(col): _*)
        val hotHashes = graft.integrity.SkewJoin.detectHotLongKeys(
          unioned.select(kh.as("_kh")), "_kh", minShare = hotKeyShare)
        if (hotHashes.isEmpty) bothCarries(unioned)
        else {
          // null-key rows stay cold for the same reason as joinImpl's
          val nullKey = keys.map(col(_).isNull).reduce(_ || _)
          val isHot = !nullKey && kh.isin(hotHashes: _*)
          bothCarries(unioned.filter(!isHot))
            .unionByName(chunkedBoth(maybePersist(unioned.filter(isHot), persistHot)))
        }
      }

    val guard = col(leftTime).isNotNull // null left time: no distance is defined
    val withBoth = routed
      .withColumn("_mb", when(guard, col("_mb")))
      .withColumn("_mf", when(guard, col("_mf")))
    val db = col(leftTime) - col(s"_mb.`$rightTime`")
    val df2 = col(s"_mf.`$rightTime`") - col(leftTime)
    val chosen = when(col("_mb").isNull, col("_mf"))
      .when(col("_mf").isNull, col("_mb"))
      .when(db <= df2, col("_mb")) // tie → past
      .otherwise(col("_mf"))
    val gated = tolerance match {
      case None => withBoth.withColumn("_matched", chosen)
      case Some(tol) =>
        // gate the CHOSEN candidate's absolute distance; never fall
        // through to the other direction's farther row
        val dist = when(col(s"_matched.`$rightTime`") >= col(leftTime),
          col(s"_matched.`$rightTime`") - col(leftTime))
          .otherwise(col(leftTime) - col(s"_matched.`$rightTime`"))
        withBoth.withColumn("_matched", chosen)
          .withColumn("_matched", when(dist <= tol, col("_matched")))
    }
    gated.select(leftCols.map(col) ++ payloadCols.map(c => col(s"_matched.`$c`").as(c)): _*)
  }

  private def joinImpl(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Column],
      forwardDir: Boolean,
      splitHotKeys: Boolean = false,
      hotKeyShare: Double = 0.05,
      hotKeyChunks: Int = 32,
      persistHot: Boolean = true
  ): DataFrame = {
    require(keys.nonEmpty, "asof join needs at least one key column")
    require(hotKeyChunks > 1, "hotKeyChunks must be > 1")
    val payloadCols = right.columns.filterNot(c => keys.contains(c)).toSeq
    val leftCols = left.columns.toSeq
    val overlap = payloadCols.toSet.intersect(leftCols.toSet)
    require(overlap.isEmpty, s"right payload columns collide with left columns: $overlap — rename before joining")
    val reserved = Set("_t", "_side", "_payload", "_matched", "_kh", "_bounds", "_chunk", "_boundary", "_carry")
      .intersect((leftCols ++ right.columns).toSet)
    require(reserved.isEmpty, s"asof join reserves working columns $reserved — rename before joining")

    // At equal time the matching right row must fall INSIDE the left row's
    // frame: backward (preceding..current) puts rights first; forward
    // (current..following) puts them after.
    val (leftMark, rightMark) = if (forwardDir) (0, 1) else (1, 0)
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

    // Single keyed window: the right payload carried across the key's full
    // ordered timeline. Returns left rows only, with `_matched`.
    def windowCarry(df: DataFrame, extraPart: Seq[Column] = Seq.empty): DataFrame = {
      val base = Window.partitionBy(keys.map(col) ++ extraPart: _*).orderBy(col("_t"), col("_side"))
      val c =
        if (forwardDir)
          first(col("_payload"), ignoreNulls = true)
            .over(base.rowsBetween(Window.currentRow, Window.unboundedFollowing))
        else
          last(col("_payload"), ignoreNulls = true)
            .over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      df.withColumn("_matched", c).filter(col("_side") === leftMark)
    }

    /** Two-pass chunked carry for HOT keys (a key whose full timeline
      * exceeds one task): quantile-split the key's timeline into
      * `hotKeyChunks` time ranges, run the carry window partitioned by
      * (keys, chunk) — so one hot key spreads over hotKeyChunks tasks —
      * then patch chunk-boundary misses from a tiny per-(key, chunk)
      * summary table (the extreme right row of each chunk, carried across
      * chunks by a window over #hotKeys × hotKeyChunks rows, broadcast
      * back). Equal times always share a chunk (boundary cut is strict >),
      * so the ≥/≤ tie semantics are preserved exactly; a hot spot at ONE
      * instant is the only unsplittable residue. Needs `_t` castable to
      * double (numeric or TIMESTAMP; TIMESTAMP_NTZ callers pre-convert via
      * unix_micros). Cost note: the hot subset is scanned three times
      * (bounds, carry, summaries) — `persistHot` (default on) caches the
      * filtered hot frame so the upstream scan is paid once; see
      * [[maybePersist]].
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
      val within = windowCarry(withChunk, Seq(col("_chunk")))
      // Boundary summaries: the latest (backward) / earliest (forward)
      // right row of each chunk; dense chunk domain so empty chunks still
      // receive a carry row.
      val summaries = withChunk.filter(col("_side") === rightMark)
        .groupBy(keyCols :+ col("_chunk"): _*)
        .agg((if (forwardDir) min_by(col("_payload"), col("_t"))
              else max_by(col("_payload"), col("_t"))).as("_boundary"))
      // bounds is already one row per hot key — no second distinct scan
      val domain = bounds.select(keyCols: _*)
        .withColumn("_chunk", explode(sequence(lit(0), lit(hotKeyChunks - 1))))
      val wC = Window.partitionBy(keyCols: _*).orderBy(col("_chunk"))
      val carryCol =
        if (forwardDir)
          first(col("_boundary"), ignoreNulls = true).over(wC.rowsBetween(1, Window.unboundedFollowing))
        else
          last(col("_boundary"), ignoreNulls = true).over(wC.rowsBetween(Window.unboundedPreceding, -1))
      val carries = domain.join(summaries, keys :+ "_chunk", "left")
        .withColumn("_carry", carryCol)
        .select(keyCols ++ Seq(col("_chunk"), col("_carry")): _*)
      within.join(broadcast(carries), keys :+ "_chunk", "left")
        .withColumn("_matched", coalesce(col("_matched"), col("_carry")))
        .drop("_chunk", "_carry")
    }

    val routed =
      if (!splitHotKeys) windowCarry(unioned)
      else {
        // Hot-key detection composes with the skew toolkit: one narrow
        // frequent-items sketch pass over the hashed key (no shuffle, no
        // extra scan of wide columns). Hash collisions only mark extra
        // keys hot — the chunked path is correct for any key, just two-pass.
        val kh = xxhash64(keys.map(col): _*)
        val hotHashes = graft.integrity.SkewJoin.detectHotLongKeys(
          unioned.select(kh.as("_kh")), "_kh", minShare = hotKeyShare)
        if (hotHashes.isEmpty) windowCarry(unioned)
        else {
          // Null-key left rows must stay on the COLD path: xxhash64 skips
          // null children, so an all-null key hashes to a constant that a
          // large null population gets detected as "hot" — but
          // chunkedCarry's inner bounds-join on the keys would then drop
          // those rows (null never equi-joins), while the left-outer
          // contract says they survive with a null payload.
          val nullKey = keys.map(col(_).isNull).reduce(_ || _)
          val isHot = !nullKey && kh.isin(hotHashes: _*)
          windowCarry(unioned.filter(!isHot))
            .unionByName(chunkedCarry(maybePersist(unioned.filter(isHot), persistHot)))
        }
      }

    val carried = routed
      // A null left time can never satisfy >= / <= against any right time,
      // but ascending sort is NULLS FIRST: a null-time left row heads the
      // partition, and in the forward direction its currentRow..following
      // frame would contain EVERY right row of the key. Null the match for
      // null-time left rows in both directions (backward's empty preceding
      // frame already yields null; this makes the invariant explicit).
      .withColumn("_matched", when(col(leftTime).isNotNull, col("_matched")))
    val gated = tolerance match {
      case None => carried
      case Some(tol) =>
        // a too-distant nearest match → no match (null struct), never a
        // farther row
        val distance =
          if (forwardDir) col(s"_matched.`$rightTime`") - col(leftTime)
          else col(leftTime) - col(s"_matched.`$rightTime`")
        carried.withColumn("_matched", when(distance <= tol, col("_matched")))
    }
    gated.select(leftCols.map(col) ++ payloadCols.map(c => col(s"_matched.`$c`").as(c)): _*)
  }
}
