package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed running total (global prefix sum) over a total order —
  * WITHOUT the single-partition `Window.orderBy(...)` that Spark would
  * otherwise plan (one task holding the whole table; a non-starter at
  * 10^12 rows). This is the primitive behind sequence packing
  * ([[Packing]]) and vocabulary-coverage cutoffs ([[TextOps.vocabCoverage]]).
  *
  * Algorithm (the classic two-level scan, same decomposition as Spark's own
  * `RangePartitioner` + `zipWithIndex`):
  *   1. sample the order key and pick `buckets-1` range boundaries
  *      (collected to the driver as LITERALS, so every downstream pass
  *      buckets rows identically — no reliance on exchange reuse for
  *      consistency, and task retries can never disagree);
  *   2. bucket id = number of boundaries ≤ the row's key — a codegen'd
  *      O(buckets) comparison chain, no shuffle;
  *   3. per-bucket totals (one combiner-friendly agg, `buckets` rows to
  *      the driver) → exclusive prefix offsets, baked in as a literal map;
  *   4. within-bucket running sum via `Window.partitionBy(bucket)` —
  *      `buckets` parallel range-contiguous windows instead of one global
  *      one — plus the bucket's offset.
  *
  * Cost: one count + one key-column sample scan + one agg pass + the main
  * pass — all but the last are column-pruned scans. Driver state is
  * O(buckets), never O(rows).
  *
  * Requirements (caller's contract, asserted where cheap):
  *   - `orderCols` must be a UNIQUE total order (ties would make the
  *     running value nondeterministic among tied rows);
  *   - order columns must be non-null;
  *   - `valueCol` is integral (sums as long); null values count as 0 —
  *     the running total is never null, a deliberate divergence from SQL
  *     window sums (null over a leading all-null prefix) so the result
  *     cannot depend on where sampled bucket boundaries land.
  */
object PrefixScan {

  /** Adds `resultCol` = inclusive running sum of `valueCol` over the rows
    * ordered by `orderCols` (each `(name, ascending)`).
    *
    * The input is persisted (MEMORY_AND_DISK) for the duration of the
    * build: the scan needs three eager passes (count, boundary
    * sample, bucket totals) plus the caller's final pass, and for an
    * input that is itself a corpus-wide aggregation (vocabCoverage,
    * tokenBudgetKeep) re-deriving it 4× is the dominant cost. It also
    * pins the row set: a non-deterministic input would otherwise give
    * the totals job and the main pass different rows — silently wrong
    * offsets. The cache entry is NOT explicitly unpersisted (the result
    * is lazy; the final pass must see the same rows the eager passes
    * saw) — it lives until the session drops it, the same internal-
    * persist policy as `AsofJoin`'s hot-key frame; long-lived sessions running
    * many scans should `clearCache()` between them (the Bench stress loop
    * does). Callers composing many scans over one frame can persist it
    * themselves: an input that is already persisted gets no second entry.
    */
  def runningTotal(
      df: DataFrame,
      orderCols: Seq[(String, Boolean)],
      valueCol: String,
      resultCol: String = "running",
      buckets: Int = 64,
      sampleSize: Int = 1 << 16
  ): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    val work = "_ps_bucket"
    require(!df.columns.contains(work), s"PrefixScan reserves working column $work")
    require(!df.columns.contains(resultCol),
      s"result column $resultCol already exists in the input")

    // Skip the persist when the caller already persisted `df` (storageLevel
    // != NONE): re-persisting the same plan is at best a no-op and at worst
    // a second cache entry held for the session (round-6 advisory).
    val ownPersist = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val in =
      if (ownPersist) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    val keyCols = orderCols.map { case (c, _) => col(c) }
    val n = in.count()
    if (n == 0L) { if (ownPersist) in.unpersist(); return df.withColumn(resultCol, lit(0L)) }

    // Boundary sample: deterministic seed; fraction aims at ~sampleSize
    // rows. Boundaries only steer balance — correctness is independent of
    // where they land, so a sparse sample at small inputs is harmless.
    val frac = math.min(1.0, sampleSize.toDouble * 1.2 / n.toDouble)
    val sampled = in.select(keyCols: _*).sample(withReplacement = false, frac, seed = 7L)
      .sort(sortOrder(orderCols): _*)
      .collect()
    val step = math.max(1, sampled.length / buckets)
    val boundaries = sampled.indices.collect { case i if i > 0 && i % step == 0 => sampled(i) }
      .distinct.take(buckets - 1)

    // bucket = #boundaries with boundary <= key, i.e. sum of [key >= b].
    val bucketExpr = boundaries.foldLeft(lit(0)) { (acc, b) =>
      acc + when(geBoundary(orderCols, b.toSeq), 1).otherwise(0)
    }
    val bucketed = in.withColumn(work, bucketExpr)

    // Exclusive per-bucket offsets: `buckets` rows to the driver. The
    // bucket expression is a pure function of row values and boundary
    // LITERALS, so this separate job and the main pass below agree by
    // construction. Null values count as 0 THROUGHOUT (here and in the
    // window below): a bare window sum would be null over an all-null
    // prefix, which under bucketing would make the result depend on where
    // sampled boundaries land (null + offset = null only in the bucket
    // where the null run starts). Coalescing the VALUE makes the running
    // total never-null and boundary-independent — documented divergence
    // from SQL window semantics on leading all-null prefixes.
    val v = coalesce(col(valueCol).cast("long"), lit(0L))
    val totals = bucketed.groupBy(col(work))
      .agg(sum(v).as("_t"))
      .collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .toMap
    val offsets: Map[Int, Long] = {
      var acc = 0L
      (0 to boundaries.length).map { b =>
        val o = b -> acc
        acc += totals.getOrElse(b, 0L)
        o
      }.toMap
    }

    val w = Window.partitionBy(col(work)).orderBy(sortOrder(orderCols): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .withColumn(resultCol, sum(v).over(w) + element_at(typedLit(offsets), col(work)))
      .drop(work)
  }

  /** Per-group running total, skew-proof for FEW, HUGE groups — the shape
    * `Window.partitionBy(group)` handles badly (one task per group: three
    * sources over 100 TB = three tasks). Instead: ONE global
    * [[runningTotal]] ordered by (group, orderCols), then each row's
    * in-group running value = global running − the group's exclusive
    * start offset. Group offsets are one tiny agg (|groups| rows) baked in
    * as a literal map — callers' contract: `groupCols` is a SMALL domain
    * (sources, splits, languages), while each group may be arbitrarily
    * large. Parallelism stays `buckets`-wide regardless of group count.
    */
  def groupedRunningTotal(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[(String, Boolean)],
      valueCol: String,
      resultCol: String = "running",
      buckets: Int = 64
  ): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val globalOrder = groupCols.map(_ -> true) ++ orderCols
    // runningTotal first: its persist + count materialize the cache the
    // group-totals agg below then reuses (CacheManager matches by plan).
    val g = runningTotal(df, globalOrder, valueCol, resultCol, buckets)
    // U+0001 separator: a plain space (or none) would let multi-column
    // group tuples collide when a value itself contains the separator;
    // group values must not contain U+0001 (and must be non-null -- the
    // same contract as order columns).
    val keyExpr = concat_ws("\u0001", groupCols.map(c => col(c).cast("string")): _*)
    // Exclusive group start offsets: sum per group, collected in SPARK's
    // native ascending group order (the same ordering runningTotal used --
    // sorting driver-side by a stringified key would disagree for numeric
    // groups: "10" < "2"). The lookup key is computed by SPARK's own
    // string cast on BOTH sides: a driver-side String.valueOf would
    // disagree with cast-to-string for timestamps and the like, and the
    // map lookup would then silently null every affected group's running
    // value. Tiny: |groups| rows.
    val totalRows = df.groupBy(groupCols.map(col): _*)
      .agg(sum(coalesce(col(valueCol).cast("long"), lit(0L))).as("_t"))
      .orderBy(groupCols.map(col(_).asc): _*)
      .select(groupCols.map(col) :+ keyExpr.as("_k") :+ col("_t"): _*)
      .collect()
    // Cheap contract check over |groups| rows: a null group value would
    // otherwise be silently collapsed with "" by concat_ws and blamed on
    // a separator collision below.
    totalRows.foreach { r =>
      groupCols.indices.foreach { i =>
        require(!r.isNullAt(i), s"group column ${groupCols(i)} contains null — " +
          "group values must be non-null (filter or fill them first)")
      }
    }
    val totals = totalRows
      .map(r => r.getString(groupCols.length) ->
        (if (r.isNullAt(groupCols.length + 1)) 0L else r.getLong(groupCols.length + 1)))
    val offsets: Map[String, Long] = {
      var acc = 0L
      totals.map { case (k, t) => val o = k -> acc; acc += t; o }.toMap
    }
    require(offsets.size == totals.length,
      s"group key collision: ${totals.length} groups yielded ${offsets.size} distinct keys " +
        "(a group value contains the U+0001 separator)")
    g.withColumn(resultCol, col(resultCol) - element_at(typedLit(offsets), keyExpr))
  }

  private def sortOrder(orderCols: Seq[(String, Boolean)]): Seq[Column] =
    orderCols.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }

  /** Lexicographic `row-key >= boundary` honouring per-column direction:
    * for head (c, asc) with boundary value v —
    * strictly-after(c, v) OR (c = v AND rest >= rest-boundary).
    */
  private def geBoundary(orderCols: Seq[(String, Boolean)], boundary: Seq[Any]): Column =
    orderCols.zip(boundary) match {
      case Seq() => lit(true)
      case (head, v) +: rest =>
        val (c, asc) = head
        val after = if (asc) col(c) > lit(v) else col(c) < lit(v)
        if (rest.isEmpty) after || col(c) === lit(v)
        else after || (col(c) === lit(v) && geBoundary(orderCols.tail, boundary.tail))
    }
}
