package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, reproducible sampling for dataset curation — the
  * training-pipeline requirement `df.sample()` cannot meet: `rand()`-based
  * sampling changes membership on every run/retry/partitioning, which
  * breaks caching, A/B comparisons, and incremental rebuilds. Here
  * membership is a PURE function of the row's key: re-running the
  * pipeline, adding executors, or re-partitioning never moves a row in or
  * out of the sample, and an arriving batch can be sampled consistently
  * with the corpus without any stored state (same stateless-signature
  * philosophy as [[Dedup.minhashSignatures]]).
  *
  * Mechanism: the first 8 hex chars of md5(key) compared against a hex
  * threshold string. Lexicographic order of fixed-width lowercase hex IS
  * numeric order ('0'-'9' < 'a'-'f' in ASCII), so `md5hex8 < "40000000"`
  * keeps exactly the keys whose 32-bit hash fraction is < 0.25 — and the
  * SAME predicate is expressible verbatim in any engine with md5
  * (DuckDB-parity oracled in q53 without any integer-conversion dialect
  * differences). md5 here is a uniform hash, not a security boundary.
  *
  * Scale shape: a narrow per-row projection + filter — codegen'd,
  * shuffle-free, pushes nothing but reads only the key column beyond the
  * caller's projection. Sampling 10^12 rows is exactly one scan.
  */
object Sampling {

  /** Hex-threshold membership: keep iff hashFraction(key, salt) < rate.
    * Note rate = 1.0 maps to "ffffffff", which excludes the single prefix
    * value "ffffffff" (2^-32 of keys) — a parity-preserving simplification
    * (the oracle computes the identical predicate); full inclusion is
    * `df` itself, not a sample.
    */
  private def hexThreshold(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1]: $rate")
    val v = math.min((rate * 4294967296.0).toLong, 4294967295L)
    f"$v%08x"
  }

  /** The first 8 md5-hex chars of (key, salt) — fixed-width lowercase, so
    * string comparison is numeric comparison of the 32-bit hash prefix.
    * `salt` decouples independent samples over the same keys.
    */
  def hashPrefix(key: Column, salt: String = ""): Column =
    substring(md5(concat(key.cast("string"), lit(salt))), 1, 8)

  /** Deterministic Bernoulli sample at `rate` keyed on `keyCol`. */
  def deterministicSample(df: DataFrame, keyCol: String, rate: Double, salt: String = ""): DataFrame =
    df.filter(hashPrefix(col(keyCol), salt) < lit(hexThreshold(rate)))

  /** [[hexThreshold]] as a COLUMN over a per-row rate in [0,1] — the same
    * trunc-to-2^32, clamp, 8-hex-lowercase pipeline, expressible verbatim
    * in any engine with printf/hex (q70's oracle uses DuckDB's
    * printf('%08x', ...)). Null rates yield a null threshold, and a null
    * comparison keeps nothing — null-rated rows are excluded, same as
    * rate 0.
    */
  def hexThresholdCol(rate: Column): Column = {
    // least/greatest SKIP nulls in Spark, so a null rate would clamp to
    // "ffffffff" — keep-everything, the opposite of the documented
    // exclusion. Gate nullity explicitly.
    val t = greatest(lit(0L), least(
      (rate.cast("double") * lit(4294967296.0)).cast("long"),
      lit(4294967295L)))
    when(rate.isNull, lit(null).cast("string")).otherwise(lpad(lower(hex(t)), 8, "0"))
  }

  /** Per-row WEIGHTED deterministic sample: keep iff
    * hashFraction(key, salt) < rateCol — Bernoulli with a row-level
    * probability (quality-proportional sampling, per-record importance
    * weights). Membership stays a pure function of (key, salt, rate):
    * rerun/retry/repartition-stable, and expected kept mass is
    * sum(rateCol). One codegen'd scan + filter, no shuffle, no UDF —
    * [[stratifiedSample]]'s shape with the when-chain replaced by
    * arithmetic on the row itself, so the rate domain is unbounded
    * (clamped to [0,1] by the caller's expression or the 2^32 clamp).
    */
  def weightedSample(df: DataFrame, keyCol: String, rateCol: Column, salt: String = ""): DataFrame =
    df.filter(hashPrefix(col(keyCol), salt) < hexThresholdCol(rateCol))

  /** Per-stratum rates (unlisted strata get `defaultRate`): the downsample-
    * the-majority-class / rebalance-by-source staple. Rates compile to a
    * single when-chain — no join, no shuffle, one codegen'd predicate.
    */
  def stratifiedSample(
      df: DataFrame,
      keyCol: String,
      stratumCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 0.0,
      salt: String = ""
  ): DataFrame = {
    val threshold = rates.foldLeft(lit(hexThreshold(defaultRate))) { case (acc, (stratum, rate)) =>
      when(col(stratumCol) === stratum, lit(hexThreshold(rate))).otherwise(acc)
    }
    df.filter(hashPrefix(col(keyCol), salt) < threshold)
  }

  /** Deterministic k-per-stratum subset: the k rows of each stratum with
    * the SMALLEST key hashes — a fixed-size balanced sample (eval-set
    * drawing, per-source caps) that is stable under reruns AND under
    * corpus growth in the same sense as a reservoir: a new row enters a
    * stratum's sample only by displacing the largest-hash member, so
    * samples drawn at different corpus sizes agree on their overlap.
    * One shuffle on the stratum (the unavoidable one); ties on identical
    * hash break by the key itself, so selection is total and
    * deterministic even with adversarial keys.
    *
    * Skew shape: a bare `row_number` over `partitionBy(stratum)` sorts
    * each WHOLE stratum on one task — three sources over 100 TB = three
    * tasks. With `prefilter = true` (the default for string strata) the
    * window runs only on rows whose hash prefix is below a per-stratum
    * threshold 8k/n_s·2^32 (hashes are uniform, so the k smallest
    * concentrate there; expected survivors ≈ 8k per stratum, and the
    * window partitions are O(k) regardless of stratum size). Correctness
    * never rests on the concentration bound: any stratum whose survivor
    * count falls short of min(k, n_s) — possible, just binomially rare —
    * is re-run through the unfiltered window and unioned back, so the
    * output is bit-identical to the plain path (q55's oracle covers the
    * composite). Costs one tiny per-stratum count agg (strata are a small
    * domain — the [[mixtureSqrtRates]] contract); pass `prefilter =
    * false` to keep the original single-pass plan (required when the
    * stratum column is not a string).
    *
    * The prefiltered path makes three passes over `df0` (stratum counts,
    * the survivors window, the deficit check) plus the caller's final
    * action, so it persists `df0` for the build (MEMORY_AND_DISK, skipped
    * when the caller already persisted it), mirroring
    * [[PrefixScan.runningTotal]]'s policy. The cache is left to session
    * lifecycle for the same lazy-result reason.
    */
  def sampleKPerStratum(
      df0: DataFrame,
      keyCol: String,
      stratumCol: String,
      k: Int,
      salt: String = "",
      prefilter: Boolean = true
  ): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(!df0.columns.contains("_sample_rank"),
      "sampleKPerStratum reserves working column _sample_rank — rename before sampling")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(hashPrefix(col(keyCol), salt), col(keyCol))
    def windowed(in: DataFrame): DataFrame =
      in.withColumn("_sample_rank", row_number().over(w))
        .filter(col("_sample_rank") <= k)
        .drop("_sample_rank")
    if (!prefilter) return windowed(df0)
    require(df0.schema(stratumCol).dataType == org.apache.spark.sql.types.StringType,
      s"prefilter needs a string stratum column (got ${df0.schema(stratumCol).dataType}); " +
        "pass prefilter = false")
    val df =
      if (df0.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        df0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df0

    val rawCounts = df.groupBy(col(stratumCol)).count().collect()
    // A null stratum can't join the literal threshold map — route those
    // rows through the plain window below so behavior matches prefilter=false.
    val hasNullStratum = rawCounts.exists(_.isNullAt(0))
    val counts = rawCounts
      .filter(!_.isNullAt(0)).map(r => r.getString(0) -> r.getLong(1)).toMap
    // Per-stratum hash cutoff: strata at or below 8k keep everything (the
    // window is already O(k) there); larger ones keep ~8k expected rows.
    val thresholds: Map[String, String] = counts.map { case (s, n) =>
      s -> (if (n <= 8L * k) "ffffffff"
            else hexThreshold(math.min(1.0, 8.0 * k / n.toDouble)))
    }
    val thrCol = element_at(typedLit(thresholds), col(stratumCol))
    val survivors = df.filter(hashPrefix(col(keyCol), salt) <= thrCol)
    val sampled = windowed(survivors)
    // Deficit check (exact, tiny): a stratum must yield min(k, n_s) rows.
    val got = sampled.groupBy(col(stratumCol)).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val deficient = counts.collect {
      case (s, n) if got.getOrElse(s, 0L) < math.min(k.toLong, n) => s
    }.toSeq
    val base =
      if (deficient.isEmpty) sampled
      else {
        // Binomially rare (and certain to fix: the full window is exact).
        val fixed = windowed(df.filter(col(stratumCol).isin(deficient: _*)))
        sampled.filter(!col(stratumCol).isin(deficient: _*)).unionByName(fixed)
      }
    if (!hasNullStratum) base
    else base.unionByName(windowed(df.filter(col(stratumCol).isNull)))
  }

  /** Assign every row a split label ("train"/"val"/"test"/…) by disjoint
    * hash ranges — the reproducible train/val/test split: a row's split is
    * a pure function of its key, so later pipeline runs (or other teams)
    * reproduce the identical partition with no stored split table, and no
    * row is ever in two splits. Fractions must sum to ≤ 1; any remainder
    * maps to null (excluded rows).
    */
  def splitAssign(key: Column, fractions: Seq[(String, Double)], salt: String = ""): Column =
    splitAssignFromPrefix(hashPrefix(key, salt), fractions)

  /** [[splitAssign]] over an already-computed [[hashPrefix]] column —
    * factored out so the boundary cases (the literal "ffffffff" prefix, a
    * null key) are directly testable without searching for a preimage.
    */
  private[graft] def splitAssignFromPrefix(prefix: Column, fractions: Seq[(String, Double)]): Column = {
    require(fractions.nonEmpty, "at least one split")
    val total = fractions.map(_._2).sum
    require(total <= 1.0 + 1e-9, s"fractions sum to $total > 1")
    // clamp: sequential FP summation of fractions that legitimately sum to
    // 1 can land at 1.0000000000000002, which would fail hexThreshold's
    // domain check
    val cuts = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
      .map(math.min(_, 1.0))
    fractions.zip(cuts).foldRight(lit(null).cast("string")) { case (((name, _), cut), acc) =>
      // A cut that reaches 1.0 closes the domain: comparing against the
      // clamped "ffffffff" threshold would map the keys whose hash prefix
      // is exactly "ffffffff" (2^-32 of rows) to null — a "complete" split
      // silently dropping rows. The final range is therefore unconditional
      // for any hashed key (null keys still yield null: md5(null) is null).
      // Tolerance mirrors the require() above: sequential FP summation of
      // fractions that legitimately sum to 1 can land a hair BELOW 1.0
      // (ten 0.1s sum to 0.9999999999999999) just as it can land above.
      if (cut >= 1.0 - 1e-9) when(prefix.isNotNull, lit(name)).otherwise(acc)
      else when(prefix < lit(hexThreshold(cut)), lit(name)).otherwise(acc)
    }
  }

  /** Sqrt-temperature source mixing (α = 0.5): per-source sampling rates
    * r_s = min(1, target·⌊√n_s⌋ / Σ⌊√n_s⌋) — the "upsample small domains /
    * downsample dominant ones" multinomial reweighting used for training
    * mixes (mBERT/XLM-R exponent-smoothed sampling), realized as a
    * deterministic hash sample so membership stays rerun/retry-stable.
    *
    * ⌊√n⌋ is used instead of n^α so every rate is ONE float multiply and
    * divide over exact integers — bit-identical in any IEEE-754 engine,
    * hence oracle-verifiable by hash (q66); arbitrary α is available by
    * feeding your own rates to [[stratifiedSample]].
    *
    * Driver state: one row per source (counts collect) — sources are a
    * small domain by construction. The sample itself is the
    * [[stratifiedSample]] when-chain: one codegen'd scan, no join/shuffle.
    */
  def mixtureSqrtRates(df: DataFrame, stratumCol: String, targetRows: Long): Map[String, Double] = {
    require(targetRows >= 0, s"targetRows must be >= 0: $targetRows")
    require(df.schema(stratumCol).dataType == org.apache.spark.sql.types.StringType,
      s"stratum column $stratumCol must be string (got ${df.schema(stratumCol).dataType}); " +
        "cast it, or compute rates yourself and call stratifiedSample")
    // null strata are excluded from the rate map — the stratifiedSample
    // when-chain can never match null, so such rows are dropped (the same
    // exclusion the q66 oracle's inner join expresses).
    val counts = df.groupBy(col(stratumCol)).count()
      .collect()
      .filter(!_.isNullAt(0))
      .map(r => (r.getString(0), r.getLong(1), math.floor(math.sqrt(r.getLong(1).toDouble)).toLong))
    val total = counts.map(_._3).sum
    // rate_s = target · w_s / n_s with w_s = ⌊√n_s⌋/Σ⌊√n_s⌋, so the expected
    // kept count is Σ n_s·r_s = target (before the min-1 clamp). Exactly two
    // float multiplies and one divide over exact integers, in this
    // association — the oracle (q66) reproduces it bit-for-bit.
    counts.map { case (s, n, q) =>
      s -> math.min(1.0, targetRows.toDouble * q.toDouble / (total.toDouble * n.toDouble))
    }.toMap
  }

  /** [[mixtureSqrtRates]] + [[stratifiedSample]] in one call. */
  def mixtureSqrtSample(
      df: DataFrame,
      keyCol: String,
      stratumCol: String,
      targetRows: Long,
      salt: String = ""
  ): DataFrame =
    stratifiedSample(df, keyCol, stratumCol, mixtureSqrtRates(df, stratumCol, targetRows), salt = salt)
}
