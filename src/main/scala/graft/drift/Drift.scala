package graft.drift

import java.util.Base64

import graft.sketch.ColumnProfiler.SketchProfile
import graft.sketch.Sketches

/** Distribution-drift scoring against a baseline snapshot (north_star):
  * KS distance on t-digest CDFs for numeric columns, PSI on t-digest decile
  * bins and on categorical frequency sketches. Pure driver-side math over
  * merged sketches — no data movement, so scoring cost is independent of
  * table size. Sketches are read by their [[graft.sketch.ColumnProfiler]]
  * names, from a profile or from a committed manifest's `sketches`.
  */
object Drift {

  /** Kolmogorov–Smirnov distance between two t-digest CDFs, evaluated on a
    * quantile grid drawn from BOTH digests (so step regions of either
    * distribution are sampled).
    */
  def ks(tdBaseline: Array[Byte], tdCurrent: Array[Byte], gridPerSide: Int = 101): Double = {
    val a = Sketches.td(tdBaseline)
    val b = Sketches.td(tdCurrent)
    if (a.isEmpty || b.isEmpty) return if (a.isEmpty == b.isEmpty) 0.0 else 1.0
    val grid = (0 to gridPerSide).flatMap { i =>
      val q = i.toDouble / gridPerSide
      Seq(a.getQuantile(q), b.getQuantile(q))
    }.distinct.sorted
    grid.map(x => math.abs(a.getRank(x) - b.getRank(x))).max
  }

  /** Population Stability Index over bins derived from the BASELINE deciles
    * (the standard PSI recipe). ε-clamped so empty bins don't blow up.
    */
  def psiNumeric(tdBaseline: Array[Byte], tdCurrent: Array[Byte], bins: Int = 10, eps: Double = 1e-6): Double = {
    val a = Sketches.td(tdBaseline)
    val b = Sketches.td(tdCurrent)
    if (a.isEmpty || b.isEmpty) return 0.0
    val edges = (1 until bins).map(i => a.getQuantile(i.toDouble / bins))
    def binProbs(t: org.apache.datasketches.tdigest.TDigestDouble): Seq[Double] = {
      val ranks = edges.map(t.getRank)
      val cum = 0.0 +: ranks :+ 1.0
      cum.sliding(2).map { case Seq(lo, hi) => math.max(hi - lo, eps) }.toSeq
    }
    binProbs(a).zip(binProbs(b)).map { case (p, q) => (q - p) * math.log(q / p) }.sum
  }

  /** PSI over categorical frequencies (fmt mix) from two frequent-items
    * sketches. For low-cardinality columns like fmt the sketch estimates
    * are exact, so this equals the exact PSI.
    */
  def psiCategorical(freqBaseline: Array[Byte], freqCurrent: Array[Byte], eps: Double = 1e-6): Double = {
    val a = Sketches.freqStringItems(freqBaseline).toMap
    val b = Sketches.freqStringItems(freqCurrent).toMap
    val na = math.max(a.values.sum.toDouble, 1.0)
    val nb = math.max(b.values.sum.toDouble, 1.0)
    (a.keySet ++ b.keySet).toSeq.map { k =>
      val p = math.max(a.getOrElse(k, 0L) / na, eps)
      val q = math.max(b.getOrElse(k, 0L) / nb, eps)
      (q - p) * math.log(q / p)
    }.sum
  }

  /** EXACT drift between two frames on fixed histogram bins — the auditable
    * complement to the sketch path ([[report]]). The t-digest KS/PSI above
    * answer "did the table drift" from O(KB) merged state; this computes the
    * same scores exactly, so an external auditor (the DuckDB oracle) can
    * reproduce every digit. Scale shape: ONE distributed bin-count
    * aggregation per side (map-side combine onto ≤ `bins` + |categories|
    * keys), then window math over the aggregated ≤-bins-row frame — the
    * single-partition windows below run on that tiny frame, never on data.
    *
    * Returns one row per score, (metric, col_name, score):
    * KS + PSI over `valueCol` binned as
    * `clamp(floor((v - lo) / binWidth), 0, bins-1)` (under/overflow rows
    * land in the edge bins, so any value domain is total), and PSI over
    * `catCol` categories. Empty bins are ε-clamped on BOTH sides (standard
    * PSI recipe); scores are rounded to `dp` decimals — the sub-ulp libm/
    * sum-order slack between engines is far below that.
    */
  def exactDrift(
      base: org.apache.spark.sql.DataFrame,
      curr: org.apache.spark.sql.DataFrame,
      valueCol: String,
      lo: Double,
      binWidth: Double,
      bins: Int,
      catCol: String,
      eps: Double = 1e-6,
      dp: Int = 6
  ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.{Column, DataFrame}
    val u = base.select(col(valueCol).as("v"), col(catCol).cast("string").as("c"), lit(0L).as("side"))
      .unionByName(curr.select(col(valueCol).as("v"), col(catCol).cast("string").as("c"), lit(1L).as("side")))
    // integer counts cast to double AFTER the sum: exact in both engines
    // (DuckDB sums a 1.0 literal as DECIMAL, which diverges)
    def binCounts(bin: Column, notNull: Column): DataFrame =
      u.filter(notNull).groupBy(bin.as("bin"))
        .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).cast("double").as("pn"),
          sum(when(col("side") === 1, 1L).otherwise(0L)).cast("double").as("qn"))
    def probs(nb: DataFrame): DataFrame = {
      // windows over the AGGREGATED frame (≤ bins + categories rows): the
      // empty partitionBy is deliberate and O(bins), not a data-size window
      val cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy()
      nb.withColumn("tp", sum("pn").over(tot)).withColumn("tq", sum("qn").over(tot))
        .withColumn("p", greatest(col("pn") / col("tp"), lit(eps)))
        .withColumn("q", greatest(col("qn") / col("tq"), lit(eps)))
        .withColumn("cp", sum("pn").over(cum) / col("tp"))
        .withColumn("cq", sum("qn").over(cum) / col("tq"))
    }
    val numBin = least(greatest(floor((col("v") - lit(lo)) / lit(binWidth)), lit(0L)), lit(bins - 1L))
    val num = probs(binCounts(numBin, col("v").isNotNull))
      .agg(round(sum((col("q") - col("p")) * log(col("q") / col("p"))), dp).as("psi"),
        round(max(abs(col("cp") - col("cq"))), dp).as("ks"))
      .select(expr(s"stack(2, 'ks', '$valueCol', ks, 'psi', '$valueCol', psi) AS (metric, col_name, score)"))
    val cat = probs(binCounts(col("c"), col("c").isNotNull))
      .agg(round(sum((col("q") - col("p")) * log(col("q") / col("p"))), dp).as("psi"))
      .select(lit("psi").as("metric"), lit(catCol).as("col_name"), col("psi").as("score"))
    num.unionByName(cat).orderBy("metric", "col_name")
  }

  final case class DriftScore(metric: String, column: String, value: Double, threshold: Double, pass: Boolean)

  final case class DriftReport(scores: Seq[DriftScore]) {
    def pass: Boolean = scores.forall(_.pass)
  }

  /** Drift between two COMMITTED SNAPSHOTS, scored straight off the
    * manifests' merged sketch state — the north_rule's "drift against a
    * baseline snapshot" with zero data reads: both sides are the
    * O(KB) sketch blobs the jobs committed atomically with their outputs.
    */
  def reportFromManifests(
      baseline: graft.table.Manifest,
      current: graft.table.Manifest,
      ksMax: Double = 0.1,
      psiMax: Double = 0.1
  ): DriftReport = report(profileOf(baseline), profileOf(current), ksMax, psiMax)

  private def profileOf(m: graft.table.Manifest): SketchProfile =
    SketchProfile(m.metrics.getOrElse("n_success", 0L), m.sketches.map { case (k, v) => k -> Base64.getDecoder.decode(v) })

  /** Full drift check of a snapshot profile vs a baseline profile
    * (north_rule `drift(w,h,bytes,fmt)`): KS + PSI on `td_w`/`td_h` (+
    * `td_byte_size` when both sides profiled it), PSI on the `freq_fmt`
    * mix. Throws when either side lacks `td_w`, `td_h` or `freq_fmt`.
    */
  def report(baseline: SketchProfile, current: SketchProfile, ksMax: Double = 0.1, psiMax: Double = 0.1): DriftReport = {
    val byteSize = Seq("byte_size").filter(c => Seq(baseline, current).forall(_.sketches.contains(s"td_$c")))
    val scores = (Seq("w", "h") ++ byteSize).flatMap { col =>
      val (b, c) = (baseline.sketch(s"td_$col"), current.sketch(s"td_$col"))
      val k = ks(b, c); val p = psiNumeric(b, c)
      Seq(
        DriftScore("ks", col, k, ksMax, k <= ksMax),
        DriftScore("psi", col, p, psiMax, p <= psiMax)
      )
    } :+ {
      val v = psiCategorical(baseline.sketch("freq_fmt"), current.sketch("freq_fmt"))
      DriftScore("psi", "fmt", v, psiMax, v <= psiMax)
    }
    DriftReport(scores)
  }
}
