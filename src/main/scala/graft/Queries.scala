package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.constraint.{ConstraintSet, Maximum, MinLength, NonNull}
import graft.engine.{ConstraintRegistry, EngineOptions, ImageConstraints, PixelChecks, ValidationEngine}
import graft.gen.SyntheticImages
import graft.integrity.{Referential, SkewJoin}
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import graft.sketch.{ColumnProfiler, Sketches}

/** The operator inventory as runnable queries (SURVEY.md §2), each paired —
  * where ANSI-SQL-expressible — with a DuckDB oracle in [[SparkEntry.oracleSql]].
  *
  * Oracle-parity rules used throughout (the driver hash-compares values):
  *  - every computed column aliased identically on both sides;
  *  - no raw floating-point aggregates: money goes through exact integer
  *    cents (`round(x*100)::bigint`), ratios are rounded after exact
  *    integer numerators/denominators;
  *  - deterministic ORDER BY with full tiebreaks on both sides;
  *  - DuckDB regexp_replace gets the 'g' flag (Spark replaces globally).
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private def cents(c: Column): Column = round(c * 100).cast("long")

  // ============================ oracle-backed =============================

  /** TPC-H Q1 shape: scan-heavy agg with predicate pushdown. */
  def q01PricingRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1995-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000).cast("long")).as("sum_disc_tm"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")

  def q02FilterProjection(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("event_type").isin("click", "view", "purchase") && col("value") > 50)
      .select(col("event_id"), col("event_type"), cents(col("value")).as("value_cents"))
      .orderBy("event_id")
      .limit(500)

  def q03DefaultFill(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        coalesce(nullif(col("source"), lit("src0")), lit("filled_default")).as("src_filled")
      )
      .orderBy("doc_id")

  def q04RefOrphans(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cust = t(s, dir, "customer")
    val li = t(s, dir, "lineitem")
    val part = t(s, dir, "part")
    val a = orders.join(cust, orders("o_custkey") === cust("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("orders_without_customer").as("check"), col("n"))
    val b = li.join(part, li("l_partkey") === part("p_partkey"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("lineitem_without_part").as("check"), col("n"))
    a.unionByName(b).orderBy("check")
  }

  def q05RefCoverage(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val orders = t(s, dir, "orders")
    cust
      .join(orders, cust("c_custkey") === orders("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("customers_with_orders"))
  }

  def q06Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("total_cents"))
      .select(
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        col("n"),
        col("total_cents")
      )
      .orderBy("priority", "status")

  /** Top-3 orders per priority — routed through [[ops.TopK.topKPerGroup]]
    * (two-phase salted tournament): priorities are a 5-value domain, so a
    * bare partitioned window would sort each whole priority on one task.
    */
  def q07WindowTopK(s: SparkSession, dir: String): DataFrame =
    ops.TopK.topKPerGroup(t(s, dir, "orders"), Seq("o_orderpriority"),
      Seq(cents(col("o_totalprice")) -> false, col("o_orderkey") -> true), k = 3)
      .select(col("o_orderpriority"), col("rank"), col("o_orderkey"), cents(col("o_totalprice")).as("total_cents"))
      .orderBy("o_orderpriority", "rank")

  def q08DistinctExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      countDistinct(col("l_partkey")).as("d_part"),
      countDistinct(col("l_suppkey")).as("d_supp"),
      countDistinct(col("l_partkey"), col("l_suppkey")).as("d_pair")
    )

  def q09QuantilesExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .agg(
        round(expr("percentile(p_retailprice, 0.25)"), 2).as("p25"),
        round(expr("percentile(p_retailprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(p_retailprice, 0.9)"), 2).as("p90")
      )

  /** Salted-join correctness through the oracle: result must equal the plain
    * SQL join. Hot keys passed explicitly so the salted path executes.
    */
  def q10SaltedJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_partkey").as("p_partkey"), col("l_extendedprice"))
    val part = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    SkewJoin
      .saltedJoin(li, part, "p_partkey", "inner", saltFactor = 4, hotKeys = Seq(1L, 2L, 3L, 4L, 5L))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), sum(cents(col("l_extendedprice"))).as("rev_cents"))
      .orderBy("p_brand")
  }

  def q11SetOps(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_nationkey").as("nk")).distinct()
    val su = t(s, dir, "supplier").select(col("s_nationkey").as("nk")).distinct()
    c.intersect(su).withColumn("op", lit("both"))
      .unionByName(c.except(su).withColumn("op", lit("customer_only")))
      .select("op", "nk")
      .orderBy("op", "nk")
  }

  /** Stream-name sanitization parity (O8, default-eventgate.js:132-152). */
  def q12StringSanitize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(
        col("event_id"),
        regexp_replace(
          regexp_replace(concat(col("event_type"), lit("/v1 beta!")), "[^A-Za-z0-9_.-]", "_"),
          "^_+",
          ""
        ).as("stream")
      )
      .orderBy("event_id")
      .limit(300)

  def q13DateAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("total_cents"))
      .orderBy("month")

  def q14JsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
        count(lit(1)).as("n")
      )
      .orderBy("event_type")

  def q15DedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))
      .orderBy("keeper")

  def q16TokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      .orderBy("doc_id")

  def q17TextStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("n_chars"), TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(
        sum(col("n_chars")).as("chars"),
        sum(col("n_tokens")).as("toks"),
        round(sum(col("n_chars")).cast("double") / sum(col("n_tokens")), 4).as("mean_word_len")
      )
      .orderBy("source")

  def q18Sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("_us", unix_micros(col("ts").cast("timestamp"))) // ts is NTZ; session TZ is UTC
      .withColumn("prev_us", lag(col("_us"), 1).over(w))
      .withColumn("new_session", when(col("prev_us").isNull || col("_us") - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
      .filter(col("user_id") < 200)
      .orderBy("user_id")
  }

  /** Array fns + generator: split → explode → re-agg (SURVEY §2.2 array/map). */
  def q19ExplodeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy("token")

  /** errorsText fold parity (O22, lib/error.js:42-47): per-group sorted
    * distinct values rendered `'<x>' seen` and joined with ", " — the exact
    * transform+concat_ws shape the violation reporter uses.
    */
  def q29ErrorsText(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("source"))
      .agg(
        concat_ws(
          ", ",
          transform(array_sort(collect_set(col("lang"))), l => concat(lit("'"), l, lit("' seen")))
        ).as("errors_text")
      )
      .orderBy("source")

  /** CUBE grouping sets over events (SURVEY §2.2 distinct/cube/rollup). */
  def q30Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .cube(col("event_type"), (col("user_id") % 4).as("user_bucket"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
      .select(
        coalesce(col("event_type"), lit("(all)")).as("event_type"),
        coalesce(col("user_bucket").cast("string"), lit("(all)")).as("user_bucket"),
        col("n"),
        col("value_cents")
      )
      .orderBy("event_type", "user_bucket")

  /** Per-stream / per-schema dispatch (O9, the reference's core semantics:
    * each event declares its schema, validators resolve per event,
    * /root/reference/lib/EventValidator.js:221-258). Heterogeneous batch:
    * click+purchase route to one compiled set (dual-key cache analog),
    * view to another version, signup/error to no set ⇒ schema-load error
    * status (/root/reference/test/spec.test.yaml:159-174). One codegen'd
    * pass; output = per-stream triage rollup.
    */
  def q31MultiStream(s: SparkSession, dir: String): DataFrame = {
    val clickSet = ConstraintSet("click.v1", Seq.empty, Seq(NonNull("user_id"), Maximum("value", 250)))
    val viewSet = ConstraintSet("view.v1", Seq.empty, Seq(NonNull("user_id"), MinLength("props", 9)))
    val reg = ConstraintRegistry(
      Seq(clickSet, viewSet),
      routes = Map("click" -> "click.v1", "purchase" -> "click.v1", "view" -> "view.v1")
    )
    val ev = t(s, dir, "events").withColumn("stream", col("event_type"))
    new ValidationEngine(reg, EngineOptions(snapshotId = "q31", idField = "event_id"), Some("stream"), Nil)
      .process(ev)
      .rollups
      .groupBy("stream")
      .agg(sum("n_success").as("n_success"), sum("n_invalid").as("n_invalid"), sum("n_error").as("n_error"))
      .orderBy("stream")
  }

  /** BPE-ish regex token counting (training-pipeline spec: "whitespace + a
    * BPE-ish regex") — same RE2-safe pattern on both engines.
    */
  def q32BpeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("source"))
      .agg(
        sum(TextOps.bpeTokenCount(col("text")).cast("long")).as("bpe_tokens"),
        count(lit(1)).as("n_docs")
      )
      .orderBy("source")

  /** Quality-metric components as exact integer sums (ratios are derived
    * downstream; integers keep the DuckDB hash-compare FP-free).
    */
  def q33Quality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("source"),
        length(col("text")).cast("long").as("n_chars"),
        regexp_count(col("text"), lit(TextOps.AsciiPunctRe)).cast("long").as("n_punct"),
        regexp_count(col("text"), lit("[A-Za-z]")).cast("long").as("n_alpha"),
        size(filter(TextOps.tokens(lower(col("text"))), tk => tk.isin(TextOps.EnglishStopwords: _*)))
          .cast("long").as("n_stop")
      )
      .groupBy(col("source"))
      .agg(
        sum("n_chars").as("chars"),
        sum("n_punct").as("punct"),
        sum("n_alpha").as("alpha"),
        sum("n_stop").as("stop_hits")
      )
      .orderBy("source")

  /** Heavy hitters from the frequent-items sketch (the north-star's fmt
    * frequencies / hot-key detection): one narrow map-combined aggregation,
    * top keys decoded driver-side. With distinct keys ≪ maxMapSize the
    * sketch never purges, so estimates are EXACT and DuckDB's GROUP BY is a
    * value-level oracle — the same property SkewJoin.detectHotLongKeys
    * relies on for planted-key tests.
    */
  def q34HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fq = t(s, dir, "events")
      .agg(Sketches.freqString(col("event_type"), 64).as("fq"))
      .collect()(0).getAs[Array[Byte]]("fq")
    Sketches.freqStringItems(fq).toDF("event_type", "est_count")
      .orderBy(desc("est_count"), col("event_type"))
  }

  // ======================= rows-only (no SQL oracle) ======================

  def imgRollup(s: SparkSession): DataFrame = {
    val imgs = SyntheticImages.images(s, 3000, 4).toDF()
    new ValidationEngine(ImageConstraints.v1, EngineOptions(snapshotId = "entry", pixelChecks = Some(PixelChecks())))
      .process(imgs)
      .rollups
      .orderBy("partition_id")
  }

  def imgViolations(s: SparkSession): DataFrame = {
    // 32 generator partitions: this query's output groups by constraint
    // only (no partition_id), so the result is partitioning-independent —
    // unlike imgRollup, whose per-partition rows pin numPartitions = 4.
    // The encode+decode pass is the whole cost and was 4-way-parallel.
    val imgs = SyntheticImages.images(s, 3000, 32).toDF()
    new ValidationEngine(ImageConstraints.v1, EngineOptions(snapshotId = "entry", pixelChecks = Some(PixelChecks())))
      .process(imgs)
      .violations
      .groupBy("constraint_id", "field", "detail", "status")
      .count()
      .orderBy("constraint_id")
  }

  def imgUniqueness(s: SparkSession): DataFrame = {
    import s.implicits._
    // meta-only generation: profile touches only (image_id, phash, w, h,
    // fmt) and pruning can't reach inside the generator — skip the encode
    val p = ColumnProfiler.profile(SyntheticImages.imagesMeta(s, 3000, 4).toDF())
    Seq(
      ("image_id", ColumnProfiler.uniqueness(p, "image_id", 0.97)),
      ("phash", ColumnProfiler.uniqueness(p, "phash", 0.9))
    ).map { case (c, r) => (c, math.round(r.ratio * 1000) / 1000.0, r.pass) }
      .toDF("column", "ratio_3dp", "pass")
      .orderBy("column")
  }

  def imgDrift(s: SparkSession): DataFrame = {
    import s.implicits._
    // meta-only generation on both sides (same rationale as imgUniqueness)
    val base = ColumnProfiler.profile(SyntheticImages.imagesMeta(s, 3000, 4).toDF())
    val cur = ColumnProfiler.profile(SyntheticImages.imagesMeta(s, 3000, 4, drift = true).toDF())
    graft.drift.Drift.report(base, cur).scores
      .map(d => (d.metric, d.column, math.round(d.value * 100) / 100.0, d.pass))
      .toDF("metric", "column", "value_2dp", "pass")
      .orderBy("metric", "column")
  }

  def imgReferential(s: SparkSession): DataFrame = {
    import s.implicits._
    // only image_id is consumed: no render, no encode (withPhash = false)
    val imgs = SyntheticImages.imagesMeta(s, 3000, 4, withPhash = false).toDF()
    val caps = SyntheticImages.captions(s, 3000, 4)
    val r = Referential.check(imgs, caps)
    Seq((r.orphanImages, r.danglingCaptions, r.pass)).toDF("orphan_images", "dangling_captions", "pass")
  }

  /** Image near-dup via perceptual-hash banding (the generator plants
    * duplicate/hot phashes): pair counts per Hamming distance.
    */
  def imgNearDup(s: SparkSession): DataFrame =
    Dedup
      .phashPairs(
        // meta-only: phash comes from the same render, the encode is
        // skipped; 32 generator partitions — the pair set is a pure
        // function of (id, phash) values, so partitioning can't move it
        SyntheticImages.imagesMeta(s, 3000, 32).toDF().select(col("image_id"), col("phash")),
        "image_id", "phash", maxHamming = 3, maxBucket = 200)
      .groupBy("hamming")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("hamming")

  /** The phash-banding kernel with a DuckDB twin: a 64-bit signature derived
    * from doc_id by arithmetic both engines compute identically (wrap-free
    * multiply — groups of 4 ids share a base, members flip ≤1 bit), paired
    * by the SAME Dedup.phashPairs banding as img_near_dup, verified against
    * an exhaustive bit_count(xor()) self-join. Banding at hamming ≤ 3 has
    * guaranteed recall (4×16-bit pigeonhole) and the cap is set above any
    * bucket size here, so the pair set is exactly the exhaustive one.
    */
  def qPhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // Full-entropy 64-bit signature from two independent 32-bit halves,
    // each a bounded multiply (product < 2^63: overflow-free under ANSI;
    // DuckDB recomputes the same value with HUGEINT modular math). All four
    // 16-bit LSH bands get high entropy, so band buckets stay O(1)-sized as
    // the table scales — a low-entropy high half made one band's buckets
    // grow linearly and the candidate self-join quadratic (measured 23× at
    // 10× rows before this fix).
    val grp = expr("doc_id div 4") + lit(1)
    val h1 = pmod(grp * lit(2654435761L), lit(4294967296L)) // Knuth 32-bit odd
    val h2 = pmod(grp * lit(2246822519L), lit(4294967296L))
    val base = shiftleft(h1, 32).bitwiseOR(h2) // no carry: low 32 bits of the shift are zero
    val flip = expr("CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 8 END").cast("long")
    val sigs = docs.select(col("doc_id").as("image_id"), base.bitwiseXOR(flip).as("phash"))
    Dedup
      .phashPairs(sigs, "image_id", "phash", maxHamming = 3, maxBucket = 1000000)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
  }

  /** Near-dup pairs → duplicate GROUPS via distributed connected components
    * (min-label propagation). Over the q35 pair graph every group of 4 ids
    * is a clique, so the fixpoint has the closed form (doc_id div 4)*4 —
    * an exact oracle for a genuinely iterative distributed algorithm.
    */
  def q36DedupComponents(s: SparkSession, dir: String): DataFrame =
    Dedup.components(qPhashNearDup(s, dir))
      .select(col("id"), col("component"))

  /** Pairs → groups → the DROP list (keep min id per group) — the decision
    * a curation pipeline executes. Same closed-form oracle family as q36:
    * over the q35 clique graph, drop = every present member above its
    * group's min.
    */
  def q46PruneList(s: SparkSession, dir: String): DataFrame =
    Dedup.pruneList(qPhashNearDup(s, dir))
      .orderBy("drop_id")

  /** Quality-policy keeper selection: keep the highest-scored member per
    * duplicate group (score = a deterministic spread of doc_id here; in a
    * real pipeline, centroid distance or perplexity), ties to min id.
    * Closed-form oracle over the q35 clique graph.
    */
  def q49PruneByScore(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scores = docs.select(col("doc_id"), (col("doc_id") * 37 % 11).as("score"))
    Dedup.pruneListByScore(qPhashNearDup(s, dir), scores, "doc_id", "score")
      .orderBy("drop_id")
  }

  /** q42 routed through the SKEW-SAFE chunked-carry path: splitHotKeys on
    * with a share threshold low enough that every key the frequent-items
    * sketch can resolve (top ~maxMapSize=1024 by share) routes hot, while
    * lower-share users take the plain window — so the driver's oracle (the
    * SAME DuckDB ASOF as q42) grades the quantile time-chunking +
    * boundary-carry machinery AND the hot/cold union seam end to end,
    * timestamps included; results must be bit-identical to the plain
    * single-window plan (round-5 hot-key work).
    */
  def q50AsofSkewSafe(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id").isNotNull && col("ts").isNotNull)
    val clicks = ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("pts"))
      .agg(max("event_id").as("purchase_id"))
    ops.AsofJoin.backward(clicks, purchases, Seq("user_id"), "ts", "pts",
      splitHotKeys = true, hotKeyShare = 1e-6, hotKeyChunks = 8)
      .select(col("event_id"), col("purchase_id"), col("pts").as("purchase_ts"))
      .orderBy("event_id")
  }

  /** q45's incremental probe through the STORED-KEYS + pushed-filter path:
    * corpus band keys as a row-wise frame (the dedup_keys table shape) and
    * the batch's distinct keys collected and pushed onto that scan —
    * a whole-bucket superset of the join, so the SAME exhaustive-Jaccard
    * oracle as q45 must hash-match (round-5 scan-prune work).
    */
  def q51PrunedIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "documents").filter(col("doc_id") % 10 === 0).select("doc_id", "text")
    val incoming = t(s, dir, "documents").filter(col("doc_id") < 15)
      .select((col("doc_id") + 4000000).as("doc_id"), concat(col("text"), lit(" zq")).as("text"))
    val corpusSigs = Dedup.minhashSignatures(corpus, "doc_id", "text")
    val incomingSigs = Dedup.minhashSignatures(incoming, "doc_id", "text")
    Dedup.minhashPairsAgainstSignatures(corpusSigs, incomingSigs, threshold = 0.8,
        corpusKeys = Some(Dedup.explodedBandKeys(corpusSigs)), pruneBandKeysLimit = 1000000)
      .select(col("corpus_id"), col("incoming_id"), round(col("jaccard"), 3).as("jaccard_3dp"))
      .orderBy("corpus_id", "incoming_id")
  }

  /** NEAREST as-of (pandas merge_asof direction='nearest'): each click
    * joined to the purchase closest in time in EITHER direction, ties to
    * the past — one shuffle+sort (both candidate carries share the single
    * keyed window sort). Oracle: closed-form DuckDB argmin over the keyed
    * cross pairs with the identical (|Δt|, past-first) tiebreak.
    */
  def q52AsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id").isNotNull && col("ts").isNotNull)
    val clicks = ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("pts"))
      .agg(max("event_id").as("purchase_id"))
    ops.AsofJoin.nearest(clicks, purchases, Seq("user_id"), "ts", "pts")
      .select(col("event_id"), col("purchase_id"), col("pts").as("purchase_ts"))
      .orderBy("event_id")
  }

  /** Deterministic stratified sampling ([[ops.Sampling]]): event_type
    * strata at different keep rates, membership a pure function of
    * md5(event_id) — reruns, retries, and repartitioning never move a row
    * in or out. Oracle: the IDENTICAL hex-prefix predicate in DuckDB
    * (fixed-width lowercase hex compares lexicographically as numbers, so
    * no integer-conversion dialect differences exist to diverge on).
    */
  def q53StratifiedSample(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.stratifiedSample(t(s, dir, "events"), "event_id", "event_type",
        Map("click" -> 0.02, "purchase" -> 0.5), defaultRate = 0.1)
      .select("event_id", "event_type")
      .orderBy("event_id")

  /** Reproducible train/val/test split assignment by disjoint hash ranges
    * ([[ops.Sampling.splitAssign]]) — a row's split is a pure function of
    * its key; no stored split table, no row in two splits. Oracle: the
    * same CASE chain over md5 hex prefixes in DuckDB.
    */
  def q54SplitAssign(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(ops.Sampling.splitAssign(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      .groupBy("split").agg(count(lit(1)).as("n"))
      .orderBy("split")

  /** Deterministic k-per-stratum subset ([[ops.Sampling.sampleKPerStratum]]):
    * the 7 smallest-hash events of each event_type — a fixed-size balanced
    * sample stable under reruns and corpus growth. Oracle: the identical
    * row_number-over-md5-prefix selection in DuckDB.
    */
  def q55SampleKPerStratum(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.sampleKPerStratum(
        t(s, dir, "events").filter(col("event_type").isNotNull).select("event_id", "event_type"),
        "event_id", "event_type", k = 7)
      .orderBy("event_type", "event_id")

  /** q52 routed through the SKEW-SAFE dual-carry chunked path (the q50
    * pattern applied to [[ops.AsofJoin.nearest]]): splitHotKeys with a
    * share threshold low enough that every sketch-resolvable key routes
    * hot, so the SAME closed-form DuckDB argmin oracle as q52 grades the
    * dual boundary summaries (max_by + min_by per chunk), both cross-chunk
    * carries, and the hot/cold union seam — the chunked nearest plan must
    * be bit-identical to the plain single-window one.
    */
  def q56AsofNearestSkew(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id").isNotNull && col("ts").isNotNull)
    val clicks = ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("pts"))
      .agg(max("event_id").as("purchase_id"))
    ops.AsofJoin.nearest(clicks, purchases, Seq("user_id"), "ts", "pts",
      splitHotKeys = true, hotKeyShare = 1e-6, hotKeyChunks = 8)
      .select(col("event_id"), col("purchase_id"), col("pts").as("purchase_ts"))
      .orderBy("event_id")
  }

  /** Nearest as-of with a tolerance gate (pandas merge_asof
    * direction='nearest' + tolerance): the closest purchase in EITHER
    * direction counts only within 24h — a too-distant nearest match is
    * nulled, never replaced by the other direction's farther candidate.
    * Oracle: q52's closed-form argmin with a CASE |Δt| ≤ 24h wrapper.
    */
  def q57AsofNearestTolerance(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id").isNotNull && col("ts").isNotNull)
    val clicks = ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("pts"))
      .agg(max("event_id").as("purchase_id"))
    ops.AsofJoin.nearest(clicks, purchases, Seq("user_id"), "ts", "pts",
      tolerance = Some(expr("INTERVAL 24 HOURS")))
      .select(col("event_id"), col("purchase_id"), col("pts").as("purchase_ts"))
      .orderBy("event_id")
  }

  /** Exact substring-span dedup ([[ops.Dedup.substringSpanPairs]], the Lee
    * et al. 2022 repeated-span mode): planted clones (a corpus slice
    * re-appended with a 3-word tail) share every interior 5-word span with
    * their originals, while the natural corpus contributes organic k=5
    * overlaps only at the larger SF — the oracle reproduces the gram
    * explosion + self-join exactly (the Spark side carries xxhash64(span)
    * through the shuffle, pair-set-identical to the string join).
    */
  def q58SubstringSpanDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    val base = docs.filter(col("doc_id") % 5 === 0).select("doc_id", "text")
    val corpus = base.unionByName(
      docs.filter(col("doc_id") % 5 === 0 && col("doc_id") < 100)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" zz span tail")).as("text")))
    // maxBucket effectively disabled: the DuckDB twin has no cap, so a span
    // organically present in > DefaultMaxBucket docs at a larger SF would
    // diverge the graded comparison spuriously. The cap's drop semantics
    // are covered by their own OpsSpec case; the 100× stress run carries
    // the observable span_buckets metric either way.
    ops.Dedup.substringSpanPairs(corpus, "doc_id", "text", k = 5, maxBucket = Int.MaxValue)
      .orderBy("id_a", "id_b")
  }

  /** Span removal ([[ops.Dedup.removeDuplicateSpans]]) — the rewrite half
    * of Lee et al. 2022 exact-substring dedup over the same planted-clone
    * corpus as q58: every non-first occurrence of a repeated 5-word span is
    * excised and the document reconstructed from surviving words. Clones
    * keep only the words their unique 3-word tail spans still cover; the
    * originals (global keepers by min (id, pos)) survive intact. Output is
    * per-doc (word count, removed count, md5 of the cleaned text) so the
    * oracle hashes the full reconstruction without shipping megabytes.
    */
  def q60SpanRemoval(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("text").isNotNull && length(trim(col("text"))) > 0)
    val base = docs.filter(col("doc_id") % 5 === 0).select("doc_id", "text")
    val corpus = base.unionByName(
      docs.filter(col("doc_id") % 5 === 0 && col("doc_id") < 100)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" zz span tail")).as("text")))
    ops.Dedup.removeDuplicateSpans(corpus, "doc_id", "text", k = 5)
      .select(col("id"), col("n_words"), col("n_removed"), md5(col("clean_text")).as("clean_md5"))
      .orderBy("id")
  }

  /** Bigram-LM perplexity scoring ([[ops.TextOps.bigramNll]]) — the CCNet
    * quality-filter shape: even-doc_id documents are the reference corpus,
    * odd-doc_id documents are scored by mean negative log-likelihood under
    * the add-1 bigram model (unseen contexts fall back to uniform 1/V).
    * Integer counts feed IEEE double math identically in both engines;
    * the 6-dp rounding absorbs libm/sum-order slack.
    */
  def q61LmPerplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("text").isNotNull && length(trim(col("text"))) > 0)
    ops.TextOps.bigramNll(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text")
      .orderBy("id")
  }

  /** Corpus-IDF rarity scoring ([[ops.TextOps.idfScores]]): smoothed
    * ln((N+1)/(df+1)) document frequency over the whole documents table,
    * mean over each doc's distinct words — the bag-of-words importance
    * feature of data-selection pipelines.
    */
  def q62IdfRarity(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("text").isNotNull && length(trim(col("text"))) > 0)
    ops.TextOps.idfScores(docs, "doc_id", "text").orderBy("id")
  }

  /** Sliding-window document chunking ([[ops.TextOps.docChunks]]): 12-token
    * windows advancing by 6 (50% overlap) — the long-document → context-
    * pieces step of retrieval/pretraining pipelines. One generator per row,
    * shuffle-free; chunk text verified verbatim against DuckDB list
    * slicing.
    */
  def q63DocChunking(s: SparkSession, dir: String): DataFrame =
    ops.TextOps.docChunks(t(s, dir, "documents"), "doc_id", "text", window = 12, stride = 6)
      .orderBy("id", "chunk_idx")

  /** Sequence-packing offsets ([[ops.Packing.packOffsets]]): every
    * document's exclusive global token offset in doc_id order plus the
    * 512-token context bins it overlaps — the concat-and-chop training
    * layout, computed with the bucketed two-level [[ops.PrefixScan]]
    * instead of a single-partition window (buckets = 8 so the bucketing
    * path itself is exercised at oracle scale). Offsets are exact
    * integers: bit-for-bit against DuckDB's global window.
    */
  def q64TokenPacking(s: SparkSession, dir: String): DataFrame =
    ops.Packing.packOffsets(t(s, dir, "documents"), "doc_id", "text", contextLen = 512, buckets = 8)
      .orderBy("doc_id")

  /** Vocabulary-coverage accounting ([[ops.TextOps.vocabCoverage]]):
    * corpus word counts (min frequency 2) with the inclusive running total
    * in (count desc, word asc) order — the cumulative-mass column a vocab
    * cutoff thresholds on. Runs through [[ops.PrefixScan]] (buckets = 8).
    */
  def q65VocabCoverage(s: SparkSession, dir: String): DataFrame =
    ops.TextOps.vocabCoverage(t(s, dir, "documents"), "text", minCount = 2L, buckets = 8)
      .orderBy(col("cnt").desc, col("word"))

  /** Sqrt-temperature source mixing ([[ops.Sampling.mixtureSqrtSample]]):
    * deterministic hash sample targeting 1000 rows with per-source rates
    * ∝ ⌊√n_s⌋/n_s — small sources upweighted, dominant ones downsampled.
    * Rates are two float ops over exact integers, so the DuckDB oracle
    * reproduces membership bit-for-bit from the same table.
    */
  def q66MixtureSample(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.mixtureSqrtSample(
      t(s, dir, "documents").select("doc_id", "source"),
      "doc_id", "source", targetRows = 1000L, salt = "mix")
      .orderBy("doc_id")

  /** Per-source token-budget curation ([[ops.Packing.tokenBudgetKeep]]):
    * cap every source at 800 tokens, preferring long documents (ties to
    * min doc_id) — greedy fill, so the straddling document is kept. The
    * in-group running total runs through
    * [[ops.PrefixScan.groupedRunningTotal]] (one GLOBAL bucketed scan +
    * per-group literal offsets), never `Window.partitionBy(source)` —
    * a handful of huge sources would serialize onto one task each.
    */
  def q68TokenBudget(s: SparkSession, dir: String): DataFrame =
    ops.Packing.tokenBudgetKeep(t(s, dir, "documents"), "doc_id", "text", "source",
      budgetTokens = 800L, orderCols = Seq("n_tokens" -> false, "doc_id" -> true), buckets = 8)
      .orderBy("doc_id")

  /** Per-row weighted sampling ([[ops.Sampling.weightedSample]]): keep
    * probability ∝ document length (rate = min(1, n_tokens/50)) — the
    * quality/importance-weighted Bernoulli of data-selection pipelines, as
    * a deterministic hash predicate. The rate is one IEEE divide over an
    * exact integer, so DuckDB reproduces membership bit-for-bit.
    */
  def q70WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .filter(col("text").isNotNull && trim(col("text")) =!= "")
      .select(col("doc_id"), ops.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    ops.Sampling.weightedSample(docs, "doc_id",
      least(lit(1.0), col("n_tokens").cast("double") / lit(50.0)), salt = "wt")
      .orderBy("doc_id")
  }

  /** End-to-end curation pipeline — the composition the individual
    * operators exist for, as ONE lazy plan: exact dedup (keep min doc_id
    * per text, [[ops.Dedup.exact]]) → quality gate (≥ 5 tokens) →
    * per-source 400-token budget ([[ops.Packing.tokenBudgetKeep]], grouped
    * prefix scan) → global sequence-packing offsets + 256-token bins over
    * the kept set ([[ops.Packing.packOffsets]], global prefix scan). Both
    * prefix scans surface in the output (tok_before in-source, tok_offset
    * global); every stage is integer-exact, so the whole chain hash-matches
    * the equivalent DuckDB CTE chain.
    */
  def q69CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text", "source")
      .filter(col("text").isNotNull && trim(col("text")) =!= "")
    val unique = ops.Dedup.exact(docs, "doc_id", "text")
    val quality = unique.filter(ops.TextOps.tokenCount(col("text")) >= 5)
    val kept = ops.Packing.tokenBudgetKeep(quality, "doc_id", "text", "source",
      budgetTokens = 400L, orderCols = Seq("n_tokens" -> false, "doc_id" -> true), buckets = 8)
    val packed = ops.Packing.packOffsets(
      quality.join(kept.select("doc_id"), Seq("doc_id")), "doc_id", "text",
      contextLen = 256, buckets = 8)
    packed.join(kept.select("doc_id", "source", "tok_before"), Seq("doc_id"))
      .select("doc_id", "source", "n_tokens", "tok_before", "tok_offset", "bin_first", "bin_last")
      .orderBy("doc_id")
  }

  /** BPE merge-candidate scoring ([[ops.TextOps.bpeMergePairs]]): adjacent
    * character-pair counts weighted by word frequency — one tokenizer-
    * training merge round. Pair extraction runs over the vocabulary, not
    * the corpus; integer-exact, so DuckDB reproduces it bit-for-bit.
    */
  def q67BpeMergePairs(s: SparkSession, dir: String): DataFrame =
    ops.TextOps.bpeMergePairs(t(s, dir, "documents"), "text")
      .orderBy(col("pair_count").desc, col("pair"))

  /** Exact histogram drift ([[graft.drift.Drift.exactDrift]]): KS + PSI on
    * `value` over 12 fixed-width bins and PSI on the `event_type` mix,
    * between two deterministic snapshot halves of `events` (even vs odd
    * event_id — the "baseline snapshot vs current snapshot" shape of the
    * north rule with an exactly reproducible split). This is the auditable
    * exact twin of the sketch-based drift path (img_drift, which is
    * rows-only by nature): one bin-count aggregation per side, identical
    * arithmetic in DuckDB, every digit driver-graded.
    */
  def q59DriftExact(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val base = ev.filter(col("event_id") % 2 === 0)
    val curr = ev.filter(col("event_id") % 2 === 1)
    graft.drift.Drift.exactDrift(base, curr, "value",
      lo = 0.0, binWidth = 50.0, bins = 12, catCol = "event_type")
  }

  /** Lifecycle evidence for the table-maintenance layer (Iceberg-style
    * rewrite_data_files / expire_snapshots analogs): run a 2-commit
    * validation job, compact `annotated` (with its `valid` subtree view
    * re-pointed in the same atomic commit), checkpoint, expire — and prove
    * in-band that the rewrite preserved the data: order-insensitive
    * row-count + xxhash64 fingerprints before vs after, file count reduced,
    * pre-compaction directories reclaimed. Rows-only by nature (a storage
    * lifecycle has no single-SQL DuckDB twin); correctness is the `pass`
    * column plus MaintenanceSpec's five invariants.
    */
  def imgMaintenance(s: SparkSession): DataFrame = {
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_maint_q").toString
    try imgMaintenanceBody(s, dir)
    finally new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  private def imgMaintenanceBody(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val log = new graft.table.SnapshotLog(dir, s.sparkContext.hadoopConfiguration)
    def inputFor(p: Int): DataFrame = {
      val pLocal = p.toLong
      s.range(0, 1000, 1, 2).as[Long]
        .filter(i => (i % 2L) == pLocal)
        .map(i => SyntheticImages.rowOf(i, drift = false, contentPool = 0))
        .toDF()
    }
    val job = new graft.table.ValidationJob(s, log, ImageConstraints.v1, commitBatch = 1)
    val m = job.run(inputFor, Seq(0, 1))
    def fingerprint(df: DataFrame): (Long, Long) = {
      // bit_xor fold: order-insensitive and overflow-free (a SUM of 64-bit
      // hashes trips ANSI long-overflow)
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(image_id, status))")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val rootsBefore = log.tablePaths(m, "annotated").size.toLong
    val before = fingerprint(log.readTable(s, m, "annotated"))
    // incremental scan: (1, 2] = exactly partition 1's commit
    val delta = log.readTableChanges(s, 1, 2, "annotated").count()
    val c = graft.table.Maintenance.compact(s, log, "annotated")
    log.checkpoint(log.head.get)
    val e = graft.table.Maintenance.expire(log)
    val head = log.head.get
    val after = fingerprint(log.readTable(s, head, "annotated"))
    val validCount = log.readTable(s, head, "valid").count()
    val rootsAfter = log.tablePaths(head, "annotated").size.toLong
    Seq(
      ("01_rows", before._1, after._1, before._1 == after._1),
      ("02_fingerprint", before._2, after._2, before._2 == after._2),
      ("03_roots", rootsBefore, rootsAfter, rootsAfter == 1L),
      ("04_files", c.filesBefore, c.filesAfter, c.filesAfter < c.filesBefore),
      ("05_dirs_reclaimed", 0L, e.tableDirsDeleted, e.tableDirsDeleted > 0),
      ("06_valid_repointed", m.metrics("n_success"), validCount, validCount == m.metrics("n_success")),
      ("07_incremental_delta", 500L, delta, delta == 500L)
    ).toDF("check", "before", "after", "pass").orderBy("check")
  }

  def imgFeatures(s: SparkSession): DataFrame = {
    // 16 generator partitions: output (ok → count) is partitioning-
    // independent; the render+encode+decode per row is the whole cost
    val imgs = SyntheticImages.images(s, 500, 16).toDF()
    imgs
      .select(col("image_id"), Multimodal.imageFeatures(col("bytes")).as("f"))
      .select(col("f.ok").as("ok"))
      .groupBy("ok")
      .count()
      .orderBy("ok")
  }

  /** Deterministic pair-op corpus: 20% doc sample + planted near-duplicate
    * copies (suffix edit) of the first 20 docs. Sampling bounds the
    * candidate-pair blowup of this tiny-vocab synthetic corpus (its docs
    * are mutually FAR more shingle-similar than any real corpus, so
    * all-pairs behavior is quadratic-pathological by construction); plants
    * guarantee true near-dups exist at every scale.
    */
  private def pairCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
    base.select(col("doc_id"), col("text")).unionByName(
      t(s, dir, "documents")
        .filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("doc_id"), concat(col("text"), lit(" xq")).as("text"))
    )
  }

  def qMinhashDedup(s: SparkSession, dir: String): DataFrame =
    Dedup
      .minhashPairs(pairCorpus(s, dir), "doc_id", "text", shingleK = 5, numHashes = 64, numBands = 16, threshold = 0.8)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 3).as("jaccard_3dp"))
      .orderBy("id_a", "id_b")

  def qSimhashDedup(s: SparkSession, dir: String): DataFrame =
    Dedup
      .simhashPairs(pairCorpus(s, dir), "doc_id", "text", maxHamming = 3)
      .orderBy("id_a", "id_b")

  /** Char-3-gram Jaccard pairs. Oracle-backed (round-4): DuckDB computes
    * the EXHAUSTIVE distinct-3-gram Jaccard over the same corpus — hashed
    * shingles are id-set-identical to string shingles (64-bit xxhash64,
    * no collisions at oracle scale). Deterministic LSH recall needs margin
    * over the banding curve: at 64 hashes / 32 bands (2 rows per band) the
    * miss probability per true pair is (1-j²)^32 ≤ 6.3e-7 at j ≥ 0.6,
    * while this synthetic corpus' pair mass piles up at j ≈ 0.5 exactly
    * (41k pairs in [0.5, 0.6) at sf0.1 — a 0.5 threshold WOULD miss some
    * through any realistic banding). Threshold 0.6 puts the cut where the
    * LSH-vs-exhaustive compare is deterministic at every tested scale;
    * the operator itself takes any threshold.
    */
  def qNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup
      .minhashPairs(pairCorpus(s, dir), "doc_id", "text", shingleK = 3, numHashes = 64, numBands = 32, threshold = 0.6)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 3).as("jaccard_3dp"))
      .orderBy("id_a", "id_b")

  def qLangId(s: SparkSession, dir: String): DataFrame =
    // staged langId: token array + best-language struct materialized once
    // per row instead of 8 re-tokenizations inside one grouping expression
    TextOps.langIdStaged(t(s, dir, "documents"), "text", "predicted_lang")
      .groupBy(col("predicted_lang"))
      .count()
      .orderBy("predicted_lang")

  /** Normalization fingerprint (lower + whitespace-collapse + md5) — the
    * DuckDB-expressible face of document fingerprinting; the edit-robust
    * min-shingle-hash variant ([[TextOps.fingerprint]]) is differential-
    * tested in OpsSpec (xxhash64 has no DuckDB equivalent).
    */
  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ").cast("binary")).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
      .agg(count(lit(1)).as("distinct_fps"), sum(when(col("n") > 1, 1).otherwise(0)).as("dup_groups"))

  /** Exact cosine top-k MEMBERSHIP (which ids are the 10 nearest) — rank
    * order is deliberately not compared: the 10th/11th cosine gap is ~1e-3+
    * here while cross-engine FP noise is ~1e-7, so the set is stable, but
    * adjacent ranks inside the set could differ at double precision between
    * engines. Rank semantics are covered by OpsSpec's deterministic-tie test.
    */
  def qAnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val queries = embs.filter(col("vec_id") < 5)
    Similarity
      .bruteForceTopK(embs.filter(col("vec_id") >= 5), queries, "vec_id", "vec_id", "embedding", 10)
      .select("query_id", "data_id")
      .orderBy("query_id", "data_id")
  }

  def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val queries = embs.filter(col("vec_id") < 5)
    val ivf = Similarity.IvfIndex.fit(embs.filter(col("vec_id") >= 5), "vec_id", "embedding", numCentroids = 16)
    ivf
      .topK(queries, "vec_id", "embedding", k = 10, nprobe = 4)
      .select("query_id", "rank", "data_id")
      .orderBy("query_id", "rank")
  }

  /** IVF probed at nprobe = numCentroids ≡ exact brute force (every bucket
    * is a candidate), which gives the IVF path a REAL oracle — the same
    * exhaustive top-k SQL as q25 — exercising fit + bucket assignment +
    * probe join + rank end-to-end. The recall@10 test (OpsSpec) keeps
    * covering the approximate nprobe < numCentroids regime; membership-only
    * projection for the same FP-tie reason as q25.
    */
  def qAnnIvfExact(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val queries = embs.filter(col("vec_id") < 5)
    val ivf = Similarity.IvfIndex.fit(embs.filter(col("vec_id") >= 5), "vec_id", "embedding", numCentroids = 16)
    ivf
      .topK(queries, "vec_id", "embedding", k = 10, nprobe = 16)
      .select("query_id", "data_id")
      .orderBy("query_id", "data_id")
  }

  /** Embedding near-dup via RP-LSH buckets + cosine verify. Oracle-backed:
    * DuckDB computes the exhaustive all-pairs cosine (fine at oracle scale;
    * the LSH path exists precisely so the engine never does). The corpus is
    * synthetic-random (natural max pair cosine ≈ 0.51, measured), so the
    * only pairs ≥ 0.95 are the planted exact duplicates — bucket recall on
    * them is exact (identical vectors share every bucket), making the
    * LSH-vs-exhaustive comparison deterministic.
    */
  def qEmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings")
    val embs = base.unionByName(
      base.filter(col("vec_id") < 20).select((col("vec_id") + 1000000).as("vec_id"), col("embedding"), col("label"))
    )
    Dedup
      .embeddingPairs(embs, "vec_id", "embedding", dim = 64, threshold = 0.95, nbits = 10)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 3).as("cosine_3dp"))
      .orderBy("id_a", "id_b")
  }

  /** SemDeDup-style semantic dedup over learned k-means clusters. Oracle
    * determinism mirrors [[qEmbeddingNearDup]]: the sf tables' embeddings
    * are synthetic-random (natural max pair cosine ≈ 0.51), so the only
    * pairs ≥ 0.92 are the planted exact duplicates, and an exact duplicate
    * ALWAYS shares its original's nearest centroid — cluster candidacy
    * recalls them exactly, making the clustered result match DuckDB's
    * exhaustive O(n²) scan. (Boundary-straddling near-dups — absent in
    * this data — are the technique's documented miss; OpsSpec covers the
    * perturbed-neighbor case differentially.)
    */
  def qSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings")
    val embs = base.unionByName(
      base.filter(col("vec_id") < 30).select((col("vec_id") + 2000000).as("vec_id"), col("embedding"), col("label"))
    )
    Dedup
      .semanticPairs(embs, "vec_id", "embedding", threshold = 0.92)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 3).as("cosine_3dp"))
      .orderBy("id_a", "id_b")
  }

  /** Train/eval decontamination over the documents table: a pseudo eval
    * set (doc_id ≡ 0 mod 97) against the remaining corpus, word 3-grams
    * (the synthetic corpus' word-resampled texts share 3-grams richly;
    * at 13-grams — the GPT-3 setting — only planted duplicates match).
    * Oracle: DuckDB reproduces the gram explosion + semi-join exactly; the
    * Spark side carries xxhash64(gram) through the shuffle, which is
    * id-set-identical to the string join.
    */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    TextOps
      .contaminatedDocs(
        docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text", n = 3)
      .orderBy("doc_id")
  }

  /** Gopher-style word-repetition signals (integer-exact; docs with <2
    * words have no 2-grams and are excluded, matching the SQL's join
    * semantics).
    */
  def qRepetition(s: SparkSession, dir: String): DataFrame =
    TextOps
      .repetitionSignals(t(s, dir, "documents").filter(col("text").isNotNull), "doc_id", "text")
      .orderBy("doc_id")

  /** PII scrubbing over the documents table. The synthetic corpus carries
    * no PII, so the query plants deterministic emails/IPs on every 13th doc
    * (same concat expression in the oracle SQL) — then redacts and counts.
    * Parity rests on the dialect-safe regexes of [[TextOps.EmailRe]]/
    * [[TextOps.Ipv4Re]] and md5 of the redacted text on both sides.
    */
  def qPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    val seeded = docs.withColumn(
      "text",
      when(col("doc_id") % 13 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"), lit("@example.com at 10.0."),
          (col("doc_id") % 250).cast("string"), lit(".7 now")))
        .otherwise(col("text")))
    TextOps.redactPii(seeded, "doc_id", "text")
      .select(col("doc_id"), col("n_emails"), col("n_ips"), md5(col("redacted")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Frame-sampling plumbing (one media row → N frame rows) over document
    * text as the media payload — char-addressed so DuckDB (`substring`,
    * char-based) and Spark (`substr` on string, char-based) agree; the
    * binary-payload path of [[Multimodal.sampleFrames]] is exercised in
    * MultimodalSpec (DuckDB has no BLOB substring).
    */
  def qFrameSample(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id").as("media_id"), col("text"))
    Multimodal
      .sampleFrames(media, "text", frameBytes = 64, stride = 2)
      .groupBy("media_id")
      .agg(
        count(lit(1)).as("n_frames"),
        sum(length(col("frame"))).as("frame_chars"),
        max(md5(col("frame").cast("binary"))).as("max_frame_md5")
      )
      .orderBy("media_id")
  }

  /** Incremental near-dup: an arriving batch (25 exact copies of corpus
    * rows under fresh ids) checked against the corpus — cross-side pairs
    * only, no corpus self-join. Oracle: exhaustive cross cosine in DuckDB;
    * recall determinism as q27 (exact duplicates share every RP bucket,
    * natural pair cosines top out ≈0.51 ≪ 0.95).
    */
  def q44IncrementalNearDup(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "embeddings")
    val incoming = corpus.filter(col("vec_id") < 25)
      .select((col("vec_id") + 3000000).as("vec_id"), col("embedding"))
    Dedup
      .embeddingPairsAgainst(corpus, incoming, "vec_id", "embedding", dim = 64, threshold = 0.95, nbits = 10)
      .select(col("corpus_id"), col("incoming_id"), round(col("cosine"), 3).as("cosine_3dp"))
      .orderBy("corpus_id", "incoming_id")
  }

  /** Incremental TEXT near-dup: suffix-edited copies of 15 docs arrive
    * against the sampled corpus; cross-side band buckets only. Oracle:
    * exhaustive cross 5-gram Jaccard (planted pairs sit at j ≈ 0.97 where
    * 16-band/4-row recall is deterministic; corpus docs that exactly
    * duplicate a copied doc surface in both engines identically).
    */
  def q45IncrementalTextDedup(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "documents").filter(col("doc_id") % 10 === 0).select("doc_id", "text")
    val incoming = t(s, dir, "documents").filter(col("doc_id") < 15)
      .select((col("doc_id") + 4000000).as("doc_id"), concat(col("text"), lit(" zq")).as("text"))
    Dedup
      .minhashPairsAgainst(corpus, incoming, "doc_id", "text", shingleK = 5, numHashes = 64, numBands = 16, threshold = 0.8)
      .select(col("corpus_id"), col("incoming_id"), round(col("jaccard"), 3).as("jaccard_3dp"))
      .orderBy("corpus_id", "incoming_id")
  }

  /** Backward as-of attribution: each click joined to the user's most
    * recent purchase at-or-before it ([[ops.AsofJoin.backward]] — one
    * shuffle + sort, no range explosion). Oracle: DuckDB's NATIVE
    * `ASOF LEFT JOIN` with the identical ≥ tie semantics. The purchase
    * side pre-aggregates to one row per (user, instant) — the operator's
    * documented determinism requirement.
    */
  def q42AsofAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id").isNotNull && col("ts").isNotNull)
    val clicks = ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("pts"))
      .agg(max("event_id").as("purchase_id"))
    ops.AsofJoin.backward(clicks, purchases, Seq("user_id"), "ts", "pts")
      .select(col("event_id"), col("purchase_id"), col("pts").as("purchase_ts"))
      .orderBy("event_id")
  }

  /** q42 with a freshness window: matches staler than 24h are nulled —
    * the NEAREST match is gated, never replaced by an older one
    * (merge_asof tolerance semantics). Oracle: DuckDB ASOF LEFT JOIN with
    * the gate as a post-CASE on the matched row — semantically identical
    * because both sides agree on which row is nearest.
    */
  def q47AsofTolerance(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id").isNotNull && col("ts").isNotNull)
    val clicks = ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("pts"))
      .agg(max("event_id").as("purchase_id"))
    ops.AsofJoin.backward(clicks, purchases, Seq("user_id"), "ts", "pts",
      tolerance = Some(expr("INTERVAL 24 HOURS")))
      .select(col("event_id"), col("purchase_id"), col("pts").as("purchase_ts"))
      .orderBy("event_id")
  }

  /** FORWARD as-of: each purchase joined to the user's NEXT click at or
    * after it (post-purchase engagement) — the mirror of q42, oracled by
    * DuckDB's `ASOF LEFT JOIN ... ON l.ts <= r.ts`.
    */
  def q48AsofForward(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id").isNotNull && col("ts").isNotNull)
    val purchases = ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("cts"))
      .agg(max("event_id").as("click_id"))
    ops.AsofJoin.forward(purchases, clicks, Seq("user_id"), "ts", "cts")
      .select(col("event_id"), col("click_id"), col("cts").as("next_click_ts"))
      .orderBy("event_id")
  }

  /** JSON intake with the reference's parse-before-validate triage: the
    * event body is decoded in one `from_json` projection; malformed rows
    * (every 17th, corrupted by a prepended byte) surface as `parse_error`
    * with fields null — never dropped (the HTTP-400 analog,
    * routes/events.js:44-52). Oracle: DuckDB builds its own JSON from the
    * same rows, corrupts the same rows, and parses with `json_valid` +
    * `json_extract` — round-trip values agree even though each engine's
    * JSON formatting differs.
    */
  def q43JsonIntake(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val ev = t(s, dir, "events").filter(col("event_type").isNotNull && col("value").isNotNull)
    val payload = to_json(struct(
      col("event_id"),
      col("event_type"),
      round(col("value") * 100).cast("long").as("value_cents")))
    val raw = ev.select(
      when(col("event_id") % 17 === 0, concat(lit("x"), payload)).otherwise(payload).as("body"))
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value_cents", LongType)))
    graft.sources.JsonIntake.parse(raw, "body", schema)
      .groupBy(
        when(col(graft.sources.JsonIntake.CorruptCol).isNotNull, "parse_error").otherwise("ok").as("status"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value_cents").as("sum_cents"))
      .orderBy("status", "event_type")
  }

  // ================================ registry ==============================

  val oracleBacked: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_rollup" -> (q01PricingRollup _),
    "q02_filter_projection" -> (q02FilterProjection _),
    "q03_default_fill" -> (q03DefaultFill _),
    "q04_ref_orphans" -> (q04RefOrphans _),
    "q05_ref_coverage" -> (q05RefCoverage _),
    "q06_rollup" -> (q06Rollup _),
    "q07_window_topk" -> (q07WindowTopK _),
    "q08_distinct_exact" -> (q08DistinctExact _),
    "q09_quantiles_exact" -> (q09QuantilesExact _),
    "q10_salted_join_agg" -> (q10SaltedJoinAgg _),
    "q11_set_ops" -> (q11SetOps _),
    "q12_string_sanitize" -> (q12StringSanitize _),
    "q13_date_agg" -> (q13DateAgg _),
    "q14_json_extract" -> (q14JsonExtract _),
    "q15_dedup_exact" -> (q15DedupExact _),
    "q16_token_count" -> (q16TokenCount _),
    "q17_text_stats" -> (q17TextStats _),
    "q18_sessionize" -> (q18Sessionize _),
    "q19_explode_tokens" -> (q19ExplodeTokens _),
    "q23_lang_id" -> (qLangId _),
    "q24_fingerprint" -> (qFingerprint _),
    "q25_ann_brute_force" -> (qAnnBruteForce _),
    "q27_embedding_near_dup" -> (qEmbeddingNearDup _),
    "q37_semantic_dedup" -> (qSemanticDedup _),
    "q38_decontaminate" -> (qDecontaminate _),
    "q39_repetition" -> (qRepetition _),
    "q40_pii_redact" -> (qPiiRedact _),
    "q28_frame_sample" -> (qFrameSample _),
    "q29_errors_text" -> (q29ErrorsText _),
    "q30_cube" -> (q30Cube _),
    "q31_multi_stream" -> (q31MultiStream _),
    "q32_bpe_tokens" -> (q32BpeTokens _),
    "q33_quality" -> (q33Quality _),
    "q34_heavy_hitters" -> (q34HeavyHitters _),
    "q35_phash_near_dup" -> (qPhashNearDup _),
    "q36_dedup_components" -> (q36DedupComponents _),
    "q22_ngram_jaccard" -> (qNgramJaccard _),
    "q41_ann_ivf_exact" -> (qAnnIvfExact _),
    "q42_asof_attribution" -> (q42AsofAttribution _),
    "q43_json_intake" -> (q43JsonIntake _),
    "q44_incremental_near_dup" -> (q44IncrementalNearDup _),
    "q45_incremental_text_dedup" -> (q45IncrementalTextDedup _),
    "q46_prune_list" -> (q46PruneList _),
    "q47_asof_tolerance" -> (q47AsofTolerance _),
    "q20_minhash_dedup" -> (qMinhashDedup _),
    "q48_asof_forward" -> (q48AsofForward _),
    "q49_prune_by_score" -> (q49PruneByScore _),
    "q50_asof_skew_safe" -> (q50AsofSkewSafe _),
    "q51_pruned_incremental_dedup" -> (q51PrunedIncrementalDedup _),
    "q52_asof_nearest" -> (q52AsofNearest _),
    "q53_stratified_sample" -> (q53StratifiedSample _),
    "q54_split_assign" -> (q54SplitAssign _),
    "q55_sample_k_per_stratum" -> (q55SampleKPerStratum _),
    "q56_asof_nearest_skew" -> (q56AsofNearestSkew _),
    "q57_asof_nearest_tolerance" -> (q57AsofNearestTolerance _),
    "q58_substring_span_dedup" -> (q58SubstringSpanDedup _),
    "q59_drift_exact" -> (q59DriftExact _),
    "q60_span_removal" -> (q60SpanRemoval _),
    "q61_lm_perplexity" -> (q61LmPerplexity _),
    "q62_idf_rarity" -> (q62IdfRarity _),
    "q63_doc_chunking" -> (q63DocChunking _),
    "q64_token_packing" -> (q64TokenPacking _),
    "q65_vocab_coverage" -> (q65VocabCoverage _),
    "q66_mixture_sample" -> (q66MixtureSample _),
    "q67_bpe_merge_pairs" -> (q67BpeMergePairs _),
    "q68_token_budget" -> (q68TokenBudget _),
    "q69_curation_pipeline" -> (q69CurationPipeline _),
    "q70_weighted_sample" -> (q70WeightedSample _)
  )

  val rowsOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "img_rollup" -> ((s, _) => imgRollup(s)),
    "img_violations" -> ((s, _) => imgViolations(s)),
    "img_uniqueness" -> ((s, _) => imgUniqueness(s)),
    "img_drift" -> ((s, _) => imgDrift(s)),
    "img_referential" -> ((s, _) => imgReferential(s)),
    "img_features" -> ((s, _) => imgFeatures(s)),
    "img_near_dup" -> ((s, _) => imgNearDup(s)),
    "img_maintenance" -> ((s, _) => imgMaintenance(s)),
    "q21_simhash_dedup" -> (qSimhashDedup _),
    "q26_ann_ivf" -> (qAnnIvf _)
  )

  val all: Map[String, (SparkSession, String) => DataFrame] = oracleBacked ++ rowsOnly

  // =============================== oracles ================================

  val oracleSql: Map[String, String] = Map(
    "q01_pricing_rollup" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
         CAST(SUM(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS BIGINT) AS sum_disc_tm,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1995-09-02'
         GROUP BY 1,2 ORDER BY 1,2""",
    "q02_filter_projection" ->
      """SELECT event_id, event_type, CAST(round(value*100) AS BIGINT) AS value_cents
         FROM events WHERE event_type IN ('click','view','purchase') AND value > 50
         ORDER BY event_id LIMIT 500""",
    "q03_default_fill" ->
      """SELECT doc_id, COALESCE(NULLIF(source,'src0'),'filled_default') AS src_filled
         FROM documents ORDER BY doc_id""",
    "q04_ref_orphans" ->
      """SELECT 'lineitem_without_part' AS check, COUNT(*) AS n FROM lineitem l
           WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
         UNION ALL
         SELECT 'orders_without_customer' AS check, COUNT(*) AS n FROM orders o
           WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
         ORDER BY 1""",
    "q05_ref_coverage" ->
      """SELECT COUNT(*) AS customers_with_orders FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
    "q06_rollup" ->
      """SELECT COALESCE(o_orderpriority,'(all)') AS priority,
                COALESCE(o_orderstatus,'(all)') AS status,
                COUNT(*) AS n,
                CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
         ORDER BY 1,2""",
    "q07_window_topk" ->
      """SELECT o_orderpriority, rank, o_orderkey, total_cents FROM (
           SELECT o_orderpriority, o_orderkey,
                  CAST(round(o_totalprice*100) AS BIGINT) AS total_cents,
                  ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                    ORDER BY CAST(round(o_totalprice*100) AS BIGINT) DESC, o_orderkey) AS rank
           FROM orders) WHERE rank <= 3 ORDER BY o_orderpriority, rank""",
    "q08_distinct_exact" ->
      """SELECT COUNT(DISTINCT l_partkey) AS d_part,
                COUNT(DISTINCT l_suppkey) AS d_supp,
                COUNT(DISTINCT (l_partkey, l_suppkey)) AS d_pair
         FROM lineitem""",
    "q09_quantiles_exact" ->
      """SELECT round(quantile_cont(p_retailprice, 0.25), 2) AS p25,
                round(quantile_cont(p_retailprice, 0.5), 2) AS p50,
                round(quantile_cont(p_retailprice, 0.9), 2) AS p90
         FROM part""",
    "q10_salted_join_agg" ->
      """SELECT p.p_brand, COUNT(*) AS n,
                CAST(SUM(CAST(round(l.l_extendedprice*100) AS BIGINT)) AS BIGINT) AS rev_cents
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY 1 ORDER BY 1""",
    "q11_set_ops" ->
      """SELECT 'both' AS op, nk FROM
           (SELECT DISTINCT c_nationkey AS nk FROM customer
            INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
         UNION ALL
         SELECT 'customer_only' AS op, nk FROM
           (SELECT DISTINCT c_nationkey AS nk FROM customer
            EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
         ORDER BY 1,2""",
    "q12_string_sanitize" ->
      """SELECT event_id,
                regexp_replace(regexp_replace(event_type || '/v1 beta!', '[^A-Za-z0-9_.-]', '_', 'g'), '^_+', '', 'g') AS stream
         FROM events ORDER BY event_id LIMIT 300""",
    "q13_date_agg" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                COUNT(*) AS n,
                CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q14_json_extract" ->
      """SELECT event_type,
                CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                COUNT(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",
    "q15_dedup_exact" ->
      """SELECT md5(text) AS fp, MIN(doc_id) AS keeper, COUNT(*) AS n
         FROM documents GROUP BY 1 ORDER BY 2""",
    "q16_token_count" ->
      """SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
         FROM documents ORDER BY doc_id""",
    "q17_text_stats" ->
      """WITH d AS (
           SELECT source, length(text) AS n_chars,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
           FROM documents)
         SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars, CAST(SUM(n_tokens) AS BIGINT) AS toks,
                round(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens), 4) AS mean_word_len
         FROM d GROUP BY 1 ORDER BY 1""",
    "q18_sessionize" ->
      """WITH g AS (
           SELECT user_id, ts, event_id,
                  LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           FROM events)
         SELECT user_id,
                CAST(SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                COUNT(*) AS n_events
         FROM g WHERE user_id < 200 GROUP BY 1 ORDER BY 1""",
    "q19_explode_tokens" ->
      """SELECT token, COUNT(*) AS n FROM (
           SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents)
         WHERE token <> '' GROUP BY 1 ORDER BY 1""",
    "q23_lang_id" ->
      """WITH d AS (
           SELECT text,
             len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk,
             regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM documents),
         s AS (
           SELECT text, cjk,
             len(list_filter(toks, t -> t IN ('the','and','of','to','is','in','that','it','was','for'))) AS s_en,
             len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','eine','mit','sich'))) AS s_de,
             len(list_filter(toks, t -> t IN ('le','la','les','et','est','une','que','dans','pour','pas'))) AS s_fr,
             len(list_filter(toks, t -> t IN ('el','la','los','que','es','una','por','para','como','más'))) AS s_es
           FROM d)
         SELECT CASE WHEN length(text) > 0 AND CAST(cjk AS DOUBLE)/length(text) > 0.2 THEN 'zh'
                     WHEN greatest(s_en,s_de,s_fr,s_es) > 0 THEN
                       CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
                            WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
                            WHEN s_en >= s_de THEN 'en'
                            ELSE 'de' END
                     ELSE 'und' END AS predicted_lang,
                COUNT(*) AS count
         FROM s GROUP BY 1 ORDER BY 1""",
    "q25_ann_brute_force" ->
      """WITH d AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
         q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         s AS (SELECT q.query_id, d.vec_id AS data_id,
                      list_cosine_similarity(d.embedding, q.qv) AS cos
               FROM d, q),
         r AS (SELECT query_id, data_id,
                      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, data_id) AS rk
               FROM s)
         SELECT query_id, data_id FROM r WHERE rk <= 10 ORDER BY 1, 2""",
    "q27_embedding_near_dup" ->
      """WITH u AS (SELECT vec_id, embedding FROM embeddings
                    UNION ALL
                    SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 20)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_cosine_similarity(a.embedding, b.embedding), 3) AS cosine_3dp
         FROM u a, u b
         WHERE a.vec_id < b.vec_id AND list_cosine_similarity(a.embedding, b.embedding) >= 0.95
         ORDER BY 1, 2""",
    "q37_semantic_dedup" ->
      """WITH u AS (SELECT vec_id, embedding FROM embeddings
                    UNION ALL
                    SELECT vec_id + 2000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 30)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_cosine_similarity(a.embedding, b.embedding), 3) AS cosine_3dp
         FROM u a, u b
         WHERE a.vec_id < b.vec_id AND list_cosine_similarity(a.embedding, b.embedding) >= 0.92
         ORDER BY 1, 2""",
    "q38_decontaminate" ->
      """WITH docs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
                       FROM documents WHERE text IS NOT NULL),
         grams AS (SELECT DISTINCT doc_id, array_to_string(w[gs:gs+2], ' ') AS g
                   FROM docs, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS gs) s),
         bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
         corpus AS (SELECT doc_id, g FROM grams WHERE doc_id % 97 != 0)
         SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
         FROM corpus c JOIN bench b USING (g) GROUP BY 1 ORDER BY 1""",
    "q39_repetition" ->
      """WITH docs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
                       FROM documents WHERE text IS NOT NULL),
         g AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
                      CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_words,
                      array_to_string(w[gs:gs+1], ' ') AS g
               FROM docs, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS gs) s),
         c AS (SELECT doc_id, g, count(*) AS c, first(n_words) AS n_words,
                      first(n_distinct_words) AS n_distinct_words
               FROM g GROUP BY 1, 2)
         SELECT doc_id, first(n_words) AS n_words, first(n_distinct_words) AS n_distinct_words,
                CAST(sum(c) AS BIGINT) AS n_2grams, CAST(max(c) AS BIGINT) AS max_2gram_count,
                CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_2gram_occurrences
         FROM c GROUP BY 1 ORDER BY 1""",
    "q40_pii_redact" ->
      """WITH s AS (SELECT doc_id,
                CASE WHEN doc_id % 13 = 0
                     THEN text || ' contact user' || doc_id || '@example.com at 10.0.' ||
                          CAST(doc_id % 250 AS VARCHAR) || '.7 now'
                     ELSE text END AS text
              FROM documents WHERE text IS NOT NULL)
         SELECT doc_id,
                CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(
                      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
                md5(regexp_replace(
                      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g')) AS redacted_md5
         FROM s ORDER BY 1""",
    "q24_fingerprint" ->
      """WITH f AS (SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp, doc_id FROM documents),
         g AS (SELECT fp, COUNT(*) AS n, MIN(doc_id) AS keeper FROM f GROUP BY 1)
         SELECT COUNT(*) AS distinct_fps,
                CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups FROM g""",
    "q28_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id, text, CAST(floor(length(text)/64) AS INT) AS nf
                    FROM documents WHERE text IS NOT NULL),
         e AS (SELECT media_id, text, unnest(generate_series(0, greatest(nf-1, 0), 2)) AS gs FROM m),
         f AS (SELECT media_id, substring(text, CAST(gs*64+1 AS BIGINT), 64) AS frame FROM e)
         SELECT media_id, COUNT(*) AS n_frames, CAST(SUM(length(frame)) AS BIGINT) AS frame_chars,
                MAX(md5(frame)) AS max_frame_md5
         FROM f GROUP BY 1 ORDER BY 1""",
    "q31_multi_stream" ->
      """SELECT event_type AS stream,
                CAST(SUM(CASE WHEN event_type IN ('click','purchase') AND user_id IS NOT NULL AND (value IS NULL OR value <= 250) THEN 1
                              WHEN event_type = 'view' AND user_id IS NOT NULL AND (props IS NULL OR length(props) >= 9) THEN 1
                              ELSE 0 END) AS BIGINT) AS n_success,
                CAST(SUM(CASE WHEN event_type IN ('click','purchase') AND NOT (user_id IS NOT NULL AND (value IS NULL OR value <= 250)) THEN 1
                              WHEN event_type = 'view' AND NOT (user_id IS NOT NULL AND (props IS NULL OR length(props) >= 9)) THEN 1
                              ELSE 0 END) AS BIGINT) AS n_invalid,
                CAST(SUM(CASE WHEN event_type IS NULL OR event_type NOT IN ('click','purchase','view') THEN 1 ELSE 0 END) AS BIGINT) AS n_error
         FROM events GROUP BY 1 ORDER BY 1""",
    "q29_errors_text" ->
      """SELECT source,
                array_to_string(list_transform(list_sort(list(DISTINCT lang)), l -> '''' || l || ''' seen'), ', ') AS errors_text
         FROM documents GROUP BY 1 ORDER BY 1""",
    "q34_heavy_hitters" ->
      """SELECT event_type, COUNT(*) AS est_count
         FROM events GROUP BY 1 ORDER BY 2 DESC, 1""",
    "q32_bpe_tokens" ->
      """SELECT source,
                CAST(SUM(len(list_filter(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+'), t -> NOT regexp_matches(t, '^\s+$')))) AS BIGINT) AS bpe_tokens,
                COUNT(*) AS n_docs
         FROM documents GROUP BY 1 ORDER BY 1""",
    "q33_quality" ->
      """WITH d AS (
           SELECT source, length(text) AS n_chars,
                  len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS n_punct,
                  len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
                  len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                      t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by'))) AS n_stop
           FROM documents)
         SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars, CAST(SUM(n_punct) AS BIGINT) AS punct,
                CAST(SUM(n_alpha) AS BIGINT) AS alpha, CAST(SUM(n_stop) AS BIGINT) AS stop_hits
         FROM d GROUP BY 1 ORDER BY 1""",
    "q30_cube" ->
      """SELECT COALESCE(event_type, '(all)') AS event_type,
                COALESCE(CAST(user_bucket AS VARCHAR), '(all)') AS user_bucket,
                COUNT(*) AS n,
                CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM (SELECT event_type, user_id % 4 AS user_bucket, value FROM events)
         GROUP BY CUBE(event_type, user_bucket)
         ORDER BY 1, 2""",
    "q35_phash_near_dup" ->
      """WITH h AS (
           SELECT doc_id,
                  ((doc_id // 4 + 1) * 2654435761) % 4294967296 AS h1,
                  ((doc_id // 4 + 1) * 2246822519) % 4294967296 AS h2
           FROM documents),
         s AS (
           SELECT doc_id, xor(
             CAST((CAST(h1 AS HUGEINT) * 4294967296 + h2)
               - CASE WHEN CAST(h1 AS HUGEINT) * 4294967296 + h2 >= 9223372036854775808
                      THEN 18446744073709551616 ELSE 0 END AS BIGINT),
             CAST(CASE doc_id % 4 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 8 END AS BIGINT)) AS sig
           FROM h)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         FROM s a JOIN s b ON a.doc_id < b.doc_id AND bit_count(xor(a.sig, b.sig)) <= 3""",
    "q36_dedup_components" ->
      // component = min PRESENT id of the group; groups with a single
      // present member have no pair and never reach components() — robust
      // to doc_id ranges not starting at 0 or not divisible by 4.
      """SELECT doc_id AS id,
                min(doc_id) OVER (PARTITION BY doc_id // 4) AS component
         FROM documents
         QUALIFY count(*) OVER (PARTITION BY doc_id // 4) > 1""",
    "q22_ngram_jaccard" ->
      // Exhaustive distinct-char-3-gram Jaccard twin of the LSH path
      // (candidate recall is deterministic at threshold 0.6 — see
      // qNgramJaccard). substring() is char-addressed like the engine's
      // UTF-8 boundary walk; DISTINCT mirrors hashedShinglesSorted's dedup.
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
                         UNION ALL
                         SELECT doc_id + 1000000 AS doc_id, text || ' xq' AS text
                         FROM documents WHERE doc_id < 20),
         g AS (SELECT DISTINCT doc_id, substring(text, gs, 3) AS g
               FROM corpus, LATERAL (SELECT unnest(generate_series(1, length(text) - 2)) AS gs) s),
         n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
         i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
               FROM g a JOIN g b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         j AS (SELECT id_a, id_b, CAST(inter AS DOUBLE)/(na.n + nb.n - inter) AS jac
               FROM i JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b)
         SELECT id_a, id_b, round(jac, 3) AS jaccard_3dp FROM j WHERE jac >= 0.6 ORDER BY 1, 2""",
    "q41_ann_ivf_exact" ->
      // nprobe = numCentroids degenerates IVF to brute force: the oracle is
      // q25's exhaustive top-k, re-used verbatim.
      """WITH d AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
         q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         s AS (SELECT q.query_id, d.vec_id AS data_id,
                      list_cosine_similarity(d.embedding, q.qv) AS cos
               FROM d, q),
         r AS (SELECT query_id, data_id,
                      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, data_id) AS rk
               FROM s)
         SELECT query_id, data_id FROM r WHERE rk <= 10 ORDER BY 1, 2""",
    "q42_asof_attribution" ->
      """WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         c AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'),
         p AS (SELECT user_id, ts AS pts, max(event_id) AS purchase_id
               FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT c.event_id, p.purchase_id, p.pts AS purchase_ts
         FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.pts
         ORDER BY 1""",
    "q43_json_intake" ->
      """WITH ev AS (SELECT event_id, event_type, CAST(round(value*100) AS BIGINT) AS value_cents
                     FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
         raw AS (SELECT CASE WHEN event_id % 17 = 0 THEN 'x' || j ELSE j END AS body
                 FROM (SELECT event_id,
                              CAST(to_json(struct_pack(event_id := event_id, event_type := event_type,
                                                       value_cents := value_cents)) AS VARCHAR) AS j
                       FROM ev)),
         parsed AS (SELECT CASE WHEN json_valid(body) THEN 'ok' ELSE 'parse_error' END AS status,
                           CASE WHEN json_valid(body) THEN json_extract_string(body, '$.event_type') END AS event_type,
                           CASE WHEN json_valid(body) THEN CAST(json_extract(body, '$.value_cents') AS BIGINT) END AS value_cents
                    FROM raw)
         SELECT status, event_type, COUNT(*) AS n, CAST(SUM(value_cents) AS BIGINT) AS sum_cents
         FROM parsed GROUP BY 1, 2 ORDER BY 1, 2""",
    "q44_incremental_near_dup" ->
      """WITH inc AS (SELECT vec_id + 3000000 AS incoming_id, embedding FROM embeddings WHERE vec_id < 25)
         SELECT c.vec_id AS corpus_id, i.incoming_id,
                round(list_cosine_similarity(c.embedding, i.embedding), 3) AS cosine_3dp
         FROM embeddings c, inc i
         WHERE list_cosine_similarity(c.embedding, i.embedding) >= 0.95
         ORDER BY 1, 2""",
    "q45_incremental_text_dedup" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         inc AS (SELECT doc_id + 4000000 AS doc_id, text || ' zq' AS text
                 FROM documents WHERE doc_id < 15),
         gc AS (SELECT DISTINCT doc_id, substring(text, gs, 5) AS g
                FROM corpus, LATERAL (SELECT unnest(generate_series(1, length(text) - 4)) AS gs) s),
         gi AS (SELECT DISTINCT doc_id, substring(text, gs, 5) AS g
                FROM inc, LATERAL (SELECT unnest(generate_series(1, length(text) - 4)) AS gs) s),
         nc AS (SELECT doc_id, count(*) AS n FROM gc GROUP BY 1),
         ni AS (SELECT doc_id, count(*) AS n FROM gi GROUP BY 1),
         i AS (SELECT c.doc_id AS corpus_id, x.doc_id AS incoming_id, count(*) AS inter
               FROM gc c JOIN gi x USING (g) GROUP BY 1, 2),
         j AS (SELECT corpus_id, incoming_id,
                      CAST(inter AS DOUBLE)/(nc.n + ni.n - inter) AS jac
               FROM i JOIN nc ON nc.doc_id = corpus_id JOIN ni ON ni.doc_id = incoming_id)
         SELECT corpus_id, incoming_id, round(jac, 3) AS jaccard_3dp
         FROM j WHERE jac >= 0.8 ORDER BY 1, 2""",
    "q46_prune_list" ->
      // drop everything above the group's min PRESENT id; single-member
      // groups have no pairs and are never dropped (q36's robustness notes)
      """SELECT doc_id AS drop_id,
                min(doc_id) OVER (PARTITION BY doc_id // 4) AS keep_id
         FROM documents
         QUALIFY count(*) OVER (PARTITION BY doc_id // 4) > 1
            AND doc_id > min(doc_id) OVER (PARTITION BY doc_id // 4)
         ORDER BY 1""",
    "q47_asof_tolerance" ->
      """WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         c AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'),
         p AS (SELECT user_id, ts AS pts, max(event_id) AS purchase_id
               FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT c.event_id,
                CASE WHEN c.ts - p.pts <= INTERVAL 24 HOURS THEN p.purchase_id END AS purchase_id,
                CASE WHEN c.ts - p.pts <= INTERVAL 24 HOURS THEN p.pts END AS purchase_ts
         FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.pts
         ORDER BY 1""",
    "q20_minhash_dedup" ->
      // Exhaustive 5-gram Jaccard twin (round-4 follow-on to q22's move):
      // measured at both scales, every true pair ≥ 0.8 sits at j ≥ 0.93
      // (zero mass in [0.7, 0.9)), where 16-band/4-row recall is
      // deterministic (miss prob ≈ 2.6e-10 per pair).
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
                         UNION ALL
                         SELECT doc_id + 1000000 AS doc_id, text || ' xq' AS text
                         FROM documents WHERE doc_id < 20),
         g AS (SELECT DISTINCT doc_id, substring(text, gs, 5) AS g
               FROM corpus, LATERAL (SELECT unnest(generate_series(1, length(text) - 4)) AS gs) s),
         n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
         i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
               FROM g a JOIN g b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         j AS (SELECT id_a, id_b, CAST(inter AS DOUBLE)/(na.n + nb.n - inter) AS jac
               FROM i JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b)
         SELECT id_a, id_b, round(jac, 3) AS jaccard_3dp
         FROM j WHERE jac >= 0.8 ORDER BY 1, 2""",
    "q48_asof_forward" ->
      """WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         p AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts AS cts, max(event_id) AS click_id
               FROM ev WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT p.event_id, c.click_id, c.cts AS next_click_ts
         FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.cts
         ORDER BY 1""",
    "q49_prune_by_score" ->
      // keeper = argmax (score, then min id) per present group; groups with
      // one present member have no pairs and never reach the operator
      """WITH s AS (SELECT doc_id, (doc_id * 37) % 11 AS score, doc_id // 4 AS grp FROM documents),
         k AS (SELECT grp, doc_id AS keep_id,
                      ROW_NUMBER() OVER (PARTITION BY grp ORDER BY score DESC, doc_id) AS rk,
                      count(*) OVER (PARTITION BY grp) AS n
               FROM s)
         SELECT s.doc_id AS drop_id, k.keep_id
         FROM s JOIN k ON s.grp = k.grp AND k.rk = 1 AND k.n > 1 AND s.doc_id != k.keep_id
         ORDER BY 1""",
    "q50_asof_skew_safe" ->
      // identical oracle to q42: the chunked hot-key plan must be
      // result-identical to the plain single-window plan
      """WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         c AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'),
         p AS (SELECT user_id, ts AS pts, max(event_id) AS purchase_id
               FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT c.event_id, p.purchase_id, p.pts AS purchase_ts
         FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.pts
         ORDER BY 1""",
    "q51_pruned_incremental_dedup" ->
      // identical oracle to q45: the pushed band-key filter is a
      // whole-bucket superset of the probe join
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         inc AS (SELECT doc_id + 4000000 AS doc_id, text || ' zq' AS text
                 FROM documents WHERE doc_id < 15),
         gc AS (SELECT DISTINCT doc_id, substring(text, gs, 5) AS g
                FROM corpus, LATERAL (SELECT unnest(generate_series(1, length(text) - 4)) AS gs) s),
         gi AS (SELECT DISTINCT doc_id, substring(text, gs, 5) AS g
                FROM inc, LATERAL (SELECT unnest(generate_series(1, length(text) - 4)) AS gs) s),
         nc AS (SELECT doc_id, count(*) AS n FROM gc GROUP BY 1),
         ni AS (SELECT doc_id, count(*) AS n FROM gi GROUP BY 1),
         i AS (SELECT c.doc_id AS corpus_id, x.doc_id AS incoming_id, count(*) AS inter
               FROM gc c JOIN gi x USING (g) GROUP BY 1, 2),
         j AS (SELECT corpus_id, incoming_id,
                      CAST(inter AS DOUBLE)/(nc.n + ni.n - inter) AS jac
               FROM i JOIN nc ON nc.doc_id = corpus_id JOIN ni ON ni.doc_id = incoming_id)
         SELECT corpus_id, incoming_id, round(jac, 3) AS jaccard_3dp
         FROM j WHERE jac >= 0.8 ORDER BY 1, 2""",
    "q52_asof_nearest" ->
      // closed-form nearest: per click the purchase minimizing |Δt|, ties
      // to the PAST — exactly the operator's documented tiebreak
      """WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         c AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'),
         p AS (SELECT user_id, ts AS pts, max(event_id) AS purchase_id
               FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2),
         cand AS (SELECT c.event_id, p.purchase_id, p.pts,
                         row_number() OVER (
                           PARTITION BY c.event_id
                           ORDER BY abs(epoch(c.ts) - epoch(p.pts)),
                                    CASE WHEN p.pts <= c.ts THEN 0 ELSE 1 END) AS rk
                  FROM c JOIN p USING (user_id))
         SELECT c.event_id, cand.purchase_id, cand.pts AS purchase_ts
         FROM c LEFT JOIN cand ON cand.event_id = c.event_id AND cand.rk = 1
         ORDER BY 1""",
    "q53_stratified_sample" ->
      // thresholds = floor(rate * 2^32) as 8-char lowercase hex — computed
      // once, hardcoded identically on both sides (0.02/0.5/0.1)
      """SELECT event_id, event_type FROM events
         WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 8) <
               CASE WHEN event_type = 'purchase' THEN '80000000'
                    WHEN event_type = 'click' THEN '051eb851'
                    ELSE '19999999' END
         ORDER BY 1""",
    "q54_split_assign" ->
      // cuts 0.8/0.9/1.0 → cccccccc / e6666666 / unconditional: a cut
      // reaching 1.0 closes the domain, so the final split is the ELSE
      // branch (the 'ffffffff' prefix — 2^-32 of keys — belongs to it,
      // not to a null drop-bucket)
      """WITH s AS (SELECT CASE
                      WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'cccccccc' THEN 'train'
                      WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'e6666666' THEN 'val'
                      ELSE 'test'
                    END AS split
                    FROM documents)
         SELECT split, count(*) AS n FROM s GROUP BY 1 ORDER BY 1""",
    "q55_sample_k_per_stratum" ->
      """WITH r AS (SELECT event_id, event_type,
                           row_number() OVER (
                             PARTITION BY event_type
                             ORDER BY substr(md5(CAST(event_id AS VARCHAR)), 1, 8), event_id) AS rk
                    FROM events WHERE event_type IS NOT NULL)
         SELECT event_id, event_type FROM r WHERE rk <= 7 ORDER BY 2, 1""",
    "q56_asof_nearest_skew" ->
      // identical oracle to q52: the dual-carry chunked hot-key plan must
      // be result-identical to the plain single-window nearest plan
      """WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         c AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'),
         p AS (SELECT user_id, ts AS pts, max(event_id) AS purchase_id
               FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2),
         cand AS (SELECT c.event_id, p.purchase_id, p.pts,
                         row_number() OVER (
                           PARTITION BY c.event_id
                           ORDER BY abs(epoch(c.ts) - epoch(p.pts)),
                                    CASE WHEN p.pts <= c.ts THEN 0 ELSE 1 END) AS rk
                  FROM c JOIN p USING (user_id))
         SELECT c.event_id, cand.purchase_id, cand.pts AS purchase_ts
         FROM c LEFT JOIN cand ON cand.event_id = c.event_id AND cand.rk = 1
         ORDER BY 1""",
    "q57_asof_nearest_tolerance" ->
      // q52's argmin with the |Δt| <= 24h gate on the CHOSEN candidate: a
      // too-distant nearest match is nulled, never replaced by the other
      // direction's farther row (merge_asof tolerance semantics)
      """WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         c AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'),
         p AS (SELECT user_id, ts AS pts, max(event_id) AS purchase_id
               FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2),
         cand AS (SELECT c.event_id, p.purchase_id, p.pts,
                         abs(epoch(c.ts) - epoch(p.pts)) AS adist,
                         row_number() OVER (
                           PARTITION BY c.event_id
                           ORDER BY abs(epoch(c.ts) - epoch(p.pts)),
                                    CASE WHEN p.pts <= c.ts THEN 0 ELSE 1 END) AS rk
                  FROM c JOIN p USING (user_id))
         SELECT c.event_id,
                CASE WHEN cand.adist <= 86400 THEN cand.purchase_id END AS purchase_id,
                CASE WHEN cand.adist <= 86400 THEN cand.pts END AS purchase_ts
         FROM c LEFT JOIN cand ON cand.event_id = c.event_id AND cand.rk = 1
         ORDER BY 1""",
    "q58_substring_span_dedup" ->
      // gram explosion at the same k=5: per-doc DISTINCT word 5-grams,
      // self-join, pair counts + lexicographic sample span
      """WITH corpus AS (SELECT doc_id, text FROM documents
                         WHERE text IS NOT NULL AND doc_id % 5 = 0
                         UNION ALL
                         SELECT doc_id + 2000000 AS doc_id, text || ' zz span tail' AS text
                         FROM documents WHERE text IS NOT NULL AND doc_id % 5 = 0 AND doc_id < 100),
         docs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM corpus),
         grams AS (SELECT DISTINCT doc_id, array_to_string(w[gs:gs+4], ' ') AS g
                   FROM docs, LATERAL (SELECT unnest(generate_series(1, len(w) - 4)) AS gs) s
                   WHERE len(w) >= 5)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(count(*) AS BIGINT) AS n_shared_spans, min(g) AS sample_span
         FROM grams a JOIN grams b USING (g)
         WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q59_drift_exact" ->
      // identical arithmetic to Drift.exactDrift: integer bin counts cast
      // to double AFTER summation (DuckDB sums 1.0 literals as DECIMAL),
      // ε-clamped probabilities, cumulative CDFs ordered by bin
      """WITH u AS (SELECT least(greatest(CAST(floor((value - 0.0)/50.0) AS BIGINT), 0), 11) AS bin,
                           event_id % 2 AS side, event_type
                    FROM events),
         nb AS (SELECT bin,
                       CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS pn,
                       CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS qn
                FROM u WHERE bin IS NOT NULL GROUP BY bin),
         pr AS (SELECT greatest(pn / (SELECT SUM(pn) FROM nb), 1e-6) AS p,
                       greatest(qn / (SELECT SUM(qn) FROM nb), 1e-6) AS q,
                       SUM(pn) OVER (ORDER BY bin) / (SELECT SUM(pn) FROM nb) AS cp,
                       SUM(qn) OVER (ORDER BY bin) / (SELECT SUM(qn) FROM nb) AS cq
                FROM nb),
         num AS (SELECT round(SUM((q - p) * ln(q / p)), 6) AS psi,
                        round(MAX(abs(cp - cq)), 6) AS ks FROM pr),
         nbc AS (SELECT event_type AS bin,
                        CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS pn,
                        CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS qn
                 FROM u WHERE event_type IS NOT NULL GROUP BY event_type),
         prc AS (SELECT greatest(pn / (SELECT SUM(pn) FROM nbc), 1e-6) AS p,
                        greatest(qn / (SELECT SUM(qn) FROM nbc), 1e-6) AS q
                 FROM nbc),
         cat AS (SELECT round(SUM((q - p) * ln(q / p)), 6) AS psi FROM prc)
         SELECT 'ks' AS metric, 'value' AS col_name, ks AS score FROM num
         UNION ALL SELECT 'psi', 'value', psi FROM num
         UNION ALL SELECT 'psi', 'event_type', psi FROM cat
         ORDER BY metric, col_name""",
    "q60_span_removal" ->
      // same planted-clone corpus and 5-word spans as q58; keeper = global
      // min (doc_id, pos) per span (rn = 1), a word is removed iff any
      // duplicated non-keeper span start covers it (sliding window over the
      // dense 1-based word positions), cleaned text reassembled in order
      """WITH corpus AS (SELECT doc_id, text FROM documents
                         WHERE text IS NOT NULL AND trim(text) <> '' AND doc_id % 5 = 0
                         UNION ALL
                         SELECT doc_id + 2000000 AS doc_id, text || ' zz span tail' AS text
                         FROM documents
                         WHERE text IS NOT NULL AND trim(text) <> '' AND doc_id % 5 = 0 AND doc_id < 100),
         docs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM corpus),
         words AS (SELECT doc_id, gs AS wpos, w[gs] AS word
                   FROM docs, LATERAL (SELECT unnest(generate_series(1, len(w))) AS gs) s),
         spans AS (SELECT doc_id, gs AS pos, array_to_string(w[gs:gs+4], ' ') AS g
                   FROM docs, LATERAL (SELECT unnest(generate_series(1, len(w) - 4)) AS gs) s
                   WHERE len(w) >= 5),
         dup AS (SELECT doc_id, pos FROM (
                   SELECT doc_id, pos,
                          row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
                   FROM spans) WHERE rn > 1),
         mask AS (SELECT w.doc_id, w.wpos, w.word,
                         max(CASE WHEN d.pos IS NOT NULL THEN 1 ELSE 0 END) OVER
                           (PARTITION BY w.doc_id ORDER BY w.wpos
                            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS rm
                  FROM words w LEFT JOIN dup d ON w.doc_id = d.doc_id AND w.wpos = d.pos)
         SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(rm) AS BIGINT) AS n_removed,
                md5(coalesce(string_agg(word, ' ' ORDER BY wpos) FILTER (WHERE rm = 0), '')) AS clean_md5
         FROM mask GROUP BY doc_id ORDER BY id""",
    "q61_lm_perplexity" ->
      // add-1 bigram model trained on even docs, scored on odd docs:
      // integer counts cast to DOUBLE before the division (a bare 1.0
      // literal would drag DuckDB into DECIMAL arithmetic), ln + avg +
      // round(6) mirror the Spark expression exactly
      """WITH corp AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
                       FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         refbg AS (SELECT w[gs] AS w1, w[gs+1] AS w2
                   FROM corp, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS gs) s
                   WHERE doc_id % 2 = 0 AND len(w) >= 2),
         c12 AS (SELECT w1, w2, count(*) AS c12 FROM refbg GROUP BY 1, 2),
         c1 AS (SELECT w1, count(*) AS c1 FROM refbg GROUP BY 1),
         vv AS (SELECT count(DISTINCT u.uw) AS v
                FROM corp, LATERAL (SELECT unnest(w) AS uw) u
                WHERE corp.doc_id % 2 = 0),
         scbg AS (SELECT doc_id, w[gs] AS w1, w[gs+1] AS w2
                  FROM corp, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS gs) s
                  WHERE doc_id % 2 = 1 AND len(w) >= 2),
         j AS (SELECT doc_id,
                      -ln(CAST(coalesce(c12.c12, 0) + 1 AS DOUBLE)
                          / (CAST(coalesce(c1.c1, 0) AS DOUBLE) + CAST(vv.v AS DOUBLE))) AS b_nll
               FROM scbg LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1) CROSS JOIN vv)
         SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_bigrams,
                round(avg(b_nll), 6) AS nll
         FROM j GROUP BY doc_id ORDER BY id""",
    "q62_idf_rarity" ->
      // smoothed IDF ln((N+1)/(df+1)) over distinct (doc, word) pairs
      """WITH corp AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
                       FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         nn AS (SELECT count(*) AS n FROM corp),
         dw AS (SELECT DISTINCT doc_id, u.uw AS word
                FROM corp, LATERAL (SELECT unnest(w) AS uw) u),
         dfq AS (SELECT word, count(*) AS df FROM dw GROUP BY 1)
         SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_distinct_words,
                round(avg(ln(CAST(nn.n + 1 AS DOUBLE) / (dfq.df + 1))), 6) AS mean_idf
         FROM dw JOIN dfq USING (word) CROSS JOIN nn
         GROUP BY doc_id ORDER BY id""",
    "q63_doc_chunking" ->
      // same token split as q16 (trim + \s+, case preserved), chunk =
      // list slice [st : st+11] joined by single spaces, chunk_idx from the
      // 1-based start sequence stepping by the stride
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                    FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
         SELECT doc_id AS id, CAST((st - 1) // 6 AS BIGINT) AS chunk_idx,
                CAST(least(12, len(w) - st + 1) AS BIGINT) AS n_chunk_tokens,
                array_to_string(w[st:st+11], ' ') AS chunk_text
         FROM t, LATERAL (SELECT unnest(generate_series(1,
                least(len(w), greatest(1, len(w) - 12 + 6)), 6)) AS st) g
         ORDER BY id, chunk_idx""",
    "q64_token_packing" ->
      // the single-partition global window the Spark side deliberately
      // avoids (PrefixScan buckets) — integer token counts, exclusive
      // running offset in doc_id order, 512-token bin span
      """WITH t AS (SELECT doc_id,
                           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
                    FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         c AS (SELECT doc_id, n,
                      CAST(coalesce(SUM(n) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
               FROM t)
         SELECT doc_id, n AS n_tokens, o AS tok_offset,
                o // 512 AS bin_first, (o + n - 1) // 512 AS bin_last
         FROM c ORDER BY doc_id""",
    "q65_vocab_coverage" ->
      // lowercased word counts (min frequency 2) + inclusive running total
      // in (cnt desc, word asc) order
      """WITH w AS (SELECT uw AS word FROM documents,
                      LATERAL (SELECT unnest(list_filter(
                        string_split_regex(lower(trim(text)), '\s+'),
                        x -> x <> '')) AS uw) u
                    WHERE text IS NOT NULL AND trim(text) <> ''),
         c AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1 HAVING count(*) >= 2)
         SELECT word, cnt,
                CAST(SUM(cnt) OVER (ORDER BY cnt DESC, word
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cnt
         FROM c ORDER BY cnt DESC, word""",
    "q66_mixture_sample" ->
      // rate_s = least(1, (1000·⌊√n_s⌋) / (Σ⌊√n_s⌋·n_s)) with the exact
      // float-op association of Sampling.mixtureSqrtRates, thresholded as
      // the md5-hex-prefix predicate of Sampling.hexThreshold
      """WITH c AS (SELECT source, count(*) AS n,
                           CAST(floor(sqrt(count(*))) AS BIGINT) AS isq
                    FROM documents GROUP BY 1),
         t AS (SELECT CAST(SUM(isq) AS BIGINT) AS tot FROM c),
         r AS (SELECT source,
                      least(CAST(1.0 AS DOUBLE),
                            (CAST(1000 AS DOUBLE) * CAST(isq AS DOUBLE))
                              / (CAST(tot AS DOUBLE) * CAST(n AS DOUBLE))) AS rate
               FROM c, t),
         th AS (SELECT source,
                       printf('%08x', least(CAST(trunc(rate * 4294967296.0) AS BIGINT),
                                            4294967295)) AS thr
                FROM r)
         SELECT d.doc_id, d.source FROM documents d JOIN th USING (source)
         WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || 'mix'), 1, 8) < thr
         ORDER BY d.doc_id""",
    "q67_bpe_merge_pairs" ->
      // lowercased word counts (the only corpus pass), then adjacent char
      // pairs weighted by word frequency — integer-exact merge scoring
      """WITH w AS (SELECT uw AS word FROM documents,
                      LATERAL (SELECT unnest(list_filter(
                        string_split_regex(lower(trim(text)), '\s+'),
                        x -> x <> '')) AS uw) u
                    WHERE text IS NOT NULL AND trim(text) <> ''),
         c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w
               GROUP BY 1 HAVING len(word) >= 2),
         p AS (SELECT substr(word, CAST(i AS INT), 2) AS pair, word, cnt
               FROM c, LATERAL (SELECT unnest(generate_series(1, len(word) - 1)) AS i) g)
         SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count,
                CAST(count(DISTINCT word) AS BIGINT) AS n_words
         FROM p GROUP BY 1 ORDER BY pair_count DESC, pair""",
    "q68_token_budget" ->
      // the per-source window the Spark side deliberately avoids
      // (groupedRunningTotal) — exclusive in-source running tokens in
      // (n desc, doc_id) order, keep while the tokens before are < 800
      """WITH t AS (SELECT doc_id, source,
                           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
                    FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         c AS (SELECT doc_id, source, n,
                      CAST(coalesce(SUM(n) OVER (PARTITION BY source
                        ORDER BY n DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS b
               FROM t)
         SELECT doc_id, source, n AS n_tokens, b AS tok_before
         FROM c WHERE b < 800 ORDER BY doc_id""",
    "q69_curation_pipeline" ->
      // the full chain: dedup (min doc_id per identical text) -> >=5-token
      // gate -> per-source 400-token budget window -> global packing
      // window + 256-token bins. Spark groups by md5(text), DuckDB by the
      // text itself: identical partitions, integer-exact throughout.
      """WITH base AS (SELECT doc_id, source, text FROM documents
                       WHERE text IS NOT NULL AND trim(text) <> ''),
         u AS (SELECT * FROM base
               QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
         q AS (SELECT doc_id, source,
                      CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
               FROM u WHERE len(string_split_regex(trim(text), '\s+')) >= 5),
         b AS (SELECT doc_id, source, n,
                      CAST(coalesce(SUM(n) OVER (PARTITION BY source
                        ORDER BY n DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tb
               FROM q),
         k AS (SELECT * FROM b WHERE tb < 400),
         p AS (SELECT doc_id, source, n, tb,
                      CAST(coalesce(SUM(n) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
               FROM k)
         SELECT doc_id, source, n AS n_tokens, tb AS tok_before, o AS tok_offset,
                o // 256 AS bin_first, (o + n - 1) // 256 AS bin_last
         FROM p ORDER BY doc_id""",
    "q70_weighted_sample" ->
      // per-row rate = least(1, n/50) -> trunc(rate * 2^32) clamped,
      // 8-hex-lowercase threshold, md5-prefix membership — the identical
      // predicate Sampling.hexThresholdCol compiles
      """WITH t AS (SELECT doc_id,
                           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
                    FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
         SELECT doc_id, n AS n_tokens FROM t
         WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'wt'), 1, 8) <
               printf('%08x', greatest(CAST(0 AS BIGINT),
                 least(CAST(trunc(least(CAST(1.0 AS DOUBLE), CAST(n AS DOUBLE) / 50.0)
                                  * 4294967296.0) AS BIGINT), 4294967295)))
         ORDER BY doc_id"""
  )
}
