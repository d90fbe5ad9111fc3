package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the optimizations the 100-TB design depends on
  * must actually appear in the executed plan, not just be hoped for.
  */
class PlanSpec extends SparkSpec {

  val sfDir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("q01: shipdate filter is pushed to the parquet scan; unused columns pruned") {
    val p = plan(Queries.q01PricingRollup(spark, sfDir))
    val scan = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(scan.contains("l_shipdate"), s"no pushdown:\n$scan")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("l_partkey") && !read.contains("l_suppkey"), s"pruning failed:\n$read")
  }

  test("q02: isin + range predicates pushed down") {
    val p = plan(Queries.q02FilterProjection(spark, sfDir))
    val scan = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(scan.contains("event_type") && scan.contains("value"), s"no pushdown:\n$scan")
  }

  test("q04: referential anti-join broadcasts the dimension side") {
    val p = plan(Queries.q04RefOrphans(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), s"expected broadcast anti join:\n${p.take(2000)}")
  }

  test("q01 runs inside whole-stage codegen") {
    val df = Queries.q01PricingRollup(spark, sfDir)
    df.collect() // AQE: final plan (with codegen spans) exists only post-run
    val p = plan(df)
    // AQE final plans print codegen spans in compact `*(n)` form
    assert(p.contains("WholeStageCodegen") || "\\*\\(\\d+\\)".r.findFirstIn(p).isDefined, s"no codegen spans:\n${p.take(1200)}")
  }

  test("engine violations array is one projection, no extra shuffle before rollup") {
    import spark.implicits._
    val imgs = graft.gen.SyntheticImages.images(spark, 200, 2).toDF()
    val res = new graft.engine.ValidationEngine(graft.engine.ImageConstraints.v1).process(imgs)
    val p = plan(res.rollups)
    // exactly one exchange: the (partition_id) hash agg boundary
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"too many shuffles ($exchanges):\n${p.take(3000)}")
    assert(p.contains("partial_count") || p.contains("HashAggregate"), "no partial aggregation")
  }

  test("rollups + sketch profile compute in ONE scan (no second read of the data)") {
    // The ValidationJob stats phase: per-partition status counts AND every
    // profiled sketch in a single aggregation over the annotated frame — one
    // parquet scan, one exchange. Round 1 re-read the written valid output
    // for the profile; this asserts that second scan stays dead.
    import graft.sketch.ColumnProfiler
    val dir = java.nio.file.Files.createTempDirectory("graft_onescan").toString
    graft.gen.SyntheticImages.images(spark, 300, 2).toDF().write.mode("overwrite").parquet(dir)
    val res = new graft.engine.ValidationEngine(graft.engine.ImageConstraints.v1,
      graft.engine.EngineOptions(partitionIdCol = spark_partition_id())).process(spark.read.parquet(dir))
    val ok = col("status") === graft.model.Status.Success
    assert(ColumnProfiler.profiledIn(res.annotated) == ColumnProfiler.Profiled)
    val stats = res.annotated.groupBy(col("partition_id")).agg(
      count(when(ok, 1)).as("n_success"),
      count(when(col("status") === "invalid", 1)).as("n_invalid") +:
        count(when(col("status") === "error", 1)).as("n_error") +:
        ColumnProfiler.profiledIn(res.annotated).map(_.aggregate(when(ok, _))): _*
    )
    val p = plan(stats)
    val scans = p.linesIterator.count(l => l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected exactly one scan, got $scans:\n${p.take(3000)}")
    val exchanges = p.linesIterator.count(_.trim.stripPrefix("+- ").startsWith("Exchange"))
    assert(exchanges <= 1, s"stats agg should shuffle once, got $exchanges")
  }

  test("multi-stream dispatch runs inside whole-stage codegen (StreamRoute + compiled sets)") {
    import spark.implicits._
    import graft.constraint._
    import graft.engine._
    val sets = Seq(
      ConstraintSet("a/1", Seq.empty, Seq(NonNull("doc_id"))),
      ConstraintSet("b/1", Seq.empty, Seq(NonNull("doc_id"), MinLength("text", 3)))
    )
    val reg = ConstraintRegistry(sets, routes = Map("sa" -> "a/1", "/^sb\\..+/" -> "b/1"))
    // parquet-backed input: a Seq-backed LocalRelation constant-folds the
    // whole projection at plan time and nothing reaches codegen
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_ms").toString
    Seq(("x", "hello", "sa"), ("y", "hi", "sb.topic")).toDF("doc_id", "text", "stream")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val res = new ValidationEngine(reg, EngineOptions(snapshotId = "p", idField = "doc_id"), Some("stream"), Nil).process(df)
    val p = plan(res.annotated.filter(col("status") =!= "zzz"))
    // route resolution is the codegen'd expression (inside a `*(n)`
    // whole-stage-codegen'd Project), not a when-chain of per-route string
    // comparisons; only the violations-array projection (higher-order
    // `filter`, which Spark never codegens) sits above the codegen span.
    val routeLine = p.linesIterator.find(_.contains("stream_route("))
    assert(routeLine.isDefined, s"StreamRoute expression missing:\n${p.take(2000)}")
    assert(routeLine.get.contains("*("), s"StreamRoute fell out of whole-stage codegen:\n${routeLine.get.take(300)}")
    assert(!p.contains("CASE WHEN (stream"), "route CASE chain resurfaced")
  }

  test("brute-force ANN broadcasts the query side (no shuffle of the data side)") {
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = embs.filter(col("vec_id") < 3)
    val p = plan(graft.ops.Similarity.bruteForceTopK(embs, q, "vec_id", "vec_id", "embedding", 5))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), s"query side not broadcast:\n${p.take(1500)}")
  }

  test("asof join: ONE hash shuffle on the key, no range join, no cartesian") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet").filter(col("user_id").isNotNull && col("ts").isNotNull)
    val clicks = ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("pts")).agg(max("event_id").as("purchase_id"))
    val joined = graft.ops.AsofJoin.backward(clicks, purchases, Seq("user_id"), "ts", "pts")
    joined.collect()
    val p = plan(joined)
    // union + running-last: the only hash exchanges are the keyed window's
    // (and the purchase-side pre-aggregation's) — no join operator at all
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") && !p.contains("NestedLoopJoin"),
      s"asof must not plan a physical join:\n${p.take(1500)}")
    // AdaptiveSparkPlan prints Final AND Initial sections — count only the
    // final one. Expected: the window's keyed exchange + the purchase-side
    // pre-aggregation's (user_id, pts) exchange. Nothing else.
    val finalSection = p.split("== Initial Plan ==")(0)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(finalSection).length
    assert(shuffles <= 2, s"asof shuffled more than (window + right pre-agg):\n${finalSection.take(2000)}")
    assert(finalSection.contains("Window"), "running-last window missing")
  }

  test("forward asof join shares the single-shuffle shape (no physical join operator)") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet").filter(col("user_id").isNotNull && col("ts").isNotNull)
    val purchases = ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("cts")).agg(max("event_id").as("click_id"))
    val joined = graft.ops.AsofJoin.forward(purchases, clicks, Seq("user_id"), "ts", "cts")
    joined.collect()
    val p = plan(joined).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") && !p.contains("NestedLoopJoin"),
      s"forward asof must not plan a physical join:\n${p.take(1500)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2, s"extra shuffles:\n${p.take(2000)}")
    assert(p.contains("Window"), "running-first window missing")
  }

  test("json intake parses inside whole-stage codegen with no shuffle before the aggregation") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
      .select(to_json(struct(col("event_id"), col("event_type"))).as("body"))
    val schema = StructType(Seq(StructField("event_id", LongType), StructField("event_type", StringType)))
    val parsed = graft.sources.JsonIntake.parse(raw, "body", schema)
      .groupBy("event_type").count()
    parsed.collect()
    val p = plan(parsed).split("== Initial Plan ==")(0)
    // JsonToStructs is CodegenFallback in Spark — the parse runs as a plain
    // projection (the Jackson parse dominates its cost either way); what
    // the plan MUST show is a single projection with no UDF and exactly the
    // one aggregation exchange: intake adds zero shuffles.
    assert(p.contains("from_json"), s"from_json missing:\n${p.take(1500)}")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"), "intake must not use a UDF")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, s"unexpected shuffles:\n${p.take(2000)}")
  }

  test("adaptive quantizer assignment: codegen'd nearest_seed over a broadcast seed array, no corpus shuffle") {
    import org.apache.spark.sql.functions.{lit, struct, collect_list, sort_array, xxhash64, coalesce}
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    // The round-1 coarse assignment shape of Dedup.adaptiveBuckets: the
    // one-row seed array reaches every row via a BROADCAST nested-loop join
    // (the corpus never shuffles for its assignment) and the argmax kernel
    // is the compiled nearest_seed expression inside a codegen span.
    val seeds = embs.limit(50)
      .agg(sort_array(collect_list(struct(xxhash64(col("id")).as("hk"), col("v").as("sv")))).as("_seeds"))
    val assigned = embs.crossJoin(org.apache.spark.sql.functions.broadcast(seeds))
      .select(col("id"), coalesce(xxhash64(lit(1L), graft.functions.NearestSeedExpr(col("v"), col("_seeds"))), lit(0L)).as("bucket"))
    assigned.collect() // AQE inserts WholeStageCodegen only in the FINAL plan
    val p = plan(assigned)
    assert(p.contains("BroadcastNestedLoopJoin"), s"seed array not broadcast:\n${p.take(1500)}")
    val seedLine = p.linesIterator.find(_.contains("nearest_seed("))
    assert(seedLine.isDefined, s"nearest_seed expression missing:\n${p.take(2000)}")
    assert(seedLine.get.contains("*("), s"nearest_seed fell out of whole-stage codegen:\n${seedLine.get.take(300)}")
    assert(!p.contains("Exchange hashpartitioning(id"), "corpus shuffled for assignment")
  }

  test("skew-safe asof: hot keys carry through a (keys, chunk)-partitioned window, boundary patch broadcast") {
    for (joined <- Seq(Queries.q50AsofSkewSafe(spark, sfDir), Queries.q56AsofNearestSkew(spark, sfDir))) {
      joined.collect()
      val p = plan(joined).split("== Initial Plan ==")(0)
      assert(p.contains("_chunk"), s"chunked hot path missing from the plan:\n${p.take(1500)}")
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
        s"chunked asof must not plan a quadratic join:\n${p.take(1500)}")
      assert(p.contains("BroadcastHashJoin"), s"bounds/carry joins should broadcast:\n${p.take(1500)}")
      // hot-key windows are partitioned by (user_id, _chunk) — the whole point
      assert(p.linesIterator.exists(l => l.contains("Window") || l.contains("RunningWindowFunction")),
        "carry window missing")
    }
  }

  test("nearest asof (q52): both carries in ONE Window operator, no physical join") {
    val joined = Queries.q52AsofNearest(spark, sfDir)
    joined.collect()
    val p = plan(joined).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") && !p.contains("NestedLoopJoin") &&
      !p.contains("BroadcastHashJoin") && !p.contains("ShuffledHashJoin"),
      s"nearest asof must not plan a physical join:\n${p.take(1500)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2, s"extra shuffles:\n${p.take(2000)}")
    val windows = p.linesIterator.filter(_.trim.stripPrefix("+- ").startsWith("Window [")).toSeq
    assert(windows.size == 1, s"expected one Window operator, got ${windows.size}:\n${p.take(2000)}")
    assert(windows.head.contains("_mb") && windows.head.contains("_mf"),
      s"the Window operator must carry both directions:\n${windows.head}")
  }

  test("deterministic sampling is one codegen'd scan + filter: no shuffle, no UDF") {
    for (df <- Seq(Queries.q53StratifiedSample(spark, sfDir),
        Queries.q70WeightedSample(spark, sfDir))) {
      df.collect()
      val p = plan(df).split("== Initial Plan ==")(0)
      assert(!p.contains("ScalaUDF") && !p.toLowerCase.contains("batchevalpython"),
        "sampling must not use a UDF (md5/substr/hex are built-ins)")
      // membership is a per-row predicate — the only exchange is the final
      // presentation orderBy's range partitioning, never a hash shuffle
      assert(!p.contains("Exchange hashpartitioning"), s"sampling shuffled:\n${p.take(1200)}")
    }
  }

  test("pruned probe pushes the batch's band keys into the STORED keys scan") {
    import graft.ops.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val corpusSigs = Dedup.minhashSignatures(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_keys").toString
    Dedup.explodedBandKeys(corpusSigs).write.parquet(s"$dir/keys")
    val storedKeys = spark.read.parquet(s"$dir/keys")
    val incoming = docs.filter(col("doc_id") === 1)
      .select((col("doc_id") + 900000).as("doc_id"), concat(col("text"), lit(" qz")).as("text"))
    val prev = spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold")
    spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "100000")
    try {
      val pairs = Dedup.minhashPairsAgainstSignatures(
        corpusSigs, Dedup.minhashSignatures(incoming, "doc_id", "text"),
        0.7, Dedup.DefaultMaxBucket, Some(storedKeys), pruneBandKeysLimit = 100000)
      val p = plan(pairs)
      val scanLine = p.linesIterator
        .filter(l => l.contains("PushedFilters") && l.contains("band_key")).mkString
      assert(scanLine.contains("In(band_key"),
        s"batch band keys not pushed into the stored keys scan:\n$scanLine")
    } finally spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", prev)
  }

  test("span removal: keeper election partially aggregates, no UDF, no nested-loop join on data") {
    val df = Queries.q60SpanRemoval(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("ScalaUDF"), "span removal must stay UDF-free")
    assert(!p.contains("CartesianProduct"), s"cartesian in span removal:\n${p.take(1500)}")
    // keeper election is groupBy(g).agg(min, count): a map-side-combining
    // HashAggregate, not a row_number window over the hot span groups
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"keeper election lost its partial aggregation:\n${p.take(1500)}")
  }

  test("doc chunking is one shuffle-free generator pass (no exchange, no UDF)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.ops.TextOps.docChunks(docs, "doc_id", "text", window = 12, stride = 6)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.contains("Generate"), s"chunking must be a generator:\n${p.take(800)}")
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n${p.take(1200)}")
    assert(!p.contains("ScalaUDF"), "chunking must stay UDF-free")
  }

  test("prefix-scan ops never plan a single-partition window (packing + vocab coverage)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    for (df <- Seq(
        graft.ops.Packing.packOffsets(docs, "doc_id", "text", contextLen = 512, buckets = 8),
        graft.ops.TextOps.vocabCoverage(docs, "text", minCount = 2L, buckets = 8),
        graft.ops.Packing.tokenBudgetKeep(docs, "doc_id", "text", "source", 800L,
          Seq("n_tokens" -> false, "doc_id" -> true), buckets = 8))) {
      df.collect()
      val p = plan(df).split("== Initial Plan ==")(0)
      // the scale-killer shape PrefixScan exists to avoid: a global
      // Window.orderBy planning Exchange SinglePartition
      assert(!p.contains("SinglePartition"),
        s"prefix scan degenerated to a single-partition window:\n${p.take(1500)}")
      assert(p.contains("Window"), s"expected the per-bucket window:\n${p.take(800)}")
      assert(!p.contains("ScalaUDF"), "prefix scan must stay UDF-free")
    }
  }

  test("violationRows is one pass: no Union of per-status branches in the plan") {
    // Round-7: the invalid/error branches used to union two copies of the
    // whole annotated subtree — with an in-plan engine call that was two
    // full constraint-eval (and decode) passes over the input.
    val imgs = graft.gen.SyntheticImages.images(spark, 100, 2).toDF()
    val res = new graft.engine.ValidationEngine(
      graft.engine.ImageConstraints.v1,
      graft.engine.EngineOptions(snapshotId = "planspec")).process(imgs)
    val p = res.violations.queryExecution.optimizedPlan.toString
    assert(!p.contains("Union"), s"violations plan re-unions the annotated subtree:\n${p.take(1500)}")
    assert(p.contains("Generate"), s"expected the single explode pass:\n${p.take(800)}")
  }

  test("multi-stream violations are one pass: no Union, one scan of the input") {
    import spark.implicits._
    import graft.constraint._
    import graft.engine._
    val reg = ConstraintRegistry(
      Seq(ConstraintSet("a/1", Seq.empty, Seq(NonNull("doc_id"))),
        ConstraintSet("b/1", Seq.empty, Seq(NonNull("doc_id"), MinLength("text", 3)))),
      routes = Map("sa" -> "a/1", "sb" -> "b/1"))
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_msvio").toString
    Seq(("x", "hello", "sa"), ("y", "hi", "sb"), (null, "hey", "sc")).toDF("doc_id", "text", "stream")
      .write.mode("overwrite").parquet(dir)
    val res = new ValidationEngine(reg, EngineOptions(snapshotId = "p", idField = "doc_id"), Some("stream"), Nil)
      .process(spark.read.parquet(dir))
    val opt = res.violations.queryExecution.optimizedPlan.toString
    assert(!opt.contains("Union"), s"multi-stream violations re-union the annotated subtree:\n${opt.take(1500)}")
    val p = plan(res.violations)
    val scans = p.linesIterator.count(l => l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected one scan of the input, got $scans:\n${p.take(3000)}")
    assert(res.violations.count() == 2) // y fails MinLength under b/1, sc is unrouted
  }

  test("single-set engine plans no route column and no per-set CASE") {
    import graft.engine._
    val imgs = graft.gen.SyntheticImages.images(spark, 100, 2).toDF()
    val cs = ImageConstraints.v1
    val annotated = new ValidationEngine(cs, EngineOptions(snapshotId = "planspec")).process(imgs).annotated
    assert(!annotated.columns.contains("_set_id"))
    val p = annotated.queryExecution.optimizedPlan.toString
    assert(!p.contains("_set_id"), s"route column in the single-set plan:\n${p.take(1500)}")
    // the set version would appear only in a CASE WHEN on the routed version
    assert(!p.contains(cs.version), s"per-set dispatch survived optimization:\n${p.take(3000)}")
  }

  test("LM perplexity: count models partially aggregate; V rides a single-row broadcast") {
    val df = Queries.q61LmPerplexity(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("ScalaUDF"), "bigram NLL must stay UDF-free")
    assert(!p.contains("CartesianProduct"), "V must broadcast, not cartesian")
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"bigram counts lost partial aggregation:\n${p.take(1500)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"single-row V frame should broadcast:\n${p.take(1500)}")
  }

  test("self-pair LSH kernels: one (band_idx, band_key) aggregate, no Window, no self-join") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window => WindowNode}
    val imgs = (0L until 50L).map(i => (i, i * 0x9e3779b97f4a7c15L)).toDF("image_id", "phash")
    val docs = (0L until 50L).map(i => (i, s"document number $i of the plan corpus")).toDF("doc_id", "text")
    for ((name, df) <- Seq(
        "phashPairs" -> graft.ops.Dedup.phashPairs(imgs, "image_id", "phash"),
        "minhashPairs" -> graft.ops.Dedup.minhashPairs(docs, "doc_id", "text"))) {
      val p = df.queryExecution.optimizedPlan
      assert(p.collect { case w: WindowNode => w }.isEmpty, s"$name plans a Window:\n$p")
      val bandJoins = p.collect { case j: Join if j.condition.exists(_.references.exists(_.name == "band_key")) => j }
      assert(bandJoins.isEmpty, s"$name plans a join on the band key:\n$p")
      val bandAggs = p.collect {
        case a: Aggregate if a.groupingExpressions.flatMap(_.references.map(_.name)).toSet == Set("band_idx", "band_key") => a
      }
      assert(bandAggs.size == 1, s"$name: ${bandAggs.size} aggregates on (band_idx, band_key):\n$p")
    }
  }

  test("cross-side and span LSH kernels: bucket_members aggregates, no Window, no signature spill") {
    val spill = java.nio.file.Files.createTempDirectory("graft_plan_spill")
    // q51's pruned probe raises the In-pushdown threshold on the session
    val keys = Seq("spark.graft.spill.dir", "spark.sql.parquet.pushdown.inFilterThreshold")
    val prev = keys.map(spark.conf.getOption)
    spark.conf.set(keys.head, spill.toString)
    try {
      for ((name, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
          "q44" -> Queries.q44IncrementalNearDup, "q45" -> Queries.q45IncrementalTextDedup,
          "q51" -> Queries.q51PrunedIncrementalDedup, "q58" -> Queries.q58SubstringSpanDedup)) {
        val df = q(spark, sfDir)
        df.collect()
        val p = plan(df)
        assert(p.contains("bucket_members"), s"$name plans no bucket_members aggregate:\n${p.take(3000)}")
        assert(!p.contains("Window"), s"$name plans a Window:\n${p.take(3000)}")
      }
      val left = spill.toFile.list().toSeq
      assert(left.isEmpty, s"signature spill directories written: $left")
    } finally keys.zip(prev).foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("a batch of 8 file-backed partitions plans ONE file scan and no Union") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_batchplan").toString
    val dirs = (0 until 8).map { p =>
      val dir = s"$root/p=$p"
      spark.range(p * 40L, (p + 1) * 40L, 1, 1).as[Long]
        .map(i => graft.gen.SyntheticImages.rowOf(i, drift = false, contentPool = 0))
        .toDF().write.parquet(dir)
      dir
    }
    val tagged = graft.table.BatchInput.of(spark, 0 until 8, p => spark.read.parquet(dirs(p)))
    val annotated = new graft.engine.ValidationEngine(graft.engine.ImageConstraints.v1,
      graft.engine.EngineOptions(partitionIdCol = col("_pid"))).process(tagged).annotated
    val p = plan(annotated)
    val scans = p.linesIterator.count(l => l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected one file scan, got $scans:\n${p.take(3000)}")
    assert(!annotated.queryExecution.optimizedPlan.toString.contains("Union"), s"batch input re-unions:\n${p.take(3000)}")
    assert(annotated.select("partition_id").distinct().count() == 8)
  }
}
