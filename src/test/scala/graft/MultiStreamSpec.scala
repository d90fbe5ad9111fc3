package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.constraint._
import graft.engine._
import graft.model.Status

/** Per-stream / per-schema dispatch — the reference's heterogeneous-batch
  * semantics (every event declares its schema; validators resolve per event
  * and coexist without conflict):
  * /root/reference/lib/factories/default-eventgate.js:132-152,
  * /root/reference/lib/EventValidator.js:221-258,
  * /root/reference/test/features/lib/EventValidator.js:130-146 (dual-key
  * cache) and :187-208 (two instances don't conflict).
  */
class MultiStreamSpec extends SparkSpec {

  import spark.implicits._

  private val strictSet = ConstraintSet(
    "doc/2.0.0",
    fills = Seq(DefaultFill("source", "filled-v2")),
    checks = Seq(NonNull("doc_id"), MinLength("text", 10), MaxLength("text", 100))
  )
  private val laxSet = ConstraintSet(
    "doc/1.0.0",
    fills = Seq(DefaultFill("source", "filled-v1")),
    checks = Seq(NonNull("doc_id"))
  )
  private val registry = ConstraintRegistry(
    Seq(strictSet, laxSet),
    routes = Map(
      "strict" -> "doc/2.0.0",
      "strict-alias" -> "doc/2.0.0", // dual-key cache: two URIs, one validator
      "lax" -> "doc/1.0.0"
    )
  )

  // (doc_id, text, source, stream): "short" fails MinLength(10) only under strict
  private def batch = Seq(
    ("a", "short", null, "strict"),
    ("b", "short", null, "lax"),
    ("c", "a perfectly long enough text", "src", "strict"),
    ("d", "a perfectly long enough text", "src", "lax"),
    (null, "whatever text here", "src", "strict"),
    ("e", "short", null, "strict-alias"),
    ("f", "some text", null, "unregistered.stream")
  ).toDF("doc_id", "text", "source", "stream")

  private def routed(reg: ConstraintRegistry, snapshotId: String, idField: String = "doc_id", schemaUriCols: Seq[String] = Nil) =
    new ValidationEngine(reg, EngineOptions(snapshotId = snapshotId, idField = idField), Some("stream"), schemaUriCols)

  private val engine = routed(registry, "ms")

  private def job(log: graft.table.SnapshotLog, commitBatch: Int = 8) =
    new graft.table.ValidationJob(spark, log, engine, "explicit", suppressViolations = None,
      commitBatch = commitBatch, violationsSchema = Some(graft.table.ValidationJob.violationsSchemaV1))

  test("two coexisting constraint-set versions judge one mixed batch independently") {
    val res = engine.process(batch)
    val status = res.annotated.select("doc_id", "status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(status("a") == Status.Invalid) // strict: text too short
    assert(status("b") == Status.Success) // lax: same text passes
    assert(status("c") == Status.Success)
    assert(status("d") == Status.Success)
    assert(status(null) == Status.Invalid) // NonNull fails under both sets
    assert(status("f") == Status.Error) // unregistered stream

    // differential: dispatch == running each set's single-stream engine on its slice
    for ((stream, version) <- Seq("strict" -> strictSet, "lax" -> laxSet)) {
      val slice = batch.filter(col("stream") === stream)
      val single = new ValidationEngine(version, EngineOptions(snapshotId = "ms", idField = "doc_id"))
        .process(slice)
      val multiSlice = res.annotated.filter(col("stream") === stream)
      assert(
        multiSlice.filter(col("status") === Status.Success).count() ==
          single.valid.count(),
        s"stream $stream valid mismatch"
      )
      val vioMulti = res.violations.filter(col("stream") === stream)
        .select("row_id", "constraint_id").collect().map(_.toString).sorted.toSeq
      val vioSingle = single.violations
        .select(col("image_id").as("row_id"), col("constraint_id")).collect().map(_.toString).sorted.toSeq
      assert(vioMulti == vioSingle, s"stream $stream violations mismatch")
    }
  }

  test("dual-key route: alias and primary key dispatch to the SAME compiled set") {
    val res = engine.process(batch)
    val a = res.annotated.filter(col("doc_id") === "a").select("status", "violations").collect()(0)
    val e = res.annotated.filter(col("doc_id") === "e").select("status", "violations").collect()(0)
    assert(a.getString(0) == e.getString(0))
    assert(a.getSeq[Any](1).map(_.toString) == e.getSeq[Any](1).map(_.toString))
    // and the violation rows carry the canonical version, not the alias
    val v = res.violations.filter(col("row_id") === "e").select("constraint_version").collect()
    assert(v.nonEmpty && v.forall(_.getString(0) == "doc/2.0.0"))
  }

  test("unregistered stream is a schema-LOAD error, not invalid (spec.test.yaml:159-174)") {
    val res = engine.process(batch)
    val f = res.violations.filter(col("row_id") === "f").collect()
    assert(f.length == 1)
    assert(f(0).getAs[String]("status") == Status.Error)
    assert(f(0).getAs[String]("detail").startsWith("EventSchemaLoadError"))
    assert(f(0).getAs[String]("detail").contains("unregistered.stream"))
    // error rows never report constraint violations (lib/eventgate.js:199-205)
    assert(f(0).getAs[String]("constraint_id") == "engine_error")
  }

  test("default fills dispatch per set (useDefaults per schema)") {
    val res = engine.process(batch)
    val filled = res.annotated.select("doc_id", "source").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(filled("a") == "filled-v2") // strict's default
    assert(filled("b") == "filled-v1") // lax's default
    assert(filled("c") == "src") // present value untouched
    assert(filled("f") == null) // no set ⇒ no fill
  }

  test("rollups per stream partition the batch") {
    val res = engine.process(batch)
    val total = res.rollups.agg(sum(col("n_success") + col("n_invalid") + col("n_error"))).collect()(0).getLong(0)
    assert(total == batch.count())
    val streams = res.rollups.select("stream").distinct().collect().map(_.getString(0)).toSet
    assert(streams == Set("strict", "strict-alias", "lax", "unregistered.stream"))
  }

  test("multi-stream job: per-stream routed output under ONE atomic commit; resume") {
    import graft.table.SnapshotLog
    val log = new SnapshotLog(
      Files.createTempDirectory("graft_msjob").toString,
      spark.sparkContext.hadoopConfiguration
    )
    var calls = Vector.empty[Int]
    def inputFor(p: Int) = {
      calls :+= p
      batch.select(
        concat(lit(s"p${p}_"), col("doc_id")).as("doc_id"), // null id stays null
        col("text"), col("source"), col("stream")
      )
    }
    val m = job(log, commitBatch = 2).run(inputFor, Seq(0, 1, 2))
    assert(m.sequence == 2, s"ceil(3/2)=2 commits expected, got ${m.sequence}")
    assert(log.committedPartitions(m) == Set(0, 1, 2))

    // valid output is routed per stream (the per-topic produce, atomically)
    val valid = log.readTableLenient(spark, m, "valid")
    val streams = valid.select("stream").distinct().collect().map(_.getString(0)).toSet
    assert(streams == Set("strict", "lax"), s"got $streams") // only streams with passing rows
    // the physical layout routes per (status, stream) directory
    val successDirs = log.tablePaths(m, "annotated")
      .flatMap(p => Option(new java.io.File(p, "statusd=success").listFiles()).toSeq.flatten)
      .filter(_.isDirectory).map(_.getName).toSet
    assert(successDirs == Set("streamd=strict", "streamd=lax"), s"got $successDirs")
    assert(valid.count() == 3 * 3) // b, c, d pass per input partition

    // rollups per (stream, partition); totals partition the input
    val roll = log.readTable(spark, m, "rollups")
    assert(roll.select("stream", "partition_id").distinct().count() == roll.count())
    val total = roll.agg(sum(col("n_success") + col("n_invalid") + col("n_error"))).collect()(0).getLong(0)
    assert(total == batch.count() * 3)

    // violations carry stream + constraint version; unknown stream rows are errors
    val vio = log.readTable(spark, m, "violations")
    assert(vio.filter(col("stream") === "unregistered.stream" && col("status") === "error").count() == 3)
    assert(vio.filter(col("constraint_version") === "doc/2.0.0").count() > 0)
    assert(m.metrics("violations_rejected") == 0L)

    // resume: nothing reprocesses
    calls = Vector.empty
    val m2 = job(log, commitBatch = 2).run(inputFor, Seq(0, 1, 2))
    assert(calls.isEmpty && m2.snapshotId == m.snapshotId)
  }

  test("regex route keys match; exact beats regex; unroutable stays error (stream-config.test.yaml:1-8)") {
    // Slash-wrapped keys are regexes (event-util.js:89-97, unanchored test);
    // the exact key "mediawiki.special" must win over the regex covering it.
    val reg = ConstraintRegistry(
      Seq(strictSet, laxSet),
      routes = Map(
        "mediawiki.special" -> "doc/2.0.0",
        "/^mediawiki\\..+/" -> "doc/1.0.0"
      )
    )
    assert(reg.resolve("mediawiki.special").map(_.version).contains("doc/2.0.0"))
    assert(reg.resolve("mediawiki.revision_create").map(_.version).contains("doc/1.0.0"))
    assert(reg.resolve("eventlogging.click").isEmpty)

    val df = Seq(
      ("a", "short", null, "mediawiki.special"), // strict: invalid (MinLength)
      ("b", "short", null, "mediawiki.revision_create"), // regex → lax: success
      ("c", "short", null, "eventlogging.click") // unroutable: error
    ).toDF("doc_id", "text", "source", "stream")
    val res = routed(reg, "rx").process(df)
    val status = res.annotated.select("doc_id", "status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(status("a") == Status.Invalid)
    assert(status("b") == Status.Success)
    assert(status("c") == Status.Error)
  }

  test("ConstraintRegistry.ordered: overlapping regexes resolve in DECLARATION order (event-util.js:89-97 parity)") {
    // Two regexes both matching "mediawiki.revision_create": the reference
    // tests stream-config entries in declaration order, so whichever is
    // declared first must win — and reversing the declaration flips it.
    def reg(firstBroad: Boolean) = ConstraintRegistry.ordered(
      Seq(strictSet, laxSet),
      routes =
        if (firstBroad) Seq("/^mediawiki\\..+/" -> "doc/1.0.0", "/revision/" -> "doc/2.0.0")
        else Seq("/revision/" -> "doc/2.0.0", "/^mediawiki\\..+/" -> "doc/1.0.0")
    )
    assert(reg(firstBroad = true).resolve("mediawiki.revision_create").map(_.version).contains("doc/1.0.0"))
    assert(reg(firstBroad = false).resolve("mediawiki.revision_create").map(_.version).contains("doc/2.0.0"))
    // exact keys still beat every regex regardless of declaration position
    val withExact = ConstraintRegistry.ordered(
      Seq(strictSet, laxSet),
      routes = Seq("/^mediawiki\\..+/" -> "doc/1.0.0", "mediawiki.special" -> "doc/2.0.0"))
    assert(withExact.resolve("mediawiki.special").map(_.version).contains("doc/2.0.0"))
    // duplicate exact keys are rejected loudly
    val e = intercept[IllegalArgumentException](ConstraintRegistry.ordered(
      Seq(strictSet), routes = Seq("s" -> "doc/2.0.0", "s" -> "doc/2.0.0")))
    assert(e.getMessage.contains("duplicate"))
  }

  test("base-URI fallback resolution chain (uriGetFirstObject, default-eventgate.js:167-189)") {
    // Routes registered under fully-resolved URIs; events carry relative
    // schema paths. Resolution tries each base in order + appends the file
    // extension when missing; FIRST registered candidate wins.
    val reg = ConstraintRegistry(
      Seq(strictSet, laxSet),
      routes = Map(
        "file:///srv/schemas/doc/2.0.0.yaml" -> "doc/2.0.0",
        "https://schemas.example.org/repos/doc/1.0.0.yaml" -> "doc/1.0.0"
      ),
      baseUris = Seq("file:///srv/schemas", "https://schemas.example.org/repos"),
      uriExtension = ".yaml"
    )
    // first base hit wins
    assert(reg.resolve("/doc/2.0.0").map(_.version).contains("doc/2.0.0"))
    // falls through to the second base
    assert(reg.resolve("doc/1.0.0").map(_.version).contains("doc/1.0.0"))
    // extension already present → not doubled
    assert(reg.resolve("doc/1.0.0.yaml").map(_.version).contains("doc/1.0.0"))
    // absolute registered URI resolves as an exact key (dual-key cache)
    assert(reg.resolve("file:///srv/schemas/doc/2.0.0.yaml").map(_.version).contains("doc/2.0.0"))
    assert(reg.resolve("doc/9.9.9").isEmpty)
  }

  test("process() derives stream from the schema-URI column when the stream field is absent") {
    // makeExtractStream: stream_field when present, else sanitized schema
    // URI (default-eventgate.js:132-152) — wired through dispatch so URI-only
    // events route, and the resolved stream lands in rollups/output.
    val reg = ConstraintRegistry(
      Seq(laxSet),
      routes = Map("cool_schema_uri" -> "doc/1.0.0", "explicit_stream" -> "doc/1.0.0")
    )
    val df = Seq(
      ("a", "some text", "src", "explicit_stream", "/cool/schema/uri"),
      ("b", "some text", "src", null, "/cool/schema/uri"),
      ("c", "some text", "src", null, "/unknown!uri")
    ).toDF("doc_id", "text", "source", "stream", "schema_uri")
    val res = routed(reg, "uri", schemaUriCols = Seq("schema_uri")).process(df)
    val byId = res.annotated.select("doc_id", "stream", "status").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(byId("a") == ("explicit_stream", Status.Success))
    assert(byId("b") == ("cool_schema_uri", Status.Success)) // sanitized URI routed
    assert(byId("c")._2 == Status.Error) // sanitized but unregistered
  }

  test("schema-URI ARRAY form: first existing field wins; all-missing is a schema-load error (default-eventgate.js:105-108)") {
    // The reference's schema_uri_field accepts an array of field paths and
    // takes the first that exists on the event (tested at
    // test/features/lib/factories/default-eventgate.js:18-51). Columnar:
    // absent-from-schema fields are skipped, per-row existence = non-null.
    val reg = ConstraintRegistry(
      Seq(laxSet),
      routes = Map("primary_uri" -> "doc/1.0.0", "fallback_uri" -> "doc/1.0.0")
    )
    val df = Seq(
      ("a", "some text", "src", "/primary!uri", "/fallback!uri"), // both → first wins
      ("b", "some text", "src", null, "/fallback!uri"), // first null → second wins
      ("c", "some text", "src", null, null) // all null → unroutable → error
    ).toDF("doc_id", "text", "source", "meta_uri", "legacy_uri")
    val res = routed(
      reg,
      "uri_arr",
      // "ghost_uri" is not a column of this frame — the reference skips
      // non-existent configured fields; the engine must too.
      schemaUriCols = Seq("ghost_uri", "meta_uri", "legacy_uri")
    ).process(df)
    val byId = res.annotated.select("doc_id", "stream", "status").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(byId("a") == ("primary_uri", Status.Success))
    assert(byId("b") == ("fallback_uri", Status.Success))
    assert(byId("c")._2 == Status.Error)
    val detail = res.violations.filter(col("row_id") === "c").select("detail").collect()(0).getString(0)
    assert(detail.contains("EventSchemaLoadError"), detail)
  }

  test("full intake parity: reference's raw JSON events → parse (400 analog) → dispatch → validate in one pipeline") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import graft.constraint.JsonTypeIs
    // The reference's canonical events VERBATIM (FIXTURES.md A.2) plus the
    // two parse-failure shapes the HTTP layer 400s (malformed, empty body)
    val events = Seq(
      """{"$schema":"/test/0.0.1","meta":{"stream":"test.event","id":"5e1dd101-641c-11e8-ab6c-b083fecf1287"},"test":"test_value_0"}""",
      """{"$schema":"/test/0.0.1","meta":{"stream":"test.event","id":"5e1dd101-641c-11e8-ab6c-b083fecf1289"},"test":1234}""",
      """x{"$schema":"/test/0.0.1"}""",
      null
    ).toDF("raw")
    // Typed parse extracts routing fields; `test` is validated on the RAW
    // string (JsonTypeIs via variant) because a typed StringType parse
    // would coerce 1234 → "1234" and erase the reference's type violation.
    val schema = StructType(Seq(
      StructField("$schema", StringType),
      StructField("meta", StructType(Seq(StructField("stream", StringType), StructField("id", StringType))))))
    val parsed = graft.sources.JsonIntake.parse(events, "raw", schema)
      .withColumn("stream", col("meta.stream"))
      .withColumn("id", col("meta.id"))
    val reg = ConstraintRegistry(
      Seq(ConstraintSet("test/0.0.1", Seq.empty, Seq(JsonTypeIs("test", "string", "raw")))),
      routes = Map("test.event" -> "test/0.0.1"))
    val res = routed(
      reg, "intake", idField = "id",
      schemaUriCols = Seq("$schema") // parse-failed rows: stream AND uri null → unroutable → error
    ).process(parsed)
    val rows = res.annotated
      .select(col("raw"), col("status"), col("violations.detail").as("details"))
      .collect()
    val valid = rows.find(r => Option(r.getString(0)).exists(_.contains("test_value_0"))).get
    val invalid = rows.find(r => Option(r.getString(0)).exists(_.contains("1234"))).get
    assert(valid.getString(1) == Status.Success)
    assert(invalid.getString(1) == Status.Invalid)
    assert(invalid.getSeq[String](2) == Seq("'.test' should be string")) // spec.test.yaml:124 golden string
    // both parse failures triage as ERROR (the 400 analog), ahead of validation
    val errors = rows.filter(_.getString(1) == Status.Error)
    assert(errors.length == 2, rows.mkString("; "))
    assert(res.rollups.agg(sum("n_success"), sum("n_invalid"), sum("n_error"))
      .collect()(0).toSeq == Seq(1L, 1L, 2L))
  }

  test("readValid on an all-failing chain is an empty frame, not an error") {
    import graft.table.SnapshotLog
    val log = new SnapshotLog(
      Files.createTempDirectory("graft_msfail").toString,
      spark.sparkContext.hadoopConfiguration
    )
    val allBad = batch.filter(col("doc_id").isNull || col("doc_id") === "a") // invalid under strict only
      .withColumn("stream", lit("strict"))
    val m = job(log).run(_ => allBad, Seq(0))
    assert(m.metrics("n_success") == 0 && m.metrics("n_invalid") > 0)
    val valid = log.readTableLenient(spark, m, "valid")
    assert(valid.isEmpty && valid.columns.contains("stream")) // empty, schema intact
  }

  test("multi-stream job is single-pass: totals ride the annotated write, no output re-reads") {
    // Round-2 shape re-read the written annotated table AND the written
    // rollup parquet for counts (2 extra Spark jobs per batch). Now the
    // batch totals come from an Observation attached to the annotated
    // write, so one batch costs: write_annotated + rollup-agg/write +
    // violations-gate/write (+ parquet-footer metadata jobs).
    import graft.table.SnapshotLog
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val log = new SnapshotLog(
      Files.createTempDirectory("graft_msjobs").toString,
      spark.sparkContext.hadoopConfiguration
    )
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    val m =
      try job(log, commitBatch = 4).run(_ => batch, Seq(0, 1, 2, 3))
      finally {
        org.apache.spark.sql.GraftFunctions.drainSharedListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
      }
    assert(m.metrics("n_success") > 0 && m.metrics("n_invalid") > 0 && m.metrics("n_error") > 0)
    val n = jobs.get
    assert(n <= 6, s"one batch should cost <= 6 Spark jobs (3 data + metadata), saw $n")
  }

  test("stream extraction + sanitization parity (default-eventgate.js:132-152)") {
    val df = Seq(
      (Some("explicit_stream"), "/cool/schema/uri"),
      (None, "/cool/schema/uri"),
      (None, "$weird!!uri")
    ).toDF("stream_field", "schema_uri")
    val got = df.select(
      ConstraintRegistry.extractStream(Some(col("stream_field")), col("schema_uri")).as("s")
    ).collect().map(_.getString(0)).toSeq
    assert(got == Seq("explicit_stream", "cool_schema_uri", "weird__uri"))
  }
}
