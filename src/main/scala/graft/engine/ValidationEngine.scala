package graft.engine

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, IOException}
import javax.imageio.ImageReader
import javax.imageio.spi.{IIORegistry, ImageReaderSpi}
import javax.imageio.stream.{ImageInputStream, MemoryCacheImageInputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.constraint.{Compiler, ConstraintSet, Predicate}
import graft.gen.SyntheticImages
import graft.model.Status

/** Per-row outcome of decoding `bytes` — computed once in the scan stage.
  * `err` non-null ⇒ engine-level failure (the reference's non-ValidationError
  * path, /root/reference/lib/eventgate.js:199-205).
  */
final case class DecodeOut(err: String, w: Int, h: Int, psnr: Double)

/** Options for the optional decoded-pixel checks (BASELINE.json input_hint:
  * decoded-pixel PSNR ≥ 40 dB for lossy formats). When disabled, the plan
  * never references `bytes`, so Parquet column pruning skips ~99% of the
  * table width — the single biggest 10^12-scale lever (SURVEY.md §4).
  */
final case class PixelChecks(
    psnrMin: Double = 40.0,
    lossyFmts: Set[String] = Set("jpeg", "jpg"),
    /** content pool used by the generator (0 = unique content per row). */
    contentPool: Int = 0
)

final case class EngineOptions(
    snapshotId: String = "adhoc",
    idField: String = "image_id",
    pixelChecks: Option[PixelChecks] = None,
    /** Stable partition id for rollups/lineage. Default: physical scan
      * partition (the reference groups per HTTP batch; we group per task
      * partition). Override with a content-stable bucket for resume tests.
      */
    partitionIdCol: Column = spark_partition_id()
)

final case class ValidationResult(
    /** input + partition_id + violations array + engine_error + status. */
    annotated: DataFrame,
    /** rows with status=success, default fills applied (row rewrite kept,
      * mirroring AJV useDefaults mutation). */
    valid: DataFrame,
    /** ViolationRow-shaped frame: invalid + error rows, one row per
      * (row, violated constraint) — union of the reference's invalid and
      * error groups (/root/reference/lib/eventgate.js:237). */
    violations: DataFrame,
    /** RollupRow-shaped frame: per-partition status counts, all three
      * statuses always present (/root/reference/lib/eventgate.js:230-232). */
    rollups: DataFrame
)

/** The validate-then-produce gate (/root/reference/lib/eventgate.js:80-102)
  * over a [[ConstraintRegistry]], as one declarative Catalyst pipeline:
  *
  *   route → default-fill → one-pass allErrors constraint eval → status
  *   triage → {valid, violations, rollups} frames.
  *
  * Everything is a single projection over the scan plus one aggregation for
  * the rollups: at 10^12 rows the constraint evaluation itself is
  * shuffle-free (narrow), and the only shuffle is the tiny rollup.
  *
  * Routing: with a `streamCol`, each row of a HETEROGENEOUS batch declares
  * its own constraint set (the reference's core semantics — every event
  * carries `$schema`, resolved and validated per event,
  * eventgate/lib/factories/default-eventgate.js:132-152 +
  * lib/EventValidator.js:221-258), evaluated in ONE pass. The registry is
  * job config, so the lookup is a codegen'd route expression and dispatch
  * is a CASE per compiled set — shuffle-free and row-preserving, with
  * Catalyst CSE deduping predicates shared between sets. A row whose
  * stream resolves to no set gets status `error` — the EventSchemaLoadError
  * path, which the reference classifies as error, not invalid
  * (eventgate/lib/EventValidator.js:231-236, x-ample
  * eventgate/test/spec.test.yaml:159-174).
  *
  * Without a `streamCol` the registry holds one set and every row is
  * routed to it: the plan carries no route column and no dispatch, only
  * that set's expressions. Its outputs keep the single-stream shapes:
  * violation rows name the id `image_id` and carry no stream or set
  * version, rollups are per partition.
  */
final class ValidationEngine(
    val registry: ConstraintRegistry,
    val opts: EngineOptions,
    /** the routing column; None routes every row to the registry's one set. */
    val streamCol: Option[String],
    /** The reference's `schema_uri_field` is a string OR an ARRAY of field
      * names — the first field present on the event wins
      * (eventgate/lib/factories/default-eventgate.js:105-108, tested
      * at test/features/lib/factories/default-eventgate.js:18-51). Fields
      * absent from the frame are skipped; among present ones, per-row
      * "exists" = non-null, so the chain is one `coalesce`. All candidates
      * null ⇒ null URI ⇒ unroutable ⇒ the schema-load-error status. */
    val schemaUriCols: Seq[String]
) extends Serializable {

  import ValidationEngine._

  require(streamCol.isDefined || registry.sets.size == 1, "without a stream column the registry holds exactly one set")
  require(streamCol.isDefined || schemaUriCols.isEmpty, "schema-URI fields route into a stream column")

  /** The single-stream gate: one constraint set, no routing. */
  def this(cs: ConstraintSet, opts: EngineOptions = EngineOptions()) =
    this(ConstraintRegistry.of(cs), opts, None, Nil)

  def process(rawInput: DataFrame): ValidationResult = {
    // Optional decoded-pixel checks join every set's checks; their decode
    // runs ONCE per row, in the scan stage only.
    val pixelPredicates = opts.pixelChecks.toSeq.flatMap { pc =>
      Seq(
        Predicate(
          "w",
          "dims_match(w,h)",
          col("_decode.err").isNotNull || (col("w") === col("_decode.w") && col("h") === col("_decode.h")),
          "should match decoded dimensions"
        ),
        Predicate(
          "bytes",
          "pixel_invariant(bytes)",
          col("_decode.err").isNotNull || !col("fmt").isin(pc.lossyFmts.toSeq: _*) ||
            col("_decode.psnr") >= pc.psnrMin,
          s"decoded-pixel PSNR should be >= ${pc.psnrMin} dB"
        )
      )
    }
    val sets = registry.sets.map(cs => cs.copy(checks = cs.checks ++ pixelPredicates))
    sets.foreach { cs =>
      val problems = cs.lint
      require(problems.isEmpty, s"insecure constraint set ${cs.version}: ${problems.mkString("; ")}")
    }

    // Effective stream: the configured stream field when present, else the
    // sanitized schema URI (makeExtractStream,
    // eventgate/lib/factories/default-eventgate.js:132-152). The
    // resolved value OVERWRITES the stream column so routing, rollups, and
    // per-stream output all see the event's true destination.
    val input = streamCol.filter(_ => schemaUriCols.nonEmpty).fold(rawInput) { s =>
      val present = schemaUriCols.filter(rawInput.columns.contains)
      val uri = if (present.isEmpty) lit(null).cast("string") else coalesce(present.map(col): _*)
      rawInput.withColumn(s, ConstraintRegistry.extractStream(
        if (rawInput.columns.contains(s)) Some(col(s)) else None, uri))
    }
    val inputCols = input.columns.toSeq

    // Resolve stream → set version (the validator-cache lookup): one O(1)
    // codegen'd hash probe + ordered regex/base-URI fallback, null = schema
    // load failure.
    val withPart = input.withColumn("partition_id", opts.partitionIdCol.cast("int"))
    val routed = streamCol.fold(withPart)(s =>
      withPart.withColumn("_set_id", graft.functions.StreamRoute.route(col(s), registry.resolver)))
    val decoded = opts.pixelChecks.fold(routed)(pc =>
      routed.withColumn("_decode", decodeUdf(pc.contentPool)(col("bytes"), col(opts.idField), col("fmt"))))
    val loadError = streamCol.map(s =>
      when(col("_set_id").isNull, concat(
        lit("EventSchemaLoadError: no constraint set registered for stream '"), coalesce(col(s), lit("null")), lit("'"))))
    val decodeError = opts.pixelChecks.map(_ => col("_decode.err"))
    val withError = decoded.withColumn("engine_error",
      (loadError ++ decodeError).reduceOption(coalesce(_, _)).getOrElse(lit(null).cast("string")))

    // Per-set dispatch: a CASE over `among` on the routed set version,
    // `otherwise` for rows routed to none of them. Without a stream column
    // the one set's expressions apply as they are: no CASE is built whose
    // raw-value branch could change a filled column's nullability.
    def perSet(among: Seq[ConstraintSet], f: ConstraintSet => Column, otherwise: Column): Column =
      if (streamCol.isEmpty) f(sets.head)
      else among.foldRight(otherwise)((cs, acc) => when(col("_set_id") === cs.version, f(cs)).otherwise(acc))

    // Default fills dispatch per set (AJV useDefaults mutates the event,
    // eventgate/lib/EventValidator.js:29-33) — per field, a CASE over
    // the sets that fill it; rows of other sets keep the raw value.
    val fillFields = sets.flatMap(_.fills.map(_.field)).distinct
    val filled = fillFields.foldLeft(withError) { (df, f) =>
      val fill = (cs: ConstraintSet) => cs.fills.find(_.field == f)
      df.withColumn(f, perSet(sets.filter(fill(_).isDefined), cs => fill(cs).get(col(f)), col(f)))
    }

    // Triage: error > invalid > success (/root/reference/lib/eventgate.js:175-207:
    // non-ValidationError beats ValidationError because validation is never
    // reached/trusted when the engine itself failed on the row).
    //
    // `status` derives from the allocation-free boolean conjunction, NOT from
    // size(violations): the struct-array only materializes below the
    // status=invalid filter, so the success-majority path never allocates.
    // allErrors semantics are untouched — every failing row still reports
    // EVERY violated constraint (Compiler.violationsArray has no
    // short-circuit), it just does so only for rows that need details.
    // Unrouted rows pass by default: the error status wins the triage.
    val annotated = filled
      .withColumn(
        "status",
        when(col("engine_error").isNotNull, Status.Error)
          .when(!perSet(sets, Compiler.allPass, lit(true)), Status.Invalid)
          .otherwise(Status.Success)
      )
      .withColumn("violations", when(col("status") === Status.Invalid, perSet(sets, Compiler.violationsArray, EmptyViolations))
        .otherwise(EmptyViolations))

    // Valid rows keep the stream column — the router key for per-stream
    // output (the reference produces each event to ITS stream's topic,
    // eventgate/lib/factories/default-eventgate.js:242-278).
    val valid = annotated.filter(col("status") === Status.Success).select(inputCols.map(col): _*)

    ValidationResult(
      annotated,
      valid,
      violationRows(annotated, opts.snapshotId, opts.idField, streamCol),
      rollupRows(annotated, opts.snapshotId, streamCol)
    )
  }
}

object ValidationEngine {

  private val EmptyViolations: Column =
    array().cast("array<struct<constraint_id:string,field:string,detail:string>>")

  /** ViolationRow projection from any annotated frame (must carry
    * partition_id, violations, engine_error, status + the id field, and
    * `_set_id` + the stream column when routed) — used by `process` and by
    * ValidationJob when it derives violations from the written failing
    * slice instead of re-scanning the input. Constraint violations keep
    * full detail; engine errors are scrubbed to message-only
    * (eventgate/lib/eventgate.js:42-60). Routed rows also name their
    * stream and the version of the set that judged them, and their id
    * column is `row_id`.
    */
  def violationRows(annotated: DataFrame, snapshotId: String, idField: String, streamCol: Option[String]): DataFrame = {
    // an engine error is a decode failure of `bytes`, or an unroutable stream
    val (route, errorField) = streamCol match {
      case None    => (Seq.empty[(String, Column)], lit("bytes"))
      case Some(s) =>
        (Seq("stream" -> col(s), "constraint_version" -> col("_set_id")),
          when(col("_set_id").isNull, lit(s)).otherwise(lit("bytes")))
    }
    val idName = violationIdField(streamCol)
    // ONE scan of `annotated` for both failure classes: a union of separate
    // invalid/error branches would re-derive the annotated subtree twice
    // (for an in-plan engine call that is two full constraint-eval — and,
    // with pixel checks, decode — passes over the input). Error rows become
    // a synthetic one-element violations array; the explode then emits
    // exactly the rows a two-branch union would.
    annotated
      .filter(col("status") === Status.Invalid || col("status") === Status.Error)
      .select(Seq(lit(snapshotId).as("snapshot_id"), col("partition_id")) ++
        route.map { case (n, c) => c.as(n) } ++ Seq(
          col(idField).as(idName),
          explode(
            when(col("status") === Status.Invalid, col("violations"))
              .otherwise(array(struct(
                lit("engine_error").as("constraint_id"),
                errorField.as("field"),
                col("engine_error").as("detail"))))
          ).as("v"),
          col("status")
        ): _*)
      .select((Seq("snapshot_id", "partition_id") ++ route.map(_._1) ++
        Seq(idName, "v.constraint_id", "v.field", "v.detail", "status")).map(col): _*)
  }

  /** The id column of [[violationRows]]. */
  def violationIdField(streamCol: Option[String]): String = if (streamCol.isEmpty) "image_id" else "row_id"

  /** RollupRow projection: status counts per partition (per stream and
    * partition when routed), all three statuses always present as columns
    * — the batch analog of forcing all three groups in the reference
    * (eventgate/lib/eventgate.js:230-232). One hash-agg
    * (partial+final) over any frame carrying partition_id and status (and
    * the stream column when routed).
    */
  def rollupRows(annotated: DataFrame, snapshotId: String, streamCol: Option[String]): DataFrame =
    annotated
      .groupBy(streamCol.map(s => col(s).as("stream")).toSeq :+ col("partition_id"): _*)
      .agg(
        count(when(col("status") === Status.Success, 1)).as("n_success"),
        count(when(col("status") === Status.Invalid, 1)).as("n_invalid"),
        count(when(col("status") === Status.Error, 1)).as("n_error")
      )
      .select(
        Seq(lit(snapshotId).as("snapshot_id")) ++ streamCol.map(_ => col("stream")) ++
          Seq(col("partition_id"), col("n_success"), col("n_invalid"), col("n_error")): _*
      )

  /** Decode `bytes`, measure PSNR vs the reference pixels recoverable from
    * the generated image_id. Runs only when pixel checks are enabled.
    */
  def decodeUdf(contentPool: Int) = udf { (bytes: Array[Byte], imageId: String, _: String) =>
    decode(bytes, imageId, contentPool)
  }

  /** The kernel behind [[decodeUdf]]: `ImageIO.read` semantics (same
    * readers, same sniffing order, same failures) without its per-call
    * reader construction, and PSNR over one scanline at a time instead of
    * per-pixel `getRGB`/`pixelAt` dispatch.
    */
  def decode(bytes: Array[Byte], imageId: String, contentPool: Int): DecodeOut =
    if (bytes == null) DecodeOut("bytes is null", -1, -1, Double.NaN)
    else
      try {
        val img = ImageReaders.read(bytes)
        if (img == null) DecodeOut("undecodable bytes", -1, -1, Double.NaN)
        else {
          val w = img.getWidth; val h = img.getHeight
          val psnr = SyntheticImages.indexOf(imageId) match {
            case Some(i) =>
              val ci = if (contentPool > 0) i % contentPool else i
              val sse = sumSquaredError(img, new SyntheticImages.Reference(ci, w, h))
              if (sse == 0.0) Double.PositiveInfinity
              else 10.0 * math.log10(255.0 * 255.0 * (w.toLong * h * 3) / sse)
            case None => Double.PositiveInfinity // unknown id: pattern check flags it, not PSNR
          }
          DecodeOut(null, w, h, psnr)
        }
      } catch {
        case e: Exception => DecodeOut(s"decode failed: ${e.getClass.getSimpleName}", -1, -1, Double.NaN)
      }

  /** Sum of squared channel differences between `img` and `ref`,
    * accumulated pixel by pixel, row-major, in B, G, R order. Works one
    * scanline at a time, so extra memory is O(width) whatever the image
    * size. TYPE_3BYTE_BGR rasters (what the PNG and JPEG readers return for
    * RGB data) are read as raw bytes, which is what their sRGB colour
    * model's getRGB returns; any other type goes through a bulk getRGB.
    */
  private def sumSquaredError(img: BufferedImage, ref: SyntheticImages.Reference): Double = {
    val w = img.getWidth; val h = img.getHeight
    val raw = img.getType == BufferedImage.TYPE_3BYTE_BGR
    val raster = img.getRaster
    val rgb = if (raw) new Array[Byte](3 * w) else null
    val argb = if (raw) null else new Array[Int](w)
    val want = new Array[Int](w)
    var sse = 0.0
    var y = 0
    while (y < h) {
      if (raw) raster.getDataElements(0, y, w, 1, rgb) else img.getRGB(0, y, w, 1, argb, 0, w)
      ref.row(y, want)
      var x = 0
      while (x < w) {
        // raw rasters hold R, G, B per pixel; getRGB packs 0xAARRGGBB
        val got = if (raw) ((rgb(3 * x) & 0xff) << 16) | ((rgb(3 * x + 1) & 0xff) << 8) | (rgb(3 * x + 2) & 0xff) else argb(x)
        var k = 0
        while (k < 3) {
          val d = ((got >> (k * 8)) & 0xff) - ((want(x) >> (k * 8)) & 0xff)
          sse += d.toDouble * d; k += 1
        }
        x += 1
      }
      y += 1
    }
    sse
  }

  /** `ImageIO.read(InputStream)` minus its per-call reader construction.
    * Formats are sniffed by the `ImageReaderSpi`s in the registry's own
    * order — the order `ImageIO.read` tries them in, first match wins —
    * over the stream class `ImageIO` uses when its disk cache is off; each
    * thread keeps one reader per SPI and resets it after every image.
    */
  private object ImageReaders {
    private val pool = ThreadLocal.withInitial[(Array[ImageReaderSpi], Array[ImageReader])] { () =>
      val spis = IIORegistry.getDefaultInstance.getServiceProviders(classOf[ImageReaderSpi], true).asScala.toArray
      (spis, new Array[ImageReader](spis.length))
    }

    def read(bytes: Array[Byte]): BufferedImage = {
      val (spis, readers) = pool.get()
      val stream = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
      try {
        var k = 0
        while (k < spis.length && !canDecode(spis(k), stream)) k += 1
        if (k == spis.length) null
        else {
          if (readers(k) == null) readers(k) = spis(k).createReaderInstance()
          val reader = readers(k)
          try {
            reader.setInput(stream, true, true)
            reader.read(0, reader.getDefaultReadParam)
          } finally reader.reset()
        }
      } finally stream.close()
    }

    /** ImageIO's own probe: an SPI that throws IOException cannot decode. */
    private def canDecode(spi: ImageReaderSpi, stream: ImageInputStream): Boolean =
      try {
        stream.mark()
        val ok = spi.canDecodeInput(stream)
        stream.reset()
        ok
      } catch { case _: IOException => false }
  }

  /** The reference's HTTP response matrix
    * (/root/reference/routes/events.js:95-144) as a pure rollup function:
    * 0 fail→201 · all invalid→400 · mixed (some success)→207 ·
    * all failed with ≥1 error→500 · empty input→400.
    */
  def statusMatrix(nSuccess: Long, nInvalid: Long, nError: Long): Int = {
    val fails = nInvalid + nError
    if (nSuccess + fails == 0) 400
    else if (fails == 0) 201
    else if (nSuccess == 0 && nError == 0) 400
    else if (nSuccess > 0) 207
    else 500
  }
}
