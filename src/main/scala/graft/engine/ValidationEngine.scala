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
  * as one declarative Catalyst pipeline:
  *
  *   default-fill → one-pass allErrors constraint eval → status triage →
  *   {valid, violations, rollups} frames.
  *
  * Everything is a single projection over the scan plus one aggregation for
  * the rollups: at 10^12 rows the constraint evaluation itself is
  * shuffle-free (narrow), and the only shuffle is the tiny
  * (partition_id, status) rollup.
  */
final class ValidationEngine(cs: ConstraintSet, opts: EngineOptions = EngineOptions()) extends Serializable {

  import ValidationEngine._

  def process(input: DataFrame): ValidationResult = {
    val inputCols = input.columns.toSeq

    val withPart = input.withColumn("partition_id", opts.partitionIdCol.cast("int"))

    // Optional decode stage: ONE UDF call per row, in the scan stage only;
    // its outputs feed both the engine_error column and two extra checks.
    val (decoded, fullCs) = opts.pixelChecks match {
      case None =>
        (withPart.withColumn("engine_error", lit(null).cast("string")), cs)
      case Some(pc) =>
        val dec = decodeUdf(pc.contentPool)
        val d = withPart
          .withColumn("_decode", dec(col("bytes"), col(opts.idField), col("fmt")))
          .withColumn("engine_error", col("_decode.err"))
        val dimsCheck = Predicate(
          "w",
          "dims_match(w,h)",
          col("_decode.err").isNotNull || (col("w") === col("_decode.w") && col("h") === col("_decode.h")),
          "should match decoded dimensions"
        )
        val psnrCheck = Predicate(
          "bytes",
          "pixel_invariant(bytes)",
          col("_decode.err").isNotNull || !col("fmt").isin(pc.lossyFmts.toSeq: _*) ||
            col("_decode.psnr") >= pc.psnrMin,
          s"decoded-pixel PSNR should be >= ${pc.psnrMin} dB"
        )
        (d, cs.copy(checks = cs.checks ++ Seq(dimsCheck, psnrCheck)))
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
    val problems = fullCs.lint
    require(problems.isEmpty, s"insecure constraint set: ${problems.mkString("; ")}")
    val filled = Compiler.applyFills(decoded, fullCs)
    val annotated = filled
      .withColumn(
        "status",
        when(col("engine_error").isNotNull, Status.Error)
          .when(!Compiler.allPass(fullCs), Status.Invalid)
          .otherwise(Status.Success)
      )
      .withColumn("violations", when(col("status") === Status.Invalid, Compiler.violationsArray(fullCs))
        .otherwise(array().cast("array<struct<constraint_id:string,field:string,detail:string>>")))

    val valid = annotated.filter(col("status") === Status.Success).select(inputCols.map(col): _*)

    val violations = ValidationEngine.violationRows(annotated, opts.snapshotId, opts.idField)

    // Per-partition rollup: one hash-agg (partial+final), all statuses
    // always present as columns — the batch analog of forcing all three
    // groups in the reference (/root/reference/lib/eventgate.js:230-232).
    val rollups = annotated
      .groupBy(col("partition_id"))
      .agg(
        count(when(col("status") === Status.Success, 1)).as("n_success"),
        count(when(col("status") === Status.Invalid, 1)).as("n_invalid"),
        count(when(col("status") === Status.Error, 1)).as("n_error")
      )
      .select(lit(opts.snapshotId).as("snapshot_id"), col("partition_id"), col("n_success"), col("n_invalid"), col("n_error"))

    ValidationResult(annotated, valid, violations, rollups)
  }
}

object ValidationEngine {

  /** ViolationRow projection from any annotated frame (must carry
    * partition_id, violations, engine_error, status + the id field) — used
    * by `process` and by ValidationJob when it re-derives violations from
    * the written failing slice instead of re-scanning the input.
    * Constraint violations keep full detail; engine errors are scrubbed to
    * message-only (/root/reference/lib/eventgate.js:42-60).
    */
  def violationRows(annotated: DataFrame, snapshotId: String, idField: String): DataFrame = {
    // ONE scan of `annotated` for both failure classes: a union of separate
    // invalid/error branches would re-derive the annotated subtree twice
    // (for an in-plan engine call that is two full constraint-eval — and,
    // with pixel checks, decode — passes over the input). Error rows become
    // a synthetic one-element violations array; the explode then emits
    // exactly the rows the old two-branch union produced.
    annotated
      .filter(col("status") === Status.Invalid || col("status") === Status.Error)
      .select(
        lit(snapshotId).as("snapshot_id"),
        col("partition_id"),
        col(idField).as("image_id"),
        explode(
          when(col("status") === Status.Invalid, col("violations"))
            .otherwise(array(struct(
              lit("engine_error").as("constraint_id"),
              lit("bytes").as("field"),
              col("engine_error").as("detail"))))
        ).as("v"),
        col("status")
      )
      .select(
        col("snapshot_id"),
        col("partition_id"),
        col("image_id"),
        col("v.constraint_id"),
        col("v.field"),
        col("v.detail"),
        col("status")
      )
  }

  /** Parquet-facing schema of [[violationRows]] (for empty-batch writes). */
  val violationRowSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("snapshot_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("partition_id", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("image_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("constraint_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("field", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("detail", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("status", org.apache.spark.sql.types.StringType)
    ))

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
