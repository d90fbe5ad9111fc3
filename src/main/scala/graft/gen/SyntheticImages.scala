package graft.gen

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.model.ImageRow

/** Deterministic synthetic image+caption generator (FIXTURES.md §B).
  *
  * The reference replays fixed `test_events` through its pipeline as a canary
  * (/root/reference/routes/events.js:176-181, config.yaml:92-97); this is the
  * batch analog: a seed-fixed generator whose planted violation rows are the
  * table-row analogs of the reference's invalid/error fixture events
  * (/root/reference/test/spec.test.yaml:94-348).
  *
  * Design constraints honored:
  *  - No randomness at run time: every field is a pure function of the row
  *    index `i` via splitmix64 — bit-stable across runs and partitionings.
  *  - `bytes` are REAL encoded PNG/JPEG (JDK javax.imageio), smooth gradient
  *    content so JPEG at quality 0.95 keeps PSNR well above the 40 dB
  *    invariant (BASELINE.json input_hint).
  *  - `image_id` is uuid-formatted with the row index embedded in the last
  *    hex group, so the reference pixel content is recoverable from the id
  *    alone (needed by the decoded-pixel invariant check).
  *  - Hot `phash` buckets (~8 values holding ~20% of rows) are planted to
  *    exercise skew-aware joins (SURVEY.md §7.4.7).
  *  - A `drift=true` variant shifts the (w,h) and fmt distributions so
  *    KS/PSI drift scores are reproducibly non-zero (FIXTURES.md §B.2).
  */
object SyntheticImages {

  // ---------------------------------------------------------------- RNG ----

  /** splitmix64 — public-domain mixing function; stateless per-index PRNG. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  private def mixAt(i: Long, stream: Long): Long = mix(i * 0x100000001b3L + stream)

  // ----------------------------------------------------------- image id ----

  /** uuid-format id; last 12-hex group = row index (recoverable). */
  def idOf(i: Long): String = {
    val a = mixAt(i, 1)
    f"${(a >>> 32) & 0xffffffffL}%08x-${(a >>> 16) & 0xffffL}%04x-4${a & 0xfffL}%03x-8${(a >>> 48) & 0xfffL}%03x-$i%012x"
  }

  /** Recover the row index from a well-formed generated id. */
  def indexOf(imageId: String): Option[Long] =
    if (imageId == null || imageId.length != 36) None
    else
      try Some(java.lang.Long.parseLong(imageId.substring(24), 16))
      catch { case _: NumberFormatException => None }

  // ------------------------------------------------------------- pixels ----

  /** Deterministic smooth-gradient RGB pixel for content index ci. */
  def pixelAt(ci: Long, w: Int, h: Int, x: Int, y: Int): Int = {
    // Wrap-free smooth gradient (a hard 255→0 wrap edge would tank JPEG
    // PSNR) plus a low-amplitude per-image sinusoid: without it, the
    // average-hash cell ordering is identical for every gradient image and
    // phash degenerates to one value (caught by runtime verification).
    val p = mixAt(ci, 2)
    val pr = (p & 0x3f).toInt; val pg = ((p >>> 8) & 0x3f).toInt; val pb = ((p >>> 16) & 0x3f).toInt
    val fx = 1 + ((p >>> 24) & 3).toInt; val fy = 1 + ((p >>> 26) & 3).toInt
    val phase = ((p >>> 28) & 0xff).toInt / 255.0 * 2 * math.Pi
    val wave = 24.0 * math.sin(2 * math.Pi * (fx.toDouble * x / math.max(w, 1) + fy.toDouble * y / math.max(h, 1)) + phase)
    val base = (64 + wave).toInt // 40..88, smooth
    val r = pr + base + x * 100 / math.max(w - 1, 1)
    val g = pg + base + y * 100 / math.max(h - 1, 1)
    val b = pb + base + (x + y) * 100 / math.max(w + h - 2, 1)
    (r << 16) | (g << 8) | b
  }

  /** [[pixelAt]] for image ci at size w×h, one row at a time: the same
    * arithmetic with the per-image constants and the per-column terms
    * computed once, and the per-row terms once per row. Bit-identical to
    * pixelAt; holds O(w) state.
    */
  final class Reference(ci: Long, w: Int, h: Int) {
    private val p = mixAt(ci, 2)
    private val pg = ((p >>> 8) & 0x3f).toInt; private val pb = ((p >>> 16) & 0x3f).toInt
    private val fy = 1 + ((p >>> 26) & 3).toInt
    private val phase = ((p >>> 28) & 0xff).toInt / 255.0 * 2 * math.Pi
    private val mh = math.max(h, 1); private val gy = math.max(h - 1, 1); private val bxy = math.max(w + h - 2, 1)
    private val waveX = {
      val fx = 1 + ((p >>> 24) & 3).toInt; val mw = math.max(w, 1)
      Array.tabulate(w)(x => fx.toDouble * x / mw)
    }
    private val redX = {
      val pr = (p & 0x3f).toInt; val rx = math.max(w - 1, 1)
      Array.tabulate(w)(x => pr + x * 100 / rx)
    }

    /** Writes row y's w pixels to `out(0 until w)`. */
    def row(y: Int, out: Array[Int]): Unit = {
      val waveY = fy.toDouble * y / mh
      val green = pg + y * 100 / gy
      var x = 0
      while (x < w) {
        val wave = 24.0 * math.sin(2 * math.Pi * (waveX(x) + waveY) + phase)
        val base = (64 + wave).toInt
        val r = redX(x) + base
        val g = green + base
        val b = pb + base + (x + y) * 100 / bxy
        out(x) = (r << 16) | (g << 8) | b
        x += 1
      }
    }
  }

  def renderImage(ci: Long, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, pixelAt(ci, w, h, x, y)); x += 1 }; y += 1 }
    img
  }

  /** 64-bit average-hash over an 8x8 luminance downsample — the phash. */
  def averageHash(img: BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    val cell = new Array[Double](64)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
        cell((y * 8 / h) * 8 + (x * 8 / w)) += lum
        x += 1
      }
      y += 1
    }
    val mean = cell.sum / 64
    var bits = 0L; var k = 0
    while (k < 64) { if (cell(k) > mean) bits |= (1L << k); k += 1 }
    bits
  }

  // ------------------------------------------------------------ encoder ----

  ImageIO.setUseCache(false)

  def encodePng(img: BufferedImage): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  def encodeJpeg(img: BufferedImage, quality: Float = 0.95f): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    val baos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.write(null, new IIOImage(img, null, null), param)
      ios.flush()
    } finally { writer.dispose(); ios.close() }
    baos.toByteArray
  }

  // ---------------------------------------------------------- row maker ----

  private val dimsBase = Array(16, 24, 32, 48, 64)
  private val dimsDrift = Array(32, 48, 64, 96, 128)
  private final val HotSalt = 0x68307468L // fixed salt for hot bucket values
  /** ~8 hot phash buckets holding ~20% of rows (skew plant). */
  val hotPhashes: Array[Long] = Array.tabulate(8)(k => mix(HotSalt + k))

  /** Planted anomaly classification for index i (test oracle by construction). */
  object Plant {
    def dupId(i: Long): Boolean = i % 1009 == 13 && i > 0
    def nullId(i: Long): Boolean = i % 997 == 17
    def badPatternId(i: Long): Boolean = i % 991 == 19
    def emptyCaption(i: Long): Boolean = i % 983 == 23
    def nullCaption(i: Long): Boolean = i % 977 == 29
    def badFmt(i: Long): Boolean = i % 971 == 31 || i % 967 == 37
    def nullFmt(i: Long): Boolean = i % 953 == 41 // default-fill target → "png"
    def bigW(i: Long): Boolean = i % 947 == 43
    def zeroW(i: Long): Boolean = i % 941 == 47
    def negH(i: Long): Boolean = i % 937 == 53
    def truncatedBytes(i: Long): Boolean = i % 929 == 59 // engine `error` status
    def dimsMismatch(i: Long): Boolean = i % 919 == 61
    def hotPhash(i: Long): Boolean = i % 5 == 4
    def orphanImage(i: Long): Boolean = i % 211 == 7 // image without caption row
    def danglingCaption(i: Long): Boolean = i % 223 == 9 // caption id not in images
  }

  /** Encoded-content cache for pooled generation (bench scale): when
    * contentPool > 0, dims/fmt/bytes/phash all derive from the pool index
    * ci, so at most `pool` images are ever encoded per JVM regardless of
    * row count. Determinism unaffected — the cache stores pure-function
    * results.
    */
  private val contentCache =
    new java.util.concurrent.ConcurrentHashMap[Long, (Array[Byte], Long, Int, Int, String)]()

  /** The cheap metadata slice of [[contentOf]]: (w, h, fmt) are pure
    * arithmetic over mixAt(ci, 3) — no render, no encode. Factored out so
    * meta-only generation and [[contentOf]] share one derivation.
    */
  private def dimsFmtOf(ci: Long, drift: Boolean): (Int, Int, String) = {
    val r = mixAt(ci, 3)
    val dims = if (drift) dimsDrift else dimsBase
    val w0 = dims(((r >>> 3) % dims.length).toInt.abs)
    val h0 = dims(((r >>> 13) % dims.length).toInt.abs)
    // fmt mix: base png-heavy, drift jpeg-heavy (reproducible drift in fmt PSI)
    val fdraw = ((r >>> 23) & 0xff).toInt
    val fmt0 = if (drift) { if (fdraw < 64) "png" else "jpeg" }
    else { if (fdraw < 160) "png" else "jpeg" }
    (w0, h0, fmt0)
  }

  private def contentOf(ci: Long, drift: Boolean, cache: Boolean): (Array[Byte], Long, Int, Int, String) = {
    def compute(): (Array[Byte], Long, Int, Int, String) = {
      val (w0, h0, fmt0) = dimsFmtOf(ci, drift)
      val img = renderImage(ci, w0, h0)
      val bytes0 = if (fmt0 == "png") encodePng(img) else encodeJpeg(img)
      (bytes0, averageHash(img), w0, h0, fmt0)
    }
    if (!cache) compute()
    else contentCache.computeIfAbsent(ci * 2 + (if (drift) 1 else 0), _ => compute())
  }

  /** phash without the PNG/JPEG encode: renders the pixels (the hash is a
    * function of them) but skips ImageIO encoding entirely — identical
    * value to [[contentOf]]'s phash by construction (same renderImage).
    */
  private def phashOf(ci: Long, drift: Boolean): Long = {
    val (w0, h0, _) = dimsFmtOf(ci, drift)
    averageHash(renderImage(ci, w0, h0))
  }

  /** Planted-anomaly decoration shared by [[rowOf]] and [[metaRowOf]] —
    * one implementation so the full and meta-only rows can never diverge.
    */
  private def decorate(i: Long, ci: Long, drift: Boolean, w0: Int, h0: Int, fmt0: String, phash0: Long): ImageMetaRow = {
    val caption0 = {
      val words = Array("ochre", "ridge", "harbor", "lantern", "mosaic", "drift", "meadow", "copper", "quiet", "signal")
      val k = mixAt(i, 4)
      val n = 3 + (k % (if (drift) 9 else 5)).toInt.abs
      (0 until n).map(j => words(((k >>> (j * 6)) % 10).toInt.abs)).mkString(" ") + f" #$ci%d"
    }
    // Planted anomalies (each overrides the clean value):
    val id =
      if (Plant.nullId(i)) null
      else if (Plant.dupId(i)) idOf(i - 1)
      else if (Plant.badPatternId(i)) s"not-a-uuid-$i"
      else idOf(i)
    val caption = if (Plant.nullCaption(i)) null else if (Plant.emptyCaption(i)) "" else caption0
    val fmt =
      if (Plant.nullFmt(i)) null
      else if (Plant.badFmt(i)) { if (i % 971 == 31) "bmp" else "tiff" }
      else fmt0
    val w = if (Plant.bigW(i)) 1 << 20 else if (Plant.zeroW(i)) 0 else if (Plant.dimsMismatch(i)) w0 + 1 else w0
    val h = if (Plant.negH(i)) -5 else h0
    val phash = if (Plant.hotPhash(i)) hotPhashes((i % 8).toInt) else phash0
    ImageMetaRow(id, w, h, fmt, caption, phash)
  }

  def rowOf(i: Long, drift: Boolean, contentPool: Int): ImageRow = {
    val ci = if (contentPool > 0) i % contentPool else i
    val (bytes0, phash0, w0, h0, fmt0) = contentOf(ci, drift, cache = contentPool > 0)
    val m = decorate(i, ci, drift, w0, h0, fmt0, phash0)
    val bytes = if (Plant.truncatedBytes(i)) bytes0.take(10) else bytes0
    ImageRow(m.image_id, bytes, m.w, m.h, m.fmt, m.caption, m.phash)
  }

  /** [[rowOf]] minus `bytes` (and, with `withPhash = false`, minus the
    * pixel render): every emitted field is byte-identical to the full row's
    * — id/caption/fmt/w/h are pure index arithmetic and phash comes from
    * the same renderImage — but the ImageIO encode (the dominant generation
    * cost) is skipped. For consumers that never read `bytes`: Parquet-style
    * column pruning cannot reach inside a mapPartitions generator, so the
    * pruning has to happen HERE, at row construction.
    */
  final case class ImageMetaRow(image_id: String, w: Int, h: Int, fmt: String, caption: String, phash: Long)

  def metaRowOf(i: Long, drift: Boolean, contentPool: Int, withPhash: Boolean): ImageMetaRow = {
    val ci = if (contentPool > 0) i % contentPool else i
    val (w0, h0, fmt0) = dimsFmtOf(ci, drift)
    val phash0 = if (withPhash) phashOf(ci, drift) else 0L
    decorate(i, ci, drift, w0, h0, fmt0, phash0)
  }

  // --------------------------------------------------------- generators ----

  /** Distributed deterministic generation: `spark.range` gives a stable
    * index→partition mapping; every column is a pure function of the index,
    * so the output is identical at any parallelism (scale-safe: no driver
    * loop, no collect — generation parallelism == numPartitions).
    */
  def images(spark: SparkSession, n: Long, numPartitions: Int, drift: Boolean = false, contentPool: Int = 0): Dataset[ImageRow] = {
    import spark.implicits._
    spark.range(0, n, 1, numPartitions).as[Long].mapPartitions(_.map(i => rowOf(i, drift, contentPool)))
  }

  /** Metadata-only generation ([[metaRowOf]]): same values for every
    * emitted column as [[images]], with the encode (and optionally the
    * render) skipped. Use whenever the consumer never touches `bytes` —
    * profiling, drift, referential checks, phash-based dedup.
    */
  def imagesMeta(spark: SparkSession, n: Long, numPartitions: Int, drift: Boolean = false,
      contentPool: Int = 0, withPhash: Boolean = true): Dataset[ImageMetaRow] = {
    import spark.implicits._
    spark.range(0, n, 1, numPartitions).as[Long]
      .mapPartitions(_.map(i => metaRowOf(i, drift, contentPool, withPhash)))
  }

  /** Captions side table: images minus planted orphans plus planted dangling
    * captions — referential violations both ways (FIXTURES.md §B.2).
    */
  def captions(spark: SparkSession, n: Long, numPartitions: Int): DataFrame = {
    import spark.implicits._
    spark
      .range(0, n, 1, numPartitions)
      .as[Long]
      .mapPartitions(_.flatMap { i =>
        val keep =
          if (Plant.orphanImage(i) || Plant.nullId(i)) Nil
          else {
            val id = if (Plant.dupId(i)) idOf(i - 1) else if (Plant.badPatternId(i)) s"not-a-uuid-$i" else idOf(i)
            val cap = if (Plant.nullCaption(i)) null else if (Plant.emptyCaption(i)) "" else s"caption of $i"
            Seq((id, cap))
          }
        val dangling = if (Plant.danglingCaption(i)) Seq((s"dangling-$i", s"caption with no image $i")) else Nil
        keep ++ dangling
      })
      .toDF("image_id", "caption")
  }
}
