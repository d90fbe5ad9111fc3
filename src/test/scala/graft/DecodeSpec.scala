package graft

import java.io.ByteArrayInputStream
import java.util.concurrent.Executors
import javax.imageio.ImageIO

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{DecodeOut, ValidationEngine}
import graft.gen.SyntheticImages

/** The per-pixel decode kernel the engine used before its scanline
  * rewrite: a fresh `ImageIO.read` per row, then `getRGB` and
  * `SyntheticImages.pixelAt` per pixel. Kept as the differential reference.
  */
object DecodeReference {
  def decode(bytes: Array[Byte], imageId: String, contentPool: Int): DecodeOut =
    if (bytes == null) DecodeOut("bytes is null", -1, -1, Double.NaN)
    else
      try {
        val img = ImageIO.read(new ByteArrayInputStream(bytes))
        if (img == null) DecodeOut("undecodable bytes", -1, -1, Double.NaN)
        else {
          val w = img.getWidth; val h = img.getHeight
          val psnr = SyntheticImages.indexOf(imageId) match {
            case Some(i) =>
              val ci = if (contentPool > 0) i % contentPool else i
              var sse = 0.0
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val got = img.getRGB(x, y); val ref = SyntheticImages.pixelAt(ci, w, h, x, y)
                  var k = 0
                  while (k < 3) {
                    val d = ((got >> (k * 8)) & 0xff) - ((ref >> (k * 8)) & 0xff)
                    sse += d.toDouble * d; k += 1
                  }
                  x += 1
                }
                y += 1
              }
              if (sse == 0.0) Double.PositiveInfinity
              else 10.0 * math.log10(255.0 * 255.0 * (w.toLong * h * 3) / sse)
            case None => Double.PositiveInfinity
          }
          DecodeOut(null, w, h, psnr)
        }
      } catch {
        case e: Exception => DecodeOut(s"decode failed: ${e.getClass.getSimpleName}", -1, -1, Double.NaN)
      }
}

class DecodeSpec extends AnyFunSuite {

  private def same(a: DecodeOut, b: DecodeOut): Boolean =
    a.err == b.err && a.w == b.w && a.h == b.h &&
      java.lang.Double.doubleToRawLongBits(a.psnr) == java.lang.Double.doubleToRawLongBits(b.psnr)

  test("decode kernel matches the per-pixel reference bit for bit on 20k+ generated rows") {
    import SyntheticImages.Plant
    val rowsPerCase = 5200L
    // (drift, contentPool): unpooled and pooled content, both dims/fmt mixes
    val cases = for (drift <- Seq(false, true); pool <- Seq(0, 64)) yield (drift, pool)
    // Inputs outside the generator: null bytes, bytes no reader claims, and
    // bytes a reader claims but cannot decode (a WBMP-like 0,0 header).
    val odd = Seq[Array[Byte]](null, Array.fill(40)(7.toByte), Array[Byte](0, 0, 8, 8) ++ Array.fill(5)(1.toByte),
      Array[Byte](0, 0), Array.emptyByteArray)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val work = cases.flatMap { case (drift, contentPool) =>
        (0L until rowsPerCase by 400L).map { from =>
          Future {
            val outs = (from until math.min(from + 400L, rowsPerCase)).map { i =>
              val row = SyntheticImages.rowOf(i, drift, contentPool)
              val bytes = if (i % 1000 == 500) odd((i / 1000 % odd.size).toInt) else row.bytes
              val got = ValidationEngine.decode(bytes, row.image_id, contentPool)
              val want = DecodeReference.decode(bytes, row.image_id, contentPool)
              (i, got, want)
            }
            outs
          }
        }
      }
      val all = Await.result(Future.sequence(work), 10.minutes).flatten
      assert(all.size >= 20000)
      val bad = all.filterNot { case (_, g, w) => same(g, w) }
      assert(bad.isEmpty, s"${bad.size} mismatches, first: ${bad.take(3)}")

      val idx = all.map(_._1).toSet
      // every planted anomaly that reaches the decoder is in the sample
      for ((name, plant) <- Seq[(String, Long => Boolean)](
          "truncated bytes" -> Plant.truncatedBytes, "bmp/tiff fmt" -> Plant.badFmt,
          "dims mismatch" -> Plant.dimsMismatch, "null id" -> Plant.nullId, "bad id" -> Plant.badPatternId))
        assert(idx.exists(plant), s"no $name row in the sample")
      val outs = all.map(_._2)
      for (err <- Seq("bytes is null", "undecodable bytes"))
        assert(outs.exists(_.err == err), s"no '$err' outcome")
      assert(outs.exists(o => o.err != null && o.err.startsWith("decode failed")), "no decode failure")
      assert(outs.exists(o => o.err == null && o.psnr.isPosInfinity), "no lossless row")
      assert(outs.exists(o => o.err == null && !o.psnr.isInfinite), "no lossy row")
    } finally pool.shutdown()
  }

  test("a large image decodes to the reference result, PNG and JPEG") {
    val i = 4242L
    val img = SyntheticImages.renderImage(i, 2500, 1800)
    for (fmt <- Seq("png", "jpg")) {
      val buf = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, buf))
      val bytes = buf.toByteArray
      val got = ValidationEngine.decode(bytes, SyntheticImages.idOf(i), 0)
      val want = DecodeReference.decode(bytes, SyntheticImages.idOf(i), 0)
      assert(got.err == null && got.w == 2500 && got.h == 1800, s"$fmt: $got")
      assert(same(got, want), s"$fmt: $got vs $want")
    }
  }

  test("Reference rows equal pixelAt at every pixel of every generator size") {
    val sizes = Seq(1, 2, 16, 24, 32, 48, 64, 96, 128) // the generator's widths/heights, plus degenerate ones
    for (w <- sizes; h <- sizes; ci <- Seq(0L, 1L, 7L, 4095L, 123456789L, 400000123L)) {
      val ref = new SyntheticImages.Reference(ci, w, h)
      val row = new Array[Int](w)
      var y = 0
      while (y < h) {
        ref.row(y, row)
        var x = 0
        while (x < w) {
          val want = SyntheticImages.pixelAt(ci, w, h, x, y)
          if (row(x) != want) fail(s"ci=$ci ${w}x$h at ($x,$y): ${row(x)} != $want")
          x += 1
        }
        y += 1
      }
    }
  }
}
