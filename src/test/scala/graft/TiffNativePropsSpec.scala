package graft

import graft.geo.{Affine, Crs, GeoBox}
import graft.raster.{RasterFormat, Tiff}
import org.scalatest.funsuite.AnyFunSuite

/** The native TIFF reader against the JDK's `javax.imageio` plugin, bit
  * for bit, on hand-built files ([[TiffBuilder]]): both byte orders,
  * tiles (with partial edge tiles) and strips, chunky and planar layouts,
  * none / Deflate, predictor 2, and every dtype the reader accepts.
  * Where the plugin cannot decode a layout (predictor 2 on 16- and 32-bit
  * samples) the written samples are the oracle. int8 is the one
  * deliberate difference: the plugin decodes it into an unsigned byte
  * buffer (-1 reads 255), the reader sign-extends, as the header's dtype
  * says. */
class TiffNativePropsSpec extends AnyFunSuite {

  private lazy val dir = TmpLanding.fresh("graft_tiff_native", "spec")
  private val dtypes = Seq("uint8", "int8", "uint16", "int16", "int32",
    "float32", "float64")

  /** A sample of `dtype` drawn over its whole range (floats: finite
    * values, ±0, ±infinity and the canonical NaN). */
  private def sample(dtype: String, rnd: scala.util.Random): Double = dtype match {
    case "uint8" => rnd.nextInt(256)
    case "int8" => rnd.nextInt(256) - 128
    case "uint16" => rnd.nextInt(65536)
    case "int16" => rnd.nextInt(65536) - 32768
    case "int32" => rnd.nextInt()
    case "float32" | "float64" =>
      rnd.nextInt(20) match {
        case 0 => Double.NaN
        case 1 => -0.0
        case 2 => Double.PositiveInfinity
        case 3 => Double.NegativeInfinity
        case _ =>
          val v = (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(12) - 4)
          if (dtype == "float32") v.toFloat.toDouble else v
      }
  }

  /** Mostly smooth planes (what compresses) with random samples mixed in. */
  private def planes(dtype: String, spp: Int, w: Int, h: Int,
                     rnd: scala.util.Random): Seq[Array[Double]] =
    (0 until spp).map { _ =>
      val base = sample(dtype, rnd)
      Array.tabulate(w * h) { i =>
        if (rnd.nextInt(4) == 0 || base.isNaN || base.isInfinite) sample(dtype, rnd)
        else dtype match {
          case "float32" => (base + i % w).toFloat.toDouble
          case "float64" => base + i % w * 0.25
          case _ => base
        }
      }
    }

  private def bits(a: Array[Double]): Seq[Long] =
    a.toSeq.map(java.lang.Double.doubleToRawLongBits)

  /** The plugin's samples of band `b` (0-based) of the window, with int8
    * re-signed. */
  private def imageIo(path: String, dtype: String, b: Int, x0: Int, y0: Int,
                      w: Int, h: Int): Array[Double] = {
    val r = javax.imageio.ImageIO.read(new java.io.File(path)).getRaster
    val s = r.getSamples(x0, y0, w, h, b, new Array[Double](w * h))
    if (dtype == "int8") s.map(_.toByte.toDouble) else s
  }

  /** Windows of a `w`×`h` image: the whole image and a few random ones. */
  private def windows(w: Int, h: Int, rnd: scala.util.Random): Seq[(Int, Int, Int, Int)] =
    (0, 0, w, h) +: Seq.fill(3) {
      val (x0, y0) = (rnd.nextInt(w), rnd.nextInt(h))
      (x0, y0, 1 + rnd.nextInt(w - x0), 1 + rnd.nextInt(h - y0))
    }

  /** `readWindow` and the paste fuse of every band and window of `path`
    * equal `want(b, window)`. */
  private def check(path: String, spp: Int, w: Int, h: Int,
                    rnd: scala.util.Random)(
      want: (Int, (Int, Int, Int, Int)) => Array[Double]): Unit =
    for (b <- 1 to spp; win @ (x0, y0, ww, wh) <- windows(w, h, rnd)) {
      val expect = want(b, win)
      val got = Tiff.readWindow(path, x0, y0, ww, wh, band = b)
      assert(bits(got) == bits(expect), s"$path band $b window $win")
      val out = Array.tabulate((w + 3) * (h + 2))(i => if (i % 3 == 0) 0.0 else -7.0)
      val ref = out.clone()
      val n = RasterFormat.read(path, b)(_.fuseWindowInto(x0, y0, ww, wh, 0.0, out,
        w + 3, 2, 1, 0.0))
      assert(n == RasterFormat.fuseInto(expect, ww, wh, 0.0, ref, w + 3, 2, 1, 0.0))
      assert(bits(out) == bits(ref), s"$path band $b window $win fuse")
    }

  test("native reads equal the ImageIO plugin's samples: byte orders, tiles and strips, layouts, codecs, dtypes") {
    val rnd = new scala.util.Random(20261020)
    var k = 0
    for (dtype <- dtypes; bigEndian <- Seq(false, true); compression <- Seq(1, 8);
         tiled <- Seq(true, false); planar <- Seq(1, 2)) {
      val spp = 1 + rnd.nextInt(3)
      val (w, h) = (1 + rnd.nextInt(70), 1 + rnd.nextInt(45))
      // the plugin undoes predictor 2 on 8-bit samples only
      val predictor = if (dtype.endsWith("int8") && compression != 1 && rnd.nextBoolean()) 2 else 1
      val layout = TiffBuilder.Layout(bigEndian,
        tile = if (tiled) Some((16 * (1 + rnd.nextInt(2)), 16 * (1 + rnd.nextInt(2)))) else None,
        rowsPerStrip = 1 + rnd.nextInt(h), planar = planar, predictor = predictor,
        compression = compression)
      val path = s"$dir/p$k.tif"
      k += 1
      val px = planes(dtype, spp, w, h, rnd)
      TiffBuilder.write(path, w, h, px, dtype, layout)
      assert(Tiff.numBands(path) == spp)
      val hd = Tiff.readHeader(path)
      assert(hd.dtype == dtype && hd.width == w && hd.height == h && hd.nodata.contains(0.0))
      assert(hd.geobox == GeoBox(w, h, Affine.grid(500000, 8000000, 10, -10),
        Crs.Utm(35, south = true)), s"$path $layout")
      check(path, spp, w, h, rnd) { case (b, (x0, y0, ww, wh)) =>
        val want = imageIo(path, dtype, b - 1, x0, y0, ww, wh)
        // the oracle decodes what was written (int8 aside, re-signed above)
        val written = Array.tabulate(ww * wh)(i => px(b - 1)((y0 + i / ww) * w + x0 + i % ww))
        assert(bits(want) == bits(written), s"$path: the plugin disagrees with the written samples")
        want
      }
    }
  }

  test("predictor 2 on 16- and 32-bit samples (which the plugin refuses) decodes to the written samples") {
    val rnd = new scala.util.Random(17)
    var k = 0
    for (dtype <- Seq("uint16", "int16", "int32", "float32"); bigEndian <- Seq(false, true);
         planar <- Seq(1, 2)) {
      val spp = 1 + rnd.nextInt(3)
      val (w, h) = (2 + rnd.nextInt(60), 1 + rnd.nextInt(40))
      val path = s"$dir/pred$k.tif"
      k += 1
      val px = planes(dtype, spp, w, h, rnd)
      TiffBuilder.write(path, w, h, px, dtype, TiffBuilder.Layout(bigEndian,
        tile = if (rnd.nextBoolean()) Some((16, 16)) else None,
        rowsPerStrip = 1 + rnd.nextInt(h), planar = planar, predictor = 2,
        compression = 8))
      intercept[javax.imageio.IIOException](javax.imageio.ImageIO.read(new java.io.File(path)))
      check(path, spp, w, h, rnd) { case (b, (x0, y0, ww, wh)) =>
        Array.tabulate(ww * wh)(i => px(b - 1)((y0 + i / ww) * w + x0 + i % ww))
      }
    }
  }

  test("PackBits files take the ImageIO path and read what the native codecs read") {
    val rnd = new scala.util.Random(3)
    val g = GeoBox(40, 24, Affine.grid(500000, 8000000, 10, -10), Crs.Utm(35, south = true))
    val px = Array.tabulate(40 * 24)(i => (i * 37 % 5000).toDouble)
    val packed = s"$dir/packbits.tif"
    val deflated = s"$dir/deflated.tif"
    Tiff.write(packed, px, g, "uint16", Some(0.0), tileSize = Some(16),
      compression = Some("PackBits"))
    Tiff.write(deflated, px, g, "uint16", Some(0.0), tileSize = Some(16),
      compression = Some("Deflate"))
    check(packed, 1, 40, 24, rnd) { case (_, (x0, y0, ww, wh)) =>
      val want = imageIo(packed, "uint16", 0, x0, y0, ww, wh)
      assert(bits(Tiff.readWindow(deflated, x0, y0, ww, wh)) == bits(want))
      want
    }
    // int8 through the plugin sign-extends like the native decode
    val (w, h) = (33, 17)
    val s8 = Seq(Array.fill(w * h)(sample("int8", rnd)))
    val p8 = s"$dir/packbits_int8.tif"
    val d8 = s"$dir/deflate_int8.tif"
    TiffBuilder.write(p8, w, h, s8, "int8", TiffBuilder.Layout(compression = 32773))
    TiffBuilder.write(d8, w, h, s8, "int8", TiffBuilder.Layout(compression = 8))
    assert(Tiff.readWindow(p8, 0, 0, w, h).toSeq == s8.head.toSeq)
    assert(Tiff.readWindow(d8, 0, 0, w, h).toSeq == s8.head.toSeq)
  }
}
