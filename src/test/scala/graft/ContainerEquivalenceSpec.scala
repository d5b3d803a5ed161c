package graft

import graft.geo.{Affine, Crs, GeoBox}
import graft.raster.{Grb, NetCdf, RasterFormat, Zarr}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** One random plane with nodata holes, written as every container the
  * reader serves — GRB; TIFF tiled and stripped, uncompressed and
  * Deflate; zarr raw and zlib with one chunk file deleted; netCDF CDF-1
  * and CDF-2 — reads back the same through each: a window inside one
  * block, across blocks, on the image edge and over the whole image
  * equals the plane cropped (the zarr `fill_value` where its chunk is
  * missing), and the paste fuse into a half-filled `out` equals
  * [[RasterFormat.fuseInto]] of that window, bit for bit and in filled
  * count. */
class ContainerEquivalenceSpec extends AnyFunSuite {

  private lazy val dir = TmpLanding.fresh("graft_container_equiv", "spec")
  private val crs = Crs.Utm(35, south = true)
  private val Block = 16
  /** The zarr stores' `fill_value`, patched in after the write so that a
    * missing chunk reads apart from the nodata holes. */
  private val Fill = 7.0

  private def window(uri: String, x0: Int, y0: Int, w: Int, h: Int): Array[Double] =
    RasterFormat.read(uri, 1)(_.window(x0, y0, w, h))

  private def fuse(uri: String, x0: Int, y0: Int, w: Int, h: Int, srcNodata: Double,
                   out: Array[Double], outW: Int, dx0: Int, dy0: Int): Long =
    RasterFormat.read(uri, 1)(_.fuseWindowInto(x0, y0, w, h, srcNodata, out, outW,
      dx0, dy0, 0.0))

  private def bits(a: Array[Double]): Seq[Long] =
    a.toSeq.map(java.lang.Double.doubleToRawLongBits)

  /** A value of `dtype` other than the nodata 0. */
  private def value(dtype: String, rnd: scala.util.Random): Double = {
    val v = dtype match {
      case "int16" => (rnd.nextInt(65535) - 32767).toDouble
      case "int32" => rnd.nextInt().toDouble
      case "float32" => ((rnd.nextDouble() - 0.5) * 1e4).toFloat.toDouble
      case _ => (rnd.nextDouble() - 0.5) * 1e9
    }
    if (v == 0.0) 1.0 else v
  }

  /** (uri, missing chunk region `(x0, y0, x1, y1)`) of every container
    * holding `plane`. */
  private def containers(k: Int, plane: Array[Double], w: Int, h: Int,
                         dtype: String): Seq[(String, Option[(Int, Int, Int, Int)])] = {
    val g = GeoBox(w, h, Affine.grid(500000, 8000000, 10, -10), crs)
    val grb = s"$dir/p$k.grb"
    Grb.write(grb, plane, g, dtype, Some(0.0))
    val tiffs = for {
      (layout, lname) <- Seq(
        TiffBuilder.Layout(tile = Some((Block, Block))) -> "tiled",
        TiffBuilder.Layout(rowsPerStrip = Block / 2) -> "stripped")
      compression <- Seq(1, 8)
    } yield {
      val p = s"$dir/p${k}_${lname}_c$compression.tif"
      TiffBuilder.write(p, w, h, Seq(plane), dtype, layout.copy(compression = compression))
      p
    }
    val zarrs = Seq(false, true).map { zlib =>
      val store = s"$dir/p${k}_z$zlib.zarr"
      Zarr.write(store, "v", plane, g, dtype, Some(0.0), chunk = Block, zlib = zlib)
      Files.delete(Paths.get(store, "v", "1.1"))
      val za = Paths.get(store, "v", ".zarray")
      val meta = new String(Files.readAllBytes(za), "UTF-8")
      Files.write(za, meta.replaceFirst("\"fill_value\": [^,}]+",
        s""""fill_value": ${Fill.toInt}""").getBytes("UTF-8"))
      s"$store#v" -> Some((Block, Block, math.min(w, 2 * Block), math.min(h, 2 * Block)))
    }
    val ncs = Seq(false, true).map { v64 =>
      val p = s"$dir/p${k}_cdf$v64.nc"
      NetCdf.write(p, Seq("v" -> plane), g, dtype, Some(0.0), force64 = v64)
      s"$p#v"
    }
    ((grb +: tiffs) ++ ncs).map(_ -> None) ++ zarrs
  }

  /** Windows of a `w`×`h` plane of `Block`-edged blocks: inside one
    * block, across blocks, on the right and bottom edges, and the whole
    * plane. */
  private def windows(w: Int, h: Int, rnd: scala.util.Random): Seq[(Int, Int, Int, Int)] = {
    def inside = {
      val (bx, by) = (rnd.nextInt(w / Block), rnd.nextInt(h / Block))
      val (x0, y0) = (bx * Block + rnd.nextInt(Block), by * Block + rnd.nextInt(Block))
      (x0, y0, 1 + rnd.nextInt((bx + 1) * Block - x0), 1 + rnd.nextInt((by + 1) * Block - y0))
    }
    def across = {
      val (x0, y0) = (rnd.nextInt(Block), rnd.nextInt(Block))
      (x0, y0, Block - x0 + 1 + rnd.nextInt(w - Block), Block - y0 + 1 + rnd.nextInt(h - Block))
    }
    def edge = {
      val (x0, y0) = (rnd.nextInt(w), rnd.nextInt(h))
      (x0, y0, w - x0, h - y0)
    }
    (0, 0, w, h) +: (Seq.fill(3)(inside) ++ Seq.fill(3)(across) ++ Seq.fill(3)(edge))
  }

  test("every container reads and fuses the same plane the same") {
    val rnd = new scala.util.Random(20261021)
    var k = 0
    for (dtype <- Seq("int16", "int32", "float32", "float64"); _ <- 0 until 2) {
      val (w, h) = (2 * Block + 1 + rnd.nextInt(40), 2 * Block + 1 + rnd.nextInt(30))
      val plane = Array.tabulate(w * h)(_ => if (rnd.nextInt(5) == 0) 0.0 else value(dtype, rnd))
      for ((uri, missing) <- containers(k, plane, w, h, dtype);
           win @ (x0, y0, ww, wh) <- windows(w, h, rnd)) {
        val want = Array.tabulate(ww * wh) { i =>
          val (x, y) = (x0 + i % ww, y0 + i / ww)
          if (missing.exists { case (a, b, c, d) => x >= a && x < c && y >= b && y < d }) Fill
          else plane(y * w + x)
        }
        val got = window(uri, x0, y0, ww, wh)
        assert(bits(got) == bits(want), s"$uri ($dtype) window $win")
        val srcNodata = if (rnd.nextBoolean()) 0.0 else Double.NaN
        val outW = w + 5
        val out = Array.tabulate(outW * (h + 3)) { i =>
          rnd.nextInt(3) match { case 0 => 0.0; case 1 => Double.NaN; case _ => -3.0 - i }
        }
        val ref = out.clone()
        val n = fuse(uri, x0, y0, ww, wh, srcNodata, out, outW, 3, 2)
        assert(n == RasterFormat.fuseInto(want, ww, wh, srcNodata, ref, outW, 3, 2, 0.0),
          s"$uri ($dtype) window $win fuse count")
        assert(bits(out) == bits(ref), s"$uri ($dtype) window $win fuse")
      }
      k += 1
    }
  }
}
