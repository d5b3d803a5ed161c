package graft

import graft.geo._
import graft.load.Fuse
import graft.model.{RasterLoadParams, RasterSource}
import graft.raster._
import org.scalatest.funsuite.AnyFunSuite

/** Pixel-level golden tests mirroring the reference's reader suite
  * (`loader/test_reader.py:72-224`): whole/partial reads, dtype
  * conversion, nodata remap, smaller-src-than-dst, overview reads,
  * error paths. */
class RasterSpec extends AnyFunSuite {

  private val tmp = java.nio.file.Files
    .createTempDirectory("graft_raster_spec").toString
  private val crs = Crs.Utm(35, south = true)

  private def ramp(w: Int, h: Int, f: (Int, Int) => Double): Array[Double] = {
    val px = new Array[Double](w * h)
    for (y <- 0 until h; x <- 0 until w) px(y * w + x) = f(x, y)
    px
  }

  private def gbox(w: Int, h: Int, ox: Double = 500000, oy: Double = 8000000,
                   res: Double = 10): GeoBox =
    GeoBox(w, h, Affine.grid(ox, oy, res, -res), crs)

  test("GRB roundtrip: full read equals written pixels") {
    val g = gbox(64, 32)
    val px = ramp(64, 32, (x, y) => (y * 64 + x).toDouble)
    val path = s"$tmp/full.grb"
    Grb.write(path, px, g, "uint16", Some(0))
    val (hd, back) = Grb.readWindow(path, 0, 0, 64, 32)
    assert(hd.dtype == "uint16" && hd.nodata.contains(0.0))
    assert(back.toSeq == px.toSeq)
  }

  test("GRB windowed read seeks exactly the window") {
    val g = gbox(64, 32)
    val px = ramp(64, 32, (x, y) => (y * 1000 + x).toDouble)
    val path = s"$tmp/win.grb"
    Grb.write(path, px, g, "int32", None)
    val (_, win) = Grb.readWindow(path, 10, 5, 7, 3)
    for (y <- 0 until 3; x <- 0 until 7)
      assert(win(y * 7 + x) == ((5 + y) * 1000 + 10 + x).toDouble)
  }

  test("paste path: same-grid read is exact (whole and partial overlap)") {
    val g = gbox(64, 32)
    val px = ramp(64, 32, (x, y) => 1 + ((y * 64 + x) % 60000).toDouble)
    val path = s"$tmp/paste.grb"
    Grb.write(path, px, g, "uint16", Some(0))
    val src = RasterSource(path, geobox = None)
    val cfg = RasterLoadParams()
    // identical grid
    val Some((roi, out)) = AutoReader.read(src, cfg, g, 0.0)
    assert(roi == Roi(0, 0, 64, 32) && out.toSeq == px.toSeq)
    // dst shifted 16px east + 8px down, same res -> partial overlap
    val dst2 = gbox(64, 32, ox = 500000 + 16 * 10, oy = 8000000 - 8 * 10)
    val Some((roi2, out2)) = AutoReader.read(src, cfg, dst2, 0.0)
    assert(roi2 == Roi(0, 0, 48, 24))
    assert(out2(0) == px(8 * 64 + 16))
  }

  test("nodata remap: src 0 -> dst -99 and 0 -> NaN (float)") {
    val g = gbox(8, 4)
    val px = ramp(8, 4, (x, _) => if (x < 4) 0.0 else 7.0)
    val path = s"$tmp/nodata.grb"
    Grb.write(path, px, g, "uint16", Some(0))
    val src = RasterSource(path)
    val Some((_, remap)) = AutoReader.read(src, RasterLoadParams(), g, -99.0)
    assert(remap.take(4).forall(_ == -99.0) && remap(4) == 7.0)
    val Some((_, asNan)) = AutoReader.read(src, RasterLoadParams(), g, Double.NaN)
    assert(asNan.take(4).forall(_.isNaN) && asNan(4) == 7.0)
  }

  test("warp path: 2x coarser dst uses overview, values from decimated level") {
    val g = gbox(64, 64)
    val px = ramp(64, 64, (x, y) => (y * 64 + x).toDouble)
    val path = s"$tmp/ovr.grb"
    Grb.writeWithOverviews(path, px, g, "float32", None, shrinks = Seq(2, 4))
    val src = RasterSource(path)
    val dst = GeoBox(32, 32, Affine.grid(500000, 8000000, 20, -20), crs)
    val Some((roi, out)) = AutoReader.read(src, RasterLoadParams(), dst, Double.NaN)
    assert(roi == Roi(0, 0, 32, 32))
    // overview level 2 holds px[2y][2x]; nearest sampling of it at dst
    // pixel centers must reproduce those exact values
    assert(out(0) == 0.0 && out(1) == 2.0 && out(32) == 2.0 * 64)
    // disabling overviews samples the base image instead
    val Some((_, base)) = AutoReader.read(src,
      RasterLoadParams(useOverviews = false), dst, Double.NaN)
    // dst(1,0) center = world(500030, 7999990) -> base px (3,1) -> 64+3
    assert(base(1) == 67.0)
  }

  test("warp path: cross-CRS reprojection lands values within tolerance") {
    // source in UTM, destination in web mercator over the same area
    val g = gbox(64, 64)
    val px = ramp(64, 64, (x, y) => x.toDouble) // value = src column
    val path = s"$tmp/warp.grb"
    Grb.write(path, px, g, "float64", None)
    val fp = g.footprint(Crs.WebMercator)
    val dst = GeoBox.fromBBox(fp.bbox, 12, Crs.WebMercator)
    val src = RasterSource(path)
    val Some((_, out)) = AutoReader.read(src, RasterLoadParams(), dst, Double.NaN)
    val valid = out.filterNot(_.isNaN)
    assert(valid.nonEmpty)
    // column index increases west->east in both CRSs; check monotone trend
    assert(valid.min >= 0.0 && valid.max <= 63.0)
  }

  test("permissive mode returns None on missing file; strict throws") {
    val src = RasterSource(s"$tmp/definitely-missing.grb")
    assert(AutoReader.read(src, RasterLoadParams(failOnError = false),
      gbox(4, 4), 0.0).isEmpty)
    assertThrows[Exception] {
      AutoReader.read(src, RasterLoadParams(failOnError = true), gbox(4, 4), 0.0)
    }
  }

  test("strict read of a GRB with bad magic names the file") {
    val path = s"$tmp/badmagic.grb"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), new Array[Byte](64))
    val e = intercept[IllegalArgumentException] {
      AutoReader.read(RasterSource(path), RasterLoadParams(failOnError = true),
        gbox(4, 4), 0.0)
    }
    assert(e.getMessage.contains(path), e.getMessage)
  }

  test("RasterFormat.of: one case-folded extension switch, GRB by default") {
    import RasterFormat._
    val cases = Seq(
      "d/x.tif" -> TiffFormat, "d/X.TIF" -> TiffFormat, "d/x.tiff" -> TiffFormat,
      "d/x.grb" -> GrbFormat, "d/x.zarr#v" -> ZarrFormat,
      "d/x.nc#v" -> NetCdfFormat, "d/x.dat" -> GrbFormat)
    for ((uri, fmt) <- cases) assert(RasterFormat.of(uri) == fmt, uri)
    // directory listings keep only the recognised extensions
    assert(RasterFormat.isRaster("d/S.ZARR") && !RasterFormat.isRaster("d/x.dat"))
  }

  test("fuse: first valid pixel wins, later sources fill holes only (A2)") {
    val g = gbox(8, 4)
    // src A: left half valid (value 1), right half nodata
    val pa = ramp(8, 4, (x, _) => if (x < 4) 1.0 else 0.0)
    // src B: all valid (value 2)
    val pb = ramp(8, 4, (_, _) => 2.0)
    Grb.write(s"$tmp/fa.grb", pa, g, "uint16", Some(0))
    Grb.write(s"$tmp/fb.grb", pb, g, "uint16", Some(0))
    val (fused, valid) = Fuse.fill2dSlice(
      Seq(RasterSource(s"$tmp/fa.grb"), RasterSource(s"$tmp/fb.grb")),
      g, RasterLoadParams(), AutoReader, 0.0)
    assert(valid == 32)
    for (y <- 0 until 4; x <- 0 until 8)
      assert(fused(y * 8 + x) == (if (x < 4) 1.0 else 2.0))
    // order swapped: B first -> everything 2
    val (fused2, _) = Fuse.fill2dSlice(
      Seq(RasterSource(s"$tmp/fb.grb"), RasterSource(s"$tmp/fa.grb")),
      g, RasterLoadParams(), AutoReader, 0.0)
    assert(fused2.forall(_ == 2.0))
  }


  test("fused readInto: offset source clips and fuses identically to read()") {
    // dst 8x4 at origin; src 4x4 shifted right+down by 2 px: overlap is
    // dst[2..3][2..5] -- exercises the clip math in the fused paste path
    val dst = gbox(8, 4)
    val srcG = gbox(4, 4, ox = 500000 + 2 * 10, oy = 8000000 - 2 * 10)
    val px = ramp(4, 4, (x, y) => 10.0 + y * 4 + x)
    Grb.write(s"$tmp/off.grb", px, srcG, "uint16", Some(0))
    val out = Array.fill(8 * 4)(0.0)
    val filled = AutoReader.readInto(RasterSource(s"$tmp/off.grb"),
      RasterLoadParams(), dst, 0.0, out)
    assert(filled == 8) // 4 wide x 2 tall overlap
    for (y <- 0 until 4; x <- 0 until 8) {
      val expect =
        if (y >= 2 && x >= 2 && x < 6) 10.0 + (y - 2) * 4 + (x - 2) else 0.0
      assert(out(y * 8 + x) == expect, s"($x,$y)")
    }
    // equivalence with the two-pass read() path
    val (roi, pix) = AutoReader.read(RasterSource(s"$tmp/off.grb"),
      RasterLoadParams(), dst, 0.0).get
    for (y <- 0 until roi.h; x <- 0 until roi.w)
      assert(pix(y * roi.w + x) == out((roi.y0 + y) * 8 + (roi.x0 + x)))
  }

  test("fused readInto: NaN-nodata float source fuses like explicit nodata") {
    val g = gbox(4, 2)
    val px = Array(1.0, Double.NaN, 3.0, Double.NaN, 5.0, 6.0, Double.NaN, 8.0)
    Grb.write(s"$tmp/nansrc.grb", px, g, "float32", None) // no nodata: NaN-only
    val out = Array.fill(8)(Double.NaN)
    val filled = AutoReader.readInto(RasterSource(s"$tmp/nansrc.grb"),
      RasterLoadParams(), g, Double.NaN, out)
    assert(filled == 5)
    assert(out.toSeq.zip(px.toSeq).forall { case (o, p) =>
      (o.isNaN && p.isNaN) || o == p })
  }

  test("fused readInto: src value equal to dst nodata stays overwritable") {
    val g = gbox(4, 1)
    // src A: values (7, 0, 7, 7) with NO src nodata -> 0 is a VALID value
    Grb.write(s"$tmp/eqa.grb", Array(7.0, 0.0, 7.0, 7.0), g, "uint16", None)
    // src B: all 9s
    Grb.write(s"$tmp/eqb.grb", Array(9.0, 9.0, 9.0, 9.0), g, "uint16", None)
    val cfg = RasterLoadParams()
    val (fused, valid) = Fuse.fill2dSlice(
      Seq(RasterSource(s"$tmp/eqa.grb"), RasterSource(s"$tmp/eqb.grb")),
      g, cfg, AutoReader, 0.0) // dst nodata 0 collides with A's valid 0
    // A's 0 is written (reference paste semantics) but indistinguishable
    // from a hole, so B refills it with 9; no double-count in validCount
    assert(fused.toSeq == Seq(7.0, 9.0, 7.0, 7.0))
    assert(valid == 4)
    // TIFF sources take the same fused paste path, with the same rule
    Tiff.write(s"$tmp/eqa.tif", Array(7.0, 0.0, 7.0, 7.0), g, "uint16", None)
    Tiff.write(s"$tmp/eqb.tif", Array(9.0, 9.0, 9.0, 9.0), g, "uint16", None)
    val (fusedT, validT) = Fuse.fill2dSlice(
      Seq(RasterSource(s"$tmp/eqa.tif"), RasterSource(s"$tmp/eqb.tif")),
      g, cfg, AutoReader, 0.0)
    assert(fusedT.toSeq == Seq(7.0, 9.0, 7.0, 7.0))
    assert(validT == 4)
  }
  test("warp resampling kernels: bilinear interpolates, average pools (F16)") {
    // 2x2 checkerboard of 0/100 at res 10, read at 2x coarser (res 20):
    // nearest picks one corner; bilinear/average blend all four
    val g = gbox(2, 2)
    Grb.write(s"$tmp/rs.grb", Array(0.0, 100.0, 100.0, 0.0), g, "float64", None)
    val src = RasterSource(s"$tmp/rs.grb")
    val dst = GeoBox(1, 1, Affine.grid(500000, 8000000, 20, -20), crs)
    val Some((_, near)) = AutoReader.read(src,
      RasterLoadParams(useOverviews = false), dst, Double.NaN)
    assert(near(0) == 0.0 || near(0) == 100.0)
    val Some((_, bil)) = AutoReader.read(src,
      RasterLoadParams(resampling = "bilinear", useOverviews = false),
      dst, Double.NaN)
    assert(bil(0) == 50.0, s"bilinear at the center of 0/100/100/0 = 50, got ${bil(0)}")
    val Some((_, avg)) = AutoReader.read(src,
      RasterLoadParams(resampling = "average", useOverviews = false),
      dst, Double.NaN)
    assert(avg(0) == 50.0, s"average of 0/100/100/0 = 50, got ${avg(0)}")
  }

  test("bilinear ignores nodata neighbours (weight renormalization)") {
    val g = gbox(2, 2)
    // one nodata corner: bilinear at the center averages the other three
    Grb.write(s"$tmp/rsn.grb", Array(0.0, 100.0, 100.0, -1.0), g, "float64", Some(-1.0))
    val dst = GeoBox(1, 1, Affine.grid(500000, 8000000, 20, -20), crs)
    val Some((_, bil)) = AutoReader.read(RasterSource(s"$tmp/rsn.grb"),
      RasterLoadParams(resampling = "bilinear", useOverviews = false),
      dst, Double.NaN)
    // equal weights at the center; renormalized over the 3 valid corners
    assert(math.abs(bil(0) - 200.0 / 3) < 1e-9, s"got ${bil(0)}")
  }

  test("cubic/lanczos kernels: constants reproduce, cubic is linear-exact (F16)") {
    val g = gbox(8, 8)
    // constant field: renormalized kernels are a partition of unity
    Grb.write(s"$tmp/rsc.grb", Array.fill(64)(7.0), g, "float64", None)
    for (mode <- Seq("cubic", "lanczos")) {
      val dst = GeoBox(2, 2, Affine.grid(500015, 7999985, 15, -15), crs)
      val Some((_, out)) = AutoReader.read(RasterSource(s"$tmp/rsc.grb"),
        RasterLoadParams(resampling = mode, useOverviews = false),
        dst, Double.NaN)
      out.foreach(v => assert(math.abs(v - 7.0) < 1e-9, s"$mode constant: $v"))
    }
    // linear ramp v = column index: Catmull-Rom has linear precision, so
    // an interior sample at src px x returns exactly x - 0.5
    val ramp = Array.tabulate(64)(i => (i % 8).toDouble)
    Grb.write(s"$tmp/rsl.grb", ramp, g, "float64", None)
    // dst 1x1 res 15 at (500020, 7999980): center -> src px (2.75, 2.75)
    val dst1 = GeoBox(1, 1, Affine.grid(500020, 7999980, 15, -15), crs)
    val Some((_, cub)) = AutoReader.read(RasterSource(s"$tmp/rsl.grb"),
      RasterLoadParams(resampling = "cubic", useOverviews = false),
      dst1, Double.NaN)
    assert(math.abs(cub(0) - 2.25) < 1e-9, s"cubic on ramp: ${cub(0)} != 2.25")
    // lanczos approximates the ramp closely (windowed sinc: not exact)
    val Some((_, lcz)) = AutoReader.read(RasterSource(s"$tmp/rsl.grb"),
      RasterLoadParams(resampling = "lanczos", useOverviews = false),
      dst1, Double.NaN)
    assert(math.abs(lcz(0) - 2.25) < 0.1, s"lanczos on ramp: ${lcz(0)}")
  }

  test("cubic respects nodata holes; integer encode clips overshoot") {
    val g = gbox(8, 8)
    // all-nodata source: kernel must emit dst nodata, not 0/NaN garbage
    Grb.write(s"$tmp/rsnd.grb", Array.fill(64)(-1.0), g, "float64", Some(-1.0))
    val dst = GeoBox(1, 1, Affine.grid(500020, 7999980, 15, -15), crs)
    val Some((_, nd)) = AutoReader.read(RasterSource(s"$tmp/rsnd.grb"),
      RasterLoadParams(resampling = "cubic", useOverviews = false),
      dst, Double.NaN)
    assert(nd(0).isNaN, s"expected dst nodata, got ${nd(0)}")
    // integer encode clips (GDAL clip-on-convert): kernel overshoot past
    // the dtype range must saturate, not wrap 256 -> 0
    val enc = Fuse.encode(Array(256.4, -3.0, 254.6), "uint8")
    val dec = Fuse.decode(enc, "uint8")
    assert(dec.toSeq == Seq(255.0, 0.0, 255.0), dec.toSeq)
    val enc16 = Fuse.encode(Array(70000.0, -5.0), "uint16")
    assert(Fuse.decode(enc16, "uint16").toSeq == Seq(65535.0, 0.0))
  }

  test("pooled stat kernels: min/max/med/q1/q3/rms/gauss (F16 full matrix)") {
    // 2x2 window of 0/100/100/0 read at 2x shrink: every pooled stat has
    // a closed-form answer
    val g = gbox(2, 2)
    Grb.write(s"$tmp/rsp.grb", Array(0.0, 100.0, 100.0, 0.0), g, "float64", None)
    val src = RasterSource(s"$tmp/rsp.grb")
    val dst = GeoBox(1, 1, Affine.grid(500000, 8000000, 20, -20), crs)
    def run(mode: String): Double =
      AutoReader.read(src, RasterLoadParams(resampling = mode,
        useOverviews = false), dst, Double.NaN).get._2(0)
    assert(run("min") == 0.0)
    assert(run("max") == 100.0)
    // sorted [0,0,100,100]: med idx round(1.5)=2 -> 100, q1 idx 1 -> 0,
    // q3 idx 2 -> 100 (deterministic order statistics)
    assert(run("med") == 100.0)
    assert(run("q1") == 0.0)
    assert(run("q3") == 100.0)
    assert(math.abs(run("rms") - math.sqrt(5000.0)) < 1e-9)
    assert(math.abs(run("gauss") - 50.0) < 1e-9) // symmetric window
    // cubic_spline: smoothing B-spline still reproduces constants and
    // (interior) linear ramps exactly — partition of unity + linear
    // precision of the B-spline kernel
    val g8 = gbox(8, 8)
    val ramp = Array.tabulate(64)(i => (i % 8).toDouble)
    Grb.write(s"$tmp/rsbs.grb", ramp, g8, "float64", None)
    val dst1 = GeoBox(1, 1, Affine.grid(500020, 7999980, 15, -15), crs)
    val Some((_, bs)) = AutoReader.read(RasterSource(s"$tmp/rsbs.grb"),
      RasterLoadParams(resampling = "cubic_spline", useOverviews = false),
      dst1, Double.NaN)
    assert(math.abs(bs(0) - 2.25) < 1e-9, s"cubic_spline on ramp: ${bs(0)}")
  }

  test("compressed TIFF write (Deflate/LZW) roundtrips exactly and shrinks") {
    val g = gbox(64, 64)
    // compressible content: broad constant runs
    val px = Array.tabulate(64 * 64)(i => ((i / 512) * 100).toDouble)
    Tiff.write(s"$tmp/unc.tif", px, g, "uint16", Some(0.0))
    for (c <- Seq("Deflate", "LZW")) {
      val p = s"$tmp/comp_$c.tif"
      Tiff.write(p, px, g, "uint16", Some(0.0), compression = Some(c))
      assert(Tiff.readWindow(p, 0, 0, 64, 64).toSeq == px.toSeq, c)
      // windowed read through the compressed tiles too
      assert(Tiff.readWindow(p, 10, 20, 5, 4).toSeq ==
        (0 until 4).flatMap(y => (0 until 5).map(x =>
          px((20 + y) * 64 + 10 + x))), c)
      val hd = Tiff.readHeader(p)
      assert(hd.nodata.contains(0.0) && hd.width == 64)
      assert(new java.io.File(p).length() <
        new java.io.File(s"$tmp/unc.tif").length(), s"$c did not shrink")
    }
  }

  test("average resampling pools in the chosen overview level's pixels") {
    // 8x8 base with .ovr4; dst at 4x shrink with average: the pooling
    // window must be ~1 overview pixel, not `shrink` overview pixels
    val g = gbox(8, 8)
    val px = ramp(8, 8, (x, y) => (y * 8 + x).toDouble)
    Grb.writeWithOverviews(s"$tmp/avovr.grb", px, g, "float64", None, shrinks = Seq(4))
    val dst = GeoBox(2, 2, Affine.grid(500000, 8000000, 40, -40), crs)
    val Some((_, out)) = AutoReader.read(RasterSource(s"$tmp/avovr.grb"),
      RasterLoadParams(resampling = "average"), dst, Double.NaN)
    // ovr4 pixels are base px[4y][4x]: (0, 4, 32, 36); a 1-px average
    // window returns them exactly (the old base-shrink window blended all)
    assert(out.toSeq == Seq(0.0, 4.0, 32.0, 36.0), out.toSeq)
  }

  test("TIFF roundtrip: header + full/windowed reads match written pixels") {
    val g = gbox(64, 48)
    val px = ramp(64, 48, (x, y) => 1 + ((y * 64 + x) % 60000).toDouble)
    val path = s"$tmp/rt.tif"
    Tiff.write(path, px, g, "uint16", Some(0.0), tileSize = Some(16))
    val hd = Tiff.readHeader(path)
    assert(hd.dtype == "uint16" && hd.width == 64 && hd.height == 48)
    assert(hd.nodata.contains(0.0))
    assert(hd.geobox == g, s"geobox mismatch: ${hd.geobox} vs $g")
    assert(Tiff.readWindow(path, 0, 0, 64, 48).toSeq == px.toSeq)
    val win = Tiff.readWindow(path, 10, 5, 7, 3)
    for (y <- 0 until 3; x <- 0 until 7)
      assert(win(y * 7 + x) == px((5 + y) * 64 + 10 + x))
  }

  test("TIFF multi-band: writeBands + band-addressed reads (S7 multi-band)") {
    val g = gbox(48, 32)
    val planes = (1 to 3).map(b =>
      ramp(48, 32, (x, y) => (b * 10000 + y * 48 + x).toDouble))
    val path = s"$tmp/mb.tif"
    Tiff.writeBands(path, planes, g, "uint16", Some(0.0), tileSize = Some(16))
    val hd = Tiff.readHeader(path, band = 2)
    assert(hd.dtype == "uint16" && hd.width == 48 && hd.height == 32)
    assert(hd.geobox == g)
    for (b <- 1 to 3)
      assert(Tiff.readWindow(path, 0, 0, 48, 32, band = b).toSeq ==
        planes(b - 1).toSeq, s"band $b full read")
    val win = Tiff.readWindow(path, 10, 5, 7, 3, band = 3)
    for (y <- 0 until 3; x <- 0 until 7)
      assert(win(y * 7 + x) == planes(2)((5 + y) * 48 + 10 + x))
    // out-of-range band fails loudly — never silently reads band 1
    intercept[IllegalArgumentException](Tiff.readHeader(path, band = 4))
    intercept[IllegalArgumentException](
      Tiff.readWindow(path, 0, 0, 8, 8, band = 4))
    // the TIFF read path honors RasterSource.band end-to-end
    val cfg = RasterLoadParams()
    val Some((_, out)) = AutoReader.read(RasterSource(path, band = 2), cfg, g, 0.0)
    assert(out.toSeq == planes(1).toSeq)
    // GRB is single-band by format: band 2 must error, not read band 1
    val grb = s"$tmp/mb_guard.grb"
    Grb.write(grb, planes.head, g, "uint16", Some(0))
    intercept[IllegalArgumentException] {
      AutoReader.read(RasterSource(grb, band = 2), cfg, g, 0.0)
    }
    // 5-band stack (no standard java.awt color space) also round-trips
    val p5 = (1 to 5).map(b =>
      ramp(16, 8, (x, y) => (b * 100 + y * 16 + x).toDouble))
    val path5 = s"$tmp/mb5.tif"
    Tiff.writeBands(path5, p5, gbox(16, 8), "uint16", None, tileSize = None)
    for (b <- 1 to 5)
      assert(Tiff.readWindow(path5, 0, 0, 16, 8, band = b).toSeq ==
        p5(b - 1).toSeq, s"5-band stack band $b")
  }

  test("TIFF float32 + NaN nodata roundtrip") {
    val g = gbox(32, 16)
    val px = ramp(32, 16, (x, y) => if (x == 0) Double.NaN else x + y / 100.0)
    val path = s"$tmp/f32.tif"
    Tiff.write(path, px, g, "float32", Some(Double.NaN), tileSize = None)
    val hd = Tiff.readHeader(path)
    assert(hd.dtype == "float32" && hd.nodata.exists(_.isNaN))
    val back = Tiff.readWindow(path, 0, 0, 32, 16)
    for (i <- px.indices)
      assert(back(i).isNaN == px(i).isNaN &&
        (px(i).isNaN || math.abs(back(i) - px(i)) < 1e-4))
  }

  test("TiffReader parity: paste and warp match GrbReader pixel-for-pixel") {
    val g = gbox(64, 32)
    val px = ramp(64, 32, (x, y) => 1 + ((y * 64 + x) % 60000).toDouble)
    val grbPath = s"$tmp/par.grb"
    val tifPath = s"$tmp/par.tif"
    Grb.write(grbPath, px, g, "uint16", Some(0))
    Tiff.write(tifPath, px, g, "uint16", Some(0.0))
    val cfg = RasterLoadParams()
    // paste: identical grid
    val Some((rg, og)) = AutoReader.read(RasterSource(grbPath), cfg, g, 0.0)
    val Some((rt, ot)) = AutoReader.read(RasterSource(tifPath), cfg, g, 0.0)
    assert(rg == rt && og.toSeq == ot.toSeq)
    // warp: cross-CRS destination
    val dst = GeoBox.fromBBox(g.footprint(Crs.WebMercator).bbox, 12,
      Crs.WebMercator)
    val Some((rg2, og2)) = AutoReader.read(RasterSource(grbPath), cfg, dst, 0.0)
    val Some((rt2, ot2)) = AutoReader.read(RasterSource(tifPath), cfg, dst, 0.0)
    assert(rg2 == rt2 && og2.toSeq == ot2.toSeq)
    // and both equal the written pixels
    assert(AutoReader.read(RasterSource(tifPath), cfg, g, 0.0)
      .map(_._2.toSeq) == Some(px.toSeq))
    assert(AutoReader.read(RasterSource(grbPath), cfg, g, 0.0)
      .map(_._2.toSeq) == Some(px.toSeq))
  }

  test("TIFF overview subimages: 2x/4x/8x selected by shrink (S8)") {
    val g = gbox(64, 64)
    // value encodes position so decimated levels are distinguishable
    val px = ramp(64, 64, (x, y) => (y * 64 + x).toDouble)
    val path = s"$tmp/ovr.tif"
    Tiff.write(path, px, g, "uint16", None, tileSize = Some(16),
      overviews = Seq(2, 4, 8))
    assert(Tiff.overviewLevels(path) ==
      Seq((2, s"$path#1"), (4, s"$path#2"), (8, s"$path#3")))
    // 8x coarser destination must read the #3 subimage: nearest at the
    // level's own grid returns the decimation samples
    val dst = GeoBox(8, 8, Affine.grid(500000, 8000000, 80, -80), crs)
    val cfg = RasterLoadParams() // useOverviews = true
    val Some((_, out)) = AutoReader.read(RasterSource(path), cfg, dst, -1.0)
    // decimated level picks px(8y*64 + 8x)
    for (y <- 0 until 8; x <- 0 until 8)
      assert(out(y * 8 + x) == px(8 * y * 64 + 8 * x),
        s"overview pixel ($x,$y)")
    // with overviews disabled the base image feeds the same nearest warp
    val Some((_, base)) = AutoReader.read(RasterSource(path),
      cfg.copy(useOverviews = false), dst, -1.0)
    for (y <- 0 until 8; x <- 0 until 8)
      assert(base(y * 8 + x) == px((8 * y + 4) * 64 + (8 * x + 4)))
  }

  test("GRB deep-pyramid sidecars: any .ovrN participates (8x)") {
    val g = gbox(64, 64)
    val px = ramp(64, 64, (x, y) => (y * 64 + x).toDouble)
    val path = s"$tmp/deep.grb"
    Grb.writeWithOverviews(path, px, g, "float64", None, shrinks = Seq(2, 4, 8))
    val dst = GeoBox(8, 8, Affine.grid(500000, 8000000, 80, -80), crs)
    val Some((_, out)) = AutoReader.read(RasterSource(path),
      RasterLoadParams(), dst, -1.0)
    for (y <- 0 until 8; x <- 0 until 8)
      assert(out(y * 8 + x) == px(8 * y * 64 + 8 * x))
  }

  test("mode resampling elects the majority category; sum totals flux (F16)") {
    // 8x8 categorical source: left half class 1, right half class 2,
    // a single class-9 pixel that must never win a 4x majority
    val g = gbox(8, 8)
    val px = ramp(8, 8, (x, _) => if (x < 4) 1.0 else 2.0)
    px(0) = 9.0
    val path = s"$tmp/cat.grb"
    Grb.write(path, px, g, "uint8", None)
    // destination 2x2 at 4x coarser: each dst pixel pools a 4x4 window
    val dst = GeoBox(2, 2, Affine.grid(500000, 8000000, 40, -40), crs)
    val cfgMode = RasterLoadParams(resampling = "mode", useOverviews = false)
    val Some((_, m)) = AutoReader.read(RasterSource(path), cfgMode, dst, -1.0)
    assert(m.toSeq == Seq(1.0, 2.0, 1.0, 2.0))
    // sum: flux totals over the pooled window
    val cfgSum = RasterLoadParams(resampling = "sum", useOverviews = false)
    val Some((_, s)) = AutoReader.read(RasterSource(path), cfgSum, dst, -1.0)
    // upper-left: 15 ones + one 9 = 24; right quads: 16 twos = 32
    assert(s.toSeq == Seq(24.0, 32.0, 16.0, 32.0))
  }

  test("pickOverview semantics (S8)") {
    assert(Grb.pickOverview(1, Seq(2, 4)).isEmpty)
    assert(Grb.pickOverview(2, Seq(2, 4)).contains(0))
    assert(Grb.pickOverview(3, Seq(2, 4)).contains(0))
    assert(Grb.pickOverview(4, Seq(2, 4)).contains(1))
    assert(Grb.pickOverview(9, Seq(2, 4)).contains(1))
    assert(Grb.pickOverview(5, Nil).isEmpty)
  }

  test("dtype encode/decode roundtrip incl unsigned widening") {
    for (dt <- Seq("uint8", "int8", "uint16", "int16", "int32", "float32", "float64")) {
      val vals = Array(0.0, 1.0, 100.0)
      assert(Fuse.decode(Fuse.encode(vals, dt), dt).toSeq == vals.toSeq, dt)
    }
    // unsigned range survives
    assert(Fuse.decode(Fuse.encode(Array(65535.0), "uint16"), "uint16")(0) == 65535.0)
    assert(Fuse.decode(Fuse.encode(Array(255.0), "uint8"), "uint8")(0) == 255.0)
  }
}
