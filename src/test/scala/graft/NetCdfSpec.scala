package graft

import graft.geo._
import graft.raster.{AutoReader, Fixtures, Grb, NetCdf}
import org.scalatest.funsuite.AnyFunSuite

/** netCDF classic (CDF-1) container I/O: header parse, windowed ranged
  * reads, variable (= subdataset) addressing, GDAL grid-mapping and CF
  * coordinate-variable georeferencing, fill-value mapping. */
class NetCdfSpec extends AnyFunSuite {

  private val tmp = java.nio.file.Files
    .createTempDirectory("graft_nc").toString
  private val crs = Crs.Utm(35, south = true)

  private def gbox(w: Int, h: Int) =
    GeoBox(w, h, Affine.grid(500000, 8000000, 10, -10), crs)

  private def ramp(w: Int, h: Int, off: Double = 0.0): Array[Double] =
    Array.tabulate(w * h)(i => (i % 977).toDouble + off)

  test("write/read roundtrip: header + full window per dtype") {
    for (dtype <- Seq("int16", "int32", "float32", "float64")) {
      val path = s"$tmp/rt-$dtype.nc"
      val (w, h) = (100, 70)
      val px = ramp(w, h)
      NetCdf.write(path, Seq("band" -> px), gbox(w, h), dtype, Some(0.0))
      val hdr = NetCdf.readHeader(path) // single variable: fragment optional
      assert(hdr.dtype == dtype && hdr.width == w && hdr.height == h)
      assert(hdr.nodata.contains(0.0) && hdr.geobox == gbox(w, h))
      assert(NetCdf.readWindow(s"$path#band", 0, 0, w, h).toSeq == px.toSeq)
    }
  }

  test("windowed read: interior window is exact (ranged row reads)") {
    val path = s"$tmp/win.nc"
    val (w, h) = (200, 130)
    val px = ramp(w, h)
    NetCdf.write(path, Seq("v" -> px), gbox(w, h), "float64", None)
    val got = NetCdf.readWindow(path, 60, 60, 10, 10)
    for (y <- 0 until 10; x <- 0 until 10)
      assert(got(y * 10 + x) == px((60 + y) * w + (60 + x)))
  }

  test("multi-variable container: explicit addressing required, loud misses") {
    val path = s"$tmp/multi.nc"
    val (w, h) = (64, 32)
    NetCdf.write(path, Seq("red" -> ramp(w, h), "nir" -> ramp(w, h, 5000)),
      gbox(w, h), "int16", Some(0.0))
    // coordinate + grid-mapping vars are plumbing, not datasets
    assert(NetCdf.variables(path) == Seq("nir", "red"))
    val bare = intercept[IllegalArgumentException](NetCdf.readHeader(path))
    assert(bare.getMessage.contains("file.nc#<variable>"))
    val miss = intercept[IllegalArgumentException](
      NetCdf.readHeader(s"$path#swir"))
    assert(miss.getMessage.contains("'nir', 'red'"))
    assert(NetCdf.readWindow(s"$path#nir", 0, 0, 1, 1).head == 5000.0)
  }

  test("CF fallback: transform derived from coordinate axes when the " +
    "grid-mapping GeoTransform is absent") {
    val path = s"$tmp/gm.nc"
    val (w, h) = (64, 32)
    val g = gbox(w, h)
    NetCdf.write(path, Seq("v" -> ramp(w, h)), g, "int32", Some(0.0))
    // strip the GeoTransform attribute by rewriting the header bytes:
    // renaming it to an unrecognized attr keeps every offset identical
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val needle = "GeoTransform".getBytes("UTF-8")
    val idx = bytes.indexOfSlice(needle.toSeq)
    assert(idx > 0)
    System.arraycopy("XeoTransform".getBytes("UTF-8"), 0, bytes, idx,
      needle.length)
    val path2 = s"$tmp/gm-cf.nc"
    java.nio.file.Files.write(java.nio.file.Paths.get(path2), bytes)
    val hdr = NetCdf.readHeader(path2)
    assert(hdr.geobox == g) // derived from x/y cell-center axes
  }

  test("CDF-2 (64-bit offsets): force64 roundtrips bit-identical") {
    val path = s"$tmp/v2.nc"
    val (w, h) = (80, 50)
    val px = ramp(w, h)
    NetCdf.write(path, Seq("band" -> px), gbox(w, h), "int32", Some(0.0),
      force64 = true)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    assert(bytes(3) == 2, "magic version byte must be 2 (CDF-2)")
    val hdr = NetCdf.readHeader(path)
    assert(hdr.dtype == "int32" && hdr.width == w && hdr.height == h &&
      hdr.geobox == gbox(w, h))
    assert(NetCdf.readWindow(s"$path#band", 0, 0, w, h).toSeq == px.toSeq)
    // and the default stays CDF-1 for small files
    NetCdf.write(s"$tmp/v1.nc", Seq("band" -> px), gbox(w, h), "int32",
      Some(0.0))
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/v1.nc"))(3) == 1)
  }

  test("dim-order guard: (x, y)-ordered and unconfirmable dims are rejected") {
    val path = s"$tmp/dims.nc"
    val (w, h) = (64, 32)
    NetCdf.write(path, Seq("v" -> ramp(w, h)), gbox(w, h), "int16", Some(0.0))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    // header layout: magic(4) numrecs(4) dimTag(4) ndims(4), then
    // name("y") = len(4)+char(1)+pad(3) at 16..23, size at 24..27,
    // name("x") at 28..35 — the two dim-name chars sit at 20 and 32
    assert(bytes(20) == 'y' && bytes(32) == 'x')
    def patched(c0: Byte, c1: Byte): String = {
      val b = bytes.clone(); b(20) = c0; b(32) = c1
      val p = s"$tmp/dims-$c0$c1.nc"
      java.nio.file.Files.write(java.nio.file.Paths.get(p), b)
      p
    }
    val flipped = intercept[IllegalArgumentException](
      NetCdf.readHeader(patched('x', 'y')))
    assert(flipped.getMessage.contains("(x, y)-ordered"))
    val unknown = intercept[IllegalArgumentException](
      NetCdf.readHeader(patched('q', 'r')))
    assert(unknown.getMessage.contains("cannot confirm"))
  }

  test("reader plugin: paste-path read through NetCdfReader, band guard") {
    val path = s"$tmp/rd.nc"
    val (w, h) = (96, 64)
    val g = gbox(w, h)
    val px = ramp(w, h)
    NetCdf.write(path, Seq("b" -> px), g, "int16", Some(0.0))
    val src = graft.model.RasterSource(uri = path, subdataset = Some("b"))
    val Some((roi, out)) = AutoReader.read(src,
      graft.model.RasterLoadParams(failOnError = true), g, 0.0)
    assert(roi.w == w && roi.h == h)
    assert(out.toSeq == px.toSeq)
    // 2-D variables are single-band; band 2 must fail loudly
    assertThrows[IllegalArgumentException] {
      AutoReader.read(src.copy(band = 2),
        graft.model.RasterLoadParams(failOnError = true), g, 0.0)
    }
  }

  test("fixture parity: netCDF scenes decode identically to GRB scenes") {
    Fixtures.writeScenesNc(2)
    Fixtures.writeScenes(2)
    for (k <- 0 until 2; band <- Seq("red", "nir")) {
      val nc = NetCdf.readWindow(s"${Fixtures.ncPath(k)}#$band",
        0, 0, Fixtures.SceneW, Fixtures.SceneH)
      val hd = Grb.readHeader(Fixtures.grbPath(k, band))
      val (_, grb) = Grb.readWindow(Fixtures.grbPath(k, band),
        0, 0, hd.width, hd.height)
      assert(nc.toSeq == grb.toSeq, s"scene $k band $band")
    }
  }
}
