package graft

import graft.geo._
import graft.raster.{AutoReader, Zarr}
import org.scalatest.funsuite.AnyFunSuite

/** Zarr v2 store I/O: chunked windowed reads, zlib chunks, fill_value
  * semantics for missing chunks, variable (= subdataset) addressing,
  * and sidecar pyramid levels. */
class ZarrSpec extends AnyFunSuite {

  private val tmp = java.nio.file.Files
    .createTempDirectory("graft_zarr").toString
  private val crs = Crs.Utm(35, south = true)

  private def gbox(w: Int, h: Int) =
    GeoBox(w, h, Affine.grid(500000, 8000000, 10, -10), crs)

  private def ramp(w: Int, h: Int, off: Double = 0.0): Array[Double] =
    Array.tabulate(w * h)(i => (i % 977).toDouble + off)

  test("write/read roundtrip: header + full window, raw and zlib") {
    for ((zlib, name) <- Seq((false, "raw.zarr"), (true, "zl.zarr"))) {
      val store = s"$tmp/$name"
      val (w, h) = (100, 70) // non-multiple of the 64-chunk edge
      val px = ramp(w, h)
      Zarr.write(store, "band", px, gbox(w, h), "uint16", Some(0.0),
        zlib = zlib)
      val hdr = Zarr.readHeader(store) // single variable: fragment optional
      assert(hdr.dtype == "uint16" && hdr.width == w && hdr.height == h)
      assert(hdr.nodata.contains(0.0) && hdr.geobox == gbox(w, h))
      assert(Zarr.readWindow(s"$store#band", 0, 0, w, h).toSeq == px.toSeq)
    }
  }

  test("NaN nodata roundtrips via zarr v2 quoted spelling (valid JSON)") {
    val store = s"$tmp/nan.zarr"
    val (w, h) = (10, 8)
    val px = ramp(w, h)
    // natural float nodata is NaN (dstNodata chain) — must not produce
    // a bare NaN token that jackson rejects on read-back
    Zarr.write(store, "band", px, gbox(w, h), "float32", Some(Double.NaN))
    val hdr = Zarr.readHeader(store)
    assert(hdr.nodata.exists(_.isNaN), s"nodata was ${hdr.nodata}")
    assert(Zarr.readWindow(s"$store#band", 0, 0, w, h).toSeq == px.toSeq)
  }

  test("windowed read decodes only intersecting chunks, exact values") {
    val store = s"$tmp/win.zarr"
    val (w, h) = (200, 130)
    val px = ramp(w, h)
    Zarr.write(store, "v", px, gbox(w, h), "float32", None, chunk = 64)
    // window straddling four chunks
    val got = Zarr.readWindow(store, 60, 60, 10, 10)
    for (y <- 0 until 10; x <- 0 until 10)
      assert(got(y * 10 + x) == px((60 + y) * w + (60 + x)))
  }

  test("missing chunk files read as fill_value") {
    val store = s"$tmp/fill.zarr"
    val (w, h) = (128, 64)
    Zarr.write(store, "v", ramp(w, h), gbox(w, h), "uint16", Some(7.0))
    // delete one chunk: zarr semantics say that region is fill_value
    val victim = new java.io.File(s"$store/v/0.1")
    assert(victim.isFile && victim.delete())
    val got = Zarr.readWindow(store, 0, 0, w, h)
    assert(got(10) != 7.0) // chunk (0,0) intact
    assert(got(64 + 10) == 7.0) // chunk (0,1) region -> fill
  }

  test("multi-variable store: explicit addressing required, loud misses") {
    val store = s"$tmp/multi.zarr"
    val (w, h) = (64, 32)
    Zarr.write(store, "red", ramp(w, h), gbox(w, h), "uint16", Some(0.0))
    Zarr.write(store, "nir", ramp(w, h, 5000), gbox(w, h), "uint16", Some(0.0))
    assert(Zarr.variables(store) == Seq("nir", "red"))
    val bare = intercept[IllegalArgumentException](Zarr.readHeader(store))
    assert(bare.getMessage.contains("store.zarr#<variable>"))
    val miss = intercept[IllegalArgumentException](
      Zarr.requireVariable(store, "swir"))
    assert(miss.getMessage.contains("'nir', 'red'"))
    assert(Zarr.readWindow(s"$store#nir", 0, 0, 1, 1).head == 5000.0)
  }

  test("sidecar pyramid levels enumerate per variable") {
    val store = s"$tmp/pyr.zarr"
    val (w, h) = (64, 64)
    Zarr.write(store, "v", ramp(w, h), gbox(w, h), "uint16", Some(0.0))
    Zarr.write(store, "v.ovr2", ramp(w / 2, h / 2),
      GeoBox(w / 2, h / 2, Affine.grid(500000, 8000000, 20, -20), crs),
      "uint16", Some(0.0))
    assert(Zarr.variables(store) == Seq("v")) // levels are not datasets
    val levels = Zarr.overviewLevels(s"$store#v")
    assert(levels == Seq(2 -> s"$store#v.ovr2"))
    assert(Zarr.readHeader(levels.head._2).geobox.resX == 20.0)
  }

  test("reader plugin: paste-path read through ZarrReader, band guard") {
    val store = s"$tmp/rd.zarr"
    val (w, h) = (96, 64)
    val g = gbox(w, h)
    val px = ramp(w, h)
    Zarr.write(store, "b", px, g, "uint16", Some(0.0))
    val src = graft.model.RasterSource(uri = store, subdataset = Some("b"))
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
}
