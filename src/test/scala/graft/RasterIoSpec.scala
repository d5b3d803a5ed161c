package graft

import graft.model.{RasterLoadParams, RasterSource}
import graft.raster._
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** Remote-IO seam spec (VERDICT r6 missing #1): every format decoder
  * resolves URIs through the [[RasterIO]] scheme registry. A counting
  * `testfs://` source that deliberately reports NO local file proves
  * (a) reads route through the registered source, (b) results are
  * byte-identical to direct local reads, and (c) the javax.imageio
  * fallback path (stream over [[RasterInput]], no java.io.File) decodes
  * TIFF windows correctly — the path a real object-store source takes.
  * It also counts `open`, `exists` and `readAll` calls apart, so that a
  * paste read is seen to open its source once.
  */
class RasterIoSpec extends AnyFunSuite {

  private object TestFs extends RasterByteSource {
    val calls = new AtomicInteger(0)
    val opens = new AtomicInteger(0)
    val existsCalls = new AtomicInteger(0)
    /** Every `readAll` uri, in call order. */
    val readAlls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private def local(uri: String): String = {
      require(uri.startsWith("testfs://"), s"not a testfs uri: $uri")
      calls.incrementAndGet()
      uri.stripPrefix("testfs://")
    }
    def open(uri: String): RasterInput = {
      opens.incrementAndGet()
      LocalFileSource.open(local(uri))
    }
    def readAll(uri: String): Array[Byte] = {
      readAlls.add(uri)
      LocalFileSource.readAll(local(uri))
    }
    def exists(uri: String): Boolean = {
      existsCalls.incrementAndGet()
      LocalFileSource.exists(local(uri))
    }
    def list(uri: String): Seq[String] = LocalFileSource.list(local(uri))
    def localFile(uri: String): Option[java.io.File] = { local(uri); None }
  }
  RasterIO.register("testfs", TestFs)

  private lazy val dir =
    java.nio.file.Files.createTempDirectory("graft_rasterio").toString
  private lazy val g = Fixtures.sceneGeobox(0)
  private lazy val px = Fixtures.scenePixels(0)

  test("GRB header+window reads route through the registered source") {
    val p = s"$dir/s.grb"
    Grb.writeWithOverviews(p, px, g, "uint16", Some(0.0))
    val before = TestFs.calls.get()
    val hd = Grb.readHeader(s"testfs://$p")
    assert(hd == Grb.readHeader(p))
    val w = Grb.readWindow(s"testfs://$p", 3, 5, 40, 20)._2
    assert(w.sameElements(Grb.readWindow(p, 3, 5, 40, 20)._2))
    assert(TestFs.calls.get() > before, "testfs source was never consulted")
  }

  test("zarr listing, metadata and chunk reads go through the seam") {
    val store = s"$dir/s.zarr"
    Zarr.write(store, "red", px, g, "uint16", Some(0.0))
    Zarr.write(store, "nir", px.map(v => if (v != 0.0) v + 1 else v), g,
      "uint16", Some(0.0), zlib = true)
    assert(Zarr.variables(s"testfs://$store") == Zarr.variables(store))
    val a = Zarr.readWindow(s"testfs://$store#nir", 2, 2, 30, 30)
    assert(a.sameElements(Zarr.readWindow(s"$store#nir", 2, 2, 30, 30)))
  }

  test("netCDF header and window reads go through the seam") {
    val p = s"$dir/s.nc"
    NetCdf.write(p, Seq("red" -> px), g, "int16", Some(0.0))
    val a = NetCdf.readWindow(s"testfs://$p#red", 1, 1, 25, 25)
    assert(a.sameElements(NetCdf.readWindow(s"$p#red", 1, 1, 25, 25)))
  }

  test("TIFF decodes through the no-local-File stream fallback") {
    val p = s"$dir/s.tif"
    Tiff.write(p, px, g, "uint16", Some(0.0), tileSize = Some(64))
    val before = TestFs.calls.get()
    val a = Tiff.readWindow(s"testfs://$p", 4, 4, 33, 17, 1)
    assert(a.sameElements(Tiff.readWindow(p, 4, 4, 33, 17, 1)))
    assert(TestFs.calls.get() > before)
  }

  /** `AutoReader.readInto` of `src` onto its own grid `g` (a paste read):
    * the pixels it filled, and the opens, `exists` calls and `readAll`
    * uris it took. */
  private def pasteRead(src: RasterSource, g: graft.geo.GeoBox)
  : (Long, Int, Int, Seq[String]) = {
    val (o, e) = (TestFs.opens.get(), TestFs.existsCalls.get())
    TestFs.readAlls.clear()
    val filled = AutoReader.readInto(src, RasterLoadParams(), g, 0.0,
      Array.fill(g.width * g.height)(0.0))
    import scala.jdk.CollectionConverters._
    (filled, TestFs.opens.get() - o, TestFs.existsCalls.get() - e,
      TestFs.readAlls.asScala.toSeq)
  }

  test("a paste read opens its source once: GRB, TIFF, subdataset TIFF, netCDF") {
    val grb = s"$dir/once.grb"
    Grb.write(grb, px, g, "uint16", Some(0.0))
    val tif = s"$dir/once.tif"
    Tiff.write(tif, px, g, "uint16", Some(0.0), tileSize = Some(64),
      compression = Some("Deflate"))
    val subs = s"$dir/once_subs.tif"
    Tiff.writeSubdatasets(subs, Seq(
      ("red", px, g, "uint16", Some(0.0)),
      ("nir", px.map(v => if (v != 0.0) v + 1 else v), g, "uint16", Some(0.0))))
    val nc = s"$dir/once.nc"
    NetCdf.write(nc, Seq("red" -> px, "nir" -> px), g, "int16", Some(0.0))
    val valid = px.count(_ != 0.0).toLong
    for ((name, src) <- Seq(
           "grb" -> RasterSource(s"testfs://$grb"),
           "tiff" -> RasterSource(s"testfs://$tif"),
           "subdataset tiff" -> RasterSource(s"testfs://$subs", subdataset = Some("nir")),
           "netcdf" -> RasterSource(s"testfs://$nc", subdataset = Some("nir")))) {
      val (filled, opens, exists, readAlls) = pasteRead(src, g)
      assert(filled == valid, name)
      assert(opens == 1, s"$name: $opens opens")
      assert(exists == 0 && readAlls.isEmpty, s"$name: $exists exists, $readAlls")
    }
  }

  test("a zarr paste read reads .zarray and .zattrs once, and only its chunks") {
    val store = s"$dir/once.zarr"
    Zarr.write(store, "red", px, g, "uint16", Some(0.0), chunk = 64, zlib = true)
    val (filled, opens, exists, readAlls) =
      pasteRead(RasterSource(s"testfs://$store", subdataset = Some("red")), g)
    assert(filled == px.count(_ != 0.0).toLong)
    assert(readAlls.count(_.endsWith("/.zarray")) == 1, readAlls)
    assert(readAlls.count(_.endsWith("/.zattrs")) == 1, readAlls)
    val chunks = ((g.width + 63) / 64) * ((g.height + 63) / 64)
    assert(readAlls.length == 2 + chunks && exists == 0 && opens == 0,
      s"$readAlls, $exists exists, $opens opens")
  }

  test("unregistered scheme fails loudly, naming the scheme") {
    val e = intercept[IllegalArgumentException] {
      RasterIO.open("s3://bucket/key.grb")
    }
    assert(e.getMessage.contains("'s3'"))
  }

  test("GraftIoPlugin registers conf-declared sources by class name") {
    GraftIoPlugin.registerFromConf(
      "plugfs:graft.PlugFsSource, plugfs2:graft.PlugFsSource")
    val p = s"$dir/plug.grb"
    Grb.write(p, px, g, "uint16", Some(0.0))
    assert(Grb.readHeader(s"plugfs://$p") == Grb.readHeader(p))
    assert(Grb.readHeader(s"plugfs2://$p") == Grb.readHeader(p))
    // malformed entries and unloadable classes fail loudly at startup
    intercept[IllegalArgumentException] {
      GraftIoPlugin.registerFromConf("notaclasspair")
    }
    intercept[ClassNotFoundException] {
      GraftIoPlugin.registerFromConf("x:no.such.Source")
    }
  }
}

/** No-arg-constructible source for the plugin spec: a `plugfs://` view
  * of the local filesystem. */
class PlugFsSource extends RasterByteSource {
  private def local(uri: String): String = uri.replaceFirst("^plugfs2?://", "")
  def open(uri: String): RasterInput = LocalFileSource.open(local(uri))
  def readAll(uri: String): Array[Byte] = LocalFileSource.readAll(local(uri))
  def exists(uri: String): Boolean = LocalFileSource.exists(local(uri))
  def list(uri: String): Seq[String] = LocalFileSource.list(local(uri))
  def localFile(uri: String): Option[java.io.File] = None
}
