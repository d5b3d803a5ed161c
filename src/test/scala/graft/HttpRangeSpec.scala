package graft

import graft.raster._
import org.scalatest.funsuite.AnyFunSuite

/** Exercises the remote-IO seam with a REAL remote source: an
  * in-process HTTP file server (Range-capable, with injectable 503s)
  * behind [[HttpRangeSource]] — format decoders unchanged. Proves
  * (a) ranged-GET reads are byte-identical to local reads for both the
  * positioned-decoder paths (GRB, and GeoTIFF: its IFDs and the tiles
  * a window touches), (b) the retry policy (the reference's
  * GDAL_HTTP_MAX_RETRY analog, `_rio.py:65-69`) absorbs transient
  * failures, and (c) non-transient failures fail fast.
  */
class HttpRangeSpec extends AnyFunSuite {

  private val failNext = new java.util.concurrent.atomic.AtomicInteger(0)
  private val nRequests = new java.util.concurrent.atomic.AtomicInteger(0)
  private val nBytes = new java.util.concurrent.atomic.AtomicLong(0)
  /** `bytes=0-0` length probes: one per input opened. */
  private val nProbes = new java.util.concurrent.atomic.AtomicInteger(0)

  private lazy val dir =
    java.nio.file.Files.createTempDirectory("graft_http_src").toString

  private lazy val server = {
    val s = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/", (exchange: com.sun.net.httpserver.HttpExchange) => {
      nRequests.incrementAndGet()
      if (failNext.getAndUpdate(v => math.max(v - 1, 0)) > 0) {
        exchange.sendResponseHeaders(503, -1)
        exchange.close()
      } else {
        val f = new java.io.File(dir, exchange.getRequestURI.getPath)
        if (!f.isFile) {
          exchange.sendResponseHeaders(404, -1)
          exchange.close()
        } else {
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          Option(exchange.getRequestHeaders.getFirst("Range")) match {
            case Some(r) =>
              if (r == "bytes=0-0") nProbes.incrementAndGet()
              val m = "bytes=(\\d+)-(\\d+)".r.findFirstMatchIn(r).get
              val a = m.group(1).toInt
              val b = math.min(m.group(2).toLong, bytes.length - 1L).toInt
              val slice = java.util.Arrays.copyOfRange(bytes, a, b + 1)
              exchange.getResponseHeaders.set(
                "Content-Range", s"bytes $a-$b/${bytes.length}")
              nBytes.addAndGet(slice.length)
              exchange.sendResponseHeaders(206, slice.length)
              exchange.getResponseBody.write(slice)
              exchange.close()
            case None =>
              exchange.sendResponseHeaders(200, bytes.length)
              exchange.getResponseBody.write(bytes)
              exchange.close()
          }
        }
      }
    })
    s.start()
    // fast-backoff instance for the suite (policy shape identical)
    RasterIO.register("http",
      new HttpRangeSource(maxRetries = 10, retryDelayMs = 1))
    s
  }
  private def base = s"http://127.0.0.1:${server.getAddress.getPort}"

  private lazy val g = Fixtures.sceneGeobox(0)
  private lazy val px = Fixtures.scenePixels(0)
  private lazy val grbPath = {
    val p = s"$dir/s.grb"
    Grb.writeWithOverviews(p, px, g, "uint16", Some(0.0))
    p
  }
  private lazy val tifPath = {
    val p = s"$dir/s.tif"
    Tiff.write(p, px, g, "uint16", Some(0.0), tileSize = Some(64))
    p
  }

  test("GRB header + window over http equal local reads, via few ranged GETs") {
    grbPath // materialize the served file before the first request
    val uri = s"$base/s.grb"
    assert(Grb.readHeader(uri) == Grb.readHeader(grbPath))
    val before = nRequests.get()
    val remote = Grb.readWindow(uri, 3, 5, 40, 20)._2
    val gets = nRequests.get() - before
    assert(remote.sameElements(Grb.readWindow(grbPath, 3, 5, 40, 20)._2))
    // span coalescing holds over http: a 40x20 window is a handful of
    // ranged GETs (one per coalesced row span + length probe), not 800
    assert(gets < 30, s"windowed read issued $gets GETs")
  }

  test("GeoTIFF over http equals local reads and fetches only the window's tiles") {
    tifPath // materialize the served file before the first request
    val uri = s"$base/s.tif"
    assert(Tiff.readHeader(uri) == Tiff.readHeader(tifPath))
    val remote = Tiff.readWindow(uri, 2, 2, 30, 30)
    assert(remote.sameElements(Tiff.readWindow(tifPath, 2, 2, 30, 30)))
    // a 2 MiB file: a window inside one 64² tile fetches a length probe,
    // one read-ahead block from the header on, and that tile if the block
    // missed it — not a stream through the whole file
    val bigGbox = graft.geo.GeoBox(1024, 1024, g.transform, g.crs)
    val big = Array.tabulate(1024 * 1024)(i => (i % 1024 + i / 1024).toDouble)
    Tiff.write(s"$dir/big.tif", big, bigGbox, "uint16", Some(0.0), tileSize = Some(64))
    val (before, bytesBefore) = (nRequests.get(), nBytes.get())
    val win = Tiff.readWindow(s"$base/big.tif", 70, 70, 30, 30)
    val (gets, bytes) = (nRequests.get() - before, nBytes.get() - bytesBefore)
    assert(win.toSeq == Tiff.readWindow(s"$dir/big.tif", 70, 70, 30, 30).toSeq)
    val fileBytes = new java.io.File(s"$dir/big.tif").length()
    assert(gets <= 4, s"windowed read issued $gets GETs")
    assert(bytes < fileBytes / 4, s"windowed read fetched $bytes of $fileBytes bytes")
  }

  test("a GRB paste read over http opens it once: one length probe") {
    grbPath // materialize the served file before the first request
    val before = nProbes.get()
    val out = Array.fill(g.width * g.height)(0.0)
    val filled = AutoReader.readInto(graft.model.RasterSource(s"$base/s.grb"),
      graft.model.RasterLoadParams(), g, 0.0, out)
    assert(filled == px.count(_ != 0.0).toLong)
    assert(nProbes.get() - before == 1, s"${nProbes.get() - before} length probes")
  }

  test("transient 503s are retried and the read still succeeds") {
    grbPath // materialize before priming failures
    failNext.set(3)
    val remote = Grb.readWindow(s"$base/s.grb", 0, 0, 16, 16)._2
    assert(remote.sameElements(Grb.readWindow(grbPath, 0, 0, 16, 16)._2))
    assert(failNext.get() == 0, "injected failures were never consumed")
  }

  test("retry budget exhausts into a loud IOException") {
    grbPath
    val src = new HttpRangeSource(maxRetries = 2, retryDelayMs = 1)
    failNext.set(100)
    val e = intercept[java.io.IOException] { src.readAll(s"$base/s.grb") }
    failNext.set(0)
    assert(e.getMessage.contains("after 3 attempts"), e.getMessage)
  }

  test("404 fails fast: no retry storm, exists() is false") {
    server
    val before = nRequests.get()
    assert(!RasterIO.exists(s"$base/missing.grb"))
    assert(nRequests.get() - before == 1, "404 must not be retried")
  }

  test("a zarr window over http: one GET per chunk, a missing chunk reads fill_value") {
    server
    val store = s"$dir/z.zarr"
    Zarr.write(store, "red", px, g, "uint16", Some(7.0), chunk = 64)
    java.nio.file.Files.delete(java.nio.file.Paths.get(store, "red", "0.1"))
    val before = nRequests.get()
    val remote = Zarr.readWindow(s"$base/z.zarr#red", 0, 0, 128, 64)
    // .zarray, .zattrs, chunk 0.0 and the 404 of chunk 0.1 (not retried)
    assert(nRequests.get() - before == 4, s"${nRequests.get() - before} GETs")
    assert(remote.sameElements(Zarr.readWindow(s"$store#red", 0, 0, 128, 64)))
    for (y <- 0 until 64; x <- 0 until 128)
      assert(remote(y * 128 + x) == (if (x < 64) px(y * g.width + x) else 7.0))
  }

  test("readAll matches the local bytes") {
    val local = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(grbPath))
    assert(RasterIO.readAll(s"$base/s.grb").sameElements(local))
  }
}
