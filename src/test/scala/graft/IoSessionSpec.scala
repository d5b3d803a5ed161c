package graft

import graft.load.Load
import graft.raster._
import graft.stac.StacParse
import org.scalatest.funsuite.AnyFunSuite

/** The credential capture/restore seam (the reference's `_aws.py` +
  * `capture_rio_env`/worker-restore analog): an in-process HTTP server
  * REQUIRES an Authorization bearer token; credentials configured on
  * the driver are captured at plan time, ride a broadcast into the
  * read tasks, and are restored into the executor-JVM registry before
  * the first pixel read — format decoders unchanged. Credentials are
  * origin-scoped: the token reaches ONLY the configured host, never
  * other hosts in a mixed-source catalog. */
class IoSessionSpec extends AnyFunSuite {
  import GraftSpark.spark

  private val Token = "graft-test-token-1337"

  private def mkServer(requireAuth: Boolean,
      sawAuth: java.util.concurrent.atomic.AtomicBoolean = null) = {
    val s = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      if (sawAuth != null && auth.nonEmpty) sawAuth.set(true)
      if (requireAuth && !auth.contains(s"Bearer $Token")) {
        ex.sendResponseHeaders(401, -1)
        ex.close()
      } else {
        val f = new java.io.File(Fixtures.dir.toString,
          ex.getRequestURI.getPath)
        if (!f.isFile) { ex.sendResponseHeaders(404, -1); ex.close() }
        else {
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          Option(ex.getRequestHeaders.getFirst("Range")) match {
            case Some(r) =>
              val m = "bytes=(\\d+)-(\\d+)".r.findFirstMatchIn(r).get
              val a = m.group(1).toInt
              val b = math.min(m.group(2).toLong, bytes.length - 1L).toInt
              val slice = java.util.Arrays.copyOfRange(bytes, a, b + 1)
              ex.getResponseHeaders.set(
                "Content-Range", s"bytes $a-$b/${bytes.length}")
              ex.sendResponseHeaders(206, slice.length)
              ex.getResponseBody.write(slice)
              ex.close()
            case None =>
              ex.sendResponseHeaders(200, bytes.length)
              ex.getResponseBody.write(bytes)
              ex.close()
          }
        }
      }
    })
    s.start()
    s
  }

  private lazy val server = mkServer(requireAuth = true)
  private def base = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Fixture items with hrefs pointing at the given server base. */
  private def httpItems(n: Int, serverBase: String): Seq[String] = {
    val jsons = Fixtures.writeScenes(n)
    jsons.map(_.replace(s"file://${Fixtures.dir}", serverBase))
  }

  private def loadTiles(n: Int, serverBase: String) = {
    import spark.implicits._
    val (ds, schemas) = StacParse.parseItems(spark,
      spark.createDataset(httpItems(n, serverBase)))
    val items = ds.collect().toSeq.sortBy(_.id)
    Load.load(spark, items, schemas, bands = Seq("red"),
      groupby = "id", chunks = 64).tiles
      .select("band", "tIdx", "ty", "tx", "validCount").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4))).sortBy(_.toString)
  }

  private def resetHttp(): Unit = {
    IoSession.clear()
    IoSession.capture().foreach(IoSession.restore(_))
    RasterIO.register("http", new HttpRangeSource())
  }

  test("authed load: driver-configured credentials restore in read tasks") {
    try {
      server
      IoSession.configure(Map(
        base -> Map("Authorization" -> s"Bearer $Token")))
      val remote = loadTiles(2, base)
      assert(remote.nonEmpty)
      // same pixels as the plain local-file load
      import spark.implicits._
      val jsons = Fixtures.writeScenes(2)
      val (ds, schemas) = StacParse.parseItems(spark,
        spark.createDataset(jsons))
      val items = ds.collect().toSeq.sortBy(_.id)
      val local = Load.load(spark, items, schemas, bands = Seq("red"),
        groupby = "id", chunks = 64).tiles
        .select("band", "tIdx", "ty", "tx", "validCount").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getLong(4))).sortBy(_.toString)
      assert(remote.sameElements(local))
    } finally resetHttp()
  }

  test("credentials for one origin are NOT sent to other hosts") {
    val sawAuth = new java.util.concurrent.atomic.AtomicBoolean(false)
    val open = mkServer(requireAuth = false, sawAuth = sawAuth)
    try {
      server
      // bearer configured for the AUTHED origin only; the load reads
      // from the open server on a different port (a different origin)
      IoSession.configure(Map(
        base -> Map("Authorization" -> s"Bearer $Token")))
      val openBase = s"http://127.0.0.1:${open.getAddress.getPort}"
      val tiles = loadTiles(1, openBase)
      assert(tiles.nonEmpty)
      assert(!sawAuth.get,
        "bearer token for the configured origin leaked to another host")
    } finally { open.stop(0); resetHttp() }
  }

  test("without credentials the authed read fails fast (401, no retry storm)") {
    resetHttp()
    RasterIO.register("http", new HttpRangeSource(retryDelayMs = 1))
    try {
      val t0 = System.nanoTime()
      val e = intercept[Exception] { loadTiles(1, base) }
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      val msg = Option(e.getCause).fold(e.getMessage)(c =>
        e.getMessage + " " + c.getMessage)
      assert(msg.contains("401") || e.getMessage.contains("401"),
        s"expected 401 failure, got: ${e.getMessage}")
      // 401 is non-retryable: no backoff loop against an auth wall
      assert(elapsedMs < 30000, s"401 should fail fast, took ${elapsedMs}ms")
    } finally resetHttp()
  }

  test("clear() de-registers: a later load stops sending the token") {
    try {
      server
      IoSession.configure(Map(
        base -> Map("Authorization" -> s"Bearer $Token")))
      assert(loadTiles(1, base).nonEmpty)
      // clear produces a versioned EMPTY payload; restoring it strips
      // the origin headers, so the authed endpoint now rejects us
      IoSession.clear()
      val cleared = IoSession.capture()
      assert(cleared.exists(_.origins.isEmpty))
      RasterIO.register("http", new HttpRangeSource(retryDelayMs = 1))
      IoSession.restore(cleared.get)
      val e = intercept[Exception] { loadTiles(1, base) }
      val msg = Option(e.getCause).fold(e.getMessage)(c =>
        e.getMessage + " " + c.getMessage)
      assert(msg.contains("401") || e.getMessage.contains("401"),
        s"expected 401 after clear(), got: ${e.getMessage}")
    } finally resetHttp()
  }

  test("restore decorates; custom plugin-registered sources are preserved") {
    object CustomSource extends RasterByteSource {
      def open(uri: String): RasterInput = LocalFileSource.open(uri)
      def readAll(uri: String): Array[Byte] = LocalFileSource.readAll(uri)
      def exists(uri: String): Boolean = false
      def list(uri: String): Seq[String] = Seq.empty
      def localFile(uri: String): Option[java.io.File] = None
    }
    RasterIO.register("xcustom", CustomSource)
    try {
      val c = IoSession.configure(Map(
        "xcustom://h" -> Map("Authorization" -> "Bearer t")))
      IoSession.restore(c)
      // default withOriginHeaders is a no-op: the deployment's source
      // keeps its identity — never silently replaced by an HTTP default
      assert(RasterIO.get("xcustom").exists(_ eq CustomSource))
      // an HttpRangeSource keeps its tuning across decoration
      val tuned = new HttpRangeSource(maxRetries = 3, retryDelayMs = 7)
      val dec = tuned.withOriginHeaders(Map("http://h" -> Map("a" -> "b")))
      assert(dec.maxRetries == 3 && dec.retryDelayMs == 7 &&
        dec.originHeaders.nonEmpty)
      // re-decoration REPLACES origin headers (no staling/stacking)
      assert(dec.withOriginHeaders(Map.empty).originHeaders.isEmpty)
    } finally resetHttp()
  }

  test("credential payload is masked, versioned, and origin-scoped") {
    val c1 = IoSession.configure(Map(
      "https://data.example.com" -> Map("Authorization" -> s"Bearer $Token")))
    val c2 = IoSession.configure(Map(
      "https://data.example.com" -> Map("Authorization" -> s"Bearer $Token")))
    try {
      // toString must never leak the token (closure/log hygiene)
      assert(!c1.toString.contains(Token) &&
        c1.toString.contains("data.example.com"))
      // refresh bumps the version so executors re-install
      assert(c2.version > c1.version)
      // bare-scheme credentials are refused — that's the cross-host leak
      intercept[IllegalArgumentException] {
        IoSession.configure(Map("https" -> Map("Authorization" -> "x")))
      }
      // origin normalization: default ports drop, case folds
      assert(IoSession.normalizeOrigin("HTTPS://Data.Example.COM:443/x") ==
        "https://data.example.com")
      assert(IoSession.normalizeOrigin("http://h:8080") == "http://h:8080")
      assert(HttpRangeSource.originOf("https://Data.Example.com:443/a/b.tif") ==
        "https://data.example.com")
      // env capture requires BOTH the bearer and its origin list
      assert(IoSession.configureFromEnv(Map("GRAFT_IO_BEARER" -> "t")).isEmpty)
      val env = IoSession.configureFromEnv(Map(
        "GRAFT_IO_BEARER" -> "t",
        "GRAFT_IO_BEARER_ORIGINS" -> "https://a.example.com, http://b:8080"))
      assert(env.exists(_.origins.keySet ==
        Set("https://a.example.com", "http://b:8080")))
    } finally resetHttp()
  }
}
