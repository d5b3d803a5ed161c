package graft.raster

/** HTTP(S) ranged-GET implementation of the remote-IO seam — the running
  * analog of the reference's cloud path, which serves `https:/` rasters
  * through GDAL's /vsicurl/ with a configured retry policy
  * (`/root/reference/odc/stac/loader/_rio.py:65-69`:
  * `GDAL_HTTP_MAX_RETRY=10`, `GDAL_HTTP_RETRY_DELAY=0.5`).
  *
  * Every positioned read maps to one `Range: bytes=a-b` GET through a
  * [[blockSize]] read-ahead buffer, so the decoders' span coalescing
  * (`RowMajor.MaxSpanBytes` etc.) turns a windowed tile read into a handful
  * of ranged GETs, never per-value requests. Transient failures —
  * connect/read `IOException`s and HTTP 408/429/5xx — retry with
  * exponential backoff up to [[maxRetries]]; non-transient statuses
  * (403, 404) fail immediately. Object length is discovered from the
  * `Content-Range` total of a `bytes=0-0` probe (with a `Content-Length`
  * fallback for servers that ignore Range and answer 200).
  *
  * Registered per-JVM for `http`/`https` by default (see [[RasterIO]]);
  * a deployment needing different policy registers its own instance via
  * [[GraftIoPlugin]] (`spark.graft.io.sources=https:com.example.Src`).
  */
class HttpRangeSource(
    val maxRetries: Int = 10,
    val retryDelayMs: Long = 100,
    val blockSize: Int = 256 * 1024,
    val headers: Map[String, String] = Map.empty,
    val originHeaders: Map[String, Map[String, String]] = Map.empty)
  extends RasterByteSource {

  /** Copy with the origin-header map REPLACED (never merged — a
    * refreshed or cleared credential payload must fully supersede the
    * previous one). Static `headers` and retry/buffer policy carry
    * over, so [[IoSession.restore]] decorating a tuned instance keeps
    * its tuning. */
  override def withOriginHeaders(
      origins: Map[String, Map[String, String]]): HttpRangeSource =
    new HttpRangeSource(maxRetries, retryDelayMs, blockSize, headers, origins)

  private val MaxBackoffMs = 5000L
  private def retryable(status: Int): Boolean =
    status == 408 || status == 429 || status >= 500

  /** Marker for retryable HTTP statuses (connect/read IOExceptions are
    * retryable as thrown). */
  private final class TransientHttp(uri: String, val status: Int)
    extends java.io.IOException(s"HTTP $status for $uri")

  /** Definitive client errors (401/403/…): retrying cannot help, so
    * they fail the read immediately — no retry storm against an auth
    * wall (the reference relies on GDAL's same distinction). */
  private final class NonRetryableHttp(uri: String, val status: Int)
    extends java.io.IOException(s"HTTP $status for $uri")

  private def withRetry[T](what: String)(f: => T): T = {
    var attempt = 0
    var lastErr: java.io.IOException = null
    while (attempt <= maxRetries) {
      if (attempt > 0) {
        val backoff = math.min(retryDelayMs << math.min(attempt - 1, 20),
          MaxBackoffMs)
        Thread.sleep(backoff)
      }
      try return f
      catch {
        case e: TransientHttp => lastErr = e
        case e: java.io.FileNotFoundException => throw e // 404: not transient
        case e: NonRetryableHttp => throw e // 401/403/…: fail fast
        case e: java.io.IOException => lastErr = e
      }
      attempt += 1
    }
    throw new java.io.IOException(
      s"$what failed after ${maxRetries + 1} attempts", lastErr)
  }

  private def connect(uri: String, range: Option[(Long, Long)])
  : java.net.HttpURLConnection = {
    val conn = java.net.URI.create(uri).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(15000)
    conn.setReadTimeout(60000)
    // static session headers (explicitly-constructed sources), then
    // restored IoSession credentials — attached ONLY when the request
    // URL's normalized origin matches the configured origin, so a
    // bearer for one endpoint is never sent to other hosts in a
    // mixed-source catalog — see [[IoSession]]
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    if (originHeaders.nonEmpty)
      originHeaders.getOrElse(HttpRangeSource.originOf(uri), Map.empty)
        .foreach { case (k, v) => conn.setRequestProperty(k, v) }
    range.foreach { case (a, b) =>
      conn.setRequestProperty("Range", s"bytes=$a-$b") }
    val status = conn.getResponseCode
    if (status == 404) {
      conn.disconnect()
      throw new java.io.FileNotFoundException(uri)
    }
    if (retryable(status)) {
      conn.disconnect()
      throw new TransientHttp(uri, status)
    }
    if (status != 200 && status != 206) {
      conn.disconnect()
      if (status >= 400 && status < 500) throw new NonRetryableHttp(uri, status)
      throw new java.io.IOException(s"HTTP $status for $uri")
    }
    conn
  }

  private def readBody(conn: java.net.HttpURLConnection): Array[Byte] = {
    val in = conn.getInputStream
    try in.readAllBytes() finally { in.close(); conn.disconnect() }
  }

  /** One ranged GET `[a, b]` (inclusive). A 200 answer means the server
    * ignored Range — slice the full body so callers see range semantics
    * either way. */
  private def getRange(uri: String, a: Long, b: Long): Array[Byte] =
    withRetry(s"GET $uri [$a-$b]") {
      val conn = connect(uri, Some((a, b)))
      val whole = conn.getResponseCode == 200
      val body = readBody(conn)
      if (!whole) body
      else {
        val from = math.min(a, body.length.toLong).toInt
        val until = math.min(b + 1, body.length.toLong).toInt
        java.util.Arrays.copyOfRange(body, from, math.max(from, until))
      }
    }

  /** Object length via a `bytes=0-0` probe: `Content-Range: bytes 0-0/N`
    * carries the total; a 200 (Range ignored) falls back to the body
    * length. */
  private def lengthOf(uri: String): Long = withRetry(s"length $uri") {
    val conn = connect(uri, Some((0L, 0L)))
    val status = conn.getResponseCode
    val contentRange = Option(conn.getHeaderField("Content-Range"))
    val body = readBody(conn)
    if (status == 206)
      contentRange.flatMap(_.split('/').lastOption)
        .map(_.trim.toLong)
        .getOrElse(throw new java.io.IOException(
          s"206 without Content-Range total for $uri"))
    else body.length.toLong
  }

  /** Positioned input over ranged GETs: a single read-ahead block
    * buffer; multi-byte values decode big-endian from the buffer
    * (DataInput convention, same as [[LocalFileSource]]). */
  private final class HttpInput(uri: String) extends RasterInput {
    private val len = lengthOf(uri)
    private var pos = 0L
    private var bufStart = 0L
    private var buf: Array[Byte] = Array.emptyByteArray

    def seek(p: Long): Unit = pos = p
    def position: Long = pos
    def length: Long = len

    /** Ensure `[pos, pos+n)` is buffered; reads ahead `blockSize`. */
    private def ensure(n: Int): Unit = {
      if (pos < bufStart || pos + n > bufStart + buf.length) {
        if (pos + n > len) throw new java.io.EOFException(
          s"read past end of $uri: pos=$pos n=$n len=$len")
        val end = math.min(pos + math.max(n.toLong, blockSize.toLong), len) - 1
        buf = getRange(uri, pos, end)
        bufStart = pos
      }
    }

    def read(): Int =
      if (pos >= len) -1
      else { ensure(1); val b = buf((pos - bufStart).toInt) & 0xff; pos += 1; b }

    def read(b: Array[Byte]): Int = {
      if (pos >= len) return -1
      val n = math.min(b.length.toLong, len - pos).toInt
      ensureBulk(b, n); n
    }

    def readFully(b: Array[Byte]): Unit = {
      if (pos + b.length > len) throw new java.io.EOFException(
        s"readFully past end of $uri")
      ensureBulk(b, b.length)
    }

    /** Bulk fill: served from the buffer when it fits, one direct ranged
      * GET when the request exceeds the block size (no double copy). */
    private def ensureBulk(b: Array[Byte], n: Int): Unit = {
      if (n >= blockSize) {
        val got = getRange(uri, pos, pos + n - 1)
        System.arraycopy(got, 0, b, 0, n)
      } else {
        ensure(n)
        System.arraycopy(buf, (pos - bufStart).toInt, b, 0, n)
      }
      pos += n
    }

    def readByte(): Byte = { ensure(1); val v = buf((pos - bufStart).toInt); pos += 1; v }
    def readShort(): Short = {
      ensure(2); val o = (pos - bufStart).toInt
      pos += 2
      (((buf(o) & 0xff) << 8) | (buf(o + 1) & 0xff)).toShort
    }
    def readInt(): Int = {
      ensure(4); val o = (pos - bufStart).toInt
      pos += 4
      ((buf(o) & 0xff) << 24) | ((buf(o + 1) & 0xff) << 16) |
        ((buf(o + 2) & 0xff) << 8) | (buf(o + 3) & 0xff)
    }
    def readLong(): Long = {
      ensure(8); val o = (pos - bufStart).toInt
      pos += 8
      var v = 0L
      var i = 0
      while (i < 8) { v = (v << 8) | (buf(o + i) & 0xffL); i += 1 }
      v
    }
    def readDouble(): Double = java.lang.Double.longBitsToDouble(readLong())
    def close(): Unit = ()
  }

  def open(uri: String): RasterInput = new HttpInput(uri)

  def readAll(uri: String): Array[Byte] = withRetry(s"GET $uri") {
    readBody(connect(uri, None))
  }

  def exists(uri: String): Boolean =
    try { lengthOf(uri); true }
    catch { case _: java.io.FileNotFoundException => false }

  /** HTTP namespaces aren't listable — sidecar/variable discovery needs
    * an explicit manifest or a listable scheme (S3-style sources return
    * real listings here). */
  def list(uri: String): Seq[String] = Seq.empty

  def localFile(uri: String): Option[java.io.File] = None
}

object HttpRangeSource {
  /** Normalized request origin — delegates to the ONE shared
    * normalization ([[IoSession.parseOrigin]]) so configured and
    * request origins can never diverge; returns the empty string (which
    * matches no configured origin) when the URI has no parsable host. */
  def originOf(uri: String): String =
    IoSession.originOf(uri).getOrElse("")
}
