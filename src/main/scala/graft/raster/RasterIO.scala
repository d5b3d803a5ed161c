package graft.raster

/** Remote-IO seam — the GDAL-VSI analog. The reference's primary
  * deployment mode reads rasters straight from object storage: its
  * `_rio.py:65-69, 126-176` configures GDAL's virtual filesystem
  * (cloud defaults, thread-local sessions, retries) so the SAME reader
  * code serves `file:/`, `s3:/` and `https:/` URIs. This registry is
  * that seam for the graft readers: every format decoder (GRB, GeoTIFF,
  * zarr, netCDF) resolves URIs through [[RasterIO]], keyed by scheme.
  *
  * The sandbox has zero egress, so only the local-file implementation
  * ships; a deployment registers e.g. an S3 source once per executor
  * JVM (typically from a `SparkPlugin` executor-init hook — the
  * registry is JVM-local by design, like GDAL's per-process VSI state)
  * with ranged GETs behind [[RasterInput]] and retry/session policy
  * inside the source. The decoders need no change: they already read
  * through positioned byte ranges, never a bare `java.io.File` —
  * which is also why the windowed read paths coalesce row reads into
  * few large spans (see `RowMajor.MaxSpanBytes`): at scale each span is
  * one object-store ranged GET. A read opens its source once
  * ([[RasterFormat.open]]), so a source costs one input per read.
  *
  * Write paths (COG/zarr/netCDF export) intentionally stay local-file:
  * distributed exports write executor-local files for a driver-side or
  * object-store upload step to move, which keeps multipart-upload
  * policy out of the pixel encoders.
  */
trait RasterByteSource {
  /** Open positioned binary input (the decoder hot path). */
  def open(uri: String): RasterInput

  /** Whole-object read (zarr chunks, JSON metadata). */
  def readAll(uri: String): Array[Byte]

  def exists(uri: String): Boolean

  /** Direct child names of a container "directory" URI (zarr stores,
    * `.ovr` sidecar discovery). Empty when the URI isn't listable. */
  def list(uri: String): Seq[String]

  /** The backing `java.io.File` when the URI is genuinely local — the
    * fast path for JDK APIs that demand one (javax.imageio). Remote
    * sources return None and callers fall back to stream access. */
  def localFile(uri: String): Option[java.io.File]

  /** Credential-decoration seam for [[IoSession.restore]]: return a
    * source that attaches `origin -> headers` to matching requests,
    * REPLACING any origin headers from a previous decoration (so a
    * refreshed/cleared payload never stacks on a stale one). Default is
    * a no-op returning `this`: sources that don't speak per-request
    * headers — including custom [[GraftIoPlugin]] registrations — keep
    * their identity and policy untouched. */
  def withOriginHeaders(
      origins: Map[String, Map[String, String]]): RasterByteSource = this
}

/** Positioned big-endian binary input: exactly the `RandomAccessFile`
  * subset the format decoders use (multi-byte reads in network order,
  * like `DataInput`). A remote implementation maps `seek`+`readFully`
  * to ranged GETs; span coalescing in the callers ([[RowMajor]], one
  * read per TIFF tile) keeps the GET count low. */
trait RasterInput extends java.io.Closeable {
  def seek(pos: Long): Unit
  def position: Long
  def length: Long
  /** Single byte as unsigned int, -1 at EOF (InputStream convention). */
  def read(): Int
  def read(buf: Array[Byte]): Int
  def readFully(buf: Array[Byte]): Unit
  def readByte(): Byte
  def readShort(): Short
  def readInt(): Int
  def readLong(): Long
  def readDouble(): Double
}

/** Local filesystem implementation (the only one the sandbox can ship);
  * accepts bare paths and `file://` URIs. */
object LocalFileSource extends RasterByteSource {
  private def p(uri: String): String =
    if (uri.startsWith("file://")) uri.stripPrefix("file://") else uri

  /** A file read through one buffer of its own: header fields and IFD
    * entries are served from the buffer, one `read` syscall per refill
    * instead of one per byte, while a `readFully` of at least a buffer's
    * length (a pixel span) goes straight to the file. `position` is the
    * logical position; the buffer lives and dies with this input. */
  private final class Raf(path: String) extends RasterInput {
    private val raf = new java.io.RandomAccessFile(path, "r")
    private val buf = new Array[Byte](BufferBytes)
    private var bufStart = 0L // file offset of buf(0)
    private var bufLen = 0 // bytes of buf that hold the file
    private var pos = 0L

    def seek(p: Long): Unit = {
      if (p < 0) throw new java.io.IOException(s"$path: negative seek $p")
      pos = p
    }
    def position: Long = pos
    // rasters are immutable while open: one size query per input
    lazy val length: Long = raf.length()

    /** Offset in `buf` of `pos` when `[pos, pos + n)` is buffered, or -1. */
    private def at(n: Int): Int = {
      val o = pos - bufStart
      if (o >= 0 && o + n <= bufLen) o.toInt else -1
    }

    /** Refills the buffer from `pos`; returns how many bytes it holds. */
    private def refill(): Int = {
      raf.seek(pos)
      bufStart = pos
      bufLen = 0
      var r = 0
      while (r >= 0 && bufLen < buf.length) {
        r = raf.read(buf, bufLen, buf.length - bufLen)
        if (r > 0) bufLen += r
      }
      bufLen
    }

    private def eof(n: Int): Nothing = throw new java.io.EOFException(
      s"$path: $n byte(s) at $pos read past the end ($length bytes)")

    /** Offset in `buf` of `n` buffered bytes at `pos`, refilling once. */
    private def need(n: Int): Int = {
      val o = at(n)
      if (o >= 0) o
      else if (refill() >= n) 0
      else eof(n)
    }

    /** Offset in `buf` of `pos`, refilling when `pos` is not buffered;
      * -1 at the end of the file. */
    private def avail(): Int = {
      val o = at(1)
      if (o >= 0) o else if (refill() > 0) 0 else -1
    }

    def read(): Int = {
      val o = avail()
      if (o < 0) -1 else { pos += 1; buf(o) & 0xff }
    }

    def read(b: Array[Byte]): Int =
      if (b.isEmpty) 0
      else if (b.length >= buf.length && at(b.length) < 0) {
        raf.seek(pos)
        val r = raf.read(b)
        if (r > 0) pos += r
        r
      } else {
        val o = avail()
        if (o < 0) -1
        else {
          val r = math.min(b.length, bufLen - o)
          System.arraycopy(buf, o, b, 0, r)
          pos += r
          r
        }
      }

    def readFully(b: Array[Byte]): Unit = {
      val o = at(b.length)
      if (o >= 0) System.arraycopy(buf, o, b, 0, b.length)
      else if (b.length >= buf.length) {
        if (pos + b.length > length) eof(b.length)
        raf.seek(pos)
        raf.readFully(b)
      } else System.arraycopy(buf, need(b.length), b, 0, b.length)
      pos += b.length
    }

    def readByte(): Byte = { val o = need(1); pos += 1; buf(o) }
    def readShort(): Short = {
      val o = need(2); pos += 2
      (((buf(o) & 0xff) << 8) | (buf(o + 1) & 0xff)).toShort
    }
    def readInt(): Int = {
      val o = need(4); pos += 4
      ((buf(o) & 0xff) << 24) | ((buf(o + 1) & 0xff) << 16) |
        ((buf(o + 2) & 0xff) << 8) | (buf(o + 3) & 0xff)
    }
    def readLong(): Long = {
      val o = need(8); pos += 8
      var v = 0L
      var i = 0
      while (i < 8) { v = (v << 8) | (buf(o + i) & 0xffL); i += 1 }
      v
    }
    def readDouble(): Double = java.lang.Double.longBitsToDouble(readLong())
    def close(): Unit = raf.close()
  }

  /** [[Raf]]'s buffer: a GRB header or an IFD's entries in one refill.
    * Every refill reads the whole buffer, so a larger one costs input
    * bytes per header read (8 KiB added 19 MB, 14%, to
    * `archive_geomedian`'s bytes read per op). */
  private val BufferBytes = 512

  def open(uri: String): RasterInput = new Raf(p(uri))
  def readAll(uri: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p(uri)))
  def exists(uri: String): Boolean = new java.io.File(p(uri)).exists()
  def list(uri: String): Seq[String] =
    Option(new java.io.File(p(uri)).listFiles())
      .getOrElse(Array.empty[java.io.File]).map(_.getName).toSeq
  def localFile(uri: String): Option[java.io.File] =
    Some(new java.io.File(p(uri)))
}

/** Scheme-keyed registry the decoders resolve through. */
object RasterIO {
  @volatile private var registry: Map[String, RasterByteSource] =
    Map("" -> LocalFileSource, "file" -> LocalFileSource,
      // ranged-GET cloud path, on by default like GDAL's /vsicurl/
      // (override per deployment via register/GraftIoPlugin)
      "http" -> new HttpRangeSource(), "https" -> new HttpRangeSource())

  /** Register (or replace) the source for a scheme — once per JVM,
    * before any read; executor-init hooks are the natural place. */
  def register(scheme: String, src: RasterByteSource): Unit =
    synchronized { registry += scheme.toLowerCase -> src }

  /** Currently-registered source for a scheme, if any — the decoration
    * base for [[IoSession.restore]]. */
  def get(scheme: String): Option[RasterByteSource] =
    registry.get(scheme.toLowerCase)

  /** URI scheme, lowercased; "" for bare local paths. Single-letter
    * "schemes" are treated as bare paths (Windows drive letters). */
  def scheme(uri: String): String = {
    val i = uri.indexOf("://")
    if (i <= 1) "" else uri.substring(0, i).toLowerCase
  }

  def forUri(uri: String): RasterByteSource =
    registry.getOrElse(scheme(uri), throw new IllegalArgumentException(
      s"no RasterByteSource registered for scheme '${scheme(uri)}' " +
        s"(uri: $uri); registered: ${registry.keys.toSeq.sorted.mkString(", ")}"))

  def open(uri: String): RasterInput = forUri(uri).open(uri)
  def readAll(uri: String): Array[Byte] = forUri(uri).readAll(uri)
  def exists(uri: String): Boolean = forUri(uri).exists(uri)
  def list(uri: String): Seq[String] = forUri(uri).list(uri)
  def localFile(uri: String): Option[java.io.File] = forUri(uri).localFile(uri)

  /** Parent "directory" URI and final name component — sidecar
    * discovery (`x.grb` → siblings `x.grb.ovr2`…) needs both. */
  def parentAndName(uri: String): (String, String) = {
    val cut = uri.lastIndexOf('/')
    if (cut < 0) ("." , uri) else (uri.substring(0, cut), uri.substring(cut + 1))
  }
}
