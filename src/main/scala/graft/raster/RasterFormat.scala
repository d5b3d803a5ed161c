package graft.raster

/** One raster container format: how both the windowed reader
  * ([[WindowedReader]]) and the `raster` DSv2 pixel table open a source.
  * The reference opens a source once per read and takes the header, the
  * overview list and the window from that one handle (`rio_read`,
  * `_rio.py:374-475`); here [[RasterFormat.of]] picks the format (the
  * only extension switch) and [[open]] is that handle.
  *
  * Level and subdataset handles are themselves URIs (`path#<index>` or
  * `path#<name>` for TIFF images, `store#variable` for zarr/netCDF),
  * opened by the same format.
  */
sealed trait RasterFormat extends Serializable {

  /** Opens band `band` (1-based) of `uri`: one input, its header parsed
    * once. Formats that cannot address the band throw, not read band 1.
    * The caller closes the image ([[RasterFormat.read]]). */
  def open(uri: String, band: Int): RasterImage

  /** Resolve named-subdataset addressing into the format's URI space
    * (reference `loader/types.py:44-56`). Resolution reads nothing: the
    * open of the addressed uri checks the name and fails listing what
    * the container has. Formats without container support throw rather
    * than silently read the base image — the same loud-validation
    * contract as the band path. */
  def subdataset(uri: String, sub: String): String =
    throw new IllegalArgumentException(
      s"$uri: format does not support subdataset addressing " +
        s"(subdataset='$sub' requested)")

  /** Container → one `uri#variable` per subdataset; plain files and
    * already-addressed uris pass through. */
  def expand(uri: String): Seq[String] = Seq(uri)
}

/** One band of one source, opened: the container's parsed header, its
  * block layout ([[Blocks]]) and the input they were read from. Every
  * read of a source — planning, the paste fuse, the warp window, the
  * overview list — goes through one open image, closed by its caller.
  *
  * One failure rule for every container: a window read that fails in
  * its blocks raises an `IOException` naming [[uri]]; a `permissive`
  * paste fuse instead keeps, and counts, the blocks it fused before the
  * failing one. `uri` is the addressed uri, as failures name it. */
abstract class RasterImage(val uri: String) extends java.io.Closeable {

  /** Dims, dtype, nodata and geobox of the plane. */
  def header: Grb.Header

  /** Number of addressable bands (multi-band stacks); single-plane
    * containers have one. */
  def numBands: Int = 1

  /** Available decimation levels, ascending scale: (scale, level-uri). */
  def overviews: Seq[(Int, String)] = Seq.empty

  /** Band `band` of the level `levelUri` (one of [[overviews]]), opened;
    * the caller closes it. Sidecar levels are their own open; TIFF's
    * levels share this image's file. */
  def level(levelUri: String, band: Int): RasterImage =
    RasterFormat.of(levelUri).open(levelUri, band)

  /** The plane's blocks: what the one window loop reads. */
  private[raster] def blocks: Blocks

  /** Hands `seg(wy, wx, px, n)` every row part of the window, block by
    * block: `px(0 until n)` are window row `wy` from window column `wx`
    * on. */
  private[raster] def rows(x0: Int, y0: Int, w: Int, h: Int)(
      seg: (Int, Int, Array[Double], Int) => Unit): Unit =
    blocks.rows(x0, y0, w, h)(seg)

  /** [[rows]] of a checked window, under the failure rule. */
  private def each(x0: Int, y0: Int, w: Int, h: Int)(
      seg: (Int, Int, Array[Double], Int) => Unit): Unit = {
    val hd = header
    require(x0 >= 0 && y0 >= 0 && w >= 0 && h >= 0 && x0 + w <= hd.width &&
      y0 + h <= hd.height,
      s"window ($x0,$y0,$w,$h) out of bounds ${hd.width}x${hd.height}")
    if (w > 0 && h > 0)
      try rows(x0, y0, w, h)(seg)
      catch {
        case e: java.io.IOException if String.valueOf(e.getMessage).contains(uri) =>
          throw e
        case e: Exception => throw new java.io.IOException(s"$uri: ${e.getMessage}", e)
      }
  }

  /** Windowed pixel read (row-major doubles, unsigned widened). */
  final def window(x0: Int, y0: Int, w: Int, h: Int): Array[Double] = {
    val out = new Array[Double](w * h)
    each(x0, y0, w, h) { (wy, wx, px, n) =>
      System.arraycopy(px, 0, out, wy * w + wx, n)
    }
    out
  }

  /** Fused windowed read + first-valid mosaic (A2 paste path): each row
    * part goes straight into the still-`dstNodata` positions of `out`
    * (row stride `outW`, window origin at `(dx0, dy0)`) through
    * [[RasterFormat.fuseRow]], with no window-sized array. `srcNodata`
    * NaN means "no nodata value". Returns the number of newly filled
    * pixels; a `permissive` read that fails returns what it fused before
    * the failing block. */
  final def fuseWindowInto(x0: Int, y0: Int, w: Int, h: Int, srcNodata: Double,
                           out: Array[Double], outW: Int, dx0: Int, dy0: Int,
                           dstNodata: Double, permissive: Boolean = false): Long = {
    var filled = 0L
    try each(x0, y0, w, h) { (wy, wx, px, n) =>
      filled += RasterFormat.fuseRow(px, 0, srcNodata, out,
        (dy0 + wy) * outW + dx0 + wx, n, dstNodata)
    } catch {
      case e: java.io.IOException if permissive =>
        System.err.println(s"[graft.reader] partial read (${e.getMessage})")
    }
    filled
  }
}

object RasterImage {
  /** `f` of `img`, closing `img` after. */
  def use[A](img: RasterImage)(f: RasterImage => A): A =
    try f(img) finally img.close()

  /** `make()`, or `in` closed when it fails: an open that fails after
    * its input is open leaks nothing. */
  private[raster] def closingOnFailure[A](in: java.io.Closeable)(make: => A): A =
    try make
    catch { case e: Throwable => in.close(); throw e }
}

/** The part of a block a window needs, raw: block row `r0` from the
  * first column asked for starts at byte `at` of `bytes`, and each next
  * row `stride` bytes on. */
private[raster] final class Part(val bytes: java.nio.ByteBuffer, val at: Int,
                                 val stride: Int)

/** A plane as a container stores it: a grid of `blockW`×`blockH` blocks
  * (TIFF tiles or strips, zarr chunks, strips of a row-major plane),
  * each read on its own. A container describes its blocks; [[rows]] is
  * the one window loop over them. */
private[raster] abstract class Blocks {
  def blockW: Int
  def blockH: Int
  /** [[Grb.DtypeCodes]] code of the samples. */
  def dcode: Int
  /** Samples per pixel of a block row, and the one kept (0-based). */
  def spp: Int = 1
  def sample: Int = 0
  /** What a missing block reads as. */
  def fill: Double = 0.0

  /** Checks block `(bx, by)` before any block of the window is read, so
    * that a window that cannot be read whole fails before it hands on a
    * row. */
  def check(bx: Int, by: Int): Unit = ()

  /** Rows `r0 until r1` of block `(bx, by)`, columns `c0 until c0 + n`,
    * decoded to raw samples; null when the block is missing (it reads as
    * [[fill]]). */
  def read(bx: Int, by: Int, r0: Int, r1: Int, c0: Int, n: Int): Part

  /** The window `(x0, y0, w, h)` (non-empty, inside the plane), block by
    * block: each block the window touches is read once, as far as its
    * last row in the window, and each of its rows in the window goes
    * through `Grb.decodeRow` into one row scratch; `seg(wy, wx, px, n)`
    * gets the block's part of window row `wy`, `px(0 until n)` from
    * window column `wx` on. */
  final def rows(x0: Int, y0: Int, w: Int, h: Int)(
      seg: (Int, Int, Array[Double], Int) => Unit): Unit = {
    val (bw, bh) = (blockW, blockH)
    val (tx0, tx1) = (x0 / bw, (x0 + w - 1) / bw)
    val (ty0, ty1) = (y0 / bh, (y0 + h - 1) / bh)
    var ty = ty0
    while (ty <= ty1) {
      var tx = tx0
      while (tx <= tx1) { check(tx, ty); tx += 1 }
      ty += 1
    }
    // a pixel-interleaved row part decodes whole pixels, then keeps `sample`
    val px = new Array[Double](math.min(w, bw) * spp)
    ty = ty0
    while (ty <= ty1) {
      val top = ty * bh
      val r0 = math.max(y0, top) - top
      val r1 = math.min(y0 + h, top + bh) - top
      var tx = tx0
      while (tx <= tx1) {
        val left = tx * bw
        val c0 = math.max(x0, left) - left
        val n = math.min(x0 + w, left + bw) - left - c0
        val part = read(tx, ty, r0, r1, c0, n)
        if (part == null) java.util.Arrays.fill(px, 0, n, fill)
        var r = r0
        while (r < r1) {
          if (part != null) {
            Grb.decodeRow(part.bytes, part.at + (r - r0) * part.stride, dcode, px, 0,
              n * spp)
            if (spp > 1) {
              var i = 0
              while (i < n) { px(i) = px(i * spp + sample); i += 1 }
            }
          }
          seg(top + r - y0, left + c0 - x0, px, n)
          r += 1
        }
        tx += 1
      }
      ty += 1
    }
  }
}

/** A row-major uncompressed plane at byte `offset` of `in` (GRB and
  * netCDF): strips of as many rows as fit in [[RowMajor.MaxSpanBytes]],
  * so a window's part of a strip is one span read, from its first needed
  * byte to its last, not a seek and read per row — for a 1024-wide tile
  * of a 2048-wide scene ~1024 reads become 1 at the cost of the
  * inter-row gap bytes, a worthwhile trade on local disk and object
  * storage alike (how COG readers coalesce ranged GETs). A row past the
  * cap is a strip of its own. */
private[raster] final class RowMajor(in: RasterInput, offset: Long, width: Int,
                                     height: Int, dtype: String,
                                     order: java.nio.ByteOrder) extends Blocks {
  private val sz = Grb.dtypeSize(dtype)
  private val stride = width.toLong * sz
  val dcode: Int = Grb.DtypeCodes(dtype)
  val blockW: Int = width
  val blockH: Int = math.max(1L, math.min(height.toLong, RowMajor.MaxSpanBytes / stride)).toInt

  def read(bx: Int, by: Int, r0: Int, r1: Int, c0: Int, n: Int): Part = {
    val buf = new Array[Byte](((r1 - r0 - 1) * stride + n.toLong * sz).toInt)
    in.seek(offset + (by.toLong * blockH + r0) * stride + c0.toLong * sz)
    in.readFully(buf)
    new Part(java.nio.ByteBuffer.wrap(buf).order(order), 0, stride.toInt)
  }
}

private[raster] object RowMajor {
  /** Span-read cap: the most bytes one strip read may take. */
  val MaxSpanBytes: Long = 256L << 20
}

object RasterFormat {

  /** The format of `uri`, decided on its path part (before any
    * `#fragment`), case-folded. Anything unrecognised is read as GRB. */
  def of(uri: String): RasterFormat = known(uri).getOrElse(GrbFormat)

  /** Whether a directory listing entry is a raster this engine reads. */
  def isRaster(path: String): Boolean = known(path).isDefined

  private def known(uri: String): Option[RasterFormat] = {
    val p = uri.takeWhile(_ != '#').toLowerCase(java.util.Locale.ROOT)
    if (p.endsWith(".tif") || p.endsWith(".tiff")) Some(TiffFormat)
    else if (p.endsWith(".zarr")) Some(ZarrFormat)
    else if (p.endsWith(".nc")) Some(NetCdfFormat)
    else if (p.endsWith(".grb")) Some(GrbFormat)
    else None
  }

  /** First-valid fuse of a decoded `w`×`h` window into `out` (row
    * stride `outW`, window origin at `(dx0, dy0)`), row by row through
    * [[fuseRow]]. */
  def fuseInto(pix: Array[Double], w: Int, h: Int, srcNodata: Double,
               out: Array[Double], outW: Int, dx0: Int, dy0: Int,
               dstNodata: Double): Long = {
    var filled = 0L
    var y = 0
    while (y < h) {
      filled += fuseRow(pix, y * w, srcNodata, out, (dy0 + y) * outW + dx0,
        w, dstNodata)
      y += 1
    }
    filled
  }

  /** First-valid fuse of the `n` decoded pixels at `pix(off)` into
    * `out(outOff)`: a pixel is written where `out` is still `dstNodata`
    * (or NaN) and the source is valid (not NaN, not `srcNodata`; NaN
    * `srcNodata` means none). A written value equal to `dstNodata` is
    * not counted, so a later source that still sees a hole there does
    * not double-count. Every paste fuse ends here. */
  def fuseRow(pix: Array[Double], off: Int, srcNodata: Double,
              out: Array[Double], outOff: Int, n: Int,
              dstNodata: Double): Long = {
    var filled = 0L
    var x = 0
    while (x < n) {
      val di = outOff + x
      val cur = out(di)
      if (cur.isNaN || cur == dstNodata) {
        val v = pix(off + x)
        if (!(v.isNaN || v == srcNodata)) {
          out(di) = v
          if (v != dstNodata) filled += 1
        }
      }
      x += 1
    }
    filled
  }

  /** Band `band` of `uri` opened through its format, handed to `f`,
    * closed after: one open per source read. */
  def read[A](uri: String, band: Int)(f: RasterImage => A): A =
    RasterImage.use(of(uri).open(uri, band))(f)

  private def requireBand1(uri: String, band: Int, what: String,
                           hint: String): Unit =
    require(band == 1, s"$what; band $band requested of $uri$hint")

  /** `uri#sub`, for the containers whose open resolves the name. */
  private def addressed(uri: String, sub: String, what: String): String = {
    require(!uri.contains("#"),
      s"$uri already addresses $what; cannot also resolve subdataset '$sub'")
    s"$uri#$sub"
  }

  /** GRB: single-band containers with `.ovr<N>` sidecar pyramids, read
    * as one row-major block ([[RowMajor]]). */
  object GrbFormat extends RasterFormat {
    def open(uri: String, band: Int): RasterImage = {
      requireBand1(uri, band, "GRB containers are single-band by format", "")
      Grb.open(uri)
    }
  }

  /** GeoTIFF through [[Tiff]]'s own classic-TIFF reader: windowed reads
    * that decode only the tiles/strips a window touches (none and
    * Deflate natively; other codecs through the JDK's `javax.imageio`
    * TIFF plugin), multi-band stacks, reduced-resolution subimages as
    * overviews and PageName-named images as subdatasets (addressed as
    * `uri#<name>`, resolved by the open). */
  object TiffFormat extends RasterFormat {
    def open(uri: String, band: Int): RasterImage = Tiff.open(uri, band)
    override def subdataset(uri: String, sub: String): String =
      addressed(uri, sub, "an image")
  }

  /** Zarr v2 stores: chunked-directory containers whose variables are the
    * subdataset surface (`store.zarr#red`). Windowed reads decode only
    * intersecting chunks; overview levels are `<var>.ovrN` sidecar
    * variables. */
  object ZarrFormat extends RasterFormat {
    def open(uri: String, band: Int): RasterImage = {
      requireBand1(uri, band, "zarr variables are single-band planes",
        " — address additional variables as store.zarr#<variable>")
      Zarr.open(uri)
    }
    override def subdataset(uri: String, sub: String): String =
      addressed(uri, sub, "a variable")
    override def expand(uri: String): Seq[String] =
      if (uri.contains("#")) Seq(uri)
      else Zarr.variables(uri).map(v => s"$uri#$v")
  }

  /** netCDF classic files: named 2-D variables are the subdataset surface
    * (`file.nc#red`). Contiguous row-major storage is one block
    * ([[RowMajor]]); the format has no overview convention, so pyramid
    * selection falls back to base resolution. */
  object NetCdfFormat extends RasterFormat {
    def open(uri: String, band: Int): RasterImage = {
      requireBand1(uri, band, "netCDF variables are single-band planes",
        " — address additional variables as file.nc#<variable>")
      NetCdf.open(uri)
    }
    override def subdataset(uri: String, sub: String): String =
      addressed(uri, sub, "a variable")
    override def expand(uri: String): Seq[String] =
      if (uri.contains("#")) Seq(uri)
      else NetCdf.variables(uri).map(v => s"$uri#$v")
  }
}
