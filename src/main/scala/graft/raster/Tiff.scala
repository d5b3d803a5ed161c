package graft.raster

import graft.geo.{Affine, Crs, GeoBox}

import java.awt.Rectangle
import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, ComponentColorModel, DataBuffer, Raster}
import java.io.{File, IOException}
import java.nio.{ByteBuffer, ByteOrder}
import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier, ImageWriteParam}
import javax.imageio.plugins.tiff.{TIFFDirectory, TIFFField, TIFFTag}
import javax.imageio.plugins.tiff.BaselineTIFFTagSet._

/** GeoTIFF I/O with no GDAL.
  *
  * Read side (what [[RasterFormat.TiffFormat]] consumes): a classic-TIFF
  * reader of its own over [[RasterIO.open]], so a remote file is read as
  * range reads of its IFDs and of the tiles a window needs.
  *  - one IFD parser for both byte orders ([[TiffFile]]): geo-referencing
  *    from ModelPixelScaleTag (33550) + ModelTiepointTag (33922), CRS
  *    from the GeoKeyDirectoryTag (34735) projected/geographic EPSG keys,
  *    nodata from GDAL_NODATA (42113) — the same tags rasterio reads for
  *    the reference (`_rio.py:374-475`);
  *  - **windowed reads** ([[Tiles]], read by the one block loop
  *    [[Blocks.rows]]): each tile or strip the window touches is read on
  *    its own and decoded once, and its rows go through `Grb.decodeRow`
  *    straight into the caller's rows. Native
  *    codecs: none and Deflate (8, 32946), predictor 1 and 2 (8/16/32-bit
  *    samples), chunky and planar layouts. Any other codec (LZW, JPEG,
  *    PackBits, CCITT, predictor 3) decodes the window through the JDK's
  *    `javax.imageio` TIFF plugin ([[decodeWindow]]);
  *  - **overview pyramid**: reduced-resolution subimages (additional
  *    IFDs), addressed as `path#<imageIndex>`; their geobox derives from
  *    the base image's (GDAL writes geo tags on the base IFD only).
  *
  * Write side, on the `javax.imageio` plugin, exists for fixtures/tests
  * and as the S10 sink analog: tiled (multiples-of-16) or stripped
  * layout, optional overview IFDs. Supported dtypes: uint8, int8, uint16,
  * int16, int32, float32, float64 (TIFF SampleFormat 1/2/3; int8 is read
  * only). Single-band, axis-aligned north-up grids.
  */
object Tiff {

  private val TagModelPixelScale = 33550
  private val TagModelTiepoint = 33922
  private val TagGeoKeyDirectory = 34735
  private val TagGdalNodata = 42113
  private val TagNewSubfileType = TAG_NEW_SUBFILE_TYPE // 254
  private val TagPageName = TAG_PAGE_NAME // 285

  // GeoKey ids (GeoTIFF spec §6.2)
  private val GTModelTypeGeoKey = 1024
  private val GTRasterTypeGeoKey = 1025
  private val GeographicTypeGeoKey = 2048
  private val ProjectedCSTypeGeoKey = 3072

  /** Split `path#idx` or `path#name` into the path and the fragment, if
    * any: digits address an image index, anything else a subdataset
    * NAME, resolved via PageName in the same open ([[TiffFile.index]]).
    * Makes every entry point (readHeader/readWindow/numBands and the
    * `gtiff` DSv2 source) accept named-subdataset URIs. */
  private def splitUri(uri: String): (String, Option[String]) = {
    val i = uri.lastIndexOf('#')
    if (i < 0) (uri, None) else (uri.substring(0, i), Some(uri.substring(i + 1)))
  }

  /** One open classic TIFF: its input, its byte order and its IFD chain,
    * parsed in chain order only as far as a caller asks. Values are read
    * from the input when asked for; IFD entries and the values stored
    * next to them come out of the input's buffer. Structural faults raise
    * an `IOException` naming the file. */
  private final class TiffFile(val path: String) extends java.io.Closeable {
    private val in = RasterIO.open(path)
    private val dirs = scala.collection.mutable.ArrayBuffer.empty[Dir]
    private val seen = scala.collection.mutable.HashSet.empty[Long]
    /** The file's length, byte order and first IFD offset, from its
      * 8-byte header. */
    val (length, order, le, firstIfd): (Long, ByteOrder, Boolean, Long) =
      try {
        val len = in.length
        if (len < 8) fail(s"not a TIFF file ($len bytes)")
        val hdr = ByteBuffer.wrap(bytes(0, 8))
        val ord =
          if (hdr.get(0) == 'I' && hdr.get(1) == 'I') ByteOrder.LITTLE_ENDIAN
          else if (hdr.get(0) == 'M' && hdr.get(1) == 'M') ByteOrder.BIG_ENDIAN
          else fail("not a TIFF file (no II/MM byte-order mark)")
        hdr.order(ord)
        hdr.getShort(2).toInt match {
          case 42 => (len, ord, ord == ByteOrder.LITTLE_ENDIAN, hdr.getInt(4) & 0xffffffffL)
          case 43 => fail("BigTIFF is not supported (classic TIFF only)")
          case v => fail(s"not a TIFF file (version $v)")
        }
      } catch { case e: Throwable => in.close(); throw e }
    private var nextIfd = firstIfd

    def fail(why: String): Nothing = throw new IOException(s"$path: $why")
    def close(): Unit = in.close()

    private def u16(): Int = {
      val v = in.readShort()
      (if (le) java.lang.Short.reverseBytes(v) else v) & 0xffff
    }
    private def u32(): Long = {
      val v = in.readInt()
      (if (le) Integer.reverseBytes(v) else v) & 0xffffffffL
    }

    /** Whether image `i` exists, parsing the chain up to it. */
    def has(i: Int): Boolean = {
      while (dirs.length <= i && nextIfd != 0) parseNext()
      i >= 0 && i < dirs.length
    }

    /** Image `i`'s IFD; an index past the chain fails loudly. */
    def dir(i: Int): Dir = {
      require(has(i), s"$path has no image $i ($count image(s))")
      dirs(i)
    }

    /** The number of images (walks the whole chain). */
    def count: Int = { while (nextIfd != 0) parseNext(); dirs.length }

    /** The image a `#fragment` addresses: none is image 0, digits are an
      * index, anything else is a subdataset name. */
    def index(frag: Option[String]): Int = frag match {
      case None => 0
      case Some(f) if f.nonEmpty && f.forall(_.isDigit) =>
        val i = f.toInt
        dir(i)
        i
      case Some(name) => resolve(name)
    }

    /** The image whose PageName is `name`; a miss fails listing the
      * names the container has. */
    def resolve(name: String): Int =
      Iterator.from(0).takeWhile(has).find(dir(_).pageName.contains(name))
        .getOrElse(throw new IllegalArgumentException(
          s"subdataset '$name' not found in $path; available: " +
            ((0 until count).flatMap(dir(_).pageName) match {
              case Seq() => "none (container has no named subdatasets)"
              case ns => ns.mkString("'", "', '", "'")
            })))

    private def parseNext(): Unit = {
      val at = nextIfd
      if (!seen.add(at)) fail(s"IFD chain loops back to byte $at")
      if (at < 8 || at + 2 > length) fail(s"IFD offset $at outside the file ($length bytes)")
      in.seek(at)
      val n = u16()
      if (at + 2 + n * 12L + 4 > length) fail(s"IFD at byte $at runs past the end of the file")
      val tags = new Array[Int](n)
      val types = new Array[Int](n)
      val counts = new Array[Int](n)
      val offs = new Array[Long](n)
      var k = 0
      while (k < n) {
        tags(k) = u16()
        types(k) = u16()
        val cnt = u32()
        val field = at + 2 + k * 12L + 8
        val bytes = cnt * typeSize(types(k))
        offs(k) = if (bytes <= 4) field else u32()
        if (offs(k) + bytes > length)
          fail(s"tag ${tags(k)} of IFD ${dirs.length} runs past the end of the file")
        counts(k) = cnt.toInt
        in.seek(field + 4)
        k += 1
      }
      nextIfd = u32()
      dirs += new Dir(this, tags, types, counts, offs)
    }

    /** The `count` values of TIFF type `tpe` at byte `at`, as doubles:
      * the BYTE, SHORT, LONG and DOUBLE types the read tags are stored in
      * (exact for every unsigned integer TIFF stores in 32 bits). */
    def values(tpe: Int, count: Int, at: Long): Array[Double] = {
      in.seek(at)
      val out = new Array[Double](count)
      var i = 0
      while (i < count) {
        out(i) = tpe match {
          case 1 => in.readByte() & 0xff
          case 3 => u16()
          case 4 => u32().toDouble
          case 12 =>
            val hi = u32(); val lo = u32()
            java.lang.Double.longBitsToDouble(if (le) (lo << 32) | hi else (hi << 32) | lo)
          case t => fail(s"unsupported TIFF field type $t")
        }
        i += 1
      }
      out
    }

    /** `count` bytes at `at` as a NUL-terminated ASCII string. */
    def ascii(count: Int, at: Long): String = {
      val b = new Array[Byte](count)
      in.seek(at)
      in.readFully(b)
      new String(b, "US-ASCII").takeWhile(_ != '\u0000')
    }

    /** The file from its first byte, as a stream over this input (which
      * closing the stream leaves open). */
    def stream: java.io.InputStream = {
      in.seek(0)
      new java.io.InputStream {
        def read(): Int = in.read()
        override def read(b: Array[Byte], off: Int, len: Int): Int = {
          val buf = if (off == 0 && len == b.length) b else new Array[Byte](len)
          val n = in.read(buf)
          if (n > 0 && (buf ne b)) System.arraycopy(buf, 0, b, off, n)
          n
        }
      }
    }

    /** `n` bytes at `at` (one tile or strip). */
    def bytes(at: Long, n: Int): Array[Byte] = {
      val b = new Array[Byte](n)
      in.seek(at)
      in.readFully(b)
      b
    }
  }

  /** Bytes per value of a TIFF field type (1 for types this reader does
    * not know: their values are never read). */
  private def typeSize(tpe: Int): Int = tpe match {
    case 3 | 8 => 2
    case 4 | 9 | 11 | 13 => 4
    case 5 | 10 | 12 => 8
    case _ => 1
  }

  /** One IFD: its entries (tag, type, count, byte offset of the values)
    * and the fields the reader uses. */
  private final class Dir(f: TiffFile, tags: Array[Int], types: Array[Int],
                          counts: Array[Int], offs: Array[Long]) {
    private def find(tag: Int): Int = tags.indexOf(tag)
    def has(tag: Int): Boolean = find(tag) >= 0

    def nums(tag: Int): Option[Array[Double]] = find(tag) match {
      case -1 => None
      case k => Some(f.values(types(k), counts(k), offs(k)))
    }

    def ascii(tag: Int): Option[String] = find(tag) match {
      case -1 => None
      case k if types(k) == 2 => Some(f.ascii(counts(k), offs(k)))
      case _ => None
    }

    private def int(tag: Int, dflt: Int): Int =
      nums(tag).flatMap(_.headOption).fold(dflt)(_.toInt)

    private def required(tag: Int, what: String): Array[Double] =
      nums(tag).getOrElse(f.fail(s"IFD has no $what (tag $tag)"))

    lazy val width: Int = required(TAG_IMAGE_WIDTH, "ImageWidth").head.toInt
    lazy val height: Int = required(TAG_IMAGE_LENGTH, "ImageLength").head.toInt
    lazy val spp: Int = int(TAG_SAMPLES_PER_PIXEL, 1)
    lazy val bits: Int = int(TAG_BITS_PER_SAMPLE, 8)
    lazy val sampleFormat: Int = int(TAG_SAMPLE_FORMAT, 1)
    lazy val compression: Int = int(TAG_COMPRESSION, 1)
    lazy val predictor: Int = int(TAG_PREDICTOR, 1)
    lazy val planar: Int = int(TAG_PLANAR_CONFIGURATION, 1)
    lazy val pageName: Option[String] = ascii(TagPageName)
    lazy val tiled: Boolean = has(TAG_TILE_WIDTH)

    /** Tile size; a strip is a tile as wide as the image. */
    lazy val block: (Int, Int) =
      if (tiled) (int(TAG_TILE_WIDTH, 0), int(TAG_TILE_LENGTH, 0))
      else (width, math.min(int(TAG_ROWS_PER_STRIP, Int.MaxValue), height))

    lazy val offsets: Array[Double] = required(
      if (tiled) TAG_TILE_OFFSETS else TAG_STRIP_OFFSETS, "tile/strip offsets")
    lazy val byteCounts: Array[Double] = required(
      if (tiled) TAG_TILE_BYTE_COUNTS else TAG_STRIP_BYTE_COUNTS,
      "tile/strip byte counts")

    /** The predictor applies to the compressed codecs only (as in
      * libtiff): uncompressed data ignores the tag. */
    def differenced: Boolean = predictor == 2 && compression != 1

    /** Whether [[Tiles]] decodes this image; the rest go through the
      * `javax.imageio` plugin. */
    def native: Boolean =
      (compression == 1 || compression == 8 || compression == 32946) &&
        (predictor == 1 || compression == 1 ||
          (predictor == 2 && (bits == 8 || bits == 16 || bits == 32)))
  }

  /** `uri`'s addressed image opened for band `band` (1-based): the file's
    * header and IFD chain parsed once, as far as the image. */
  def open(uri: String, band: Int = 1): RasterImage = {
    val (path, frag) = splitUri(uri)
    val file = new TiffFile(path)
    RasterImage.closingOnFailure(file)(new Image(uri, file, file.index(frag), band,
      owner = true))
  }

  /** Sample-band count of the addressed image (1 for grayscale, 3 for
    * RGB, N for packed multispectral stacks). */
  def numBands(uri: String): Int = RasterImage.use(open(uri))(_.numBands)

  /** Resolve a named subdataset to its image index by PageName (tag 285)
    * — multi-image TIFF containers are the zero-GDAL analog of the
    * netCDF/HDF variable containers `RasterSource.subdataset` addresses
    * in the reference (`loader/types.py:44-56`, `_rio.py:374-430`). A
    * miss fails loudly listing what the container actually has, like the
    * band path. Reads open `path#name` and resolve it the same way. */
  def resolveSubdataset(path: String, name: String): Int = {
    val f = new TiffFile(path)
    try f.resolve(name) finally f.close()
  }

  private def requireBand(uri: String, d: Dir, band: Int): Unit =
    require(band >= 1 && band <= d.spp,
      s"band $band requested of $uri with ${d.spp} sample band(s)")

  /** Header of the addressed image. `band` (1-based) validates against
    * SamplesPerPixel — a request for band 3 of a single-band file must
    * fail loudly, not read band 1 (reference `loader/types.py:40-70`
    * RasterSource.band). */
  def readHeader(uri: String, band: Int = 1): Grb.Header =
    RasterImage.use(open(uri, band))(_.header)

  /** Windowed read of one band: decodes only the region's tiles/strips.
    * Row-major doubles, unsigned types widened. `band` is 1-based —
    * multi-band files (RGB/MSI packed into one asset) address plane
    * `band-1`. */
  def readWindow(uri: String, x0: Int, y0: Int, w: Int, h: Int,
                 band: Int = 1): Array[Double] =
    RasterImage.use(open(uri, band))(_.window(x0, y0, w, h))

  /** Decimation levels of the addressed image: (scale, uri). */
  def overviewLevels(uri: String): Seq[(Int, String)] =
    RasterImage.use(open(uri))(_.overviews)

  /** Image `idx` of the open file `f`, band `band`; closing it closes `f`
    * when it is the `owner` (an overview level shares its base's file). */
  private final class Image(uri: String, f: TiffFile, idx: Int, band: Int,
                            owner: Boolean) extends RasterImage(uri) {
    private val d = f.dir(idx)
    requireBand(uri, d, band)

    /** Overview IFDs (idx > 0) carry no geo tags; their geobox is the
      * parent's decimated by the size ratio. */
    lazy val header: Grb.Header = {
      // An idx > 0 IFD with its OWN ModelPixelScale is a standalone
      // subdataset image (multi-image container); one without is a
      // reduced-resolution overview deriving georeferencing from its
      // PARENT — the nearest preceding IFD that carries geo tags (the
      // base image, or the subdataset the overview belongs to: GDAL lays
      // a subdataset's pyramid out as the unnamed IFDs following it).
      val geoIdx = (idx to 1 by -1).find(f.dir(_).has(TagModelPixelScale)).getOrElse(0)
      val geo = f.dir(geoIdx)
      val nodata = geo.ascii(TagGdalNodata)
        .map(_.trim)
        .flatMap(s => if (s.equalsIgnoreCase("nan")) Some(Double.NaN)
                      else s.toDoubleOption)
      val gbox =
        if (geoIdx == idx) geoboxOf(geo, d.width, d.height)
        else {
          // decimated level: same origin, linear part scaled by size ratio
          val parentGbox = geoboxOf(geo, geo.width, geo.height)
          val sx = parentGbox.width.toDouble / d.width
          val sy = parentGbox.height.toDouble / d.height
          val t = parentGbox.transform
          GeoBox(d.width, d.height,
            Affine(t.a * sx, t.b * sx, t.c, t.d * sy, t.e * sy, t.f), parentGbox.crs)
        }
      Grb.Header(dtypeOf(d), d.width, d.height, nodata, gbox, 0L)
    }

    override def numBands: Int = d.spp

    /** A pyramid is the run of unnamed reduced-resolution IFDs
      * immediately FOLLOWING its full image (the GDAL container layout —
      * a subdataset's overviews sit between it and the next page-named
      * image), so this works for the base image and for `#`-addressed
      * subdatasets alike. */
    override def overviews: Seq[(Int, String)] =
      Iterator.from(idx + 1).takeWhile(i => f.has(i) && f.dir(i).pageName.isEmpty)
        .map(i => math.round(d.width.toDouble / f.dir(i).width).toInt -> s"${f.path}#$i")
        .toSeq.sortBy(_._1)

    override def level(levelUri: String, band: Int): RasterImage = {
      val (path, frag) = splitUri(levelUri)
      if (path != f.path) super.level(levelUri, band)
      else new Image(levelUri, f, f.index(frag), band, owner = false)
    }

    private[raster] lazy val blocks: Blocks = new Tiles(f, d, band)

    /** Native codecs go through the block loop; the rest decode the
      * window through the `javax.imageio` plugin ([[decodeWindow]]). */
    override private[raster] def rows(x0: Int, y0: Int, w: Int, h: Int)(
        seg: (Int, Int, Array[Double], Int) => Unit): Unit =
      if (d.native) blocks.rows(x0, y0, w, h)(seg)
      else decodeWindow(f, idx, x0, y0, w, h, band, dtypeOf(d)) { samples =>
        val px = new Array[Double](w)
        var y = 0
        while (y < h) { samples.row(y, px); seg(y, 0, px, w); y += 1 }
      }

    def close(): Unit = if (owner) f.close()
  }

  /** The tiles (or strips: a strip is a tile as wide as the image) of
    * image `d`, band `band`: each one the window touches is read on its
    * own, decoded as far as its last row in the window and undifferenced
    * (predictor 2). Every tile of a window is checked to lie inside the
    * file before the first is read, so a file cut short fails before
    * anything is handed on. */
  private final class Tiles(f: TiffFile, d: Dir, band: Int) extends Blocks {
    private val sz = d.bits / 8
    private val chunky = d.planar == 1
    val dcode: Int = Grb.DtypeCodes(dtypeOf(d))
    override val spp: Int = if (chunky) d.spp else 1 // samples per pixel of a tile
    override val sample: Int = if (chunky) band - 1 else 0
    val (blockW, blockH): (Int, Int) = d.block
    if (blockW <= 0 || blockH <= 0) f.fail(s"tile size ${blockW}x$blockH")
    private val rowBytes = blockW.toLong * spp * sz
    private val across = (d.width + blockW - 1) / blockW
    private val plane =
      if (chunky) 0 else (band - 1) * across * ((d.height + blockH - 1) / blockH)
    private val (offsets, counts) = (d.offsets, d.byteCounts)
    private val compressed = d.compression != 1
    private var scratch: Array[Byte] = null

    override def check(bx: Int, by: Int): Unit = {
      val t = plane + by * across + bx
      if (t >= offsets.length || t >= counts.length)
        f.fail(s"tile $t missing from the tile table (${offsets.length} entries)")
      if (offsets(t) + counts(t) > f.length)
        f.fail(s"tile $t ends at byte ${(offsets(t) + counts(t)).toLong}, " +
          s"past the end of the file (${f.length} bytes)")
    }

    def read(bx: Int, by: Int, r0: Int, r1: Int, c0: Int, n: Int): Part = {
      val t = plane + by * across + bx
      // the part of the tile the window needs: its rows down to the
      // window's last
      val needL = r1 * rowBytes
      if (needL > Int.MaxValue - 8)
        f.fail(s"a ${blockW}x$blockH tile of $spp ${d.bits}-bit samples is too large to read")
      val need = needL.toInt
      val (at, len) = (offsets(t).toLong, counts(t).toInt)
      val data =
        if (!compressed) {
          if (len < need) f.fail(s"tile $t holds $len of its $need bytes")
          f.bytes(at, need)
        } else {
          if (scratch == null || scratch.length < need) scratch = new Array[Byte](need)
          Codecs.inflate(f.bytes(at, len), scratch, need, s"${f.path}: tile $t")
          scratch
        }
      val bb = ByteBuffer.wrap(data).order(f.order)
      if (d.differenced) {
        var r = r0
        while (r < r1) {
          undoPredictor(bb, r * rowBytes.toInt, blockW * spp, spp, sz)
          r += 1
        }
      }
      new Part(bb, r0 * rowBytes.toInt + c0 * spp * sz, rowBytes.toInt)
    }
  }

  /** Undoes TIFF predictor 2 (horizontal differencing) on one row of
    * `samples` samples of `sz` bytes at byte `off`: each sample adds the
    * same component of the pixel before it, in the file's byte order
    * and wrapping like the integer it is (float samples are differenced
    * as 32-bit integers, as libtiff does). */
  private def undoPredictor(bb: ByteBuffer, off: Int, samples: Int, spt: Int,
                            sz: Int): Unit = {
    val end = off + samples * sz
    var i = off + spt * sz
    val back = spt * sz
    sz match {
      case 1 =>
        while (i < end) { bb.put(i, (bb.get(i) + bb.get(i - back)).toByte); i += 1 }
      case 2 =>
        while (i < end) {
          bb.putShort(i, (bb.getShort(i) + bb.getShort(i - back)).toShort); i += 2
        }
      case 4 =>
        while (i < end) { bb.putInt(i, bb.getInt(i) + bb.getInt(i - back)); i += 4 }
    }
  }

  /** Decodes the window of image `idx` through the `javax.imageio` TIFF
    * plugin and hands `fn` its band `band` (1-based): the path of the
    * codecs [[Tiles]] does not decode. The decode covers all samples —
    * interleaved layouts decode whole rows anyway. A remote file reaches
    * the plugin as a stream over the open file's input (MemoryCache-
    * backed, seekable). */
  private def decodeWindow[A](f: TiffFile, idx: Int, x0: Int, y0: Int, w: Int,
                              h: Int, band: Int, dtype: String)(fn: Samples => A): A = {
    val iis = RasterIO.localFile(f.path) match {
      case Some(file) => ImageIO.createImageInputStream(file)
      case None => ImageIO.createImageInputStream(f.stream)
    }
    require(iis != null, s"cannot open ${f.path}")
    try {
      val readers = ImageIO.getImageReaders(iis)
      require(readers.hasNext, s"no TIFF reader for ${f.path}")
      val reader = readers.next()
      reader.setInput(iis, false, false)
      try {
        val param = reader.getDefaultReadParam
        param.setSourceRegion(new Rectangle(x0, y0, w, h))
        fn(new Samples(reader.read(idx, param).getRaster, band - 1, dtype == "int8"))
      } catch {
        // the plugin's errors ("Data segment out of stream") name no file
        case e: IOException => throw new IOException(s"${f.path}: ${e.getMessage}", e)
      } finally reader.dispose()
    } finally iis.close()
  }

  /** Band `b` of a decoded raster, row by row, as `Raster.getSamples`
    * gives it, except that an int8 image (which the plugin decodes into
    * an unsigned byte buffer) sign-extends, as the native decode does. */
  private final class Samples(r: Raster, b: Int, int8: Boolean) {

    /** Row `y` of the band into `px(0 until width)`. */
    def row(y: Int, px: Array[Double]): Unit = {
      r.getSamples(r.getMinX, r.getMinY + y, r.getWidth, 1, b, px)
      if (int8) {
        var x = 0
        while (x < px.length) { px(x) = px(x).toByte; x += 1 }
      }
    }
  }

  private def dtypeOf(d: Dir): String =
    (d.bits, d.sampleFormat) match {
      case (8, 1) => "uint8"
      case (8, 2) => "int8"
      case (16, 1) => "uint16"
      case (16, 2) => "int16"
      case (32, 2) => "int32"
      case (32, 3) => "float32"
      case (64, 3) => "float64"
      case other => throw new IllegalArgumentException(
        s"unsupported TIFF sample layout (bits, format) = $other")
    }

  private def geoboxOf(d: Dir, w: Int, h: Int): GeoBox = {
    val scale = d.nums(TagModelPixelScale).getOrElse(
      throw new IllegalArgumentException("TIFF has no ModelPixelScaleTag"))
    val tie = d.nums(TagModelTiepoint).getOrElse(
      throw new IllegalArgumentException("TIFF has no ModelTiepointTag"))
    val (sx, sy) = (scale(0), scale(1))
    // tiepoint: raster (i,j,k) -> model (x,y,z)
    val (ti, tj) = (tie(0), tie(1))
    val (tx, ty) = (tie(3), tie(4))
    val ox = tx - ti * sx
    val oy = ty + tj * sy
    GeoBox(w, h, Affine.grid(ox, oy, sx, -sy), crsOf(d))
  }

  private def crsOf(d: Dir): Crs = {
    val gk = d.nums(TagGeoKeyDirectory).getOrElse(
      throw new IllegalArgumentException("TIFF has no GeoKeyDirectoryTag"))
    // entries of 4 shorts: (keyId, tagLocation, count, value)
    def keyValue(keyId: Int): Option[Int] =
      (4 until gk.length - 3 by 4).collectFirst {
        case i if gk(i).toInt == keyId && gk(i + 1) == 0 => gk(i + 3).toInt
      }
    keyValue(ProjectedCSTypeGeoKey)
      .orElse(keyValue(GeographicTypeGeoKey))
      .map(epsg => Crs.parse(s"EPSG:$epsg"))
      .getOrElse(throw new IllegalArgumentException(
        "GeoKeyDirectory has no projected/geographic EPSG key"))
  }

  // ---- writer (fixtures + S10 sink analog) ---------------------------------

  private def bufferType(dtype: String): Int = dtype match {
    case "uint8" => DataBuffer.TYPE_BYTE
    case "uint16" => DataBuffer.TYPE_USHORT
    case "int16" => DataBuffer.TYPE_SHORT
    case "int32" => DataBuffer.TYPE_INT
    case "float32" => DataBuffer.TYPE_FLOAT
    case "float64" => DataBuffer.TYPE_DOUBLE
    case other => throw new IllegalArgumentException(
      s"unsupported TIFF write dtype '$other'")
  }

  private def toImage(pixels: Array[Double], w: Int, h: Int,
                      dtype: String): BufferedImage = {
    val cm = new ComponentColorModel(
      ColorSpace.getInstance(ColorSpace.CS_GRAY),
      false, false, java.awt.Transparency.OPAQUE, bufferType(dtype))
    val raster = Raster.createWritableRaster(
      cm.createCompatibleSampleModel(w, h), null)
    raster.setSamples(0, 0, w, h, 0, pixels)
    new BufferedImage(cm, raster, false, null)
  }

  private def geoFields(gbox: GeoBox, nodata: Option[Double]): Seq[TIFFField] = {
    val t = gbox.transform
    require(t.isAxisAligned && t.e < 0,
      "TIFF writer supports axis-aligned north-up grids")
    def tag(name: String, num: Int, tpe: Int) =
      new TIFFTag(name, num, 1 << tpe)
    val scale = new TIFFField(
      tag("ModelPixelScaleTag", TagModelPixelScale, TIFFTag.TIFF_DOUBLE),
      TIFFTag.TIFF_DOUBLE, 3, Array(t.a, -t.e, 0.0))
    val tie = new TIFFField(
      tag("ModelTiepointTag", TagModelTiepoint, TIFFTag.TIFF_DOUBLE),
      TIFFTag.TIFF_DOUBLE, 6, Array(0.0, 0.0, 0.0, t.c, t.f, 0.0))
    // the GeoKeyDirectory carries EPSG codes only; other authorities
    // (e.g. ESRI:54034) have no GeoTIFF key and must fail loudly
    val epsg = gbox.crs.code.stripPrefix("EPSG:").toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"GeoTIFF GeoKeyDirectory requires an EPSG code; got ${gbox.crs.code}"))
    val geographic = epsg == 4326
    val keys: Array[Char] = (Seq(
      1, 1, 0, 3, // version, revision, minor, numKeys
      GTModelTypeGeoKey, 0, 1, if (geographic) 2 else 1,
      GTRasterTypeGeoKey, 0, 1, 1) ++ // PixelIsArea
      (if (geographic) Seq(GeographicTypeGeoKey, 0, 1, epsg)
       else Seq(ProjectedCSTypeGeoKey, 0, 1, epsg)))
      .map(_.toChar).toArray
    val geokeys = new TIFFField(
      tag("GeoKeyDirectoryTag", TagGeoKeyDirectory, TIFFTag.TIFF_SHORT),
      TIFFTag.TIFF_SHORT, keys.length, keys)
    val nd = nodata.map { v =>
      new TIFFField(
        tag("GDAL_NODATA", TagGdalNodata, TIFFTag.TIFF_ASCII),
        TIFFTag.TIFF_ASCII, 1,
        Array(if (v.isNaN) "nan" else if (v == v.floor && !v.isInfinite)
          v.toLong.toString else v.toString))
    }
    Seq(scale, tie, geokeys) ++ nd
  }

  /** Minimal N-component color space for band counts with no standard
    * java.awt color space (4+-band MSI stacks) — the transforms are only
    * there to satisfy `ComponentColorModel`; pixel data round-trips
    * through the raster untouched. */
  private final class NComponentColorSpace(n: Int)
      extends ColorSpace(ColorSpace.TYPE_GRAY, n) {
    override def toRGB(cv: Array[Float]): Array[Float] =
      Array(cv(0), cv(0), cv(0))
    override def fromRGB(rgb: Array[Float]): Array[Float] =
      Array.fill(n)(rgb(0))
    override def toCIEXYZ(cv: Array[Float]): Array[Float] =
      Array(cv(0), cv(0), cv(0))
    override def fromCIEXYZ(xyz: Array[Float]): Array[Float] =
      Array.fill(n)(xyz(0))
  }

  /** Write a MULTI-BAND (pixel-interleaved) GeoTIFF: `bands` are equal-
    * length row-major planes — the packed-bands layout real catalogs ship
    * (RGB composites, MSI stacks) that `readWindow(band = i)` addresses.
    * 3 bands write as photometric RGB; other counts use a minimal
    * N-component color space. */
  def writeBands(path: String, bands: Seq[Array[Double]], geobox: GeoBox,
                 dtype: String, nodata: Option[Double],
                 tileSize: Option[Int] = Some(64),
                 compression: Option[String] = None): Unit = {
    require(bands.nonEmpty &&
      bands.forall(_.length == geobox.width * geobox.height),
      "each band must be a full-geobox plane")
    if (bands.length == 1)
      return write(path, bands.head, geobox, dtype, nodata, tileSize,
        compression = compression)
    val (w, h) = (geobox.width, geobox.height)
    val cs: ColorSpace =
      if (bands.length == 3) ColorSpace.getInstance(ColorSpace.CS_sRGB)
      else new NComponentColorSpace(bands.length)
    val cm = new ComponentColorModel(cs, false, false,
      java.awt.Transparency.OPAQUE, bufferType(dtype))
    val raster = Raster.createWritableRaster(
      cm.createCompatibleSampleModel(w, h), null)
    bands.zipWithIndex.foreach { case (px, b) =>
      raster.setSamples(0, 0, w, h, b, px)
    }
    val img = new BufferedImage(cm, raster, false, null)
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val ios = ImageIO.createImageOutputStream(new File(path))
    try {
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      tileSize.foreach { ts =>
        param.setTilingMode(ImageWriteParam.MODE_EXPLICIT)
        param.setTiling(ts, ts, 0, 0)
      }
      compression.foreach { c =>
        param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
        param.setCompressionType(c)
      }
      val meta = writer.getDefaultImageMetadata(
        new ImageTypeSpecifier(img), param)
      val dir = TIFFDirectory.createFromMetadata(meta)
      geoFields(geobox, nodata).foreach(dir.addTIFFField)
      writer.write(null, new IIOImage(img, null, dir.getAsMetadata), param)
    } finally {
      writer.dispose()
      ios.close()
    }
  }

  /** Nearest-neighbor decimation of a plane by integer factor `s` —
    * shared by the single-image and subdataset-container writers. */
  private def decimated(pixels: Array[Double], gbox: GeoBox, s: Int)
  : (Array[Double], GeoBox) = {
    val ow = math.max(1, gbox.width / s)
    val oh = math.max(1, gbox.height / s)
    val opix = new Array[Double](ow * oh)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        opix(y * ow + x) = pixels(
          math.min(y * s, gbox.height - 1) * gbox.width +
            math.min(x * s, gbox.width - 1))
        x += 1
      }
      y += 1
    }
    val t = gbox.transform
    (opix, GeoBox(ow, oh,
      Affine(t.a * s, t.b * s, t.c, t.d * s, t.e * s, t.f), gbox.crs))
  }

  /** Write a multi-SUBDATASET container TIFF: independent named
    * single-band images, each with its OWN geo tags and a PageName
    * (tag 285) — the zero-GDAL analog of a netCDF/HDF variable container
    * (what `RasterSource.subdataset` addresses; reference
    * `loader/types.py:44-56`). Subdatasets may differ in grid, dtype and
    * nodata. `overviews` appends each subdataset's decimated pyramid as
    * the unnamed reduced-resolution IFDs immediately following it (the
    * GDAL container layout `overviewLevels` enumerates). Read back via
    * `readHeader(s"$path#$name")`. */
  def writeSubdatasets(path: String,
      subs: Seq[(String, Array[Double], GeoBox, String, Option[Double])],
      tileSize: Option[Int] = Some(64),
      overviews: Seq[Int] = Nil): Unit = {
    require(subs.nonEmpty, "a subdataset container needs at least one image")
    require(subs.map(_._1).distinct.length == subs.length,
      "subdataset names must be unique")
    // digit-only fragments always parse as an image INDEX (splitUri), so
    // a subdataset literally named "7" would be unreachable by name
    require(subs.forall(s => !s._1.forall(_.isDigit)),
      "subdataset names must not be all digits (fragment parses as image index)")
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val ios = ImageIO.createImageOutputStream(new File(path))
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      def writeImage(pixels: Array[Double], gbox: GeoBox, dtype: String,
                     nodata: Option[Double], name: Option[String]): Unit = {
        val img = toImage(pixels, gbox.width, gbox.height, dtype)
        val param = writer.getDefaultWriteParam
        tileSize.foreach { ts =>
          param.setTilingMode(ImageWriteParam.MODE_EXPLICIT)
          param.setTiling(ts, ts, 0, 0)
        }
        val meta = writer.getDefaultImageMetadata(
          new ImageTypeSpecifier(img), param)
        val dir = TIFFDirectory.createFromMetadata(meta)
        name match {
          case Some(n) =>
            geoFields(gbox, nodata).foreach(dir.addTIFFField)
            dir.addTIFFField(new TIFFField(
              new TIFFTag("PageName", TagPageName, 1 << TIFFTag.TIFF_ASCII),
              TIFFTag.TIFF_ASCII, 1, Array(n)))
          case None => // overview IFD: no geo tags (derived from parent)
            dir.addTIFFField(new TIFFField(
              new TIFFTag("NewSubfileType", TagNewSubfileType,
                1 << TIFFTag.TIFF_LONG),
              TIFFTag.TIFF_LONG, 1, Array[Long](1L)))
        }
        writer.writeToSequence(new IIOImage(img, null, dir.getAsMetadata), param)
      }
      subs.foreach { case (name, pixels, gbox, dtype, nodata) =>
        require(pixels.length == gbox.width * gbox.height,
          s"subdataset '$name' pixel count does not match its geobox")
        writeImage(pixels, gbox, dtype, nodata, Some(name))
        overviews.foreach { s =>
          val (opix, ogb) = decimated(pixels, gbox, s)
          writeImage(opix, ogb, dtype, nodata, None)
        }
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
  }

  /** Write a single-band GeoTIFF; `tileSize` tiles the layout (multiple
    * of 16), `overviews` appends decimated subimage IFDs (the COG
    * shape: base + pyramid in one file), and `compression` selects a
    * TIFF codec by JDK name ("Deflate", "LZW" — what real COGs ship
    * with; the reader decodes any of them transparently). */
  def write(path: String, pixels: Array[Double], geobox: GeoBox,
            dtype: String, nodata: Option[Double],
            tileSize: Option[Int] = Some(64),
            overviews: Seq[Int] = Nil,
            compression: Option[String] = None): Unit = {
    require(pixels.length == geobox.width * geobox.height)
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val ios = ImageIO.createImageOutputStream(new File(path))
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)

      def writeLevel(px: Array[Double], gbox: GeoBox, base: Boolean): Unit = {
        val img = toImage(px, gbox.width, gbox.height, dtype)
        val param = writer.getDefaultWriteParam
        tileSize.foreach { ts =>
          param.setTilingMode(ImageWriteParam.MODE_EXPLICIT)
          param.setTiling(ts, ts, 0, 0)
        }
        compression.foreach { c =>
          param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
          param.setCompressionType(c)
          // JDK TIFFDeflater maps quality -> deflate level 1+8q and
          // MODE_EXPLICIT defaults quality to 1.0 = level 9, the
          // pathological CPU corner (~6x slower than level 3 for ~10%
          // size). 0.25 -> level 3, the speed-oriented COG choice.
          if (c == "Deflate") param.setCompressionQuality(0.25f)
        }
        val meta = writer.getDefaultImageMetadata(
          new ImageTypeSpecifier(img), param)
        val dir = TIFFDirectory.createFromMetadata(meta)
        if (base) geoFields(gbox, nodata).foreach(dir.addTIFFField)
        // COG-correct marking: overview IFDs are reduced-resolution
        // images (NewSubfileType bit 0)
        else dir.addTIFFField(new TIFFField(
          new TIFFTag("NewSubfileType", TagNewSubfileType, 1 << TIFFTag.TIFF_LONG),
          TIFFTag.TIFF_LONG, 1, Array[Long](1L)))
        writer.writeToSequence(new IIOImage(img, null, dir.getAsMetadata), param)
      }

      writeLevel(pixels, geobox, base = true)
      overviews.foreach { s =>
        val (opix, ogb) = decimated(pixels, geobox, s)
        writeLevel(opix, ogb, base = false)
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
  }
}
