package graft.raster

import graft.geo.{Affine, Crs, GeoBox}

import java.awt.Rectangle
import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, ComponentColorModel, ComponentSampleModel,
  DataBuffer, DataBufferByte, DataBufferDouble, DataBufferFloat, DataBufferInt,
  DataBufferShort, DataBufferUShort, Raster}
import java.io.File
import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier, ImageWriteParam}
import javax.imageio.plugins.tiff.{BaselineTIFFTagSet, TIFFDirectory, TIFFField, TIFFTag}

/** GeoTIFF I/O on the JDK's bundled `javax.imageio` TIFF plugin (public
  * API since Java 9: `javax.imageio.plugins.tiff`) — no GDAL required.
  *
  * Read side (what [[RasterFormat.TiffFormat]] consumes):
  *  - geo-referencing from ModelPixelScaleTag (33550) + ModelTiepointTag
  *    (33922), CRS from the GeoKeyDirectoryTag (34735) projected/
  *    geographic EPSG keys, nodata from GDAL_NODATA (42113) — the same
  *    tags rasterio reads for the reference (`_rio.py:374-475`);
  *  - **windowed reads**: `ImageReadParam.setSourceRegion` decodes only
  *    the tiles/strips intersecting the window — the COG access pattern;
  *  - **overview pyramid**: reduced-resolution subimages (additional
  *    IFDs), addressed as `path#<imageIndex>`; their geobox derives from
  *    the base image's (GDAL writes geo tags on the base IFD only).
  *
  * Write side exists for fixtures/tests and as the S10 sink analog:
  * tiled (multiples-of-16) or stripped layout, optional overview IFDs.
  * Supported dtypes: uint8, uint16, int16, int32, float32, float64
  * (TIFF SampleFormat 1/2/3). Single-band, axis-aligned north-up grids.
  */
object Tiff {

  private val TagModelPixelScale = 33550
  private val TagModelTiepoint = 33922
  private val TagGeoKeyDirectory = 34735
  private val TagGdalNodata = 42113
  private val TagNewSubfileType = BaselineTIFFTagSet.TAG_NEW_SUBFILE_TYPE // 254
  private val TagPageName = BaselineTIFFTagSet.TAG_PAGE_NAME // 285

  // GeoKey ids (GeoTIFF spec §6.2)
  private val GTModelTypeGeoKey = 1024
  private val GTRasterTypeGeoKey = 1025
  private val GeographicTypeGeoKey = 2048
  private val ProjectedCSTypeGeoKey = 3072

  /** Split `path#idx` or `path#name` into (path, image index) — a
    * non-numeric fragment is a subdataset NAME, resolved via PageName
    * (cached: raster stores are immutable, and at scale every container
    * open is an object-store round trip). Makes every entry point
    * (readHeader/readWindow/numBands and the `gtiff` DSv2 source)
    * accept named-subdataset URIs. */
  private def splitUri(uri: String): (String, Int) = {
    val i = uri.lastIndexOf('#')
    if (i < 0) (uri, 0)
    else {
      val path = uri.substring(0, i)
      val frag = uri.substring(i + 1)
      if (frag.nonEmpty && frag.forall(_.isDigit)) (path, frag.toInt)
      else (path, subdatasetIdxCache.computeIfAbsent(
        (path, frag), _ => resolveSubdatasetUncached(path, frag)))
    }
  }

  private val subdatasetIdxCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Integer]()

  /** (path, overview idx) -> index of the geo-tag-carrying parent IFD. */
  private val parentIdxCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Integer]()

  private def withReader[A](uri: String)(f: (javax.imageio.ImageReader, Int) => A): A = {
    val (path, idx) = splitUri(uri)
    // remote-IO seam: ImageIO wants a File; non-local sources fall back
    // to a stream over the byte channel (MemoryCache-backed, seekable)
    val iis = RasterIO.localFile(path) match {
      case Some(f) => ImageIO.createImageInputStream(f)
      case None =>
        val in = RasterIO.open(path)
        ImageIO.createImageInputStream(new java.io.InputStream {
          def read(): Int = in.read()
          override def read(b: Array[Byte], off: Int, len: Int): Int = {
            val buf = if (off == 0 && len == b.length) b else new Array[Byte](len)
            val n = in.read(buf)
            if (n > 0 && (buf ne b)) System.arraycopy(buf, 0, b, off, n)
            n
          }
          override def close(): Unit = in.close()
        })
    }
    require(iis != null, s"cannot open $path")
    try {
      val readers = ImageIO.getImageReaders(iis)
      require(readers.hasNext, s"no TIFF reader for $path")
      val reader = readers.next()
      reader.setInput(iis, false, false)
      try f(reader, idx)
      catch {
        // the plugin's errors ("Data segment out of stream") name no file
        case e: java.io.IOException =>
          throw new java.io.IOException(s"$path: ${e.getMessage}", e)
      } finally reader.dispose()
    } finally iis.close()
  }

  /** Sample-band count of the addressed image (1 for grayscale, 3 for
    * RGB, N for packed multispectral stacks). */
  def numBands(uri: String): Int = withReader(uri) { (reader, idx) =>
    samplesPerPixel(TIFFDirectory.createFromMetadata(reader.getImageMetadata(idx)))
  }

  private def pageNameOf(reader: javax.imageio.ImageReader, i: Int): Option[String] =
    Option(TIFFDirectory.createFromMetadata(reader.getImageMetadata(i))
      .getTIFFField(TagPageName)).map(_.getAsString(0))

  /** Resolve a named subdataset to its image index by PageName (tag 285)
    * — multi-image TIFF containers are the zero-GDAL analog of the
    * netCDF/HDF variable containers `RasterSource.subdataset` addresses
    * in the reference (`loader/types.py:44-56`, `_rio.py:374-430`). A
    * miss fails loudly listing what the container actually has, like the
    * band path (`readHeader`'s SamplesPerPixel validation). */
  def resolveSubdataset(path: String, name: String): Int =
    subdatasetIdxCache.computeIfAbsent(
      (path, name), _ => resolveSubdatasetUncached(path, name))

  private def resolveSubdatasetUncached(path: String, name: String): Int =
    withReader(path) { (reader, _) =>
      val n = reader.getNumImages(true)
      val names = (0 until n).map(i => pageNameOf(reader, i))
      names.indexWhere(_.contains(name)) match {
        case -1 => throw new IllegalArgumentException(
          s"subdataset '$name' not found in $path; available: " +
            (names.flatten match {
              case Seq() => "none (container has no named subdatasets)"
              case ns => ns.mkString("'", "', '", "'")
            }))
        case i => i
      }
    }

  /** Names of the container's subdatasets (page-named images), in image
    * order. */
  def subdatasetNames(path: String): Seq[String] =
    withReader(path) { (reader, _) =>
      (0 until reader.getNumImages(true)).flatMap(i => pageNameOf(reader, i))
    }

  /** Header of the addressed image. Overview IFDs (idx > 0) carry no geo
    * tags; their geobox is the base geobox decimated by the size ratio.
    * `band` (1-based) validates against SamplesPerPixel — a request for
    * band 3 of a single-band file must fail loudly, not read band 1
    * (reference `loader/types.py:40-70` RasterSource.band). */
  def readHeader(uri: String, band: Int = 1): Grb.Header = withReader(uri) { (reader, idx) =>
    val w = reader.getWidth(idx)
    val h = reader.getHeight(idx)
    val dir = TIFFDirectory.createFromMetadata(reader.getImageMetadata(idx))
    val nBands = samplesPerPixel(dir)
    require(band >= 1 && band <= nBands,
      s"band $band requested of $uri with $nBands sample band(s)")
    val dtype = dtypeOf(dir)
    // An idx > 0 IFD with its OWN ModelPixelScale is a standalone
    // subdataset image (multi-image container); one without is a
    // reduced-resolution overview deriving georeferencing from its
    // PARENT — the nearest preceding IFD that carries geo tags (the
    // base image, or the subdataset the overview belongs to: GDAL lays
    // a subdataset's pyramid out as the unnamed IFDs following it).
    val standalone = idx == 0 || dir.getTIFFField(TagModelPixelScale) != null
    // parent resolution decodes up to idx-1 IFD metadatas — cached per
    // (path, idx) like the name cache (immutable stores; container
    // opens are object-store round trips at scale)
    val geoIdx: Int =
      if (standalone) idx
      else parentIdxCache.computeIfAbsent((splitUri(uri)._1, idx), _ =>
        (idx - 1 to 0 by -1).find { i =>
          i == 0 || TIFFDirectory.createFromMetadata(reader.getImageMetadata(i))
            .getTIFFField(TagModelPixelScale) != null
        }.get)
    val geoDir =
      if (standalone) dir
      else TIFFDirectory.createFromMetadata(reader.getImageMetadata(geoIdx))
    // the JDK reader filters tags outside its allowed TagSets out of the
    // metadata (GDAL_NODATA is no baseline/GeoTIFF tag), so fall back to a
    // raw scan of the geo-carrying IFD for it
    val nodata = Option(geoDir.getTIFFField(TagGdalNodata))
      .map(_.getAsString(0))
      .orElse(rawAsciiTag(splitUri(uri)._1, TagGdalNodata, geoIdx))
      .map(_.trim)
      .flatMap(s => if (s.equalsIgnoreCase("nan")) Some(Double.NaN)
                    else s.toDoubleOption)
    val gbox =
      if (standalone) geoboxOf(geoDir, w, h)
      else {
        // decimated level: same origin, linear part scaled by size ratio
        val parentGbox = geoboxOf(geoDir,
          reader.getWidth(geoIdx), reader.getHeight(geoIdx))
        val sx = parentGbox.width.toDouble / w
        val sy = parentGbox.height.toDouble / h
        val t = parentGbox.transform
        GeoBox(w, h, Affine(t.a * sx, t.b * sx, t.c, t.d * sy, t.e * sy, t.f),
          parentGbox.crs)
      }
    Grb.Header(dtype, w, h, nodata, gbox, 0L)
  }

  /** Windowed read of one band: decodes only the region's tiles/strips.
    * Row-major doubles, unsigned types widened. `band` is 1-based —
    * multi-band files (RGB/MSI packed into one asset) address plane
    * `band-1` of the decoded raster. */
  def readWindow(uri: String, x0: Int, y0: Int, w: Int, h: Int,
                 band: Int = 1): Array[Double] =
    decodeWindow(uri, x0, y0, w, h, band) { samples =>
      val out = new Array[Double](w * h)
      var y = 0
      while (y < h) { samples.row(y, out, y * w); y += 1 }
      out
    }

  /** Fused windowed read + first-valid mosaic (A2 paste path): each row of
    * band `band` goes from the decoded raster's bank into one row-sized
    * scratch and is fused from there into the still-`dstNodata`
    * positions of `out` ([[RasterFormat.fuseRow]]) — no window-sized
    * copy. `srcNodata` NaN means "no nodata value". Returns the number
    * of newly filled pixels. */
  def fuseWindowInto(uri: String, x0: Int, y0: Int, w: Int, h: Int,
                     band: Int, srcNodata: Double, out: Array[Double],
                     outW: Int, dx0: Int, dy0: Int, dstNodata: Double): Long =
    decodeWindow(uri, x0, y0, w, h, band) { samples =>
      val px = new Array[Double](w)
      var filled = 0L
      var y = 0
      while (y < h) {
        samples.row(y, px, 0)
        filled += RasterFormat.fuseRow(px, 0, srcNodata, out,
          (dy0 + y) * outW + dx0, w, dstNodata)
        y += 1
      }
      filled
    }

  /** Decodes the window of the addressed image and hands `f` its band
    * `band` (1-based). The decode covers all samples — interleaved
    * layouts decode whole rows anyway. */
  private def decodeWindow[A](uri: String, x0: Int, y0: Int, w: Int, h: Int,
                              band: Int)(f: Samples => A): A =
    withReader(uri) { (reader, idx) =>
      require(x0 >= 0 && y0 >= 0 && x0 + w <= reader.getWidth(idx) &&
        y0 + h <= reader.getHeight(idx),
        s"window ($x0,$y0,$w,$h) out of bounds " +
          s"${reader.getWidth(idx)}x${reader.getHeight(idx)}")
      val param = reader.getDefaultReadParam
      param.setSourceRegion(new Rectangle(x0, y0, w, h))
      if (band != 1) {
        val dir = TIFFDirectory.createFromMetadata(reader.getImageMetadata(idx))
        val nBands = samplesPerPixel(dir)
        require(band >= 1 && band <= nBands,
          s"band $band requested of $uri with $nBands sample band(s)")
      }
      f(new Samples(reader.read(idx, param).getRaster, band - 1))
    }

  /** Band `b` of a decoded raster, read row by row straight from its
    * primitive bank: a `ComponentSampleModel` gives the band's bank and
    * offset and the pixel and scanline strides, so a row is one typed
    * loop, with no virtual call per sample. Samples come out as
    * `Raster.getSamples` gives them: unsigned 8/16-bit buffers widen,
    * signed ones sign-extend. Any other sample model takes that generic
    * path. */
  private final class Samples(r: Raster, b: Int) {
    private val w = r.getWidth

    /** Row `y` of the band into `out(outOff until outOff + width)`. */
    def row(y: Int, out: Array[Double], outOff: Int): Unit =
      r.getSampleModel match {
        case sm: ComponentSampleModel =>
          val bank = sm.getBankIndices()(b)
          val ps = sm.getPixelStride
          val i0 = r.getDataBuffer.getOffsets()(bank) + sm.getOffset(
            r.getMinX - r.getSampleModelTranslateX,
            r.getMinY + y - r.getSampleModelTranslateY, b)
          var x = 0
          var i = i0
          r.getDataBuffer match {
            case d: DataBufferByte =>
              val a = d.getData(bank)
              while (x < w) { out(outOff + x) = a(i) & 0xff; x += 1; i += ps }
            case d: DataBufferUShort =>
              val a = d.getData(bank)
              while (x < w) { out(outOff + x) = a(i) & 0xffff; x += 1; i += ps }
            case d: DataBufferShort =>
              val a = d.getData(bank)
              while (x < w) { out(outOff + x) = a(i); x += 1; i += ps }
            case d: DataBufferInt =>
              val a = d.getData(bank)
              while (x < w) { out(outOff + x) = a(i); x += 1; i += ps }
            case d: DataBufferFloat =>
              val a = d.getData(bank)
              while (x < w) { out(outOff + x) = a(i); x += 1; i += ps }
            case d: DataBufferDouble =>
              val a = d.getData(bank)
              while (x < w) { out(outOff + x) = a(i); x += 1; i += ps }
            case _ => generic(y, out, outOff)
          }
        case _ => generic(y, out, outOff)
      }

    private def generic(y: Int, out: Array[Double], outOff: Int): Unit = {
      var x = 0
      while (x < w) {
        out(outOff + x) = r.getSampleDouble(r.getMinX + x, r.getMinY + y, b)
        x += 1
      }
    }
  }

  /** Decimation levels of the addressed image: (scale, uri). A pyramid
    * is the run of unnamed reduced-resolution IFDs immediately FOLLOWING
    * its full image (the GDAL container layout — a subdataset's
    * overviews sit between it and the next page-named image), so this
    * works for the base image and for `#`-addressed subdatasets alike. */
  def overviewLevels(uri: String): Seq[(Int, String)] = withReader(uri) {
    (reader, idx) =>
      val (path, _) = splitUri(uri)
      val n = reader.getNumImages(true)
      val baseW = reader.getWidth(idx)
      Iterator.from(idx + 1).takeWhile(i =>
        i < n && pageNameOf(reader, i).isEmpty).map { i =>
        math.round(baseW.toDouble / reader.getWidth(i)).toInt -> s"$path#$i"
      }.toSeq.sortBy(_._1)
  }

  /** Minimal raw scan of the `ifdIdx`-th IFD for an ASCII tag the
    * plugin's metadata filter dropped. Classic TIFF only (BigTIFF would
    * arrive via a different magic); handles both byte orders and inline
    * values. */
  private def rawAsciiTag(path: String, tagNum: Int,
                          ifdIdx: Int): Option[String] = {
    val raf = RasterIO.open(path)
    try {
      val b0 = raf.read(); val b1 = raf.read()
      val le = b0 == 'I' && b1 == 'I'
      def u16(): Int = {
        val a = raf.read(); val b = raf.read()
        if (le) a | (b << 8) else (a << 8) | b
      }
      def u32(): Long = {
        val a = u16().toLong; val b = u16().toLong
        if (le) a | (b << 16) else (a << 16) | b
      }
      if (u16() != 42) return None
      var ifdOff = u32()
      var skip = ifdIdx
      while (skip > 0) {
        if (ifdOff == 0) return None
        raf.seek(ifdOff)
        val entries = u16()
        raf.seek(ifdOff + 2 + entries * 12L) // 12 bytes per IFD entry
        ifdOff = u32()
        skip -= 1
      }
      if (ifdOff == 0) return None
      raf.seek(ifdOff)
      val n = u16()
      var i = 0
      while (i < n) {
        val tag = u16(); val tpe = u16(); val cnt = u32()
        if (tag == tagNum && tpe == 2) {
          val bytes = new Array[Byte](cnt.toInt)
          if (cnt <= 4) raf.readFully(bytes)
          else { raf.seek(u32()); raf.readFully(bytes) }
          return Some(new String(bytes, "US-ASCII").takeWhile(_ != '\u0000'))
        }
        u32() // skip value/offset
        i += 1
      }
      None
    } catch { case _: Exception => None }
    finally raf.close()
  }

  private def samplesPerPixel(dir: TIFFDirectory): Int =
    Option(dir.getTIFFField(BaselineTIFFTagSet.TAG_SAMPLES_PER_PIXEL))
      .map(_.getAsInt(0)).getOrElse(1)

  private def dtypeOf(dir: TIFFDirectory): String = {
    def intField(tag: Int, dflt: Int): Int =
      Option(dir.getTIFFField(tag)).map(_.getAsInt(0)).getOrElse(dflt)
    val bits = intField(BaselineTIFFTagSet.TAG_BITS_PER_SAMPLE, 8)
    val fmt = intField(BaselineTIFFTagSet.TAG_SAMPLE_FORMAT, 1)
    (bits, fmt) match {
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
  }

  private def geoboxOf(dir: TIFFDirectory, w: Int, h: Int): GeoBox = {
    val scale = Option(dir.getTIFFField(TagModelPixelScale)).getOrElse(
      throw new IllegalArgumentException("TIFF has no ModelPixelScaleTag"))
    val tie = Option(dir.getTIFFField(TagModelTiepoint)).getOrElse(
      throw new IllegalArgumentException("TIFF has no ModelTiepointTag"))
    val (sx, sy) = (scale.getAsDouble(0), scale.getAsDouble(1))
    // tiepoint: raster (i,j,k) -> model (x,y,z)
    val (ti, tj) = (tie.getAsDouble(0), tie.getAsDouble(1))
    val (tx, ty) = (tie.getAsDouble(3), tie.getAsDouble(4))
    val ox = tx - ti * sx
    val oy = ty + tj * sy
    GeoBox(w, h, Affine.grid(ox, oy, sx, -sy), crsOf(dir))
  }

  private def crsOf(dir: TIFFDirectory): Crs = {
    val gk = Option(dir.getTIFFField(TagGeoKeyDirectory)).getOrElse(
      throw new IllegalArgumentException("TIFF has no GeoKeyDirectoryTag"))
    // entries of 4 shorts: (keyId, tagLocation, count, value)
    def keyValue(keyId: Int): Option[Int] =
      (4 until gk.getCount by 4).collectFirst {
        case i if gk.getAsInt(i) == keyId && gk.getAsInt(i + 1) == 0 =>
          gk.getAsInt(i + 3)
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
