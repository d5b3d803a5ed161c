package graft.raster

/** One raster container format: the per-container calls that both the
  * windowed reader ([[WindowedReader]]) and the `raster` DSv2 pixel table
  * need. The reference serves every container through one rasterio
  * reader and lets GDAL pick the driver (`_rio.py:374-475`); here
  * [[RasterFormat.of]] is that pick, and the only extension switch.
  *
  * Level and subdataset handles are themselves URIs (`path#<index>` for
  * TIFF images, `store#variable` for zarr/netCDF), readable by the same
  * format's `header`/`window`.
  */
sealed trait RasterFormat extends Serializable {

  /** Header of one plane: dims, dtype, nodata, geobox. `band` is the
    * 1-based sample band the source addresses; formats that cannot
    * address it must throw, not read band 1. */
  def header(uri: String, band: Int): Grb.Header

  /** Windowed pixel read of one band (row-major doubles, unsigned
    * widened). */
  def window(uri: String, x0: Int, y0: Int, w: Int, h: Int,
             band: Int): Array[Double]

  /** Number of addressable bands (multi-band stacks); single-plane
    * formats have one. */
  def numBands(uri: String): Int = 1

  /** Available decimation levels, ascending scale: (scale, level-uri). */
  def overviews(uri: String): Seq[(Int, String)] = Seq.empty

  /** Resolve named-subdataset addressing into the format's URI space
    * (reference `loader/types.py:44-56`). Formats without container
    * support throw rather than silently read the base image — the same
    * loud-validation contract as the band path. */
  def subdataset(uri: String, sub: String): String =
    throw new IllegalArgumentException(
      s"$uri: format does not support subdataset addressing " +
        s"(subdataset='$sub' requested)")

  /** Container → one `uri#variable` per subdataset; plain files and
    * already-addressed uris pass through. */
  def expand(uri: String): Seq[String] = Seq(uri)

  /** Fused windowed read + first-valid mosaic (A2 paste path): write the
    * window's src-valid pixels into the still-`dstNodata` positions of
    * `out` (row stride `outW`, window origin at `(dx0, dy0)`). Returns
    * the number of newly filled pixels. */
  def fuseWindowInto(uri: String, x0: Int, y0: Int, w: Int, h: Int,
                     band: Int, srcNodata: Option[Double],
                     out: Array[Double], outW: Int, dx0: Int, dy0: Int,
                     dstNodata: Double, permissive: Boolean): Long =
    RasterFormat.fuseInto(window(uri, x0, y0, w, h, band), w, h,
      srcNodata.getOrElse(Double.NaN), out, outW, dx0, dy0, dstNodata)
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

  /** First-valid fuse of a decoded `w`×`h` window into `out`: a pixel is
    * written where `out` is still `dstNodata` (or NaN) and the source is
    * valid (not NaN, not `srcNodata`; NaN `srcNodata` means none). A
    * written value equal to `dstNodata` is not counted, so a later
    * source that still sees a hole there does not double-count — the
    * same rule as `Grb.fuseWindowInto`. */
  def fuseInto(pix: Array[Double], w: Int, h: Int, srcNodata: Double,
               out: Array[Double], outW: Int, dx0: Int, dy0: Int,
               dstNodata: Double): Long = {
    var filled = 0L
    var y = 0
    while (y < h) {
      val rowOff = (dy0 + y) * outW + dx0
      var x = 0
      while (x < w) {
        val di = rowOff + x
        val cur = out(di)
        if (cur.isNaN || cur == dstNodata) {
          val v = pix(y * w + x)
          if (!(v.isNaN || v == srcNodata)) {
            out(di) = v
            if (v != dstNodata) filled += 1
          }
        }
        x += 1
      }
      y += 1
    }
    filled
  }

  private def requireBand1(uri: String, band: Int, what: String,
                           hint: String): Unit =
    require(band == 1, s"$what; band $band requested of $uri$hint")

  private def requireUnaddressed(uri: String, sub: String, what: String): Unit =
    require(!uri.contains("#"),
      s"$uri already addresses $what; cannot also resolve subdataset '$sub'")

  /** GRB: single-band containers with `.ovr<N>` sidecar pyramids. Paste
    * reads stream straight from the read buffer into `out`
    * ([[Grb.fuseWindowInto]]). */
  object GrbFormat extends RasterFormat {
    private val Single = "GRB containers are single-band by format"

    def header(uri: String, band: Int): Grb.Header = {
      requireBand1(uri, band, Single, "")
      Grb.readHeader(uri)
    }

    def window(uri: String, x0: Int, y0: Int, w: Int, h: Int,
               band: Int): Array[Double] = {
      requireBand1(uri, band, Single, "")
      Grb.readWindow(uri, x0, y0, w, h)._2
    }

    /** Any `.ovr<N>` sidecar participates (S8 generalized — deep
      * pyramids 8x/16x included), not a hardcoded 2/4 list. */
    override def overviews(uri: String): Seq[(Int, String)] = {
      val (dir, name) = RasterIO.parentAndName(uri)
      val prefix = name + ".ovr"
      RasterIO.list(dir)
        .flatMap { n =>
          if (n.startsWith(prefix))
            n.stripPrefix(prefix).toIntOption.map(s => s -> s"$dir/$n")
          else None
        }
        .sortBy(_._1)
    }

    /** Permissive reads keep the partial fill: rows fused before a
      * failure stay in `out`, and the caller's remaining count must
      * include them. */
    override def fuseWindowInto(uri: String, x0: Int, y0: Int, w: Int, h: Int,
                                band: Int, srcNodata: Option[Double],
                                out: Array[Double], outW: Int, dx0: Int,
                                dy0: Int, dstNodata: Double,
                                permissive: Boolean): Long = {
      requireBand1(uri, band, Single, "")
      Grb.fuseWindowInto(uri, x0, y0, w, h, srcNodata, out, outW, dx0, dy0,
        dstNodata, permissive)
    }
  }

  /** GeoTIFF over the JDK's bundled `javax.imageio` TIFF plugin: windowed
    * reads via `ImageReadParam.setSourceRegion`, multi-band stacks,
    * reduced-resolution subimages as overviews and PageName-named images
    * as subdatasets (addressed as `uri#<image-index>`). See [[Tiff]]. */
  object TiffFormat extends RasterFormat {
    def header(uri: String, band: Int): Grb.Header = Tiff.readHeader(uri, band)
    def window(uri: String, x0: Int, y0: Int, w: Int, h: Int,
               band: Int): Array[Double] =
      Tiff.readWindow(uri, x0, y0, w, h, band)
    override def numBands(uri: String): Int = Tiff.numBands(uri)
    override def overviews(uri: String): Seq[(Int, String)] =
      Tiff.overviewLevels(uri)
    override def subdataset(uri: String, sub: String): String = {
      requireUnaddressed(uri, sub, "an image index")
      s"$uri#${Tiff.resolveSubdataset(uri, sub)}"
    }
  }

  /** Zarr v2 stores: chunked-directory containers whose variables are the
    * subdataset surface (`store.zarr#red`). Windowed reads decode only
    * intersecting chunks; overview levels are `<var>.ovrN` sidecar
    * variables. */
  object ZarrFormat extends RasterFormat {
    private val Single = "zarr variables are single-band planes"

    def header(uri: String, band: Int): Grb.Header = {
      requireBand1(uri, band, Single,
        " — address additional variables as store.zarr#<variable>")
      Zarr.readHeader(uri)
    }
    def window(uri: String, x0: Int, y0: Int, w: Int, h: Int,
               band: Int): Array[Double] = {
      requireBand1(uri, band, Single, "")
      Zarr.readWindow(uri, x0, y0, w, h)
    }
    override def overviews(uri: String): Seq[(Int, String)] =
      Zarr.overviewLevels(uri)
    override def subdataset(uri: String, sub: String): String = {
      requireUnaddressed(uri, sub, "a variable")
      Zarr.requireVariable(uri, sub) // loud at plan time, lists variables
      s"$uri#$sub"
    }
    override def expand(uri: String): Seq[String] =
      if (uri.contains("#")) Seq(uri)
      else Zarr.variables(uri).map(v => s"$uri#$v")
  }

  /** netCDF classic files: named 2-D variables are the subdataset surface
    * (`file.nc#red`). Contiguous row-major storage means each window row
    * is one byte-ranged read; the format has no overview convention, so
    * pyramid selection falls back to base resolution. */
  object NetCdfFormat extends RasterFormat {
    private val Single = "netCDF variables are single-band planes"

    def header(uri: String, band: Int): Grb.Header = {
      requireBand1(uri, band, Single,
        " — address additional variables as file.nc#<variable>")
      NetCdf.readHeader(uri)
    }
    def window(uri: String, x0: Int, y0: Int, w: Int, h: Int,
               band: Int): Array[Double] = {
      requireBand1(uri, band, Single, "")
      NetCdf.readWindow(uri, x0, y0, w, h)
    }
    override def subdataset(uri: String, sub: String): String = {
      requireUnaddressed(uri, sub, "a variable")
      NetCdf.requireVariable(uri, sub) // loud at plan time, lists variables
      s"$uri#$sub"
    }
    override def expand(uri: String): Seq[String] =
      if (uri.contains("#")) Seq(uri)
      else NetCdf.variables(uri).map(v => s"$uri#$v")
  }
}
