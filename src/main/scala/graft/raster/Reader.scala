package graft.raster

import graft.geo.{BBox, Crs, GeoBox}
import graft.model.{RasterLoadParams, RasterSource}

/** Destination-pixel region of interest. */
final case class Roi(x0: Int, y0: Int, w: Int, h: Int) {
  def isEmpty: Boolean = w <= 0 || h <= 0
}

/** Separable convolution kernel weights (F16): cubic = Catmull-Rom
  * (cubic convolution with a = -0.5, GDAL's kernel), lanczos =
  * sinc-windowed sinc a = 3, cubic_spline = cubic B-spline (smoothing,
  * not interpolating). Top-level so the warp sampler and the
  * `raster_resample_conv` oracle weight-table export share ONE
  * implementation — the landed weights are bit-identical to what the
  * engine multiplies with. */
object Kernels {
  def cubic(t0: Double): Double = {
    val t = math.abs(t0)
    if (t <= 1) (1.5 * t - 2.5) * t * t + 1
    else if (t < 2) ((-0.5 * t + 2.5) * t - 4) * t + 2
    else 0.0
  }
  def lanczos(t: Double): Double = {
    if (t == 0) 1.0
    else if (t <= -3 || t >= 3) 0.0
    else {
      val px = math.Pi * t
      3 * math.sin(px) * math.sin(px / 3) / (px * px)
    }
  }
  def bspline(t0: Double): Double = {
    val t = math.abs(t0)
    if (t <= 1) (4 + t * t * (3 * t - 6)) / 6
    else if (t < 2) { val u = 2 - t; u * u * u / 6 }
    else 0.0
  }
  /** Gauss pooled-kernel tap weight for an n×n window at squared
    * center distance d2 (sigma tied to the pooling radius — the GDAL
    * overview kernel). */
  def gauss(d2: Double, n: Int): Double = {
    val sigma = math.max(0.5, n / 2.0)
    math.exp(-d2 / (2 * sigma * sigma))
  }
}

/** Pluggable reader protocol (S9, `loader/types.py:142-157`): open a
  * source URI and fill a window of the destination grid. Implementations
  * mirror the reference reader's planning (`_rio.py:314-475`):
  *
  *  1. compute the dst ROI overlapping the source extent; empty -> skip;
  *  2. **paste path** when grids align (same CRS, same res within ttol,
  *     sub-pixel aligned): windowed read, no resampling (F15);
  *  3. else **warp path**: per-dst-pixel inverse projection with nearest /
  *     bilinear / average / mode / sum resampling (F16);
  *  4. overview selection when shrinking (S8) — reads the decimated
  *     level (sidecar file or reduced-resolution subimage) instead of the
  *     base image.
  */
trait RasterReader extends Serializable {
  /** Read the part of `src` covering `dstGeobox`; returns the dst ROI and
    * row-major pixels (length roi.w*roi.h) in **source** value space with
    * src-nodata remapped to `dstNodata`. None when no overlap. */
  def read(src: RasterSource, cfg: RasterLoadParams, dstGeobox: GeoBox,
           dstNodata: Double): Option[(Roi, Array[Double])]

  /** Fused read+mosaic step (A2 hot path): write `src`'s pixels into the
    * still-`dstNodata` positions of `out` (row-major over `dstGeobox`),
    * first-valid-wins. Returns the number of newly filled pixels. */
  def readInto(src: RasterSource, cfg: RasterLoadParams, dstGeobox: GeoBox,
               dstNodata: Double, out: Array[Double]): Long
}

/** Planned read: dst ROI + resolved src nodata; `pasteAt` is the src
  * window origin when the F15 paste fast path applies, None -> warp. */
private[raster] final case class ReadPlan(header: Grb.Header,
                                          srcNodata: Option[Double], roi: Roi,
                                          pasteAt: Option[(Int, Int)])

/** The one windowed reader over every container format. Each source's
  * format comes from [[RasterFormat.of]], which supplies header decode,
  * windowed pixel reads, overview levels and subdataset resolution; the
  * paste/warp planning, resampling kernels, fused mosaic and the
  * approximating row transformer are format-independent and live here.
  * [[AutoReader]] is the instance the loader uses. */
class WindowedReader extends RasterReader {

  /** Normalize a source for reading: strip the file scheme and resolve
    * `subdataset` to a concrete image URI of its format. */
  private def resolve(src0: RasterSource): (RasterSource, RasterFormat) = {
    val src = src0.copy(uri = src0.uri.stripPrefix("file://"))
    val fmt = RasterFormat.of(src.uri)
    (src.subdataset.fold(src)(sub =>
      src.copy(uri = fmt.subdataset(src.uri, sub), subdataset = None)), fmt)
  }

  /** The one permissive catch (`_rio.py:402-436`): with `failOnError` off
    * a failing source is logged and contributes `nothing`. */
  private def permissive[T](src: RasterSource, cfg: RasterLoadParams,
                            nothing: => T)(body: => T): T =
    try body
    catch {
      case e: Exception if !cfg.failOnError =>
        System.err.println(s"[graft.reader] ${src.uri}: ${e.getMessage}")
        nothing
    }

  /** Sub-pixel tolerance for the paste decision (`_rio.py:444-447`):
    * loose for nearest, tight otherwise. */
  private def ttol(resampling: String): Double =
    if (resampling == "nearest") 0.9 else 0.05

  def read(src0: RasterSource, cfg: RasterLoadParams, dstGeobox: GeoBox,
           dstNodata: Double): Option[(Roi, Array[Double])] =
    permissive(src0, cfg, Option.empty[(Roi, Array[Double])]) {
      val (src, fmt) = resolve(src0)
      plan(src, fmt, cfg, dstGeobox).flatMap {
        case ReadPlan(header, srcNodata, roi, Some((sx0, sy0))) =>
          paste(src, fmt, header, srcNodata, dstGeobox, roi, sx0, sy0, dstNodata)
        case p => warp(src, fmt, p, cfg, dstGeobox, dstNodata)
      }
    }

  /** Paste-aligned sources fuse straight from the window into `out` (no
    * ROI array, no remap pass); warp-path sources fuse the resampled ROI
    * with the same first-valid rule ([[RasterFormat.fuseInto]]). */
  def readInto(src0: RasterSource, cfg: RasterLoadParams, dstGeobox: GeoBox,
               dstNodata: Double, out: Array[Double]): Long =
    permissive(src0, cfg, 0L) {
      val (src, fmt) = resolve(src0)
      plan(src, fmt, cfg, dstGeobox) match {
        case None => 0L
        case Some(ReadPlan(header, srcNodata, roi, Some((sx0, sy0)))) =>
          val (cx0, cy0, wx0, wy0, w, h) = clipPaste(header, roi, sx0, sy0)
          if (w <= 0 || h <= 0) 0L
          else fmt.fuseWindowInto(src.uri, wx0, wy0, w, h, src.band, srcNodata,
            out, dstGeobox.width, roi.x0 + cx0, roi.y0 + cy0, dstNodata,
            permissive = !cfg.failOnError)
        case Some(p) =>
          warp(src, fmt, p, cfg, dstGeobox, dstNodata).fold(0L) {
            case (roi, pix) =>
              // warp output is already nodata-remapped to dstNodata
              RasterFormat.fuseInto(pix, roi.w, roi.h, dstNodata, out,
                dstGeobox.width, roi.x0, roi.y0, dstNodata)
          }
      }
    }

  /** Shared F15/F16 planning (`_rio.py:314-475` analog). None = no
    * overlap with the destination. */
  private def plan(src: RasterSource, fmt: RasterFormat, cfg: RasterLoadParams,
                   dstGeobox: GeoBox): Option[ReadPlan] = {
    val header = fmt.header(src.uri, src.band)
    val srcGeobox = header.geobox
    val srcNodata = cfg.srcNodataOverride
      .orElse(header.nodata)
      .orElse(src.nodata)
      .orElse(cfg.srcNodataFallback)

    // dst ROI covering the source extent
    val srcExtentDst: BBox =
      if (srcGeobox.crs == dstGeobox.crs) srcGeobox.extent
      else srcGeobox.footprint(dstGeobox.crs).bbox
    val inv = dstGeobox.transform.inverse
    val corners = Seq(
      inv(srcExtentDst.x0, srcExtentDst.y0), inv(srcExtentDst.x1, srcExtentDst.y0),
      inv(srcExtentDst.x1, srcExtentDst.y1), inv(srcExtentDst.x0, srcExtentDst.y1))
    val px0 = math.max(0, math.floor(corners.map(_._1).min).toInt)
    val py0 = math.max(0, math.floor(corners.map(_._2).min).toInt)
    val px1 = math.min(dstGeobox.width, math.ceil(corners.map(_._1).max).toInt)
    val py1 = math.min(dstGeobox.height, math.ceil(corners.map(_._2).max).toInt)
    val roi = Roi(px0, py0, px1 - px0, py1 - py0)
    if (roi.isEmpty) return None

    val sameCrs = srcGeobox.crs == dstGeobox.crs
    val axisAligned =
      srcGeobox.transform.isAxisAligned && dstGeobox.transform.isAxisAligned
    val sameRes = sameCrs && axisAligned &&
      math.abs(srcGeobox.resX - dstGeobox.resX) < 1e-9 * math.abs(dstGeobox.resX) &&
      math.abs(srcGeobox.resY - dstGeobox.resY) < 1e-9 * math.abs(dstGeobox.resY)

    val pasteAt = if (sameRes) {
      // check sub-pixel alignment for paste
      val (spx, spy) = srcGeobox.transform.inverse(
        dstGeobox.transform(px0, py0)._1, dstGeobox.transform(px0, py0)._2)
      val fx = spx - math.round(spx)
      val fy = spy - math.round(spy)
      val tol = ttol(cfg.resampling)
      if (math.abs(fx) <= tol && math.abs(fy) <= tol)
        Some((math.round(spx).toInt, math.round(spy).toInt))
      else None
    } else None
    Some(ReadPlan(header, srcNodata, roi, pasteAt))
  }

  /** Clip a paste window to the source image. Returns
    * (dstOffX, dstOffY, srcX0, srcY0, w, h); w/h <= 0 means no overlap.
    * Shared by the buffered (`paste`) and fused (`readInto`) paths. */
  private def clipPaste(header: Grb.Header, roi: Roi, sx0: Int, sy0: Int)
  : (Int, Int, Int, Int, Int, Int) = {
    val cx0 = math.max(0, -sx0)
    val cy0 = math.max(0, -sy0)
    val w = math.min(roi.w - cx0, header.width - math.max(0, sx0))
    val h = math.min(roi.h - cy0, header.height - math.max(0, sy0))
    (cx0, cy0, math.max(0, sx0), math.max(0, sy0), w, h)
  }

  /** Direct windowed read — grids align (F15 fast path). */
  private def paste(src: RasterSource, fmt: RasterFormat, header: Grb.Header,
                    srcNodata: Option[Double], dstGeobox: GeoBox, roi: Roi,
                    sx0: Int, sy0: Int, dstNodata: Double): Option[(Roi, Array[Double])] = {
    val (cx0, cy0, wx0, wy0, w, h) = clipPaste(header, roi, sx0, sy0)
    if (w <= 0 || h <= 0) return None
    val pix = fmt.window(src.uri, wx0, wy0, w, h, src.band)
    val out = new Array[Double](roi.w * roi.h)
    if (cx0 > 0 || cy0 > 0 || w < roi.w || h < roi.h)
      java.util.Arrays.fill(out, dstNodata)
    // src nodata as a primitive: NaN means "no nodata value" and the
    // v.isNaN test alone applies (F5 semantics, no Option in the loop)
    val sn = srcNodata.getOrElse(Double.NaN)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = pix(y * w + x)
        out((cy0 + y) * roi.w + (cx0 + x)) =
          if (v.isNaN || v == sn) dstNodata else v
        x += 1
      }
      y += 1
    }
    Some((roi, out))
  }

  /** Per-pixel reproject + resample (F16). Reads a source window sized to
    * the ROI (with overview selection when shrinking, S8). */
  private def warp(src: RasterSource, fmt: RasterFormat, p: ReadPlan,
                   cfg: RasterLoadParams, dstGeobox: GeoBox,
                   dstNodata: Double): Option[(Roi, Array[Double])] = {
    val ReadPlan(header, srcNodata, roi, _) = p
    val srcGeobox0 = header.geobox
    // read shrink: how many src pixels per dst pixel
    val shrink = math.max(1, math.floor(dstGeobox.gsd / srcGeobox0.gsd).toInt)
    val (uri, srcGeobox) =
      if (cfg.useOverviews && shrink > 1) {
        val levels = fmt.overviews(src.uri)
        Grb.pickOverview(shrink, levels.map(_._1)) match {
          case Some(i) =>
            val u = levels(i)._2
            (u, fmt.header(u, src.band).geobox)
          case None => (src.uri, srcGeobox0)
        }
      } else (src.uri, srcGeobox0)

    // shrink relative to the CHOSEN level: the average-pooling window is
    // sized in that level's pixels (an .ovr4 read at 4x shrink pools 1
    // overview px per dst px, not 4 base px)
    val levelShrink = math.max(1,
      math.floor(dstGeobox.gsd / srcGeobox.gsd).toInt)

    // src window covering the dst roi (in the chosen level's grid)
    val dstBox = {
      val (ax, ay) = dstGeobox.transform(roi.x0, roi.y0)
      val (bx, by) = dstGeobox.transform(roi.x0 + roi.w, roi.y0 + roi.h)
      BBox(math.min(ax, bx), math.min(ay, by), math.max(ax, bx), math.max(ay, by))
    }
    val dstBoxSrc =
      if (srcGeobox.crs == dstGeobox.crs) dstBox
      else graft.geo.Geom.box(dstBox, dstGeobox.crs).toCrs(srcGeobox.crs).bbox
    val sinv = srcGeobox.transform.inverse
    val scorners = Seq(
      sinv(dstBoxSrc.x0, dstBoxSrc.y0), sinv(dstBoxSrc.x1, dstBoxSrc.y0),
      sinv(dstBoxSrc.x1, dstBoxSrc.y1), sinv(dstBoxSrc.x0, dstBoxSrc.y1))
    val wx0 = math.max(0, math.floor(scorners.map(_._1).min).toInt - 1)
    val wy0 = math.max(0, math.floor(scorners.map(_._2).min).toInt - 1)
    val wx1 = math.min(srcGeobox.width, math.ceil(scorners.map(_._1).max).toInt + 1)
    val wy1 = math.min(srcGeobox.height, math.ceil(scorners.map(_._2).max).toInt + 1)
    if (wx1 <= wx0 || wy1 <= wy0) return None
    val (sw, sh) = (wx1 - wx0, wy1 - wy0)
    val spix = fmt.window(uri, wx0, wy0, sw, sh, src.band)

    // primitive nodata (NaN = none) — keeps Option out of the pixel loop
    val sn = srcNodata.getOrElse(Double.NaN)
    @inline def invalid(v: Double): Boolean = v.isNaN || v == sn
    // resampling mode hoisted to an int (no per-pixel string match);
    // full rasterio/GDAL matrix (`types.py:113-114` passes any rasterio
    // mode string through to GDAL)
    val rcode = cfg.resampling match {
      case "bilinear" => 1; case "average" => 2; case "mode" => 3
      case "sum" => 4; case "cubic" => 5; case "lanczos" => 6
      case "cubic_spline" => 7; case "min" => 8; case "max" => 9
      case "med" => 10; case "q1" => 11; case "q3" => 12
      case "rms" => 13; case "gauss" => 14; case _ => 0
    }

    // Convolution kernels — see [[Kernels]] (shared with the oracle
    // weight-table export so both engines use bit-identical weights).
    @inline def cubicW(t0: Double): Double = Kernels.cubic(t0)
    @inline def lanczosW(t: Double): Double = Kernels.lanczos(t)
    @inline def bsplineW(t0: Double): Double = Kernels.bspline(t0)
    /** Shared 2-D convolution sampler: `taps`×`taps` window centred on
      * the source position, nodata-aware via weight renormalization
      * (same convention as the bilinear kernel above).
      * kernel: 0 = cubic, 1 = lanczos, 2 = B-spline. */
    def convSample(lx: Double, ly: Double, taps: Int, kernel: Int): Double = {
      val half = taps / 2
      val x0 = math.floor(lx - 0.5).toInt - (half - 1)
      val y0 = math.floor(ly - 0.5).toInt - (half - 1)
      val fx = lx - 0.5 - math.floor(lx - 0.5)
      val fy = ly - 0.5 - math.floor(ly - 0.5)
      @inline def kw(t: Double): Double = kernel match {
        case 1 => lanczosW(t); case 2 => bsplineW(t); case _ => cubicW(t)
      }
      var acc = 0.0; var wsum = 0.0
      var dy = 0
      while (dy < taps) {
        val yy = y0 + dy
        if (yy >= 0 && yy < sh) {
          val off = (dy - (half - 1)) - fy
          val wy = kw(off)
          if (wy != 0.0) {
            var dx = 0
            while (dx < taps) {
              val xx = x0 + dx
              if (xx >= 0 && xx < sw) {
                val v = spix(yy * sw + xx)
                if (!invalid(v)) {
                  val ox = (dx - (half - 1)) - fx
                  acc += v * (kw(ox) * wy); wsum += kw(ox) * wy
                }
              }
              dx += 1
            }
          }
        }
        dy += 1
      }
      if (math.abs(wsum) < 1e-12) dstNodata else acc / wsum
    }

    def sample(spx: Double, spy: Double): Double = {
      val lx = spx - wx0
      val ly = spy - wy0
      (rcode: @annotation.switch) match {
        case 1 =>
          val x0 = math.floor(lx - 0.5).toInt
          val y0 = math.floor(ly - 0.5).toInt
          val fx = lx - 0.5 - x0
          val fy = ly - 0.5 - y0
          var acc = 0.0; var wsum = 0.0
          var dy = 0
          while (dy < 2) {
            var dx = 0
            while (dx < 2) {
              val xx = x0 + dx; val yy = y0 + dy
              if (xx >= 0 && xx < sw && yy >= 0 && yy < sh) {
                val v = spix(yy * sw + xx)
                if (!invalid(v)) {
                  val wgt = (if (dx == 0) 1 - fx else fx) * (if (dy == 0) 1 - fy else fy)
                  acc += v * wgt; wsum += wgt
                }
              }
              dx += 1
            }
            dy += 1
          }
          if (wsum <= 0) dstNodata else acc / wsum
        case 2 | 3 | 4 | 8 | 9 | 10 | 11 | 12 | 13 | 14 =>
          // pooled kernels share the window walk: average (F16 flux mean),
          // mode (categorical majority), sum (flux total), min/max/rms,
          // med/q1/q3 (order statistics), gauss (gaussian-weighted mean) —
          // the GDAL overview-style family (`types.py:113-114`)
          val n = math.max(1, levelShrink)
          val x0 = math.floor(lx - n / 2.0).toInt
          val y0 = math.floor(ly - n / 2.0).toInt
          var acc = 0.0; var cnt = 0
          var mnv = Double.MaxValue; var mxv = Double.MinValue
          var wacc = 0.0; var wsum = 0.0
          // mode: tiny open-addressed value->count table (window is n*n);
          // med/q1/q3 reuse mvals as the raw sample list
          val needVals = rcode == 3 || rcode == 10 || rcode == 11 || rcode == 12
          val mvals = if (needVals) new Array[Double](n * n) else null
          val mcnts = if (rcode == 3) new Array[Int](n * n) else null
          var mn = 0
          // gauss: sigma tied to the pooling radius (GDAL overview
          // kernel) — weight math shared bit-for-bit via [[Kernels]]
          val cxc = lx; val cyc = ly
          var dy = 0
          while (dy < n) {
            var dx = 0
            while (dx < n) {
              val xx = x0 + dx; val yy = y0 + dy
              if (xx >= 0 && xx < sw && yy >= 0 && yy < sh) {
                val v = spix(yy * sw + xx)
                if (!invalid(v)) {
                  acc += v; cnt += 1
                  if (v < mnv) mnv = v
                  if (v > mxv) mxv = v
                  (rcode: @annotation.switch) match {
                    case 3 =>
                      var k = 0
                      var found = false
                      while (k < mn && !found) {
                        if (mvals(k) == v) { mcnts(k) += 1; found = true }
                        k += 1
                      }
                      if (!found) { mvals(mn) = v; mcnts(mn) = 1; mn += 1 }
                    case 10 | 11 | 12 => mvals(mn) = v; mn += 1
                    case 13 => acc -= v; acc += v * v // rms accumulates v^2
                    case 14 =>
                      val ddx = xx + 0.5 - cxc; val ddy = yy + 0.5 - cyc
                      val w = Kernels.gauss(ddx * ddx + ddy * ddy, n)
                      wacc += v * w; wsum += w
                    case _ => ()
                  }
                }
              }
              dx += 1
            }
            dy += 1
          }
          if (cnt == 0) dstNodata
          else (rcode: @annotation.switch) match {
            case 2 => acc / cnt
            case 4 => acc
            case 8 => mnv
            case 9 => mxv
            case 13 => math.sqrt(acc / cnt)
            case 14 => if (wsum <= 0) dstNodata else wacc / wsum
            case 10 | 11 | 12 =>
              // exact order statistic at round((cnt-1)*p), deterministic
              java.util.Arrays.sort(mvals, 0, mn)
              val p = if (rcode == 10) 0.5 else if (rcode == 11) 0.25 else 0.75
              mvals(math.round((mn - 1) * p).toInt)
            case _ =>
              // mode: most frequent value; ties -> smallest value (stable)
              var best = 0
              var k = 1
              while (k < mn) {
                if (mcnts(k) > mcnts(best) ||
                  (mcnts(k) == mcnts(best) && mvals(k) < mvals(best))) best = k
                k += 1
              }
              mvals(best)
          }
        case 5 => convSample(lx, ly, taps = 4, kernel = 0)
        case 6 => convSample(lx, ly, taps = 6, kernel = 1)
        case 7 => convSample(lx, ly, taps = 4, kernel = 2)
        case _ => // nearest (0)
          val xx = math.floor(lx).toInt
          val yy = math.floor(ly).toInt
          if (xx < 0 || xx >= sw || yy < 0 || yy >= sh) dstNodata
          else {
            val v = spix(yy * sw + xx)
            if (invalid(v)) dstNodata else v
          }
      }
    }

    // Approximating row transformer (the GDAL approx-transformer idea):
    // CRS transforms are smooth, so source coordinates along a dst row
    // are computed exactly only at segment endpoints and linearly
    // interpolated between them when the midpoint error is < 1/8 px —
    // segments subdivide where the projection bends. Cuts per-pixel trig
    // (the warp bottleneck) by ~2 orders of magnitude.
    val sameCrsW = srcGeobox.crs == dstGeobox.crs
    @inline def exactSrcPx(px: Double, py: Double): (Double, Double) = {
      val (wxp, wyp) = dstGeobox.transform(px, py)
      val (sx, sy) =
        if (sameCrsW) (wxp, wyp)
        else Crs.transform(dstGeobox.crs, srcGeobox.crs, wxp, wyp)
      srcGeobox.transform.inverse(sx, sy)
    }
    val ApproxTol2 = 0.125 * 0.125 // squared px error budget (GDAL default)
    val rowX = new Array[Double](roi.w)
    val rowY = new Array[Double](roi.w)

    def fillSeg(py: Double, xa: Int, xb: Int,
                ax: Double, ay: Double, bx: Double, by: Double): Unit = {
      rowX(xa) = ax; rowY(xa) = ay
      rowX(xb) = bx; rowY(xb) = by
      if (xb - xa <= 1) return
      val xm = (xa + xb) / 2
      val (mx, my) = exactSrcPx(roi.x0 + xm + 0.5, py)
      val t = (xm - xa).toDouble / (xb - xa)
      val ix = ax + (bx - ax) * t
      val iy = ay + (by - ay) * t
      val ex = ix - mx
      val ey = iy - my
      if (ex * ex + ey * ey <= ApproxTol2) {
        var x = xa + 1
        while (x < xb) {
          val u = (x - xa).toDouble / (xb - xa)
          rowX(x) = ax + (bx - ax) * u
          rowY(x) = ay + (by - ay) * u
          x += 1
        }
        rowX(xm) = mx; rowY(xm) = my // exact where we paid for it
      } else {
        fillSeg(py, xa, xm, ax, ay, mx, my)
        fillSeg(py, xm, xb, mx, my, bx, by)
      }
    }

    val out = new Array[Double](roi.w * roi.h)
    var y = 0
    while (y < roi.h) {
      val py = roi.y0 + y + 0.5
      if (roi.w == 1) {
        val (sx, sy) = exactSrcPx(roi.x0 + 0.5, py)
        rowX(0) = sx; rowY(0) = sy
      } else {
        val (ax, ay) = exactSrcPx(roi.x0 + 0.5, py)
        val (bx, by) = exactSrcPx(roi.x0 + roi.w - 1 + 0.5, py)
        fillSeg(py, 0, roi.w - 1, ax, ay, bx, by)
      }
      var x = 0
      while (x < roi.w) {
        out(y * roi.w + x) = sample(rowX(x), rowY(x))
        x += 1
      }
      y += 1
    }
    Some((roi, out))
  }
}

/** Default reader: the [[WindowedReader]] that routes each source through
  * [[RasterFormat.of]] (S9 driver indirection, `loader/types.py:142-157`). */
object AutoReader extends WindowedReader
