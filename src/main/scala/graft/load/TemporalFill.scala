package graft.load

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Temporal gap-filling — per-pixel linear interpolation across the time
  * axis (cloud/SLC-off hole repair before compositing, the Landsat-7
  * workflow). Beyond the reference surface: odc-stac stops at the loaded
  * cube; this closes the gaps the mosaic can't.
  *
  * Semantics per pixel: valid observations keep their value; a missing
  * observation between two valid ones takes the time-weighted linear
  * interpolant `v_prev + (v_next − v_prev)·(t − t_prev)/(t_next −
  * t_prev)`; before the first / after the last valid observation the
  * nearest valid value carries (constant extrapolation); a pixel with no
  * valid observation at all stays NaN. Planes are ordered by
  * `(time, tIdx)`, so same-time planes have one fixed order.
  *
  * Scale shape: the median composite's rechunk ([[Composite.rechunk]])
  * — tiles are cut into row bands grouped `(band, ty, tx, slice)`, so
  * one task buffers at most the state budget of decoded+filled planes
  * in ANY archive depth. `LoadResult.temporalFill` reads the load's own
  * bins into those groups; a raw tile frame moves by one shuffle.
  * Output is again tile-shaped (one filled plane per input plane), so
  * downstream operators (composites, exports) consume it unchanged.
  */
object TemporalFill {

  /** Fill a `LoadResult.tiles` frame across time. Returns one row per
    * input plane: (band, tIdx, ty, tx, filled, n_filled) where `filled`
    * is the plane as doubles (NaN = still no data).
    *
    * `timeDepth` is T, known driver-side from `LoadResult.times`
    * (`LoadResult.temporalFill()` passes it). The fill buffers 2·T
    * planes — input and output — so slices are sized for 2·T planes
    * and one task holds at most `stateBudgetBytes`. */
  def fillAcrossTime(spark: SparkSession, tiles: DataFrame,
                     timeDepth: Int,
                     stateBudgetBytes: Long = Composite.DefaultStateBudgetBytes,
                     stateProbe: Option[Composite.MaxAcc] = None): DataFrame =
    fillAcrossTime(spark, Composite.Gather(tiles), timeDepth,
      stateBudgetBytes, stateProbe)

  private[graft] def fillAcrossTime(spark: SparkSession,
      in: Composite.Gather, timeDepth: Int, stateBudgetBytes: Long,
      stateProbe: Option[Composite.MaxAcc]): DataFrame = {
    import spark.implicits._
    Composite.rechunk(spark, in, timeDepth, stateBudgetBytes, stateProbe,
        jointBands = false, statePerPlane = 2) { (planes, n) =>
      val (filled, nFilled) = fillKernel(planes, n)
      planes.indices.iterator.map(p =>
        (planes(p).band, planes(p).tIdx, Array(filled(p)), Array(nFilled(p))))
    }.map(t => (t.band, t.tIdx, t.ty, t.tx, t.planes(0), t.cnt.sum))
      .toDF("band", "tIdx", "ty", "tx", "filled", "n_filled")
  }

  /** Per-pixel forward/backward interpolation sweep over `planes`
    * (time-ascending, each `n` pixels); returns the filled planes and
    * each plane's count of filled pixels. */
  private def fillKernel(planes: Array[Composite.Plane],
                         n: Int): (Array[Array[Double]], Array[Int]) = {
    val t = planes.length
    val px = planes.map(_.px)
    val filled = Array.fill(t)(new Array[Double](n))
    val nFilled = new Array[Int](t)
    val prevIdx = new Array[Int](t)
    val nextIdx = new Array[Int](t)
    var i = 0
    while (i < n) {
          // forward/backward sweeps: nearest valid plane index per side
          var p = 0
          var last = -1
          while (p < t) {
            val v = px(p)(i)
            val valid = !(v.isNaN || v == planes(p).nodata)
            prevIdx(p) = if (valid) p else last
            if (valid) last = p
            p += 1
          }
          p = t - 1; last = -1
          while (p >= 0) {
            val v = px(p)(i)
            val valid = !(v.isNaN || v == planes(p).nodata)
            nextIdx(p) = if (valid) p else last
            if (valid) last = p
            p -= 1
          }
          p = 0
          while (p < t) {
            val v = px(p)(i)
            val valid = !(v.isNaN || v == planes(p).nodata)
            filled(p)(i) =
              if (valid) v
              else {
                val pi = prevIdx(p)
                val ni = nextIdx(p)
                val f =
                  if (pi >= 0 && ni >= 0) {
                    val pv = px(pi)(i); val nv = px(ni)(i)
                    val dt = planes(ni).tSec - planes(pi).tSec
                    // coincident acquisitions (dt = 0): carry the earlier
                    // valid value instead of dividing by zero
                    if (dt == 0L) pv
                    else pv + (nv - pv) *
                      (planes(p).tSec - planes(pi).tSec).toDouble / dt
                  } else if (pi >= 0) px(pi)(i)
                  else if (ni >= 0) px(ni)(i)
                  else Double.NaN
                if (!f.isNaN) nFilled(p) += 1
                f
              }
            p += 1
          }
          i += 1
    }
    (filled, nFilled)
  }
}
