package graft.load

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-pixel PEAK-OF-SEASON timing — the argmax of each pixel's
  * time series (peak-NDVI phenology date, flood-crest timing; the
  * odc ecosystem's "when did this place peak" map). Beyond the
  * reference surface: odc-stac stops at the loaded cube.
  *
  * Semantics per pixel: over the valid observations, `peak` is the
  * maximum value and `peak_day` the day number (since `t0Sec`,
  * snapped to whole days like the [[Trend]] axis) of the FIRST
  * observation attaining it (ties break to the earliest day — the
  * deterministic convention `arg_max` engines disagree on, so it is
  * spelled explicitly in both engines). Pixels with zero valid
  * observations emit NaN / day −1.
  *
  * Scale shape — the argmax is MERGEABLE: the running state is three
  * fixed-size planes (best value, best day, count) per pixel, a
  * [[PixelFold]] with map-side combine like [[Trend.PixelTrend]]; one
  * partial buffer set per (band, ty, tx) per input partition crosses
  * the exchange — never T planes, no time-depth rechunk, bounded state
  * at ANY archive depth. The merge applies the identical (value, day)
  * ordering, so partial order never changes the result (pinned by
  * PixelFoldPropsSpec's split property). The streaming standing peak
  * map merges with this same fold.
  */
object Phenology {

  final case class PeakOut(peak: Array[Double], day: Array[Double],
                           count: Array[Int])

  /** Running argmax planes (best value, best day); `t` is the day
    * number. A pixel with no valid observation yet holds NaN / day −1. */
  class PixelPeak extends PixelFold[PeakOut] {
    protected def init: Array[Double] = Array(Double.NaN, -1.0)

    protected def add(s: Array[Array[Double]], px: Array[Double],
                      td: Double): Unit = {
      val best = s(0); val day = s(1)
      var i = 0
      while (i < px.length) {
        val v = px(i)
        if (!v.isNaN && better(v, td, best(i), day(i))) {
          best(i) = v; day(i) = td
        }
        i += 1
      }
    }

    override protected def mergePlanes(a: Array[Array[Double]],
                                       c: Array[Array[Double]]): Unit = {
      val best = a(0); val day = a(1); val cb = c(0); val cd = c(1)
      var i = 0
      while (i < best.length) {
        if (!cb(i).isNaN && better(cb(i), cd(i), best(i), day(i))) {
          best(i) = cb(i); day(i) = cd(i)
        }
        i += 1
      }
    }

    protected def result(n: Array[Int], s: Array[Array[Double]]): PeakOut =
      PeakOut(s(0), s(1), n)
  }

  /** The one ordering of the argmax: larger value wins; an equal value
    * wins only with a strictly smaller day; the NaN "no observation"
    * best loses to every value. */
  private def better(v: Double, d: Double, bv: Double, bd: Double)
      : Boolean =
    bv.isNaN || v > bv || (v == bv && d < bd)

  /** Peak value + timing of a `Load` tile frame across time. Returns
    * one row per (band, ty, tx): (peak, day, count) planes. `t0Sec`
    * anchors the day axis exactly as [[Trend.trendAcrossTime]]. */
  def peakAcrossTime(spark: SparkSession, tiles: DataFrame,
                     t0Sec: Long): DataFrame = {
    import spark.implicits._
    val fold = new PixelPeak
    PixelFold.byTile(spark, tiles, fold, PixelFold.dayOf(t0Sec)).map {
      case (band, ty, tx, b) =>
        val o = fold.finish(b)
        (band, ty, tx, o.peak, o.day, o.count)
    }.toDF("band", "ty", "tx", "peak", "day", "count")
  }
}
