package graft.load

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-pixel linear TREND across time — ordinary-least-squares slope +
  * intercept per pixel (vegetation greening/browning rates, coastal
  * change velocity; the odc ecosystem's change-rate map). Beyond the
  * reference surface: odc-stac stops at the loaded cube.
  *
  * Semantics per pixel: regress value on time (in DAYS since the
  * archive's first group timestamp) over the valid observations;
  * pixels with fewer than 2 valid observations — or zero time variance
  * — emit NaN. Slope is per-day.
  *
  * Scale shape — the MERGEABLE contrast to the median/geomedian
  * family: OLS needs only the running sums (n, Σt, Σt², Σv, Σtv) per
  * pixel, so this is a true partial aggregate (a [[PixelFold]] with
  * map-side combine): each task folds its local planes into five
  * fixed-size buffers and the exchange carries one partial buffer set
  * per (band, ty, tx) per input partition — never T planes, no
  * time-depth rechunk, bounded state at ANY archive depth. The
  * closed-form finish `(n·Σtv − Σt·Σv) / (n·Σt² − Σt²)` is spelled
  * identically in the DuckDB oracle; on integer-valued fixtures every
  * sum is order-exact, so the hash pins the formula bit-for-bit.
  */
object Trend {

  final case class TrendOut(slope: Array[Double], icept: Array[Double],
                            count: Array[Int])

  /** Running OLS sum planes (Σt, Σt², Σv, Σtv); `t` is the day number. */
  class PixelTrend extends PixelFold[TrendOut] {
    protected def init: Array[Double] = Array.fill(4)(0.0)

    protected def add(s: Array[Array[Double]], px: Array[Double],
                      td: Double): Unit = {
      val st = s(0); val stt = s(1); val sv = s(2); val stv = s(3)
      var i = 0
      while (i < px.length) {
        val v = px(i)
        if (!v.isNaN) {
          st(i) += td
          stt(i) += td * td
          sv(i) += v
          stv(i) += td * v
        }
        i += 1
      }
    }

    protected def result(cnt: Array[Int], s: Array[Array[Double]])
        : TrendOut = {
      val st = s(0); val stt = s(1); val sv = s(2); val stv = s(3)
      val m = cnt.length
      val slope = new Array[Double](m)
      val icept = new Array[Double](m)
      var i = 0
      while (i < m) {
        val n = cnt(i).toDouble
        val den = n * stt(i) - st(i) * st(i)
        if (cnt(i) >= 2 && den != 0.0) {
          val b = (n * stv(i) - st(i) * sv(i)) / den
          slope(i) = b
          icept(i) = (sv(i) - b * st(i)) / n
        } else {
          slope(i) = Double.NaN
          icept(i) = Double.NaN
        }
        i += 1
      }
      TrendOut(slope, icept, cnt)
    }
  }

  /** Interpolated median over `a(0 until m)` (sorted in place) — the
    * `quantile_cont(0.5)` convention the composite family already
    * proved cross-engine exact: `lo + (hi − lo)·(pos − lo)`. */
  private def med(a: Array[Double], m: Int): Double = {
    java.util.Arrays.sort(a, 0, m)
    val pos = 0.5 * (m - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi) a(lo) else a(lo) + (a(hi) - a(lo)) * (pos - lo)
  }

  /** Theil–Sen kernel over one slice: planes MUST be time-ascending.
    * Per pixel: slope = median of all distinct-time pairwise slopes,
    * intercept = median of `v − slope·t` residuals; NaN when fewer
    * than 2 valid observations or no distinct-time pair exists.
    *
    * CPU envelope: the estimator is O(T²) per pixel BY DEFINITION —
    * T(T−1)/2 slope divisions plus an O(P log P) median sort. Memory is
    * row-band bounded by the caller's rechunk, but a T≈1000 archive
    * pays ~500k divisions and a ~4 MB sort buffer PER PIXEL
    * (~2·10¹¹ divisions per 512² tile) — CPU, not memory, is the deep-
    * archive wall. `maxPairs > 0` caps it with the standard
    * pair-subsampled estimator: when a pixel's T(T−1)/2 exceeds the
    * cap, pairs are taken at a deterministic stride over the canonical
    * (a,b) enumeration — same subset every run, no RNG — giving
    * ≤ maxPairs slopes (the subsample median; a DIFFERENT, converging
    * estimator, so it is the scale path, not the oracle path). */
  private def theilSenKernel(
      planes: scala.collection.IndexedSeq[(Array[Double], Double, Double)],
      n: Int, maxPairs: Int)
      : (Array[Double], Array[Double], Array[Int]) = {
    val slopeOut = new Array[Double](n)
    val iceptOut = new Array[Double](n)
    val cnt = new Array[Int](n)
    val tmax = planes.length
    val tv = new Array[Double](tmax)
    val vv = new Array[Double](tmax)
    val allPairs = tmax.toLong * (tmax - 1) / 2
    // loud, not wrapped: .toInt overflow at tmax >= 65536 would silently
    // truncate the slope buffer and the k-guard below would then DROP
    // slopes -> wrong medians with no error
    require(maxPairs > 0 || allPairs <= Int.MaxValue,
      s"exact Theil-Sen needs $allPairs slope slots for $tmax planes; " +
        "pass maxPairsPerPixel to cap archives this deep")
    val slopesCap =
      if (maxPairs > 0) math.min(allPairs, maxPairs.toLong).toInt
      else allPairs.toInt
    val slopes = new Array[Double](math.max(1, slopesCap))
    val resid = new Array[Double](tmax)
    var i = 0
    while (i < n) {
      var m = 0
      var p = 0
      while (p < tmax) {
        val (px, nodata, td) = planes(p)
        val v = px(i)
        if (!(v.isNaN || v == nodata)) { tv(m) = td; vv(m) = v; m += 1 }
        p += 1
      }
      val mPairs = m.toLong * (m - 1) / 2
      val stride =
        if (maxPairs > 0 && mPairs > maxPairs)
          ((mPairs + maxPairs - 1) / maxPairs).toInt
        else 1L
      var k = 0
      if (stride == 1L) {
        var a = 0
        while (a < m) {
          var b = a + 1
          while (b < m) {
            if (tv(b) != tv(a) && k < slopes.length) {
              slopes(k) = (vv(b) - vv(a)) / (tv(b) - tv(a)); k += 1
            }
            b += 1
          }
          a += 1
        }
      } else {
        // capped path: touch ONLY the selected pair indices (p = j*stride
        // over the canonical a<b row-major enumeration), inverting each
        // linear index to its (a, b) — O(maxPairs) per pixel, CONSTANT
        // in archive depth, where a stride-filtered full enumeration
        // would still pay the O(T²) iteration it was meant to avoid.
        // f(a) = a*m - a*(a+1)/2 is the index of row a's first pair.
        def rowStart(a: Long): Long = a * m - a * (a + 1) / 2
        var p = 0L
        while (p < mPairs) {
          // closed-form row from the quadratic, then clamp FP rounding
          var a = ((2.0 * m - 1.0 -
            math.sqrt((2.0 * m - 1.0) * (2.0 * m - 1.0) - 8.0 * p)) / 2.0)
            .toLong
          if (a < 0) a = 0
          while (a + 1 < m - 1 && rowStart(a + 1) <= p) a += 1
          while (a > 0 && rowStart(a) > p) a -= 1
          val ai = a.toInt
          val bi = (p - rowStart(a) + a + 1).toInt
          if (tv(bi) != tv(ai) && k < slopes.length) {
            slopes(k) = (vv(bi) - vv(ai)) / (tv(bi) - tv(ai)); k += 1
          }
          p += stride
        }
      }
      if (m < 2 || k == 0) {
        slopeOut(i) = Double.NaN; iceptOut(i) = Double.NaN
      } else {
        val s = med(slopes, k)
        slopeOut(i) = s
        var j = 0
        while (j < m) { resid(j) = vv(j) - s * tv(j); j += 1 }
        iceptOut(i) = med(resid, m)
      }
      cnt(i) = m
      i += 1
    }
    (slopeOut, iceptOut, cnt)
  }

  /** Theil–Sen ROBUST trend — the median-of-pairwise-slopes estimator
    * (up to ~29% outlier contamination without breakdown; the cloudy-
    * scene-tolerant sibling of [[trendAcrossTime]]'s OLS). The median
    * is NOT mergeable, so unlike OLS this is the rechunk family
    * ([[Composite.rechunk]]): row-band slices keyed
    * `(band, ty, tx, slice)` co-locate a tile's time planes with task
    * state under the byte budget at ANY archive depth, and the
    * O(T²)-per-pixel kernel runs task-locally over the time-ascending
    * planes (`LoadResult.trendRobust` reads the load's own bins into
    * the groups; a raw tile frame moves by one shuffle). Times snap to
    * whole days as in OLS. `planesPerTile` is T.
    *
    * `maxPairsPerPixel` (0 = exact, the oracle path) bounds the
    * kernel's O(T²) CPU for deep archives via deterministic pair
    * subsampling — see [[theilSenKernel]] for the envelope numbers. */
  def theilSenAcrossTime(spark: SparkSession, tiles: DataFrame,
                         t0Sec: Long, planesPerTile: Int,
                         stateBudgetBytes: Long =
                           Composite.DefaultStateBudgetBytes,
                         maxPairsPerPixel: Int = 0,
                         stateProbe: Option[Composite.MaxAcc] = None)
      : DataFrame =
    theilSenAcrossTime(spark, Composite.Gather(tiles), t0Sec,
      planesPerTile, stateBudgetBytes, maxPairsPerPixel, stateProbe)

  private[graft] def theilSenAcrossTime(spark: SparkSession,
      in: Composite.Gather, t0Sec: Long, planesPerTile: Int,
      stateBudgetBytes: Long, maxPairsPerPixel: Int,
      stateProbe: Option[Composite.MaxAcc]): DataFrame = {
    import spark.implicits._
    Composite.rechunk(spark, in, planesPerTile, stateBudgetBytes,
        stateProbe, jointBands = false) { (planes, n) =>
      // the trendAcrossTime day axis: floor((t − t0)/86400 + 0.5)
      val (sl, ic, c) = theilSenKernel(planes.map(p => (p.px, p.nodata,
        math.floor((p.tSec - t0Sec) / 86400.0 + 0.5))), n, maxPairsPerPixel)
      Iterator((planes(0).band, 0, Array(sl, ic), c))
    }.map(t => (t.band, t.ty, t.tx, t.planes(0), t.planes(1), t.cnt))
      .toDF("band", "ty", "tx", "slope", "icept", "count")
  }

  /** OLS trend of a `Load` tile DataFrame across time. `t0Sec` anchors
    * the day axis (pass the archive's first group timestamp, known
    * driver-side from `LoadResult.times`); observation times are
    * SNAPPED to whole day numbers — the trend's unit is per-day, a
    * sub-day offset moves a daily-cadence slope by under 1e-4 relative,
    * and integer day numbers keep every running sum order-exact, which
    * is what lets a nondeterministic partial-merge order still hash
    * bit-for-bit against the oracle's scan-order sums. Returns one row
    * per (band, ty, tx): per-pixel slope (units/day), intercept (value
    * at t0), and valid-observation count planes. */
  def trendAcrossTime(spark: SparkSession, tiles: DataFrame,
                      t0Sec: Long): DataFrame = {
    import spark.implicits._
    val fold = new PixelTrend
    PixelFold.byTile(spark, tiles, fold, PixelFold.dayOf(t0Sec)).map {
      case (band, ty, tx, b) =>
        val o = fold.finish(b)
        (band, ty, tx, o.slope, o.icept, o.count)
    }.toDF("band", "ty", "tx", "slope", "icept", "count")
  }
}
