package graft.load

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-pixel HARMONIC (seasonal) regression across time — fit
  * `v ≈ a + b·cos(ωt) + c·sin(ωt)` per pixel (phenology curves, snow/
  * flood seasonality, diurnal cycles). Beyond the reference surface:
  * odc-stac stops at the loaded cube.
  *
  * Scale shape — same mergeable family as [[Trend.PixelTrend]]: the
  * normal equations need only nine running sums per pixel
  * (n, Σc, Σs, Σcc, Σss, Σcs, Σv, Σvc, Σvs), so the whole fit is ONE
  * [[PixelFold]] with map-side combine — fixed-size buffers at any
  * archive depth, no time-dimension rechunk. The 3×3 Cramer solve in
  * `finish` is spelled token-for-token like the DuckDB oracle, so on
  * integer-valued fixtures (exact sums) the coefficients match
  * bit-for-bit.
  *
  * Basis exactness: callers pass the basis QUANTIZED to integer
  * milli-units (`round(cos(ωt)·1000)`), so every cross-engine sum is
  * exact integer arithmetic; the trig itself is evaluated once
  * JVM-side and LANDED with the raw series — the oracle reads the same
  * integers instead of re-running libm (whose last-ulp may differ). */
object Harmonic {

  final case class HarmOut(level: Array[Double], cosB: Array[Double],
                           sinB: Array[Double], count: Array[Int])

  /** Eight running sum planes (Σc, Σs, Σcc, Σss, Σcs, Σv, Σvc, Σvs);
    * `t` is a plane's epoch seconds, which `basis` maps to its landed
    * (cq, sq) milli-unit basis. */
  class PixelHarmonic(basis: Map[Long, (Double, Double)])
      extends PixelFold[HarmOut] {
    protected def init: Array[Double] = Array.fill(8)(0.0)

    protected def add(s: Array[Array[Double]], px: Array[Double],
                      t: Double): Unit = {
      val (cq, sq) = basis(t.toLong)
      val sc = s(0); val ss = s(1); val scc = s(2); val sss = s(3)
      val scs = s(4); val sv = s(5); val svc = s(6); val svs = s(7)
      var i = 0
      while (i < px.length) {
        val v = px(i)
        if (!v.isNaN) {
          sc(i) += cq; ss(i) += sq
          scc(i) += cq * cq; sss(i) += sq * sq; scs(i) += cq * sq
          sv(i) += v; svc(i) += v * cq; svs(i) += v * sq
        }
        i += 1
      }
    }

    protected def result(cnt: Array[Int], p: Array[Array[Double]])
        : HarmOut = {
      val m = cnt.length
      val level = new Array[Double](m)
      val cosB = new Array[Double](m)
      val sinB = new Array[Double](m)
      var i = 0
      while (i < m) {
        val n = cnt(i).toDouble
        val sc = p(0)(i); val ss = p(1)(i)
        val scc = p(2)(i); val sss = p(3)(i); val scs = p(4)(i)
        val sv = p(5)(i); val svc = p(6)(i); val svs = p(7)(i)
        // Cramer's rule — THE oracle spelling (RasterAnalyticsQueries.
        // harmonicDuckSql transcribes these lines token-for-token)
        val det = n * (scc * sss - scs * scs) - sc * (sc * sss - scs * ss) +
          ss * (sc * scs - scc * ss)
        if (cnt(i) >= 3 && det != 0.0) {
          level(i) = (sv * (scc * sss - scs * scs) -
            sc * (svc * sss - scs * svs) +
            ss * (svc * scs - scc * svs)) / det
          cosB(i) = (n * (svc * sss - scs * svs) -
            sv * (sc * sss - scs * ss) +
            ss * (sc * svs - svc * ss)) / det
          sinB(i) = (n * (scc * svs - svc * scs) -
            sc * (sc * svs - svc * ss) +
            sv * (sc * scs - scc * ss)) / det
        } else {
          level(i) = Double.NaN; cosB(i) = Double.NaN; sinB(i) = Double.NaN
        }
        i += 1
      }
      HarmOut(level, cosB, sinB, cnt)
    }
  }

  /** Integer milli-unit basis for day `t` at `periodDays` — JVM trig,
    * half-away-from-zero rounding (the engine-wide ROUND convention). */
  def basisOf(tDays: Double, periodDays: Double): (Double, Double) = {
    val w = 2.0 * math.Pi * tDays / periodDays
    def q(x: Double): Double = {
      val y = x * 1000.0
      if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)
    }
    (q(math.cos(w)), q(math.sin(w)))
  }

  /** `tiles` → per-(band, ty, tx) harmonic-fit planes. `basis` maps each
    * tile's epoch seconds to its landed (cq, sq) milli-unit basis — the
    * caller derives it from the SAME map it lands for the oracle. */
  def harmonicAcrossTime(spark: SparkSession, tiles: DataFrame,
                         basis: Map[Long, (Double, Double)]): DataFrame = {
    import spark.implicits._
    val fold = new PixelHarmonic(basis)
    PixelFold.byTile(spark, tiles, fold, unix_timestamp(col("time"))).map {
      case (band, ty, tx, b) =>
        val o = fold.finish(b)
        (band, ty, tx, o.level, o.cosB, o.sinB, o.count)
    }.toDF("band", "ty", "tx", "level", "cosb", "sinb", "count")
  }
}
