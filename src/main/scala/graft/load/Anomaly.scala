package graft.load

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-observation temporal ANOMALY scoring — each pixel observation
  * z-scored against ITS OWN pixel's across-time statistics (flood /
  * burn / sensor-glitch alerting: "this date is unusual for this
  * place"). Beyond the reference surface: odc-stac stops at the cube.
  *
  * Semantics per pixel p and time t over the valid observations:
  * `z = (v − mean_p) / std_p` with the population std over p's valid
  * series; pixels with fewer than [[MinObs]] valid observations or
  * zero variance score NaN (a constant series has no anomaly scale).
  *
  * Scale shape: two co-keyed stages, both bounded. Stage 1 is a
  * mergeable (Σv, Σv², n)-per-pixel [[PixelFold]] — fixed-size
  * buffers, map-side combine, the OLS-trend plan. Stage 2 joins the
  * ONE stats row per (band, ty, tx) back to that tile's T plane rows
  * (co-keyed equi join) and scores each plane in a single JVM kernel
  * UDF (decode + z + valid-count in one primitive loop). The earlier
  * spelling — a decode UDF feeding nested `zip_with`/`aggregate`
  * higher-order functions — was NOT codegen'd as its docstring
  * claimed: Spark HOFs are CodegenFallback, i.e. per-element
  * interpreted lambdas with boxing (the r4 gram-path lesson, 6×). The
  * kernel keeps state at one plane pair per task either way. */
object Anomaly {

  val MinObs = 3

  /** Running (Σv, Σv²) planes; the output is (n, Σv, Σv²). */
  class PixelStats
      extends PixelFold[(Array[Int], Array[Double], Array[Double])] {
    protected def init: Array[Double] = Array(0.0, 0.0)

    protected def add(s: Array[Array[Double]], px: Array[Double],
                      t: Double): Unit = {
      val sv = s(0); val svv = s(1)
      var i = 0
      while (i < px.length) {
        val v = px(i)
        if (!v.isNaN) { sv(i) += v; svv(i) += v * v }
        i += 1
      }
    }

    protected def result(n: Array[Int], s: Array[Array[Double]]) =
      (n, s(0), s(1))
  }

  /** Score every observation of a `Load` tile frame. Returns one row
    * per input plane: (band, tIdx, ty, tx, z, n_valid) where `z` is
    * the per-pixel z-score plane (NaN where the observation is nodata,
    * the pixel has < [[MinObs]] valid observations, or its series is
    * constant) and `n_valid` counts this plane's scored pixels.
    *
    * The z expression is spelled `(v − sv/n) / sqrt(svv/n − (sv/n)²)`
    * with integer-exact sums on integer-valued rasters, so a SQL
    * oracle replays it bit-for-bit. */
  def scoreAcrossTime(spark: SparkSession, tiles: DataFrame): DataFrame = {
    import spark.implicits._
    val fold = new PixelStats
    val stats = PixelFold.byTile(spark, tiles, fold).map {
      case (band, ty, tx, b) =>
        val (n, sv, svv) = fold.finish(b)
        (band, ty, tx, n, sv, svv)
    }.toDF("band", "ty", "tx", "sn", "sv", "svv")
    // one-pass JVM kernel: decode, z-score, and count in primitive
    // loops. Arithmetic is spelled in EXACTLY the order of the previous
    // zip_with expression (mean = sv/n recomputed per use, variance =
    // svv/n − (sv/n)·(sv/n)) so the landed hashes are unchanged.
    val scoreK = udf {
      (data: Array[Byte], dtype: String, nodata: Double,
       sn: Array[Int], sv: Array[Double], svv: Array[Double]) =>
        val px = Fuse.decode(data, dtype)
        val z = new Array[Double](px.length)
        var nValid = 0
        var i = 0
        while (i < px.length) {
          val v = px(i)
          val n = sn(i).toDouble
          val variance =
            if (sn(i) == 0) 0.0 else svv(i) / n - (sv(i) / n) * (sv(i) / n)
          if (v.isNaN || v == nodata || sn(i) < MinObs || variance <= 0)
            z(i) = Double.NaN
          else {
            z(i) = (v - sv(i) / n) / math.sqrt(variance)
            nValid += 1
          }
          i += 1
        }
        (z, nValid)
    }
    tiles
      .select(col("band"), col("tIdx"), col("ty"), col("tx"), col("nodata"),
        col("data"), col("dtype"))
      .join(stats, Seq("band", "ty", "tx"))
      .select(col("band"), col("tIdx"), col("ty"), col("tx"),
        scoreK(col("data"), col("dtype"), col("nodata"),
          col("sn"), col("sv"), col("svv")).as("zk"))
      .select(col("band"), col("tIdx"), col("ty"), col("tx"),
        col("zk._1").as("z"), col("zk._2").as("n_valid"))
  }
}
