package graft.load

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Band arithmetic over loaded tiles — NDVI/NDWI-style normalized
  * indices and arbitrary two-band expressions, computed WITHOUT UDFs in
  * the arithmetic path: planes are decoded once per tile and the
  * per-pixel expression is a `zip_with` lambda, so Catalyst codegens the
  * pixel loop (higher-order functions run inside WholeStageCodegen;
  * only the binary→array decode is a UDF, one call per tile).
  *
  * Scale shape: one shuffle co-keying the two operand planes on
  * (tIdx, ty, tx) — the join carries exactly the two tiles being
  * combined, never a third copy; the output is tile-shaped (band
  * renamed), so composites/exports/zonal stats consume it unchanged.
  */
object BandMath {

  /** Two-band pixel expression (e.g. NDVI): `f(a, b)` builds the value
    * column from the two same-position pixels; invalid pixels (NaN or
    * nodata on either side) come out NaN. Output rows carry
    * `band = outBand`, `n_valid` recounted over the result. */
  def map2(spark: SparkSession, tiles: DataFrame,
           bandA: String, bandB: String, outBand: String)
          (f: (Column, Column) => Column): DataFrame = {
    def side(b: String, p: String) = tiles
      .where(col("band") === b)
      .select(col("tIdx"), col("ty"), col("tx"),
        col("x0"), col("y0"), col("width"), col("height"),
        col("time"),
        Fuse.decodeUdf(col("data"), col("dtype")).as(s"${p}_px"),
        col("nodata").as(s"${p}_nd"))
    val a = side(bandA, "a")
    val b = side(bandB, "b").drop("x0", "y0", "width", "height", "time")
    val valid = (v: Column, nd: Column) => !(isnan(v) || v === nd)
    a.join(b, Seq("tIdx", "ty", "tx"))
      .select(lit(outBand).as("band"), col("tIdx"), col("ty"), col("tx"),
        col("x0"), col("y0"), col("width"), col("height"), col("time"),
        zip_with(col("a_px"), col("b_px"), (x, y) =>
          when(valid(x, col("a_nd")) && valid(y, col("b_nd")), f(x, y))
            .otherwise(lit(Double.NaN))).as("values"))
      .withColumn("n_valid",
        aggregate(col("values"), lit(0L),
          (s, v) => s + when(isnan(v), 0L).otherwise(1L)))
  }

  /** Normalized difference (NDVI when a=nir, b=red): (a−b)/(a+b). */
  def normalizedDifference(spark: SparkSession, tiles: DataFrame,
                           bandA: String, bandB: String,
                           outBand: String): DataFrame =
    map2(spark, tiles, bandA, bandB, outBand)((a, b) => (a - b) / (a + b))

  /** Change detection: the same band at two times, combined per pixel
    * (default: late − early difference). Same co-keyed join shape as
    * [[map2]] but keyed (band, ty, tx) with the TIME axis split — a
    * pixel valid at only one time comes out NaN, so the result is the
    * change over the ground both acquisitions actually saw. */
  def changeAcrossTime(spark: SparkSession, tiles: DataFrame,
                       tIdx0: Int, tIdx1: Int)
                      (f: (Column, Column) => Column = _ - _): DataFrame = {
    def side(t: Int, p: String) = tiles
      .where(col("tIdx") === t)
      .select(col("band"), col("ty"), col("tx"),
        col("x0"), col("y0"), col("width"), col("height"),
        Fuse.decodeUdf(col("data"), col("dtype")).as(s"${p}_px"),
        col("nodata").as(s"${p}_nd"))
    val a = side(tIdx0, "a")
    val b = side(tIdx1, "b").drop("x0", "y0", "width", "height")
    val valid = (v: Column, nd: Column) => !(isnan(v) || v === nd)
    a.join(b, Seq("band", "ty", "tx"))
      .select(col("band"), col("ty"), col("tx"),
        col("x0"), col("y0"), col("width"), col("height"),
        zip_with(col("a_px"), col("b_px"), (x, y) =>
          when(valid(x, col("a_nd")) && valid(y, col("b_nd")), f(y, x))
            .otherwise(lit(Double.NaN))).as("change"))
      .withColumn("n_both",
        aggregate(col("change"), lit(0L),
          (s, v) => s + when(isnan(v), 0L).otherwise(1L)))
  }
}
