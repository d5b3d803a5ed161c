package graft.rasterops

import graft.load.Fuse
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The cell conventions every raster query shares with its DuckDB
  * oracle, spelled once.
  *
  *  - Layout: a tile row's `data` is one row-major plane `width` pixels
  *    wide, so pixel `pos` is the cell at row `py = pos / width`, column
  *    `px = pos % width` of its tile.
  *  - Value: a cell's `value` is the decoded pixel as a double, either
  *    raw or masked (NaN where the pixel is NaN or equals the tile's
  *    `nodata`).
  *  - Quantization: a value `v` counts as the BIGINT `round(v × scale)`
  *    and NaN counts as 0, so per-tile sums are exact and independent of
  *    the aggregation order in both engines. Cell summaries use scale
  *    100; plane checksums name theirs.
  */
private[graft] object TileCells {

  /** The tile keys most landings carry: band, tidx, ty, tx. */
  def tileKeys: Seq[Column] =
    Seq(col("band"), col("tIdx").as("tidx"), col("ty"), col("tx"))

  /** Tile rows exploded to (keys…, py, px, value) cell rows. */
  def cells(tiles: DataFrame, keys: Seq[Column], masked: Boolean): DataFrame =
    explode(tiles, keys, masked, Seq(
      (col("pos") / col("width")).cast("int").as("py"),
      (col("pos") % col("width")).cast("int").as("px")))

  /** Tile rows exploded to masked (keys…, pos, value) rows: the per-time
    * pixel series the across-time oracles group by `pos`. */
  def series(tiles: DataFrame, keys: Seq[Column]): DataFrame =
    explode(tiles, keys, masked = true, Seq(col("pos")))

  /** Masked cells of 64-pixel tiles at their global grid position:
    * (band, tidx, gy, gx, value). */
  def gridCells(tiles: DataFrame): DataFrame =
    cells(tiles, tileKeys, masked = true)
      .select(col("band"), col("tidx"),
        (col("ty") * 64 + col("py")).as("gy"),
        (col("tx") * 64 + col("px")).as("gx"), col("value"))

  private def explode(tiles: DataFrame, keys: Seq[Column], masked: Boolean,
                      at: Seq[Column]): DataFrame = {
    val px = tiles.select(keys ++ Seq(col("width")) ++
      (if (masked) Seq(col("nodata")) else Nil) :+
      posexplode(Fuse.decodeUdf(col("data"), col("dtype"))): _*)
    val v = col("col")
    val value =
      if (masked) when(isnan(v) || v === col("nodata"), lit(Double.NaN)).otherwise(v)
      else v
    px.select(px.columns.toSeq.take(keys.size).map(col) ++ at :+ value.as("value"): _*)
  }

  /** Per-`keys` summary of cell rows, ordered by `keys`: `n_px` cells,
    * `n_valid` non-NaN cells when `withValid`, the quantized `sum_q`
    * and the non-NaN `vmin`/`vmax` rounded to 2 places. */
  def summary(cells: DataFrame, keys: Seq[String],
              withValid: Boolean): DataFrame = {
    val v = col("value")
    val valid = if (withValid) Seq(count(when(!isnan(v), 1)).as("n_valid")) else Nil
    cells.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_px"), valid ++ Seq(
        sum(when(isnan(v), 0L).otherwise(round(v * 100).cast("long"))).as("sum_q"),
        round(min(when(!isnan(v), v)), 2).as("vmin"),
        round(max(when(!isnan(v), v)), 2).as("vmax")): _*)
      .orderBy(keys.map(col): _*)
  }

  /** Quantized checksum of a double-array `plane` column at `scale`. */
  def planeSum(plane: String, scale: Double): Column =
    expr(s"aggregate($plane, 0L, (s, v) -> s + " +
      s"if(isnan(v), 0L, CAST(round(v * ${scale}D) AS BIGINT)))")

  /** The number of non-NaN values of a double-array `plane` column. */
  def planeValid(plane: String): Column =
    expr(s"aggregate($plane, 0, (s, v) -> s + if(isnan(v), 0, 1))")
}
