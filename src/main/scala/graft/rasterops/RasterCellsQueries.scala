package graft.rasterops
import graft.load.Load
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import TileCells._

/** Cell-exact oracle anchors: landed mosaic/composite/reproject/
  * resample/overview planes re-derived pixel-by-pixel in DuckDB.
  *
  * One family of [[RasterQueries]]' driver-contract entries (pure
  * code move — the registry and all member semantics live unchanged
  * through the aggregator object, whose self-type gives every family
  * access to the shared fixtures/paths).
  */
private[rasterops] trait RasterCellsQueries {
  this: RasterQueries.type =>

  /** The raster family's cross-engine anchor (the one hash-checked
    * raster row): the fused solar-day mosaic — the same cube as
    * `raster_load_mosaic` — exploded to (band, tile, y, x, value) pixel
    * rows, written as parquet, then aggregated per tile by Spark AND
    * recomputed by DuckDB from the same file. A pixel decoded or fused
    * wrongly shifts a quantized per-tile checksum an engine sharing none
    * of our raster code verifies — the distributed analog of the
    * reference's golden pixel checks (`loader/test_reader.py:72-125`).
    * Sum is integer-quantized (×100 → BIGINT) so it is
    * aggregation-order-exact across engines. */
  def mosaicCells(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    cells(res.tiles, tileKeys, masked = false)
      .write.mode("overwrite").parquet(CellsPath)
    summary(spark.read.parquet(CellsPath), Seq("band", "tidx", "ty", "tx"),
      withValid = false)
  }

  private[rasterops] val mosaicCellsDuckSql: String =
    s"""SELECT band, tidx, ty, tx, COUNT(*) AS n_px,
       |       CAST(SUM(CASE WHEN isnan(value) THEN 0
       |                ELSE CAST(ROUND(value * 100) AS BIGINT) END)
       |            AS BIGINT) AS sum_q,
       |       ROUND(MIN(CASE WHEN isnan(value) THEN NULL ELSE value END), 2) AS vmin,
       |       ROUND(MAX(CASE WHEN isnan(value) THEN NULL ELSE value END), 2) AS vmax
       |FROM read_parquet('$CellsPath/*.parquet')
       |GROUP BY band, tidx, ty, tx
       |ORDER BY band, tidx, ty, tx""".stripMargin
  def compositeCells(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "id", chunks = 64)
    cells(res.tiles, tileKeys, masked = true)
      .write.mode("overwrite").parquet(CompositeCellsPath)
    res.medianComposite()
      .select(col("band"), col("ty"), col("tx"),
        planeSum("median", 100).as("med_q"),
        expr("CAST(aggregate(count, 0, (s, v) -> s + v) AS BIGINT)")
          .as("n_valid"))
      .orderBy("band", "ty", "tx")
  }

  private[rasterops] val compositeCellsDuckSql: String =
    s"""WITH px AS (
       |  SELECT band, ty, tx, py, px, value
       |  FROM read_parquet('$CompositeCellsPath/*.parquet')
       |  WHERE NOT isnan(value)),
       |m AS (
       |  SELECT band, ty, tx, py, px,
       |         median(value) AS med, COUNT(*) AS c
       |  FROM px GROUP BY band, ty, tx, py, px)
       |SELECT band, ty, tx,
       |       CAST(SUM(CAST(ROUND(med * 100) AS BIGINT)) AS BIGINT) AS med_q,
       |       CAST(SUM(c) AS BIGINT) AS n_valid
       |FROM m GROUP BY band, ty, tx
       |ORDER BY band, ty, tx""".stripMargin
  def reprojectCells(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val tiles = Seq("EPSG:3857" -> 20.0, "EPSG:6933" -> 20.0, "ESRI:54034" -> 20.0)
      .map { case (crs, res) =>
        Load.load(spark, items, schemas, bands = Seq("red"),
          groupby = "solar_day", chunks = 64,
          crs = Some(crs), resolution = Some(res)).tiles
          .withColumn("crs", lit(crs))
      }.reduce(_ unionAll _)
    cells(tiles, col("crs") +: tileKeys, masked = false)
      .write.mode("overwrite").parquet(ReprojectCellsPath)
    summary(spark.read.parquet(ReprojectCellsPath),
      Seq("crs", "band", "tidx", "ty", "tx"), withValid = false)
  }

  private[rasterops] val reprojectCellsDuckSql: String =
    s"""SELECT crs, band, tidx, ty, tx, COUNT(*) AS n_px,
       |       CAST(SUM(CASE WHEN isnan(value) THEN 0
       |                ELSE CAST(ROUND(value * 100) AS BIGINT) END)
       |            AS BIGINT) AS sum_q,
       |       ROUND(MIN(CASE WHEN isnan(value) THEN NULL ELSE value END), 2) AS vmin,
       |       ROUND(MAX(CASE WHEN isnan(value) THEN NULL ELSE value END), 2) AS vmax
       |FROM read_parquet('$ReprojectCellsPath/*.parquet')
       |GROUP BY crs, band, tidx, ty, tx
       |ORDER BY crs, band, tidx, ty, tx""".stripMargin
  def resampleCells(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    // native 10 m per-item planes in absolute grid coords; float64 output
    // => invalid pixels land as NaN directly
    gridCells(Load.load(spark, items, schemas, bands = Seq("red"),
      groupby = "id", chunks = 64, dtype = Some("float64")).tiles)
      .write.mode("overwrite").parquet(ResampleNativePath)
    // 20 m per-mode planes (overviews off: pooling must hit base pixels)
    val tiles = ResampleModes.map { m =>
      Load.load(spark, items, schemas, bands = Seq("red"), groupby = "id",
        chunks = 64, resolution = Some(20.0), resampling = Map("*" -> m),
        useOverviews = false, dtype = Some("float64")).tiles
        .withColumn("mode", lit(m))
    }.reduce(_ unionAll _)
    cells(tiles, col("mode") +: tileKeys, masked = true)
      .write.mode("overwrite").parquet(ResampleCellsPath)
    summary(spark.read.parquet(ResampleCellsPath),
      Seq("mode", "band", "tidx", "ty", "tx"), withValid = true)
  }

  private[rasterops] val resampleCellsDuckSql: String =
    s"""WITH natall AS (
       |  -- scene COVERAGE (NaN rows included): the loader clips each
       |  -- item's dst ROI to the scene's projected bbox, so a dst pixel
       |  -- whose CENTER native cell was never landed is never sampled —
       |  -- even when cubic's 4-tap window reaches into the scene
       |  SELECT band, tidx, gy, gx
       |  FROM read_parquet('$ResampleNativePath/*.parquet')),
       |nat AS (
       |  SELECT band, tidx, gy, gx, value
       |  FROM read_parquet('$ResampleNativePath/*.parquet')
       |  WHERE NOT isnan(value)),
       |bs AS (
       |  SELECT band, tidx, gy // 2 AS by, gx // 2 AS bx,
       |         COUNT(*) AS cnt,
       |         AVG(value) AS avg_v,
       |         SUM(value) AS sum_v,
       |         MIN(value) AS min_v,
       |         MAX(value) AS max_v,
       |         sqrt(SUM(value * value) / COUNT(*)) AS rms_v,
       |         MAX(CASE WHEN gy % 2 = 1 AND gx % 2 = 1 THEN value END)
       |           AS near_v,
       |         list(value ORDER BY value) AS vals
       |  FROM nat GROUP BY band, tidx, by, bx),
       |md AS (
       |  SELECT band, tidx, by, bx, value AS mode_v FROM (
       |    SELECT band, tidx, by, bx, value, c,
       |           ROW_NUMBER() OVER (PARTITION BY band, tidx, by, bx
       |                              ORDER BY c DESC, value) AS rn
       |    FROM (SELECT band, tidx, gy // 2 AS by, gx // 2 AS bx, value,
       |                 COUNT(*) AS c
       |          FROM nat GROUP BY band, tidx, by, bx, value) g) t
       |  WHERE rn = 1),
       |cbx AS (
       |  -- NB: DuckDB's // truncates toward zero; FLOOR keeps the gy=0
       |  -- candidate row at PY=-1 (harmlessly out of domain) instead of
       |  -- leaking a spurious out-of-range tap into PY=1
       |  SELECT band, tidx, value,
       |         CAST(FLOOR((gy - 1) / 2.0) AS BIGINT) + ky.k AS py,
       |         gy - 2 * (CAST(FLOOR((gy - 1) / 2.0) AS BIGINT) + ky.k) + 1 AS dy,
       |         CAST(FLOOR((gx - 1) / 2.0) AS BIGINT) + kx.k AS px,
       |         gx - 2 * (CAST(FLOOR((gx - 1) / 2.0) AS BIGINT) + kx.k) + 1 AS dx
       |  FROM nat,
       |       (SELECT unnest([0, 1]) AS k) ky(k),
       |       (SELECT unnest([0, 1]) AS k) kx(k)),
       |cb AS (
       |  SELECT band, tidx, py, px,
       |         SUM(value * wdy * wdx) AS acc, SUM(wdy * wdx) AS wsum
       |  FROM (SELECT band, tidx, py, px, value,
       |          CASE WHEN dy IN (0, 3) THEN -0.0625
       |               WHEN dy IN (1, 2) THEN 0.5625 ELSE 0 END AS wdy,
       |          CASE WHEN dx IN (0, 3) THEN -0.0625
       |               WHEN dx IN (1, 2) THEN 0.5625 ELSE 0 END AS wdx
       |        FROM cbx)
       |  GROUP BY band, tidx, py, px),
       |dom AS (
       |  SELECT mode, band, tidx, ty, tx,
       |         ty * 64 + py AS gpy, tx * 64 + px AS gpx
       |  FROM read_parquet('$ResampleCellsPath/*.parquet')),
       |ex AS (
       |  SELECT d.mode, d.band, d.tidx, d.ty, d.tx,
       |         CASE d.mode
       |           WHEN 'nearest' THEN b.near_v
       |           WHEN 'bilinear' THEN b.avg_v
       |           WHEN 'average' THEN b.avg_v
       |           WHEN 'sum' THEN b.sum_v
       |           WHEN 'min' THEN b.min_v
       |           WHEN 'max' THEN b.max_v
       |           WHEN 'rms' THEN b.rms_v
       |           WHEN 'mode' THEN m.mode_v
       |           WHEN 'med' THEN
       |             b.vals[CAST(FLOOR((b.cnt - 1) * 0.5 + 0.5) AS INT) + 1]
       |           WHEN 'q1' THEN
       |             b.vals[CAST(FLOOR((b.cnt - 1) * 0.25 + 0.5) AS INT) + 1]
       |           WHEN 'q3' THEN
       |             b.vals[CAST(FLOOR((b.cnt - 1) * 0.75 + 0.5) AS INT) + 1]
       |           WHEN 'cubic' THEN
       |             CASE WHEN ctr.gy IS NULL THEN NULL
       |                  WHEN ABS(cc.wsum) < 1e-12 THEN NULL
       |                  ELSE cc.acc / cc.wsum END
       |         END AS val
       |  FROM dom d
       |  LEFT JOIN bs b ON b.band = d.band AND b.tidx = d.tidx
       |                AND b.by = d.gpy AND b.bx = d.gpx
       |  LEFT JOIN md m ON m.band = d.band AND m.tidx = d.tidx
       |                AND m.by = d.gpy AND m.bx = d.gpx
       |  LEFT JOIN cb cc ON cc.band = d.band AND cc.tidx = d.tidx
       |                AND cc.py = d.gpy AND cc.px = d.gpx
       |  LEFT JOIN natall ctr ON ctr.band = d.band AND ctr.tidx = d.tidx
       |                AND ctr.gy = 2 * d.gpy + 1 AND ctr.gx = 2 * d.gpx + 1)
       |SELECT mode, band, tidx, ty, tx, COUNT(*) AS n_px,
       |       COUNT(val) AS n_valid,
       |       CAST(SUM(COALESCE(CAST(ROUND(val * 100) AS BIGINT), 0))
       |            AS BIGINT) AS sum_q,
       |       ROUND(MIN(val), 2) AS vmin, ROUND(MAX(val), 2) AS vmax
       |FROM ex GROUP BY mode, band, tidx, ty, tx
       |ORDER BY mode, band, tidx, ty, tx""".stripMargin
  def resampleConv(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import graft.raster.Kernels
    val (items, schemas) = parsed()
    gridCells(Load.load(spark, items, schemas, bands = Seq("red"),
      groupby = "id", chunks = 64, dtype = Some("float64")).tiles)
      .write.mode("overwrite").parquet(ConvNativePath)
    // per-tap weights at the aligned geometry: native cell 2P+o, kernel
    // argument o-1/2; 2-D weight = wx*wy in the engine's multiply order.
    // This export is the engine's OWN table — the oracle re-derives the
    // same weights from the closed forms (a = 3 lanczos window, B-spline
    // piecewise cubic, sigma = max(0.5, n/2) gauss) and cross-checks the
    // two at 1e-9 before applying, so the derivation itself is
    // oracle-covered, not golden-pinned
    val wrows =
      (for { dy <- 0 until 6; dx <- 0 until 6 } yield
        ("lanczos", dy - 2, dx - 2,
          Kernels.lanczos((dx - 2) - 0.5) * Kernels.lanczos((dy - 2) - 0.5))) ++
        (for { dy <- 0 until 4; dx <- 0 until 4 } yield
          ("cubic_spline", dy - 1, dx - 1,
            Kernels.bspline((dx - 1) - 0.5) * Kernels.bspline((dy - 1) - 0.5))) ++
        (for { dy <- 0 until 2; dx <- 0 until 2 } yield
          ("gauss", dy, dx, Kernels.gauss(0.5, 2)))
    wrows.toDF("mode", "oy", "ox", "w")
      .coalesce(1).write.mode("overwrite").parquet(ConvWeightsPath)
    val tiles = Seq("lanczos", "cubic_spline", "gauss").map { m =>
      Load.load(spark, items, schemas, bands = Seq("red"), groupby = "id",
        chunks = 256, resolution = Some(20.0), resampling = Map("*" -> m),
        useOverviews = false, dtype = Some("float64")).tiles
        .withColumn("mode", lit(m))
    }.reduce(_ unionAll _)
    cells(tiles, col("mode") +: tileKeys, masked = true)
      .select(col("mode"), col("band"), col("tidx"),
        (col("ty") * 256 + col("py")).as("gpy"),
        (col("tx") * 256 + col("px")).as("gpx"), col("value"))
      .write.mode("overwrite").parquet(ConvCellsPath)
    summary(spark.read.parquet(ConvCellsPath),
      Seq("mode", "band", "tidx", "gpy"), withValid = true)
  }

  private[rasterops] val resampleConvDuckSql: String =
    s"""WITH natall AS (
       |  SELECT band, tidx, gy, gx
       |  FROM read_parquet('$ConvNativePath/*.parquet')),
       |nat AS (
       |  SELECT band, tidx, gy, gx, value
       |  FROM read_parquet('$ConvNativePath/*.parquet')
       |  WHERE NOT isnan(value)),
       |wt0 AS (
       |  -- weight tables re-DERIVED from the closed forms (not read from
       |  -- the landed export): lanczos a = 3 at the aligned geometry's
       |  -- half-integer taps t = o - 1/2, w1(t) = 3 sin(pi t) sin(pi t/3)
       |  -- / (pi t)^2; 2-D weight = wx * wy (the engine's multiply order)
       |  SELECT 'lanczos' AS mode, oy.o AS oy, ox.o AS ox,
       |         (3 * sin(pi() * (ox.o - 0.5)) * sin(pi() * (ox.o - 0.5) / 3)
       |            / pow(pi() * (ox.o - 0.5), 2))
       |       * (3 * sin(pi() * (oy.o - 0.5)) * sin(pi() * (oy.o - 0.5) / 3)
       |            / pow(pi() * (oy.o - 0.5), 2)) AS w
       |  FROM (SELECT unnest(range(-2, 4)) AS o) oy,
       |       (SELECT unnest(range(-2, 4)) AS o) ox
       |  UNION ALL
       |  -- cubic B-spline: |t| <= 1 -> (4 + t^2 (3|t| - 6)) / 6,
       |  -- 1 < |t| < 2 -> (2 - |t|)^3 / 6
       |  SELECT 'cubic_spline', oy.o, ox.o,
       |         (CASE WHEN abs(ox.o - 0.5) <= 1
       |               THEN (4 + abs(ox.o - 0.5) * abs(ox.o - 0.5)
       |                     * (3 * abs(ox.o - 0.5) - 6)) / 6
       |               ELSE pow(2 - abs(ox.o - 0.5), 3) / 6 END)
       |       * (CASE WHEN abs(oy.o - 0.5) <= 1
       |               THEN (4 + abs(oy.o - 0.5) * abs(oy.o - 0.5)
       |                     * (3 * abs(oy.o - 0.5) - 6)) / 6
       |               ELSE pow(2 - abs(oy.o - 0.5), 3) / 6 END)
       |  FROM (SELECT unnest(range(-1, 3)) AS o) oy,
       |       (SELECT unnest(range(-1, 3)) AS o) ox
       |  UNION ALL
       |  -- gauss pooled n = 2 taps: sigma = max(0.5, n/2) = 1, center
       |  -- distance^2 = 1/2 for all four taps -> exp(-1/4)
       |  SELECT 'gauss', oy.o, ox.o, exp(-0.5 / 2.0)
       |  FROM (SELECT unnest(range(0, 2)) AS o) oy,
       |       (SELECT unnest(range(0, 2)) AS o) ox),
       |wt AS (
       |  -- cross-check against the engine's landed export: a derivation
       |  -- drifting past 1e-9 nulls the weight, which nulls val and turns
       |  -- the row loudly red — the oracle proves BOTH that the closed
       |  -- form reproduces the engine's table and that its application
       |  -- reproduces the resampled cells
       |  SELECT d.mode, d.oy, d.ox,
       |         CASE WHEN abs(d.w - l.w) <= 1e-9 THEN d.w END AS w
       |  FROM wt0 d JOIN read_parquet('$ConvWeightsPath/*.parquet') l
       |    ON l.mode = d.mode AND l.oy = d.oy AND l.ox = d.ox),
       |dom AS (SELECT DISTINCT mode, band, tidx, gpy, gpx
       |        FROM read_parquet('$ConvCellsPath/*.parquet')),
       |tap AS (
       |  SELECT d.mode, d.band, d.tidx, d.gpy, d.gpx,
       |         n.value, t.w, t.oy, t.ox
       |  FROM dom d
       |  JOIN wt t ON t.mode = d.mode
       |  LEFT JOIN nat n ON n.band = d.band AND n.tidx = d.tidx
       |       AND n.gy = 2 * d.gpy + t.oy AND n.gx = 2 * d.gpx + t.ox),
       |acc AS (
       |  SELECT mode, band, tidx, gpy, gpx,
       |    CASE WHEN COUNT(value) = 0 THEN NULL
       |         ELSE list_reduce(list(value * w ORDER BY oy, ox)
       |                FILTER (WHERE value IS NOT NULL), (a, b) -> a + b)
       |    END AS acc,
       |    CASE WHEN COUNT(value) = 0 THEN NULL
       |         ELSE list_reduce(list(w ORDER BY oy, ox)
       |                FILTER (WHERE value IS NOT NULL), (a, b) -> a + b)
       |    END AS wsum
       |  FROM tap GROUP BY 1, 2, 3, 4, 5),
       |ex AS (
       |  SELECT a.mode, a.band, a.tidx, a.gpy, a.gpx,
       |    CASE WHEN c.gy IS NULL THEN NULL
       |         WHEN a.wsum IS NULL OR ABS(a.wsum) < 1e-12 THEN NULL
       |         ELSE a.acc / a.wsum END AS val
       |  FROM acc a
       |  LEFT JOIN natall c ON c.band = a.band AND c.tidx = a.tidx
       |       AND c.gy = 2 * a.gpy + 1 AND c.gx = 2 * a.gpx + 1)
       |SELECT mode, band, tidx, gpy, COUNT(*) AS n_px,
       |       COUNT(val) AS n_valid,
       |       CAST(SUM(COALESCE(CAST(ROUND(val * 100) AS BIGINT), 0))
       |            AS BIGINT) AS sum_q,
       |       ROUND(MIN(val), 2) AS vmin, ROUND(MAX(val), 2) AS vmax
       |FROM ex GROUP BY mode, band, tidx, gpy
       |ORDER BY mode, band, tidx, gpy""".stripMargin
  def overviewCells(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    gridCells(Load.load(spark, items, schemas, bands = Seq("red"),
      groupby = "id", chunks = 64, dtype = Some("float64")).tiles)
      .write.mode("overwrite").parquet(OverviewNativePath)
    val tiles = Seq(20.0 -> 2, 40.0 -> 4).map { case (res, lvl) =>
      Load.load(spark, items, schemas, bands = Seq("red"), groupby = "id",
        chunks = 64, resolution = Some(res), dtype = Some("float64")).tiles
        .withColumn("lvl", lit(lvl))
    }.reduce(_ unionAll _)
    cells(tiles, col("lvl") +: tileKeys, masked = true)
      .write.mode("overwrite").parquet(OverviewCellsPath)
    summary(spark.read.parquet(OverviewCellsPath),
      Seq("lvl", "band", "tidx", "ty", "tx"), withValid = true)
  }

  private[rasterops] val overviewCellsDuckSql: String =
    s"""WITH nat AS (
       |  SELECT band, tidx, gy, gx, value
       |  FROM read_parquet('$OverviewNativePath/*.parquet')
       |  WHERE NOT isnan(value)),
       |dom AS (
       |  SELECT lvl, band, tidx, ty, tx,
       |         lvl * (ty * 64 + py) AS sgy, lvl * (tx * 64 + px) AS sgx
       |  FROM read_parquet('$OverviewCellsPath/*.parquet')),
       |ex AS (
       |  SELECT d.lvl, d.band, d.tidx, d.ty, d.tx, n.value AS val
       |  FROM dom d
       |  LEFT JOIN nat n ON n.band = d.band AND n.tidx = d.tidx
       |                 AND n.gy = d.sgy AND n.gx = d.sgx)
       |SELECT lvl, band, tidx, ty, tx, COUNT(*) AS n_px,
       |       COUNT(val) AS n_valid,
       |       CAST(SUM(COALESCE(CAST(ROUND(val * 100) AS BIGINT), 0))
       |            AS BIGINT) AS sum_q,
       |       ROUND(MIN(val), 2) AS vmin, ROUND(MAX(val), 2) AS vmax
       |FROM ex GROUP BY lvl, band, tidx, ty, tx
       |ORDER BY lvl, band, tidx, ty, tx""".stripMargin

  private[rasterops] val compositeMeanDuckSql: String =
    s"""WITH px AS (
       |  SELECT band, ty, tx, py, px, value
       |  FROM read_parquet('$CompositeCellsPath/*.parquet')
       |  WHERE NOT isnan(value)),
       |m AS (
       |  SELECT band, ty, tx, py, px, AVG(value) AS mean,
       |         MAX(value) AS vmax, COUNT(*) AS c
       |  FROM px GROUP BY band, ty, tx, py, px)
       |SELECT band, ty, tx, ROUND(SUM(mean), 2) AS mean_sum,
       |       CAST(SUM(c) AS INT) AS n_valid,
       |       ROUND(SUM(vmax), 2) AS max_sum
       |FROM m GROUP BY band, ty, tx
       |ORDER BY band, ty, tx""".stripMargin

  private[rasterops] val compositeMedianDuckSql: String =
    s"""WITH px AS (
       |  SELECT band, ty, tx, py, px, value
       |  FROM read_parquet('$CompositeCellsPath/*.parquet')
       |  WHERE NOT isnan(value)),
       |m AS (
       |  SELECT band, ty, tx, py, px, median(value) AS med, COUNT(*) AS c
       |  FROM px GROUP BY band, ty, tx, py, px)
       |SELECT band, ty, tx, ROUND(SUM(med), 2) AS med_sum,
       |       CAST(SUM(c) AS INT) AS n_valid
       |FROM m GROUP BY band, ty, tx
       |ORDER BY band, ty, tx""".stripMargin

  /** Across-time composite (custom Aggregator with map-side partials):
    * per-pixel mean/min/max/count over the per-item time planes. */
  def compositeMean(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "id", chunks = 64)
    graft.load.Composite.acrossTime(spark, res.tiles)
      .selectExpr("band", "ty", "tx",
        "round(aggregate(mean, 0D, (s, v) -> s + if(isnan(v), 0D, v)), 2) AS mean_sum",
        "aggregate(count, 0, (s, v) -> s + v) AS n_valid",
        "round(aggregate(max, 0D, (s, v) -> s + if(isnan(v), 0D, v)), 2) AS max_sum")
      .orderBy("band", "ty", "tx")
  }

  /** Median composite (per-pixel across-time median): the robust
    * geomedian-family statistic. One tile-row shuffle, per-group
    * selection over the bounded time depth — see
    * [[graft.load.Composite.medianAcrossTime]]. */
  /** Percentile composite (p25/p75 across time): per-pixel interpolated
    * quantiles quantized ×100 and summed per tile. DuckDB re-derives
    * from the per-time planes with its own `quantile_cont` — same
    * convention (position q·(m−1), linear interpolation), shared code
    * zero. Quartile interpolands of integer-valued fixtures are exact
    * binary fractions, so the ×100 quantization is tie-free. */
  def compositeQuantile(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "id", chunks = 64)
    Seq(0.25, 0.75).map { q =>
      res.quantileComposite(q)
        .select(lit(s"p${(q * 100).toInt}").as("p"), col("band"), col("ty"),
          col("tx"), planeSum("quantile", 100).as("q_sum"),
          expr("CAST(aggregate(count, 0, (s, v) -> s + v) AS BIGINT)")
            .as("n_valid"))
    }.reduce(_ unionAll _)
      .orderBy("p", "band", "ty", "tx")
  }

  private[rasterops] val compositeQuantileDuckSql: String =
    s"""WITH px AS (
       |  SELECT band, ty, tx, py, px, value
       |  FROM read_parquet('$CompositeCellsPath/*.parquet')
       |  WHERE NOT isnan(value)),
       |m AS (
       |  SELECT band, ty, tx, py, px,
       |         quantile_cont(value, 0.25) AS q25,
       |         quantile_cont(value, 0.75) AS q75,
       |         COUNT(*) AS c
       |  FROM px GROUP BY band, ty, tx, py, px),
       |t AS (
       |  SELECT band, ty, tx,
       |         CAST(SUM(CAST(ROUND(q25 * 100) AS BIGINT)) AS BIGINT)
       |           AS s25,
       |         CAST(SUM(CAST(ROUND(q75 * 100) AS BIGINT)) AS BIGINT)
       |           AS s75,
       |         CAST(SUM(c) AS BIGINT) AS n_valid
       |  FROM m GROUP BY band, ty, tx)
       |SELECT 'p25' AS p, band, ty, tx, s25 AS q_sum, n_valid FROM t
       |UNION ALL
       |SELECT 'p75', band, ty, tx, s75, n_valid FROM t
       |ORDER BY p, band, ty, tx""".stripMargin

  def compositeMedian(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "id", chunks = 64)
    res.medianComposite()
      .selectExpr("band", "ty", "tx",
        "round(aggregate(median, 0D, (s, v) -> s + if(isnan(v), 0D, v)), 2) AS med_sum",
        "aggregate(count, 0, (s, v) -> s + v) AS n_valid")
      .orderBy("band", "ty", "tx")
  }
}
