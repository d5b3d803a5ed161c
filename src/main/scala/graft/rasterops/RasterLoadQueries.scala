package graft.rasterops
import graft.geo.Geom
import graft.load.{Fuse, Load}
import graft.raster.Fixtures
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Eager/lazy load summaries, pixel sources (GRB/GeoTIFF/zarr/netCDF,
  * DSv2 SQL), COG/zarr exports, tile round-trip.
  *
  * One family of [[RasterQueries]]' driver-contract entries (pure
  * code move — the registry and all member semantics live unchanged
  * through the aggregator object, whose self-type gives every family
  * access to the shared fixtures/paths).
  */
private[rasterops] trait RasterLoadQueries {
  this: RasterQueries.type =>

  def loadMosaic(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    summarize(Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64).tiles)
  }

  def loadGroupById(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    summarize(Load.load(spark, items, schemas, bands = Seq("red"),
      groupby = "id", chunks = 64).tiles)
  }

  /** Cross-CRS warp (F15/F16): UTM scenes -> web mercator, an equal-area
    * grid (EPSG:6933, EASE-Grid 2.0 Global — the kind of CRS real
    * land/soil products publish on), and a parameter-registry row
    * (ESRI:54034, World CEA) — reference accepts any proj CRS via
    * rasterio, `_mdtools.py:63`. */
  def loadReproject(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    Seq("EPSG:3857" -> 20.0, "EPSG:6933" -> 20.0, "ESRI:54034" -> 20.0)
      .map { case (crs, res) =>
      summarize(Load.load(spark, items, schemas, bands = Seq("red"),
        groupby = "solar_day", chunks = 64,
        crs = Some(crs), resolution = Some(res)).tiles)
        .withColumn("crs", lit(crs))
    }.reduce(_ unionAll _)
      .select(col("crs"), col("band"), col("tIdx"), col("ty"), col("tx"),
        col("width"), col("height"), col("validCount"), col("checksum"))
      .orderBy("crs", "band", "tIdx", "ty", "tx")
  }

  /** Overview path (S8): 4x coarser output reads the .ovr4 level. */
  def loadOverview(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    summarize(Load.load(spark, items, schemas, bands = Seq("red"),
      groupby = "solar_day", chunks = 64, resolution = Some(40.0)).tiles)
  }

  /** F16 resampling surface: the cross-CRS warp run under every kernel
    * (nearest/bilinear/average/mode/sum/cubic/lanczos) — per-mode
    * per-tile quantized summaries. `mode` serves categorical rasters,
    * `sum` flux totals, `cubic`/`lanczos` continuous imagery
    * (`loader/types.py:113-114`). float64 output so invalid pixels are
    * NaN directly (no integer clip can alias a valid pixel onto the
    * nodata sentinel); per-pixel planes land as parquet and DuckDB
    * re-aggregates the SAME file (the [[mosaicCells]] convention — the
    * kernels themselves are cross-engine-checked at the pixel level by
    * `raster_resample_cells`/`raster_resample_conv`). */
  def loadResampling(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    Seq("nearest", "bilinear", "average", "mode", "sum", "cubic", "lanczos").map { m =>
      Load.load(spark, items, schemas, bands = Seq("red"),
        groupby = "solar_day", chunks = 64,
        crs = Some("EPSG:3857"), resolution = Some(30.0),
        resampling = Map("*" -> m), dtype = Some("float64")).tiles
        .withColumn("mode", lit(m))
    }.reduce(_ unionAll _)
      .select(col("mode"), col("band"), col("tIdx"), col("ty"), col("tx"),
        col("width"), col("nodata"), posexplode(Fuse.decodeUdf(col("data"), col("dtype"))))
      .select(col("mode"), col("band"), col("tIdx").as("tidx"),
        col("ty"), col("tx"),
        (col("pos") / col("width")).cast("int").as("py"),
        (col("pos") % col("width")).cast("int").as("px"),
        when(isnan(col("col")) || col("col") === col("nodata"),
          lit(Double.NaN)).otherwise(col("col")).as("value"))
      .write.mode("overwrite").parquet(LoadResampleCellsPath)
    spark.read.parquet(LoadResampleCellsPath)
      .groupBy("mode", "band", "tidx", "ty", "tx")
      .agg(count(lit(1)).as("n_px"),
        count(when(!isnan(col("value")), 1)).as("n_valid"),
        sum(when(isnan(col("value")), 0L)
          .otherwise(round(col("value") * 100).cast("long"))).as("sum_q"),
        round(min(when(!isnan(col("value")), col("value"))), 2).as("vmin"),
        round(max(when(!isnan(col("value")), col("value"))), 2).as("vmax"))
      .orderBy("mode", "band", "tidx", "ty", "tx")
  }

  /** Polygon-ROI loading end to end (the reference's
    * `geopolygon=` parameter, P4/J1): a sliver triangle from the ROI
    * grid's top-left to bottom-right corner keeps only the tiles the
    * polygon ITSELF touches — its bbox touches all six, so a
    * bbox-approximate filter would over-bin (the case
    * `output_geobox(geopolygon=...)` exists for). The polygon's bbox
    * corners are 640 m-aligned with the full mosaic grid, so the
    * ROI grid's tiles coincide with full-grid tiles (shifted by one
    * tile column) and the oracle can (1) replay the engine's exact
    * rect×polygon intersection — vertex-in-rect, corner-in-polygon
    * ray cast, edge×edge orientation test — from the landed polygon
    * edges, and (2) rebuild every kept tile's summary from the
    * already-landed full-mosaic pixels. A bbox-only (over-binning)
    * filter, a shifted ROI grid, or wrong pixel phase all break the
    * hash. */
  def loadPolygon(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val (items, schemas) = parsed()
    val crs = graft.geo.Crs.Utm(35, south = true)
    val tri = Geom(IndexedSeq(
      (500640.0, 8000000.0),   // ROI grid's top-left corner
      (502560.0, 7999040.0),   // ROI grid's bottom-right corner
      (500893.4, 7999903.6)),  // sliver: hugs the TL->BR diagonal
      crs)
    tri.parts.flatMap(_.rings).flatMap { r =>
      r.indices.map { i =>
        val (x1, y1) = r(i)
        val (x2, y2) = r((i + 1) % r.length)
        (x1, y1, x2, y2)
      }
    }.toDF("x1", "y1", "x2", "y2")
      .coalesce(1).write.mode("overwrite").parquet(PolyRoiEdgesPath)
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 32,
      geopolygon = Some(tri), resolution = Some(10.0))
    res.tiles
      .select(col("band"), col("tIdx").as("tidx"), col("ty"), col("tx"),
        posexplode(Fuse.decodeUdf(col("data"), col("dtype"))))
      .groupBy("band", "tidx", "ty", "tx")
      .agg(count(lit(1)).as("n_px"),
        sum(when(isnan(col("col")), 0L)
          .otherwise(round(col("col") * 100).cast("long"))).as("sum_q"),
        round(min(when(!isnan(col("col")), col("col"))), 2).as("vmin"),
        round(max(when(!isnan(col("col")), col("col"))), 2).as("vmax"))
      .orderBy("band", "tidx", "ty", "tx")
  }

  /** Oracle: kept-tile set re-derived with the engine's exact
    * rect×polygon predicate, summaries rebuilt from the full-mosaic
    * landing via global pixel coordinates (the ROI grid's 32-px tiles
    * are phase-aligned quarters of the 64-px full-grid tiles; footprint
    * edges are 64-px aligned, so ROI binning matches exactly). */
  private[rasterops] val loadPolygonDuckSql: String =
    s"""WITH e AS (
       |  SELECT x1, y1, x2, y2
       |  FROM read_parquet('$PolyRoiEdgesPath/*.parquet')),
       |rect AS (
       |  SELECT g1.ty, g2.tx,
       |         500640.0 + g2.tx * 320 AS rx0,
       |         500640.0 + g2.tx * 320 + 320 AS rx1,
       |         8000000.0 - g1.ty * 320 - 320 AS ry0,
       |         8000000.0 - g1.ty * 320 AS ry1
       |  FROM generate_series(0, 2) g1(ty), generate_series(0, 5) g2(tx)),
       |-- (a) any polygon vertex inside the tile rect (inclusive)
       |ka AS (
       |  SELECT DISTINCT r.ty, r.tx FROM rect r JOIN e
       |    ON e.x1 BETWEEN r.rx0 AND r.rx1
       |   AND e.y1 BETWEEN r.ry0 AND r.ry1),
       |-- (b) any rect corner inside the polygon (even-odd ray cast)
       |corners AS (
       |  SELECT ty, tx, rx0 AS cx, ry0 AS cy FROM rect UNION ALL
       |  SELECT ty, tx, rx0, ry1 FROM rect UNION ALL
       |  SELECT ty, tx, rx1, ry0 FROM rect UNION ALL
       |  SELECT ty, tx, rx1, ry1 FROM rect),
       |kb AS (
       |  SELECT ty, tx FROM (
       |    SELECT c.ty, c.tx, c.cx, c.cy,
       |           SUM(CASE WHEN (e.y1 > c.cy) <> (e.y2 > c.cy)
       |                     AND c.cx < (e.x2 - e.x1) * (c.cy - e.y1)
       |                                / (e.y2 - e.y1) + e.x1
       |                THEN 1 ELSE 0 END) AS cr
       |    FROM corners c CROSS JOIN e
       |    GROUP BY c.ty, c.tx, c.cx, c.cy) t
       |  WHERE cr % 2 = 1),
       |-- (c) polygon-edge × rect-edge intersection — the engine's EXACT
       |-- predicate (Geom.segmentsIntersect): orientation signs with the
       |-- 1e-12 epsilon AND the collinear/endpoint-touch cases, which
       |-- are live here (the sliver's diagonal passes exactly through a
       |-- tile corner)
       |redges AS (
       |  SELECT ty, tx, rx0 AS ax, ry0 AS ay, rx1 AS bx, ry0 AS byy FROM rect
       |  UNION ALL SELECT ty, tx, rx1, ry0, rx1, ry1 FROM rect
       |  UNION ALL SELECT ty, tx, rx1, ry1, rx0, ry1 FROM rect
       |  UNION ALL SELECT ty, tx, rx0, ry1, rx0, ry0 FROM rect),
       |kc0 AS (
       |  SELECT r.ty, r.tx,
       |         e.x1 AS p1x, e.y1 AS p1y, e.x2 AS p2x, e.y2 AS p2y,
       |         r.ax AS p3x, r.ay AS p3y, r.bx AS p4x, r.byy AS p4y,
       |         (e.y2 - e.y1) * (r.ax - e.x2)
       |           - (e.x2 - e.x1) * (r.ay - e.y2) AS v1,
       |         (e.y2 - e.y1) * (r.bx - e.x2)
       |           - (e.x2 - e.x1) * (r.byy - e.y2) AS v2,
       |         (r.byy - r.ay) * (e.x1 - r.bx)
       |           - (r.bx - r.ax) * (e.y1 - r.byy) AS v3,
       |         (r.byy - r.ay) * (e.x2 - r.bx)
       |           - (r.bx - r.ax) * (e.y2 - r.byy) AS v4
       |  FROM redges r CROSS JOIN e),
       |kc1 AS (
       |  SELECT *,
       |    CASE WHEN v1 > 1e-12 THEN 1 WHEN v1 < -1e-12 THEN -1 ELSE 0 END AS o1,
       |    CASE WHEN v2 > 1e-12 THEN 1 WHEN v2 < -1e-12 THEN -1 ELSE 0 END AS o2,
       |    CASE WHEN v3 > 1e-12 THEN 1 WHEN v3 < -1e-12 THEN -1 ELSE 0 END AS o3,
       |    CASE WHEN v4 > 1e-12 THEN 1 WHEN v4 < -1e-12 THEN -1 ELSE 0 END AS o4
       |  FROM kc0),
       |kc AS (
       |  SELECT DISTINCT ty, tx FROM kc1
       |  WHERE (o1 <> o2 AND o3 <> o4)
       |     OR (o1 = 0 AND p3x BETWEEN LEAST(p1x, p2x) AND GREATEST(p1x, p2x)
       |                AND p3y BETWEEN LEAST(p1y, p2y) AND GREATEST(p1y, p2y))
       |     OR (o2 = 0 AND p4x BETWEEN LEAST(p1x, p2x) AND GREATEST(p1x, p2x)
       |                AND p4y BETWEEN LEAST(p1y, p2y) AND GREATEST(p1y, p2y))
       |     OR (o3 = 0 AND p1x BETWEEN LEAST(p3x, p4x) AND GREATEST(p3x, p4x)
       |                AND p1y BETWEEN LEAST(p3y, p4y) AND GREATEST(p3y, p4y))
       |     OR (o4 = 0 AND p2x BETWEEN LEAST(p3x, p4x) AND GREATEST(p3x, p4x)
       |                AND p2y BETWEEN LEAST(p3y, p4y) AND GREATEST(p3y, p4y))),
       |kept AS (
       |  SELECT DISTINCT ty, tx FROM (
       |    SELECT * FROM ka UNION SELECT * FROM kb UNION SELECT * FROM kc) u),
       |cells AS (
       |  SELECT band, tidx, ty * 64 + py AS gy, tx * 64 + px AS gx, value
       |  FROM read_parquet('$CellsPath/*.parquet'))
       |-- ROI tile (ty, tx) covers full-grid pixels
       |-- gy in [32·ty, 32·ty+32), gx in [64 + 32·tx, 64 + 32·tx + 32)
       |SELECT c.band, c.tidx, k.ty, k.tx,
       |       COUNT(*) AS n_px,
       |       CAST(SUM(CASE WHEN isnan(c.value) THEN 0
       |                ELSE CAST(ROUND(c.value * 100) AS BIGINT) END)
       |            AS BIGINT) AS sum_q,
       |       ROUND(MIN(CASE WHEN isnan(c.value) THEN NULL ELSE c.value END), 2)
       |         AS vmin,
       |       ROUND(MAX(CASE WHEN isnan(c.value) THEN NULL ELSE c.value END), 2)
       |         AS vmax
       |FROM kept k
       |JOIN cells c
       |  ON c.gy >= 32 * k.ty AND c.gy < 32 * k.ty + 32
       | AND c.gx >= 64 + 32 * k.tx AND c.gx < 64 + 32 * k.tx + 32
       |GROUP BY c.band, c.tidx, k.ty, k.tx
       |ORDER BY c.band, c.tidx, k.ty, k.tx""".stripMargin

  /** Per-band MIXED resampling in ONE load (the reference's
    * `resampling={"red": ..., "*": ...}` per-band map,
    * `loader/types.py:113-124`): red warps with `nearest` while nir
    * warps with `bilinear` in the same plan. The oracle proves the
    * per-band config is honored by comparing the red half
    * PIXEL-FOR-PIXEL against the `nearest` mode of
    * [[loadResampling]]'s landing (same load parameters) — a config
    * resolution that leaked one band's kernel onto the other breaks
    * the join — and re-aggregates the bilinear nir half. */
  def loadResamplingMixed(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    Load.load(spark, items, schemas, bands = Seq("red", "nir"),
        groupby = "solar_day", chunks = 64,
        crs = Some("EPSG:3857"), resolution = Some(30.0),
        resampling = Map("red" -> "nearest", "nir" -> "bilinear"),
        dtype = Some("float64")).tiles
      .select(col("band"), col("tIdx"), col("ty"), col("tx"),
        col("width"), col("nodata"), posexplode(Fuse.decodeUdf(col("data"), col("dtype"))))
      .select(col("band"), col("tIdx").as("tidx"),
        col("ty"), col("tx"),
        (col("pos") / col("width")).cast("int").as("py"),
        (col("pos") % col("width")).cast("int").as("px"),
        when(isnan(col("col")) || col("col") === col("nodata"),
          lit(Double.NaN)).otherwise(col("col")).as("value"))
      .write.mode("overwrite").parquet(MixedResampleCellsPath)
    spark.read.parquet(MixedResampleCellsPath)
      .groupBy("band", "tidx", "ty", "tx")
      .agg(count(lit(1)).as("n_px"),
        count(when(!isnan(col("value")), 1)).as("n_valid"),
        sum(when(isnan(col("value")), 0L)
          .otherwise(round(col("value") * 100).cast("long"))).as("sum_q"),
        round(min(when(!isnan(col("value")), col("value"))), 2).as("vmin"),
        round(max(when(!isnan(col("value")), col("value"))), 2).as("vmax"))
      .orderBy("band", "tidx", "ty", "tx")
  }

  /** Oracle: the red half is REBUILT from the nearest-mode landing of
    * `raster_load_resampling` (pixel-position join — per-band kernel
    * leakage breaks it); the nir half re-aggregates its own landing. */
  private[rasterops] val loadResamplingMixedDuckSql: String =
    s"""WITH mixed AS (
       |  SELECT band, tidx, ty, tx, py, px, value
       |  FROM read_parquet('$MixedResampleCellsPath/*.parquet')),
       |near_red AS (
       |  SELECT tidx, ty, tx, py, px, value
       |  FROM read_parquet('$LoadResampleCellsPath/*.parquet')
       |  WHERE mode = 'nearest' AND band = 'red'),
       |expected AS (
       |  SELECT 'red' AS band, m.tidx, m.ty, m.tx, n.value
       |  FROM (SELECT tidx, ty, tx, py, px FROM mixed WHERE band = 'red') m
       |  JOIN near_red n ON n.tidx = m.tidx AND n.ty = m.ty
       |                 AND n.tx = m.tx AND n.py = m.py AND n.px = m.px
       |  UNION ALL
       |  SELECT band, tidx, ty, tx, value FROM mixed WHERE band = 'nir')
       |SELECT band, tidx, ty, tx,
       |       COUNT(*) AS n_px,
       |       CAST(SUM(CASE WHEN isnan(value) THEN 0 ELSE 1 END)
       |            AS BIGINT) AS n_valid,
       |       CAST(SUM(CASE WHEN isnan(value) THEN 0
       |                ELSE CAST(ROUND(value * 100) AS BIGINT) END)
       |            AS BIGINT) AS sum_q,
       |       ROUND(MIN(CASE WHEN isnan(value) THEN NULL ELSE value END), 2)
       |         AS vmin,
       |       ROUND(MAX(CASE WHEN isnan(value) THEN NULL ELSE value END), 2)
       |         AS vmax
       |FROM expected
       |GROUP BY band, tidx, ty, tx
       |ORDER BY band, tidx, ty, tx""".stripMargin

  /** Multi-grid band loading end to end (A8, the Sentinel-2 signature
    * layout, reference `_mdtools.py:334-397`): ONE load of `red` (10 m
    * native grid) + `swir` (its own 20 m grid) onto a single 10 m
    * output grid — red pastes from its grid, swir nearest-upsamples 2×
    * from its grid. The joint 10 m planes land as parquet, the swir
    * band's NATIVE 20 m planes land separately (a same-grid paste-only
    * load), and DuckDB RE-DERIVES the upsample: every 10 m swir pixel
    * must equal native(gy // 2, gx // 2) — the dst-center → floor
    * source-index convention of the warp's nearest kernel. */
  def loadMultigrid(spark: SparkSession): DataFrame = {
    val jsons = Fixtures.writeScenesMultigrid(NScenes)
    val (items, schemas) = parsedOf(jsons)
    def landCells(tiles: DataFrame, path: String): Unit =
      tiles
        .select(col("band"), col("tIdx"), col("ty"), col("tx"), col("width"),
          col("nodata"), posexplode(Fuse.decodeUdf(col("data"), col("dtype"))))
        .select(col("band"), col("tIdx").as("tidx"),
          (col("ty") * 64 + (col("pos") / col("width")).cast("int")).as("gy"),
          (col("tx") * 64 + (col("pos") % col("width")).cast("int")).as("gx"),
          when(isnan(col("col")) || col("col") === col("nodata"),
            lit(Double.NaN)).otherwise(col("col")).as("value"))
        .write.mode("overwrite").parquet(path)
    // joint load: both bands on ONE 10 m grid, each from its own grid
    val res = Load.load(spark, items, schemas, bands = Seq("red", "swir"),
      groupby = "id", chunks = 64, resolution = Some(10.0),
      dtype = Some("float64"))
    landCells(res.tiles, MultigridCellsPath)
    // swir native reference: a 20 m grid SHARING the joint grid's
    // origin, so the load is a pure paste of the source pixels and
    // native index (gy, gx) aligns as joint // 2
    val g = res.geobox
    val g20 = graft.geo.GeoBox((g.width + 1) / 2, (g.height + 1) / 2,
      graft.geo.Affine.grid(g.transform.c, g.transform.f, 20.0, -20.0), g.crs)
    val nat = Load.load(spark, items, schemas, bands = Seq("swir"),
      groupby = "id", chunks = 64, geobox = Some(g20),
      dtype = Some("float64"))
    landCells(nat.tiles, MultigridNativePath)
    spark.read.parquet(MultigridCellsPath)
      .withColumn("ty", floor(col("gy") / 64).cast("int"))
      .withColumn("tx", floor(col("gx") / 64).cast("int"))
      .groupBy("band", "tidx", "ty", "tx")
      .agg(count(lit(1)).as("n_px"),
        count(when(!isnan(col("value")), 1)).as("n_valid"),
        sum(when(isnan(col("value")), 0L)
          .otherwise(round(col("value") * 100).cast("long"))).as("sum_q"),
        round(min(when(!isnan(col("value")), col("value"))), 2).as("vmin"),
        round(max(when(!isnan(col("value")), col("value"))), 2).as("vmax"))
      .orderBy("band", "tidx", "ty", "tx")
  }

  /** Oracle: red re-aggregates from the joint landing; swir is instead
    * REBUILT from the native 20 m planes (nearest upsample re-derived
    * in SQL) and aggregated — a wrong source grid, origin, or sampling
    * convention in the engine's multi-grid warp breaks the hash. */
  private[rasterops] val loadMultigridDuckSql: String =
    s"""WITH joint AS (
       |  SELECT band, tidx, gy, gx, value
       |  FROM read_parquet('$MultigridCellsPath/*.parquet')),
       |nat AS (
       |  SELECT tidx, gy, gx, value
       |  FROM read_parquet('$MultigridNativePath/*.parquet')),
       |expected AS (
       |  SELECT band, tidx, gy, gx, value FROM joint WHERE band = 'red'
       |  UNION ALL
       |  SELECT j.band, j.tidx, j.gy, j.gx, n.value
       |  FROM (SELECT band, tidx, gy, gx FROM joint WHERE band = 'swir') j
       |  JOIN nat n ON n.tidx = j.tidx
       |            AND n.gy = j.gy // 2 AND n.gx = j.gx // 2)
       |SELECT band, tidx,
       |       CAST(gy // 64 AS INT) AS ty, CAST(gx // 64 AS INT) AS tx,
       |       COUNT(*) AS n_px,
       |       CAST(SUM(CASE WHEN isnan(value) THEN 0 ELSE 1 END)
       |            AS BIGINT) AS n_valid,
       |       CAST(SUM(CASE WHEN isnan(value) THEN 0
       |                ELSE CAST(ROUND(value * 100) AS BIGINT) END)
       |            AS BIGINT) AS sum_q,
       |       ROUND(MIN(CASE WHEN isnan(value) THEN NULL ELSE value END), 2)
       |         AS vmin,
       |       ROUND(MAX(CASE WHEN isnan(value) THEN NULL ELSE value END), 2)
       |         AS vmax
       |FROM expected
       |GROUP BY band, tidx, ty, tx
       |ORDER BY band, tidx, ty, tx""".stripMargin

  /** Oracle: DuckDB re-aggregates the landed per-mode pixel planes with
    * the same quantized conventions. */
  private[rasterops] val loadResamplingDuckSql: String =
    s"""SELECT mode, band, tidx, ty, tx,
       |       COUNT(*) AS n_px,
       |       CAST(SUM(CASE WHEN isnan(value) THEN 0 ELSE 1 END)
       |            AS BIGINT) AS n_valid,
       |       CAST(SUM(CASE WHEN isnan(value) THEN 0
       |                ELSE CAST(ROUND(value * 100) AS BIGINT) END)
       |            AS BIGINT) AS sum_q,
       |       ROUND(MIN(CASE WHEN isnan(value) THEN NULL ELSE value END), 2)
       |         AS vmin,
       |       ROUND(MAX(CASE WHEN isnan(value) THEN NULL ELSE value END), 2)
       |         AS vmax
       |FROM read_parquet('$LoadResampleCellsPath/*.parquet')
       |GROUP BY mode, band, tidx, ty, tx
       |ORDER BY mode, band, tidx, ty, tx""".stripMargin

  /** GeoTIFF end-to-end (S7 on real TIFF containers): the same mosaic
    * workload as `raster_load_mosaic` but reading tiled GeoTIFFs with
    * overview subimages through the TIFF format — per-tile checksums must
    * equal the GRB container's (pinned by LoadSpec parity too). */
  def loadTiff(spark: SparkSession): DataFrame = {
    val jsons = Fixtures.writeScenesTiff(NScenes)
    val (items, schemas) = parsedOf(jsons)
    val single = summarize(
      Load.load(spark, items, schemas, bands = Seq("red", "nir"),
        groupby = "solar_day", chunks = 64).tiles)
      .withColumn("layout", lit("per_band_files"))
    // packed multi-band asset: red/green/nir are planes 1..3 of ONE tif,
    // exercising RasterSource.band addressing end-to-end (S7 multi-band)
    val mJsons = Fixtures.writeScenesMultiband(NScenes)
    val (mItems, mSchemas) = parsedOf(mJsons)
    val packed = summarize(
      Load.load(spark, mItems, mSchemas, bands = Seq("red", "green", "nir"),
        groupby = "solar_day", chunks = 64).tiles)
      .withColumn("layout", lit("packed_bands"))
    // multi-image container: red/nir are NAMED subdatasets of ONE tif,
    // addressed via RasterSource.subdataset (S7 subdataset addressing);
    // checksums must equal the per-band-files layout's
    val sJsons = Fixtures.writeScenesSubdatasets(NScenes)
    val (sItems, sSchemas) = parsedOf(sJsons)
    val subds = summarize(
      Load.load(spark, sItems, sSchemas, bands = Seq("red", "nir"),
        groupby = "solar_day", chunks = 64).tiles)
      .withColumn("layout", lit("subdatasets"))
    single.unionAll(packed).unionAll(subds)
      .select(col("layout"), col("band"), col("tIdx"), col("ty"), col("tx"),
        col("width"), col("height"), col("validCount"), col("checksum"))
      .orderBy("layout", "band", "tIdx", "ty", "tx")
  }

  /** Zarr store end-to-end (S7 on the chunked-directory container;
    * variables = subdatasets): the same mosaic workload as
    * `raster_load_mosaic` reading `store.zarr#var` sources through
    * the zarr format — per-tile checksums must equal the GRB container's
    * (pinned by LoadSpec parity too), plus the overview path reading the
    * `red.ovr2` sidecar variable at 4x output resolution. */
  def loadZarr(spark: SparkSession): DataFrame = {
    val jsons = Fixtures.writeScenesZarr(NScenes)
    val (items, schemas) = parsedOf(jsons)
    val full = summarize(
      Load.load(spark, items, schemas, bands = Seq("red", "nir"),
        groupby = "solar_day", chunks = 64).tiles)
      .withColumn("res", lit("base"))
    val ovr = summarize(
      Load.load(spark, items, schemas, bands = Seq("red"),
        groupby = "solar_day", chunks = 64, resolution = Some(40.0)).tiles)
      .withColumn("res", lit("ovr"))
    full.unionAll(ovr)
      .select(col("res"), col("band"), col("tIdx"), col("ty"), col("tx"),
        col("width"), col("height"), col("validCount"), col("checksum"))
      .orderBy("res", "band", "tIdx", "ty", "tx")
  }

  /** netCDF classic container end-to-end (S7 on the legacy multi-variable
    * container; variables = subdatasets): the same mosaic workload as
    * `raster_load_mosaic` reading `file.nc#var` sources through
    * the netCDF format — per-tile checksums must equal the GRB container's
    * (pinned by LoadSpec parity too). */
  def loadNetcdf(spark: SparkSession): DataFrame = {
    val jsons = Fixtures.writeScenesNc(NScenes)
    val (items, schemas) = parsedOf(jsons)
    summarize(
      Load.load(spark, items, schemas, bands = Seq("red", "nir"),
        groupby = "solar_day", chunks = 64).tiles)
      .select(col("band"), col("tIdx"), col("ty"), col("tx"),
        col("width"), col("height"), col("validCount"), col("checksum"))
      .orderBy("band", "tIdx", "ty", "tx")
  }

  /** DSv2 `raster` table over GRB scenes (SURVEY §4 "COG table"): SQL
    * over raw pixels with an ROI predicate pushed into the windowed scan.
    * The pushed `.grb` suffix predicate prunes the directory's other
    * containers before planning reads their headers. */
  def grbSourceSql(spark: SparkSession): DataFrame = {
    Fixtures.writeScenes(NScenes)
    // pin to the NScenes contract scenes: the fixture dir is shared with
    // specs that write more, and a deterministic row set is what lets
    // the DuckDB oracle re-derive this from the landed native planes
    spark.read.format("raster").load(Fixtures.dir.toString)
      .where(col("uri").endsWith(".grb"))
      .where(col("uri").rlike("/scene[0-3]-(red|nir)\\.grb$"))
      .where(col("x") < 48 && col("y") >= 8 && col("value") =!= 0)
      .groupBy("uri")
      .agg(count(lit(1)).as("n_valid"),
        round(avg(col("value")), 2).as("mean"),
        round(sum(col("value")), 2).as("total"))
      .withColumn("uri", regexp_extract(col("uri"), "([^/]+)$", 1))
      .orderBy("uri")
  }

  /** GeoTIFF sibling of grbSourceSql: SQL over the packed 3-band MSI
    * scenes with a band predicate — plan-time band pruning means the
    * non-addressed planes of the stack are never decoded; the pushed
    * `.tif` suffix predicate prunes the other containers. */
  def gtiffSourceSql(spark: SparkSession): DataFrame = {
    Fixtures.writeScenesMultiband(NScenes)
    spark.read.format("raster").load(Fixtures.dir.toString)
      .where(col("uri").endsWith(".tif"))
      .where(col("uri").rlike("/scene[0-3]-msi\\.tif$") && col("band") === 2 &&
        col("x") < 48 && col("y") >= 8 && col("value") =!= 0)
      .groupBy("uri", "band")
      .agg(count(lit(1)).as("n_valid"),
        round(avg(col("value")), 2).as("mean"),
        round(sum(col("value")), 2).as("total"))
      .withColumn("uri", regexp_extract(col("uri"), "([^/]+)$", 1))
      .orderBy("uri")
  }

  /** Unified `raster` DSv2 table over a MIXED container directory (GRB +
    * tiled GeoTIFF + zarr store + netCDF of the same scenes): per-format
    * per-band totals over an ROI must agree format-to-format — one SQL
    * surface, four container encodings, same pixels. */
  def anySourceSql(spark: SparkSession): DataFrame = {
    val mix = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_mix_src").toString
    new java.io.File(mix).mkdirs()
    // one scene, all four container faces, written once (idempotent)
    val g = Fixtures.sceneGeobox(0)
    val red = Fixtures.scenePixels(0)
    val nir = red.map(v => if (v != 0.0) v + 5000 else v)
    if (!new java.io.File(s"$mix/scene0.nc").exists()) {
      graft.raster.Grb.writeWithOverviews(s"$mix/scene0-red.grb", red, g,
        "uint16", Some(0.0))
      graft.raster.Tiff.write(s"$mix/scene0-red.tif", red, g,
        "uint16", Some(0.0), tileSize = Some(64))
      graft.raster.Zarr.write(s"$mix/scene0.zarr", "red", red, g,
        "uint16", Some(0.0))
      graft.raster.Zarr.write(s"$mix/scene0.zarr", "nir", nir, g,
        "uint16", Some(0.0), zlib = true)
      graft.raster.NetCdf.write(s"$mix/scene0.nc",
        Seq("red" -> red, "nir" -> nir), g, "int16", Some(0.0))
    }
    spark.read.format("raster").load(mix)
      .where(col("x") < 96 && col("y") >= 8 && col("value") =!= 0)
      .groupBy("uri")
      .agg(count(lit(1)).as("n_valid"),
        round(avg(col("value")), 2).as("mean"),
        round(sum(col("value")), 2).as("total"))
      .withColumn("uri", regexp_extract(col("uri"), "([^/]+)$", 1))
      .orderBy("uri")
  }

  /** S10 sink analog at scale: the fused cube exported as per-tile
    * georeferenced COGs (executor-side, zero-shuffle, no driver
    * assembly), then read BACK through the `raster` DSv2 table — the full
    * write-then-SQL raster lifecycle. */
  def cogExport(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    val out = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_cog_export").toString
    res.exportCogTiles(out)
    spark.read.format("raster").load(out)
      .where(col("value") =!= coalesce(col("nodata"), lit(Double.NaN)))
      .withColumn("band", regexp_extract(col("uri"), "([a-z]+)_t\\d", 1))
      .groupBy("band")
      .agg(countDistinct(col("uri")).as("n_tiles"),
        count(lit(1)).as("n_valid"),
        round(sum(col("value")), 2).as("total"))
      .orderBy("band")
  }

  /** S10 sink, zarr face: distributed chunk export of the loaded cube
    * (driver writes only store metadata; every chunk file is written by
    * the task holding that tile), then a distributed read-back through
    * the Zarr module — per-variable valid counts and totals must match
    * the COG export's per-band totals (same cube, different container). */
  def zarrExport(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    val store = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_zarr_export.zarr").toString
    res.exportZarr(store, chunk = 64)
    val vars = graft.raster.Zarr.variables(store)
    spark.createDataset(vars).repartition(vars.size).map { v =>
      val hdr = graft.raster.Zarr.readHeader(s"$store#$v")
      val px = graft.raster.Zarr.readWindow(s"$store#$v",
        0, 0, hdr.width, hdr.height)
      val nd = hdr.nodata.getOrElse(Double.NaN)
      var valid = 0L; var total = 0.0
      var i = 0
      while (i < px.length) {
        val x = px(i)
        if (!x.isNaN && x != nd) { valid += 1; total += x }
        i += 1
      }
      val nChunks = Option(new java.io.File(s"$store/$v").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .count(f => f.getName.matches("\\d+\\.\\d+"))
      (v, nChunks, valid, math.rint(total * 100) / 100)
    }.toDF("variable", "n_chunks", "n_valid", "total").orderBy("variable")
  }

  /** S10/S12 sink: tile rows -> parquet -> reload (the distributed
    * persistence path — at 100 TB the fused cube lives as parquet tile
    * rows, partitioned by band, re-loadable without re-reading sources). */
  def tilesRoundtrip(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    val out = java.nio.file.Files.createTempDirectory("graft_tiles_rt").toString
    // persist z-clustered: within each band partition, files carry
    // Morton-contiguous (ty, tx) ranges, so ROI reads prune row groups
    // (graft.layout; ZOrderRangePruning exploits the z column)
    graft.functions.VecFunctions.register(spark)
    res.tiles
      .withColumn("z", call_function("zorder64", col("tx"), col("ty")))
      .repartitionByRange(col("band"), col("z"))
      .sortWithinPartitions("band", "z")
      .write.mode("overwrite").partitionBy("band").parquet(out)
    summarize(spark.read.parquet(out))
  }

  /** The eager-load SUMMARY queries re-derived from the landed pixel
    * planes the cells anchors already write (same Verify run; content
    * is fixture-driven, so identical at every SF — no cross-SF clobber
    * hazard). `raster_load_mosaic`'s per-tile width/height/validCount/
    * checksum recompute from the fused plane (`CellsPath`),
    * `raster_load_groupby_id`'s from the per-item planes
    * (`CompositeCellsPath`, red band), and `raster_load_overview`'s
    * from the NATIVE per-item planes — DuckDB re-applies BOTH the
    * `.ovr4` decimation identity (base(4PY, 4PX)) and the solar-day
    * first-valid fuse rule (items in ascending order within the day)
    * before summarizing, so overview selection and mosaic fusing are
    * jointly rechecked. */
  private[rasterops] val loadMosaicDuckSql: String =
    s"""SELECT band, tidx AS "tIdx", ty, tx,
       |       CAST(MAX(px) + 1 AS INT) AS width,
       |       CAST(MAX(py) + 1 AS INT) AS height,
       |       CAST(SUM(CASE WHEN value <> 0 THEN 1 ELSE 0 END) AS INT)
       |         AS validCount,
       |       ROUND(SUM(value), 2) AS checksum
       |FROM read_parquet('$CellsPath/*.parquet')
       |GROUP BY band, tidx, ty, tx
       |ORDER BY band, "tIdx", ty, tx""".stripMargin

  private[rasterops] val loadGroupByIdDuckSql: String =
    s"""SELECT band, tidx AS "tIdx", ty, tx,
       |       CAST(MAX(px) + 1 AS INT) AS width,
       |       CAST(MAX(py) + 1 AS INT) AS height,
       |       CAST(SUM(CASE WHEN isnan(value) THEN 0 ELSE 1 END) AS INT)
       |         AS validCount,
       |       ROUND(SUM(CASE WHEN isnan(value) THEN 0 ELSE value END), 2)
       |         AS checksum
       |FROM read_parquet('$CompositeCellsPath/*.parquet')
       |WHERE band = 'red'
       |GROUP BY band, tidx, ty, tx
       |ORDER BY band, "tIdx", ty, tx""".stripMargin

  private[rasterops] val loadOverviewDuckSql: String =
    s"""WITH nat AS (
       |  SELECT tidx, gy, gx, value
       |  FROM read_parquet('$OverviewNativePath/*.parquet')
       |  WHERE NOT isnan(value)),
       |dom AS (
       |  SELECT DISTINCT band, tidx // 2 AS day, ty, tx, py, px,
       |         4 * (ty * 64 + py) AS sgy, 4 * (tx * 64 + px) AS sgx
       |  FROM read_parquet('$OverviewCellsPath/*.parquet')
       |  WHERE lvl = 4),
       |f AS (
       |  SELECT d.band, d.day, d.ty, d.tx, d.py, d.px,
       |         COALESCE(n0.value, n1.value, 0) AS fused
       |  FROM dom d
       |  LEFT JOIN nat n0 ON n0.tidx = d.day * 2
       |                  AND n0.gy = d.sgy AND n0.gx = d.sgx
       |  LEFT JOIN nat n1 ON n1.tidx = d.day * 2 + 1
       |                  AND n1.gy = d.sgy AND n1.gx = d.sgx)
       |SELECT band, day AS "tIdx", ty, tx,
       |       CAST(MAX(px) + 1 AS INT) AS width,
       |       CAST(MAX(py) + 1 AS INT) AS height,
       |       CAST(SUM(CASE WHEN fused <> 0 THEN 1 ELSE 0 END) AS INT)
       |         AS validCount,
       |       ROUND(SUM(fused), 2) AS checksum
       |FROM f GROUP BY band, day, ty, tx
       |ORDER BY band, "tIdx", ty, tx""".stripMargin

  /** Cross-CONTAINER checks via the same landed planes: the netCDF and
    * zarr loads must reproduce the GRB-derived expectations, so a
    * decode bug in either container reddens its row. netCDF is the
    * mosaic expectation verbatim (same scenes, int16 storage). Zarr's
    * `ovr` rows check that the store's `red.ovr2`/`red.ovr4` sidecar
    * variables carry the same decimation pyramid as the GRB `.ovrN`
    * files: a 40 m read must pick `red.ovr4` and paste it directly, so
    * every fused overview pixel equals base(4P) under the solar-day
    * first-valid rule — the identical expectation the GRB
    * `raster_load_overview` oracle computes, now re-proven through the
    * zarr chunk decoder. */
  private[rasterops] val loadNetcdfDuckSql: String = loadMosaicDuckSql

  private[rasterops] val loadZarrDuckSql: String =
    s"""WITH nat AS (
       |  SELECT tidx, gy, gx, value
       |  FROM read_parquet('$OverviewNativePath/*.parquet')
       |  WHERE NOT isnan(value)),
       |base AS (
       |  SELECT 'base' AS res, band, tidx AS day, ty, tx,
       |         CAST(MAX(px) + 1 AS INT) AS width,
       |         CAST(MAX(py) + 1 AS INT) AS height,
       |         CAST(SUM(CASE WHEN value <> 0 THEN 1 ELSE 0 END) AS INT)
       |           AS validCount,
       |         ROUND(SUM(value), 2) AS checksum
       |  FROM read_parquet('$CellsPath/*.parquet')
       |  GROUP BY band, tidx, ty, tx),
       |dom AS (
       |  SELECT DISTINCT band, tidx // 2 AS day, ty, tx, py, px,
       |         4 * (ty * 64 + py) AS sgy, 4 * (tx * 64 + px) AS sgx
       |  FROM read_parquet('$OverviewCellsPath/*.parquet')
       |  WHERE lvl = 4),
       |f AS (
       |  SELECT d.band, d.day, d.ty, d.tx, d.py, d.px,
       |         COALESCE(n0.value, n1.value, 0) AS fused
       |  FROM dom d
       |  LEFT JOIN nat n0 ON n0.tidx = d.day * 2
       |                  AND n0.gy = d.sgy AND n0.gx = d.sgx
       |  LEFT JOIN nat n1 ON n1.tidx = d.day * 2 + 1
       |                  AND n1.gy = d.sgy AND n1.gx = d.sgx),
       |ovr AS (
       |  SELECT 'ovr' AS res, band, day, ty, tx,
       |         CAST(MAX(px) + 1 AS INT) AS width,
       |         CAST(MAX(py) + 1 AS INT) AS height,
       |         CAST(SUM(CASE WHEN fused <> 0 THEN 1 ELSE 0 END) AS INT)
       |           AS validCount,
       |         ROUND(SUM(fused), 2) AS checksum
       |  FROM f GROUP BY band, day, ty, tx)
       |SELECT res, band, day AS "tIdx", ty, tx, width, height,
       |       validCount, checksum
       |FROM (SELECT * FROM base UNION ALL SELECT * FROM ovr)
       |ORDER BY res, band, "tIdx", ty, tx""".stripMargin

  /** Summary oracles re-derived from landed planes, round 2 — the
    * remaining eager-load summaries graduate from rows-only to
    * hash-checked. `raster_load_reproject` re-aggregates the warped
    * planes `reprojectCells` lands (same three cross-CRS loads, so the
    * summary and the cells anchor must agree on every fused pixel).
    * The composite summaries re-derive per-pixel mean/max/median from
    * the per-item time planes (`CompositeCellsPath`) with DuckDB's own
    * AVG/MAX/median — an independent recomputation of the custom
    * `Composite` Aggregator, not a re-add of its output.
    * `raster_load_tiff`'s three container layouts all re-derive from
    * the GRB mosaic plane (`CellsPath`): per-band-files and named
    * subdatasets must reproduce it verbatim, and the packed 3-band
    * asset's planes are the fixture's algebraic shifts of red
    * (`Fixtures.bandPixels`: +{0,10000,20000} on valid pixels), so
    * `checksum = red + shift·validCount` — a band-addressing bug
    * (plane 1 read as plane 3) misses the shift and reddens the row. */
  private[rasterops] val loadReprojectDuckSql: String =
    s"""SELECT crs, band, tidx AS "tIdx", ty, tx,
       |       CAST(MAX(px) + 1 AS INT) AS width,
       |       CAST(MAX(py) + 1 AS INT) AS height,
       |       CAST(SUM(CASE WHEN value <> 0 THEN 1 ELSE 0 END) AS INT)
       |         AS validCount,
       |       ROUND(SUM(value), 2) AS checksum
       |FROM read_parquet('$ReprojectCellsPath/*.parquet')
       |GROUP BY crs, band, tidx, ty, tx
       |ORDER BY crs, band, "tIdx", ty, tx""".stripMargin

  private[rasterops] val loadTiffDuckSql: String =
    s"""WITH c AS (
       |  SELECT band, tidx, ty, tx,
       |         CAST(MAX(px) + 1 AS INT) AS width,
       |         CAST(MAX(py) + 1 AS INT) AS height,
       |         CAST(SUM(CASE WHEN value <> 0 THEN 1 ELSE 0 END) AS INT)
       |           AS validCount,
       |         SUM(value) AS cs
       |  FROM read_parquet('$CellsPath/*.parquet')
       |  GROUP BY band, tidx, ty, tx),
       |shifted AS (
       |  SELECT s.band, c.tidx, c.ty, c.tx, c.width, c.height,
       |         c.validCount, c.cs + s.shift * c.validCount AS cs
       |  FROM c, (VALUES ('red', 0), ('green', 10000), ('nir', 20000))
       |            AS s(band, shift)
       |  WHERE c.band = 'red'),
       |rows_ AS (
       |  SELECT 'per_band_files' AS layout, * FROM c
       |  UNION ALL SELECT 'subdatasets', * FROM c
       |  UNION ALL SELECT 'packed_bands', * FROM shifted)
       |SELECT layout, band, tidx AS "tIdx", ty, tx, width, height,
       |       validCount, ROUND(cs, 2) AS checksum
       |FROM rows_
       |ORDER BY layout, band, "tIdx", ty, tx""".stripMargin

  /** Oracles for the DSv2 SQL sources and the export/roundtrip sinks,
    * all re-derived from landed planes. The source-SQL queries scan raw
    * scene files per-pixel through `spark.read.format(...)`; DuckDB
    * recomputes the same windowed stats from the per-item native planes
    * (`OverviewNativePath`, red band, global grid coords — scene k's
    * local x is `gx - 64k` because consecutive scenes step east by half
    * a 128-px scene), then shifts for the other bands via the fixture
    * algebra (`nir = red + 5000`, msi band 2 = green = red + 10000 on
    * valid pixels). The export oracles re-aggregate the fused mosaic
    * plane (`CellsPath`): COG export writes one file per (band, time,
    * ty, tx) tile and zarr one `band_t{t}` variable with one chunk per
    * tile, so tile/chunk counts are DISTINCT tile keys and
    * valid/total are the plane's sums — a lossy codec, a broken shift
    * origin, or a dropped chunk reddens the row. The tiles-roundtrip
    * summary must reproduce the mosaic summary verbatim (parquet
    * persistence is exact), hence it shares `loadMosaicDuckSql`. */
  private[rasterops] val grbSourceDuckSql: String =
    s"""WITH reg AS (
       |  SELECT tidx, value
       |  FROM read_parquet('$OverviewNativePath/*.parquet')
       |  WHERE NOT isnan(value) AND gx - 64 * tidx < 48 AND gy >= 8),
       |per AS (
       |  SELECT tidx, COUNT(*) AS n, AVG(value) AS m, SUM(value) AS t
       |  FROM reg GROUP BY tidx)
       |SELECT 'scene' || tidx || '-' || b.band || '.grb' AS uri,
       |       n AS n_valid,
       |       ROUND(m + b.shift, 2) AS mean,
       |       ROUND(t + b.shift * n, 2) AS total
       |FROM per, (VALUES ('red', 0), ('nir', 5000)) AS b(band, shift)
       |ORDER BY uri""".stripMargin

  private[rasterops] val gtiffSourceDuckSql: String =
    s"""WITH reg AS (
       |  SELECT tidx, value
       |  FROM read_parquet('$OverviewNativePath/*.parquet')
       |  WHERE NOT isnan(value) AND gx - 64 * tidx < 48 AND gy >= 8),
       |per AS (
       |  SELECT tidx, COUNT(*) AS n, AVG(value) AS m, SUM(value) AS t
       |  FROM reg GROUP BY tidx)
       |SELECT 'scene' || tidx || '-msi.tif' AS uri, 2 AS band,
       |       n AS n_valid,
       |       ROUND(m + 10000, 2) AS mean,
       |       ROUND(t + 10000 * n, 2) AS total
       |FROM per ORDER BY uri""".stripMargin

  private[rasterops] val anySourceDuckSql: String =
    s"""WITH reg AS (
       |  SELECT value
       |  FROM read_parquet('$OverviewNativePath/*.parquet')
       |  WHERE NOT isnan(value) AND tidx = 0 AND gx < 96 AND gy >= 8),
       |per AS (
       |  SELECT COUNT(*) AS n, AVG(value) AS m, SUM(value) AS t FROM reg)
       |SELECT b.uri, n AS n_valid,
       |       ROUND(m + b.shift, 2) AS mean,
       |       ROUND(t + b.shift * n, 2) AS total
       |FROM per, (VALUES ('scene0-red.grb', 0), ('scene0-red.tif', 0),
       |                  ('scene0.nc#red', 0), ('scene0.nc#nir', 5000),
       |                  ('scene0.zarr#red', 0), ('scene0.zarr#nir', 5000))
       |            AS b(uri, shift)
       |ORDER BY uri""".stripMargin

  private[rasterops] val cogExportDuckSql: String =
    s"""SELECT band, COUNT(DISTINCT (tidx, ty, tx)) AS n_tiles,
       |       CAST(SUM(CASE WHEN value <> 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_valid,
       |       ROUND(SUM(value), 2) AS total
       |FROM read_parquet('$CellsPath/*.parquet')
       |GROUP BY band ORDER BY band""".stripMargin

  private[rasterops] val zarrExportDuckSql: String =
    s"""SELECT band || '_t' || tidx AS variable,
       |       CAST(COUNT(DISTINCT (ty, tx)) AS INT) AS n_chunks,
       |       CAST(SUM(CASE WHEN value <> 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_valid,
       |       ROUND(SUM(value), 2) AS total
       |FROM read_parquet('$CellsPath/*.parquet')
       |GROUP BY band, tidx ORDER BY variable""".stripMargin
}
