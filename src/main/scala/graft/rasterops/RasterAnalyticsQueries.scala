package graft.rasterops
import graft.geo.Geom
import graft.load.{Fuse, Load}
import graft.planner.Planner
import graft.raster.Fixtures
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import TileCells._

/** Raster analytics layer: zonal stats, temporal fill, band math,
  * focal mean, drill, change detection, pyramids, rasterize,
  * stratified sampling, histograms, masked composites.
  *
  * One family of [[RasterQueries]]' driver-contract entries (pure
  * code move — the registry and all member semantics live unchanged
  * through the aggregator object, whose self-type gives every family
  * access to the shared fixtures/paths).
  */
private[rasterops] trait RasterAnalyticsQueries {
  this: RasterQueries.type =>
  def zonalStats(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    val crs = res.geobox.crs
    val zones = Seq(
      "rect" -> Geom(IndexedSeq(
        (500200.0, 7999600.0), (500800.0, 7999600.0),
        (500800.0, 7999900.0), (500200.0, 7999900.0)), crs),
      "tri" -> Geom(IndexedSeq(
        (501000.0, 7999950.0), (502000.0, 7999950.0),
        (501500.0, 7999200.0)), crs),
      "holed" -> Geom(IndexedSeq(graft.geo.Poly(
        IndexedSeq((502000.0, 7999200.0), (502800.0, 7999200.0),
          (502800.0, 7999800.0), (502000.0, 7999800.0)),
        IndexedSeq(IndexedSeq((502300.0, 7999400.0), (502500.0, 7999400.0),
          (502500.0, 7999600.0), (502300.0, 7999600.0))))), crs))
    zones.flatMap { case (zid, g) =>
      g.parts.flatMap(_.rings).flatMap { r =>
        r.indices.map { i =>
          val (x1, y1) = r(i)
          val (x2, y2) = r((i + 1) % r.length)
          (zid, x1, y1, x2, y2)
        }
      }
    }.toDF("zone", "x1", "y1", "x2", "y2")
      .coalesce(1).write.mode("overwrite").parquet(ZoneEdgesPath)
    graft.load.Zonal.zonalStats(spark, res.tiles, res.geobox, zones)
      .orderBy("zone", "band", "tIdx")
  }

  private[rasterops] val zonalStatsDuckSql: String =
    s"""WITH e AS (
       |  SELECT zone, x1, y1, x2, y2
       |  FROM read_parquet('$ZoneEdgesPath/*.parquet')),
       |p AS (
       |  SELECT band, tidx, value,
       |         500000 + (tx * 64 + px + 0.5) * 10 AS cx,
       |         8000000 - (ty * 64 + py + 0.5) * 10 AS cy
       |  FROM read_parquet('$CellsPath/*.parquet')
       |  WHERE value <> 0),
       |hit AS (
       |  SELECT e.zone, p.band, p.tidx, p.cx, p.cy, MIN(p.value) AS value,
       |         SUM(CASE WHEN (e.y1 > p.cy) <> (e.y2 > p.cy)
       |                   AND p.cx < (e.x2 - e.x1) * (p.cy - e.y1)
       |                              / (e.y2 - e.y1) + e.x1
       |              THEN 1 ELSE 0 END) AS cr
       |  FROM p CROSS JOIN e
       |  GROUP BY e.zone, p.band, p.tidx, p.cx, p.cy)
       |SELECT zone, band, tidx AS "tIdx",
       |       COUNT(*) AS n_valid, ROUND(SUM(value), 2) AS total,
       |       ROUND(MIN(value), 2) AS vmin, ROUND(MAX(value), 2) AS vmax
       |FROM hit WHERE cr % 2 = 1
       |GROUP BY zone, band, tidx
       |ORDER BY zone, band, "tIdx"""".stripMargin
  def temporalFill(spark: SparkSession): DataFrame = {
    val jsons = Fixtures.writeScenesGap(3)
    val (items, schemas) = parsedOf(jsons)
    val res = Load.load(spark, items, schemas, bands = Seq("red"),
      groupby = "id", chunks = 64, dtype = Some("float64"))
    cells(res.tiles, Seq(col("band"), col("tIdx").as("tidx"),
      unix_timestamp(col("time")).as("tsec"), col("ty"), col("tx")),
      masked = true)
      .write.mode("overwrite").parquet(GapCellsPath)
    res.temporalFill()
      .select(col("band"), col("tIdx"), col("ty"), col("tx"),
        col("n_filled"), planeSum("filled", 100).as("fill_q"),
        planeValid("filled").as("n_data"))
      .orderBy("band", "tIdx", "ty", "tx")
  }

  private[rasterops] val temporalFillDuckSql: String =
    s"""WITH w AS (
       |  SELECT band, tidx, ty, tx, py, px, tsec, value,
       |         last_value(CASE WHEN NOT isnan(value) THEN value END
       |             IGNORE NULLS) OVER wp AS pv,
       |         last_value(CASE WHEN NOT isnan(value) THEN tsec END
       |             IGNORE NULLS) OVER wp AS pt,
       |         first_value(CASE WHEN NOT isnan(value) THEN value END
       |             IGNORE NULLS) OVER wn AS nv,
       |         first_value(CASE WHEN NOT isnan(value) THEN tsec END
       |             IGNORE NULLS) OVER wn AS nt
       |  FROM read_parquet('$GapCellsPath/*.parquet')
       |  WINDOW
       |    wp AS (PARTITION BY band, ty, tx, py, px ORDER BY tsec
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |    wn AS (PARTITION BY band, ty, tx, py, px ORDER BY tsec
       |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
       |f AS (
       |  SELECT band, tidx, ty, tx,
       |         CASE WHEN NOT isnan(value) THEN value
       |              WHEN pv IS NOT NULL AND nv IS NOT NULL
       |                THEN pv + (nv - pv) * (tsec - pt) / (nt - pt)
       |              WHEN pv IS NOT NULL THEN pv
       |              WHEN nv IS NOT NULL THEN nv
       |              ELSE NULL END AS fv,
       |         CASE WHEN isnan(value)
       |               AND (pv IS NOT NULL OR nv IS NOT NULL)
       |              THEN 1 ELSE 0 END AS isf
       |  FROM w)
       |SELECT band, tidx AS "tIdx", ty, tx,
       |       CAST(SUM(isf) AS INT) AS n_filled,
       |       CAST(SUM(COALESCE(CAST(ROUND(fv * 100) AS BIGINT), 0))
       |            AS BIGINT) AS fill_q,
       |       CAST(COUNT(fv) AS INT) AS n_data
       |FROM f GROUP BY band, tidx, ty, tx
       |ORDER BY band, "tIdx", ty, tx""".stripMargin

  /** Savitzky–Golay temporal smoothing (graft.load.TemporalSmooth —
    * beyond the reference): SEVEN same-footprint daily scenes, the
    * middle one holed, loaded per-item, gap-FILLED along time
    * ([[graft.load.TemporalFill]] — the real pipeline order), then
    * convolved with the window-5/order-2 SG kernel. The filled pixel
    * series lands ([[SmoothCellsPath]], keyed band/ty/tx/pos so pixel
    * identity needs no width arithmetic) and DuckDB re-runs the
    * convolution with lag/lead windows in the identical left-to-right
    * summation order — kernel misweighting, window misalignment, or a
    * dropped edge contract shifts the ×100 checksum. Interior centers
    * only (tIdx 2..4 of 7): full-window SG is the one
    * edge-handling-free contract. */
  def temporalSmooth(spark: SparkSession): DataFrame = {
    val jsons = Fixtures.writeScenesGap(7)
    val (items, schemas) = parsedOf(jsons)
    val res = Load.load(spark, items, schemas, bands = Seq("red"),
      groupby = "id", chunks = 64, dtype = Some("float64"))
    val fill = res.temporalFill()
      .select(col("band"), col("tIdx"), col("ty"), col("tx"), col("filled"))
      .localCheckpoint() // landed cells and smoothing share one fill run
    fill
      .select(col("band"), col("tIdx").as("tidx"), col("ty"), col("tx"),
        posexplode(col("filled")))
      .withColumnRenamed("col", "value")
      .write.mode("overwrite").parquet(SmoothCellsPath)
    graft.load.TemporalSmooth.smoothAcrossTime(spark, fill)
      .select(col("band"), col("tIdx"), col("ty"), col("tx"), col("n_valid"),
        planeSum("smooth", 100).as("smooth_q"))
      .orderBy("band", "tIdx", "ty", "tx")
  }

  private[rasterops] val temporalSmoothDuckSql: String =
    s"""WITH w AS (
       |  SELECT band, tidx, ty, tx, pos,
       |         lag(value, 2) OVER pw AS l2,
       |         lag(value, 1) OVER pw AS l1,
       |         value AS v,
       |         lead(value, 1) OVER pw AS n1,
       |         lead(value, 2) OVER pw AS n2
       |  FROM read_parquet('$SmoothCellsPath/*.parquet')
       |  WINDOW pw AS (PARTITION BY band, ty, tx, pos ORDER BY tidx)),
       |s AS (
       |  SELECT band, tidx, ty, tx,
       |         (-3.0/35.0) * l2 + (12.0/35.0) * l1 + (17.0/35.0) * v
       |           + (12.0/35.0) * n1 + (-3.0/35.0) * n2 AS sv
       |  FROM w
       |  WHERE l2 IS NOT NULL AND l1 IS NOT NULL
       |    AND n1 IS NOT NULL AND n2 IS NOT NULL)
       |SELECT band, tidx AS "tIdx", ty, tx,
       |       CAST(COUNT(CASE WHEN NOT isnan(sv) THEN 1 END) AS INT)
       |         AS n_valid,
       |       CAST(SUM(CASE WHEN isnan(sv) THEN 0
       |                     ELSE CAST(ROUND(sv * 100) AS BIGINT) END)
       |            AS BIGINT) AS smooth_q
       |FROM s GROUP BY band, tidx, ty, tx
       |ORDER BY band, "tIdx", ty, tx""".stripMargin

  /** Shared oracle-anchor scaffold of the trend/anomaly/phenology
    * family: load the 7-scene holed fixture (red band, float64,
    * per-id groups) and land its raw per-time pixel series —
    * (band, tidx, ty, tx[, tsec], pos, value) with nodata masked to
    * NaN — at `path` for DuckDB's independent recompute. Returns the
    * LoadResult the operator under test then consumes. */
  private def landGapSeries(spark: SparkSession, path: String,
      withTsec: Boolean = true): graft.load.LoadResult = {
    val jsons = Fixtures.writeScenesGap(7)
    val (items, schemas) = parsedOf(jsons)
    val res = Load.load(spark, items, schemas, bands = Seq("red"),
      groupby = "id", chunks = 64, dtype = Some("float64"))
    val tsec =
      if (withTsec) Seq(unix_timestamp(col("time")).as("tsec")) else Nil
    series(res.tiles, tileKeys ++ tsec).write.mode("overwrite").parquet(path)
    res
  }

  /** Per-pixel OLS trend (graft.load.Trend — beyond the reference):
    * the same 7-scene holed fixture, regressed value-on-days per
    * pixel through the MERGEABLE running-sums aggregate (map-side
    * combine; no time-depth rechunk — the aggregation-friendly
    * contrast to the geomedian family). The raw pixel series + epochs
    * land ([[TrendCellsPath]]) and DuckDB recomputes n/Σt/Σt²/Σv/Σtv
    * per pixel and the identical closed form — day numbers and pixel
    * values are integers, so every sum is order-exact and the slope/
    * intercept doubles match bit-for-bit. The holed scene gives those
    * pixels n=6 with a missing interior day: the count plane, the
    * intercept, and the ≥2-observations guard are all load-bearing in
    * the checksum. */
  def trend(spark: SparkSession): DataFrame = {
    val res = landGapSeries(spark, TrendCellsPath)
    val t0Sec = res.times.map(_.getTime / 1000L).min
    graft.load.Trend.trendAcrossTime(spark, res.tiles, t0Sec)
      .select(col("band"), col("ty"), col("tx"),
        expr("aggregate(count, 0, (s, c) -> s + c)").as("n_obs"),
        planeValid("slope").as("n_fit"),
        planeSum("slope", 1e6).as("slope_q"),
        planeSum("icept", 100).as("icept_q"))
      .orderBy("band", "ty", "tx")
  }

  private[rasterops] val trendDuckSql: String =
    s"""WITH c AS (
       |  SELECT band, ty, tx, pos,
       |         FLOOR((tsec - (SELECT MIN(tsec)
       |                  FROM read_parquet('$TrendCellsPath/*.parquet')))
       |           / 86400.0 + 0.5) AS t,
       |         value
       |  FROM read_parquet('$TrendCellsPath/*.parquet')),
       |px AS (
       |  -- NaN rows stay (CASE arms, not a WHERE): the engine emits a
       |  -- row per LOADED tile, so a tile with zero valid observations
       |  -- must still produce its all-zero summary row here
       |  SELECT band, ty, tx, pos,
       |         COUNT(CASE WHEN NOT isnan(value) THEN 1 END) AS n,
       |         SUM(CASE WHEN isnan(value) THEN 0 ELSE t END) AS st,
       |         SUM(CASE WHEN isnan(value) THEN 0 ELSE t * t END) AS stt,
       |         SUM(CASE WHEN isnan(value) THEN 0 ELSE value END) AS sv,
       |         SUM(CASE WHEN isnan(value) THEN 0 ELSE t * value END) AS stv
       |  FROM c GROUP BY band, ty, tx, pos),
       |f AS (
       |  SELECT band, ty, tx, pos, n,
       |         CASE WHEN n >= 2 AND n * stt - st * st <> 0
       |              THEN (n * stv - st * sv) / (n * stt - st * st)
       |              END AS slope,
       |         CASE WHEN n >= 2 AND n * stt - st * st <> 0
       |              THEN (sv - ((n * stv - st * sv) / (n * stt - st * st))
       |                    * st) / n
       |              END AS icept
       |  FROM px)
       |SELECT band, ty, tx,
       |       CAST(SUM(n) AS INT) AS n_obs,
       |       CAST(COUNT(slope) AS INT) AS n_fit,
       |       CAST(SUM(COALESCE(CAST(ROUND(slope * 1e6) AS BIGINT), 0))
       |            AS BIGINT) AS slope_q,
       |       CAST(SUM(COALESCE(CAST(ROUND(icept * 100) AS BIGINT), 0))
       |            AS BIGINT) AS icept_q
       |FROM f GROUP BY band, ty, tx
       |ORDER BY band, ty, tx""".stripMargin

  /** Per-pixel peak-of-season argmax (graft.load.Phenology — beyond
    * the reference): the same 7-scene holed fixture, each pixel's
    * maximum value + the day number of the FIRST observation attaining
    * it (ties to the earliest day, spelled identically in both
    * engines). The argmax is MERGEABLE — three fixed-size running
    * planes with map-side combine, the [[trend]] plan shape — while
    * DuckDB recomputes peak/day from the landed raw series with a
    * per-pixel window MAX + conditional MIN. Values and day numbers
    * are integers on this fixture, so the quantized per-tile checksum
    * pins value ordering, tie direction, and the zero-valid guard. */
  def phenology(spark: SparkSession): DataFrame = {
    val res = landGapSeries(spark, PhenologyCellsPath)
    val t0Sec = res.times.map(_.getTime / 1000L).min
    graft.load.Phenology.peakAcrossTime(spark, res.tiles, t0Sec)
      .select(col("band"), col("ty"), col("tx"),
        expr("aggregate(count, 0, (s, c) -> s + c)").as("n_obs"),
        expr("aggregate(day, 0, (s, d) -> s + if(d >= 0, 1, 0))")
          .as("n_peak"),
        planeSum("peak", 100).as("peak_q"),
        expr("aggregate(day, 0L, (s, d) -> s + " +
          "if(d < 0, 0L, CAST(d AS BIGINT)))").as("day_sum"))
      .orderBy("band", "ty", "tx")
  }

  private[rasterops] val phenologyDuckSql: String =
    s"""WITH c AS (
       |  SELECT band, ty, tx, pos,
       |         FLOOR((tsec - (SELECT MIN(tsec)
       |                  FROM read_parquet('$PhenologyCellsPath/*.parquet')))
       |           / 86400.0 + 0.5) AS t,
       |         value
       |  FROM read_parquet('$PhenologyCellsPath/*.parquet')),
       |w AS (
       |  SELECT band, ty, tx, pos, t, value,
       |         MAX(CASE WHEN isnan(value) THEN NULL ELSE value END)
       |           OVER (PARTITION BY band, ty, tx, pos) AS pk
       |  FROM c),
       |px AS (
       |  -- NaN rows stay (CASE arms, not a WHERE): the engine emits a
       |  -- row per LOADED tile, so a tile with zero valid observations
       |  -- must still produce its all-zero summary row here
       |  SELECT band, ty, tx, pos,
       |         COUNT(CASE WHEN NOT isnan(value) THEN 1 END) AS n,
       |         ANY_VALUE(pk) AS peak,
       |         MIN(CASE WHEN NOT isnan(value) AND value = pk
       |             THEN t END) AS day
       |  FROM w GROUP BY band, ty, tx, pos)
       |SELECT band, ty, tx,
       |       CAST(SUM(n) AS INT) AS n_obs,
       |       CAST(COUNT(day) AS INT) AS n_peak,
       |       CAST(SUM(COALESCE(CAST(ROUND(peak * 100) AS BIGINT), 0))
       |            AS BIGINT) AS peak_q,
       |       CAST(SUM(COALESCE(CAST(day AS BIGINT), 0))
       |            AS BIGINT) AS day_sum
       |FROM px GROUP BY band, ty, tx
       |ORDER BY band, ty, tx""".stripMargin

  /** Theil–Sen robust trend (graft.load.Trend.theilSenAcrossTime —
    * beyond the reference): same 7-scene holed fixture, per-pixel
    * MEDIAN of pairwise slopes + median-residual intercept — the
    * outlier-tolerant sibling of [[trend]]'s OLS, and the rechunk
    * family's counterpart to its mergeable shape (the median is not
    * mergeable; row-band slicing bounds task state in archive depth).
    * DuckDB re-derives every pairwise slope from the landed raw
    * series, takes `quantile_cont(0.5)` (the interpolation convention
    * the composite quantile already proved cross-engine exact), and
    * recomputes the residual median — slopes are integer ratios, so
    * the doubles agree bit-for-bit. */
  def trendRobust(spark: SparkSession): DataFrame = {
    landGapSeries(spark, TrendRobustCellsPath).trendRobust()
      .select(col("band"), col("ty"), col("tx"),
        expr("aggregate(count, 0, (s, c) -> s + c)").as("n_obs"),
        planeValid("slope").as("n_fit"),
        planeSum("slope", 1e6).as("slope_q"),
        planeSum("icept", 100).as("icept_q"))
      .orderBy("band", "ty", "tx")
  }

  private[rasterops] val trendRobustDuckSql: String =
    s"""WITH c AS (
       |  SELECT band, ty, tx, pos,
       |         FLOOR((tsec - (SELECT MIN(tsec)
       |              FROM read_parquet('$TrendRobustCellsPath/*.parquet')))
       |           / 86400.0 + 0.5) AS t,
       |         value
       |  FROM read_parquet('$TrendRobustCellsPath/*.parquet')),
       |v AS (SELECT * FROM c WHERE NOT isnan(value)),
       |pr AS (
       |  SELECT a.band, a.ty, a.tx, a.pos,
       |         (b.value - a.value) / (b.t - a.t) AS s
       |  FROM v a JOIN v b
       |    ON a.band = b.band AND a.ty = b.ty AND a.tx = b.tx
       |   AND a.pos = b.pos AND a.t < b.t),
       |sl AS (
       |  SELECT band, ty, tx, pos, quantile_cont(s, 0.5) AS slope
       |  FROM pr GROUP BY band, ty, tx, pos),
       |ic AS (
       |  SELECT v.band, v.ty, v.tx, v.pos, sl.slope,
       |         quantile_cont(v.value - sl.slope * v.t, 0.5) AS icept
       |  FROM v JOIN sl ON v.band = sl.band AND v.ty = sl.ty
       |    AND v.tx = sl.tx AND v.pos = sl.pos
       |  GROUP BY v.band, v.ty, v.tx, v.pos, sl.slope),
       |nv AS (
       |  SELECT band, ty, tx, pos,
       |         COUNT(CASE WHEN NOT isnan(value) THEN 1 END) AS n
       |  FROM c GROUP BY band, ty, tx, pos),
       |f AS (
       |  SELECT nv.band, nv.ty, nv.tx, nv.pos, nv.n, ic.slope, ic.icept
       |  FROM nv LEFT JOIN ic ON nv.band = ic.band AND nv.ty = ic.ty
       |    AND nv.tx = ic.tx AND nv.pos = ic.pos)
       |SELECT band, ty, tx,
       |       CAST(SUM(n) AS INT) AS n_obs,
       |       CAST(COUNT(slope) AS INT) AS n_fit,
       |       CAST(SUM(COALESCE(CAST(ROUND(slope * 1e6) AS BIGINT), 0))
       |            AS BIGINT) AS slope_q,
       |       CAST(SUM(COALESCE(CAST(ROUND(icept * 100) AS BIGINT), 0))
       |            AS BIGINT) AS icept_q
       |FROM f GROUP BY band, ty, tx
       |ORDER BY band, ty, tx""".stripMargin

  /** Per-pixel harmonic (seasonal) fit (graft.load.Harmonic — beyond
    * the reference): the same 7-scene holed fixture, each pixel fit
    * with `a + b·cos(ωt) + c·sin(ωt)` at an 8-day demo period (annual
    * at scale — the period is a parameter) through ONE mergeable
    * nine-sum aggregate, the [[trend]] plan shape with a 3×3 Cramer
    * finish. The basis is quantized to integer milli-units JVM-side
    * and LANDED as a (tsec → cq, sq) lookup ([[HarmonicBasisPath]]) so
    * DuckDB consumes the same integers instead of re-running libm
    * trig (last-ulp divergence would break the hash); every sum is
    * then exact integer arithmetic and the Cramer solve — spelled
    * token-for-token in both engines — matches bit-for-bit. The holed
    * scene leaves n=6 pixels whose basis sums differ from their
    * neighbours', so the checksum pins the per-pixel masking too. */
  def harmonic(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val res = landGapSeries(spark, HarmonicCellsPath)
    val t0Sec = res.times.map(_.getTime / 1000L).min
    val periodDays = 8.0
    val basis = res.times.map { t =>
      val tsec = t.getTime / 1000L
      val tDays = math.floor((tsec - t0Sec) / 86400.0 + 0.5)
      tsec -> graft.load.Harmonic.basisOf(tDays, periodDays)
    }.toMap
    basis.toSeq.map { case (ts, (c, s)) => (ts, c, s) }
      .toDF("tsec", "cq", "sq")
      .coalesce(1).write.mode("overwrite").parquet(HarmonicBasisPath)
    graft.load.Harmonic.harmonicAcrossTime(spark, res.tiles, basis)
      .select(col("band"), col("ty"), col("tx"),
        expr("aggregate(count, 0, (s, c) -> s + c)").as("n_obs"),
        planeValid("level").as("n_fit"),
        planeSum("level", 100).as("level_q"),
        planeSum("cosb", 1e6).as("cos_q"),
        planeSum("sinb", 1e6).as("sin_q"))
      .orderBy("band", "ty", "tx")
  }

  private[rasterops] val harmonicDuckSql: String =
    s"""WITH c AS (
       |  SELECT r.band, r.ty, r.tx, r.pos, r.value, b.cq, b.sq
       |  FROM read_parquet('$HarmonicCellsPath/*.parquet') r
       |  JOIN read_parquet('$HarmonicBasisPath/*.parquet') b
       |    ON r.tsec = b.tsec),
       |px AS (
       |  -- NaN rows stay (CASE arms, not a WHERE): a zero-valid tile
       |  -- must still emit its all-zero summary row
       |  SELECT band, ty, tx, pos,
       |         COUNT(CASE WHEN NOT isnan(value) THEN 1 END) AS n,
       |         CAST(SUM(CASE WHEN isnan(value) THEN 0 ELSE cq END)
       |              AS DOUBLE) AS sc,
       |         CAST(SUM(CASE WHEN isnan(value) THEN 0 ELSE sq END)
       |              AS DOUBLE) AS ss,
       |         CAST(SUM(CASE WHEN isnan(value) THEN 0 ELSE cq * cq END)
       |              AS DOUBLE) AS scc,
       |         CAST(SUM(CASE WHEN isnan(value) THEN 0 ELSE sq * sq END)
       |              AS DOUBLE) AS sss,
       |         CAST(SUM(CASE WHEN isnan(value) THEN 0 ELSE cq * sq END)
       |              AS DOUBLE) AS scs,
       |         CAST(SUM(CASE WHEN isnan(value) THEN 0 ELSE value END)
       |              AS DOUBLE) AS sv,
       |         CAST(SUM(CASE WHEN isnan(value) THEN 0
       |                       ELSE value * cq END) AS DOUBLE) AS svc,
       |         CAST(SUM(CASE WHEN isnan(value) THEN 0
       |                       ELSE value * sq END) AS DOUBLE) AS svs
       |  FROM c GROUP BY band, ty, tx, pos),
       |d AS (
       |  -- Cramer's rule, transcribed token-for-token from
       |  -- Harmonic.PixelHarmonic.finish
       |  SELECT *,
       |         n * (scc * sss - scs * scs) - sc * (sc * sss - scs * ss)
       |           + ss * (sc * scs - scc * ss) AS det
       |  FROM px),
       |f AS (
       |  SELECT band, ty, tx, pos, n,
       |         CASE WHEN n >= 3 AND det <> 0 THEN
       |           (sv * (scc * sss - scs * scs)
       |             - sc * (svc * sss - scs * svs)
       |             + ss * (svc * scs - scc * svs)) / det END AS level,
       |         CASE WHEN n >= 3 AND det <> 0 THEN
       |           (n * (svc * sss - scs * svs)
       |             - sv * (sc * sss - scs * ss)
       |             + ss * (sc * svs - svc * ss)) / det END AS cosb,
       |         CASE WHEN n >= 3 AND det <> 0 THEN
       |           (n * (scc * svs - svc * scs)
       |             - sc * (sc * svs - svc * ss)
       |             + sv * (sc * scs - scc * ss)) / det END AS sinb
       |  FROM d)
       |SELECT band, ty, tx,
       |       CAST(SUM(n) AS INT) AS n_obs,
       |       CAST(COUNT(level) AS INT) AS n_fit,
       |       CAST(SUM(COALESCE(CAST(ROUND(level * 100) AS BIGINT), 0))
       |            AS BIGINT) AS level_q,
       |       CAST(SUM(COALESCE(CAST(ROUND(cosb * 1e6) AS BIGINT), 0))
       |            AS BIGINT) AS cos_q,
       |       CAST(SUM(COALESCE(CAST(ROUND(sinb * 1e6) AS BIGINT), 0))
       |            AS BIGINT) AS sin_q
       |FROM f GROUP BY band, ty, tx
       |ORDER BY band, ty, tx""".stripMargin

  /** Per-observation anomaly scoring (graft.load.Anomaly — beyond the
    * reference): the same 7-scene holed fixture, each observation
    * z-scored against its own pixel's across-time mean/std (computed
    * by the mergeable (n, Σv, Σv²) aggregate; scoring is a co-keyed
    * stats-to-planes join + one-pass JVM kernel). The raw series lands
    * and DuckDB recomputes the identical `(v − Σv/n)/√(Σv²/n −
    * (Σv/n)²)` expression — integer sums make the doubles bit-exact.
    * The gap fixture's middle-scene hole gives those pixels n=6 and a
    * different mean, so the quantized z-sums are structure-sensitive. */
  def anomaly(spark: SparkSession): DataFrame = {
    val res = landGapSeries(spark, AnomalyCellsPath, withTsec = false)
    graft.load.Anomaly.scoreAcrossTime(spark, res.tiles)
      .select(col("band"), col("tIdx"), col("ty"), col("tx"),
        col("n_valid"),
        expr("aggregate(z, 0L, (s, x) -> s + " +
          "if(isnan(x), 0L, CAST(round(x * 1e4) AS BIGINT)))").as("z_q"),
        expr("aggregate(z, 0, (s, x) -> s + " +
          "if(NOT isnan(x) AND abs(x) > 1.5, 1, 0))").as("n_outlier"))
      .orderBy("band", "tIdx", "ty", "tx")
  }

  private[rasterops] val anomalyDuckSql: String =
    s"""WITH c AS (
       |  SELECT band, tidx, ty, tx, pos, value
       |  FROM read_parquet('$AnomalyCellsPath/*.parquet')),
       |st AS (
       |  SELECT band, ty, tx, pos,
       |         COUNT(CASE WHEN NOT isnan(value) THEN 1 END) AS n,
       |         SUM(CASE WHEN isnan(value) THEN 0 ELSE value END) AS sv,
       |         SUM(CASE WHEN isnan(value) THEN 0
       |                  ELSE value * value END) AS svv
       |  FROM c GROUP BY band, ty, tx, pos),
       |z AS (
       |  SELECT c.band, c.tidx, c.ty, c.tx,
       |         CASE
       |           WHEN isnan(c.value) OR st.n < ${graft.load.Anomaly.MinObs}
       |             OR st.svv / st.n - (st.sv / st.n) * (st.sv / st.n) <= 0
       |           THEN NULL
       |           ELSE (c.value - st.sv / st.n)
       |                / SQRT(st.svv / st.n - (st.sv / st.n) * (st.sv / st.n))
       |         END AS zv
       |  FROM c JOIN st ON c.band = st.band AND c.ty = st.ty
       |    AND c.tx = st.tx AND c.pos = st.pos)
       |SELECT band, tidx AS "tIdx", ty, tx,
       |       CAST(COUNT(zv) AS INT) AS n_valid,
       |       CAST(SUM(COALESCE(CAST(ROUND(zv * 1e4) AS BIGINT), 0))
       |            AS BIGINT) AS z_q,
       |       CAST(SUM(CASE WHEN zv IS NOT NULL AND ABS(zv) > 1.5
       |                THEN 1 ELSE 0 END) AS INT) AS n_outlier
       |FROM z GROUP BY band, tidx, ty, tx
       |ORDER BY band, "tIdx", ty, tx""".stripMargin

  /** NDVI band math (graft.load.BandMath — beyond the reference): the
    * fused red/nir mosaic planes combine per pixel as (nir−red)/
    * (nir+red) through a codegen'd `zip_with` (no UDF in the
    * arithmetic). DuckDB recomputes the index by JOINING the landed
    * red and nir planes (`CellsPath`) on pixel position — same single
    * IEEE division, so the ×1e6 quantization is bit-agreeing. */
  def bandMathNdvi(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    graft.load.BandMath
      .normalizedDifference(spark, res.tiles, "nir", "red", "ndvi")
      .select(col("band"), col("tIdx"), col("ty"), col("tx"), col("n_valid"),
        planeSum("values", 1e6).as("ndvi_q"))
      .orderBy("band", "tIdx", "ty", "tx")
  }

  private[rasterops] val bandMathNdviDuckSql: String =
    s"""WITH r AS (
       |  SELECT tidx, ty, tx, py, px, value
       |  FROM read_parquet('$CellsPath/*.parquet') WHERE band = 'red'),
       |n AS (
       |  SELECT tidx, ty, tx, py, px, value
       |  FROM read_parquet('$CellsPath/*.parquet') WHERE band = 'nir'),
       |j AS (
       |  SELECT r.tidx, r.ty, r.tx,
       |         CASE WHEN r.value <> 0 AND n.value <> 0
       |              THEN (n.value - r.value) / (n.value + r.value)
       |              END AS v
       |  FROM r JOIN n USING (tidx, ty, tx, py, px))
       |SELECT 'ndvi' AS band, tidx AS "tIdx", ty, tx,
       |       CAST(COUNT(v) AS BIGINT) AS n_valid,
       |       CAST(SUM(COALESCE(CAST(ROUND(v * 1e6) AS BIGINT), 0))
       |            AS BIGINT) AS ndvi_q
       |FROM j GROUP BY tidx, ty, tx
       |ORDER BY band, "tIdx", ty, tx""".stripMargin

  /** Focal 3×3 mean (graft.load.Focal — halo-exchange stencil): windows
    * crossing tile boundaries are the whole point, so the oracle must
    * not respect tiles: DuckDB recomputes every pixel's windowed mean
    * GLOBALLY from the landed mosaic plane (9 shifted copies of the
    * valid pixels, equi-joined back onto the full pixel domain), then
    * re-aggregates per tile. A wrong or missing halo strip shifts every
    * boundary pixel's mean and breaks the checksum. */
  def focalMean(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    graft.load.Focal.focalMean(spark, res.tiles, radius = 1)
      .select(col("band"), col("tIdx"), col("ty"), col("tx"), col("n_valid"),
        planeSum("focal", 100).as("focal_q"))
      .orderBy("band", "tIdx", "ty", "tx")
  }

  /** Same focal mean through [[graft.load.Focal.focalMeanStanding]] —
    * the strips-only exchange over a standing (pre-clustered) tile
    * layout. Shares [[focalMeanDuckSql]]: identical results are the
    * contract; `FocalSpec` pins the plan shape (one plane exchange —
    * the standing repartition itself — with the strip re-key the only
    * operator-added shuffle). */
  def focalMeanStanding(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    val standing = res.tiles.repartition(
      col("band"), col("tIdx"), col("ty"), col("tx"))
    graft.load.Focal.focalMeanStanding(spark, standing, radius = 1)
      .select(col("band"), col("tIdx"), col("ty"), col("tx"), col("n_valid"),
        planeSum("focal", 100).as("focal_q"))
      .orderBy("band", "tIdx", "ty", "tx")
  }

  private[rasterops] val focalMeanDuckSql: String =
    s"""WITH dom AS (
       |  SELECT band, tidx, ty, tx,
       |         ty * 64 + py AS gy, tx * 64 + px AS gx
       |  FROM read_parquet('$CellsPath/*.parquet')),
       |v AS (
       |  SELECT band, tidx, ty * 64 + py AS gy, tx * 64 + px AS gx, value
       |  FROM read_parquet('$CellsPath/*.parquet') WHERE value <> 0),
       |vs AS (
       |  SELECT band, tidx, gy + o.dy AS gy, gx + o.dx AS gx, value
       |  FROM v CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
       |                            (0,1),(1,-1),(1,0),(1,1)) o(dy, dx)),
       |f AS (
       |  SELECT d.band, d.tidx, d.ty, d.tx, d.gy, d.gx,
       |         AVG(s.value) AS fv, COUNT(s.value) AS c
       |  FROM dom d LEFT JOIN vs s
       |    ON s.band = d.band AND s.tidx = d.tidx
       |   AND s.gy = d.gy AND s.gx = d.gx
       |  GROUP BY d.band, d.tidx, d.ty, d.tx, d.gy, d.gx)
       |SELECT band, tidx AS "tIdx", ty, tx,
       |       CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_valid,
       |       CAST(SUM(CASE WHEN c > 0
       |                THEN CAST(ROUND(fv * 100) AS BIGINT) ELSE 0 END)
       |            AS BIGINT) AS focal_q
       |FROM f GROUP BY band, tidx, ty, tx
       |ORDER BY band, "tIdx", ty, tx""".stripMargin

  /** Horn terrain gradients (graft.load.Focal.horn — beyond the
    * reference): per-pixel 8-neighbor weighted differences gx/gy plus
    * the gradient magnitude, NaN wherever the 3×3 window is incomplete
    * (nodata hole or mosaic edge). Same halo-exchange plan as
    * [[focalMean]] and deliberately the same landed mosaic plane, so
    * the oracle recomputes GLOBALLY (9 tap-shifted joins with Horn
    * weights, complete-window = all 9 taps present) — a wrong or
    * missing halo strip shifts boundary gradients and breaks the
    * checksum. Integer pixel values make the weighted sums order-exact;
    * /8 and √ are IEEE-identical in both engines. */
  def terrain(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    graft.load.Focal.horn(spark, res.tiles)
      .select(col("band"), col("tIdx"), col("ty"), col("tx"), col("n_valid"),
        planeSum("gx", 1000).as("gx_q"), planeSum("gy", 1000).as("gy_q"),
        planeSum("mag", 1000).as("mag_q"))
      .orderBy("band", "tIdx", "ty", "tx")
  }

  private[rasterops] val terrainDuckSql: String =
    s"""WITH dom AS (
       |  SELECT band, tidx, ty, tx,
       |         ty * 64 + py AS gy, tx * 64 + px AS gx
       |  FROM read_parquet('$CellsPath/*.parquet')),
       |v AS (
       |  SELECT band, tidx, ty * 64 + py AS gy, tx * 64 + px AS gx, value
       |  FROM read_parquet('$CellsPath/*.parquet') WHERE value <> 0),
       |-- tap offsets with Horn weights: wx = dx·(2 if dy=0 else 1),
       |-- wy = dy·(2 if dx=0 else 1); +y points down rows
       |f AS (
       |  SELECT d.band, d.tidx, d.ty, d.tx, d.gy, d.gx,
       |         SUM(s.value * o.wx) AS gxn,
       |         SUM(s.value * o.wy) AS gyn,
       |         COUNT(s.value) AS c
       |  FROM dom d
       |  CROSS JOIN (VALUES (-1,-1,-1,-1),(-1,0,0,-2),(-1,1,1,-1),
       |                     (0,-1,-2,0),(0,0,0,0),(0,1,2,0),
       |                     (1,-1,-1,1),(1,0,0,2),(1,1,1,1)) o(dy,dx,wx,wy)
       |  LEFT JOIN v s
       |    ON s.band = d.band AND s.tidx = d.tidx
       |   AND s.gy = d.gy + o.dy AND s.gx = d.gx + o.dx
       |  GROUP BY d.band, d.tidx, d.ty, d.tx, d.gy, d.gx),
       |g AS (
       |  SELECT band, tidx, ty, tx,
       |         CASE WHEN c = 9 THEN gxn / 8.0 END AS gxv,
       |         CASE WHEN c = 9 THEN gyn / 8.0 END AS gyv
       |  FROM f)
       |SELECT band, tidx AS "tIdx", ty, tx,
       |       CAST(SUM(CASE WHEN gxv IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_valid,
       |       CAST(SUM(COALESCE(CAST(ROUND(gxv * 1000) AS BIGINT), 0))
       |            AS BIGINT) AS gx_q,
       |       CAST(SUM(COALESCE(CAST(ROUND(gyv * 1000) AS BIGINT), 0))
       |            AS BIGINT) AS gy_q,
       |       CAST(SUM(COALESCE(CAST(ROUND(
       |              sqrt(gxv * gxv + gyv * gyv) * 1000) AS BIGINT), 0))
       |            AS BIGINT) AS mag_q
       |FROM g GROUP BY band, tidx, ty, tx
       |ORDER BY band, "tIdx", ty, tx""".stripMargin

  /** Hillshade (beyond the reference) — the Lambertian illumination
    * product every terrain pipeline renders next to slope/aspect:
    * shade = 255·max(0, n̂·L) where n = (−gx, −gy, 1) is the Horn
    * surface normal and L the light vector. L is pinned as DOUBLE
    * LITERALS (the azimuth-315°/altitude-45° convention with row-down
    * +gy: lx = −0.5, ly = 0.5, lz = 0.7071067811865476) rather than
    * computed with sin/cos at runtime — libm and the JDK disagree in
    * the last ULP on transcendentals, so a trig spelling could not be
    * hash-checked cross-engine; the dot-product identity needs only
    * +,·,/ and sqrt, all IEEE-exact. Same halo-exchange plan and landed
    * mosaic plane as [[terrain]]; the oracle recomputes globally from
    * the 9 tap-shifted joins, so halo correctness is again load-bearing. */
  def hillshade(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    graft.load.Focal.horn(spark, res.tiles)
      .select(col("band"), col("tIdx"), col("ty"), col("tx"), col("n_valid"),
        expr(hillshadeAggExpr).as("shade_q"))
      .orderBy("band", "tIdx", "ty", "tx")
  }

  /** shade(a=gx, b=gy) = 255·max(0, (lz − a·lx − b·ly)/|n|)
    *                   = 255·max(0, (0.7071… + 0.5a − 0.5b)/√(a²+b²+1));
    * NaN gradients (incomplete windows) contribute nothing. */
  private[graft] val hillshadeAggExpr: String =
    "aggregate(zip_with(gx, gy, (a, b) -> " +
      "255.0 * GREATEST((0.7071067811865476 + 0.5 * a - 0.5 * b) " +
      "/ SQRT(a * a + b * b + 1.0), 0.0)), 0L, (s, v) -> s + " +
      "if(isnan(v), 0L, CAST(round(v) AS BIGINT)))"

  private[rasterops] val hillshadeDuckSql: String =
    s"""WITH dom AS (
       |  SELECT band, tidx, ty, tx,
       |         ty * 64 + py AS gy, tx * 64 + px AS gx
       |  FROM read_parquet('$CellsPath/*.parquet')),
       |v AS (
       |  SELECT band, tidx, ty * 64 + py AS gy, tx * 64 + px AS gx, value
       |  FROM read_parquet('$CellsPath/*.parquet') WHERE value <> 0),
       |f AS (
       |  SELECT d.band, d.tidx, d.ty, d.tx, d.gy, d.gx,
       |         SUM(s.value * o.wx) AS gxn,
       |         SUM(s.value * o.wy) AS gyn,
       |         COUNT(s.value) AS c
       |  FROM dom d
       |  CROSS JOIN (VALUES (-1,-1,-1,-1),(-1,0,0,-2),(-1,1,1,-1),
       |                     (0,-1,-2,0),(0,0,0,0),(0,1,2,0),
       |                     (1,-1,-1,1),(1,0,0,2),(1,1,1,1)) o(dy,dx,wx,wy)
       |  LEFT JOIN v s
       |    ON s.band = d.band AND s.tidx = d.tidx
       |   AND s.gy = d.gy + o.dy AND s.gx = d.gx + o.dx
       |  GROUP BY d.band, d.tidx, d.ty, d.tx, d.gy, d.gx),
       |g AS (
       |  SELECT band, tidx, ty, tx,
       |         CASE WHEN c = 9 THEN gxn / 8.0 END AS a,
       |         CASE WHEN c = 9 THEN gyn / 8.0 END AS b
       |  FROM f)
       |SELECT band, tidx AS "tIdx", ty, tx,
       |       CAST(SUM(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_valid,
       |       CAST(SUM(COALESCE(CAST(ROUND(
       |              255.0 * GREATEST((0.7071067811865476 + 0.5 * a
       |                - 0.5 * b) / SQRT(a * a + b * b + 1.0), 0.0))
       |              AS BIGINT), 0)) AS BIGINT) AS shade_q
       |FROM g GROUP BY band, tidx, ty, tx
       |ORDER BY band, "tIdx", ty, tx""".stripMargin

  /** Unsupervised pixel classification (k-means over spectral
    * signatures — beyond the reference): every valid (red, nir)
    * observation becomes an integer feature vector and the SAME
    * distributed Lloyd's engine that trains embed_kmeans clusters them
    * (k=4; modular-spread init because raster ids are spatially
    * structured — the lowest gids are near-identical neighbors). The
    * features LAND ([[RasterClusterPath]]) and DuckDB re-runs the full
    * unrolled training + scoring, so the hash pins init order, argmin
    * ties, centroid rounding, and the empty-cluster rule end-to-end on
    * a second feature domain. Scale shape is unchanged from
    * embed_kmeans: broadcast centroids, one k×(d+1) partial-sum
    * shuffle per iteration. */
  def rasterCluster(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    val planes = res.tiles.select(col("band"), col("tIdx"), col("ty"),
      col("tx"), Fuse.decodeUdf(col("data"), col("dtype")).as("px"), col("nodata"))
    val red = planes.where(col("band") === "red")
      .select(col("tIdx"), col("ty"), col("tx"),
        col("px").as("rp"), col("nodata").as("rnd"))
    val nir = planes.where(col("band") === "nir")
      .select(col("tIdx"), col("ty"), col("tx"),
        col("px").as("np"), col("nodata").as("nnd"))
    red.join(nir, Seq("tIdx", "ty", "tx"))
      .select(col("tIdx"), col("ty"), col("tx"), col("rnd"), col("nnd"),
        posexplode(arrays_zip(col("rp"), col("np"))))
      .select(col("tIdx"), col("ty"), col("tx"), col("pos"),
        col("col.rp").as("r"), col("col.np").as("n"),
        col("rnd"), col("nnd"))
      .where(!isnan(col("r")) && col("r") =!= col("rnd") &&
        !isnan(col("n")) && col("n") =!= col("nnd"))
      .select(
        (((col("tIdx").cast("long") * 16 + col("ty")) * 16 + col("tx"))
          * 4096 + col("pos")).as("vec_id"),
        array(expr("CAST(ROUND(r) AS BIGINT)"),
          expr("CAST(ROUND(n) AS BIGINT)")).as("v"))
      .write.mode("overwrite").parquet(RasterClusterPath)
    val q = spark.read.parquet(RasterClusterPath)
      .select("vec_id", "v").as[(Long, Array[Long])]
    graft.similarity.Kmeans.clusterStats(spark, q, k = 4, initMod = 9973L)
  }

  private[rasterops] def rasterClusterDuckSql: String =
    graft.similarity.Kmeans.clusterStatsDuckSql(
      s"SELECT vec_id, v FROM read_parquet('$RasterClusterPath/*.parquet')",
      k = 4, initMod = 9973L)

  /** Point drill (graft.load.Drill — beyond the reference): sample the
    * fused mosaic at world-coordinate points. The fixture points tell
    * three stories — a plainly valid pixel, a pixel valid on one solar
    * day and fused-nodata on the other (the drill returns NaN, not a
    * dropped row), and a point outside every tile (no rows at all).
    * DuckDB re-samples the landed mosaic plane at the same global pixel
    * coords (floor((x−x0)/res) on both sides). */
  def drillPoints(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    val points = Seq(
      ("p_valid", 500234.7, 7999812.3),   // gx 23, gy 18 — valid day 0
      ("p_margin", 501700.0, 7999500.0),  // gx 170 — day-0 fused nodata,
                                          // day-1 scene2 value
      ("p_edge", 501507.2, 7999045.8),    // gy 95 — last row of the grid
      ("p_outside", 499000.0, 7999500.0)) // west of every scene: no rows
    graft.load.Drill.drill(spark, res.tiles, res.geobox, points)
      .orderBy("point_id", "band", "tIdx")
  }

  private[rasterops] val drillPointsDuckSql: String =
    s"""WITH pts(pid, gx, gy) AS (
       |  VALUES ('p_valid', 23, 18), ('p_margin', 170, 50),
       |         ('p_edge', 150, 95)),
       |c AS (SELECT * FROM read_parquet('$CellsPath/*.parquet'))
       |SELECT p.pid AS point_id, c.band, c.tidx AS "tIdx",
       |       CASE WHEN c.value <> 0 THEN c.value
       |            ELSE CAST('NaN' AS DOUBLE) END AS value
       |FROM pts p JOIN c
       |  ON c.ty = p.gy // 64 AND c.tx = p.gx // 64
       | AND c.py = p.gy % 64 AND c.px = p.gx % 64
       |ORDER BY point_id, band, "tIdx"""".stripMargin

  /** ML chip extraction ([[graft.load.Chips]]): 16×16 training patches
    * cut from the standing solar-day mosaic around three anchor
    * corners — one interior, one straddling a 4-tile corner (its
    * fragments assemble from four tasks), one clipped at the raster
    * edge (NaN padding). The oracle rebuilds every chip from the
    * landed mosaic pixels with a POSITION-WEIGHTED quantized checksum
    * (each pixel weighted by 1 + its chip-local index), so a fragment
    * placed one pixel off — not just a wrong value — breaks the hash. */
  def chipsQuery(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    val points = Seq(
      ("c_mid", 30, 40),    // interior of tile (0, 0)
      ("c_seam", 50, 120),  // rows 50..65 × cols 120..135: 4-tile corner
      ("c_edge", 88, 310))  // clipped at the 96-row / 320-col grid edge
    graft.load.Chips.chips(spark, res.tiles, points, size = 16,
      combos = for {
        b <- Seq("red", "nir")
        t <- res.times.indices
      } yield (b, t))
      .select(col("point_id"), col("band"), col("tIdx"),
        col("n_valid").cast("long").as("n_valid"),
        expr("aggregate(zip_with(chip, sequence(1, 256), (v, i) -> " +
          "if(isnan(v), 0L, CAST(i AS BIGINT) * " +
          "CAST(round(v * 100) AS BIGINT))), 0L, (a, b) -> a + b)")
          .as("chip_q"))
      .orderBy("point_id", "band", "tIdx")
  }

  private[rasterops] val chipsDuckSql: String =
    s"""WITH pts AS (
       |  SELECT pid, gy0, gx0
       |  FROM (VALUES ('c_mid', 30, 40), ('c_seam', 50, 120),
       |               ('c_edge', 88, 310)) v(pid, gy0, gx0)),
       |-- ALL landed cells, nodata included: a chip whose covered
       |-- pixels are all nodata is still a chip (all-NaN patch) —
       |-- validity is computed inside. EVERY (point × band × tIdx)
       |-- combination emits a row; a chip overlapping no landed tile
       |-- at all is the all-NaN patch with zero stats (the engine's
       |-- no-silent-loss contract).
       |px AS (
       |  SELECT band, tidx, ty * 64 + py AS gy, tx * 64 + px AS gx, value
       |  FROM read_parquet('$CellsPath/*.parquet')),
       |combos AS (
       |  SELECT p.pid, b.band, b.tidx
       |  FROM pts p CROSS JOIN (SELECT DISTINCT band, tidx FROM px) b),
       |hit AS (
       |  -- valid = NOT isnan AND <> nodata(0): the isnan guard keeps a
       |  -- NaN cell from counting as valid (DuckDB NaN <> 0 is true)
       |  -- and from hard-erroring the BIGINT cast
       |  SELECT p.pid, x.band, x.tidx,
       |         CAST(SUM(CASE WHEN NOT isnan(x.value) AND x.value <> 0
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       |         CAST(SUM(CASE WHEN NOT isnan(x.value) AND x.value <> 0
       |                  THEN (1 + (x.gy - p.gy0) * 16 + (x.gx - p.gx0)) *
       |                       CAST(ROUND(x.value * 100) AS BIGINT)
       |                  ELSE 0 END) AS BIGINT) AS chip_q
       |  FROM pts p JOIN px x
       |    ON x.gy >= p.gy0 AND x.gy < p.gy0 + 16
       |   AND x.gx >= p.gx0 AND x.gx < p.gx0 + 16
       |  GROUP BY p.pid, x.band, x.tidx)
       |SELECT c.pid AS point_id, c.band, c.tidx AS "tIdx",
       |       COALESCE(h.n_valid, 0) AS n_valid,
       |       COALESCE(h.chip_q, 0) AS chip_q
       |FROM combos c
       |LEFT JOIN hit h
       |  ON h.pid = c.pid AND h.band = c.band AND h.tidx = c.tidx
       |ORDER BY point_id, c.band, "tIdx"""".stripMargin


  /** Change detection day 0 → day 1 (BandMath.changeAcrossTime): the
    * overlap columns of the marching scenes are the ground both days
    * saw; every such pixel steps by exactly the fixture's inter-scene
    * offset, which the checksum verifies. DuckDB recomputes the change
    * plane by joining the landed mosaic's two time slices per pixel. */
  def changeDetect(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    graft.load.BandMath.changeAcrossTime(spark, res.tiles, 0, 1)()
      .select(col("band"), col("ty"), col("tx"), col("n_both"),
        planeSum("change", 100).as("diff_q"),
        expr("aggregate(change, 0L, (s, v) -> s + " +
          "if(isnan(v) OR v = 0D, 0L, 1L))").as("n_changed"))
      .orderBy("band", "ty", "tx")
  }

  private[rasterops] val changeDetectDuckSql: String =
    s"""WITH a AS (
       |  SELECT band, ty, tx, py, px, value
       |  FROM read_parquet('$CellsPath/*.parquet')
       |  WHERE tidx = 0 AND value <> 0),
       |b AS (
       |  SELECT band, ty, tx, py, px, value
       |  FROM read_parquet('$CellsPath/*.parquet')
       |  WHERE tidx = 1 AND value <> 0),
       |j AS (
       |  SELECT a.band, a.ty, a.tx, b.value - a.value AS d
       |  FROM a JOIN b USING (band, ty, tx, py, px))
       |SELECT band, ty, tx, CAST(COUNT(*) AS BIGINT) AS n_both,
       |       CAST(SUM(CAST(ROUND(d * 100) AS BIGINT)) AS BIGINT)
       |         AS diff_q,
       |       CAST(SUM(CASE WHEN d <> 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_changed
       |FROM j GROUP BY band, ty, tx
       |ORDER BY band, ty, tx""".stripMargin

  /** Distributed pyramid build (graft.load.Pyramid — beyond the
    * reference, which consumes overviews but delegates building them to
    * gdaladdo): levels 2 and 4 of the fused mosaic, decimated locally
    * per base tile and assembled on the level grid in one shuffle.
    * DuckDB recomputes both levels from the landed base plane via the
    * decimation identity (level-s pixel = base(s·gy, s·gx)) — the same
    * identity `raster_overview_cells` pins on the READ side, now
    * re-proven for the build side. */
  def pyramidBuild(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    Seq(2, 4).map { s =>
      graft.load.Pyramid.buildLevel(spark, res.tiles, s)
        .withColumn("level", lit(s))
    }.reduce(_ unionAll _)
      .select(col("level"), col("band"), col("tIdx"), col("ty"), col("tx"),
        col("n_valid"), planeSum("plane", 100).as("sum_q"))
      .orderBy("level", "band", "tIdx", "ty", "tx")
  }

  private[rasterops] val pyramidBuildDuckSql: String =
    s"""WITH base AS (
       |  SELECT band, tidx, ty * 64 + py AS gy, tx * 64 + px AS gx, value
       |  FROM read_parquet('$CellsPath/*.parquet')),
       |lv AS (
       |  SELECT l.s, b.band, b.tidx,
       |         (b.gy // l.s) // 64 AS ty, (b.gx // l.s) // 64 AS tx,
       |         b.value
       |  FROM base b JOIN (VALUES (2), (4)) l(s)
       |    ON b.gy % l.s = 0 AND b.gx % l.s = 0)
       |SELECT s AS level, band, tidx AS "tIdx", ty, tx,
       |       CAST(SUM(CASE WHEN value <> 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_valid,
       |       CAST(SUM(CASE WHEN value <> 0
       |                THEN CAST(ROUND(value * 100) AS BIGINT)
       |                ELSE 0 END) AS BIGINT) AS sum_q
       |FROM lv GROUP BY s, band, tidx, ty, tx
       |ORDER BY level, band, "tIdx", ty, tx""".stripMargin
  def maskedComposite(spark: SparkSession): DataFrame = {
    val jsons = Fixtures.writeScenesQa(3)
    val (items, schemas) = parsedOf(jsons)
    val res = Load.load(spark, items, schemas, bands = Seq("red", "qa"),
      groupby = "id", chunks = 64)
    cells(res.tiles, tileKeys, masked = true)
      .write.mode("overwrite").parquet(MaskCellsPath)
    res.maskedMedianComposite("red", "qa", _ == 1.0)
      .select(col("band"), col("ty"), col("tx"),
        planeSum("median", 100).as("med_q"),
        expr("CAST(aggregate(count, 0, (s, v) -> s + v) AS BIGINT)")
          .as("n_used"))
      .orderBy("band", "ty", "tx")
  }

  private[rasterops] val maskedCompositeDuckSql: String =
    s"""WITH r AS (
       |  SELECT tidx, ty, tx, py, px, value
       |  FROM read_parquet('$MaskCellsPath/*.parquet')
       |  WHERE band = 'red' AND NOT isnan(value)),
       |q AS (
       |  -- NaN (mask nodata) rows KEPT: NaN = 1 is false, so a nodata
       |  -- mask pixel masks OUT (matches the operator); only a truly
       |  -- ABSENT mask plane falls to the COALESCE keep-branch
       |  SELECT tidx, ty, tx, py, px, value AS qa
       |  FROM read_parquet('$MaskCellsPath/*.parquet')
       |  WHERE band = 'qa'),
       |clear AS (
       |  SELECT r.* FROM r
       |  LEFT JOIN q USING (tidx, ty, tx, py, px)
       |  WHERE COALESCE(q.qa = 1, TRUE)),
       |m AS (
       |  SELECT ty, tx, py, px, median(value) AS med, COUNT(*) AS c
       |  FROM clear GROUP BY ty, tx, py, px)
       |SELECT 'red' AS band, ty, tx,
       |       CAST(SUM(CAST(ROUND(med * 100) AS BIGINT)) AS BIGINT)
       |         AS med_q,
       |       CAST(SUM(c) AS BIGINT) AS n_used
       |FROM m GROUP BY ty, tx
       |ORDER BY band, ty, tx""".stripMargin

  /** Per-band/day equi-width histogram of the fused mosaic (the
    * `gdalinfo -hist` analog, distributed): a purely declarative plan —
    * decode+posexplode is narrow, and the groupBy's hash aggregate
    * computes map-side partials, so the shuffle carries only
    * (band × time × 16 bins) partial counts, never pixels. DuckDB
    * re-bins the landed plane with the same floor arithmetic. */
  def histogram(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    cells(res.tiles, Seq(col("band"), col("tIdx")), masked = true)
      .where(!isnan(col("value")))
      .select(col("band"), col("tIdx"),
        least(lit(15), floor(col("value") / 2000).cast("int")).as("bin"))
      .groupBy("band", "tIdx", "bin")
      .agg(count(lit(1)).as("n"))
      .orderBy("band", "tIdx", "bin")
  }

  private[rasterops] val histogramDuckSql: String =
    s"""SELECT band, tidx AS "tIdx",
       |       CAST(LEAST(15, CAST(FLOOR(value / 2000) AS INT)) AS INT)
       |         AS bin,
       |       COUNT(*) AS n
       |FROM read_parquet('$CellsPath/*.parquet')
       |WHERE value <> 0
       |GROUP BY band, tidx, bin
       |ORDER BY band, "tIdx", bin""".stripMargin
  private[rasterops] def demoZones(crs: graft.geo.Crs): Seq[(Int, Geom)] = Seq(
    1 -> Geom(IndexedSeq(
      (500200.0, 7999600.0), (500800.0, 7999600.0),
      (500800.0, 7999900.0), (500200.0, 7999900.0)), crs),
    2 -> Geom(IndexedSeq(
      (501000.0, 7999950.0), (502000.0, 7999950.0),
      (501500.0, 7999200.0)), crs),
    3 -> Geom(IndexedSeq(graft.geo.Poly(
      IndexedSeq((502000.0, 7999200.0), (502800.0, 7999200.0),
        (502800.0, 7999800.0), (502000.0, 7999800.0)),
      IndexedSeq(IndexedSeq((502300.0, 7999400.0), (502500.0, 7999400.0),
        (502500.0, 7999600.0), (502300.0, 7999600.0))))), crs),
    4 -> Geom(IndexedSeq(
      (501300.0, 7999500.0), (501600.0, 7999500.0),
      (501600.0, 7999700.0), (501300.0, 7999700.0)), crs))

  def rasterizeZones(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val (items, schemas) = parsed()
    val gbox = Planner.outputGeobox(items, schemas).get
    val zones = demoZones(gbox.crs)
    zones.zipWithIndex.flatMap { case ((zid, g), zidx) =>
      g.parts.flatMap(_.rings).flatMap { r =>
        r.indices.map { i =>
          val (x1, y1) = r(i)
          val (x2, y2) = r((i + 1) % r.length)
          (zidx, zid, x1, y1, x2, y2)
        }
      }
    }.toDF("zidx", "zone", "x1", "y1", "x2", "y2")
      .coalesce(1).write.mode("overwrite").parquet(RasterizeEdgesPath)
    graft.load.Rasterize.burn(spark, gbox, 64, zones)
      .select(col("ty"), col("tx"), posexplode(col("plane")))
      .where(col("col") =!= 0)
      .groupBy(col("ty"), col("tx"), col("col").as("zone"))
      .agg(count(lit(1)).as("n_px"))
      .orderBy("ty", "tx", "zone")
  }

  private[rasterops] val rasterizeDuckSql: String =
    s"""WITH px AS (
       |  SELECT r1.range AS gy, r2.range AS gx,
       |         500000 + (r2.range + 0.5) * 10 AS cx,
       |         8000000 - (r1.range + 0.5) * 10 AS cy
       |  FROM range(96) r1 CROSS JOIN range(320) r2),
       |e AS (
       |  SELECT zidx, zone, x1, y1, x2, y2
       |  FROM read_parquet('$RasterizeEdgesPath/*.parquet')),
       |hit AS (
       |  SELECT p.gy, p.gx, e.zidx, e.zone,
       |         SUM(CASE WHEN (e.y1 > p.cy) <> (e.y2 > p.cy)
       |                   AND p.cx < (e.x2 - e.x1) * (p.cy - e.y1)
       |                              / (e.y2 - e.y1) + e.x1
       |              THEN 1 ELSE 0 END) AS cr
       |  FROM px p CROSS JOIN e
       |  GROUP BY p.gy, p.gx, e.zidx, e.zone),
       |painted AS (
       |  SELECT gy, gx, arg_max(zone, zidx) AS zone
       |  FROM hit WHERE cr % 2 = 1 GROUP BY gy, gx)
       |SELECT CAST(gy // 64 AS INT) AS ty, CAST(gx // 64 AS INT) AS tx,
       |       CAST(zone AS INT) AS zone, COUNT(*) AS n_px
       |FROM painted GROUP BY ty, tx, zone
       |ORDER BY ty, tx, zone""".stripMargin

  /** The training-data loop closed end to end (beyond the reference):
    * rasterize the label zones → stratified deterministic sample of 20
    * locations per class (`Sampling.stratifiedLocations` — portable
    * md5(gy,gx) key, map-side hash-threshold prefilter, bounded exact
    * rank) → drill the mosaic at those locations. DuckDB replays every
    * stage: the ray-cast paint, the same md5 ranking, and the pixel
    * lookup against the landed mosaic plane — a divergence anywhere in
    * the chain (mask, sample set, OR values) reddens the row. */
  def sampleDrill(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    val gbox = res.geobox
    val labels = graft.load.Rasterize.burn(spark, gbox, 64,
      demoZones(gbox.crs))
    // ≤ 4 classes × 20 rows — a constant-bounded collect by construction
    val locs = graft.load.Sampling.stratifiedLocations(spark, labels, 20)
      .collect()
    val t = gbox.transform
    val points = locs.toSeq.map { r =>
      val (zone, gy, gx) = (r.getInt(0), r.getInt(1), r.getInt(2))
      val (wx, wy) = t(gx + 0.5, gy + 0.5)
      (s"z${zone}_${gy}_$gx", wx, wy)
    }
    graft.load.Drill.drill(spark, res.tiles, gbox, points)
      .orderBy("point_id", "band", "tIdx")
  }

  private[rasterops] val sampleDrillDuckSql: String =
    s"""WITH px AS (
       |  SELECT r1.range AS gy, r2.range AS gx,
       |         500000 + (r2.range + 0.5) * 10 AS cx,
       |         8000000 - (r1.range + 0.5) * 10 AS cy
       |  FROM range(96) r1 CROSS JOIN range(320) r2),
       |e AS (
       |  SELECT zidx, zone, x1, y1, x2, y2
       |  FROM read_parquet('$RasterizeEdgesPath/*.parquet')),
       |hit AS (
       |  SELECT p.gy, p.gx, e.zidx, e.zone,
       |         SUM(CASE WHEN (e.y1 > p.cy) <> (e.y2 > p.cy)
       |                   AND p.cx < (e.x2 - e.x1) * (p.cy - e.y1)
       |                              / (e.y2 - e.y1) + e.x1
       |              THEN 1 ELSE 0 END) AS cr
       |  FROM px p CROSS JOIN e
       |  GROUP BY p.gy, p.gx, e.zidx, e.zone),
       |painted AS (
       |  SELECT gy, gx, arg_max(zone, zidx) AS zone
       |  FROM hit WHERE cr % 2 = 1 GROUP BY gy, gx),
       |keyed AS (
       |  SELECT zone, gy, gx, md5(gy || ',' || gx) AS key
       |  FROM painted
       |  WHERE substr(md5(gy || ',' || gx), 1, 1) IN ('0','1','2','3')),
       |pts AS (
       |  SELECT zone, gy, gx FROM (
       |    SELECT zone, gy, gx,
       |           row_number() OVER (PARTITION BY zone ORDER BY key) AS rn
       |    FROM keyed) WHERE rn <= 20),
       |c AS (
       |  SELECT band, tidx, ty * 64 + py AS gy, tx * 64 + px AS gx, value
       |  FROM read_parquet('$CellsPath/*.parquet'))
       |SELECT 'z' || p.zone || '_' || p.gy || '_' || p.gx AS point_id,
       |       c.band, c.tidx AS "tIdx",
       |       CASE WHEN c.value <> 0 THEN c.value
       |            ELSE CAST('NaN' AS DOUBLE) END AS value
       |FROM pts p JOIN c ON c.gy = p.gy AND c.gx = p.gx
       |ORDER BY point_id, band, "tIdx"""".stripMargin

  /** Bilinear point drill (Drill.drillBilinear): sub-pixel sampling at
    * world points. Three stories — a plainly interior point, a point
    * whose 2×2 tap window STRADDLES a tile boundary (the cross-tile
    * reassembly: each tile ships only the weighted taps it owns), and
    * a point whose taps are all fused-nodata on day 0 (no row) but
    * valid on day 1. DuckDB recomputes the same 4-tap weighted sum
    * from the landed mosaic plane with the same floor/fraction
    * arithmetic. */
  def drillBilinearPoints(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    val points = Seq(
      ("b_valid", 500234.7, 7999812.3), // px 23.47, py 18.77 — interior
      ("b_seam", 500642.0, 7999500.0),  // px 64.2 — taps straddle tx 0/1
      ("b_nodata", 501704.0, 7999500.0), // px 170.4 — day-0 margin
      // pixel-center gridline (fx = 0): the dx=1 taps carry weight 0 and
      // are dropped, so only 2 taps are expected — exercises the
      // dropped-tap convention both engines must share
      ("b_gridline", 500235.0, 7999812.3))
    // the operator returns the exact interpolant; quantization to the
    // oracle's 2-dp convention is this harness's concern, not the API's
    graft.load.Drill.drillBilinear(spark, res.tiles, res.geobox, points)
      .withColumn("value", round(col("value"), 2))
      .orderBy("point_id", "band", "tIdx")
  }

  private[rasterops] val drillBilinearDuckSql: String =
    s"""WITH pts AS (
       |  SELECT pid, (x - 500000) / 10 AS pxf, (8000000 - y) / 10 AS pyf
       |  FROM (VALUES ('b_valid', 500234.7, 7999812.3),
       |               ('b_seam', 500642.0, 7999500.0),
       |               ('b_nodata', 501704.0, 7999500.0),
       |               ('b_gridline', 500235.0, 7999812.3)) v(pid, x, y)),
       |g AS (
       |  SELECT pid, CAST(FLOOR(pxf - 0.5) AS INT) AS x0,
       |         CAST(FLOOR(pyf - 0.5) AS INT) AS y0,
       |         pxf - 0.5 - FLOOR(pxf - 0.5) AS fx,
       |         pyf - 0.5 - FLOOR(pyf - 0.5) AS fy
       |  FROM pts),
       |taps0 AS (
       |  SELECT g.pid, g.x0 + o.dx AS gx, g.y0 + o.dy AS gy,
       |         (CASE o.dx WHEN 0 THEN 1 - g.fx ELSE g.fx END) *
       |         (CASE o.dy WHEN 0 THEN 1 - g.fy ELSE g.fy END) AS w
       |  FROM g CROSS JOIN (VALUES (0, 0), (1, 0), (0, 1), (1, 1))
       |                      o(dx, dy)),
       |-- zero-weight taps are DROPPED and the per-point expected tap
       |-- count replaces the hard-coded 4 — the engine's convention
       |-- (Drill.drillBilinear filters w = 0 before counting), so a
       |-- point on a pixel-center gridline whose zero-weight tap is
       |-- nodata agrees between the two engines
       |taps AS (SELECT * FROM taps0 WHERE w <> 0),
       |texp AS (SELECT pid, COUNT(*) AS nexp FROM taps GROUP BY pid),
       |c AS (
       |  SELECT band, tidx, ty * 64 + py AS gy, tx * 64 + px AS gx, value
       |  FROM read_parquet('$CellsPath/*.parquet') WHERE value <> 0)
       |SELECT t.pid AS point_id, c.band, c.tidx AS "tIdx",
       |       CASE WHEN COUNT(*) = MAX(e.nexp)
       |            THEN ROUND(SUM(t.w * c.value), 2)
       |            ELSE CAST('NaN' AS DOUBLE) END AS value
       |FROM taps t
       |JOIN texp e ON e.pid = t.pid
       |JOIN c ON c.gx = t.gx AND c.gy = t.gy
       |GROUP BY t.pid, c.band, c.tidx
       |ORDER BY point_id, band, "tIdx"""".stripMargin

  /** Geometric-median (geomedian) composite
    * (Composite.geomedianAcrossTime — the classic EO multi-band joint
    * median, beyond the reference): per pixel, a FIXED 8-iteration
    * Weiszfeld scheme over the (red, nir) time vectors — x⁰ = mean,
    * xᵏ⁺¹ = Σ wₜ·pₜ / Σ wₜ, wₜ = 1/max(‖xᵏ−pₜ‖, 1e-7) — every fold
    * time-ascending, no convergence test, so the whole iteration is a
    * closed deterministic formula. DuckDB replays it bit-for-bit from
    * the landed pixel rows with nested list lambdas (an 8-step
    * `list_reduce` whose state is the [x_red, x_nir] pair), proving
    * observation gathering (ALL bands valid), the mean seed, the
    * weight/update arithmetic, and the quantized summary. */
  def geomedian(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "id", chunks = 64)
    cells(res.tiles, tileKeys, masked = true)
      .write.mode("overwrite").parquet(GeomedianCellsPath)
    res.geomedianComposite(Seq("red", "nir"))
      .select(col("band"), col("ty"), col("tx"),
        planeSum("geomedian", 100).as("geo_q"),
        expr("CAST(aggregate(count, 0, (s, v) -> s + v) AS BIGINT)")
          .as("n_valid"))
      .orderBy("band", "ty", "tx")
  }

  private[rasterops] def geomedianDuckSql: String =
    s"""$geomedianGmCtes
       |SELECT b.band, ty, tx,
       |       CAST(SUM(CAST(ROUND(
       |         (CASE WHEN b.band = 'red' THEN s[1] ELSE s[2] END) * 100)
       |         AS BIGINT)) AS BIGINT) AS geo_q,
       |       CAST(SUM(m) AS BIGINT) AS n_valid
       |FROM gm CROSS JOIN (VALUES ('red'), ('nir')) b(band)
       |GROUP BY b.band, ty, tx
       |ORDER BY band, ty, tx""".stripMargin

  /** The geomedian's MAD companion layers (EMAD / SMAD / BCMAD — the
    * deviation bands every production geomedian ships with): median
    * across time of each complete observation's Euclidean / spectral /
    * Bray-Curtis deviation from the per-pixel Weiszfeld point. DuckDB
    * recomputes the SAME fixed 8-iteration geomedian from the landed
    * pixel rows (the [[geomedian]] list_reduce), derives the three
    * deviation lists per pixel, and takes the median with the engine's
    * exact convention (sorted list, (lo+hi)/2 for even counts — NOT
    * quantile_cont, whose lo+(hi-lo)/2 interpolation differs in the
    * last ulp). Lands its own cells (idempotent, bit-identical to the
    * [[geomedian]] landing) because this query sorts before it. */
  def geomad(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "id", chunks = 64)
    cells(res.tiles, tileKeys, masked = true)
      .write.mode("overwrite").parquet(GeomedianCellsPath)
    res.geomadComposite(Seq("red", "nir"))
      .select(col("ty"), col("tx"),
        planeSum("emad", 100).as("emad_q"),
        planeSum("smad", 1e6).as("smad_q"),
        planeSum("bcmad", 1e6).as("bcmad_q"),
        expr("CAST(aggregate(count, 0, (s, v) -> s + v) AS BIGINT)")
          .as("n_valid"))
      .orderBy("ty", "tx")
  }

  /** Shared Weiszfeld CTE chain (px -> pt -> pts -> gm) of the
    * geomedian oracles. */
  private[rasterops] val geomedianGmCtes: String =
    s"""WITH px AS (
       |  SELECT band, tidx, ty, tx, py, px, value
       |  FROM read_parquet('$GeomedianCellsPath/*.parquet')
       |  WHERE NOT isnan(value)),
       |pt AS (
       |  SELECT tidx, ty, tx, py, px,
       |         MAX(CASE WHEN band = 'red' THEN value END) AS r,
       |         MAX(CASE WHEN band = 'nir' THEN value END) AS n
       |  FROM px GROUP BY tidx, ty, tx, py, px
       |  HAVING COUNT(*) = 2),
       |pts AS (
       |  SELECT ty, tx, py, px,
       |         list(r ORDER BY tidx) AS pr, list(n ORDER BY tidx) AS pn,
       |         COUNT(*) AS m
       |  FROM pt GROUP BY ty, tx, py, px),
       |gm AS (
       |  SELECT ty, tx, py, px, m, pr, pn,
       |    CASE WHEN m = 1 THEN [pr[1], pn[1]] ELSE list_reduce(
       |      list_prepend(
       |        [list_sum(pr) / m, list_sum(pn) / m],
       |        list_transform(range(0, 8), i -> [CAST(i AS DOUBLE), 0.0])),
       |      (acc, it) -> [
       |        list_sum(list_transform(range(1, CAST(m AS INT) + 1), t ->
       |          pr[t] * (1.0 / GREATEST(sqrt(
       |            (pr[t] - acc[1]) * (pr[t] - acc[1]) +
       |            (pn[t] - acc[2]) * (pn[t] - acc[2])), 1e-7)))) /
       |        list_sum(list_transform(range(1, CAST(m AS INT) + 1), t ->
       |          1.0 / GREATEST(sqrt(
       |            (pr[t] - acc[1]) * (pr[t] - acc[1]) +
       |            (pn[t] - acc[2]) * (pn[t] - acc[2])), 1e-7))),
       |        list_sum(list_transform(range(1, CAST(m AS INT) + 1), t ->
       |          pn[t] * (1.0 / GREATEST(sqrt(
       |            (pr[t] - acc[1]) * (pr[t] - acc[1]) +
       |            (pn[t] - acc[2]) * (pn[t] - acc[2])), 1e-7)))) /
       |        list_sum(list_transform(range(1, CAST(m AS INT) + 1), t ->
       |          1.0 / GREATEST(sqrt(
       |            (pr[t] - acc[1]) * (pr[t] - acc[1]) +
       |            (pn[t] - acc[2]) * (pn[t] - acc[2])), 1e-7)))
       |      ]) END AS s
       |  FROM pts)""".stripMargin

  private[rasterops] val geomadDuckSql: String =
    s"""$geomedianGmCtes,
       |dv AS (
       |  SELECT ty, tx, py, px, m,
       |    list_sort(list_transform(range(1, CAST(m AS INT) + 1), t ->
       |      sqrt((pr[t] - s[1]) * (pr[t] - s[1]) +
       |           (pn[t] - s[2]) * (pn[t] - s[2])))) AS eds,
       |    list_sort(list_transform(range(1, CAST(m AS INT) + 1), t ->
       |      CASE WHEN sqrt(pr[t] * pr[t] + pn[t] * pn[t]) *
       |                sqrt(s[1] * s[1] + s[2] * s[2]) = 0 THEN 0.0
       |      ELSE 1.0 - (pr[t] * s[1] + pn[t] * s[2]) /
       |        (sqrt(pr[t] * pr[t] + pn[t] * pn[t]) *
       |         sqrt(s[1] * s[1] + s[2] * s[2])) END)) AS sms,
       |    list_sort(list_transform(range(1, CAST(m AS INT) + 1), t ->
       |      CASE WHEN abs(pr[t] + s[1]) + abs(pn[t] + s[2]) = 0 THEN 0.0
       |      ELSE (abs(pr[t] - s[1]) + abs(pn[t] - s[2])) /
       |           (abs(pr[t] + s[1]) + abs(pn[t] + s[2])) END)) AS bcs
       |  FROM gm),
       |md AS (
       |  SELECT ty, tx, py, px, m,
       |    CASE WHEN m % 2 = 1 THEN eds[CAST((m + 1) // 2 AS INT)]
       |    ELSE (eds[CAST(m // 2 AS INT)] + eds[CAST(m // 2 AS INT) + 1])
       |         / 2.0 END AS emad,
       |    CASE WHEN m % 2 = 1 THEN sms[CAST((m + 1) // 2 AS INT)]
       |    ELSE (sms[CAST(m // 2 AS INT)] + sms[CAST(m // 2 AS INT) + 1])
       |         / 2.0 END AS smad,
       |    CASE WHEN m % 2 = 1 THEN bcs[CAST((m + 1) // 2 AS INT)]
       |    ELSE (bcs[CAST(m // 2 AS INT)] + bcs[CAST(m // 2 AS INT) + 1])
       |         / 2.0 END AS bcmad
       |  FROM dv)
       |SELECT ty, tx,
       |  CAST(SUM(CAST(ROUND(emad * 100) AS BIGINT)) AS BIGINT) AS emad_q,
       |  CAST(SUM(CAST(ROUND(smad * 1000000) AS BIGINT)) AS BIGINT)
       |    AS smad_q,
       |  CAST(SUM(CAST(ROUND(bcmad * 1000000) AS BIGINT)) AS BIGINT)
       |    AS bcmad_q,
       |  CAST(SUM(m) AS BIGINT) AS n_valid
       |FROM md GROUP BY ty, tx
       |ORDER BY ty, tx""".stripMargin
}
