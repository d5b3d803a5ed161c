package graft.rasterops
import graft.TmpLanding
import graft.load.{Composite, Load, Phenology, PixelFold, Trend}
import graft.planner.Planner
import graft.raster.Fixtures
import graft.stac.StacParse
import graft.streaming.StacIngest
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import TileCells._

/** Structured-streaming raster surfaces: microbatch scene ingest, the
  * standing per-pixel states and incremental zonal statistics.
  *
  * One family of [[RasterQueries]]' driver-contract entries; the
  * aggregator object's self-type gives every family access to the
  * shared fixtures and paths. Every query here drains the scene fixture
  * through the one item stream, [[StacIngest.drain]], one scene per
  * microbatch ([[drainScenes]]), and each of its sink dirs starts empty
  * on every call.
  */
private[rasterops] trait RasterStreamQueries {
  this: RasterQueries.type =>

  /** The standing grid of the scene fixture, declared up front (the
    * MGRS-tile analog): per-batch auto-planning would re-anchor tile
    * indices to each batch's extent and a standing table would never
    * line up with itself, let alone the batch load. */
  private def standingGrid(): graft.geo.GeoBox = {
    val (items, schemas) = parsed()
    Planner.outputGeobox(items, schemas).get
  }

  /** The tile rows of `items` loaded the way every stream query and its
    * batch oracle load them: bands red and nir, one time group per
    * item, 64-pixel chunks, on the [[standingGrid]]. */
  private[graft] def sceneLoad(spark: SparkSession,
      items: Seq[graft.model.ParsedItem] = parsed()._1): DataFrame =
    Load.load(spark, items.sortBy(_.id), parsed()._2,
      bands = Seq("red", "nir"), groupby = "id", chunks = 64,
      geobox = Some(standingGrid())).tiles

  /** Drain the scene fixture one scene per microbatch through the
    * `name` landing; each batch's scenes are parsed on the driver
    * against the standing collection schemas (inferred once up front,
    * like the standing grid), loaded by [[sceneLoad]] and handed to
    * `onTiles` with the batchId. `done` is a replay guard that runs
    * BEFORE the parse+load, the dominant microbatch cost. */
  private def drainScenes(spark: SparkSession, name: String,
      done: Long => Boolean = _ => false)(
      onTiles: (DataFrame, Long) => Unit): Unit = {
    val schemas = parsed()._2
    StacIngest.drain(spark, name, Fixtures.writeScenes(NScenes), 1) {
      (js, batchId) =>
        if (js.nonEmpty && !done(batchId))
          onTiles(sceneLoad(spark, StacParse.parseWithSchemas(js, schemas)),
            batchId)
    }
  }

  /** Streaming pixel ingest — the incremental-mosaic shape: STAC items
    * land one per microbatch; each batch runs the SAME distributed
    * read+fuse as the batch path (`Load.load`, groupby=id) and APPENDS
    * its tile rows to a standing parquet table. With per-id grouping,
    * batches are independent, so the standing table after the stream
    * equals the one-shot batch load — pinned by RasterIngestSpec
    * against `loadGroupById`'s tiles, and summarized here per tile.
    * At 100 TB/day this is the ingest topology: metadata-sized item
    * batches drive pixel work that lands append-only, partitioned by
    * band; no state store is involved because the group key (item id)
    * never spans batches. */
  def streamRasterIngest(spark: SparkSession): DataFrame = {
    val out = TmpLanding.fresh("graft_ring", "out")
    drainScenes(spark, "graft_ring") { (tiles, _) =>
      tiles.write.mode("append").partitionBy("band").parquet(out)
    }
    // cross-engine anchor: the standing table's pixels land as plain
    // pixel-row parquet and BOTH engines aggregate the same file — the
    // incremental-mosaic analog of [[mosaicCells]] (a batch dropped or
    // double-appended by the stream shifts a checksum DuckDB recomputes)
    cells(spark.read.parquet(out), timeKeys, masked = false)
      .write.mode("overwrite").parquet(StreamCellsPath)
    summary(spark.read.parquet(StreamCellsPath), Seq("band", "t", "ty", "tx"),
      withValid = false)
  }

  /** The standing states by name: each state's fold and the fold's
    * per-plane scalar `t`. */
  private[graft] lazy val StandingFolds: Map[String, (PixelFold[_], Column)] =
    Map(
      "comp" -> ((new Composite.PixelComposite, lit(0.0))),
      "trend" -> ((new Trend.PixelTrend, PixelFold.dayOf(TrendAnchorSec))),
      "peak" -> ((new Phenology.PixelPeak, PixelFold.dayOf(TrendAnchorSec))))

  /** Session memo of the standing states, one entry per state. */
  private val standingStates = new graft.BoundedCache[String](3, _ => ())

  /** The path of the standing `state` of [[StandingFolds]]: its own
    * drain of the scene fixture, each batch folded with
    * [[PixelFold.byTile]] and merged into the state dir by the
    * replay-safe batchId-guarded swap commit ([[commitMerge]]). The
    * state dir is reset before the drain. The fixture is
    * session-constant (synthetic scenes, independent of the sf dir), so
    * the memo can never serve stale state to a different input; a
    * query rebuilds only the state it reads. */
  private[graft] def standingState(spark: SparkSession,
      state: String): String =
    standingStates.get(graft.BoundedCache.key(spark, state)) {
      val fold = StandingFolds(state)._1
      val t = StandingFolds(state)._2
      val name = s"graft_stream_$state"
      val path = TmpLanding.fresh(name, "state") + "/state"
      drainScenes(spark, name, _ <= lastMergedBatch(path)) { (tiles, batchId) =>
        commitMerge(spark, path, batchId,
          PixelFold.byTile(spark, tiles, fold, t), fold)
      }
      path
    }

  /** Streaming RUNNING COMPOSITE (beyond the reference): scenes arrive
    * one per microbatch and fold into a STANDING per-tile composite
    * state table — one row per (band, ty, tx) holding the
    * [[Composite.PixelComposite]] buffer (count, sum, min, max plane
    * ARRAYS). The composite is mergeable, so each batch computes its own
    * partial buffers with the batch fold and merges them into the
    * standing table with the fold's own merge — the
    * continental-running-mosaic topology: state is one buffer set per
    * tile (never the scene history), each batch's work is
    * metadata-driven, and at 100 TB the swap-dir state table becomes a
    * Delta/Iceberg MERGE with identical semantics. The commit is
    * replay-safe the way a MERGE-on-batchId is: the state dir carries
    * the last-merged batchId (`_batchid`, underscore-hidden from the
    * parquet reader), a retried at-least-once microbatch is skipped,
    * and the swap renames the old state ASIDE before promoting `_next`
    * (a death mid-swap leaves `_old` to recover from, never nothing).
    * The state is built by [[standingState]], as are those of
    * [[streamTrend]] and [[streamPhenology]].
    *
    * Oracle: the streamed state must equal the across-time statistics
    * of a one-shot batch load of the same scenes — the per-time pixel
    * planes land as parquet and DuckDB recomputes sum/min/max/count
    * per pixel and the quantized per-tile summary (valid values are
    * uint16 integers, so double sums are exact and the ×100 rounding
    * is order-independent). A dropped batch, double merge, or wrong
    * merge breaks the hash. */
  def streamComposite(spark: SparkSession): DataFrame = {
    val statePath = standingState(spark, "comp")

    // oracle anchor: the same scenes in ONE batch load, per-time pixel
    // planes landed for DuckDB's independent across-time recompute
    cells(sceneLoad(spark), tileKeys, masked = true)
      .write.mode("overwrite").parquet(StreamCompCellsPath)

    // summary of the STREAMED state (quantized, order-exact)
    spark.read.parquet(statePath)
      .select(col("band"), col("ty"), col("tx"), col("buf.n").as("cnt"),
        col("buf.planes")(0).as("sum"), col("buf.planes")(1).as("mn"),
        col("buf.planes")(2).as("mx"))
      .select(col("band"), col("ty"), col("tx"),
        expr("size(cnt)").as("n_px"),
        expr("aggregate(cnt, 0L, (a, c) -> a + c)").as("cnt_total"),
        expr("aggregate(zip_with(sum, cnt, (s, c) -> " +
          "if(c > 0, CAST(round(s * 100) AS BIGINT), 0L)), 0L, " +
          "(a, b) -> a + b)").as("sum_q"),
        round(expr("array_min(zip_with(mn, cnt, (v, c) -> " +
          "if(c > 0, v, CAST(NULL AS DOUBLE))))"), 2).as("vmin"),
        round(expr("array_max(zip_with(mx, cnt, (v, c) -> " +
          "if(c > 0, v, CAST(NULL AS DOUBLE))))"), 2).as("vmax"))
      .orderBy("band", "ty", "tx")
  }

  /** Last batchId merged into the standing composite state, -1 when the
    * state is empty. Recovers a crash between the two swap renames
    * first (state missing, `_old` present → restore `_old`), so the
    * guard never reads a half-swapped layout. Package-visible so
    * [[graft.StreamRecoverySpec]] can pin the replay semantics. */
  private[graft] def lastMergedBatch(statePath: String): Long = {
    val stateDir = new java.io.File(statePath)
    val oldDir = new java.io.File(statePath + "_old")
    if (!stateDir.exists() && oldDir.exists())
      require(oldDir.renameTo(stateDir),
        s"state recovery failed at $statePath")
    val idFile = new java.io.File(stateDir, "_batchid")
    if (!idFile.exists()) -1L
    else new String(java.nio.file.Files.readAllBytes(idFile.toPath),
      "UTF-8").trim.toLong
  }

  /** Merge one batch's partial buffers into the standing state with
    * the fold's own merge and commit with a replay-safe swap.
    * Idempotent per batchId: a retried microbatch (foreachBatch is
    * at-least-once) is a no-op. The swap renames the current state
    * ASIDE to `_old` before promoting `_next`, so a death at any step
    * leaves a recoverable dir — never the rmDir-then-rename window where
    * the standing table is gone. */
  private[graft] def commitMerge(spark: SparkSession, statePath: String,
      batchId: Long, cur: Dataset[(String, Int, Int, PixelFold.Buf)],
      fold: PixelFold[_]): Unit = {
    import spark.implicits._
    if (batchId <= lastMergedBatch(statePath)) return
    val stateDir = new java.io.File(statePath)
    // state columns (band, ty, tx, buf) map onto the tuple by position
    val merged =
      if (!stateDir.exists()) cur
      else PixelFold.mergeByTile(spark, spark.read.parquet(statePath)
        .as[(String, Int, Int, PixelFold.Buf)].union(cur), fold)
    val nextDir = new java.io.File(statePath + "_next")
    val oldDir = new java.io.File(statePath + "_old")
    // the merge must materialize BEFORE the old state moves aside —
    // `merged` reads `statePath` lazily, so write-to-next comes first
    merged.toDF("band", "ty", "tx", "buf")
      .write.mode("overwrite").parquet(nextDir.toString)
    // the batchId marker travels inside the parquet dir (underscore
    // prefix = hidden from the reader), so the swap commits state and
    // marker atomically together
    java.nio.file.Files.write(
      new java.io.File(nextDir, "_batchid").toPath,
      (batchId.toString + "\n").getBytes("UTF-8"))
    TmpLanding.rm(oldDir) // clear any stale recovery dir from a prior crash
    if (stateDir.exists())
      require(stateDir.renameTo(oldDir),
        s"state swap (aside) failed at $statePath")
    require(nextDir.renameTo(stateDir),
      s"state swap (promote) failed at $statePath")
    TmpLanding.rm(oldDir)
  }

  /** Day-number anchor for the running-trend state: a FIXED epoch
    * (2020-01-01T00:00:00Z), not the archive minimum — partial OLS sums
    * only merge when every batch used the same time origin, and a
    * stream cannot know the global minimum up front. Integer day
    * numbers keep the standing sums order-exact. */
  private[rasterops] val TrendAnchorSec = 1577836800L

  /** Oracle anchor of the standing trend and peak maps: the same
    * scenes in ONE batch load, the raw per-time pixel series landed at
    * `path` for DuckDB's independent recompute. */
  private def landBatchSeries(spark: SparkSession, path: String): Unit =
    series(sceneLoad(spark), tileKeys :+ unix_timestamp(col("time")).as("tsec"))
      .write.mode("overwrite").parquet(path)

  /** Streaming RUNNING TREND (beyond the reference): the per-pixel OLS
    * sums (n, Σt, Σt², Σv, Σtv) are MERGEABLE, so a standing trend map
    * updates per microbatch exactly like [[streamComposite]]'s
    * composite — each batch folds its tiles with [[Trend.PixelTrend]]
    * and merges them into the standing table with the fold's own merge
    * inside the same replay-safe batchId-guarded swap commit
    * ([[commitMerge]]), built by [[standingState]].
    * The slope/intercept are DERIVED from the standing sums at read
    * time, never stored — the state stays merge-closed. Oracle: the
    * streamed state must equal the one-shot batch OLS of the same
    * scenes; the batch load's raw pixel series lands and DuckDB
    * recomputes the sums and the identical closed form (anchored at the
    * same fixed epoch). A dropped or double-merged batch shifts every
    * sum and breaks the hash. */
  def streamTrend(spark: SparkSession): DataFrame = {
    val statePath = standingState(spark, "trend")
    landBatchSeries(spark, StreamTrendCellsPath)

    // summary of the STREAMED state: slope/intercept derived from the
    // standing sums per pixel, quantized per tile
    spark.read.parquet(statePath)
      .select(col("band"), col("ty"), col("tx"), col("buf.n").as("n"),
        col("buf.planes")(0).as("st"), col("buf.planes")(1).as("stt"),
        col("buf.planes")(2).as("sv"), col("buf.planes")(3).as("stv"))
      .select(col("band"), col("ty"), col("tx"),
        posexplode(arrays_zip(col("n"), col("st"), col("stt"),
          col("sv"), col("stv"))))
      .select(col("band"), col("ty"), col("tx"),
        col("col.n").as("n"), col("col.st").as("st"),
        col("col.stt").as("stt"), col("col.sv").as("sv"),
        col("col.stv").as("stv"))
      .select(col("band"), col("ty"), col("tx"), col("n"),
        expr("""CASE WHEN n >= 2 AND n * stt - st * st <> 0
                THEN (n * stv - st * sv) / (n * stt - st * st) END""")
          .as("slope"),
        expr("""CASE WHEN n >= 2 AND n * stt - st * st <> 0
                THEN (sv - ((n * stv - st * sv) / (n * stt - st * st))
                      * st) / n END""").as("icept"))
      .groupBy(col("band"), col("ty"), col("tx"))
      .agg(sum(col("n")).cast("int").as("n_obs"),
        count(col("slope")).cast("int").as("n_fit"),
        sum(coalesce(expr("CAST(ROUND(slope * 1e6) AS BIGINT)"), lit(0L)))
          .cast("long").as("slope_q"),
        sum(coalesce(expr("CAST(ROUND(icept * 100) AS BIGINT)"), lit(0L)))
          .cast("long").as("icept_q"))
      .orderBy("band", "ty", "tx")
  }

  /** Streaming STANDING PEAK MAP (beyond the reference): the
    * peak-of-season argmax ([[graft.load.Phenology]]'s batch
    * semantics) maintained incrementally — each microbatch folds its
    * tiles with [[Phenology.PixelPeak]] and merges them into the
    * standing state with the fold's own merge (one tie-break, one NaN
    * "no observation" sentinel) inside the SAME replay-safe
    * batchId-guarded swap commit, built by [[standingState]]. The
    * argmax merge is
    * associative and commutative, so the streamed state equals the
    * one-shot batch argmax of the same scenes — which is exactly what
    * the oracle recomputes from the landed raw series. */
  def streamPhenology(spark: SparkSession): DataFrame = {
    val statePath = standingState(spark, "peak")
    landBatchSeries(spark, StreamPeakCellsPath)

    // summary of the STREAMED state (quantized, order-exact)
    spark.read.parquet(statePath)
      .select(col("band"), col("ty"), col("tx"), col("buf.n").as("cnt"),
        col("buf.planes")(0).as("best"), col("buf.planes")(1).as("day"))
      .select(col("band"), col("ty"), col("tx"),
        expr("aggregate(cnt, 0, (s, c) -> s + c)").as("n_obs"),
        planeValid("best").as("n_peak"), planeSum("best", 100).as("peak_q"),
        expr("aggregate(day, 0L, (s, d) -> s + " +
          "if(d < 0, 0L, CAST(d AS BIGINT)))").as("day_sum"))
      .orderBy("band", "ty", "tx")
  }

  private[rasterops] val streamPhenologyDuckSql: String =
    s"""WITH c AS (
       |  SELECT band, ty, tx, pos,
       |         FLOOR((tsec - $TrendAnchorSec) / 86400.0 + 0.5) AS t,
       |         value
       |  FROM read_parquet('$StreamPeakCellsPath/*.parquet')),
       |w AS (
       |  SELECT band, ty, tx, pos, t, value,
       |         MAX(CASE WHEN isnan(value) THEN NULL ELSE value END)
       |           OVER (PARTITION BY band, ty, tx, pos) AS pk
       |  FROM c),
       |px AS (
       |  -- NaN rows stay (CASE arms, not a WHERE): the streamed state
       |  -- holds a row for every tile ever LOADED
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

  private[rasterops] val streamTrendDuckSql: String =
    s"""WITH c AS (
       |  SELECT band, ty, tx, pos,
       |         FLOOR((tsec - $TrendAnchorSec) / 86400.0 + 0.5) AS t,
       |         value
       |  FROM read_parquet('$StreamTrendCellsPath/*.parquet')),
       |px AS (
       |  -- NaN rows stay (CASE arms, not a WHERE): the streamed state
       |  -- holds a row for every tile ever LOADED, so a tile with zero
       |  -- valid observations must still produce its all-zero summary
       |  -- row here (the streamComposite oracle's convention)
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

  private[rasterops] val streamCompositeDuckSql: String =
    s"""WITH px AS (
       |  SELECT band, ty, tx, py, px,
       |         SUM(CASE WHEN isnan(value) THEN 0 ELSE value END) AS s,
       |         MIN(CASE WHEN isnan(value) THEN NULL ELSE value END) AS mn,
       |         MAX(CASE WHEN isnan(value) THEN NULL ELSE value END) AS mx,
       |         SUM(CASE WHEN isnan(value) THEN 0 ELSE 1 END) AS c
       |  FROM read_parquet('$StreamCompCellsPath/*.parquet')
       |  GROUP BY band, ty, tx, py, px)
       |SELECT band, ty, tx,
       |       CAST(COUNT(*) AS INT) AS n_px,
       |       CAST(SUM(c) AS BIGINT) AS cnt_total,
       |       CAST(SUM(CASE WHEN c > 0
       |                THEN CAST(ROUND(s * 100) AS BIGINT)
       |                ELSE 0 END) AS BIGINT) AS sum_q,
       |       ROUND(MIN(mn), 2) AS vmin,
       |       ROUND(MAX(mx), 2) AS vmax
       |FROM px
       |GROUP BY band, ty, tx
       |ORDER BY band, ty, tx""".stripMargin

  private[rasterops] val streamIngestDuckSql: String =
    s"""SELECT band, t, ty, tx, COUNT(*) AS n_px,
       |       CAST(SUM(CASE WHEN isnan(value) THEN 0
       |                ELSE CAST(ROUND(value * 100) AS BIGINT) END)
       |            AS BIGINT) AS sum_q,
       |       ROUND(MIN(CASE WHEN isnan(value) THEN NULL ELSE value END), 2) AS vmin,
       |       ROUND(MAX(CASE WHEN isnan(value) THEN NULL ELSE value END), 2) AS vmax
       |FROM read_parquet('$StreamCellsPath/*.parquet')
       |GROUP BY band, t, ty, tx
       |ORDER BY band, t, ty, tx""".stripMargin

  /** Streaming zonal statistics (beyond the reference): scenes arrive
    * one per microbatch and each batch appends only its |zones|×|bands|
    * PARTIAL rows to a standing partials table — O(zones) incremental
    * maintenance per batch, never a recompute over history; the final
    * answer is a re-aggregation of partials. The zones are the zonal
    * trio, so DuckDB recomputes the same per-zone totals from the
    * per-item pixel planes (`CompositeCellsPath`, identical fixture
    * items) with the ray cast from the landed zone edges — a batch
    * dropped, double-counted, or mis-painted shifts the totals. */
  def streamZonal(spark: SparkSession): DataFrame = {
    val grid = standingGrid()
    // the zonal trio under the NAMES the landed zone-edge table uses
    val zones = demoZones(grid.crs).take(3)
      .zip(Seq("rect", "tri", "holed"))
      .map { case ((_, g), n) => (n, g) }
    val partialsOut = TmpLanding.fresh("graft_szonal", "out")
    drainScenes(spark, "graft_szonal") { (tiles, _) =>
      graft.load.Zonal.zonalStats(spark, tiles, grid, zones)
        .write.mode("append").parquet(partialsOut)
    }
    spark.read.parquet(partialsOut)
      .groupBy("zone", "band")
      .agg(sum("n_valid").as("n_valid"),
        round(sum("total"), 2).as("total"),
        round(min("vmin"), 2).as("vmin"),
        round(max("vmax"), 2).as("vmax"))
      .orderBy("zone", "band")
  }

  private[rasterops] val streamZonalDuckSql: String =
    s"""WITH e AS (
       |  SELECT zone, x1, y1, x2, y2
       |  FROM read_parquet('$ZoneEdgesPath/*.parquet')),
       |p AS (
       |  -- per-ITEM observations: an overlap pixel seen by two scenes
       |  -- is two in-zone observations, exactly as the per-batch
       |  -- partials count it
       |  SELECT band, tidx, value,
       |         500000 + (tx * 64 + px + 0.5) * 10 AS cx,
       |         8000000 - (ty * 64 + py + 0.5) * 10 AS cy
       |  FROM read_parquet('$CompositeCellsPath/*.parquet')
       |  WHERE NOT isnan(value)),
       |hit AS (
       |  SELECT e.zone, p.band, p.tidx, p.cx, p.cy, MIN(p.value) AS value,
       |         SUM(CASE WHEN (e.y1 > p.cy) <> (e.y2 > p.cy)
       |                   AND p.cx < (e.x2 - e.x1) * (p.cy - e.y1)
       |                              / (e.y2 - e.y1) + e.x1
       |              THEN 1 ELSE 0 END) AS cr
       |  FROM p CROSS JOIN e
       |  GROUP BY e.zone, p.band, p.tidx, p.cx, p.cy)
       |SELECT zone, band, COUNT(*) AS n_valid,
       |       ROUND(SUM(value), 2) AS total,
       |       ROUND(MIN(value), 2) AS vmin, ROUND(MAX(value), 2) AS vmax
       |FROM hit WHERE cr % 2 = 1
       |GROUP BY zone, band ORDER BY zone, band""".stripMargin
}
