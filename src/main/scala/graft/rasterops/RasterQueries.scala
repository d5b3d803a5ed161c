package graft.rasterops

import graft.load.{Fuse, Load}
import graft.raster.Fixtures
import graft.stac.StacParse
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import TileCells._

/** Driver-contract entries for the raster surface (SURVEY §2 operators
  * S1-S14, P1-P8, J1-J3, A1-A8, F1-F16): each query drives the real
  * pipeline over the deterministic synthetic scene fixtures and returns a
  * hashable summary (per-tile checksums / plan facts). Not expressible in
  * DuckDB SQL -> rows-only driver checks; pixel-exactness is pinned by
  * LoadSpec/RasterSpec golden tests instead.
  */
object RasterQueries
    extends RasterQueryFixtures
    with RasterLoadQueries with RasterMetaQueries
    with RasterCellsQueries with RasterAnalyticsQueries
    with RasterStreamQueries {

  /** The fixture items, sorted by id, and their schemas. */
  private[rasterops] def parsedOf(jsons: Seq[String])
  : (Seq[graft.model.ParsedItem], Map[String, graft.model.CollectionMetadata]) = {
    val (items, schemas) = StacParse.parseItems(jsons)
    (items.sortBy(_.id), schemas)
  }

  private[rasterops] def parsed()
  : (Seq[graft.model.ParsedItem], Map[String, graft.model.CollectionMetadata]) =
    parsedOf(Fixtures.writeScenes(NScenes))

  /** Tile-row DataFrame -> deterministic per-tile summary. */
  private[rasterops] def summarize(df: DataFrame): DataFrame = {
    val toDoubles = udf { (data: Array[Byte], dtype: String) =>
      val px = Fuse.decode(data, dtype)
      px.sum
    }
    df.select(col("band"), col("tIdx"), col("ty"), col("tx"),
        col("width"), col("height"), col("validCount"),
        round(toDoubles(col("data"), col("dtype")), 2).as("checksum"))
      .orderBy("band", "tIdx", "ty", "tx")
  }

  /** Cell keys with the group TIMESTAMP in place of the group ordinal:
    * incremental ingest assigns tIdx per batch, so batch-vs-streaming
    * comparisons key on (band, t, ty, tx). Shared by the
    * streaming-ingest anchor and its batch twin. */
  private[rasterops] def timeKeys: Seq[Column] = Seq(col("band"),
    date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("t"), col("ty"), col("tx"))

  /** Batch twin of the streaming ingest, for the spec. */
  def groupByIdSummaryByTime(spark: SparkSession): DataFrame = {
    val (items, schemas) = parsed()
    summary(cells(Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "id", chunks = 64).tiles, timeKeys, masked = false),
      Seq("band", "t", "ty", "tx"), withValid = false)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "raster_composite_mean" -> ((s, _) => compositeMean(s)),
    "raster_composite_median" -> ((s, _) => compositeMedian(s)),
    "raster_composite_quantile" -> ((s, _) => compositeQuantile(s)),
    "raster_tiles_roundtrip" -> ((s, _) => tilesRoundtrip(s)),
    "raster_eo3_product" -> ((s, _) => eo3Product(s)),
    "raster_grb_source_sql" -> ((s, _) => grbSourceSql(s)),
    "raster_gtiff_source_sql" -> ((s, _) => gtiffSourceSql(s)),
    "raster_any_source_sql" -> ((s, _) => anySourceSql(s)),
    "raster_cog_export" -> ((s, _) => cogExport(s)),
    "raster_zarr_export" -> ((s, _) => zarrExport(s)),
    "raster_load_mosaic" -> ((s, _) => loadMosaic(s)),
    "raster_mosaic_cells" -> ((s, _) => mosaicCells(s)),
    "raster_composite_cells" -> ((s, _) => compositeCells(s)),
    "raster_reproject_cells" -> ((s, _) => reprojectCells(s)),
    "raster_resample_cells" -> ((s, _) => resampleCells(s)),
    "raster_resample_conv" -> ((s, _) => resampleConv(s)),
    "raster_overview_cells" -> ((s, _) => overviewCells(s)),
    "stream_raster_ingest" -> ((s, _) => streamRasterIngest(s)),
    "stream_composite" -> ((s, _) => streamComposite(s)),
    "stream_trend" -> ((s, _) => streamTrend(s)),
    "stream_phenology" -> ((s, _) => streamPhenology(s)),
    "raster_load_tiff" -> ((s, _) => loadTiff(s)),
    "raster_load_zarr" -> ((s, _) => loadZarr(s)),
    "raster_load_netcdf" -> ((s, _) => loadNetcdf(s)),
    "raster_load_resampling" -> ((s, _) => loadResampling(s)),
    "raster_load_multigrid" -> ((s, _) => loadMultigrid(s)),
    "raster_load_resampling_mixed" -> ((s, _) => loadResamplingMixed(s)),
    "raster_load_polygon" -> ((s, _) => loadPolygon(s)),
    "raster_load_groupby_id" -> ((s, _) => loadGroupById(s)),
    "raster_load_reproject" -> ((s, _) => loadReproject(s)),
    "raster_load_overview" -> ((s, _) => loadOverview(s)),
    "raster_parse_items" -> ((s, _) => parseItems(s)),
    "raster_stac_search" -> ((s, _) => stacSearchDump(s)),
    "raster_output_geobox" -> ((s, _) => outputGeoboxPlans(s)),
    "raster_tyx_bins" -> ((s, _) => tyxBins(s)),
    "raster_zonal_stats" -> ((s, _) => zonalStats(s)),
    "raster_temporal_fill" -> ((s, _) => temporalFill(s)),
    "raster_temporal_smooth" -> ((s, _) => temporalSmooth(s)),
    "raster_trend" -> ((s, _) => trend(s)),
    "raster_trend_robust" -> ((s, _) => trendRobust(s)),
    "raster_harmonic" -> ((s, _) => harmonic(s)),
    "raster_cluster" -> ((s, _) => rasterCluster(s)),
    "raster_phenology" -> ((s, _) => phenology(s)),
    "raster_anomaly" -> ((s, _) => anomaly(s)),
    "raster_band_math" -> ((s, _) => bandMathNdvi(s)),
    "raster_focal_mean" -> ((s, _) => focalMean(s)),
    "raster_focal_standing" -> ((s, _) => focalMeanStanding(s)),
    "raster_terrain" -> ((s, _) => terrain(s)),
    "raster_hillshade" -> ((s, _) => hillshade(s)),
    "raster_drill" -> ((s, _) => drillPoints(s)),
    "raster_chips" -> ((s, _) => chipsQuery(s)),
    "raster_change_detect" -> ((s, _) => changeDetect(s)),
    "raster_pyramid_build" -> ((s, _) => pyramidBuild(s)),
    "raster_masked_composite" -> ((s, _) => maskedComposite(s)),
    "raster_geomedian" -> ((s, _) => geomedian(s)),
    "raster_geomad" -> ((s, _) => geomad(s)),
    "raster_histogram" -> ((s, _) => histogram(s)),
    "raster_rasterize" -> ((s, _) => rasterizeZones(s)),
    "raster_sample_drill" -> ((s, _) => sampleDrill(s)),
    "stream_zonal" -> ((s, _) => streamZonal(s)),
    "raster_drill_bilinear" -> ((s, _) => drillBilinearPoints(s)),
    "raster_eo3_export" -> ((s, _) => eo3Export(s))
  )

  val oracleSql: Map[String, String] = Map(
    "raster_mosaic_cells" -> mosaicCellsDuckSql,
    "raster_composite_cells" -> compositeCellsDuckSql,
    "raster_reproject_cells" -> reprojectCellsDuckSql,
    "raster_resample_cells" -> resampleCellsDuckSql,
    "raster_overview_cells" -> overviewCellsDuckSql,
    "stream_raster_ingest" -> streamIngestDuckSql,
    "stream_composite" -> streamCompositeDuckSql,
    "stream_trend" -> streamTrendDuckSql,
    "stream_phenology" -> streamPhenologyDuckSql,
    "raster_parse_items" -> parseItemsDuckSql,
    "raster_stac_search" -> stacSearchDuckSql,
    "raster_load_mosaic" -> loadMosaicDuckSql,
    "raster_load_groupby_id" -> loadGroupByIdDuckSql,
    "raster_load_overview" -> loadOverviewDuckSql,
    "raster_load_netcdf" -> loadNetcdfDuckSql,
    "raster_load_zarr" -> loadZarrDuckSql,
    "raster_load_reproject" -> loadReprojectDuckSql,
    "raster_load_resampling" -> loadResamplingDuckSql,
    "raster_load_multigrid" -> loadMultigridDuckSql,
    "raster_load_resampling_mixed" -> loadResamplingMixedDuckSql,
    "raster_load_polygon" -> loadPolygonDuckSql,
    "raster_composite_mean" -> compositeMeanDuckSql,
    "raster_composite_median" -> compositeMedianDuckSql,
    "raster_load_tiff" -> loadTiffDuckSql,
    "raster_grb_source_sql" -> grbSourceDuckSql,
    "raster_gtiff_source_sql" -> gtiffSourceDuckSql,
    "raster_any_source_sql" -> anySourceDuckSql,
    "raster_cog_export" -> cogExportDuckSql,
    "raster_zarr_export" -> zarrExportDuckSql,
    "raster_tiles_roundtrip" -> loadMosaicDuckSql,
    "raster_tyx_bins" -> tyxBinsDuckSql,
    "raster_zonal_stats" -> zonalStatsDuckSql,
    "raster_composite_quantile" -> compositeQuantileDuckSql,
    "raster_temporal_fill" -> temporalFillDuckSql,
    "raster_temporal_smooth" -> temporalSmoothDuckSql,
    "raster_trend" -> trendDuckSql,
    "raster_trend_robust" -> trendRobustDuckSql,
    "raster_harmonic" -> harmonicDuckSql,
    "raster_cluster" -> rasterClusterDuckSql,
    "raster_phenology" -> phenologyDuckSql,
    "raster_anomaly" -> anomalyDuckSql,
    "raster_band_math" -> bandMathNdviDuckSql,
    "raster_focal_mean" -> focalMeanDuckSql,
    "raster_focal_standing" -> focalMeanDuckSql,
    "raster_terrain" -> terrainDuckSql,
    "raster_hillshade" -> hillshadeDuckSql,
    "raster_geomedian" -> geomedianDuckSql,
    "raster_geomad" -> geomadDuckSql,
    "raster_drill" -> drillPointsDuckSql,
    "raster_chips" -> chipsDuckSql,
    "raster_change_detect" -> changeDetectDuckSql,
    "raster_pyramid_build" -> pyramidBuildDuckSql,
    "raster_masked_composite" -> maskedCompositeDuckSql,
    "raster_histogram" -> histogramDuckSql,
    "raster_rasterize" -> rasterizeDuckSql,
    "raster_sample_drill" -> sampleDrillDuckSql,
    "stream_zonal" -> streamZonalDuckSql,
    "raster_drill_bilinear" -> drillBilinearDuckSql,
    "raster_output_geobox" -> outputGeoboxDuckSql,
    "raster_eo3_export" -> eo3ExportDuckSql,
    "raster_eo3_product" -> eo3ProductDuckSql,
    "raster_resample_conv" -> resampleConvDuckSql)
}
