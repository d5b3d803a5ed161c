package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [query...]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val outDir = args(1)
    // artifact-reading oracles derive their landed paths from this —
    // set ONCE, before any query runs (see RunContext)
    RunContext.oracleDir = sfDir
    // optional name filter (dev use): dump only the named queries —
    // plus their landing producers (below), so a filtered run never
    // compares an oracle against a stale tmp artifact
    val asked = args.drop(2).toSet
    val only =
      if (asked.isEmpty) asked
      else {
        // transitive closure: a producer may itself consume a landing
        var s = asked
        var grown = true
        while (grown) {
          val next = s ++ s.flatMap(landingDeps.getOrElse(_, Nil))
          grown = next.size > s.size
          s = next
        }
        s
      }
    val spark = Harness.session(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    // SORTED name order: some oracles read artifacts landed by an
    // earlier query (landingDeps); sorted iteration makes that ordering
    // deterministic instead of riding HashMap iteration luck
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // release every cached artifact once the output is on disk:
        // the next query rebuilds what it needs, so no query reads an
        // artifact pinned by an earlier one
        BoundedCache.clearAll()
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a filtered run dumps oracles ONLY for the queries it ran — the
    // compare step must never judge an unrun query against whatever a
    // previous pass left at the shared tmp landing paths
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Cross-query landing dependencies: these queries' ORACLES (or, for
    * the stream entries, the queries themselves) read tmp artifacts
    * that ONLY the named producer queries (re)land. A full pass is safe
    * because the DuckDB compare runs after every query; a FILTERED dev
    * run must pull the producers in too, or it silently compares
    * against whatever a previous pass left at the shared paths.
    * Derived from the `$...Path` references inside each registered
    * DuckSql (see rasterops/RasterQueryFixtures landing paths). */
  private val landingDeps: Map[String, Seq[String]] = {
    val mosaic = Seq("raster_mosaic_cells")
    val composite = Seq("raster_composite_cells")
    Map(
      "raster_band_math" -> mosaic,
      "raster_change_detect" -> mosaic,
      "raster_cog_export" -> mosaic,
      "raster_drill" -> mosaic,
      "raster_chips" -> mosaic,
      "raster_drill_bilinear" -> mosaic,
      "raster_focal_mean" -> mosaic,
      "raster_focal_standing" -> mosaic,
      "raster_terrain" -> mosaic,
      "raster_hillshade" -> mosaic,
      "raster_histogram" -> mosaic,
      "raster_load_mosaic" -> mosaic,
      "raster_load_netcdf" -> mosaic,
      "raster_load_tiff" -> mosaic,
      "raster_pyramid_build" -> mosaic,
      "raster_tiles_roundtrip" -> mosaic,
      "raster_zarr_export" -> mosaic,
      "raster_zonal_stats" -> mosaic,
      "raster_composite_mean" -> composite,
      "raster_composite_median" -> composite,
      "raster_composite_quantile" -> composite,
      "raster_load_groupby_id" -> composite,
      "raster_tyx_bins" -> composite,
      "raster_load_overview" -> Seq("raster_overview_cells"),
      // the DSv2 source-SQL oracles re-derive overview pixels from the
      // native planes raster_overview_cells lands
      "raster_grb_source_sql" -> Seq("raster_overview_cells"),
      "raster_gtiff_source_sql" -> Seq("raster_overview_cells"),
      "raster_any_source_sql" -> Seq("raster_overview_cells"),
      // sample_drill's oracle replays the zone raster from the edge
      // table raster_rasterize lands
      "raster_sample_drill" -> Seq("raster_mosaic_cells", "raster_rasterize"),
      "raster_load_zarr" -> Seq("raster_mosaic_cells", "raster_overview_cells"),
      "raster_load_reproject" -> Seq("raster_reproject_cells"),
      "raster_load_resampling_mixed" -> Seq("raster_load_resampling"),
      "raster_load_polygon" -> mosaic,
      "stream_ann_ingest" -> Seq("sim_index_persist"),
      "stream_zonal" -> Seq("raster_composite_cells", "raster_zonal_stats"))
  }
}
