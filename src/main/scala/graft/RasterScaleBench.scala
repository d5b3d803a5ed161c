package graft

import graft.geo.{Affine, Crs, GeoBox, Geom}
import graft.load.Load
import graft.raster.Grb
import graft.stac.StacParse

/** Scene-scaled benchmark for the raster ANALYTICS family (the gap the
  * r13 verdict named: the 56 `raster_*` contract queries run at fixture
  * scene counts, and `RasterBench` measures raw load throughput but not
  * zonal/focal/composite/geomedian at archive depth).
  *
  * Fixture: a 2×2 half-overlap spatial grid (the `Fixtures` footprint
  * layout) repeated for T = scenes/4 DAYS — so `groupby = "solar_day"`
  * fuses each day's four positions into one plane and the composites
  * see a genuine T-deep time series per pixel, which is where their
  * cost lives (the spatial-grid `RasterBench` layout keeps depth ≤ 4
  * regardless of scene count). Scenes are real uint16 GRB rasters with
  * a nodata stripe (fusing does real work), 1024×768 × 2 bands.
  *
  * Timed analytics (each forced through the noop sink, one discarded
  * warm run then median of 3 — the `Bench` protocol):
  *   - `composite_median` / `geomedian`: across-time composites whose
  *     per-task state is bounded by the row-band-sliced plan
  *     (`Composite.DefaultStateBudgetBytes`) no matter the depth;
  *   - `focal_mean`: the 3×3 halo-exchange stencil over all T planes;
  *   - `zonal_stats`: polygon zones over all T planes.
  *
  * Usage: `runMain graft.RasterScaleBench [--scenes N] [--grid G]
  * [--ntimes T]`. Default is the depth axis (`--scenes N`, G = 2,
  * T = N/4 — the round-14 BASELINE.md record runs 64/128/256). The
  * SPATIAL axis (verdict r14 task 4: the 2×2 depth record's ~60 tile
  * tasks let per-task fixed costs mask the scaling slope) is
  * `--grid G`: a G×G half-overlap grid at fixed T (default 16), so
  * the mosaic plane grows as ~((G+1)/2)²·(the 2×2 domain) while depth
  * stays constant — the tiles-axis growth a 100 TB archive actually
  * has. Zone polygons in grid mode are derived from the mosaic extent
  * at fixed areal fractions (the G = 2 literals' fractions), so
  * zonal_stats rasterizes a constant share of a growing domain
  * instead of a vanishing corner. Prints ONE JSON line. */
object RasterScaleBench {

  val SceneW = 1024
  val SceneH = 768
  val Res = 10.0
  val Bands = Seq("red", "nir")

  private def dir(grid: Int): java.nio.file.Path = {
    // grid-specific cache dirs: a scene's GRB header bakes in its
    // geobox, which depends on the grid side — reusing the 2×2 cache
    // for a 4×4 run would mosaic stale positions
    val name = if (grid == 2) "graft_rscale_v1" else s"graft_rscale_v1_g$grid"
    val d = java.nio.file.Paths.get(sys.props("java.io.tmpdir"), name)
    java.nio.file.Files.createDirectories(d)
    d
  }

  /** Position g (0..grid²−1) of the G×G half-overlap grid. */
  private def sceneGeobox(g: Int, grid: Int): GeoBox = {
    val gx = g % grid
    val gy = g / grid
    GeoBox(SceneW, SceneH,
      Affine.grid(500000.0 + gx * (SceneW / 2) * Res,
        8000000.0 - gy * (SceneH / 2) * Res, Res, -Res),
      Crs.Utm(35, south = true))
  }

  /** Scene k = (day t = k/G², position g = k%G²); value varies by both
    * so fuse/composite inputs are non-degenerate, right-eighth nodata
    * stripe so first-valid fusing does real hole-filling. */
  def writeScenes(n: Int, grid: Int = 2): Seq[String] = {
    val perDay = grid * grid
    require(n % perDay == 0,
      s"scene count must be a multiple of $perDay, got $n")
    (0 until n).map { k =>
      val g = k % perDay
      val t = k / perDay
      val gbox = sceneGeobox(g, grid)
      Bands.foreach { band =>
        val path = dir(grid).resolve(s"s$k-$band.grb")
        if (!java.nio.file.Files.exists(path)) {
          val px = new Array[Double](SceneW * SceneH)
          var i = 0
          while (i < px.length) {
            px(i) = (1 + ((i * 2654435761L + k * 97 + band.hashCode) >>> 40) % 60000).toDouble
            i += 1
          }
          var y = 0
          while (y < SceneH) {
            var x = SceneW * 7 / 8
            while (x < SceneW) { px(y * SceneW + x) = 0.0; x += 1 }
            y += 1
          }
          val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
          Grb.write(tmp.toString, px, gbox, "uint16", Some(0.0))
          java.nio.file.Files.move(tmp, path,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      }
      itemJson(k, g, t, gbox, grid)
    }
  }

  private def itemJson(k: Int, g: Int, t: Int, gbox: GeoBox,
      grid: Int): String = {
    val fp = gbox.footprint(Crs.LonLat)
    val ring = (fp.ring :+ fp.ring.head)
      .map { case (x, y) => s"[$x,$y]" }.mkString("[", ",", "]")
    val tr = gbox.transform
    val date = java.time.LocalDate.of(2020, 1, 1).plusDays(t.toLong)
    val assets = Bands.map { band =>
      s""""$band": {"href": "${dir(grid).resolve(s"s$k-$band.grb")}",
         |  "type": "image/tiff; application=geotiff", "roles": ["data"],
         |  "proj:shape": [${gbox.height}, ${gbox.width}],
         |  "proj:transform": [${tr.a}, ${tr.b}, ${tr.c}, ${tr.d}, ${tr.e}, ${tr.f}],
         |  "raster:bands": [{"nodata": 0, "data_type": "uint16"}]}""".stripMargin
    }.mkString(",")
    s"""{"type": "Feature", "stac_version": "1.0.0", "id": "rs-$k",
       |"collection": "graft-rscale",
       |"stac_extensions": ["https://stac-extensions.github.io/projection/v1.1.0/schema.json"],
       |"geometry": {"type": "Polygon", "coordinates": [$ring]},
       |"properties": {"datetime": "${date}T${f"${(g * 2) % 24}%02d"}:00:00Z", "proj:epsg": 32735},
       |"assets": {$assets}}""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    def opt(name: String): Option[Int] = args.sliding(2).collectFirst {
      case Array(`name`, v) => v.toInt }
    val grid = opt("--grid").getOrElse(2)
    val n = opt("--scenes")
      .getOrElse(grid * grid * opt("--ntimes").getOrElse(16))
    val cpus = Harness.cpus
    val spark = Harness.session(cpus)
    import spark.implicits._

    val jsons = writeScenes(n, grid)
    val (parsed, schemas) = StacParse.parseItems(jsons)
    val items = parsed.sortBy(_.id)
    val res = Load.load(spark, items, schemas, bands = Bands,
      groupby = "solar_day", chunks = 256)
    res.tiles.persist()
    val npix = res.tiles
      .selectExpr("CAST(width AS BIGINT) * height AS p")
      .agg(org.apache.spark.sql.functions.sum("p")).as[Long].head()

    val crs = res.geobox.crs
    val zones = if (grid == 2)
      // the literal round-14 zones — keeps the depth-axis record
      // (--scenes at G = 2) byte-reproducible
      Seq(
        "rect" -> Geom(IndexedSeq(
          (501000.0, 7996000.0), (506000.0, 7996000.0),
          (506000.0, 7999000.0), (501000.0, 7999000.0)), crs),
        "tri" -> Geom(IndexedSeq(
          (507000.0, 7999500.0), (512000.0, 7999500.0),
          (509500.0, 7993000.0)), crs),
        "holed" -> Geom(IndexedSeq(graft.geo.Poly(
          IndexedSeq((507000.0, 7992000.0), (513000.0, 7992000.0),
            (513000.0, 7995500.0), (507000.0, 7995500.0)),
          IndexedSeq(IndexedSeq((509000.0, 7993000.0), (511000.0, 7993000.0),
            (511000.0, 7994500.0), (509000.0, 7994500.0))))), crs))
    else {
      // grid mode: the same three shapes at the G = 2 literals' areal
      // FRACTIONS of the (now larger) mosaic extent, so the rasterized
      // zone mass scales with the domain and the tiles-axis slope is
      // visible instead of pruned away by a fixed-size corner
      val tr = res.geobox.transform
      val dx = res.geobox.width * Res
      val dy = res.geobox.height * Res
      def fx(f: Double) = tr.c + f * dx
      def fy(f: Double) = tr.f - f * dy
      Seq(
        "rect" -> Geom(IndexedSeq(
          (fx(0.065), fy(0.347)), (fx(0.391), fy(0.347)),
          (fx(0.391), fy(0.087)), (fx(0.065), fy(0.087))), crs),
        "tri" -> Geom(IndexedSeq(
          (fx(0.456), fy(0.043)), (fx(0.781), fy(0.043)),
          (fx(0.618), fy(0.608))), crs),
        "holed" -> Geom(IndexedSeq(graft.geo.Poly(
          IndexedSeq((fx(0.456), fy(0.694)), (fx(0.846), fy(0.694)),
            (fx(0.846), fy(0.391)), (fx(0.456), fy(0.391))),
          IndexedSeq(IndexedSeq((fx(0.586), fy(0.608)),
            (fx(0.716), fy(0.608)), (fx(0.716), fy(0.477)),
            (fx(0.586), fy(0.477)))))), crs))
    }

    val analytics: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "composite_median" -> (() => res.medianComposite()),
      "geomedian" -> (() => res.geomedianComposite(Bands)),
      "focal_mean" -> (() =>
        graft.load.Focal.focalMean(spark, res.tiles, radius = 1)),
      "zonal_stats" -> (() =>
        graft.load.Zonal.zonalStats(spark, res.tiles, res.geobox, zones)))

    val timed = analytics.map { case (name, build) =>
      Harness.timeNoop(build()) // warm (codegen + planning)
      System.gc()
      val runs = Seq.fill(3)(Harness.timeNoop(build()))
      name -> runs.sorted.apply(1)
    }
    val qj = timed.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"metric":"raster_scale","scenes":$n,"grid":$grid,""" +
      s""""days":${res.times.length},"bands":${Bands.size},""" +
      s""""plane_px":$npix,"cpus":$cpus,""" +
      s""""protocol":"median_of_3_post_warm","queries":{$qj}}""")
    spark.stop()
  }
}
