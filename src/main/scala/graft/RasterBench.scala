package graft

import graft.geo.{Affine, Crs, GeoBox, Geom}
import graft.load.{Focal, Load, Zonal}
import graft.raster.{Fixtures, Grb}
import graft.stac.StacParse
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The raster benchmark. Prints ONE JSON line.
  *
  * `--mode paste|warp` (default paste) times the load, shaped like the
  * reference's bench workload (`docs/benchmarking.rst`: 9 items, 3
  * bands, solar_day mosaic, uint16): N [[Mosaic]] scenes -> grouped
  * mosaic, one warm run then one timed run; it reports output Mpx/s
  * overall and per thread, comparable to the reference's 4-5
  * Mpx/s/thread (BASELINE.md). `warp` reprojects UTM -> WebMercator,
  * exercising the per-pixel warp kernel instead of the aligned paste.
  *
  * `--mode analytics` times the raster ANALYTICS family at archive
  * depth: N [[Depth]] scenes loaded once (solar_day, persisted), then
  * `composite_median` and `geomedian` (across-time composites whose
  * per-task state the row-band-sliced plan bounds at any depth),
  * `focal_mean` (3×3 halo-exchange stencil over all T planes) and
  * `zonal_stats` (three polygon zones over all T planes), each forced
  * through the noop sink, one discarded warm run then the median of 3
  * (the `Bench` protocol).
  *
  * `--scenes N` and `--grid G` lay the scenes out: scene k sits at cell
  * k % G² of a G×G half-overlap grid, on day k / G², so there are
  * T = N / G² days. Defaults: paste/warp N = 9 and the smallest G that
  * fits every scene on one day; analytics G = 2 and N = 16·G². More
  * days deepen the per-pixel time series (where composites cost); a
  * larger G grows the mosaic plane (~((G+1)/2)² scenes) at fixed depth.
  *
  * Usage: `runMain graft.RasterBench [--mode paste|warp|analytics]
  * [--scenes N] [--grid G]`.
  */
object RasterBench {

  val Res = 10.0

  /** A bench scene shape: `w`×`h` uint16 pixels per band at 10 m in UTM
    * 35S, grid cell (0, 0) at (`x0`, `y0`). Scene k is item `<name>-k` of
    * collection `graft-<name>`, at cell g = k % G² on day
    * `day0` + k / G², hour (g · `hourStep`) % `hourWrap`: fuse order
    * within a day follows the hour, then the id. */
  final case class Shape(name: String, w: Int, h: Int, bands: Seq[String],
      x0: Double, y0: Double, day0: java.time.LocalDate, hourStep: Int,
      hourWrap: Int)

  /** Load-throughput scenes (paste/warp). */
  val Mosaic: Shape = Shape("rbench", 2048, 1536, Seq("red", "nir", "blu"),
    400000.0, 8200000.0, java.time.LocalDate.of(2020, 6, 6), 1, 10)

  /** Analytics scenes (analytics mode). */
  val Depth: Shape = Shape("rscale", 1024, 768, Seq("red", "nir"),
    500000.0, 8000000.0, java.time.LocalDate.of(2020, 1, 1), 2, 24)

  /** Smallest grid side that fits `n` scenes on one day. */
  def mosaicGrid(n: Int): Int = math.ceil(math.sqrt(n.toDouble)).toInt

  /** Scene cache per (shape, grid): a scene's GRB header bakes in its
    * geobox, which depends on the grid side. */
  private def dir(shape: Shape, grid: Int): java.nio.file.Path = {
    val d = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${shape.name}_g$grid")
    java.nio.file.Files.createDirectories(d)
    d
  }

  private[graft] def scenePath(shape: Shape, grid: Int, k: Int,
      band: String): java.nio.file.Path =
    dir(shape, grid).resolve(s"s$k-$band.grb")

  /** Write scenes 0 until `n` of `shape` on the `grid`×`grid` layout
    * (each scene once, behind a completion marker) and return their STAC
    * item JSONs. Pixels are a hash ramp varying with scene and band, so
    * fuse and composite inputs are non-degenerate, with a nodata stripe
    * over the right eighth, so first-valid fusing fills real holes. */
  def writeScenes(shape: Shape, n: Int, grid: Int): Seq[String] =
    (0 until n).map { k =>
      val g = k % (grid * grid)
      val gbox = GeoBox(shape.w, shape.h,
        Affine.grid(shape.x0 + (g % grid) * (shape.w / 2) * Res,
          shape.y0 - (g / grid) * (shape.h / 2) * Res, Res, -Res),
        Crs.Utm(35, south = true))
      Fixtures.completed(dir(shape, grid), s"s$k") {
        shape.bands.foreach { band =>
          val px = new Array[Double](shape.w * shape.h)
          var i = 0
          while (i < px.length) {
            px(i) = (1 + ((i * 2654435761L + k * 97 + band.hashCode) >>> 40) % 60000).toDouble
            i += 1
          }
          var y = 0
          while (y < shape.h) {
            var x = shape.w * 7 / 8
            while (x < shape.w) { px(y * shape.w + x) = 0.0; x += 1 }
            y += 1
          }
          Grb.write(scenePath(shape, grid, k, band).toString, px, gbox,
            "uint16", Some(0.0))
        }
      }
      val time = shape.day0.plusDays((k / (grid * grid)).toLong)
        .atTime(g * shape.hourStep % shape.hourWrap, 0)
      Fixtures.item(s"${shape.name}-$k", s"graft-${shape.name}", gbox, time,
        s"graft-${shape.name}", shape.bands.map(b => Fixtures.asset(b,
          scenePath(shape, grid, k, b).toString, gbox, Res, Seq(b -> b))))
    }

  /** One timed load. `planSec` covers driver-side planning (the analog
    * of the reference's submit phase), `execSec` the distributed read+
    * fuse (its persist-wait phase) — [[BenchCli]] reports both, like
    * `run_bench`'s (t0, t_submit, t_persist) triple (`_run.py:425-485`). */
  final case class RunSample(planSec: Double, execSec: Double, npix: Long)

  def loadOnce(spark: SparkSession, items: Seq[graft.model.ParsedItem],
               schemas: Map[String, graft.model.CollectionMetadata],
               warpMode: Boolean): RunSample = {
    val t0 = System.nanoTime()
    val res = Load.load(spark, items, schemas, bands = Mosaic.bands,
      groupby = "solar_day", chunks = 1024,
      crs = if (warpMode) Some("EPSG:3857") else None,
      resolution = if (warpMode) Some(Res) else None)
    val tPlan = System.nanoTime()
    val npix = res.tiles
      .selectExpr("coalesce(sum(width * height), 0) AS n").head().getLong(0)
    require(npix > 0, "load produced no tiles — bench setup is broken")
    val tEnd = System.nanoTime()
    RunSample((tPlan - t0) / 1e9, (tEnd - tPlan) / 1e9, npix)
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)
    try println(run(spark, args)) finally spark.stop()
  }

  /** The bench on `spark`, configured by `args`; returns its JSON line. */
  def run(spark: SparkSession, args: Array[String]): String = {
    def opt(name: String) = Harness.opt(args, name).map(_.toInt)
    val threads = spark.sparkContext.defaultParallelism
    Harness.opt(args, "mode").getOrElse("paste") match {
      case mode @ ("paste" | "warp") =>
        val n = opt("scenes").getOrElse(9)
        loadThroughput(spark, writeScenes(Mosaic, n,
          opt("grid").getOrElse(mosaicGrid(n))), mode == "warp", threads)
      case "analytics" =>
        val grid = opt("grid").getOrElse(2)
        analytics(spark, opt("scenes").getOrElse(16 * grid * grid), grid,
          threads)
      case m => throw new IllegalArgumentException(
        s"bad --mode $m (paste|warp|analytics)")
    }
  }

  private def loadThroughput(spark: SparkSession, jsons: Seq[String],
      warpMode: Boolean, threads: Int): String = {
    // (parse seconds, load seconds, output pixels): JSON in -> tiles out
    def runOnce(): (Double, Double, Long) = {
      val t0 = System.nanoTime()
      val (items, schemas) = StacParse.parseItems(jsons)
      val parseSec = (System.nanoTime() - t0) / 1e9
      val r = loadOnce(spark, items.sortBy(_.id), schemas, warpMode)
      (parseSec, r.planSec + r.execSec, r.npix)
    }
    runOnce() // warmup (codegen + file cache)
    val (parseSec, sec, npix) = runOnce()
    // `value` times Load.load alone; `e2e_mpx_per_s` also counts the parse
    val mpxs = npix / 1e6 / sec
    val e2e = npix / 1e6 / (parseSec + sec)
    f"""{"metric":"raster_mpx_per_s","value":$mpxs%.3f,"unit":"Mpx/s","elapsed_s":$sec%.3f,"parse_s":$parseSec%.4f,"e2e_mpx_per_s":$e2e%.3f,"npix":$npix,"threads":$threads,"per_thread":${mpxs / threads}%.3f}"""
  }

  private def analytics(spark: SparkSession, n: Int, grid: Int,
      cpus: Int): String = {
    import spark.implicits._
    val bands = Depth.bands
    val (parsed, schemas) = StacParse.parseItems(writeScenes(Depth, n, grid))
    val res = Load.load(spark, parsed.sortBy(_.id), schemas, bands = bands,
      groupby = "solar_day", chunks = 256)
    res.tiles.persist()
    val npix = res.tiles
      .selectExpr("CAST(width AS BIGINT) * height AS p")
      .agg(org.apache.spark.sql.functions.sum("p")).as[Long].head()

    // three zones at fixed areal fractions of the mosaic extent, so the
    // rasterized zone mass grows with the domain at every G
    val crs = res.geobox.crs
    val tr = res.geobox.transform
    def fx(f: Double) = tr.c + f * res.geobox.width * Res
    def fy(f: Double) = tr.f - f * res.geobox.height * Res
    val zones = Seq(
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

    val queries: Seq[(String, () => DataFrame)] = Seq(
      "composite_median" -> (() => res.medianComposite()),
      "geomedian" -> (() => res.geomedianComposite(bands)),
      "focal_mean" -> (() => Focal.focalMean(spark, res.tiles, radius = 1)),
      "zonal_stats" -> (() =>
        Zonal.zonalStats(spark, res.tiles, res.geobox, zones)))
    val timed = queries.map { case (name, build) =>
      Harness.timeNoop(build()) // warm (codegen + planning)
      System.gc()
      val runs = Seq.fill(3)(Harness.timeNoop(build()))
      name -> runs.sorted.apply(1)
    }
    res.tiles.unpersist()
    val qj = timed.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"metric":"raster_scale","scenes":$n,"grid":$grid,""" +
      s""""days":${res.times.length},"bands":${bands.size},""" +
      s""""plane_px":$npix,"cpus":$cpus,""" +
      s""""protocol":"median_of_3_post_warm","queries":{$qj}}"""
  }
}
