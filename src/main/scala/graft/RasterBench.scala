package graft

import graft.geo.{Affine, Crs, GeoBox}
import graft.load.Load
import graft.raster.Grb
import graft.stac.StacParse
import org.apache.spark.sql.SparkSession

/** Raster-path throughput benchmark, shaped like the reference's bench
  * workload (`docs/benchmarking.rst`: 9 items, 3 bands, solar_day mosaic,
  * uint16): N scenes x B bands -> grouped mosaic; reports output Mpx/s
  * overall and per thread so the number is directly comparable to the
  * reference's 4-5 Mpx/s/thread (BASELINE.md).
  */
object RasterBench {

  val SceneW = 2048
  val SceneH = 1536
  val Res = 10.0
  val Bands = Seq("red", "nir", "blu")

  /** Scene cache keyed by grid dim — geoboxes depend on the layout. */
  private def dir(dim: Int): java.nio.file.Path = {
    val d = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_rbench_v1_d$dim")
    java.nio.file.Files.createDirectories(d)
    d
  }

  /** NxN grid of scenes overlapping half a scene each way. */
  private def gridDim(n: Int): Int = math.ceil(math.sqrt(n.toDouble)).toInt

  private def sceneGeobox(k: Int, dim: Int): GeoBox = {
    val gx = k % dim
    val gy = k / dim
    GeoBox(SceneW, SceneH,
      Affine.grid(400000.0 + gx * (SceneW / 2) * Res,
        8200000.0 - gy * (SceneH / 2) * Res, Res, -Res),
      Crs.Utm(35, south = true))
  }

  def writeScenes(n: Int): Seq[String] = {
    val dim = gridDim(n)
    (0 until n).map { k =>
      val gbox = sceneGeobox(k, dim)
      Bands.foreach { band =>
        val path = dir(dim).resolve(s"s$k-$band.grb")
        if (!java.nio.file.Files.exists(path)) {
          val px = new Array[Double](SceneW * SceneH)
          var i = 0
          while (i < px.length) {
            px(i) = 1 + ((i * 2654435761L + k * 97 + band.hashCode) >>> 40) % 60000
            i += 1
          }
          // nodata stripe so fusing has real holes
          var y = 0
          while (y < SceneH) {
            var x = SceneW * 7 / 8
            while (x < SceneW) { px(y * SceneW + x) = 0.0; x += 1 }
            y += 1
          }
          // atomic publish: an interrupted run must not leave a truncated
          // scene that poisons the exists()-cached path forever
          val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
          Grb.write(tmp.toString, px, gbox, "uint16", Some(0.0))
          java.nio.file.Files.move(tmp, path,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      }
      itemJson(k, gbox, dim)
    }
  }

  private def itemJson(k: Int, gbox: GeoBox, dim: Int): String = {
    val fp = gbox.footprint(Crs.LonLat)
    val ring = (fp.ring :+ fp.ring.head)
      .map { case (x, y) => s"[$x,$y]" }.mkString("[", ",", "]")
    val t = gbox.transform
    val assets = Bands.map { band =>
      s""""$band": {"href": "${dir(dim).resolve(s"s$k-$band.grb")}",
         |  "type": "image/tiff; application=geotiff", "roles": ["data"],
         |  "proj:shape": [${gbox.height}, ${gbox.width}],
         |  "proj:transform": [${t.a}, ${t.b}, ${t.c}, ${t.d}, ${t.e}, ${t.f}],
         |  "raster:bands": [{"nodata": 0, "data_type": "uint16"}]}""".stripMargin
    }.mkString(",")
    s"""{"type": "Feature", "stac_version": "1.0.0", "id": "rb-$k",
       |"collection": "graft-rbench",
       |"stac_extensions": ["https://stac-extensions.github.io/projection/v1.1.0/schema.json"],
       |"geometry": {"type": "Polygon", "coordinates": [$ring]},
       |"properties": {"datetime": "2020-06-06T0${k % 10}:00:00Z", "proj:epsg": 32735},
       |"assets": {$assets}}""".stripMargin
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
    val res = Load.load(spark, items, schemas, bands = Bands,
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
    val threads = Harness.cpus
    val nScenes = sys.env.getOrElse("SPARK_GRAFT_RB_SCENES", "9").toInt
    val spark = Harness.session(threads)
    import spark.implicits._

    val jsons = writeScenes(nScenes)
    val (ds, schemas) = StacParse.parseItems(spark, spark.createDataset(jsons))
    val items = ds.collect().toSeq.sortBy(_.id)

    // mode=warp: cross-CRS reprojection (UTM -> WebMercator) — exercises
    // the per-pixel warp kernel instead of the aligned paste fast path
    val warpMode = sys.env.get("SPARK_GRAFT_RB_MODE").contains("warp")
    def runOnce(): (Double, Long) = {
      val r = loadOnce(spark, items, schemas, warpMode)
      (r.planSec + r.execSec, r.npix)
    }
    runOnce() // warmup (codegen + file cache)
    val (sec, npix) = runOnce()
    val mpxs = npix / 1e6 / sec
    println(f"""{"metric":"raster_mpx_per_s","value":$mpxs%.3f,"unit":"Mpx/s","elapsed_s":$sec%.3f,"npix":$npix,"threads":$threads,"per_thread":${mpxs / threads}%.3f}""")
    spark.stop()
  }
}
