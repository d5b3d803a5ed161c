package graft

import graft.geo._
import graft.raster.{Grb, NetCdf, Tiff, Zarr}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Unified `raster` DataSource V2 table: one pixel-table surface over
  * GeoTIFF + GRB + zarr + netCDF mixes, containers expanded to
  * `uri#variable` sources, with ROI/band/uri pushdown. */
class RasterAnySourceSpec extends AnyFunSuite {

  private lazy val spark = GraftSpark.spark
  private val tmp = java.nio.file.Files
    .createTempDirectory("graft_rasterany").toString
  private val crs = Crs.Utm(35, south = true)

  private def gbox(w: Int, h: Int) =
    GeoBox(w, h, Affine.grid(500000, 8000000, 10, -10), crs)

  private def partitions(q: org.apache.spark.sql.DataFrame): Int =
    q.queryExecution.executedPlan.collect {
      case s: BatchScanExec => s.partitions.size
    }.sum

  private val (w, h) = (100, 70)
  private val red = Array.tabulate(w * h)(i => (i % 977).toDouble)
  private val nir = red.map(v => v + 5000)

  private lazy val dir: String = {
    val g = gbox(w, h)
    Grb.writeWithOverviews(s"$tmp/a.grb", red, g, "uint16", Some(0.0))
    Tiff.write(s"$tmp/a.tif", red, g, "uint16", Some(0.0),
      tileSize = Some(64))
    Zarr.write(s"$tmp/s.zarr", "red", red, g, "uint16", Some(0.0))
    Zarr.write(s"$tmp/s.zarr", "nir", nir, g, "uint16", Some(0.0),
      zlib = true)
    NetCdf.write(s"$tmp/c.nc", Seq("red" -> red, "nir" -> nir), g,
      "int16", Some(0.0))
    tmp
  }

  test("mixed directory: containers expand; same plane reads identically " +
    "through every format") {
    val df = spark.read.format("raster").load(dir).cache()
    val sums = df.groupBy("uri").sum("value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sums.keySet == Set(s"$dir/a.grb", s"$dir/a.tif",
      s"$dir/s.zarr#red", s"$dir/s.zarr#nir", s"$dir/c.nc#red",
      s"$dir/c.nc#nir"))
    val redSum = sums(s"$dir/a.grb")
    assert(sums(s"$dir/a.tif") == redSum)
    assert(sums(s"$dir/s.zarr#red") == redSum)
    assert(sums(s"$dir/c.nc#red") == redSum)
    assert(sums(s"$dir/s.zarr#nir") == sums(s"$dir/c.nc#nir"))
    assert(sums(s"$dir/s.zarr#nir") == redSum + 5000.0 * w * h)
    df.unpersist(false)
  }

  test("uri suffix predicate prunes subdataset partitions at plan time") {
    val df = spark.read.format("raster").load(dir)
    val all = partitions(df)
    val nirOnly = df.where("uri LIKE '%#nir'")
    assert(partitions(nirOnly) * 3 == all,
      s"all=$all nir=${partitions(nirOnly)}") // 2 of 6 uris survive
    assert(nirOnly.select("uri").distinct().count() == 2)
  }

  test("ROI and world coordinates behave like the single-format sources") {
    val df = spark.read.format("raster").load(s"$dir/c.nc#red")
    val r = df.where("x = 3 AND y = 2").selectExpr("value", "wx", "wy").head()
    assert(r.getDouble(0) == (2 * w + 3) % 977)
    assert(r.getDouble(1) == 500000 + 3.5 * 10)
    assert(r.getDouble(2) == 8000000 - 2.5 * 10)
    assert(df.where("y >= 10 AND y < 20").count() == w.toLong * 10)
  }

  test("an upper-case .ZARR store path loads as a store, not a directory") {
    val store = s"$tmp/upper/S.ZARR" // own dir: `dir` lists tmp itself
    Zarr.write(store, "red", red, gbox(w, h), "uint16", Some(0.0))
    Zarr.write(store, "nir", nir, gbox(w, h), "uint16", Some(0.0))
    val df = spark.read.format("raster").load(store)
    assert(df.select("uri").distinct().collect().map(_.getString(0)).toSet ==
      Set(s"$store#red", s"$store#nir"))
    assert(df.count() == 2L * w * h)
  }

  test("multi-band TIFF through the unified source: band pruning holds") {
    val path = s"$tmp/m3.tif"
    val bands = (1 to 3).map(b => red.map(_ + b * 10000))
    Tiff.writeBands(path, bands, gbox(w, h), "uint16", Some(0.0))
    val df = spark.read.format("raster").load(path)
    assert(df.count() == w.toLong * h * 3)
    val all = partitions(df)
    val one = partitions(df.where("band = 2"))
    assert(all == 3 * one, s"all=$all one=$one")
    assert(df.where("band = 2").selectExpr("min(value)").head().getDouble(0)
      == 20000.0)
  }
}
