package graft

import graft.geo._
import graft.raster.Grb
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

/** The `raster` DataSource V2 table over GRB files: SQL over pixels, ROI
  * pushdown pruning partitions at plan time, column pruning. */
class GrbSourceSpec extends AnyFunSuite {

  private lazy val spark = GraftSpark.spark
  private val tmp = java.nio.file.Files
    .createTempDirectory("graft_grb_source").toString
  private val crs = Crs.Utm(35, south = true)

  private def writeRaster(name: String, w: Int, h: Int): String = {
    val px = new Array[Double](w * h)
    for (y <- 0 until h; x <- 0 until w) px(y * w + x) = (y * w + x) % 1000
    val path = s"$tmp/$name.grb"
    Grb.write(path, px, GeoBox(w, h, Affine.grid(500000, 8000000, 10, -10), crs),
      "uint16", Some(0))
    path
  }

  test("full scan row count and values match the raster") {
    val path = writeRaster("a", 100, 40)
    val df = spark.read.format("raster").load(path)
    assert(df.count() == 100L * 40)
    val r = df.where("x = 3 AND y = 2").selectExpr("value", "wx", "wy").head()
    assert(r.getDouble(0) == (2 * 100 + 3) % 1000)
    assert(r.getDouble(1) == 500000 + 3.5 * 10) // pixel-center world coords
    assert(r.getDouble(2) == 8000000 - 2.5 * 10)
  }

  test("ROI filters prune input partitions at plan time") {
    // 2048 x 10000 = 20 Mpx -> 5 row-band partitions at the 4 Mpx target
    val path = writeRaster("b", 2048, 10000)
    val df = spark.read.format("raster").load(path)
    def partitions(q: org.apache.spark.sql.DataFrame): Int =
      q.queryExecution.executedPlan.collect {
        case s: BatchScanExec => s.partitions.size
      }.sum
    val full = partitions(df)
    val pruned = partitions(df.where("y >= 100 AND y < 200"))
    assert(full > 1, s"expected multiple partitions, got $full")
    assert(pruned == 1, s"expected ROI to prune to 1 partition, got $pruned")
    // pushdown is a prune, not a filter: result must still be exact
    assert(df.where("y >= 100 AND y < 200").count() == 2048L * 100)
  }

  test("uri filters prune files at plan time") {
    writeRaster("p1", 16, 16)
    writeRaster("p2", 16, 16)
    val df = spark.read.format("raster").load(tmp)
    def partitions(q: org.apache.spark.sql.DataFrame): Int =
      q.queryExecution.executedPlan.collect {
        case s: BatchScanExec => s.partitions.size
      }.sum
    val all = partitions(df.where("uri LIKE '%p_.grb'")) // LIKE not pushable
    val pruned = partitions(df.where(s"uri = '$tmp/p1.grb'"))
    assert(pruned < all && pruned == 1, s"pruned=$pruned all=$all")
    assert(df.where(s"uri = '$tmp/p1.grb'").count() == 16L * 16)
  }

  test("directory scan unions all rasters; SQL aggregates per file") {
    writeRaster("c1", 32, 32)
    writeRaster("c2", 32, 16)
    val dirDf = spark.read.format("raster").load(tmp)
    dirDf.createOrReplaceTempView("grb_px")
    val rows = spark.sql(
      """SELECT uri, COUNT(*) AS n, ROUND(AVG(value), 2) AS mean
        |FROM grb_px WHERE uri LIKE '%c_.grb' GROUP BY uri ORDER BY uri""".stripMargin)
      .collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(32L * 32, 32L * 16))
  }
}
