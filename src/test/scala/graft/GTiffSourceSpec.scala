package graft

import graft.geo._
import graft.raster.Tiff
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

/** The `raster` DataSource V2 table over GeoTIFF: SQL over pixels of real
  * TIFF containers, with ROI + band pruning at plan time (multi-band
  * stacks scan only the addressed plane). */
class GTiffSourceSpec extends AnyFunSuite {

  private lazy val spark = GraftSpark.spark
  private val tmp = java.nio.file.Files
    .createTempDirectory("graft_gtiff_source").toString
  private val crs = Crs.Utm(35, south = true)

  private def gbox(w: Int, h: Int) =
    GeoBox(w, h, Affine.grid(500000, 8000000, 10, -10), crs)

  private def writeSingle(name: String, w: Int, h: Int): String = {
    val px = Array.tabulate(w * h)(i => (i % 1000).toDouble)
    val path = s"$tmp/$name.tif"
    Tiff.write(path, px, gbox(w, h), "uint16", Some(0.0), tileSize = Some(64))
    path
  }

  private def writeMulti(name: String, w: Int, h: Int, nBands: Int): String = {
    val bands = (1 to nBands).map(b =>
      Array.tabulate(w * h)(i => (i % 1000 + b * 1000).toDouble))
    val path = s"$tmp/$name.tif"
    Tiff.writeBands(path, bands, gbox(w, h), "uint16", Some(0.0))
    path
  }

  private def partitions(q: org.apache.spark.sql.DataFrame): Int =
    q.queryExecution.executedPlan.collect {
      case s: BatchScanExec => s.partitions.size
    }.sum

  test("full scan: rows = pixels x bands; values and world coords exact") {
    val path = writeMulti("m3", 40, 20, nBands = 3)
    val df = spark.read.format("raster").load(path)
    assert(df.count() == 40L * 20 * 3)
    val r = df.where("x = 3 AND y = 2 AND band = 2")
      .selectExpr("value", "wx", "wy").head()
    assert(r.getDouble(0) == (2 * 40 + 3) % 1000 + 2000)
    assert(r.getDouble(1) == 500000 + 3.5 * 10)
    assert(r.getDouble(2) == 8000000 - 2.5 * 10)
  }

  test("band = k prunes the other planes' partitions at plan time") {
    val path = writeMulti("m5", 64, 32, nBands = 5)
    val df = spark.read.format("raster").load(path)
    val all = partitions(df)
    val one = partitions(df.where("band = 4"))
    assert(all == 5 * one, s"all=$all one=$one")
    assert(df.where("band = 4").count() == 64L * 32)
    assert(df.where("band = 4").selectExpr("min(value)").head().getDouble(0)
      == 4000.0)
  }

  test("ROI filters prune row-band partitions; result stays exact") {
    val path = writeSingle("big", 2048, 10000)
    val df = spark.read.format("raster").load(path)
    val full = partitions(df)
    val pruned = partitions(df.where("y >= 100 AND y < 200"))
    assert(full > 1, s"expected multiple partitions, got $full")
    assert(pruned == 1, s"expected ROI to prune to 1 partition, got $pruned")
    assert(df.where("y >= 100 AND y < 200").count() == 2048L * 100)
  }

  test("named-subdataset URI (#name) reads the addressed container image") {
    val w = 32; val h = 16
    val subs = Seq("sst", "mask").zipWithIndex.map { case (n, k) =>
      (n, Array.tabulate(w * h)(i => (i % 100 + (k + 1) * 100).toDouble),
        gbox(w, h), "uint16", Some(0.0): Option[Double])
    }
    val path = s"$tmp/container.tif"
    Tiff.writeSubdatasets(path, subs)
    // every Tiff entry point accepts path#name via splitUri resolution
    assert(Tiff.readHeader(s"$path#mask").geobox == gbox(w, h))
    assert(Tiff.readWindow(s"$path#mask", 0, 0, 1, 1).head == 200.0)
    // ...including the DSv2 source
    val df = spark.read.format("raster").load(s"$path#sst")
    assert(df.count() == w.toLong * h)
    assert(df.selectExpr("min(value)").head().getDouble(0) == 100.0)
    val df2 = spark.read.format("raster").load(s"$path#mask")
    assert(df2.selectExpr("min(value)").head().getDouble(0) == 200.0)
  }

  test("subdataset pyramids: overviews attach to their parent image") {
    val w = 64; val h = 32
    val subs = Seq("a", "b").zipWithIndex.map { case (n, k) =>
      (n, Array.tabulate(w * h)(i => (i % 100 + (k + 1) * 100).toDouble),
        gbox(w, h), "uint16", Some(0.0): Option[Double])
    }
    val path = s"$tmp/pyr.tif"
    Tiff.writeSubdatasets(path, subs, overviews = Seq(2))
    // layout: [a, a.ovr2, b, b.ovr2] — each pyramid is the unnamed run
    // following its parent
    val la = Tiff.overviewLevels(s"$path#a")
    val lb = Tiff.overviewLevels(s"$path#b")
    assert(la.map(_._1) == Seq(2) && lb.map(_._1) == Seq(2))
    assert(la.head._2 == s"$path#1" && lb.head._2 == s"$path#3")
    // the overview's geobox derives from ITS parent, not image 0
    val hb = Tiff.readHeader(lb.head._2)
    assert(hb.geobox.width == w / 2 && hb.geobox.height == h / 2)
    assert(hb.geobox.resX == 20.0) // 2x the parent's 10 m grid
    assert(hb.nodata.contains(0.0))
    assert(Tiff.readWindow(lb.head._2, 0, 0, 1, 1).head == 200.0)
    // the base image's own listing stops at the next named subdataset
    assert(Tiff.overviewLevels(path).map(_._2) == Seq(s"$path#1"))
    // digit-only names are rejected at write time: the fragment would
    // parse as an image index and the name would be unreachable
    assertThrows[IllegalArgumentException] {
      Tiff.writeSubdatasets(s"$tmp/bad.tif",
        Seq(("7", Array.fill(16)(0.0), gbox(4, 4), "uint16", None)))
    }
  }

  test("uri pruning + per-file SQL aggregate over a directory") {
    writeSingle("d1", 32, 32)
    writeSingle("d2", 32, 16)
    val dirDf = spark.read.format("raster").load(tmp)
    val pruned = partitions(dirDf.where(s"uri = '$tmp/d1.tif'"))
    assert(pruned == 1)
    dirDf.createOrReplaceTempView("gtiff_px")
    val rows = spark.sql(
      """SELECT uri, COUNT(*) AS n FROM gtiff_px
        |WHERE uri LIKE '%d_.tif' GROUP BY uri ORDER BY uri""".stripMargin)
      .collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(32L * 32, 32L * 16))
  }
}
