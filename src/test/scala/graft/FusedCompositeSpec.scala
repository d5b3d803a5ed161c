package graft

import graft.geo.GeoBox
import graft.load.{Composite, Load, LoadResult, TemporalFill, Trend}
import graft.model.{RasterLoadParams, RasterSource}
import graft.raster.{AutoReader, Fixtures, RasterReader}
import graft.stac.StacParse
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The default reader, counting the reads of every task in this JVM. */
private object CountingReader extends RasterReader {
  val reads = new AtomicLong
  def read(src: RasterSource, cfg: RasterLoadParams, g: GeoBox, nd: Double) =
    AutoReader.read(src, cfg, g, nd)
  def readInto(src: RasterSource, cfg: RasterLoadParams, g: GeoBox,
               nd: Double, out: Array[Double]): Long = {
    reads.incrementAndGet()
    AutoReader.readInto(src, cfg, g, nd, out)
  }
}

/** The fused gather of `Composite.rechunk`: a driver-binned load's
  * composites read their own bins in the task that reduces them. Every
  * `LoadResult` wrapper must equal the raw `Composite.*` / `TemporalFill`
  * / `Trend` spelling over the same `tiles` (the shuffle gather) row for
  * row, run as one job with no shuffle, and fall back to the shuffle for
  * tiles that are not the load's own or are persisted. */
class FusedCompositeSpec extends AnyFunSuite {
  import GraftSpark.spark

  private def load(jsons: Seq[String], bands: Seq[String], groupby: String,
                   crs: Option[String] = None, resolution: Option[Double] = None,
                   resampling: Map[String, String] = Map.empty): LoadResult = {
    val (items, schemas) = StacParse.parseItems(jsons)
    Load.load(spark, items, schemas, bands = bands, groupby = groupby,
      chunks = 48, crs = crs, resolution = resolution,
      resampling = resampling)
  }

  /** Whole-row string dump: equal dumps are bit-equal rows, NaN included. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Every LoadResult wrapper against its raw spelling on `res.tiles`. */
  private def assertFusedEqualsRechunk(res: LoadResult, b1: String,
                                       b2: String): Unit = {
    val t = res.times.length
    val bands = Seq(b1, b2)
    val t0 = res.times.map(_.getTime / 1000L).min
    val clear: Double => Boolean = v => !v.isNaN && v.toLong % 3 != 0
    val pairs: Seq[(String, DataFrame, DataFrame)] = Seq(
      ("median", res.medianComposite(),
        Composite.medianAcrossTime(spark, res.tiles, t)),
      ("quantile", res.quantileComposite(0.3),
        Composite.quantileAcrossTime(spark, res.tiles, 0.3, t)),
      ("masked median", res.maskedMedianComposite(b1, b2, clear),
        Composite.maskedMedianAcrossTime(spark, res.tiles, b1, b2, clear,
          2 * t)),
      ("geomedian", res.geomedianComposite(bands),
        Composite.geomedianAcrossTime(spark, res.tiles, bands, 2 * t)),
      ("geomad", res.geomadComposite(bands),
        Composite.geomadAcrossTime(spark, res.tiles, bands, 2 * t)),
      ("temporal fill", res.temporalFill(),
        TemporalFill.fillAcrossTime(spark, res.tiles, t)),
      ("theil-sen", res.trendRobust(),
        Trend.theilSenAcrossTime(spark, res.tiles, t0, t)))
    pairs.foreach { case (name, fused, raw) =>
      val f = rowsOf(fused)
      assert(f.nonEmpty, s"$name: no rows")
      assert(f == rowsOf(raw), s"$name: fused rows differ from rechunk")
    }
  }

  test("fused == rechunk: GRB paste load with temporal holes") {
    val res = load(Fixtures.writeScenesGap(), Seq("red", "nir"), "solar_day")
    assert(res.gather.plan.isDefined)
    assertFusedEqualsRechunk(res, "red", "nir")
  }

  test("fused == rechunk: QA-masked load where one time has no mask plane") {
    // drop the middle scene's qa asset: that time has a red bin only
    val jsons = Fixtures.writeScenesQa(3).zipWithIndex.map { case (j, k) =>
      if (k != 1) j
      else {
        val i = j.indexOf(",\n    \"qa\": {")
        j.substring(0, i) + j.substring(j.indexOf("\n    }", i) + 6)
      }
    }
    val res = load(jsons, Seq("red", "qa"), "id")
    val qaTimes = res.tiles.where(col("band") === "qa")
      .select("tIdx").distinct().count()
    assert(res.times.length == 3 && qaTimes == 2)
    assertFusedEqualsRechunk(res, "red", "qa")
    // a missing mask plane keeps the observation: 3 observations where
    // the middle time is unmasked, not 2
    val counts = res.maskedMedianComposite("red", "qa", _ == 1.0)
      .select("count").collect()
      .flatMap(_.getAs[scala.collection.Seq[Int]](0))
    assert(counts.max == 3)
  }

  test("fused == rechunk: bilinear warp load (encode rounding)") {
    val res = load(Fixtures.writeScenes(4), Seq("red", "nir"), "solar_day",
      crs = Some("EPSG:3857"), resolution = Some(13.0),
      resampling = Map("*" -> "bilinear"))
    assertFusedEqualsRechunk(res, "red", "nir")
  }

  test("fused == rechunk: groupby=id with two items at one datetime") {
    val jsons = Fixtures.writeScenes(4)
    val same = jsons.updated(1, jsons(1).replace("2020-06-06T08:01:00Z",
      "2020-06-06T08:00:00Z"))
    assert(same(1) != jsons(1))
    val res = load(same, Seq("red", "nir"), "id")
    assert(res.times.length == 4 && res.times.distinct.length == 3)
    assertFusedEqualsRechunk(res, "red", "nir")
  }

  test("a copied or hand-built result rechunks the tiles it was given") {
    val res = load(Fixtures.writeScenes(4), Seq("red", "nir"), "solar_day")
    val one = res.tiles.where(col("ty") === 0 && col("tx") === 1)
    val copied = res.copy(tiles = one)
    assert(copied.gather == Composite.Gather(one))
    val rows = copied.medianComposite().collect()
    assert(rows.nonEmpty &&
      rows.forall(r => r.getAs[Int]("ty") == 0 && r.getAs[Int]("tx") == 1))
    assert(rows.map(_.toString).sorted.toSeq == rowsOf(
      res.medianComposite().where(col("ty") === 0 && col("tx") === 1)))
    val byHand = LoadResult(one, res.geobox, res.times, res.dtypes, res.nodata)
    assert(byHand.gather == Composite.Gather(one))
  }

  test("a persisted result's composites read its cached tiles") {
    val reads = CountingReader.reads
    val (items, schemas) = StacParse.parseItems(Fixtures.writeScenes(4))
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 48, reader = CountingReader)
    val fused = rowsOf(res.medianComposite())
    assert(reads.get > 0)
    res.tiles.persist()
    try {
      assert(res.gather == Composite.Gather(res.tiles))
      res.tiles.count()
      reads.set(0)
      assert(rowsOf(res.medianComposite()) == fused)
      assert(reads.get == 0, s"${reads.get} raster reads past the cache")
    } finally res.tiles.unpersist(blocking = true)
    assert(res.gather.plan.isDefined)
  }

  test("count pin: a fused geomedian is one job with no shuffle bytes") {
    val jsons = Fixtures.writeScenes(4)
    val bands = Seq("red", "nir")
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val shuffled = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(e.taskMetrics).foreach(m =>
          shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      }
    }
    val fused = load(jsons, bands, "solar_day").geomedianComposite(bands)
    Harness.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    val rows =
      try {
        val out = fused.collect()
        Harness.drainListeners(spark)
        out
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 1, s"${jobs.get} jobs")
    assert(shuffled.get == 0L, s"${shuffled.get} shuffle bytes written")
    // one slicing policy: more tile groups than two per core still run
    // in at most two tasks per core
    val maxTasks = 2 * spark.sparkContext.defaultParallelism
    val groups = rows.map(r => (r.getAs[Int]("ty"), r.getAs[Int]("tx")))
      .distinct.length
    assert(groups > maxTasks, s"only $groups tile groups")
    assert(tasks.get <= maxTasks, s"${tasks.get} tasks for $groups groups")
  }
}
