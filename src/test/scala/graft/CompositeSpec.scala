package graft

import graft.load.{Composite, Fuse, Load}
import graft.raster.Fixtures
import graft.stac.StacParse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

/** Across-time composite Aggregator: nodata-aware per-pixel mean/min/
  * max/count over time planes, partial-aggregation-safe. */
class CompositeSpec extends AnyFunSuite {
  import GraftSpark.spark

  /** Load's tile schema carries each plane's acquisition `time`, which
    * the rechunk plan orders planes by; stamp plane `tIdx` at day tIdx. */
  private def timed(rows: DataFrame): DataFrame = rows.withColumn("time",
    expr("timestampadd(DAY, tIdx, timestamp'2020-06-01 00:00:00')"))

  test("mean/min/max/count over synthetic planes with holes") {
    import spark.implicits._
    // two 2x2 planes, uint16 nodata=0:
    //   t0: (10, 0, 30, 40)   t1: (20, 20, 0, 60)
    val rows = Seq(
      ("b", 0, 0, 0, Fuse.encode(Array(10.0, 0.0, 30.0, 40.0), "uint16"),
        "uint16", 0.0, 2, 2),
      ("b", 1, 0, 0, Fuse.encode(Array(20.0, 20.0, 0.0, 60.0), "uint16"),
        "uint16", 0.0, 2, 2)
    ).toDF("band", "tIdx", "ty", "tx", "data", "dtype", "nodata", "width", "height")
    val out = Composite.acrossTime(spark, rows).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[scala.collection.Seq[Double]]("mean").toSeq == Seq(15.0, 20.0, 30.0, 50.0))
    assert(r.getAs[scala.collection.Seq[Double]]("min").toSeq == Seq(10.0, 20.0, 30.0, 40.0))
    assert(r.getAs[scala.collection.Seq[Double]]("max").toSeq == Seq(20.0, 20.0, 30.0, 60.0))
    assert(r.getAs[scala.collection.Seq[Int]]("count").toSeq == Seq(2, 1, 1, 2))
  }

  test("median over synthetic planes: robust to outliers, hole-aware") {
    import spark.implicits._
    // three 2x2 planes, uint16 nodata=0; pixel stories:
    //   p0: 10/20/900  -> median 20 (the outlier 900 does NOT drag it;
    //       mean would be 310)
    //   p1: 0/20/40    -> hole in t0: median of (20,40) = 30
    //   p2: 30/0/0     -> single valid value -> 30
    //   p3: 0/0/0      -> no valid values -> NaN, count 0
    val rows = Seq(
      ("b", 0, 0, 0, Fuse.encode(Array(10.0, 0.0, 30.0, 0.0), "uint16"),
        "uint16", 0.0, 2, 2),
      ("b", 1, 0, 0, Fuse.encode(Array(20.0, 20.0, 0.0, 0.0), "uint16"),
        "uint16", 0.0, 2, 2),
      ("b", 2, 0, 0, Fuse.encode(Array(900.0, 40.0, 0.0, 0.0), "uint16"),
        "uint16", 0.0, 2, 2)
    ).toDF("band", "tIdx", "ty", "tx", "data", "dtype", "nodata", "width", "height")
    val out = Composite.medianAcrossTime(spark, timed(rows), planesPerTile = 3)
      .collect()
    assert(out.length == 1)
    val r = out.head
    val med = r.getAs[scala.collection.Seq[Double]]("median").toSeq
    assert(med(0) == 20.0 && med(1) == 30.0 && med(2) == 30.0 && med(3).isNaN)
    assert(r.getAs[scala.collection.Seq[Int]]("count").toSeq == Seq(3, 2, 1, 0))
  }

  test("quantile: quantile_cont convention, q=0.5 equals the median") {
    import spark.implicits._
    // pixel stories over three planes:
    //   p0: 10/20/40 -> q25 at pos 0.5 = 15, q75 at pos 1.5 = 30
    //   p1: 0/20/40  -> two valid: q25 = 25, q75 = 35
    //   p2: 30/0/0   -> single valid: both quartiles = 30
    //   p3: 0/0/0    -> NaN
    val rows = Seq(
      ("b", 0, 0, 0, Fuse.encode(Array(10.0, 0.0, 30.0, 0.0), "uint16"),
        "uint16", 0.0, 2, 2),
      ("b", 1, 0, 0, Fuse.encode(Array(20.0, 20.0, 0.0, 0.0), "uint16"),
        "uint16", 0.0, 2, 2),
      ("b", 2, 0, 0, Fuse.encode(Array(40.0, 40.0, 0.0, 0.0), "uint16"),
        "uint16", 0.0, 2, 2)
    ).toDF("band", "tIdx", "ty", "tx", "data", "dtype", "nodata", "width", "height")
    val q25 = Composite.quantileAcrossTime(spark, timed(rows), 0.25,
      planesPerTile = 3).collect().head
      .getAs[scala.collection.Seq[Double]]("quantile").toSeq
    assert(q25(0) == 15.0 && q25(1) == 25.0 && q25(2) == 30.0 && q25(3).isNaN)
    val q75 = Composite.quantileAcrossTime(spark, timed(rows), 0.75,
      planesPerTile = 3).collect().head
      .getAs[scala.collection.Seq[Double]]("quantile").toSeq
    assert(q75(0) == 30.0 && q75(1) == 35.0 && q75(2) == 30.0 && q75(3).isNaN)
    val q50 = Composite.quantileAcrossTime(spark, timed(rows), 0.5,
      planesPerTile = 3).collect().head
      .getAs[scala.collection.Seq[Double]]("quantile").toSeq
    val med = Composite.medianAcrossTime(spark, timed(rows),
      planesPerTile = 3).collect().head
      .getAs[scala.collection.Seq[Double]]("median").toSeq
    assert(q50.zip(med).forall { case (a, b) =>
      (a.isNaN && b.isNaN) || a == b })
  }

  test("masked median: cloudy obs excluded, missing mask keeps, nodata masks") {
    import spark.implicits._
    // red planes t0/t1/t2: (10, 10, 10, 10) / (100, 100, 100, 0) /
    //                      (30, 30, 30, 30); qa planes only for t0/t1:
    //   t0 qa: (1, 1, 1, 1)      t1 qa: (1, 2, 0, 1)
    // pixel stories:
    //   p0: all clear -> median(10,100,30) = 30
    //   p1: t1 CLOUDY (qa=2) though red valid -> median(10,30) = 20
    //   p2: t1 qa NODATA -> masks out -> median(10,30) = 20
    //   p3: t1 red nodata; t2 has NO mask plane (kept) -> median(10,30) = 20
    def row(band: String, t: Int, vals: Array[Double]) =
      (band, t, 0, 0, Fuse.encode(vals, "uint16"), "uint16", 0.0, 4, 1)
    val rows = Seq(
      row("red", 0, Array(10.0, 10.0, 10.0, 10.0)),
      row("red", 1, Array(100.0, 100.0, 100.0, 0.0)),
      row("red", 2, Array(30.0, 30.0, 30.0, 30.0)),
      row("qa", 0, Array(1.0, 1.0, 1.0, 1.0)),
      row("qa", 1, Array(1.0, 2.0, 0.0, 1.0))
    ).toDF("band", "tIdx", "ty", "tx", "data", "dtype", "nodata",
      "width", "height")
    val out = Composite.maskedMedianAcrossTime(spark, timed(rows), "red",
      "qa", _ == 1.0, planesPerTile = 2 * 3).collect()
    assert(out.length == 1)
    val med = out.head.getAs[scala.collection.Seq[Double]]("median").toSeq
    assert(med == Seq(30.0, 20.0, 20.0, 20.0))
    assert(out.head.getAs[scala.collection.Seq[Int]]("count").toSeq ==
      Seq(3, 2, 2, 2))
  }

  test("composite over a real load: count matches per-pixel source coverage") {
    import spark.implicits._
    val jsons = Fixtures.writeScenes(4)
    val (ds, schemas) = StacParse.parseItems(spark, spark.createDataset(jsons))
    val items = ds.collect().toSeq.sortBy(_.id)
    // groupby id -> one time plane per item; composite collapses them
    val res = Load.load(spark, items, schemas, bands = Seq("red"),
      groupby = "id", chunks = 64)
    val comp = Composite.acrossTime(spark, res.tiles).collect()
    assert(comp.nonEmpty)
    // every pixel's count is between 0 and the item count
    comp.foreach { r =>
      val counts = r.getAs[scala.collection.Seq[Int]]("count")
      assert(counts.forall(c => c >= 0 && c <= items.size))
      val means = r.getAs[scala.collection.Seq[Double]]("mean")
      means.zip(counts).foreach { case (m, c) =>
        if (c == 0) assert(m.isNaN) else assert(!m.isNaN)
      }
    }
    // the median composite of the same load agrees with the Aggregator on
    // per-pixel coverage and sits inside the [min, max] envelope
    val med = Composite.medianAcrossTime(spark, res.tiles,
      planesPerTile = res.times.length).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) -> r).toMap
    comp.foreach { r =>
      val key = (r.getString(0), r.getInt(1), r.getInt(2))
      val m = med(key)
      assert(m.getAs[scala.collection.Seq[Int]]("count") ==
        r.getAs[scala.collection.Seq[Int]]("count"))
      val medians = m.getAs[scala.collection.Seq[Double]]("median")
      val mins = r.getAs[scala.collection.Seq[Double]]("min")
      val maxs = r.getAs[scala.collection.Seq[Double]]("max")
      medians.indices.foreach { i =>
        if (medians(i).isNaN) assert(mins(i).isNaN)
        else assert(mins(i) <= medians(i) && medians(i) <= maxs(i))
      }
    }
    // LoadResult.medianComposite wires the time-depth state hint in
    // automatically and must equal the raw spelling bit-for-bit
    val viaResult = res.medianComposite().collect()
      .map(_.toString).sorted.toSeq
    val viaRaw = Composite.medianAcrossTime(spark, res.tiles,
      planesPerTile = res.times.length).collect()
      .map(_.toString).sorted.toSeq
    assert(viaResult == viaRaw)
  }

  test("geomedian: joint vector median, incomplete obs excluded, NaN on empty") {
    import spark.implicits._
    // 1x2 tiles, two bands, three times; nodata=0.
    //   pixel 0: (r,n) obs (10,100) (20,200) (90,900) — collinear, so
    //     the geometric median is near the MIDDLE point (20,200); the
    //     componentwise mean (40,400) is dragged by the outlier.
    //   pixel 1: t0 nir hole -> only t1/t2 complete; t2 red hole too ->
    //     only t1 complete -> geomedian == that single observation.
    def t(band: String, ti: Int, vals: Array[Double]) =
      (band, ti, 0, 0, Fuse.encode(vals, "uint16"), "uint16", 0.0, 2, 1)
    val rows = Seq(
      t("red", 0, Array(10, 30)), t("nir", 0, Array(100, 0)),
      t("red", 1, Array(20, 50)), t("nir", 1, Array(200, 500)),
      t("red", 2, Array(90, 0)), t("nir", 2, Array(900, 700))
    ).toDF("band", "tIdx", "ty", "tx", "data", "dtype", "nodata",
      "width", "height")
    val out = Composite.geomedianAcrossTime(spark, timed(rows),
      Seq("red", "nir"), planesPerTile = 2 * 3).orderBy("band").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("nir", "red"))
    val nir = out(0).getAs[scala.collection.Seq[Double]]("geomedian")
    val red = out(1).getAs[scala.collection.Seq[Double]]("geomedian")
    // collinear pixel: converges toward the middle observation
    assert(math.abs(red(0) - 20.0) < 1.0, s"red p0 = ${red(0)}")
    assert(math.abs(nir(0) - 200.0) < 10.0, s"nir p0 = ${nir(0)}")
    // single complete observation: exactly (within the 1/eps round trip)
    assert(math.abs(red(1) - 50.0) < 1e-9 && math.abs(nir(1) - 500.0) < 1e-9)
    assert(out(0).getAs[scala.collection.Seq[Int]]("count").toSeq == Seq(3, 1))
    assert(out(1).getAs[scala.collection.Seq[Int]]("count").toSeq == Seq(3, 1))
  }

  test("geomedian: zero complete observations -> NaN, count 0") {
    import spark.implicits._
    def t(band: String, ti: Int, vals: Array[Double]) =
      (band, ti, 0, 0, Fuse.encode(vals, "uint16"), "uint16", 0.0, 1, 1)
    // red valid at t0 only, nir valid at t1 only: never jointly valid
    val rows = Seq(
      t("red", 0, Array(10)), t("nir", 0, Array(0.0)),
      t("red", 1, Array(0.0)), t("nir", 1, Array(100))
    ).toDF("band", "tIdx", "ty", "tx", "data", "dtype", "nodata",
      "width", "height")
    val out = Composite.geomedianAcrossTime(spark, timed(rows),
      Seq("red", "nir"), planesPerTile = 2 * 2).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Double]]("geomedian")(0).isNaN)
      assert(r.getAs[scala.collection.Seq[Int]]("count").toSeq == Seq(0))
    }
  }

  test("geomad: deviation medians around the geomedian point") {
    import spark.implicits._
    def t(band: String, ti: Int, vals: Array[Double]) =
      (band, ti, 0, 0, Fuse.encode(vals, "uint16"), "uint16", 0.0, 2, 1)
    val rows = Seq(
      t("red", 0, Array(10, 30)), t("nir", 0, Array(100, 0)),
      t("red", 1, Array(20, 50)), t("nir", 1, Array(200, 500)),
      t("red", 2, Array(90, 0)), t("nir", 2, Array(900, 700))
    ).toDF("band", "tIdx", "ty", "tx", "data", "dtype", "nodata",
      "width", "height")
    val out = Composite.geomadAcrossTime(spark, timed(rows),
      Seq("red", "nir"), planesPerTile = 2 * 3).collect()
    assert(out.length == 1)
    val r = out.head
    val emad = r.getAs[scala.collection.Seq[Double]]("emad")
    val smad = r.getAs[scala.collection.Seq[Double]]("smad")
    val bcmad = r.getAs[scala.collection.Seq[Double]]("bcmad")
    // pixel 0: three collinear obs, geomedian near the middle one ->
    // sorted deviations ~[0, |p0-p1|, |p2-p1|], median ~ |p0-p1| ~ 100.5
    assert(emad(0) > 50 && emad(0) < 200, s"emad ${emad(0)}")
    // collinear SAME direction: every angle to the geomedian ~ 0
    assert(smad(0) >= 0 && smad(0) < 1e-3, s"smad ${smad(0)}")
    assert(bcmad(0) > 0 && bcmad(0) < 1, s"bcmad ${bcmad(0)}")
    // pixel 1: single complete obs -> all deviations from itself ~ 0
    assert(emad(1) < 1e-6 && smad(1) < 1e-9 && bcmad(1) < 1e-9)
    assert(r.getAs[scala.collection.Seq[Int]]("count").toSeq == Seq(3, 1))
  }

  test("geomedian/geomad reject an eps that is not positive or has an infinite 1/eps") {
    val tiles = spark.emptyDataFrame
    for (eps <- Seq(0.0, -1e-7, Double.NaN, Double.MinPositiveValue)) {
      intercept[IllegalArgumentException](Composite.geomedianAcrossTime(
        spark, tiles, Seq("red", "nir"), planesPerTile = 4, eps = eps))
      intercept[IllegalArgumentException](Composite.geomadAcrossTime(
        spark, tiles, Seq("red", "nir"), planesPerTile = 4, eps = eps))
    }
  }
}
