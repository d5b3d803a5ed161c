package graft

import graft.geo.{Crs, GeoBoxTiles, Geom}
import graft.load.{Load, LoadResult}
import graft.model.{ParsedItem, RasterSource}
import graft.planner.Planner
import graft.raster.Fixtures
import graft.stac.StacParse
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The one-pass driver binning of `Load.load` against the per-seed
  * binning it replaced (one object per (item, tile, band), a tuple-keyed
  * `groupBy` into bins and tuple `sortBy`s): on random loads over the
  * fixture scenes both give the same bins in the same order, with the
  * same sources in fuse-rank order, and the same time-chunk task units. */
class BinPlanPropsSpec extends AnyFunSuite {
  import BinPlanPropsSpec.{Case, Seed}
  import GraftSpark.spark

  private lazy val (scenes, schemas) = {
    val (items, md) = StacParse.parseItems(Fixtures.writeScenes(6))
    (items.sortBy(_.id), md)
  }

  private val caseGen: Gen[Case] = for {
    n <- Gen.chooseNum(1, 6)
    picked <- Gen.pick(n, 0 until 6)
    order <- Gen.listOfN(n, Gen.chooseNum(0, 1000))
    noNir <- Gen.listOfN(n, Gen.prob(0.3))
    bald <- if (n > 1) Gen.option(Gen.chooseNum(0, n - 1)) else Gen.const(None)
    bands <- Gen.oneOf(Seq("red", "nir"), Seq("nir", "red"), Seq("red"))
    groupby <- Gen.oneOf("id", "solar_day")
    chunks <- Gen.oneOf(16, 24, 48)
    tc <- Gen.chooseNum(1, 3)
    withRoi <- Gen.prob(0.4)
  } yield {
    val items = picked.zip(order).sortBy(_._2).map(_._1).zip(noNir)
      .zipWithIndex.map { case ((k, dropNir), i) =>
        val it = scenes(k)
        val kept = if (dropNir) it.copy(bands = it.bands - "nir") else it
        if (!bald.contains(i)) kept
        else kept.copy(geometry = None,
          bands = kept.bands.map { case (b, s) => b -> s.copy(geobox = None) })
      }.toSeq
    val ext = Fixtures.sceneGeobox(0).extent
    val far = Fixtures.sceneGeobox(5).extent
    val tri = Geom(IndexedSeq((ext.x0, ext.y0), (far.x1, ext.y0),
      (ext.x0, ext.y1)), Fixtures.sceneGeobox(0).crs)
    Case(items, bands, groupby, chunks, tc, if (withRoi) Some(tri) else None)
  }

  /** The former binning over the result's grid: bins as (key, sources),
    * and the task units as lists of bin indices. */
  private def reference(c: Case, res: LoadResult)
      : (Seq[((String, Int, Int, Int), Seq[RasterSource])], Seq[Seq[Int]]) = {
    val gb = res.geobox
    val md = schemas(Fixtures.CollectionId)
    val bandKeys = md.resolveBands(c.bands).map { case (name, _) =>
      name -> md.bandKey(name).norm }
    val midLon = {
      val e = gb.extent
      Crs.transform(gb.crs, Crs.LonLat, (e.x0 + e.x1) / 2, (e.y0 + e.y1) / 2)._1
    }
    val groups = Planner.groupItems(c.items, Planner.GroupBy.parse(c.groupby,
      if (c.groupby == "solar_day") Some(midLon) else None))
    val gbt = GeoBoxTiles(gb, c.chunks, c.chunks)
    val roi = c.roi.map(_.toCrs(gb.crs))
    val seeds = for {
      (group, tIdx) <- groups.zipWithIndex
      (itemIdx, rank) <- group.zipWithIndex
      item = c.items(itemIdx)
      fp <- item.safeGeometry(Some(gb.crs), md).toSeq
      (ty, tx) <- gbt.tilesIntersecting(fp)
      if roi.forall(_.intersectsBox(gbt.tileGeobox(ty, tx).extent))
      (band, key) <- bandKeys
      src <- item.bands.get(key).toSeq
    } yield Seed(band, tIdx, ty, tx, rank, src)
    val bins = seeds.groupBy(s => (s.band, s.tIdx, s.ty, s.tx))
      .map { case (k, ss) => k -> ss.sortBy(_.rank).map(_.src) }
      .toArray.sortBy(_._1)
    val tc = c.timeChunks
    val units =
      if (tc == 1) bins.indices.map(Seq(_))
      else bins.indices.groupBy { i =>
        val (band, tIdx, ty, tx) = bins(i)._1
        (band, tIdx / tc, ty, tx)
      }.values.map(_.sortBy(bins(_)._1._2)).toSeq.sortBy(u => bins(u.head)._1)
    (bins.toSeq, units)
  }

  test("one-pass binning equals the per-seed binning: bins, sources, units") {
    var withRoi, bald, chunked = 0
    val prop = Prop.forAll(caseGen) { c =>
      val res = Load.load(spark, c.items, schemas, bands = c.bands,
        groupby = c.groupby, chunks = c.chunks, timeChunks = c.timeChunks,
        geopolygon = c.roi)
      val plan = res.gather.plan.get
      val (b, t) = (plan.bins, plan.tables.value)
      val got = (0 until b.length).map { i =>
        (t.bands(b.band(i)), b.tIdx(i), b.ty(i), b.tx(i)) ->
          (b.srcOff(i) until b.srcOff(i + 1)).map(k => t.sources(b.srcIds(k)))
      }
      val units = plan.timeChunks(c.timeChunks)
      val gotUnits = (0 until units.length).map(u =>
        units.order.slice(units.off(u), units.off(u + 1)).toSeq)
      val (want, wantUnits) = reference(c, res)
      if (c.roi.isDefined) withRoi += 1
      if (c.items.exists(_.geometry.isEmpty)) bald += 1
      if (gotUnits.exists(_.length > 1)) chunked += 1
      got.nonEmpty && got == want && gotUnits == wantUnits
    }
    val out = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(out.passed, out.status.toString)
    // the generator reached every input shape the property is about
    assert(withRoi > 0 && bald > 0 && chunked > 0,
      s"roi $withRoi, footprint-less $bald, chunked $chunked")
  }
}

private object BinPlanPropsSpec {
  /** One random load: the items (scenes picked in a random order, some
    * without a nir asset, at most one without any footprint), its
    * arguments and an optional triangle ROI over the lower left of the
    * scenes. */
  final case class Case(items: Seq[ParsedItem], bands: Seq[String],
      groupby: String, chunks: Int, timeChunks: Int, roi: Option[Geom])

  /** One (item, tile, band) of the former binning. */
  final case class Seed(band: String, tIdx: Int, ty: Int, tx: Int,
                        rank: Int, src: RasterSource)
}
