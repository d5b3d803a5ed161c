package graft

import graft.geo._
import graft.load.Load
import graft.planner.Planner
import graft.raster.Fixtures
import graft.stac.StacParse
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end slice (SURVEY §7.2): parse synthetic STAC items, plan the
  * output grid by majority vote, group by solar_day, spatially bin, read,
  * fuse, and check exact pixels — the reference's `stac_load` semantics
  * plus planning-operator unit tests. */
class LoadSpec extends AnyFunSuite {
  import GraftSpark.spark

  private lazy val jsons = Fixtures.writeScenes(4)
  private lazy val (items, schemas) = {
    import spark.implicits._
    val ds = spark.createDataset(jsons)
    val (parsed, md) = StacParse.parseItems(spark, ds)
    (parsed.collect().toSeq.sortBy(_.id), md)
  }

  test("stac parse: schema inference finds bands, aliases, grids (S1-S6)") {
    val md = schemas(Fixtures.CollectionId)
    assert(md.bands.keySet.map(_.asset) == Set("red", "nir"))
    assert(md.bands.values.forall(b => b.dataType.contains("uint16")
      && b.nodata.contains(0.0)))
    assert(md.hasProj)
    assert(md.band2grid.values.toSet == Set("default")) // all same grid
    assert(md.aliases.isEmpty ||
      md.aliases.keySet.subsetOf(Set("red", "nir"))) // eo names == asset names
    val item = items.head
    assert(item.bands.size == 2)
    assert(item.bands("red").uri.endsWith("scene0-red.grb"))
    assert(item.geometry.isDefined && item.datetime.isDefined)
  }

  test("output geobox election: identical grids fast path (A4)") {
    val one = Seq(items.head)
    val g = Planner.outputGeobox(one, schemas).get
    assert(g == items.head.geoboxes(Nil, schemas(Fixtures.CollectionId)).head)
    // multiple overlapping scenes: same crs/res/anchor majority
    val g4 = Planner.outputGeobox(items, schemas).get
    assert(g4.crs == Crs.Utm(35, south = true))
    assert(g4.gsd == Fixtures.Res)
    // covers the union of footprints
    val b = Planner.computeBBox(items, g4.crs, schemas)
    assert(g4.extent.x0 <= b.x0 && g4.extent.x1 >= b.x1)
  }

  test("output geobox: explicit crs/resolution/bbox + validation (P8)") {
    val g = Planner.outputGeobox(items, schemas,
      crs = Some("EPSG:3857"), resolution = Some(100.0),
      bbox = Some(BBox(26, -19, 27, -18))).get
    assert(g.crs == Crs.WebMercator && g.resX == 100.0)
    assertThrows[IllegalArgumentException] {
      Planner.outputGeobox(items, schemas, geobox = Some(g),
        resolution = Some(10.0))
    }
    assertThrows[IllegalArgumentException] {
      Planner.outputGeobox(items, schemas, x = Some((0.0, 1.0))) // y missing
    }
    assertThrows[IllegalArgumentException] {
      Planner.outputGeobox(items, schemas,
        x = Some((0.0, 1.0)), y = Some((0.0, 1.0))) // crs missing
    }
  }

  test("solar time truncates toward zero (F1, tests/test_model.py:41-67)") {
    val item = items.head.copy(
      datetime = Some(java.sql.Timestamp.from(
        java.time.Instant.parse("2020-06-06T23:30:00Z"))))
    // lon=150E -> +10h -> next day
    assert(item.solarDatetimeAt(150).toInstant ==
      java.time.Instant.parse("2020-06-07T09:30:00Z"))
    // lon=-7.5 -> int(-0.5)=0 -> unchanged (truncation toward zero)
    assert(item.solarDatetimeAt(-7.5).toInstant ==
      java.time.Instant.parse("2020-06-06T23:30:00Z"))
    // lon=-30 -> -2h
    assert(item.solarDatetimeAt(-30).toInstant ==
      java.time.Instant.parse("2020-06-06T21:30:00Z"))
  }

  test("temporal grouping semantics (A1)") {
    // id: one group per item, input order
    assert(Planner.groupItems(items, Planner.ById) == items.indices.map(Seq(_)))
    // solar_day: scenes 0,1 on day 6; scenes 2,3 on day 7
    val byDay = Planner.groupItems(items, Planner.BySolarDay(Some(27.0)))
    assert(byDay == Seq(Seq(0, 1), Seq(2, 3)))
    // property: platform alternates
    val byPlat = Planner.groupItems(items, Planner.ByProperty("platform"))
    assert(byPlat == Seq(Seq(0, 2), Seq(1, 3)))
    // callback
    val byCb = Planner.groupItems(items,
      Planner.ByCallback((it, _) => it.id.takeRight(1)))
    assert(byCb.length == 4)
    // group timestamps = first member nominal datetime (A3)
    val ts = Planner.groupTimestamps(items, byDay)
    assert(ts == Seq(items(0).nominalDatetime, items(2).nominalDatetime))
  }

  test("e2e: load 2 scenes, 1 band, solar_day mosaic fuses exact pixels") {
    val two = items.take(2)
    val res = Load.load(spark, two, schemas, bands = Seq("red"),
      groupby = "solar_day", chunks = 48)
    assert(res.times.length == 1)
    val g = res.geobox
    // output grid = majority grid: covers both scenes: 128 + 64 wide
    assert(g.width == Fixtures.SceneW + Fixtures.SceneW / 2)
    assert(g.height == Fixtures.SceneH)
    val plane = res.assemble("red", 0)
    val p0 = Fixtures.scenePixels(0)
    val p1 = Fixtures.scenePixels(1)
    val w = g.width
    // scene0-valid region: scene0 wins (first by time)
    for (y <- Seq(0, 31, 95); x <- Seq(0, 50, 95))
      assert(plane(y * w + x) == p0(y * Fixtures.SceneW + x),
        s"scene0 region ($x,$y)")
    // scene0's nodata margin (x in [96,128)) overlaps scene1 valid -> scene1
    for (y <- Seq(0, 40); x <- Seq(96, 100, 120)) {
      val s1x = x - Fixtures.SceneW / 2
      assert(plane(y * w + x) == p1(y * Fixtures.SceneW + s1x),
        s"fused region ($x,$y)")
    }
    // region beyond scene1's valid area: nodata (0)
    assert(plane(0 * w + (w - 1)) == 0.0)
    // tile rows carry uint16 dtype and the elected nodata
    val row = res.tiles.limit(1).collect()(0)
    assert(row.getAs[String]("dtype") == "uint16")
    assert(row.getAs[Double]("nodata") == 0.0)
  }

  test("e2e: groupby=id keeps scenes separate; preserve order honored") {
    val two = items.take(2)
    val res = Load.load(spark, two, schemas, bands = Seq("red"), groupby = "id")
    assert(res.times.length == 2)
    val t0 = res.assemble("red", 0)
    // tIdx 0 = scene 0 only; its nodata margin stays nodata
    val w = res.geobox.width
    assert(t0(0) == Fixtures.scenePixels(0)(0))
    assert(t0(0 * w + Fixtures.SceneW - 1) == 0.0)
  }

  test("2x same-CRS shrink (overviews off): kernels are exact 2x2 block ops") {
    // Alignment identity behind raster_resample_cells: dst pixel (PY, PX)
    // pools native block rows 2PY..2PY+1 x cols 2PX..2PX+1, and nearest
    // reads the block's odd-odd corner. If planner origin snapping ever
    // drifts off the native grid, this breaks immediately (and the DuckDB
    // anchor with it).
    val two = items.take(2)
    val nat = Load.load(spark, two, schemas, bands = Seq("red"),
      groupby = "id", dtype = Some("float64"))
    def at(m: String) = Load.load(spark, two, schemas, bands = Seq("red"),
      groupby = "id", resolution = Some(20.0), resampling = Map("*" -> m),
      useOverviews = false, dtype = Some("float64"))
    val near = at("nearest")
    val avg = at("average")
    assert(near.geobox.gsd == 20.0)
    assert(near.geobox.width * 2 == nat.geobox.width)
    assert(near.geobox.height * 2 == nat.geobox.height)
    val (w2, h2, natW) = (near.geobox.width, near.geobox.height, nat.geobox.width)
    for (t <- 0 until 2) {
      val n = nat.assemble("red", t)
      val nr = near.assemble("red", t)
      val av = avg.assemble("red", t)
      for (py <- 0 until h2; px <- 0 until w2) {
        // nearest: odd-odd corner, nodata (0) passing straight through
        assert(nr(py * w2 + px) == n((2 * py + 1) * natW + (2 * px + 1)),
          s"nearest t$t ($px,$py)")
        // average: mean of the valid block members, 0 when none
        val block = for (dy <- 0 to 1; dx <- 0 to 1)
          yield n((2 * py + dy) * natW + (2 * px + dx))
        val valid = block.filter(_ != 0.0)
        val expect = if (valid.isEmpty) 0.0 else valid.sum / valid.size
        assert(av(py * w2 + px) == expect, s"average t$t ($px,$py)")
      }
    }
  }

  test("overview reads equal the base-plane decimation identity") {
    // Alignment identity behind raster_overview_cells: a 20 m read picks
    // .ovr2 and must equal base(2PY, 2PX); 40 m picks .ovr4 and must
    // equal base(4PY, 4PX) — the EVEN-even corner, vs the overviews-off
    // nearest kernel's odd-odd corner.
    val two = items.take(2)
    val nat = Load.load(spark, two, schemas, bands = Seq("red"),
      groupby = "id", dtype = Some("float64"))
    val natW = nat.geobox.width
    for (lvl <- Seq(2, 4)) {
      val ovr = Load.load(spark, two, schemas, bands = Seq("red"),
        groupby = "id", resolution = Some(10.0 * lvl), dtype = Some("float64"))
      assert(ovr.geobox.width * lvl == nat.geobox.width, s"lvl $lvl width")
      val (w2, h2) = (ovr.geobox.width, ovr.geobox.height)
      for (t <- 0 until 2) {
        val n = nat.assemble("red", t)
        val o = ovr.assemble("red", t)
        for (py <- 0 until h2; px <- 0 until w2)
          assert(o(py * w2 + px) == n(lvl * py * natW + lvl * px),
            s"lvl $lvl t$t ($px,$py)")
      }
    }
  }

  test("e2e: both bands load and differ by the nir offset") {
    val res = Load.load(spark, items.take(1), schemas,
      bands = Seq("red", "nir"), groupby = "solar_day")
    val red = res.assemble("red", 0)
    val nir = res.assemble("nir", 0)
    assert(red(0) + 5000 == nir(0))
  }

  test("dtype election: widest wins, default uint16 (A6)") {
    assert(Planner.electDtype(Seq("uint8", "int32", "uint16")) == "int32")
    assert(Planner.electDtype(Nil) == "uint16")
    assert(Planner.electDtype(Seq("float32", "int64")) == "int64")
  }

  test("time chunking (F14): timeChunks groups tasks without changing results") {
    def summary(tc: Int): Seq[(String, Int, Int, Int, Long, Double)] = {
      val res = Load.load(spark, items, schemas, bands = Seq("red"),
        groupby = "id", chunks = 64, timeChunks = tc)
      res.tiles.collect().map { r =>
        val data = r.getAs[Array[Byte]]("data")
        (r.getAs[String]("band"), r.getAs[Int]("tIdx"),
          r.getAs[Int]("ty"), r.getAs[Int]("tx"),
          r.getAs[Long]("validCount"),
          graft.load.Fuse.decode(data, r.getAs[String]("dtype")).sum)
      }.toSeq.sortBy(t => (t._1, t._2, t._3, t._4))
    }
    val one = summary(1)
    val chunked = summary(2)
    assert(one.nonEmpty && one == chunked)
    // groupby id over 4 items -> 4 time planes; tc=2 halves task units
    val res2 = Load.load(spark, items, schemas, bands = Seq("red"),
      groupby = "id", chunks = 64, timeChunks = 2)
    assert(res2.times.size == 4)
  }

  private def tileSummary(res: graft.load.LoadResult): Seq[(String, Int, Int, Int, Long, Double)] =
    res.tiles.collect().map { r =>
      val data = r.getAs[Array[Byte]]("data")
      (r.getAs[String]("band"), r.getAs[Int]("tIdx"),
        r.getAs[Int]("ty"), r.getAs[Int]("tx"),
        r.getAs[Long]("validCount"),
        graft.load.Fuse.decode(data, r.getAs[String]("dtype")).sum)
    }.toSeq.sortBy(t => (t._1, t._2, t._3, t._4))

  test("geopolygon ROI: tiles outside the polygon are absent (not just bbox)") {
    // triangle over the lower-left of the footprint union: its BBOX covers
    // most tiles, the polygon itself does not
    val full = Load.load(spark, items, schemas, bands = Seq("red"),
      groupby = "solar_day", chunks = 32)
    val ext = full.geobox.extent
    val tri = Geom(IndexedSeq(
      (ext.x0, ext.y0), (ext.x1, ext.y0), (ext.x0, ext.y1)),
      full.geobox.crs)
    val roi = Load.load(spark, items, schemas, bands = Seq("red"),
      groupby = "solar_day", chunks = 32, geopolygon = Some(tri))
    val gbt = GeoBoxTiles(roi.geobox, 32, 32)
    val gotTiles = roi.tiles.collect()
      .map(r => (r.getAs[Int]("ty"), r.getAs[Int]("tx"))).toSet
    assert(gotTiles.nonEmpty)
    // every produced tile really intersects the triangle
    val triInRoiCrs = tri.toCrs(roi.geobox.crs)
    gotTiles.foreach { case (ty, tx) =>
      assert(triInRoiCrs.intersectsBox(gbt.tileGeobox(ty, tx).extent),
        s"tile ($ty,$tx) outside geopolygon")
    }
    // and some upper-right tile of the full load is excluded
    val fullTiles = full.tiles.collect()
      .map(r => (r.getAs[Int]("ty"), r.getAs[Int]("tx"))).toSet
    assert(gotTiles.subsetOf(fullTiles) && gotTiles.size < fullTiles.size)
    // geopolygon is exclusive with bbox (P8)
    assertThrows[IllegalArgumentException] {
      Planner.outputGeobox(items, schemas, geopolygon = Some(tri),
        bbox = Some(BBox(26, -19, 27, -18)))
    }
  }

  test("MultiPolygon footprint (no proj data) still lands in spatial bins") {
    // strip proj geoboxes so safeGeometry falls back to the item geometry,
    // and replace it with a MultiPolygon: original ring + a sliver inside
    val base = items.head
    val orig = base.geometry.get.toGeom
    val (cx, cy) = orig.centroid
    val multi = Geom(IndexedSeq(
      graft.geo.Poly(orig.ring),
      graft.geo.Poly(IndexedSeq(
        (cx, cy), (cx + 1e-4, cy), (cx, cy + 1e-4)))), orig.crs)
    val item = base.copy(
      geometry = Some(graft.model.GeomData.from(multi)),
      bands = base.bands.map { case (k, s) => k -> s.copy(geobox = None) })
    val res = Load.load(spark, Seq(item), schemas, bands = Seq("red"),
      crs = Some("EPSG:32735"), resolution = Some(Fixtures.Res),
      groupby = "id", chunks = 48)
    val got = tileSummary(res)
    assert(got.nonEmpty)
    // same bins as the single-polygon footprint at the same explicit grid
    val ref = tileSummary(Load.load(spark,
      Seq(base.copy(bands = item.bands)), schemas, bands = Seq("red"),
      crs = Some("EPSG:32735"), resolution = Some(Fixtures.Res),
      groupby = "id", chunks = 48))
    assert(got == ref)
    // all items footprint-less -> loud failure, not an empty result
    val bald = item.copy(geometry = None)
    assertThrows[IllegalArgumentException] {
      Load.load(spark, Seq(bald), schemas, bands = Seq("red"),
        crs = Some("EPSG:32735"), resolution = Some(Fixtures.Res),
        groupby = "id", chunks = 48)
    }
  }

  test("GeoTIFF scenes load tile-identical to GRB scenes (TiffReader e2e)") {
    import spark.implicits._
    val tiffJsons = Fixtures.writeScenesTiff(4)
    val (tds, tSchemas) = StacParse.parseItems(spark,
      spark.createDataset(tiffJsons))
    val tiffItems = tds.collect().toSeq.sortBy(_.id)
    assert(tiffItems.forall(_.bands.values.forall(_.uri.endsWith(".tif"))))
    val tiff = tileSummary(Load.load(spark, tiffItems, tSchemas,
      bands = Seq("red", "nir"), groupby = "solar_day", chunks = 48))
    val grb = tileSummary(Load.load(spark, items, schemas,
      bands = Seq("red", "nir"), groupby = "solar_day", chunks = 48))
    assert(tiff.nonEmpty && tiff == grb)
    // overview path parity too: 4x coarser output reads TIFF subimage #2
    val tiffOvr = tileSummary(Load.load(spark, tiffItems, tSchemas,
      bands = Seq("red"), groupby = "solar_day", chunks = 64,
      resolution = Some(40.0)))
    val grbOvr = tileSummary(Load.load(spark, items, schemas,
      bands = Seq("red"), groupby = "solar_day", chunks = 64,
      resolution = Some(40.0)))
    assert(tiffOvr.nonEmpty && tiffOvr == grbOvr)
  }

  test("packed multi-band asset: each requested band loads its own plane (S7)") {
    import spark.implicits._
    val mJsons = Fixtures.writeScenesMultiband(2)
    val (mds, mSchemas) = StacParse.parseItems(spark, spark.createDataset(mJsons))
    val mItems = mds.collect().toSeq.sortBy(_.id)
    val md = mSchemas(Fixtures.CollectionId + "-msi")
    // schema: ONE asset, three BandKeys, common_name aliases resolve to them
    assert(md.bands.keySet == Set(1, 2, 3).map(graft.model.BandKey("msi", _)))
    assert(md.bandKey("green") == graft.model.BandKey("msi", 2))
    assert(mItems.head.bands("msi.2").band == 2)
    assert(mItems.head.bands.values.forall(_.uri.endsWith("-msi.tif")))
    val res = Load.load(spark, mItems, mSchemas,
      bands = Seq("red", "green", "nir"), groupby = "id", chunks = 64)
    val tiles = res.tiles.collect()
      .map(r => ((r.getAs[String]("band"), r.getAs[Int]("tIdx"),
        r.getAs[Int]("ty"), r.getAs[Int]("tx")),
        graft.load.Fuse.decode(r.getAs[Array[Byte]]("data"),
          r.getAs[String]("dtype"))))
      .toMap
    assert(tiles.nonEmpty)
    val reds = tiles.keys.filter(_._1 == "red").toSeq
    assert(reds.nonEmpty)
    // plane b = plane 1 + (b-1)*10000 on valid pixels, nodata aligned —
    // exactly the fixture's bandPixels contract; a band-1-instead-of-b
    // bug cannot produce these offsets
    for (key @ (_, tIdx, ty, tx) <- reds; (bandName, off) <-
           Seq("green" -> 10000.0, "nir" -> 20000.0)) {
      val rpx = tiles(key)
      val bpx = tiles((bandName, tIdx, ty, tx))
      assert(rpx.length == bpx.length)
      for (i <- rpx.indices)
        assert(if (rpx(i) == 0.0) bpx(i) == 0.0 else bpx(i) == rpx(i) + off,
          s"$bandName tile ($tIdx,$ty,$tx) px $i: red=${rpx(i)} got=${bpx(i)}")
    }
  }

  test("progress hook fires once per bin, monotonic, ends at total (UI)") {
    val calls = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 48,
      progress = Some((done, total) => calls.synchronized {
        calls += ((done, total))
      }))
    val nTiles = res.tiles.count()
    val snap = calls.synchronized(calls.toSeq)
    // exactly once per bin (driver-planned path emits one row per bin)
    assert(snap.size == nTiles, s"${snap.size} callbacks for $nTiles tiles")
    // monotonic 1..total with a constant total
    assert(snap.map(_._1) == (1L to nTiles))
    assert(snap.map(_._2).distinct == Seq(nTiles))
    // re-evaluating the (lazy) tiles plan does not fire a finished hook
    res.tiles.count()
    assert(calls.synchronized(calls.size) == nTiles)
    // a composite reads the load's bins itself, and reports each bin
    // it fuses against its own total
    calls.synchronized(calls.clear())
    res.geomedianComposite(Seq("red", "nir")).collect()
    val geo = calls.synchronized(calls.toSeq)
    assert(geo.map(_._1) == (1L to nTiles))
    assert(geo.map(_._2).distinct == Seq(nTiles))
  }

  test("subdataset container: named images load tile-identical to GRB (S7)") {
    import spark.implicits._
    val sJsons = Fixtures.writeScenesSubdatasets(4)
    val (sds, sSchemas) = StacParse.parseItems(spark, spark.createDataset(sJsons))
    val sItems = sds.collect().toSeq.sortBy(_.id)
    // the href fragment parsed into RasterSource.subdataset, not the uri
    val redSrc = sItems.head.bands("red")
    assert(redSrc.uri.endsWith("-sub.tif") && !redSrc.uri.contains("#"))
    assert(redSrc.subdataset.contains("red"))
    assert(sItems.head.bands("nir").subdataset.contains("nir"))
    // pixel parity with the per-band GRB scenes
    val sub = tileSummary(Load.load(spark, sItems, sSchemas,
      bands = Seq("red", "nir"), groupby = "solar_day", chunks = 48))
    val grb = tileSummary(Load.load(spark, items, schemas,
      bands = Seq("red", "nir"), groupby = "solar_day", chunks = 48))
    assert(sub.nonEmpty && sub == grb)
    // each subdataset image carries its OWN georeferencing
    val path = redSrc.uri.stripPrefix("file://")
    val nirIdx = graft.raster.Tiff.resolveSubdataset(path, "nir")
    val hdr = graft.raster.Tiff.readHeader(s"$path#$nirIdx")
    assert(hdr.geobox == Fixtures.sceneGeobox(0) && hdr.nodata.contains(0.0))
    // loud validation: unknown name lists what the container has
    val miss = intercept[IllegalArgumentException] {
      graft.raster.Tiff.resolveSubdataset(path, "swir")
    }
    assert(miss.getMessage.contains("'red', 'nir'"))
    // formats without container support reject, never read the base image
    val grbWithSub = items.head.bands("red").copy(subdataset = Some("red"))
    assertThrows[IllegalArgumentException] {
      graft.raster.AutoReader.read(grbWithSub,
        graft.model.RasterLoadParams(failOnError = true),
        Fixtures.sceneGeobox(0), 0.0)
    }
    // subdatasets are NOT overviews: the container exposes no pyramid
    assert(graft.raster.Tiff.overviewLevels(path).isEmpty)
  }

  test("zarr store scenes load tile-identical to GRB scenes (ZarrReader e2e)") {
    import spark.implicits._
    val zJsons = Fixtures.writeScenesZarr(4)
    val (zds, zSchemas) = StacParse.parseItems(spark, spark.createDataset(zJsons))
    val zItems = zds.collect().toSeq.sortBy(_.id)
    // variables parsed as subdatasets out of the #fragment hrefs
    assert(zItems.head.bands("red").uri.endsWith(".zarr"))
    assert(zItems.head.bands("red").subdataset.contains("red"))
    assert(zItems.head.bands("nir").subdataset.contains("nir"))
    val zarr = tileSummary(Load.load(spark, zItems, zSchemas,
      bands = Seq("red", "nir"), groupby = "solar_day", chunks = 48))
    val grb = tileSummary(Load.load(spark, items, schemas,
      bands = Seq("red", "nir"), groupby = "solar_day", chunks = 48))
    assert(zarr.nonEmpty && zarr == grb)
    // overview parity: 4x coarser output picks the red.ovr2 level
    val zOvr = tileSummary(Load.load(spark, zItems, zSchemas,
      bands = Seq("red"), groupby = "solar_day", chunks = 64,
      resolution = Some(40.0)))
    val gOvr = tileSummary(Load.load(spark, items, schemas,
      bands = Seq("red"), groupby = "solar_day", chunks = 64,
      resolution = Some(40.0)))
    assert(zOvr.nonEmpty && zOvr == gOvr)
  }

  test("netCDF container scenes load tile-identical to GRB (NetCdfReader e2e)") {
    import spark.implicits._
    val nJsons = Fixtures.writeScenesNc(4)
    val (nds, nSchemas) = StacParse.parseItems(spark, spark.createDataset(nJsons))
    val nItems = nds.collect().toSeq.sortBy(_.id)
    // variables parsed as subdatasets out of the #fragment hrefs
    assert(nItems.head.bands("red").uri.endsWith(".nc"))
    assert(nItems.head.bands("red").subdataset.contains("red"))
    assert(nItems.head.bands("nir").subdataset.contains("nir"))
    val nc = tileSummary(Load.load(spark, nItems, nSchemas,
      bands = Seq("red", "nir"), groupby = "solar_day", chunks = 48))
    val grb = tileSummary(Load.load(spark, items, schemas,
      bands = Seq("red", "nir"), groupby = "solar_day", chunks = 48))
    assert(nc.nonEmpty && nc == grb)
  }

  test("zarr export: distributed chunks read back pixel-identical to assemble") {
    val res = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    val store = java.nio.file.Files
      .createTempDirectory("graft_zarr_exp").resolve("cube.zarr").toString
    val nChunks = res.exportZarr(store, chunk = 64)
    assert(nChunks == res.tiles.count(), "one chunk file per tile row")
    val tIdxs = res.times.indices
    for (band <- Seq("red", "nir"); t <- tIdxs) {
      val plane = res.assemble(band, t) // NaN where no tile covered
      val hdr = graft.raster.Zarr.readHeader(s"$store#${band}_t$t")
      assert(hdr.geobox == res.geobox && hdr.nodata.contains(0.0))
      val got = graft.raster.Zarr.readWindow(s"$store#${band}_t$t",
        0, 0, hdr.width, hdr.height)
      var i = 0
      while (i < got.length) {
        val want = if (plane(i).isNaN) 0.0 else plane(i) // fill for holes
        assert(got(i) == want, s"$band t$t pixel $i: ${got(i)} != $want")
        i += 1
      }
    }
  }

  test("zarr export: float band with NaN nodata keeps NaN holes on read-back") {
    // the fixture's band metadata carries nodata=0 which outranks the
    // NaN-if-float default in the dst chain, so request NaN explicitly
    val res = Load.load(spark, items, schemas, bands = Seq("red"),
      groupby = "solar_day", chunks = 64, dtype = Some("float32"),
      nodata = Some(Double.NaN))
    assert(res.nodata("red").isNaN, "float dst nodata must resolve to NaN")
    val store = java.nio.file.Files
      .createTempDirectory("graft_zarr_nan").resolve("cube.zarr").toString
    res.exportZarr(store, chunk = 64)
    for (t <- res.times.indices) {
      val plane = res.assemble("red", t)
      val hdr = graft.raster.Zarr.readHeader(s"$store#red_t$t")
      // fill_value must be the quoted-"NaN" spelling, not a silent 0
      assert(hdr.nodata.exists(_.isNaN),
        s"t$t: fill_value ${hdr.nodata} is not NaN")
      val got = graft.raster.Zarr.readWindow(s"$store#red_t$t",
        0, 0, hdr.width, hdr.height)
      var i = 0
      while (i < got.length) {
        assert(if (plane(i).isNaN) got(i).isNaN else got(i) == plane(i),
          s"t$t pixel $i: ${got(i)} != ${plane(i)}")
        i += 1
      }
    }
    // non-vacuous: at least one hole must exist somewhere in the cube
    assert(res.times.indices.exists(t => res.assemble("red", t).exists(_.isNaN)),
      "fixture left no holes — the NaN fill path was not exercised")
  }

  test("zarr re-export overwrites wholesale: no stale variables survive") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_zarr_ovw").resolve("cube.zarr").toString
    val both = Load.load(spark, items, schemas, bands = Seq("red", "nir"),
      groupby = "solar_day", chunks = 64)
    both.exportZarr(store, chunk = 64)
    assert(graft.raster.Zarr.variables(store).exists(_.startsWith("nir_")))
    // re-export with fewer bands into the SAME store: the nir variables
    // from the previous run must not poison the listing
    val redOnly = Load.load(spark, items, schemas, bands = Seq("red"),
      groupby = "solar_day", chunks = 64)
    redOnly.exportZarr(store, chunk = 64)
    val vars = graft.raster.Zarr.variables(store)
    assert(vars.nonEmpty && vars.forall(_.startsWith("red_")),
      s"stale variables survived overwrite: $vars")
    // and a non-zarr target is refused, not clobbered
    val plain = java.nio.file.Files.createTempDirectory("graft_notzarr")
    java.nio.file.Files.write(plain.resolve("keep.txt"), "x".getBytes)
    intercept[IllegalArgumentException] {
      redOnly.exportZarr(plain.toString, chunk = 64)
    }
    assert(java.nio.file.Files.exists(plain.resolve("keep.txt")))
  }

  test("COG tile export: pixel-exact, georeferenced, reads back via gtiff") {
    val res = Load.load(spark, items, schemas, bands = Seq("red"),
      groupby = "solar_day", chunks = 64)
    val out = java.nio.file.Files.createTempDirectory("graft_cog_spec").toString
    val nFiles = res.exportCogTiles(out)
    val rows = res.tiles.collect()
    assert(nFiles == rows.length, s"$nFiles files for ${rows.length} tiles")
    // every exported tile: pixels identical to the tile row, geo tags
    // place the tile at its grid position
    rows.foreach { row =>
      val band = row.getAs[String]("band"); val tIdx = row.getAs[Int]("tIdx")
      val ty = row.getAs[Int]("ty"); val tx = row.getAs[Int]("tx")
      val w = row.getAs[Int]("width"); val h = row.getAs[Int]("height")
      val path = s"$out/${band}_t${tIdx}_${ty}_$tx.tif"
      val hd = graft.raster.Tiff.readHeader(path)
      assert(hd.width == w && hd.height == h)
      assert(hd.nodata.contains(row.getAs[Double]("nodata")))
      val t = res.geobox.transform
      val (ox, oy) = t(row.getAs[Int]("x0").toDouble, row.getAs[Int]("y0").toDouble)
      assert(hd.geobox.transform.c == ox && hd.geobox.transform.f == oy)
      assert(hd.geobox.crs == res.geobox.crs)
      val expect = graft.load.Fuse.decode(
        row.getAs[Array[Byte]]("data"), row.getAs[String]("dtype")).toSeq
      val got = graft.raster.Tiff.readWindow(path, 0, 0, w, h).toSeq
      assert(got == expect, s"pixel mismatch in $path")
    }
    // and the directory is a live SQL table through the raster source
    val n = spark.read.format("raster").load(out).count()
    assert(n == rows.map(r =>
      r.getAs[Int]("width").toLong * r.getAs[Int]("height")).sum)
  }

  test("permissive load: missing source contributes nothing, job succeeds") {
    // point one item's band at a missing file; failOnError=false loads on
    val broken = items.map { i =>
      if (i.id == items.head.id)
        i.copy(bands = i.bands.map { case (k, s0) =>
          k -> s0.copy(uri = "/tmp/graft-definitely-missing.grb") })
      else i
    }
    val res = Load.load(spark, broken, schemas, bands = Seq("red"),
      groupby = "id", chunks = 64,
      reader = graft.raster.AutoReader)
    // strict mode: the job must fail
    assertThrows[org.apache.spark.SparkException] {
      res.tiles.collect()
    }
    // permissive: same load with failOnError disabled per-band
    val cfgs = Load.resolveLoadCfg(
      schemas(Fixtures.CollectionId).resolveBands(Seq("red")),
      failOnError = false)
    assert(cfgs("red").failOnError == false)
    // the reader-level permissive behavior is pinned in RasterSpec; here
    // assert the healthy items' planes still fuse
    val healthy = Load.load(spark, broken.tail, schemas, bands = Seq("red"),
      groupby = "id", chunks = 64)
    assert(healthy.tiles.count() > 0)
  }
}
