package graft.raster

import graft.geo._

/** Deterministic synthetic STAC scenes + GRB rasters — the engine's
  * equivalent of the reference's in-memory COG fixtures
  * (`loader/testing/fixtures.py:19-28`): we generate our own imagery, the
  * pipeline under test is identical to production.
  *
  * The demo workload (SURVEY §7.2 minimum slice, scaled up a bit):
  * `nItems` overlapping UTM scenes in two solar days, two bands
  * (`red` uint16 nodata=0, `nir` uint16 nodata=0), each scene a WxH ramp
  * with a nodata right margin so the mosaic genuinely fuses.
  */
object Fixtures {

  val CollectionId = "graft-demo"
  val Res = 10.0
  val SceneW = 128
  val SceneH = 96

  def dir: java.nio.file.Path = {
    val d = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_fixtures_v1")
    java.nio.file.Files.createDirectories(d)
    d
  }

  /** Scene k geobox: UTM 35S grid, origin stepped east so consecutive
    * scenes overlap by half a scene. */
  def sceneGeobox(k: Int): GeoBox = {
    val ox = 500000.0 + k * (SceneW / 2) * Res
    val oy = 8000000.0
    GeoBox(SceneW, SceneH, Affine.grid(ox, oy, Res, -Res), Crs.Utm(35, south = true))
  }

  /** Scene pixel value: deterministic ramp, 0 (=nodata) in the right
    * quarter so fusing with the next scene fills real holes. */
  def scenePixels(k: Int): Array[Double] = {
    val px = new Array[Double](SceneW * SceneH)
    var y = 0
    while (y < SceneH) {
      var x = 0
      while (x < SceneW) {
        px(y * SceneW + x) =
          if (x >= SceneW * 3 / 4) 0.0 // nodata margin
          else 1000.0 * (k + 1) + (y % 50) * 10 + (x % 50)
        x += 1
      }
      y += 1
    }
    px
  }

  def grbPath(k: Int, band: String): String =
    dir.resolve(s"scene$k-$band.grb").toString

  def tiffPath(k: Int, band: String): String =
    dir.resolve(s"scene$k-$band.tif").toString

  /** Crash-safe idempotence: scene writes are guarded by a COMPLETION
    * MARKER (`<marker>.ok` in `in`) stamped after the payload, not by
    * payload existence — a process killed mid-write leaves no marker, so
    * the next run rewrites the truncated files instead of reading them
    * forever. The fixtures and the bench scenes both write through it. */
  private[graft] def completed(in: java.nio.file.Path, marker: String)(
      write: => Unit): Unit = {
    val m = in.resolve(marker + ".ok")
    if (!java.nio.file.Files.exists(m)) {
      write
      java.nio.file.Files.write(m, Array.emptyByteArray)
    }
  }

  /** Write scene rasters (idempotent) and return STAC item JSONs. */
  def writeScenes(nItems: Int): Seq[String] = {
    (0 until nItems).map { k =>
      val gbox = sceneGeobox(k)
      completed(dir, s"scene$k-grb") {
        Seq("red", "nir").foreach { band =>
          val px = scenePixels(k).map(v =>
            if (band == "nir" && v != 0.0) v + 5000 else v)
          Grb.writeWithOverviews(grbPath(k, band), px, gbox, "uint16", Some(0.0))
        }
      }
      itemJson(k, gbox)
    }
  }

  /** Same scenes as tiled GeoTIFFs (overview subimages included) with
    * item hrefs pointing at the .tif files — exercises the TIFF reader
    * end-to-end path (`loader/test_reader.py:72-125` analog). */
  def writeScenesTiff(nItems: Int): Seq[String] = {
    (0 until nItems).map { k =>
      val gbox = sceneGeobox(k)
      completed(dir, s"scene$k-tif") {
        Seq("red", "nir").foreach { band =>
          val px = scenePixels(k).map(v =>
            if (band == "nir" && v != 0.0) v + 5000 else v)
          Tiff.write(tiffPath(k, band), px, gbox, "uint16", Some(0.0),
            tileSize = Some(64), overviews = Seq(2, 4))
        }
      }
      itemJson(k, gbox, tiffPath)
    }
  }

  def msiPath(k: Int): String = dir.resolve(s"scene$k-msi.tif").toString

  def subPath(k: Int): String = dir.resolve(s"scene$k-sub.tif").toString

  def zarrPath(k: Int): String = dir.resolve(s"scene$k.zarr").toString

  /** Same scenes as ONE zarr v2 store per item: `red`/`nir` are
    * variables (zarr's subdataset surface), `red` also carries a 2x
    * sidecar pyramid level; `nir` is zlib-compressed to exercise the
    * codec path. Asset hrefs use `store.zarr#var` fragments with the
    * zarr media type. */
  def writeScenesZarr(nItems: Int): Seq[String] =
    (0 until nItems).map { k =>
      val gbox = sceneGeobox(k)
      completed(dir, s"scene$k-zarr") {
        Seq("red", "nir").foreach { band =>
          val px = scenePixels(k).map(v =>
            if (band == "nir" && v != 0.0) v + 5000 else v)
          Zarr.write(zarrPath(k), band, px, gbox, "uint16", Some(0.0),
            zlib = band == "nir")
        }
        // red pyramid levels matching the GRB fixture's (2x, 4x) so the
        // overview-selection parity holds level-for-level
        val base = scenePixels(k)
        Seq(2, 4).foreach { s =>
          val (ow, oh) = (SceneW / s, SceneH / s)
          val opix = Array.tabulate(ow * oh)(i =>
            base((i / ow) * s * SceneW + (i % ow) * s))
          val t = gbox.transform
          Zarr.write(zarrPath(k), s"red.ovr$s", opix,
            GeoBox(ow, oh, Affine(t.a * s, t.b * s, t.c, t.d * s, t.e * s, t.f),
              gbox.crs), "uint16", Some(0.0))
        }
      }
      itemJsonZarr(k, gbox)
    }

  /** STAC item whose assets point at zarr variables via URI fragments
    * (`file://scene.zarr#red`) with the zarr media type — the parser
    * classifies them as raster data (S4 NonImageRasterMedia) and yields
    * `RasterSource.subdataset`. */
  def itemJsonZarr(k: Int, gbox: GeoBox): String =
    itemJson(k, gbox, (kk, band) => s"${zarrPath(kk)}#$band",
      media = "application/x-zarr")

  def ncPath(k: Int): String = dir.resolve(s"scene$k.nc").toString

  /** Same scenes as ONE netCDF classic file per item: `red`/`nir` are
    * 2-D variables over shared y/x dims with CF coordinate axes and a
    * `spatial_ref` grid-mapping variable (GDAL `GeoTransform` + EPSG
    * `crs` attrs). Values fit int16, exercising the signed-storage path
    * (classic netCDF has no unsigned types). Asset hrefs use
    * `file.nc#var` fragments with the netCDF media type. */
  def writeScenesNc(nItems: Int): Seq[String] =
    (0 until nItems).map { k =>
      val gbox = sceneGeobox(k)
      completed(dir, s"scene$k-nc") {
        val planes = Seq("red", "nir").map { band =>
          band -> scenePixels(k).map(v =>
            if (band == "nir" && v != 0.0) v + 5000 else v)
        }
        NetCdf.write(ncPath(k), planes, gbox, "int16", Some(0.0))
      }
      itemJson(k, gbox, (kk, band) => s"${ncPath(kk)}#$band",
        media = "application/x-netcdf")
    }

  /** Same scenes as ONE multi-image container TIFF per item with named
    * subdatasets `red`/`nir` (PageName-tagged images, each with its own
    * geo tags — the zero-GDAL netCDF-container analog). Asset hrefs use
    * URI fragments (`file://...#red`) so the STAC parser yields
    * `RasterSource.subdataset` (reference `loader/types.py:44-56`). */
  def writeScenesSubdatasets(nItems: Int): Seq[String] =
    (0 until nItems).map { k =>
      val gbox = sceneGeobox(k)
      completed(dir, s"scene$k-sub") {
        val subs = Seq("red", "nir").map { band =>
          val px = scenePixels(k).map(v =>
            if (band == "nir" && v != 0.0) v + 5000 else v)
          (band, px, gbox, "uint16", Some(0.0): Option[Double])
        }
        Tiff.writeSubdatasets(subPath(k), subs)
      }
      itemJson(k, gbox, (kk, band) => s"${subPath(kk)}#$band")
    }

  /** Band plane b (1-based) of multi-band scene k: the base ramp offset
    * by (b-1)*10000 on valid pixels, so every plane is distinguishable
    * and a band-1-instead-of-b bug cannot pass the goldens. */
  def bandPixels(k: Int, b: Int): Array[Double] =
    scenePixels(k).map(v => if (v == 0.0) 0.0 else v + (b - 1) * 10000)

  /** Same scenes as ONE packed 3-band GeoTIFF asset per item (the
    * Landsat-stack layout): bands red/green/nir are planes 1..3 of
    * `msi`, addressed via `RasterSource.band`. */
  def writeScenesMultiband(nItems: Int): Seq[String] =
    (0 until nItems).map { k =>
      val gbox = sceneGeobox(k)
      completed(dir, s"scene$k-msi") {
        Tiff.writeBands(msiPath(k), (1 to 3).map(bandPixels(k, _)), gbox,
          "uint16", Some(0.0))
      }
      itemJsonMultiband(k, gbox)
    }

  /** STAC item for the packed 3-band asset: one `msi` asset with three
    * eo:bands names and three raster:bands entries — the parser must
    * yield BandKey(msi, 1..3) and alias red/green/nir to them. */
  def itemJsonMultiband(k: Int, gbox: GeoBox): String =
    item(s"mscene-$k", s"$CollectionId-msi", gbox, sceneTime(k),
      s"graft-${k % 2}", Seq(asset("msi", msiPath(k), gbox, Res,
        Seq("red", "green", "nir").map(n => s"msi_$n" -> n))))

  def gapPath(k: Int): String = dir.resolve(s"gapscene$k-red.grb").toString

  /** Temporal-gap fixture: `n` scenes at the SAME geobox on consecutive
    * days (k maps through itemJson as 2k, so day k at 08:00 + 2k min —
    * deliberately a uniform time step, making the midpoint
    * interpolation fraction exactly 1/2). Values are the base ramp
    * + 100·k on valid pixels; the MIDDLE scene additionally has a
    * 32×32 nodata square at x,y ∈ [16,48) — an interior temporal gap
    * whose linear fill is base + 100·k exactly. */
  def writeScenesGap(n: Int = 3): Seq[String] =
    (0 until n).map { k =>
      val gbox = sceneGeobox(0)
      completed(dir, s"gapscene$k") {
        val px = scenePixels(0).map(v => if (v == 0.0) 0.0 else v + 100.0 * k)
        if (k == n / 2) {
          var y = 16
          while (y < 48) {
            var x = 16
            while (x < 48) { px(y * SceneW + x) = 0.0; x += 1 }
            y += 1
          }
        }
        Grb.writeWithOverviews(gapPath(k), px, gbox, "uint16", Some(0.0))
      }
      itemJson(2 * k, gbox, (kk, _) => gapPath(kk / 2))
    }

  def qaRedPath(k: Int): String = dir.resolve(s"qascene$k-red.grb").toString
  def qaMaskPath(k: Int): String = dir.resolve(s"qascene$k-qa.grb").toString

  /** Cloud-mask fixture: `n` same-footprint scenes on consecutive days,
    * each carrying a `red` data band and a `qa` mask band (1 = clear,
    * 2 = cloud, nodata 0 on the right margin). Day k's red values are
    * base + {0, 100, 500, …}(k) — deliberately NON-uniform steps, so a
    * masked median over the clear days differs from the unmasked one
    * (cloud exclusion is visible in checksums, not just counts). The
    * middle day's qa flags a 32×32 cloud square at x,y ∈ [16,48) while
    * its red stays VALID there — masking must exclude observations the
    * data band alone would keep. */
  def writeScenesQa(n: Int = 3): Seq[String] =
    (0 until n).map { k =>
      val gbox = sceneGeobox(0)
      completed(dir, s"qascene$k") {
        val inc = if (k == 0) 0.0 else if (k == 1) 100.0 else 400.0 + 100.0 * k
        val red = scenePixels(0).map(v => if (v == 0.0) 0.0 else v + inc)
        val qa = scenePixels(0).map(v => if (v == 0.0) 0.0 else 1.0)
        if (k == n / 2) {
          var y = 16
          while (y < 48) {
            var x = 16
            while (x < 48) { qa(y * SceneW + x) = 2.0; x += 1 }
            y += 1
          }
        }
        Grb.writeWithOverviews(qaRedPath(k), red, gbox, "uint16", Some(0.0))
        Grb.writeWithOverviews(qaMaskPath(k), qa, gbox, "uint16", Some(0.0))
      }
      itemJson(2 * k, gbox,
        (kk, band) => if (band == "qa") qaMaskPath(kk / 2) else qaRedPath(kk / 2),
        bands = Seq("red", "qa"))
    }

  /** 20 m companion grid of scene k: same extent and origin as the
    * 10 m [[sceneGeobox]], half the pixels each way — the Sentinel-2
    * red/swir layout (`_mdtools.py:334-397` multi-grid fixtures). */
  def swirGeobox(k: Int): GeoBox = {
    val ox = 500000.0 + k * (SceneW / 2) * Res
    GeoBox(SceneW / 2, SceneH / 2,
      Affine.grid(ox, 8000000.0, Res * 2, -Res * 2), Crs.Utm(35, south = true))
  }

  /** 20 m swir ramp, distinguishable from every red/nir value, nodata
    * margin on the right quarter like [[scenePixels]]. */
  def swirPixels(k: Int): Array[Double] = {
    val w = SceneW / 2
    val h = SceneH / 2
    val px = new Array[Double](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        px(y * w + x) =
          if (x >= w * 3 / 4) 0.0 // nodata margin
          else 3000.0 * (k + 1) + (y % 24) * 8 + (x % 16)
        x += 1
      }
      y += 1
    }
    px
  }

  def swirPath(k: Int): String = dir.resolve(s"scene$k-swir.grb").toString

  /** Multi-GRID scenes (A8 end-to-end): ONE item whose `red` asset
    * lives on the 10 m grid and whose `swir` asset lives on its own
    * 20 m grid (per-asset proj:shape/proj:transform/gsd), so
    * `band2grid` groups them separately and a joint load must
    * paste/warp each band from its own source grid. The `red` raster is
    * the plain [[writeScenes]] file, written under that writer's own
    * marker; only `swir` is written under the `-mg` marker, so no file
    * is ever trusted through a marker that another writer owns. */
  def writeScenesMultigrid(nItems: Int): Seq[String] = {
    writeScenes(nItems)
    (0 until nItems).map { k =>
      val g10 = sceneGeobox(k)
      val g20 = swirGeobox(k)
      completed(dir, s"scene$k-mg") {
        Grb.writeWithOverviews(swirPath(k), swirPixels(k), g20,
          "uint16", Some(0.0))
      }
      item(s"mgscene-$k", s"$CollectionId-mg", g10, sceneTime(k),
        s"graft-${k % 2}", Seq(
          asset("red", grbPath(k, "red"), g10, Res, Seq("red" -> "red")),
          asset("swir", swirPath(k), g20, Res * 2, Seq("swir" -> "swir"))))
    }
  }

  /** STAC item JSON of fixture scene k with proj + raster + eo extensions
    * populated the way real catalogs do (FIXTURES.md §1): one asset per
    * band in `bands`, at `pathOf(k, band)`. */
  def itemJson(k: Int, gbox: GeoBox,
               pathOf: (Int, String) => String = grbPath,
               media: String = TiffMedia,
               bands: Seq[String] = Seq("red", "nir")): String =
    item(s"scene-$k", CollectionId, gbox, sceneTime(k), s"graft-${k % 2}",
      bands.map(b => asset(b, pathOf(k, b), gbox, Res, Seq(b -> b), media)))

  /** Fixture scene k's datetime: two scenes per solar day, 08:00 plus k
    * minutes (wrapping past 59) — so same-day scenes keep distinct times
    * for any k. */
  private def sceneTime(k: Int): java.time.LocalDateTime =
    java.time.LocalDateTime.of(2020, 6, 6, 8, 0, 0)
      .plusDays(k / 2).plusMinutes(k % 60)

  private val TiffMedia = "image/tiff; application=geotiff"

  /** The one synthetic STAC item envelope (UTM 35S, projection + raster
    * + eo extensions): the fixtures and the bench scenes render every
    * item through it, with [[asset]] blocks. */
  private[graft] def item(id: String, collection: String, footprint: GeoBox,
      time: java.time.LocalDateTime, platform: String,
      assets: Seq[String]): String = {
    val fp = footprint.footprint(Crs.LonLat)
    val ring = (fp.ring :+ fp.ring.head)
      .map { case (x, y) => s"[$x,$y]" }.mkString("[", ",", "]")
    val dtStr = time.format(
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
    s"""{
       |  "type": "Feature",
       |  "stac_version": "1.0.0",
       |  "id": "$id",
       |  "collection": "$collection",
       |  "stac_extensions": [
       |    "https://stac-extensions.github.io/projection/v1.1.0/schema.json",
       |    "https://stac-extensions.github.io/raster/v1.1.0/schema.json",
       |    "https://stac-extensions.github.io/eo/v1.1.0/schema.json"],
       |  "geometry": {"type": "Polygon", "coordinates": [$ring]},
       |  "properties": {
       |    "datetime": "${dtStr}Z",
       |    "proj:epsg": 32735,
       |    "platform": "$platform"
       |  },
       |  "assets": {${assets.mkString(",")}
       |  }
       |}""".stripMargin
  }

  /** One uint16 nodata-0 data asset `key` on grid `g`: one eo:bands and
    * one raster:bands entry per `(name, common_name)` in `eoBands`. */
  private[graft] def asset(key: String, href: String, g: GeoBox, gsd: Double,
      eoBands: Seq[(String, String)], media: String = TiffMedia): String = {
    val t = g.transform
    val eo = eoBands.map { case (n, c) =>
      s"""{"name": "$n", "common_name": "$c"}""" }.mkString(",")
    val rb = Seq.fill(eoBands.size)(
      """{"nodata": 0, "data_type": "uint16"}""").mkString(",")
    s"""
       |    "$key": {
       |      "href": "file://$href",
       |      "type": "$media",
       |      "roles": ["data"],
       |      "gsd": $gsd,
       |      "eo:bands": [$eo],
       |      "proj:shape": [${g.height}, ${g.width}],
       |      "proj:transform": [${t.a}, ${t.b}, ${t.c}, ${t.d}, ${t.e}, ${t.f}],
       |      "raster:bands": [$rb]
       |    }""".stripMargin
  }
}
