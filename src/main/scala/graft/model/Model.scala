package graft.model

import graft.geo.{Affine, Crs, GeoBox, Geom}

/** Spark-encodable data model for the STAC/raster plane (SURVEY §1.1).
  * Geo objects are carried in plain-serializable form (crs as string,
  * transform as 6 doubles) so `Dataset[ParsedItem]` works with product
  * encoders; `.toGeoBox`/`.toGeom` lift them into geo-core types.
  *
  * Reference shapes: ParsedItem `model.py:193-414`, RasterSource
  * `loader/types.py:40-70`, RasterBandMetadata `loader/types.py:11-37`.
  */
final case class GeoBoxData(width: Int, height: Int,
                            transform: Array[Double], crs: String) {
  def toGeoBox: GeoBox =
    GeoBox(width, height, Affine.fromArray(transform.toSeq), Crs.parse(crs))
}
object GeoBoxData {
  def from(g: GeoBox): GeoBoxData =
    GeoBoxData(g.width, g.height, g.transform.toArray, g.crs.code)
}

/** Polygon/MultiPolygon as interleaved x,y doubles + crs. Rings are
  * concatenated in `xy`; `ringEnds(i)` is the exclusive point offset of
  * ring i and `isHole(i)` marks interior rings (a hole attaches to the
  * most recent outer ring). Empty `ringEnds` = one outer ring (the
  * round-1 single-polygon encoding stays readable). */
final case class GeomData(xy: Array[Double], crs: String,
                          ringEnds: Array[Int] = Array.empty,
                          isHole: Array[Boolean] = Array.empty) {
  def toGeom: Geom = {
    val pts = xy.grouped(2).map(a => (a(0), a(1))).toIndexedSeq
    if (ringEnds.length <= 1 && !isHole.exists(identity))
      Geom(pts, Crs.parse(crs))
    else {
      val parts = scala.collection.mutable.ArrayBuffer.empty[graft.geo.Poly]
      var start = 0
      var i = 0
      while (i < ringEnds.length) {
        val r = pts.slice(start, ringEnds(i))
        start = ringEnds(i)
        if (i < isHole.length && isHole(i) && parts.nonEmpty)
          parts(parts.length - 1) =
            parts.last.copy(holes = parts.last.holes :+ r)
        else parts += graft.geo.Poly(r)
        i += 1
      }
      Geom(parts.toIndexedSeq, Crs.parse(crs))
    }
  }
}
object GeomData {
  def from(g: Geom): GeomData = {
    val rings = g.parts.flatMap(p =>
      (p.outer, false) +: p.holes.map(h => (h, true)))
    val xy = rings.flatMap(_._1).flatMap(p => Seq(p._1, p._2)).toArray
    val ends = rings.map(_._1.length).scanLeft(0)(_ + _).drop(1).toArray
    GeomData(xy, g.crs.code, ends, rings.map(_._2).toArray)
  }
}

/** Per-band "column type": dtype/nodata/unit (`loader/types.py:11-37`). */
final case class RasterBandMetadata(dataType: Option[String] = None,
                                    nodata: Option[Double] = None,
                                    unit: String = "1")

/** One band in one file (`loader/types.py:40-70`). */
final case class RasterSource(uri: String,
                              band: Int = 1,
                              subdataset: Option[String] = None,
                              geobox: Option[GeoBoxData] = None,
                              dataType: Option[String] = None,
                              nodata: Option[Double] = None,
                              unit: String = "1")

/** Canonical band identity `(asset, 1-based index)` with the reference's
  * "asset.idx" string notation (`model.py:26-27, 461-472`). */
final case class BandKey(asset: String, idx: Int) {
  def norm: String = if (idx == 1) asset else s"$asset.$idx"
}
object BandKey {
  def parse(s: String): BandKey = {
    val parts = s.split('.')
    if (parts.length > 1 && parts.last.forall(_.isDigit))
      BandKey(parts.dropRight(1).mkString("."), parts.last.toInt)
    else BandKey(s, 1)
  }
}

/** One STAC item parsed into the raster data model (`model.py:193-414`).
  * `bands` keys use BandKey.norm notation for encodability; `properties`
  * carries stringified item properties for property-groupby (A1).
  */
final case class ParsedItem(id: String,
                            collection: String,
                            bands: Map[String, RasterSource],
                            geometry: Option[GeomData],
                            datetime: Option[java.sql.Timestamp],
                            datetimeStart: Option[java.sql.Timestamp] = None,
                            datetimeEnd: Option[java.sql.Timestamp] = None,
                            href: Option[String] = None,
                            properties: Map[String, String] = Map.empty) {

  /** coalesce(datetime, start, end) else error (F3, `model.py:341-354`). */
  def nominalDatetime: java.sql.Timestamp =
    datetime.orElse(datetimeStart).orElse(datetimeEnd)
      .getOrElse(throw new IllegalStateException(s"Item $id has no timestamp"))

  /** Unique geoboxes, highest resolution (smallest gsd) first
    * (`model.py:222-240`). */
  def geoboxes(bandNames: Seq[String], md: CollectionMetadata): Seq[GeoBox] = {
    // bandKeyOpt: a requested band missing from THIS item's collection
    // contributes no geobox (multi-collection loads plan on the rest)
    val keys =
      if (bandNames.isEmpty) md.bands.keys.toSeq
      else bandNames.flatMap(b => scala.util.Try(md.bandKey(b)).toOption)
    keys.flatMap(k => bands.get(k.norm).flatMap(_.geobox))
      .map(_.toGeoBox).distinct.sortBy(_.gsd)
  }

  /** First non-null CRS across assets (`model.py:242-250`). */
  def crs(md: CollectionMetadata): Option[Crs] =
    geoboxes(Nil, md).headOption.map(_.crs)

  /** Footprint: full-image extent from proj data if present, else item
    * geometry (densified reprojection) (`model.py:271-299`). */
  def safeGeometry(crs: Option[Crs], md: CollectionMetadata): Option[Geom] = {
    val fromProj = geoboxes(Nil, md).headOption.map { g =>
      crs match {
        case Some(c) if c != g.crs => g.footprint(c)
        case _ => g.extentGeom
      }
    }
    fromProj.orElse(geometry.map(_.toGeom).map { g =>
      crs match {
        case Some(c) => g.toCrs(c)
        case None => g
      }
    })
  }

  /** Longitude of footprint centroid in EPSG:4326 (F4, `model.py:356-366`). */
  def midLongitude: Option[Double] = geometry.map { g =>
    val geom = g.toGeom
    val (cx, cy) = geom.centroid
    Crs.transform(geom.crs, Crs.LonLat, cx, cy)._1
  }

  /** Solar-time shift: utc + int(lon/15)*3600s, truncation toward zero
    * (F1, `model.py:454-458`). */
  def solarDatetimeAt(lon: Double): java.sql.Timestamp = {
    val offsetSeconds = (lon / 15).toInt * 3600L
    new java.sql.Timestamp(nominalDatetime.getTime + offsetSeconds * 1000L)
  }

  def solarDate(lonOverride: Option[Double]): java.time.LocalDate = {
    val lon = lonOverride.orElse(midLongitude)
    val ts = lon.map(solarDatetimeAt).getOrElse(nominalDatetime)
    ts.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDate
  }
}

/** Collection-level schema: band types, alias map, grid map
  * (`model.py:33-190`). Driver-side object, broadcast to executors.
  */
final case class CollectionMetadata(name: String,
                                    bands: Map[BandKey, RasterBandMetadata],
                                    aliases: Map[String, List[BandKey]],
                                    hasProj: Boolean,
                                    band2grid: Map[String, String]) {

  /** Band name normalization (`model.py:99-117`): single-band assets get
    * the bare asset name; else first-choice alias; else "asset.idx". */
  def normKey(k: BandKey): String = {
    if (k.idx == 1 && !bands.contains(BandKey(k.asset, 2))) k.asset
    else aliases.collectFirst { case (alias, first :: _) if first == k => alias }
      .getOrElse(k.norm)
  }

  def allBands: Seq[String] = bands.keys.toSeq.sortBy(k => (k.asset, k.idx)).map(normKey)

  /** Canonical key for a band name or alias (P1, `model.py:135-158`). */
  def bandKey(band: String): BandKey = {
    if (bands.contains(BandKey(band, 1))) BandKey(band, 1)
    else aliases.get(band).flatMap(_.headOption).getOrElse {
      val k = BandKey.parse(band)
      if (k.idx != 1 || bands.contains(k)) k
      else throw new IllegalArgumentException(s"No such band/alias: $band")
    }
  }

  /** Resolve query to name->metadata preserving request order
    * (`model.py:125-133`). Empty query = all bands. */
  def resolveBands(query: Seq[String]): Seq[(String, RasterBandMetadata)] = {
    val names = if (query.isEmpty) allBands else query
    names.map { b =>
      val k = bandKey(b)
      b -> bands.getOrElse(k,
        throw new IllegalArgumentException(s"No such band: $b"))
    }
  }
}

/** Per-band load configuration (`loader/types.py:84-139`). */
final case class RasterLoadParams(dataType: Option[String] = None,
                                  fillValue: Option[Double] = None,
                                  srcNodataFallback: Option[Double] = None,
                                  srcNodataOverride: Option[Double] = None,
                                  useOverviews: Boolean = true,
                                  resampling: String = "nearest",
                                  failOnError: Boolean = true)
