package graft.planner

import graft.geo._
import graft.model.{CollectionMetadata, ParsedItem}

/** Output-grid planning + temporal grouping — stage 3/6 of the load
  * lifecycle (SURVEY §3.1; reference `_mdtools.py:726-981`,
  * `_stac_load.py:480-566`). Pure driver-side metadata math: at 100 TB
  * these inputs are item *metadata* (KBs per item), never pixels.
  */
object Planner {

  /** Majority-vote grid election (A4, `_most_common_gbox`
    * `_mdtools.py:726-749`): identical-geobox fast path; else most common
    * (crs, res, anchor); <=10% majority -> retry ignoring anchor. The
    * election carries the full signed `(resX, resY)` Resolution — not a
    * scalar gsd — so anisotropic-pixel collections elect their true grid. */
  def mostCommonGbox(gboxes: Seq[GeoBox], thresh: Double = 0.1)
  : (Crs, (Double, Double), Anchor, Option[GeoBox]) = {
    require(gboxes.nonEmpty)
    val distinct = gboxes.distinct
    if (distinct.size == 1) {
      val g = distinct.head
      return (g.crs, (g.resX, g.resY), g.anchor(), Some(g))
    }
    val keyed = gboxes.map(g => (g.crs.code, (g.resX, g.resY), g.anchor()))
    val hist = keyed.groupBy(identity).view.mapValues(_.size).toSeq
    val ((crsCode, res, anchor), n) = hist.maxBy { case (k, c) => (c, k.toString) }
    if (n.toDouble / keyed.size > thresh)
      (Crs.parse(crsCode), res, anchor, None)
    else {
      val hist2 = keyed.map { case (c, r, _) => (c, r) }
        .groupBy(identity).view.mapValues(_.size).toSeq
      val ((c2, r2), _) = hist2.maxBy { case (k, c) => (c, k.toString) }
      (Crs.parse(c2), r2, Anchor.Edge, None)
    }
  }

  /** BBox union of item footprints in `crs` (A5, `_compute_bbox`
    * `_mdtools.py:787-803`). */
  def computeBBox(items: Seq[ParsedItem], crs: Crs,
                  md: Map[String, CollectionMetadata]): BBox =
    items.flatMap(i => i.safeGeometry(Some(crs), md(i.collection)).map(_.bbox))
      .reduceOption(_ union _)
      .getOrElse(throw new IllegalArgumentException(
        "Cannot determine extent: no item has a footprint (proj geobox or geometry)"))

  /** Output-geobox resolution from the 12 mutually-constrained parameters
    * (`output_geobox`, `_mdtools.py:823-981`). Returns None when CRS or
    * resolution can't be determined. Mutually-exclusive arg validation
    * throws IllegalArgumentException (P8).
    */
  def outputGeobox(items: Seq[ParsedItem],
                   md: Map[String, CollectionMetadata],
                   bands: Seq[String] = Nil,
                   crs: Option[String] = None,
                   resolution: Option[Double] = None,
                   anchor: Option[Anchor] = None,
                   align: Option[Double] = None,
                   geobox: Option[GeoBox] = None,
                   like: Option[GeoBox] = None,
                   bbox: Option[BBox] = None,
                   lon: Option[(Double, Double)] = None,
                   lat: Option[(Double, Double)] = None,
                   x: Option[(Double, Double)] = None,
                   y: Option[(Double, Double)] = None,
                   geopolygon: Option[Geom] = None): Option[GeoBox] = {
    val params = Seq(
      "x" -> x.isDefined, "y" -> y.isDefined, "lon" -> lon.isDefined,
      "lat" -> lat.isDefined, "crs" -> crs.isDefined,
      "resolution" -> resolution.isDefined, "align" -> align.isDefined,
      "anchor" -> anchor.isDefined, "like" -> like.isDefined,
      "bbox" -> bbox.isDefined, "geobox" -> geobox.isDefined,
      "geopolygon" -> geopolygon.isDefined)
      .collect { case (k, true) => k }.toSet

    def reportExtra(primary: String, ok: String*): Unit = {
      val extra = params -- (ok :+ primary)
      if (extra.nonEmpty)
        throw new IllegalArgumentException(
          s"Too many arguments when using `$primary=`: ${extra.mkString(",")}")
    }

    if (geobox.isDefined) { reportExtra("geobox"); return geobox }
    if (like.isDefined) { reportExtra("like"); return like }
    if (params.contains("x") != params.contains("y"))
      throw new IllegalArgumentException("Need to supply both x= and y=")
    if (params.contains("lon") != params.contains("lat"))
      throw new IllegalArgumentException("Need to supply both lon= and lat=")

    val gridParams = Seq("crs", "align", "anchor", "resolution")

    // normalize x/y | lon/lat | bbox | geopolygon to a geopolygon ROI
    var queryPoly: Option[Geom] = None
    if (geopolygon.isDefined) {
      reportExtra("geopolygon", gridParams: _*)
      queryPoly = geopolygon
    } else if (bbox.isDefined) {
      reportExtra("bbox", gridParams: _*)
      queryPoly = Some(Geom.box(bbox.get, Crs.LonLat))
    } else if (lon.isDefined && lat.isDefined) {
      reportExtra("lon,lat", ("lon" +: "lat" +: gridParams): _*)
      val (x0, x1) = (math.min(lon.get._1, lon.get._2), math.max(lon.get._1, lon.get._2))
      val (y0, y1) = (math.min(lat.get._1, lat.get._2), math.max(lat.get._1, lat.get._2))
      queryPoly = Some(Geom.box(BBox(x0, y0, x1, y1), Crs.LonLat))
    } else if (x.isDefined && y.isDefined) {
      if (crs.isEmpty)
        throw new IllegalArgumentException("Need to supply `crs=` when using `x=`, `y=`.")
      reportExtra("x,y", ("x" +: "y" +: gridParams): _*)
      val (x0, x1) = (math.min(x.get._1, x.get._2), math.max(x.get._1, x.get._2))
      val (y0, y1) = (math.min(y.get._1, y.get._2), math.max(y.get._1, y.get._2))
      queryPoly = Some(Geom.box(BBox(x0, y0, x1, y1), resolveCrs(crs.get, queryPoly)))
    }

    val fullAuto = params.isEmpty
    var electedAnchor: Anchor = Anchor.Edge
    var theGbox: Option[GeoBox] = None
    var crsR: Option[Crs] = crs.map(c => resolveCrs(c, queryPoly.orElse(
      items.headOption.flatMap(i => i.geometry.map(_.toGeom)))))
    // user-facing scalar resolution means square pixels (rX=r, rY=-r);
    // elected resolutions keep the collection's signed anisotropic pair
    var resR: Option[(Double, Double)] = resolution.map(r => (r, -r))

    if (crsR.isEmpty || resR.isEmpty) {
      val gboxes = items.flatMap(i =>
        i.geoboxes(bands, md(i.collection)).headOption)
      if (gboxes.nonEmpty) {
        val (eCrs, eRes, eAnchor, eGbox) = mostCommonGbox(gboxes)
        electedAnchor = eAnchor
        theGbox = eGbox
        if (fullAuto && theGbox.isDefined) return theGbox
        if (crsR.isEmpty) crsR = Some(eCrs)
        if (resR.isEmpty) resR = Some(eRes)
      }
      if (crsR.isEmpty) crsR = queryPoly.map(_.crs)
      if (crsR.isEmpty || resR.isEmpty) return None
    }

    // align (legacy, CRS units) -> anchor fraction (F9, `_mdtools.py:806-820`)
    val anchorR: Anchor =
      if (anchor.isDefined) anchor.get
      else if (align.isDefined) {
        if (align.get == 0) Anchor.Edge
        else Anchor(align.get / math.abs(resR.get._1),
          align.get / math.abs(resR.get._2))
      } else electedAnchor

    queryPoly match {
      case Some(p) =>
        Some(GeoBox.fromGeopolygonXY(p, resR.get._1, resR.get._2, crsR.get, anchorR))
      case None =>
        val b = computeBBox(items, crsR.get, md)
        Some(GeoBox.fromBBoxXY(b, resR.get._1, resR.get._2, crsR.get, anchorR))
    }
  }

  /** "utm" auto-CRS resolution from a reference geometry
    * (`_stac_load.py:220-222`). */
  private def resolveCrs(s: String, ref: Option[Geom]): Crs =
    if (s.equalsIgnoreCase("utm")) {
      val g = ref.getOrElse(throw new IllegalArgumentException(
        "crs='utm' needs a geometry to resolve the zone"))
      val (cx, cy) = g.toCrs(Crs.LonLat).centroid
      Crs.utmFor(cx, cy)
    } else Crs.parse(s)

  // ---- temporal grouping (A1, `_group_items` `_stac_load.py:538-566`) ----

  sealed trait GroupBy
  case object ByTime extends GroupBy
  case object ById extends GroupBy
  final case class BySolarDay(lon: Option[Double]) extends GroupBy
  final case class ByProperty(key: String) extends GroupBy
  final case class ByCallback(f: (ParsedItem, Int) => String) extends GroupBy

  object GroupBy {
    def parse(s: String, midLon: Option[Double]): GroupBy = s match {
      case "time" => ByTime
      case "id" => ById
      case "solar_day" => BySolarDay(midLon)
      case prop => ByProperty(prop)
    }
  }

  /** Stable grouping: sort by (key, time, id) — or (key, idx) when
    * preserving input order — then group. Returns groups of item indices
    * in fuse-priority order. */
  def groupItems(items: Seq[ParsedItem], groupby: GroupBy,
                 preserveOriginalOrder: Boolean = false): Seq[Seq[Int]] = {
    def key(idx: Int): String = groupby match {
      // fixed-width epoch-millis key: Instant.toString orders
      // non-chronologically when sub-second precision varies. Biased to
      // unsigned so pre-1970 (negative) epochs still sort lexicographically
      // before later ones — a raw %020d would put "-0000...9" after "0...1".
      case ByTime =>
        val u = java.lang.Long.toUnsignedString(
          items(idx).nominalDatetime.getTime + Long.MinValue)
        "0" * (20 - u.length) + u
      case ById => f"$idx%09d"
      case BySolarDay(lon) => items(idx).solarDate(lon).toString
      case ByProperty(p) => items(idx).properties.getOrElse(p, "")
      case ByCallback(f) => f(items(idx), idx)
    }
    val sorted = items.indices.sortBy { idx =>
      if (preserveOriginalOrder) (key(idx), f"$idx%09d", "")
      else (key(idx), items(idx).nominalDatetime.toInstant.toString, items(idx).id)
    }
    sorted.foldLeft(Vector.empty[Vector[Int]]) { (acc, idx) =>
      if (acc.nonEmpty && key(acc.last.head) == key(idx)) acc.init :+ (acc.last :+ idx)
      else acc :+ Vector(idx)
    }
  }

  /** Group timestamp = first member's nominal datetime (A3,
    * `_extract_timestamps` `_stac_load.py:480-485`). */
  def groupTimestamps(items: Seq[ParsedItem],
                      groups: Seq[Seq[Int]]): Seq[java.sql.Timestamp] =
    groups.map(g => items(g.head).nominalDatetime)

  /** Widest-dtype election for the output (A6, `_stac_load.py:391-397`):
    * max by itemsize, default uint16. */
  def electDtype(dtypes: Seq[String]): String =
    if (dtypes.isEmpty) "uint16"
    else dtypes.maxBy(d => (graft.raster.Grb.dtypeSize(d), d))
}
