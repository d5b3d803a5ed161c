package graft.stac

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.geo.{Crs, Geom}
import graft.model._
import org.apache.spark.sql.{Dataset, SparkSession}

import scala.jdk.CollectionConverters._

/** STAC item JSON -> data model (S1-S6, A7, A8 of SURVEY §2).
  *
  * Collection schema is inferred from the first item of each collection and
  * incrementally widened when later items reveal new assets — exactly the
  * reference's `_CMDAssembler` bootstrap/update (`_mdtools.py:482-639`).
  * Inference and parsing run in one pass on the driver, as in the
  * reference, so the items must fit in driver memory.
  */
object StacParse {

  /** User parse config (MDParseConfig, `model.py:417-442` + `stac_cfg`
    * docs `_stac_load.py:303-336`): band metadata overrides/defaults,
    * extra aliases (first-choice priority), proj-extension ignore. */
  final case class ParseConfig(
      bandDefaults: RasterBandMetadata = RasterBandMetadata(),
      bandCfg: Map[String, RasterBandMetadata] = Map.empty,
      aliases: Map[String, BandKey] = Map.empty,
      ignoreProj: Boolean = false)

  /** Per-collection config with "*" wildcard fallback merged in
    * (`MDParseConfig.from_dict`: `_cfg = copy(cfg["*"]); _cfg.update(
    * cfg[collection_id])`). */
  final case class StacCfg(collections: Map[String, ParseConfig] = Map.empty) {
    def forCollection(id: String): ParseConfig = {
      val base = collections.getOrElse("*", ParseConfig())
      collections.get(id) match {
        case None => base
        case Some(c) => ParseConfig(
          bandDefaults = RasterBandMetadata(
            c.bandDefaults.dataType.orElse(base.bandDefaults.dataType),
            c.bandDefaults.nodata.orElse(base.bandDefaults.nodata),
            if (c.bandDefaults.unit != "1") c.bandDefaults.unit
            else base.bandDefaults.unit),
          bandCfg = base.bandCfg ++ c.bandCfg,
          aliases = base.aliases ++ c.aliases,
          // dict.update semantics: the per-collection entry REPLACES the
          // wildcard value (so "*"->true can be overridden back to false)
          ignoreProj = c.ignoreProj)
      }
    }
  }
  object StacCfg { val empty: StacCfg = StacCfg() }

  private val RolesThumbnail = Set("thumbnail", "overview")
  private val RasterExtensions =
    Set("tif", "tiff", "jpeg", "jpg", "jp2", "img", "hdf", "nc", "zarr", "grb")
  private val NonImageRasterMedia = Set(
    "application/x-hdf", "application/x-hdf5", "application/hdf",
    "application/hdf5", "application/x-netcdf", "application/netcdf",
    "application/x-zarr", "application/zarr")

  private lazy val mapper = new ObjectMapper()

  private def opt(n: JsonNode, field: String): Option[JsonNode] =
    Option(n.get(field)).filterNot(_.isNull)

  /** Raster-asset classifier heuristic (S4, `_mdtools.py:182-238`). */
  private[stac] def isRasterData(asset: JsonNode, checkProj: Boolean,
                                 itemHasProj: Boolean,
                                 props: JsonNode = null): Boolean = {
    if (checkProj && itemHasProj && !hasProjData(asset, props)) return false
    val roles = opt(asset, "roles").map(_.elements().asScala.map(_.asText()).toSet)
      .getOrElse(Set.empty)
    opt(asset, "type").map(_.asText()) match {
      case None =>
        if (roles.contains("data")) true
        else if (roles.contains("metadata")) false
        else {
          val href = opt(asset, "href").map(_.asText()).getOrElse("")
          RasterExtensions.contains(href.split('.').last.toLowerCase)
        }
      case Some(mt0) =>
        val mt = mt0.split(';').head.trim.toLowerCase
        if (mt.startsWith("image/")) !roles.exists(RolesThumbnail.contains)
        else NonImageRasterMedia.contains(mt)
    }
  }

  /** Asset-level proj fields, falling back to item properties — assets
    * inherit item-level extension fields (pystac semantics), so an item
    * carrying proj:shape/proj:transform at item level keeps its assets
    * loadable. */
  private def hasProjData(asset: JsonNode, props: JsonNode): Boolean = {
    def f(name: String): Boolean =
      opt(asset, name).isDefined ||
        Option(props).exists(pr => opt(pr, name).isDefined)
    f("proj:shape") && f("proj:transform")
  }

  /** Asset geobox from proj extension (S6, `_mdtools.py:270-303`);
    * item-level proj:* fields act as fallback. */
  private[stac] def assetGeobox(asset: JsonNode, props: JsonNode): Option[GeoBoxData] = {
    def field(name: String): Option[JsonNode] =
      opt(asset, name).orElse(Option(props).flatMap(p => opt(p, name)))
    for {
      shape <- field("proj:shape").map(_.elements().asScala.map(_.asInt()).toSeq)
      transform <- field("proj:transform")
        .map(_.elements().asScala.map(_.asDouble()).toSeq)
      crs <- field("proj:epsg").map(e => s"EPSG:${e.asInt()}")
        .orElse(field("proj:code").map(_.asText()))
      if shape.length >= 2 &&
        (transform.length == 6 ||
          (transform.length == 9 && transform.drop(6) == Seq(0.0, 0.0, 1.0)))
    } yield {
      val Seq(h, w) = shape.take(2)
      GeoBoxData(w, h, transform.take(6).toArray, crs)
    }
  }

  /** Band metadata from raster:bands with defaults (S5,
    * `_mdtools.py:101-136`). */
  private[stac] def bandMetadata(asset: JsonNode,
                                 default: RasterBandMetadata): Seq[RasterBandMetadata] =
    opt(asset, "raster:bands") match {
      case Some(bands) if bands.size() > 0 =>
        bands.elements().asScala.map { b =>
          RasterBandMetadata(
            // normalize non-native dtypes (uint32 -> int64 etc.) so a real
            // catalog can't crash dtype sizing downstream
            opt(b, "data_type").map(d => graft.raster.Grb.normalizeDtype(d.asText()))
              .orElse(default.dataType),
            opt(b, "nodata").map(_.asDouble()).orElse(default.nodata),
            opt(b, "unit").map(_.asText()).getOrElse(default.unit))
        }.toSeq
      case _ => Seq(default)
    }

  /** Alias map from the eo extension: aliases sorted so fewer-band assets
    * win (A7, `_mdtools.py:400-442`). */
  private[stac] def aliasMap(assets: Map[String, JsonNode]): Map[String, List[BandKey]] = {
    val assetNames = assets.keySet
    val entries = for {
      (name, asset) <- assets.toSeq
      eoBands <- opt(asset, "eo:bands").toSeq
      n = eoBands.size()
      (band, i) <- eoBands.elements().asScala.toSeq.zipWithIndex
      alias <- Seq(opt(band, "name"), opt(band, "common_name")).flatten
        .map(_.asText()).filterNot(assetNames.contains)
    } yield (alias, n, BandKey(name, i + 1))
    entries.groupBy(_._1).map { case (alias, hits) =>
      alias -> hits.sortBy { case (_, count, bk) => (count, bk.asset) }
        .map(_._3).distinct.toList
    }
  }

  /** Grid grouping: bands sharing a geobox form a grid; default grid has
    * most bands, ties broken by smallest gsd (A8, `_mdtools.py:334-397`). */
  private[stac] def band2grid(geoboxes: Map[String, GeoBoxData],
                              gsds: Map[String, Double]): Map[String, String] = {
    if (geoboxes.nonEmpty) {
      val grids = geoboxes.groupBy { case (_, g) =>
        // full geobox identity: same res/anchor but different origin or
        // shape are DIFFERENT grids (reference groups by geobox equality)
        (g.transform.toSeq, g.width, g.height, g.crs)
      }.values.toSeq
      val scored = grids.sortBy { bands =>
        (-bands.size, bands.head._2.toGeoBox.gsd)
      }
      val default = scored.head
      var used = Set("default")
      scored.zipWithIndex.flatMap { case (bands, i) =>
        val gname0 =
          if (bands == default) "default"
          else f"g${bands.head._2.toGeoBox.gsd}%g"
        // distinct grids sharing a gsd get an index suffix
        val gname = if (bands == default || !used(gname0)) gname0 else s"$gname0-$i"
        used += gname
        bands.keys.map(_ -> gname)
      }.toMap
    } else if (gsds.nonEmpty) {
      // no proj data: group by gsd metadata (`band2grid_from_gsd`)
      val grids = gsds.groupBy(_._2)
      val (_, defaultGsd) =
        grids.map { case (g, bands) => (-bands.size, g) }.toSeq.min
      gsds.map { case (b, g) =>
        b -> (if (g == defaultGsd) "default" else f"g$g%g")
      }
    } else Map.empty
  }

  /** Collection schema from one item (S3 `_mdtools.py:620-639`); used as
    * bootstrap and widened by `merge`. */
  def extractCollectionMetadata(json: String,
                                cfg: ParseConfig = ParseConfig()): CollectionMetadata =
    extractCollectionMetadata(mapper.readTree(json), cfg)

  private def extractCollectionMetadata(item: JsonNode,
                                        cfg: ParseConfig): CollectionMetadata = {
    val props = item.get("properties")
    // items without a collection share the "_" sentinel schema (reference
    // `_collection_id`) — falling back to the item id would give every such
    // item a private schema (no widening) and diverge the uuid5 namespace
    val collectionId = opt(item, "collection").map(_.asText()).getOrElse("_")
    val hasProjExt = opt(item, "stac_extensions").exists(
      _.elements().asScala.exists(_.asText().contains("/projection/")))
    val assetsNode = opt(item, "assets").getOrElse(mapper.createObjectNode())
    val allAssets = assetsNode.properties().asScala
      .map(e => e.getKey -> e.getValue).toMap
    val rasterAssets = allAssets.filter { case (_, a) =>
      isRasterData(a, checkProj = true, itemHasProj = hasProjExt,
        props = opt(item, "properties").orNull)
    }
    val bands = rasterAssets.flatMap { case (name, a) =>
      val default = cfg.bandCfg.getOrElse(name, cfg.bandDefaults)
      bandMetadata(a, default).zipWithIndex.map { case (md, i) =>
        BandKey(name, i + 1) ->
          (if (cfg.bandCfg.contains(name)) default else md)
      }
    }
    val geoboxes =
      if (cfg.ignoreProj) Map.empty[String, GeoBoxData]
      else rasterAssets.flatMap { case (name, a) =>
        assetGeobox(a, props).map(name -> _)
      }
    val gsds = rasterAssets.flatMap { case (name, a) =>
      opt(a, "gsd").orElse(Option(props).flatMap(p => opt(p, "gsd")))
        .map(g => name -> g.asDouble())
    }
    // user aliases take first-choice priority (MDParseConfig.aliases)
    val aliases = cfg.aliases.foldLeft(aliasMap(rasterAssets)) {
      case (acc, (alias, bk)) =>
        acc.updated(alias, bk :: acc.getOrElse(alias, Nil).filterNot(_ == bk))
    }
    CollectionMetadata(collectionId, bands, aliases,
      hasProj = geoboxes.nonEmpty, band2grid(geoboxes, gsds))
  }

  /** Incremental widening when a later item reveals new assets
    * (`_CMDAssembler.update`, `_mdtools.py:571-617`). */
  def merge(a: CollectionMetadata, b: CollectionMetadata): CollectionMetadata =
    a.copy(
      hasProj = a.hasProj || b.hasProj,
      bands = b.bands ++ a.bands,
      aliases = (a.aliases.toSeq ++ b.aliases.toSeq)
        .groupBy(_._1).map { case (k, vs) =>
          k -> vs.flatMap(_._2).distinct.toList
        },
      band2grid = b.band2grid ++ a.band2grid)

  /** Parse one item against its collection schema (S1,
    * `_mdtools.py:642-702`). */
  def parseItem(json: String, md: CollectionMetadata,
                cfg: ParseConfig = ParseConfig()): ParsedItem =
    parseItem(mapper.readTree(json), md, cfg)

  private def parseItem(item: JsonNode, md: CollectionMetadata,
                        cfg: ParseConfig): ParsedItem = {
    val props = item.get("properties")
    val id = opt(item, "id").map(_.asText()).getOrElse("")
    val assetsNode = opt(item, "assets").getOrElse(mapper.createObjectNode())
    val sources = md.bands.keys.flatMap { bk =>
      Option(assetsNode.get(bk.asset)).filterNot(_.isNull).map { asset =>
        val bmd = md.bands(bk)
        // A non-numeric URI fragment names a subdataset of a container
        // asset (netCDF-style variable addressing; reference
        // `loader/types.py:44-56`); a numeric fragment stays in the URI
        // as an explicit image index (overview addressing).
        val href = opt(asset, "href").map(_.asText()).getOrElse("")
        val (uri, sub) = href.lastIndexOf('#') match {
          case -1 => (href, None)
          case i =>
            val frag = href.substring(i + 1)
            if (frag.nonEmpty && !frag.forall(_.isDigit))
              (href.substring(0, i), Some(frag))
            else (href, None)
        }
        bk.norm -> RasterSource(
          uri = uri,
          band = bk.idx,
          subdataset = sub,
          geobox = if (cfg.ignoreProj) None else assetGeobox(asset, props),
          dataType = bmd.dataType,
          nodata = bmd.nodata,
          unit = bmd.unit)
      }
    }.toMap
    val geometry = opt(item, "geometry").flatMap(parseGeometry)
    def ts(field: String): Option[java.sql.Timestamp] =
      Option(props).flatMap(p => opt(p, field)).map(_.asText())
        .filter(_.nonEmpty).map(parseInstant)
    val propMap = Option(props).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)
    ParsedItem(
      id = id,
      collection = md.name,
      bands = sources,
      geometry = geometry,
      datetime = ts("datetime"),
      datetimeStart = ts("start_datetime"),
      datetimeEnd = ts("end_datetime"),
      href = opt(item, "links").flatMap(_.elements().asScala.find(l =>
        opt(l, "rel").exists(_.asText() == "self"))
        .flatMap(l => opt(l, "href").map(_.asText()))),
      properties = propMap)
  }

  private def parseInstant(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.OffsetDateTime.parse(s).toInstant)

  /** GeoJSON geometry -> GeomData. Every GeoJSON type parses — the
    * reference accepts any geometry via shapely (`_mdtools.py:768-784`,
    * `model.py:210-211`). Polygon/MultiPolygon keep holes; Point/
    * MultiPoint/LineString/MultiLineString coerce to degenerate polygon
    * parts (bbox, centroid-fallback and vertex/edge intersection tests
    * all hold; a closed polyline can only OVER-cover, never under-cover,
    * so spatial binning stays conservative-safe); GeometryCollection
    * merges its members' parts. */
  private[stac] def parseGeometry(g: JsonNode): Option[GeomData] =
    parseGeomParts(g).filter(_.nonEmpty)
      .map(ps => GeomData.from(Geom(ps, Crs.LonLat)))

  private def parseGeomParts(g: JsonNode): Option[IndexedSeq[graft.geo.Poly]] = {
    def ring(node: JsonNode): IndexedSeq[(Double, Double)] = {
      val pts = node.elements().asScala.map { pt =>
        (pt.get(0).asDouble(), pt.get(1).asDouble())
      }.toIndexedSeq
      // drop closing point if repeated
      if (pts.length > 1 && pts.head == pts.last) pts.dropRight(1) else pts
    }
    def poly(rings: JsonNode): Option[graft.geo.Poly] = {
      val rs = rings.elements().asScala.map(ring).filter(_.nonEmpty).toIndexedSeq
      rs.headOption.map(outer => graft.geo.Poly(outer, rs.drop(1)))
    }
    def pointPoly(node: JsonNode): Option[graft.geo.Poly] = {
      val pt = (node.get(0).asDouble(), node.get(1).asDouble())
      Some(graft.geo.Poly(IndexedSeq(pt)))
    }
    def linePoly(node: JsonNode): Option[graft.geo.Poly] = {
      val pts = ring(node)
      if (pts.isEmpty) None else Some(graft.geo.Poly(pts))
    }
    def many(coords: JsonNode, f: JsonNode => Option[graft.geo.Poly]) = {
      val parts = coords.elements().asScala.flatMap(f).toIndexedSeq
      if (parts.isEmpty) None else Some(parts)
    }
    opt(g, "type").map(_.asText()) match {
      case Some("Polygon") =>
        opt(g, "coordinates").flatMap(poly).map(IndexedSeq(_))
      case Some("MultiPolygon") =>
        opt(g, "coordinates").flatMap(many(_, poly))
      case Some("Point") =>
        opt(g, "coordinates").flatMap(pointPoly).map(IndexedSeq(_))
      case Some("MultiPoint") =>
        opt(g, "coordinates").flatMap(many(_, pointPoly))
      case Some("LineString") =>
        opt(g, "coordinates").flatMap(linePoly).map(IndexedSeq(_))
      case Some("MultiLineString") =>
        opt(g, "coordinates").flatMap(many(_, linePoly))
      case Some("GeometryCollection") =>
        opt(g, "geometries").flatMap { gs =>
          val parts = gs.elements().asScala
            .flatMap(parseGeomParts).flatten.toIndexedSeq
          if (parts.isEmpty) None else Some(parts)
        }
      case _ => None
    }
  }

  private def collectionOf(node: JsonNode): String =
    opt(node, "collection").map(_.asText()).getOrElse("_")

  /** Parse items against standing schemas (the raster streams infer
    * them once up front). Every item's collection must have one. */
  def parseWithSchemas(jsons: Seq[String],
                       schemas: Map[String, CollectionMetadata],
                       cfg: StacCfg = StacCfg.empty): Seq[ParsedItem] =
    parseWithSchemasOf(jsons.map(mapper.readTree), schemas, cfg)

  private def parseWithSchemasOf(items: Seq[JsonNode],
                                 schemas: Map[String, CollectionMetadata],
                                 cfg: StacCfg): Seq[ParsedItem] =
    items.map { item =>
      val name = collectionOf(item)
      require(schemas.contains(name),
        s"item '${opt(item, "id").map(_.asText()).getOrElse("")}' belongs to " +
          s"collection '$name', which has no schema")
      parseItem(item, schemas(name), cfg.forCollection(name))
    }

  /** Multi-collection item parse (S2, `_mdtools.py:705-723`): one
    * driver-side pass, like the reference. The per-collection schemas are
    * a left fold in input order (`_CMDAssembler`, `_mdtools.py:482-617`)
    * that bootstraps each collection from its first item and widens it
    * with [[merge]], so the first item seen wins for metadata two items
    * disagree on; `known` seeds the fold, so a stream can widen its
    * accumulated schemas batch by batch. Items are then parsed against
    * the widened schemas. Items must fit on the driver, as
    * [[graft.load.Load.load]] already requires. */
  def parseItems(jsons: Seq[String], cfg: StacCfg = StacCfg.empty,
                 known: Map[String, CollectionMetadata] = Map.empty)
  : (Seq[ParsedItem], Map[String, CollectionMetadata]) = {
    // reading the JSON dominates the parse, so each item is read once
    val items = jsons.map(mapper.readTree)
    val schemas = items.foldLeft(known) { (acc, item) =>
      val name = collectionOf(item)
      val md = extractCollectionMetadata(item, cfg.forCollection(name))
      acc.updated(name, acc.get(name).fold(md)(merge(_, md)))
    }
    (parseWithSchemasOf(items, schemas, cfg), schemas)
  }

  /** [[parseItems]] for a `Dataset` of item JSONs: collects them and
    * parses on the driver. On a local input (`spark.createDataset(seq)`)
    * neither the collect nor the result's `collect` runs a Spark job. */
  def parseItems(spark: SparkSession, jsons: Dataset[String])
  : (Dataset[ParsedItem], Map[String, CollectionMetadata]) = {
    import spark.implicits._
    val (items, schemas) = parseItems(jsons.collect().toSeq)
    (spark.createDataset(items), schemas)
  }

  /** URL rewrite / signing hook (P5, `patch_urls` `_stac_load.py:60-84`):
    * map `edit` over the source URIs of the selected bands. */
  def patchUrls(items: Seq[ParsedItem], edit: String => String,
                bands: Option[Set[String]] = None): Seq[ParsedItem] =
    items.map { item =>
      item.copy(bands = item.bands.map { case (k, src) =>
        val hit = bands.forall(b =>
          b.contains(k) || b.contains(BandKey.parse(k).asset))
        k -> (if (hit) src.copy(uri = edit(src.uri)) else src)
      })
    }

  /** GeoJSON FeatureCollection -> item JSON stream (S15, bench source
    * `bench/_run.py:386-422`). */
  def featureCollectionItems(json: String): Seq[String] = {
    val root = mapper.readTree(json)
    require(opt(root, "type").exists(_.asText() == "FeatureCollection"),
      "expected a FeatureCollection")
    opt(root, "features").map(_.elements().asScala.map(_.toString).toSeq)
      .getOrElse(Seq.empty)
  }
}
