package graft

import graft.model.{BandKey, RasterBandMetadata}
import graft.raster.Fixtures
import graft.stac.StacParse
import graft.stac.StacParse.{ParseConfig, StacCfg}
import org.scalatest.funsuite.AnyFunSuite

/** stac_cfg overrides (MDParseConfig semantics), URL patching, and the
  * FeatureCollection bench source. */
class StacSpec extends AnyFunSuite {
  import GraftSpark.spark
  import spark.implicits._

  private lazy val jsons = Fixtures.writeScenes(2)

  test("stac_cfg band override + user alias takes first priority") {
    val cfg = StacCfg(Map(Fixtures.CollectionId -> ParseConfig(
      bandCfg = Map("red" -> RasterBandMetadata(Some("float32"), Some(-1.0))),
      aliases = Map("crimson" -> BandKey("red", 1)))))
    val (items, schemas) = StacParse.parseItems(jsons, cfg)
    val md = schemas(Fixtures.CollectionId)
    assert(md.bands(BandKey("red", 1)) ==
      RasterBandMetadata(Some("float32"), Some(-1.0)))
    assert(md.bands(BandKey("nir", 1)).dataType.contains("uint16")) // untouched
    assert(md.bandKey("crimson") == BandKey("red", 1))
    assert(items.size == 2)
  }

  test("stac_cfg wildcard merges under collection-specific config") {
    val cfg = StacCfg(Map(
      "*" -> ParseConfig(bandDefaults = RasterBandMetadata(nodata = Some(9.0))),
      Fixtures.CollectionId -> ParseConfig(ignoreProj = true)))
    val c = cfg.forCollection(Fixtures.CollectionId)
    assert(c.ignoreProj && c.bandDefaults.nodata.contains(9.0))
    val md = StacParse.extractCollectionMetadata(jsons.head, c)
    assert(!md.hasProj)
    // falls back to gsd-based grid grouping (band2grid_from_gsd)
    assert(md.band2grid.values.toSet == Set("default"))
  }

  test("MultiPolygon and holed-Polygon geometries parse (not dropped)") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def withGeometry(json: String, geom: String): String = {
      val node = mapper.readTree(json)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      node.set[com.fasterxml.jackson.databind.JsonNode](
        "geometry", mapper.readTree(geom))
      node.toString
    }
    val md = StacParse.extractCollectionMetadata(jsons.head)
    val multi = withGeometry(jsons.head,
      """{"type":"MultiPolygon","coordinates":[
        |[[[26.0,-18.0],[26.5,-18.0],[26.5,-17.5],[26.0,-17.5],[26.0,-18.0]]],
        |[[[27.0,-18.0],[27.5,-18.0],[27.5,-17.5],[27.0,-17.5],[27.0,-18.0]]]
        |]}""".stripMargin)
    val mItem = StacParse.parseItem(multi, md)
    assert(mItem.geometry.isDefined)
    val mGeom = mItem.geometry.get.toGeom
    assert(mGeom.parts.length == 2)
    assert(mGeom.containsPoint(26.2, -17.8) && mGeom.containsPoint(27.2, -17.8))
    assert(!mGeom.containsPoint(26.8, -17.8)) // between the parts
    val holed = withGeometry(jsons.head,
      """{"type":"Polygon","coordinates":[
        |[[26.0,-18.0],[27.0,-18.0],[27.0,-17.0],[26.0,-17.0],[26.0,-18.0]],
        |[[26.4,-17.6],[26.6,-17.6],[26.6,-17.4],[26.4,-17.4],[26.4,-17.6]]
        |]}""".stripMargin)
    val hGeom = StacParse.parseItem(holed, md).geometry.get.toGeom
    assert(hGeom.parts.head.holes.length == 1)
    assert(!hGeom.containsPoint(26.5, -17.5)) // inside the hole
    // non-areal GeoJSON coerces to degenerate parts (P7: the reference
    // accepts any geometry via shapely) — bbox + tile predicate hold
    val point = withGeometry(jsons.head,
      """{"type":"Point","coordinates":[26.0,-18.0]}""")
    val pGeom = StacParse.parseItem(point, md).geometry.get.toGeom
    assert(pGeom.bbox == graft.geo.BBox(26.0, -18.0, 26.0, -18.0))
    assert(pGeom.intersectsBox(graft.geo.BBox(25.5, -18.5, 26.5, -17.5)))
    assert(!pGeom.intersectsBox(graft.geo.BBox(27.0, -18.5, 28.0, -17.5)))
    assert(pGeom.centroid == ((26.0, -18.0)))
    val line = withGeometry(jsons.head,
      """{"type":"LineString","coordinates":[[26.0,-18.0],[27.0,-17.0]]}""")
    val lGeom = StacParse.parseItem(line, md).geometry.get.toGeom
    assert(lGeom.bbox == graft.geo.BBox(26.0, -18.0, 27.0, -17.0))
    // the line crosses this box but has no vertex inside it
    assert(lGeom.intersectsBox(graft.geo.BBox(26.4, -17.7, 26.6, -17.5)))
    val mp = withGeometry(jsons.head,
      """{"type":"MultiPoint","coordinates":[[26.0,-18.0],[28.0,-16.0]]}""")
    val mpGeom = StacParse.parseItem(mp, md).geometry.get.toGeom
    assert(mpGeom.parts.length == 2)
    assert(mpGeom.bbox == graft.geo.BBox(26.0, -18.0, 28.0, -16.0))
    val gc = withGeometry(jsons.head,
      """{"type":"GeometryCollection","geometries":[
        |{"type":"Point","coordinates":[25.0,-19.0]},
        |{"type":"Polygon","coordinates":
        |  [[[26.0,-18.0],[27.0,-18.0],[27.0,-17.0],[26.0,-17.0],[26.0,-18.0]]]}
        |]}""".stripMargin)
    val gcGeom = StacParse.parseItem(gc, md).geometry.get.toGeom
    assert(gcGeom.parts.length == 2)
    assert(gcGeom.containsPoint(26.5, -17.5)) // the polygon member still areal
    // a genuinely unknown type still drops to None (loudly counted)
    val junk = withGeometry(jsons.head, """{"type":"Weird","coordinates":[]}""")
    assert(StacParse.parseItem(junk, md).geometry.isEmpty)
  }

  test("patch_urls rewrites only the selected bands (P5)") {
    val (items, _) = StacParse.parseItems(jsons)
    val patched = StacParse.patchUrls(items,
      uri => uri + "?signed=1", bands = Some(Set("red")))
    patched.foreach { item =>
      assert(item.bands("red").uri.endsWith("?signed=1"))
      assert(!item.bands("nir").uri.contains("signed"))
    }
    val all = StacParse.patchUrls(items, _ + "#x", None)
    assert(all.forall(_.bands.values.forall(_.uri.endsWith("#x"))))
  }

  test("FeatureCollection source yields the same parsed items (S15)") {
    val fc = s"""{"type": "FeatureCollection",
                 |"features": [${jsons.mkString(",")}]}""".stripMargin
    val items = StacParse.featureCollectionItems(fc)
    assert(items.length == 2)
    val (ds, _) = StacParse.parseItems(spark, spark.createDataset(items))
    assert(ds.collect().map(_.id).sorted.toSeq == Seq("scene-0", "scene-1"))
    assertThrows[IllegalArgumentException] {
      StacParse.featureCollectionItems("""{"type": "Feature"}""")
    }
  }
}
