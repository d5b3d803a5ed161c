package graft.eo3

import com.fasterxml.jackson.databind.JsonNode
import graft.model.{BandKey, CollectionMetadata, ParsedItem}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** STAC -> ODC-EO3 metadata converter (S13/S14,
  * `eo3/_eo3converter.py:251-325`): a pure projection of `ParsedItem`
  * into EO3 dataset documents, distributed as a `Dataset.map` + JSON sink.
  */
object Eo3 {

  /** uuid5(NAMESPACE_URL, "https://stacspec.org") — the deterministic
    * namespace the reference derives (`eo3/_eo3converter.py:40`). */
  val UuidNamespaceStac: java.util.UUID =
    java.util.UUID.fromString("55d26088-a6d0-5c77-bf9a-3a7f3c6a6dab")

  val StacToEo3Renames: Map[String, String] = Map(
    "end_datetime" -> "dtr:end_datetime",
    "start_datetime" -> "dtr:start_datetime",
    "gsd" -> "eo:gsd",
    "instruments" -> "eo:instrument",
    "platform" -> "eo:platform",
    "constellation" -> "eo:constellation",
    "view:off_nadir" -> "eo:off_nadir",
    "view:azimuth" -> "eo:azimuth",
    "view:sun_azimuth" -> "eo:sun_azimuth",
    "view:sun_elevation" -> "eo:sun_elevation")

  /** RFC 4122 uuid5 (SHA-1 name-based), which the JDK lacks (F12). */
  def uuid5(namespace: java.util.UUID, name: String): java.util.UUID = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val bb = java.nio.ByteBuffer.allocate(16)
    bb.putLong(namespace.getMostSignificantBits)
    bb.putLong(namespace.getLeastSignificantBits)
    md.update(bb.array())
    md.update(name.getBytes("UTF-8"))
    val h = md.digest()
    h(6) = ((h(6) & 0x0f) | 0x50).toByte // version 5
    h(8) = ((h(8) & 0x3f) | 0x80).toByte // variant
    val buf = java.nio.ByteBuffer.wrap(h)
    new java.util.UUID(buf.getLong, buf.getLong)
  }

  /** Deterministic dataset UUID (`_compute_uuid`,
    * `eo3/_eo3converter.py:125-156`): native UUID ids pass through; else
    * uuid5 over "collection\nid\n[k=v\n...]". */
  def datasetUuid(item: ParsedItem, extras: Seq[String] = Nil): java.util.UUID = {
    try java.util.UUID.fromString(item.id)
    catch {
      case _: IllegalArgumentException =>
        val lines = Seq(item.collection, item.id) ++
          extras.sorted.map(k => s"$k=${item.properties.getOrElse(k, "")}")
        uuid5(UuidNamespaceStac, lines.mkString("", "\n", "\n"))
    }
  }

  /** EO3 dataset document as a JSON string (`_to_dataset`,
    * `eo3/_eo3converter.py:163-226`). */
  def toDatasetDoc(item: ParsedItem, md: CollectionMetadata): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("id", datasetUuid(item).toString)
    root.put("$schema", "https://schemas.opendatacube.org/dataset")
    val grids = mapper.createObjectNode()
    val measurements = mapper.createObjectNode()
    var crs: Option[String] = None
    item.bands.toSeq.sortBy(_._1).foreach { case (key, src) =>
      val bk = BandKey.parse(key)
      val m = mapper.createObjectNode()
      // subdataset sources must keep their fragment: a bare container
      // URI would silently point consumers at image 0 (wrong band data)
      m.put("path", src.subdataset.fold(src.uri)(s => s"${src.uri}#$s"))
      if (bk.idx > 1) m.put("band", bk.idx)
      val gridName = md.band2grid.getOrElse(bk.asset, "default")
      if (gridName != "default" && md.hasProj) m.put("grid", gridName)
      // key by the normalized band name — bands of a multi-band asset
      // ("data", "data.2") must not overwrite each other
      measurements.set[JsonNode](bk.norm, m)
      src.geobox.foreach { g =>
        if (crs.isEmpty) crs = Some(g.crs)
        if (!grids.has(gridName)) {
          val gn = mapper.createObjectNode()
          val shape = mapper.createArrayNode()
          shape.add(g.height); shape.add(g.width)
          gn.set[JsonNode]("shape", shape)
          val t = mapper.createArrayNode()
          g.transform.foreach(t.add)
          gn.set[JsonNode]("transform", t)
          grids.set[JsonNode](gridName, gn)
        }
      }
    }
    if (grids.isEmpty) {
      item.geometry.foreach { g =>
        val one = graft.geo.GeoBox.oneByOne(g.toGeom)
        val gn = mapper.createObjectNode()
        val shape = mapper.createArrayNode(); shape.add(1); shape.add(1)
        gn.set[JsonNode]("shape", shape)
        val t = mapper.createArrayNode()
        one.transform.toArray.foreach(t.add)
        gn.set[JsonNode]("transform", t)
        grids.set[JsonNode]("default", gn)
        crs = Some(one.crs.code)
      }
    }
    root.put("crs", crs.getOrElse("EPSG:4326"))
    root.set[JsonNode]("grids", grids)
    root.put("location", "")
    root.set[JsonNode]("measurements", measurements)
    val props = mapper.createObjectNode()
    item.properties.toSeq.sortBy(_._1).foreach { case (k, v) =>
      props.put(StacToEo3Renames.getOrElse(k, k), v)
    }
    root.set[JsonNode]("properties", props)
    root.set[JsonNode]("lineage", mapper.createObjectNode())
    mapper.writeValueAsString(root)
  }

  /** Product/DatasetType document from collection metadata (S14,
    * `eo3/_eo3converter.py:63-122`). */
  def toProductDoc(md: CollectionMetadata): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("name", md.name.replace("-", "_"))
    root.put("metadata_type", "eo3")
    val metadata = mapper.createObjectNode()
    val product = mapper.createObjectNode()
    product.put("name", md.name.replace("-", "_"))
    metadata.set[JsonNode]("product", product)
    root.set[JsonNode]("metadata", metadata)
    val ms = mapper.createArrayNode()
    md.bands.toSeq.sortBy(k => (k._1.asset, k._1.idx)).foreach { case (bk, b) =>
      val m = mapper.createObjectNode()
      m.put("name", bk.asset)
      m.put("dtype", b.dataType.getOrElse("uint16"))
      b.nodata.foreach(m.put("nodata", _))
      m.put("units", b.unit)
      ms.add(m)
    }
    root.set[JsonNode]("measurements", ms)
    mapper.writeValueAsString(root)
  }

  /** `stac2ds` analog: items -> EO3 doc Dataset (distributed). */
  def stac2ds(spark: SparkSession, items: Dataset[ParsedItem],
              schemas: Map[String, CollectionMetadata]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(schemas)
    items.map(i => (i.id, toDatasetDoc(i, bc.value(i.collection))))
      .toDF("item_id", "eo3")
  }
}
