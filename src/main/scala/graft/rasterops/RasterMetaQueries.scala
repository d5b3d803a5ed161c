package graft.rasterops
import graft.eo3.Eo3
import graft.geo.BBox
import graft.planner.Planner
import graft.raster.Fixtures
import graft.stac.{StacParse, StacSearch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metadata surfaces: STAC item parse / search dump, planner geobox
  * election, task binning, EO3 export + product inference.
  *
  * One family of [[RasterQueries]]' driver-contract entries (pure
  * code move — the registry and all member semantics live unchanged
  * through the aggregator object, whose self-type gives every family
  * access to the shared fixtures/paths).
  */
private[rasterops] trait RasterMetaQueries {
  this: RasterQueries.type =>
  def parseItems(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Fixtures.writeScenes(NScenes).toDF("json")
      .coalesce(1).write.mode("overwrite").parquet(ParseItemsPath)
    val (items, schemas) = parsed(spark)
    val md = schemas(Fixtures.CollectionId)
    items.map { i =>
      (i.id, i.collection, i.bands.size,
        i.nominalDatetime.toInstant.toString,
        i.geometry.isDefined,
        md.allBands.mkString(","),
        i.solarDate(Some(27.0)).toString)
    }.toDF("id", "collection", "n_bands", "datetime", "has_geom",
      "bands", "solar_date").orderBy("id")
  }

  private[rasterops] val parseItemsDuckSql: String =
    s"""WITH raw AS (
       |  SELECT json FROM read_parquet('$ParseItemsPath/*.parquet')),
       |a AS (
       |  SELECT json, unnest(json_keys(json, '$$.assets')) AS ak FROM raw),
       |cnt AS (
       |  SELECT json_extract_string(json, '$$.id') AS id,
       |         CAST(COUNT(*) FILTER (WHERE
       |           json_extract_string(json, '$$.assets.' || ak || '.type')
       |             LIKE 'image/%'
       |           AND list_contains(CAST(json_extract(json,
       |             '$$.assets.' || ak || '.roles') AS VARCHAR[]), 'data'))
       |           AS INT) AS n_bands
       |  FROM a GROUP BY 1),
       |j AS (
       |  SELECT json_extract_string(json, '$$.id') AS id,
       |         json_extract_string(json, '$$.collection') AS collection,
       |         json_extract_string(json, '$$.properties.datetime') AS datetime,
       |         json_extract(json, '$$.geometry') IS NOT NULL AS has_geom,
       |         list_aggregate(list_sort(json_keys(json, '$$.assets')),
       |           'string_agg', ',') AS bands,
       |         CAST(CAST(strptime(
       |             json_extract_string(json, '$$.properties.datetime'),
       |             '%Y-%m-%dT%H:%M:%SZ')
       |           + to_hours(CAST(trunc(27.0 / 15) AS BIGINT)) AS DATE)
       |           AS VARCHAR) AS solar_date
       |  FROM raw)
       |SELECT j.id, j.collection, cnt.n_bands, j.datetime, j.has_geom,
       |       j.bands, j.solar_date
       |FROM j JOIN cnt ON cnt.id = j.id
       |ORDER BY j.id""".stripMargin

  /** In-process STAC API stub serving `items` in pages — the sandbox
    * stand-in for a live endpoint (zero egress). `POST /search` returns
    * page k (continuation body `{"page": k}`) with a rel=next POST link
    * while pages remain — the POST-pagination form of the STAC API
    * spec. Records request bodies so the spec can assert what the
    * client actually sent. */
  private[graft] def withStacApi[T](items: Seq[String], pageSize: Int)
      (f: String => T): (T, Seq[String]) = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val bodies = scala.collection.mutable.ArrayBuffer.empty[String]
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    server.createContext("/search",
      (exchange: com.sun.net.httpserver.HttpExchange) => {
        val body = new String(exchange.getRequestBody.readAllBytes(), "UTF-8")
        bodies.synchronized { bodies += body }
        val node = mapper.readTree(if (body.isEmpty) "{}" else body)
        val page = Option(node.get("page")).map(_.asInt).getOrElse(0)
        val start = page * pageSize
        val slice = items.slice(start, start + pageSize)
        val port = server.getAddress.getPort
        val sb = new StringBuilder("""{"type":"FeatureCollection","features":[""")
        sb.append(slice.mkString(","))
        sb.append("]")
        if (start + pageSize < items.size)
          // token-only continuation body with merge:true — the client
          // must deep-merge it over the original request or page 2+
          // silently loses collections/bbox/datetime/limit
          sb.append(s""","links":[{"rel":"next","method":"POST",""" +
            s""""href":"http://127.0.0.1:$port/search",""" +
            s""""merge":true,"body":{"page":${page + 1}}}]""")
        sb.append("}")
        val bytes = sb.toString.getBytes("UTF-8")
        exchange.getResponseHeaders.set("Content-Type", "application/geo+json")
        exchange.sendResponseHeaders(200, bytes.length)
        exchange.getResponseBody.write(bytes)
        exchange.close()
      })
    server.start()
    try (f(s"http://127.0.0.1:${server.getAddress.getPort}"), bodies.toSeq)
    finally server.stop(0)
  }

  /** S16 end-to-end: paginated STAC API search → GeoJSON snapshot dump →
    * snapshot re-read → the normal parse path. The API is the in-process
    * stub above (protocol-faithful POST pagination); on a cluster the
    * same client hits a live endpoint. Summary row per item + the dump's
    * item count, so a pagination bug (dropped/duplicated page) is a row
    * diff, not a silent skew. */
  def stacSearchDump(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val jsons = graft.raster.Fixtures.writeScenes(6).map(_.replaceAll("\n", " "))
    val out = java.nio.file.Files.createTempFile("graft_stac_dump", ".geojson")
    val (n, _) = withStacApi(jsons, pageSize = 2) { endpoint =>
      StacSearch.dump(endpoint, StacSearch.SearchParams(
        collections = Seq(Fixtures.CollectionId), limit = 2), out)
    }
    val items = StacSearch.readDump(out)
    // land the dumped snapshot's raw item JSON so DuckDB re-derives the
    // summary from the dump itself (see [[stacSearchDuckSql]])
    items.toDF("json")
      .coalesce(1).write.mode("overwrite").parquet(StacSearchPath)
    val (ds, _) = StacParse.parseItems(spark, spark.createDataset(items))
    ds.map(i => (i.id, i.collection, i.bands.size))
      .toDF("id", "collection", "n_bands")
      .withColumn("n_dumped", lit(n.toLong))
      .orderBy("id")
  }
  private[rasterops] val stacSearchDuckSql: String =
    s"""WITH raw AS (
       |  SELECT json FROM read_parquet('$StacSearchPath/*.parquet')),
       |a AS (
       |  SELECT json, unnest(json_keys(json, '$$.assets')) AS ak FROM raw),
       |cnt AS (
       |  SELECT json_extract_string(json, '$$.id') AS id,
       |         json_extract_string(json, '$$.collection') AS collection,
       |         CAST(COUNT(*) FILTER (WHERE
       |           json_extract_string(json, '$$.assets.' || ak || '.type')
       |             LIKE 'image/%'
       |           AND list_contains(CAST(json_extract(json,
       |             '$$.assets.' || ak || '.roles') AS VARCHAR[]), 'data'))
       |           AS INT) AS n_bands
       |  FROM a GROUP BY 1, 2),
       |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_dumped FROM raw)
       |SELECT id, collection, n_bands, n_dumped
       |FROM cnt CROSS JOIN t ORDER BY id""".stripMargin
  def outputGeoboxPlans(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import graft.geo.{Affine, Crs, GeoBox}
    val (items, schemas) = parsed(spark)

    // ---- landed replay inputs ----------------------------------------
    def gridRow(cse: String, idx: Int, g: GeoBox) = {
      val a = g.anchor()
      (cse, "grid", idx, g.crs.code, g.resX, g.resY, a.x, a.y,
        g.width, g.height, g.transform.c, g.transform.f,
        0.0, 0.0, 0.0, 0.0,
        (g.crs.code, (g.resX, g.resY), a).toString,
        (g.crs.code, (g.resX, g.resY)).toString)
    }
    def paramRow(cse: String, crs: Crs, rx: Double, ry: Double) =
      (cse, "param", 0, crs.code, rx, ry, 0.0, 0.0, 0, 0, 0.0, 0.0,
        0.0, 0.0, 0.0, 0.0, "", "")
    def extRow(cse: String, idx: Int, b: BBox) =
      (cse, "ext", idx, "", 0.0, 0.0, 0.0, 0.0, 0, 0, 0.0, 0.0,
        b.x0, b.y0, b.x1, b.y1, "", "")
    def itemExts(cse: String, its: Seq[graft.model.ParsedItem], crs: Crs) =
      its.flatMap(i => i.safeGeometry(Some(crs), schemas(i.collection))
        .map(_.bbox)).zipWithIndex.map { case (b, i) => extRow(cse, i, b) }

    val itemGboxes = items.flatMap(i =>
      i.geoboxes(Nil, schemas(i.collection)).headOption)
    val crs3857 = Crs.parse("EPSG:3857")
    val crs32735 = Crs.parse("EPSG:32735")
    // "utm" auto-resolution: same reference geometry the planner uses
    val utmCrs = {
      val ref = items.head.geometry.map(_.toGeom).get
      val (cx, cy) = ref.toCrs(Crs.LonLat).centroid
      Crs.utmFor(cx, cy)
    }
    val roiBBox = graft.geo.Geom.box(
      BBox(26.9, -18.2, 27.1, -18.0), Crs.LonLat).toCrs(crs32735).bbox
    val roiPoly = graft.geo.Geom(IndexedSeq(
      (26.9, -18.2), (27.1, -18.2), (27.0, -18.0)), Crs.LonLat)

    // synthetic grid lists for the election paths
    def sgb(code: String, ox: Double, oy: Double, rx: Double, ry: Double) =
      GeoBox(100, 100, Affine.grid(ox, oy, rx, ry), Crs.parse(code))
    val electMajority = Seq.fill(3)(
      sgb("EPSG:32735", 500000, 8000000, 10, -10)) ++ Seq(
      sgb("EPSG:3857", 0, 0, 100, -100),
      sgb("EPSG:32736", 600000, 8100000, 20, -20))
    val electTie = Seq(
      sgb("EPSG:32735", 500000, 8000000, 10, -10),
      sgb("EPSG:32735", 500000, 8000000, 10, -10),
      sgb("EPSG:32736", 600000, 8100000, 10, -10),
      sgb("EPSG:32736", 600000, 8100000, 10, -10),
      sgb("EPSG:3857", 0, 0, 100, -100))
    // 20 distinct (crs,res,anchor) keys -> stage-1 share 1/20 <= 10%,
    // so the anchor-ignoring retry elects the 12-strong (crs,res)
    val electRetry =
      (0 until 12).map(i => sgb("EPSG:32735", 500000 + 0.7 * i, 8000000, 10, -10)) ++
        (0 until 8).map(j => sgb("EPSG:3857", 7.0 * j, 0, 100, -100))

    // the auto case's union happens in its ELECTED crs; landing the
    // footprints there reuses the planner's own election (the election
    // itself is re-derived by the oracle from the landed grid keys)
    val electedCrs = Planner.mostCommonGbox(itemGboxes)._1
    val landed =
      itemGboxes.zipWithIndex.map { case (g, i) => gridRow("auto", i, g) } ++
        itemExts("auto", items, electedCrs) ++
        itemGboxes.take(1).map(gridRow("single_item", 0, _)) ++
        Seq(paramRow("crs_res", crs3857, 100.0, -100.0)) ++
        itemExts("crs_res", items, crs3857) ++
        Seq(paramRow("bbox", crs32735, 10.0, -10.0),
          extRow("bbox", 0, roiBBox),
          paramRow("utm_auto", utmCrs, 10.0, -10.0)) ++
        itemExts("utm_auto", items, utmCrs) ++
        Seq(paramRow("geopolygon", crs32735, 10.0, -10.0),
          extRow("geopolygon", 0, roiPoly.toCrs(crs32735).bbox)) ++
        electMajority.zipWithIndex.map { case (g, i) => gridRow("elect_majority", i, g) } ++
        electTie.zipWithIndex.map { case (g, i) => gridRow("elect_tie", i, g) } ++
        electRetry.zipWithIndex.map { case (g, i) => gridRow("elect_retry", i, g) }
    landed.toDF("case", "kind", "idx", "crs", "rx", "ry", "ax", "ay",
      "gw", "gh", "gox", "goy", "bx0", "by0", "bx1", "by1", "key", "key2")
      .coalesce(1).write.mode("overwrite").parquet(GeoboxPlanPath)

    // ---- the planner's own answers -----------------------------------
    def plan(name: String)(g: Option[GeoBox]) = g match {
      case Some(gb) =>
        val a = gb.anchor()
        (name, gb.crs.code, gb.width, gb.height,
          gb.transform.c, gb.transform.f, gb.gsd, gb.resX, gb.resY, a.x, a.y)
      case None => (name, "none", 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    }
    def elect(name: String)(r: (Crs, (Double, Double), graft.geo.Anchor, Option[GeoBox])) =
      (name, r._1.code, 0, 0, 0.0, 0.0, 0.0, r._2._1, r._2._2, r._3.x, r._3.y)
    Seq(
      plan("auto")(Planner.outputGeobox(items, schemas)),
      plan("single_item")(Planner.outputGeobox(items.take(1), schemas)),
      plan("crs_res")(Planner.outputGeobox(items, schemas,
        crs = Some("EPSG:3857"), resolution = Some(100.0))),
      plan("bbox")(Planner.outputGeobox(items, schemas,
        crs = Some("EPSG:32735"), resolution = Some(10.0),
        bbox = Some(BBox(26.9, -18.2, 27.1, -18.0)))),
      plan("utm_auto")(Planner.outputGeobox(items, schemas,
        crs = Some("utm"), resolution = Some(10.0))),
      plan("geopolygon")(Planner.outputGeobox(items, schemas,
        crs = Some("EPSG:32735"), resolution = Some(10.0),
        geopolygon = Some(roiPoly))),
      elect("elect_majority")(Planner.mostCommonGbox(electMajority)),
      elect("elect_tie")(Planner.mostCommonGbox(electTie)),
      elect("elect_retry")(Planner.mostCommonGbox(electRetry))
    ).toDF("case", "crs", "width", "height", "x0", "y0", "gsd",
      "resx", "resy", "ax", "ay")
      .orderBy("case")
  }

  /** DuckDB replay of the whole geobox decision procedure from the
    * landed inputs: identical fast path, A4 election (mode, string
    * tie-break, ≤10% retry without anchor), A5 bbox union, and the
    * `fromBBoxXY` anchor-lattice snap. */
  private[rasterops] val outputGeoboxDuckSql: String =
    s"""WITH L AS (SELECT * FROM read_parquet('$GeoboxPlanPath/*.parquet')),
       |ident AS (
       |  SELECT "case" FROM L WHERE kind = 'grid' GROUP BY "case"
       |  HAVING COUNT(DISTINCT (crs, rx, ry, ax, ay, gw, gh, gox, goy)) = 1
       |     AND "case" NOT LIKE 'elect_%'),
       |fast AS (
       |  SELECT "case", MAX(crs) AS crs, MAX(gw) AS width, MAX(gh) AS height,
       |         MAX(gox) AS x0, MAX(goy) AS y0,
       |         LEAST(ABS(MAX(rx)), ABS(MAX(ry))) AS gsd,
       |         MAX(rx) AS resx, MAX(ry) AS resy,
       |         MAX(ax) AS ax, MAX(ay) AS ay
       |  FROM L WHERE kind = 'grid' AND "case" IN (SELECT "case" FROM ident)
       |  GROUP BY "case"),
       |g AS (SELECT "case", crs, rx, ry, ax, ay, key, key2
       |      FROM L WHERE kind = 'grid'
       |        AND "case" NOT IN (SELECT "case" FROM ident)),
       |tot AS (SELECT "case", COUNT(*) AS n FROM g GROUP BY 1),
       |k1 AS (SELECT "case", key, COUNT(*) AS c FROM g GROUP BY 1, 2),
       |w1 AS (SELECT "case", key, c FROM k1
       |       QUALIFY ROW_NUMBER() OVER (PARTITION BY "case"
       |                                  ORDER BY c DESC, key DESC) = 1),
       |s1 AS (
       |  SELECT w1."case", MAX(g.crs) AS crs, MAX(g.rx) AS resx,
       |         MAX(g.ry) AS resy, MAX(g.ax) AS ax, MAX(g.ay) AS ay
       |  FROM w1 JOIN tot ON w1."case" = tot."case"
       |       JOIN g ON g."case" = w1."case" AND g.key = w1.key
       |  WHERE CAST(w1.c AS DOUBLE) / tot.n > 0.1
       |  GROUP BY w1."case"),
       |k2 AS (
       |  SELECT "case", key2, COUNT(*) AS c FROM g
       |  WHERE "case" NOT IN (SELECT "case" FROM s1) GROUP BY 1, 2),
       |w2 AS (SELECT "case", key2 FROM k2
       |       QUALIFY ROW_NUMBER() OVER (PARTITION BY "case"
       |                                  ORDER BY c DESC, key2 DESC) = 1),
       |s2 AS (
       |  SELECT w2."case", MAX(g.crs) AS crs, MAX(g.rx) AS resx,
       |         MAX(g.ry) AS resy, 0.0 AS ax, 0.0 AS ay
       |  FROM w2 JOIN g ON g."case" = w2."case" AND g.key2 = w2.key2
       |  GROUP BY w2."case"),
       |elected AS (
       |  SELECT "case", crs, resx, resy, ax, ay FROM s1
       |  UNION ALL SELECT "case", crs, resx, resy, ax, ay FROM s2),
       |withext AS (SELECT DISTINCT "case" FROM L WHERE kind = 'ext'),
       |p AS (SELECT "case", crs, rx, ry, ax, ay,
       |             ABS(rx) AS arx, ABS(ry) AS ary
       |      FROM L WHERE kind = 'param'
       |      UNION ALL
       |      SELECT "case", crs, resx, resy, ax, ay,
       |             ABS(resx), ABS(resy)
       |      FROM elected WHERE "case" IN (SELECT "case" FROM withext)),
       |u AS (SELECT "case", MIN(bx0) AS bx0, MIN(by0) AS by0,
       |             MAX(bx1) AS bx1, MAX(by1) AS by1
       |      FROM L WHERE kind = 'ext' GROUP BY "case"),
       |sn AS (
       |  SELECT p."case", p.crs, p.arx, p.ary, p.rx, p.ry, p.ax, p.ay,
       |         u.bx1, u.by0,
       |         (FLOOR(u.bx0 / p.arx - p.ax) + p.ax) * p.arx AS ox,
       |         (CEIL(u.by1 / p.ary + p.ay) - p.ay) * p.ary AS oy
       |  FROM p JOIN u ON p."case" = u."case"),
       |snap AS (
       |  SELECT "case", crs,
       |         CAST(GREATEST(1, CEIL((bx1 - ox) / arx)) AS INT) AS width,
       |         CAST(GREATEST(1, CEIL((oy - by0) / ary)) AS INT) AS height,
       |         ox AS x0, oy AS y0, LEAST(arx, ary) AS gsd,
       |         rx AS resx, ry AS resy, ax, ay
       |  FROM sn),
       |el AS (
       |  SELECT "case", crs, 0 AS width, 0 AS height, 0.0 AS x0, 0.0 AS y0,
       |         0.0 AS gsd, resx, resy, ax, ay FROM elected
       |  WHERE "case" NOT IN (SELECT "case" FROM withext))
       |SELECT * FROM fast UNION ALL SELECT * FROM snap
       |UNION ALL SELECT * FROM el
       |ORDER BY "case"""".stripMargin

  /** J1 spatial binning summary: items per (t, ty, tx) bin. */
  def tyxBins(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val (items, schemas) = parsed(spark)
    val outGbox = Planner.outputGeobox(items, schemas).get
    val gbt = graft.geo.GeoBoxTiles(outGbox, 64, 64)
    val groups = Planner.groupItems(items, Planner.BySolarDay(Some(27.0)))
    val rows = for {
      (group, tIdx) <- groups.zipWithIndex
      itemIdx <- group
      fp <- items(itemIdx).safeGeometry(Some(outGbox.crs),
        schemas(items(itemIdx).collection)).toSeq
      (ty, tx) <- gbt.tilesIntersecting(fp)
    } yield (tIdx, ty, tx, itemIdx)
    rows.toDF("tIdx", "ty", "tx", "itemIdx")
      .groupBy("tIdx", "ty", "tx")
      .agg(count(lit(1)).as("n_items"),
        sort_array(collect_list(col("itemIdx"))).as("items"))
      .select(col("tIdx"), col("ty"), col("tx"), col("n_items"),
        concat_ws(",", col("items")).as("item_list"))
      .orderBy("tIdx", "ty", "tx")
  }
  def eo3Export(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Fixtures.writeScenes(NScenes).toDF("json")
      .coalesce(1).write.mode("overwrite").parquet(Eo3ExportPath)
    val (items, schemas) = parsed(spark)
    val ds = spark.createDataset(items)
    Eo3.stac2ds(spark, ds, schemas).as[(String, String)]
      .map { case (id, doc) =>
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        val n = m.readTree(doc)
        def fields(o: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
          val it = o.fieldNames()
          val b = Seq.newBuilder[String]
          while (it.hasNext) b += it.next()
          b.result()
        }
        val grids = fields(n.get("grids")).sorted.map { gn =>
          val g = n.get("grids").get(gn)
          val shape = g.get("shape")
          val t = g.get("transform")
          val ts = (0 until t.size()).map(t.get(_).asText()).mkString(",")
          s"$gn:${shape.get(0).asInt()}x${shape.get(1).asInt()}:$ts"
        }.mkString(";")
        val meas = fields(n.get("measurements")).sorted.map { mn =>
          val mm = n.get("measurements").get(mn)
          val band = Option(mm.get("band")).map(b => s":band=${b.asInt()}")
            .getOrElse("")
          val grid = Option(mm.get("grid")).map(g => s":grid=${g.asText()}")
            .getOrElse("")
          s"$mn=${mm.get("path").asText()}$band$grid"
        }.mkString(";")
        val props = fields(n.get("properties")).sorted.mkString(",")
        (id, n.get("crs").asText(), grids, meas, props)
      }
      .toDF("item_id", "crs", "grids", "measurements", "props")
      .orderBy("item_id")
  }

  /** S14 product inference, cross-engine anchored like [[eo3Export]]:
    * the summary columns are extracted by re-parsing the generated
    * product doc, and DuckDB re-derives them from the landed raw item
    * JSON (name dash→underscore rule, per-band dtype/nodata/units from
    * the raster extension). */
  def eo3Product(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Fixtures.writeScenes(NScenes).toDF("json")
      .coalesce(1).write.mode("overwrite").parquet(Eo3ExportPath)
    val (_, schemas) = parsed(spark)
    schemas.toSeq.sortBy(_._1).map { case (cid, md) =>
      val doc = Eo3.toProductDoc(md)
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val n = m.readTree(doc)
      val ms = n.get("measurements")
      val meas = (0 until ms.size()).map { i =>
        val b = ms.get(i)
        val nodata = Option(b.get("nodata")).map(_.asText()).getOrElse("")
        s"${b.get("name").asText()}:${b.get("dtype").asText()}:" +
          s"$nodata:${b.get("units").asText()}"
      }.sorted.mkString(";")
      (cid, n.get("name").asText(),
        n.get("metadata").get("product").get("name").asText(),
        ms.size(), meas)
    }.toDF("collection", "name", "meta_name", "n_measurements", "measurements")
      .orderBy("collection")
  }

  /** DuckDB replay of the EO3 dataset-doc summary from the raw STAC
    * JSON: grid projection fields, measurement paths, CRS from
    * proj:epsg, and the STAC→EO3 property renames (generated from
    * [[Eo3.StacToEo3Renames]] so the two engines share one table). */
  private[rasterops] def eo3RenameCase: String =
    "CASE k " + Eo3.StacToEo3Renames.toSeq.sortBy(_._1)
      .map { case (f, t) => s"WHEN '$f' THEN '$t'" }
      .mkString(" ") + " ELSE k END"

  private[rasterops] def eo3ExportDuckSql: String =
    s"""WITH raw AS (SELECT json FROM read_parquet('$Eo3ExportPath/*.parquet')),
       |i AS (SELECT json, json_extract_string(json, '$$.id') AS item_id
       |      FROM raw),
       |a AS (SELECT item_id, json, unnest(json_keys(json, '$$.assets')) AS ak
       |      FROM i),
       |m AS (
       |  SELECT item_id,
       |         string_agg(ak || '=' ||
       |           json_extract_string(json, '$$.assets.' || ak || '.href'),
       |           ';' ORDER BY ak) AS measurements,
       |         COUNT(DISTINCT CAST(json_extract(json,
       |           '$$.assets.' || ak || '."proj:transform"') AS VARCHAR))
       |           AS nproj
       |  FROM a GROUP BY item_id),
       |g AS (
       |  SELECT item_id,
       |         'default:' ||
       |         CAST(json_extract(json, '$$.assets.red."proj:shape"[0]') AS INT)
       |         || 'x' ||
       |         CAST(json_extract(json, '$$.assets.red."proj:shape"[1]') AS INT)
       |         || ':' ||
       |         array_to_string(list_transform(
       |           CAST(json_extract(json, '$$.assets.red."proj:transform"')
       |             AS DOUBLE[]),
       |           x -> CAST(x AS VARCHAR)), ',') AS grids,
       |         'EPSG:' ||
       |           json_extract_string(json, '$$.properties."proj:epsg"') AS crs
       |  FROM i),
       |p AS (
       |  SELECT item_id, string_agg(rk, ',' ORDER BY rk) AS props
       |  FROM (SELECT item_id, $eo3RenameCase AS rk
       |        FROM (SELECT item_id,
       |                unnest(json_keys(json, '$$.properties')) AS k FROM i))
       |  GROUP BY item_id)
       |SELECT i.item_id, g.crs, g.grids, m.measurements, p.props
       |FROM i JOIN g USING (item_id) JOIN m USING (item_id)
       |     JOIN p USING (item_id)
       |WHERE m.nproj = 1
       |ORDER BY item_id""".stripMargin

  /** DuckDB replay of the product-doc summary: one row per collection,
    * measurements re-derived from the raster-extension band metadata. */
  private[rasterops] def eo3ProductDuckSql: String =
    s"""WITH raw AS (SELECT json FROM read_parquet('$Eo3ExportPath/*.parquet')),
       |i AS (SELECT json,
       |        json_extract_string(json, '$$.collection') AS collection
       |      FROM raw),
       |a AS (SELECT collection, json,
       |        unnest(json_keys(json, '$$.assets')) AS ak FROM i),
       |b AS (
       |  SELECT DISTINCT collection, ak,
       |    json_extract_string(json,
       |      '$$.assets.' || ak || '."raster:bands"[0].data_type') AS dtype,
       |    CAST(CAST(json_extract(json,
       |      '$$.assets.' || ak || '."raster:bands"[0].nodata') AS DOUBLE)
       |      AS VARCHAR) AS nodata
       |  FROM a)
       |SELECT collection, replace(collection, '-', '_') AS name,
       |       replace(collection, '-', '_') AS meta_name,
       |       CAST(COUNT(*) AS INT) AS n_measurements,
       |       string_agg(ak || ':' || dtype || ':' || nodata || ':1',
       |         ';' ORDER BY ak) AS measurements
       |FROM b GROUP BY collection
       |ORDER BY collection""".stripMargin

  /** `raster_tyx_bins` oracle: the P4 spatial binning (footprint ×
    * tile-grid intersection, driver-side planning) must agree with
    * where the per-item pixel planes ACTUALLY landed — the distinct
    * (item, ty, tx) keys of `CompositeCellsPath` (groupby=id, so tidx
    * is the item index; planes include nodata-as-NaN pixels, i.e. the
    * full task footprint). Solar-day index is the fixture's `tidx // 2`
    * (two scenes per day). A binning bug that plans a task for a
    * non-intersecting tile, or misses an intersecting one, breaks the
    * domain equality. */
  private[rasterops] val tyxBinsDuckSql: String =
    s"""WITH d AS (
       |  SELECT DISTINCT tidx, ty, tx
       |  FROM read_parquet('$CompositeCellsPath/*.parquet'))
       |SELECT tidx // 2 AS "tIdx", ty, tx, COUNT(*) AS n_items,
       |       string_agg(tidx::VARCHAR, ',' ORDER BY tidx) AS item_list
       |FROM d GROUP BY tidx // 2, ty, tx
       |ORDER BY "tIdx", ty, tx""".stripMargin
}
