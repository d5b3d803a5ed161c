package graft.stac

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

/** STAC API search client + GeoJSON snapshot dump — S16, the reference's
  * `dump_site` (`bench/_prepare.py:36-85`): query a STAC API endpoint
  * and persist the result as a FeatureCollection snapshot the loader
  * then consumes offline.
  *
  * Speaks the STAC API item-search protocol: `POST {endpoint}/search`
  * with a JSON body (`collections`, `bbox`, `datetime`, `limit`),
  * consumes FeatureCollection pages, and follows `rel=next` pagination
  * links — including the POST-continuation form where the next link
  * carries a `body` to merge over the original request (the pystac-client
  * behavior the reference delegates to).
  *
  * Transport is `java.net.http` over any http(s) endpoint. The sandbox
  * has no egress, so `StacSearchSpec` pins the protocol against an
  * in-process JDK HttpServer serving paginated fixture pages — request
  * serialization, pagination, termination, and snapshot round-trip are
  * all exercised for real; a cluster points the same client at a live
  * API. Driver-side by design: search returns item METADATA (the same
  * driver-side stage as the reference's prepare step); the pixel work it
  * seeds is what distributes.
  */
object StacSearch {

  final case class SearchParams(
      collections: Seq[String] = Nil,
      bbox: Option[(Double, Double, Double, Double)] = None,
      datetime: Option[String] = None,
      limit: Int = 100,
      maxItems: Int = 10000)

  /** rel=next continuation: where to go, how (`post`), with what body,
    * and whether that body MERGES over the original request (the STAC
    * API `merge` flag) or replaces it. */
  final case class NextLink(href: String, body: Option[JsonNode],
                            merge: Boolean, post: Boolean)

  /** One page of a search: item JSON strings + the next-page request, if
    * any. Exposed for the spec. */
  final case class Page(items: Seq[String], next: Option[NextLink])

  private val mapper = new ObjectMapper()

  private[graft] def requestBody(p: SearchParams): String = {
    val b = mapper.createObjectNode()
    b.put("limit", p.limit)
    if (p.collections.nonEmpty) {
      val arr = b.putArray("collections")
      p.collections.foreach(arr.add)
    }
    p.bbox.foreach { case (x0, y0, x1, y1) =>
      val arr = b.putArray("bbox")
      Seq(x0, y0, x1, y1).foreach(arr.add)
    }
    p.datetime.foreach(b.put("datetime", _))
    mapper.writeValueAsString(b)
  }

  private def post(client: HttpClient, url: String, body: String): JsonNode = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() / 100 == 2,
      s"STAC search failed: HTTP ${resp.statusCode()} from $url")
    mapper.readTree(resp.body())
  }

  private def get(client: HttpClient, url: String): JsonNode = {
    val req = HttpRequest.newBuilder(URI.create(url)).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() / 100 == 2,
      s"STAC search failed: HTTP ${resp.statusCode()} from $url")
    mapper.readTree(resp.body())
  }

  /** Parse one FeatureCollection page: features re-serialized as
    * standalone item JSON, plus the rel=next continuation. */
  private[graft] def parsePage(node: JsonNode): Page = {
    val feats = Option(node.get("features")).toSeq
      .flatMap(_.elements().asScala)
      .map(mapper.writeValueAsString)
    val next = Option(node.get("links")).toSeq
      .flatMap(_.elements().asScala)
      .find(l => Option(l.get("rel")).exists(_.asText() == "next"))
      .flatMap { l =>
        Option(l.get("href")).map { href =>
          val body = Option(l.get("body"))
          NextLink(href.asText(), body,
            merge = Option(l.get("merge")).exists(_.asBoolean()),
            post = Option(l.get("method")).exists(_.asText() == "POST") ||
              body.isDefined)
        }
      }
    Page(feats, next)
  }

  /** Recursive JSON merge: `over`'s fields win, nested objects merge
    * field-wise (the STAC API continuation-`merge` semantics, matching
    * pystac-client). */
  private def deepMerge(base: JsonNode, over: JsonNode): JsonNode =
    if (!base.isObject || !over.isObject) over
    else {
      val out = base.deepCopy[ObjectNode]()
      over.properties().asScala.foreach { e =>
        val existing = out.get(e.getKey)
        if (existing != null && existing.isObject && e.getValue.isObject)
          out.set[JsonNode](e.getKey, deepMerge(existing, e.getValue))
        else out.set[JsonNode](e.getKey, e.getValue)
      }
      out
    }

  /** Run a full paginated search; returns item JSON strings (at most
    * `maxItems` — a loud cap, not silent truncation: hitting it throws,
    * because a snapshot that quietly lost items corrupts every
    * downstream answer).
    *
    * Continuation semantics per the STAC API spec: a POST next link's
    * `body` REPLACES the request unless `merge: true`, in which case it
    * deep-merges over the original request (so a token-only body keeps
    * collections/bbox/datetime filters on page 2+); a body-less POST
    * link re-sends the original request against the new href. The page
    * count is bounded (maxItems/limit plus slack) so a buggy or
    * adversarial endpoint that keeps returning empty pages with a
    * persistent rel=next cannot loop the client forever. */
  def search(endpoint: String, p: SearchParams): Seq[String] = {
    val client = HttpClient.newHttpClient()
    val out = Seq.newBuilder[String]
    val original = mapper.readTree(requestBody(p))
    val maxPages = p.maxItems / math.max(p.limit, 1) + 8
    var n = 0
    var pages = 1
    var page = parsePage(post(client,
      endpoint.stripSuffix("/") + "/search", requestBody(p)))
    var done = false
    while (!done) {
      out ++= page.items
      n += page.items.size
      require(n <= p.maxItems,
        s"search exceeded maxItems=${p.maxItems}; raise the cap or narrow the query")
      page.next match {
        case Some(nx) =>
          pages += 1
          require(pages <= maxPages,
            s"search exceeded $maxPages pages without terminating — the " +
              "endpoint keeps returning rel=next (pagination loop?)")
          page =
            if (nx.post) {
              val body = nx.body match {
                case Some(b) if nx.merge => deepMerge(original, b)
                case Some(b) => b
                case None => original
              }
              parsePage(post(client, nx.href, mapper.writeValueAsString(body)))
            } else parsePage(get(client, nx.href))
        case None => done = true
      }
    }
    out.result()
  }

  /** Search and write the GeoJSON FeatureCollection snapshot (the
    * reference's dump artifact). Returns the item count. */
  def dump(endpoint: String, p: SearchParams,
           outFile: java.nio.file.Path): Int = {
    val items = search(endpoint, p)
    val sb = new StringBuilder("""{"type": "FeatureCollection", "features": [""")
    items.zipWithIndex.foreach { case (j, i) =>
      if (i > 0) sb.append(",")
      sb.append(j)
    }
    sb.append("]}")
    java.nio.file.Files.writeString(outFile, sb.toString)
    items.size
  }

  /** Snapshot consumer: re-read a dump file into item JSON strings —
    * the loader-side half of the dump/load round trip (the reference
    * reads its dumps back with `read_geojson`). */
  def readDump(file: java.nio.file.Path): Seq[String] = {
    val node = mapper.readTree(java.nio.file.Files.readString(file))
    Option(node.get("features")).toSeq
      .flatMap(_.elements().asScala)
      .map(mapper.writeValueAsString)
      .toSeq
  }
}
