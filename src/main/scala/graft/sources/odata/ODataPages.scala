package graft.sources.odata

import com.fasterxml.jackson.databind.JsonNode
import java.nio.charset.StandardCharsets
import graft.sources.http.{HttpAuth, HttpCore, HttpResult}

/** A non-200 page response: status, URL, response headers and the first 500
  * characters of the body. */
final class ODataHttpException(val status: Int, val url: String,
                               val headers: Map[String, String], val bodyPrefix: String)
  extends RuntimeException(s"GET $url -> HTTP $status: $bodyPrefix")

/** One fetched page: the response (synthesized for a preloaded body), its
  * text, the parsed root and the envelope's rows/nextLink/count. */
final case class ODataPage(response: HttpResult, text: String, root: JsonNode,
                           page: ODataJson.Page)

/** The one OData/Graph paging loop (reference
  * `ODataEntitySetClient::Get(get_next=true)`, `odata_client.cpp:160-186`):
  * GET without the response cache, fail on a non-200 status, parse, follow
  * `nextLink`. The walk is lazy — page k+1 is requested only when the
  * caller asks for it — so callers cap it by taking from the iterator. A
  * `nextLink` that repeats a URL already visited in the same walk fails
  * instead of paging forever. */
object ODataPages {

  def walk(url: String, auth: HttpAuth,
           headers: Map[String, String] = Map.empty,
           preloadedFirstBody: Option[String] = None,
           http: HttpCore = HttpCore.shared): Iterator[ODataPage] =
    new Iterator[ODataPage] {
      private val visited = scala.collection.mutable.HashSet[String]()
      private var nextUrl: Option[String] = Some(url)
      private var preloaded = preloadedFirstBody

      override def hasNext: Boolean = nextUrl.isDefined

      override def next(): ODataPage = {
        val u = nextUrl.getOrElse(throw new NoSuchElementException("no further OData page"))
        if (!visited.add(u))
          throw new IllegalStateException(
            s"OData paging loop: nextLink $u repeats a page already fetched in this walk")
        val (resp, text) = preloaded match {
          case Some(body) =>
            preloaded = None
            (HttpResult(200, u, Map.empty, "application/json; charset=utf-8",
              body.getBytes(StandardCharsets.UTF_8)), body)
          case None =>
            val r = http.get(u, headers = headers, auth = auth, useCache = false)
            if (r.status != 200)
              throw new ODataHttpException(r.status, u, r.headers, r.text.take(500))
            (r, r.text)
        }
        val root = ODataJson.parse(text)
        val page = ODataJson.extractPage(root)
        nextUrl = page.nextLink
        ODataPage(resp, text, root, page)
      }
    }
}
