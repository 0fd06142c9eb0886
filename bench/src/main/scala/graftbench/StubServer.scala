package graftbench

import com.fasterxml.jackson.databind.JsonNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.{Charset, StandardCharsets}
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One column of an entity set: name and EDM type. */
final case class Col(name: String, edm: String)

/** An entity set held in memory. Every row's property fragments
  * (`"name":value`) are rendered once, for v4 and for v2 verbose JSON, so a
  * page costs one string join, not a re-render of the set. Filtered and
  * ordered index lists are cached per query shape; writes clear the cache. */
final class EntitySet(val name: String, val cols: Seq[Col], val key: String,
                      val allowSkip: Boolean) {
  private val idx = cols.map(_.name).zipWithIndex.toMap
  val keyIdx: Int = idx(key)
  private val rows = ArrayBuffer[Array[Any]]()
  private val v4 = ArrayBuffer[Array[String]]()
  private val v2 = ArrayBuffer[Array[String]]()
  private val shapes = new ConcurrentHashMap[String, Array[Int]]()

  def colIndex(n: String): Int = idx.getOrElse(n, throw new IllegalArgumentException(s"no property $n"))

  def insert(r: Array[Any]): Unit = synchronized {
    rows += r
    v4 += cols.indices.map(i => frag(i, r(i), v2 = false)).toArray
    v2 += cols.indices.map(i => frag(i, r(i), v2 = true)).toArray
    shapes.clear()
  }

  def update(keyValue: Any, changes: Map[String, Any]): Boolean = synchronized {
    val i = rows.indexWhere(_(keyIdx) == keyValue)
    if (i < 0) false
    else {
      val r = rows(i).clone()
      changes.foreach { case (k, v) => r(colIndex(k)) = v }
      rows(i) = r
      v4(i) = cols.indices.map(c => frag(c, r(c), v2 = false)).toArray
      v2(i) = cols.indices.map(c => frag(c, r(c), v2 = true)).toArray
      shapes.clear()
      true
    }
  }

  def delete(keyValue: Any): Boolean = synchronized {
    val i = rows.indexWhere(_(keyIdx) == keyValue)
    if (i >= 0) { rows.remove(i); v4.remove(i); v2.remove(i); shapes.clear() }
    i >= 0
  }

  def clear(): Unit = synchronized { rows.clear(); v4.clear(); v2.clear(); shapes.clear() }
  def snapshot: IndexedSeq[Array[Any]] = synchronized(rows.toIndexedSeq)

  /** Row positions matching `filter`, ordered by `orderBy` (key order when
    * absent), computed once per shape. */
  def select(filter: Option[String], orderBy: Option[String]): Array[Int] = {
    val shape = filter.getOrElse("") + "\u0000" + orderBy.getOrElse("")
    val hit = shapes.get(shape)
    if (hit != null) hit
    else synchronized {
      val pred = filter.map(FilterExpr.parse).getOrElse(FilterExpr.True)
      val matching = rows.indices.filter(i => pred.eval(rows(i), colIndex)).toArray
      val order = orderBy.map(_.split(',').map(_.trim.split(' ').head).map(colIndex).toSeq)
        .getOrElse(Seq(keyIdx))
      val sorted = matching.sortWith { (a, b) =>
        order.iterator.map(c => FilterExpr.compare(rows(a)(c), rows(b)(c))).find(_ != 0)
          .exists(_ < 0)
      }
      shapes.put(shape, sorted)
      sorted
    }
  }

  def row(i: Int): Array[Any] = rows(i)

  /** `{...}` of row `i`, optionally with only the `sel` properties. */
  def render(i: Int, v2Format: Boolean, sel: Option[Seq[Int]]): String = {
    val f = if (v2Format) v2(i) else v4(i)
    sel.map(_.map(f(_))).getOrElse(f.toSeq).mkString("{", ",", "}")
  }

  private def frag(i: Int, v: Any, v2: Boolean): String =
    Json.write(cols(i).name) + ":" + StubServer.literal(v, cols(i).edm, v2)
}

/** In-process stand-in for the remote services: OData v4 and v2 (verbose
  * JSON, ISO-8859-1 bodies), an ODP delta feed, a Delta Sharing endpoint
  * and a REST items endpoint. It listens on localhost only. Every request
  * waits a fixed service time (`serviceMs`) before it is answered, so HTTP
  * wait is a visible share of the client's time; the handler's own work is
  * counted as busy time. Requests are counted by kind, with bytes in and
  * out and the number of repeated identical requests. */
final class StubServer(serviceMs: Int, threads: Int) {
  import StubServer.Reply
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 128)
  private val pool = Executors.newFixedThreadPool(threads)
  val sets = new ConcurrentHashMap[String, EntitySet]() // "<service>/<Set>"
  val files = new ConcurrentHashMap[String, Array[Byte]]()
  @volatile var odpPages: Seq[Seq[Array[Any]]] = Seq.empty
  @volatile var odpDelta: Seq[Array[Any]] = Seq.empty
  @volatile var odpCols: Seq[Col] = Seq.empty
  @volatile var deltaShareSchema: String = ""
  val restRows = new ConcurrentHashMap[Long, AtomicLong]()

  val counts = new ConcurrentHashMap[String, AtomicLong]()
  val bytesIn, bytesOut, repeats, busyNs = new AtomicLong
  /** Entity rows sent in OData pages. */
  val rowsServed = new AtomicLong
  private val seen = ConcurrentHashMap.newKeySet[String]()
  private var inFlight = 0
  private var inFlightSince = 0L
  private var inFlightNs = 0L

  /** Wall time during which at least one request was being answered, in ns:
    * the time a client waited on this server (wire time on loopback aside). */
  def waitNs: Long = synchronized(inFlightNs + (if (inFlight > 0) System.nanoTime() - inFlightSince else 0L))
  private def enter(): Unit = synchronized {
    if (inFlight == 0) inFlightSince = System.nanoTime()
    inFlight += 1
  }
  private def leave(): Unit = synchronized {
    inFlight -= 1
    if (inFlight == 0) inFlightNs += System.nanoTime() - inFlightSince
  }

  def port: Int = server.getAddress.getPort
  def base: String = s"http://127.0.0.1:$port"
  def requests: Long = counts.values.asScala.map(_.get).sum
  def count(kind: String): Long = Option(counts.get(kind)).map(_.get).getOrElse(0L)

  /** Forget which requests were seen, so repeats count within one operation. */
  def newOperation(): Unit = seen.clear()

  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def json(status: Int, s: String, cs: Charset = StandardCharsets.UTF_8) =
    Reply(status, s.getBytes(cs), s"application/json; charset=${cs.name.toLowerCase}")

  private def handle(ex: HttpExchange): Unit = {
    enter()
    try serve(ex) finally leave()
  }

  private def serve(ex: HttpExchange): Unit = {
    val reqBody = ex.getRequestBody.readAllBytes()
    Thread.sleep(serviceMs)
    val t0 = System.nanoTime()
    val method = ex.getRequestMethod
    val uri = ex.getRequestURI.getRawPath + Option(ex.getRequestURI.getRawQuery).map("?" + _).getOrElse("")
    val prefer = Option(ex.getRequestHeaders.getFirst("Prefer")).getOrElse("")
    val body = new String(reqBody, StandardCharsets.UTF_8)
    if (!seen.add(method + " " + uri + " " + body.hashCode)) repeats.incrementAndGet()
    bytesIn.addAndGet(reqBody.length)
    val (kind, reply) =
      try route(method, uri, prefer, body)
      catch { case e: Exception => ("error", json(500, Json.write(Map("error" -> e.toString)))) }
    counts.computeIfAbsent(kind, _ => new AtomicLong).incrementAndGet()
    reply.headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
    ex.getResponseHeaders.add("Content-Type", reply.contentType)
    busyNs.addAndGet(System.nanoTime() - t0)
    ex.sendResponseHeaders(reply.status, if (reply.body.isEmpty) -1 else reply.body.length)
    if (reply.body.nonEmpty) ex.getResponseBody.write(reply.body)
    bytesOut.addAndGet(reply.body.length)
    ex.close()
  }

  private def params(query: String): Map[String, String] =
    if (query.isEmpty) Map.empty
    else query.split('&').filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val k = URLDecoder.decode(if (i < 0) kv else kv.take(i), "UTF-8")
      k -> (if (i < 0) "" else URLDecoder.decode(kv.drop(i + 1), "UTF-8"))
    }.toMap

  private def route(method: String, uri: String, prefer: String, body: String): (String, Reply) = {
    val (path, query) = uri.indexOf('?') match {
      case -1 => (uri, "")
      case i => (uri.take(i), uri.drop(i + 1))
    }
    val p = params(query)
    val seg = path.stripPrefix("/").split('/').toSeq
    seg match {
      case Seq(svc @ ("v4" | "v2" | "odp"), "svc", "$metadata") =>
        "metadata" -> Reply(200, metadata(svc).getBytes(StandardCharsets.UTF_8), "application/xml")
      case Seq("v4", "svc", "$batch") if method == "POST" => "odata.batch" -> batch(body)
      case Seq("odp", "svc", "Deltas") => "odp.get" -> odp(p, prefer)
      case Seq(svc @ ("v4" | "v2"), "svc", set, "$count") =>
        val es = sets.get(s"$svc/$set")
        "odata.count" -> Reply(200, es.select(p.get("$filter"), None).length.toString
          .getBytes(StandardCharsets.UTF_8), "text/plain")
      case Seq(svc @ ("v4" | "v2"), "svc", setAndKey) =>
        val (set, key) = setAndKey.indexOf('(') match {
          case -1 => (setAndKey, None)
          case i => (setAndKey.take(i), Some(URLDecoder.decode(setAndKey.drop(i + 1).stripSuffix(")"), "UTF-8")))
        }
        val es = sets.get(s"$svc/$set")
        if (es == null) "odata.missing" -> json(404, "{}")
        else (method, key) match {
          case ("GET", None) if p.contains("$apply") => "odata.apply" -> apply(es, p)
          case ("GET", None) => "odata.get" -> page(es, svc == "v2", uri, p, prefer)
          case ("POST", None) => "odata.post" -> (insert(es, Json.read(body)) match {
            case true => json(201, body)
            case false => json(400, "{}")
          })
          case ("PATCH", Some(k)) =>
            val changes = Json.read(body).properties().asScala
              .filter(_.getKey != es.key)
              .map(e => e.getKey -> decode(e.getValue, es.cols(es.colIndex(e.getKey)).edm)).toMap
            "odata.patch" -> (if (es.update(keyValue(k), changes)) Reply(204, Array(), "text/plain")
            else json(404, "{}"))
          case ("DELETE", Some(k)) =>
            "odata.delete" -> (if (es.delete(keyValue(k))) Reply(204, Array(), "text/plain")
            else json(404, "{}"))
          case _ => "odata.unsupported" -> json(405, "{}")
        }
      case Seq("ds", "shares", _, "schemas", _, "tables", _, "query") => "ds.query" -> deltaShareQuery()
      case Seq("ds", "files", f) =>
        "ds.file" -> Option(files.get(f)).map(Reply(200, _, "application/octet-stream"))
          .getOrElse(json(404, "{}"))
      case Seq("rest", "items") if method == "POST" =>
        val id = Json.read(body).get("id").asLong
        restRows.computeIfAbsent(id, _ => new AtomicLong).incrementAndGet()
        "rest.post" -> json(201, body)
      case _ => "unknown" -> json(404, "{}")
    }
  }

  private def keyValue(lit: String): Any = lit.toLong // every key here is Edm.Int64

  private def insert(es: EntitySet, n: JsonNode): Boolean = {
    val r = es.cols.map(c => decode(n.get(c.name), c.edm)).toArray[Any]
    if (r(es.keyIdx) == null) false else { es.insert(r); true }
  }

  private def decode(n: JsonNode, edm: String): Any =
    if (n == null || n.isNull) null
    else edm match {
      case "Edm.Int64" => n.asLong
      case "Edm.Int32" => n.asInt
      case "Edm.Double" => n.asDouble
      case _ => n.asText
    }

  /** One page of an entity set: `$filter`, `$orderby`, `$skip`, `$top` and
    * `$select` on the cached index list, paged by `odata.maxpagesize`. */
  private def page(es: EntitySet, v2: Boolean, uri: String, p: Map[String, String],
                   prefer: String): Reply = {
    if (p.contains("$skip") && !es.allowSkip)
      return json(400, """{"error":{"message":"$skip is not supported"}}""")
    val all = es.select(p.get("$filter"), p.get("$orderby"))
    val from = p.get("$skip").map(_.toInt).getOrElse(0)
    val until = p.get("$top").map(t => math.min(all.length, from + t.toInt)).getOrElse(all.length)
    val pageSize = """odata.maxpagesize=(\d+)""".r.findFirstMatchIn(prefer)
      .map(_.group(1).toInt).getOrElse(StubServer.DefaultPageSize)
    val start = from + p.get("$skiptoken").map(_.toInt).getOrElse(0)
    val end = math.min(until, start + pageSize)
    val sel = p.get("$select").map(_.split(',').map(_.trim).filter(_.nonEmpty).map(es.colIndex).toSeq)
    val rows = (start until end).map(i => es.render(all(i), v2, sel)).mkString(",")
    rowsServed.addAndGet(math.max(0, end - start))
    val next =
      if (end < until) {
        val q = uri.replaceAll("[&?]\\$skiptoken=\\d+", "")
        Some(base + q + (if (q.contains("?")) "&" else "?") + "$skiptoken=" + (end - from))
      } else None
    if (v2) {
      val nx = next.map(n => s""","__next":${Json.write(n)}""").getOrElse("")
      json(200, s"""{"d":{"results":[$rows]$nx}}""", StandardCharsets.ISO_8859_1)
    } else {
      val nx = next.map(n => s""","@odata.nextLink":${Json.write(n)}""").getOrElse("")
      json(200, s"""{"@odata.context":"$$metadata#${es.name}","value":[$rows]$nx}""")
    }
  }

  /** `$apply` with `filter(...)` stages and one `groupby((..),aggregate(..))`
    * or `aggregate(..)` stage; aggregates `with sum` and `$count`. */
  private def apply(es: EntitySet, p: Map[String, String]): Reply = {
    val stages = StubServer.splitTop(p("$apply"), '/')
    val filters = stages.collect { case s if s.startsWith("filter(") => s.drop(7).dropRight(1) }
    val aggStage = stages.last
    val (groupCols, aggPart) =
      if (aggStage.startsWith("groupby((")) {
        val inner = aggStage.drop("groupby((".length)
        val close = inner.indexOf(')')
        (inner.take(close).split(',').map(_.trim).toSeq,
          inner.drop(close + 1).stripPrefix(",").stripSuffix(")"))
      } else (Seq.empty[String], aggStage)
    val specs = StubServer.splitTop(aggPart.stripPrefix("aggregate(").stripSuffix(")"), ',')
      .map(_.trim)
    val filter = if (filters.isEmpty) None else Some(filters.map(f => s"($f)").mkString(" and "))
    val rows = es.select(filter, None).map(es.row)
    val gIdx = groupCols.map(es.colIndex)
    val groups = rows.groupBy(r => gIdx.map(r(_))).toSeq
      .sortWith((a, b) => a._1.zip(b._1).map(x => FilterExpr.compare(x._1, x._2)).find(_ != 0).exists(_ < 0))
    val top = p.get("$top").map(_.toInt).getOrElse(Int.MaxValue)
    val out = groups.take(top).map { case (g, rs) =>
      val gs = groupCols.zip(g).map { case (c, v) =>
        Json.write(c) + ":" + StubServer.literal(v, es.cols(es.colIndex(c)).edm, v2 = false)
      }
      val as = specs.map { spec =>
        val Array(expr, alias) = spec.split(" as ").map(_.trim)
        val value: Any =
          if (expr == "$count") rs.length.toLong
          else {
            val Array(col, "sum") = expr.split(" with ").map(_.trim)
            val vs = rs.map(_(es.colIndex(col))).filter(_ != null)
            vs.head match {
              case _: Double => vs.map(_.asInstanceOf[Double]).sum
              case _ => vs.map(v => v.asInstanceOf[Number].longValue).sum
            }
          }
        Json.write(alias) + ":" + StubServer.literal(value, "", v2 = false)
      }
      (gs ++ as).mkString("{", ",", "}")
    }
    json(200, s"""{"value":[${out.mkString(",")}]}""")
  }

  /** OData JSON `$batch`: GET sub-requests answered from the entity sets,
    * POST sub-requests inserted. */
  private def batch(body: String): Reply = {
    val reqs = Json.read(body).get("requests").elements().asScala.toSeq
    val resps = reqs.map { r =>
      val id = r.get("id").asText
      val url = r.get("url").asText
      val rel = url.stripPrefix(base).stripPrefix("/v4/svc").stripPrefix("/")
      val setName = rel.takeWhile(c => c != '?' && c != '(')
      val es = sets.get(s"v4/$setName")
      r.get("method").asText match {
        case "POST" =>
          val ok = es != null && insert(es, r.get("body"))
          s"""{"id":${Json.write(id)},"status":${if (ok) 201 else 400},"body":{}}"""
        case "GET" =>
          val q = rel.indexOf('?') match { case -1 => ""; case i => rel.drop(i + 1) }
          val prefer = Option(r.get("headers")).flatMap(h => Option(h.get("Prefer")))
            .map(_.asText).getOrElse("")
          val rep = page(es, v2 = false, "/v4/svc/" + rel, params(q), prefer)
          s"""{"id":${Json.write(id)},"status":${rep.status},"body":${new String(rep.body, StandardCharsets.UTF_8)}}"""
        case _ => s"""{"id":${Json.write(id)},"status":405,"body":{}}"""
      }
    }
    json(200, resps.mkString("""{"responses":[""", ",", "]}"))
  }

  /** ODP feed: the initial load is served page by page and ends with a
    * delta link; the delta token returns the change set once, then an empty
    * page. */
  private def odp(p: Map[String, String], prefer: String): Reply = {
    def rows(rs: Seq[Array[Any]]) = rs.map { r =>
      odpCols.indices.map(i => Json.write(odpCols(i).name) + ":" +
        StubServer.literal(r(i), odpCols(i).edm, v2 = false)).mkString("{", ",", "}")
    }.mkString(",")
    val link = s"$base/odp/svc/Deltas?!deltatoken="
    p.get("!deltatoken") match {
      case Some("T1") => json(200, s"""{"value":[${rows(odpDelta)}],"@odata.deltaLink":"${link}T2"}""")
      case Some(_) => json(200, s"""{"value":[],"@odata.deltaLink":"${link}T2"}""")
      case None =>
        val i = p.get("$skiptoken").map(_.toInt).getOrElse(0)
        val tail =
          if (i + 1 < odpPages.size) s""","@odata.nextLink":"$base/odp/svc/Deltas?$$skiptoken=${i + 1}""""
          else s""","@odata.deltaLink":"${link}T1""""
        val r = json(200, s"""{"value":[${rows(odpPages(i))}]$tail}""")
        if (prefer.contains("odata.track-changes"))
          r.copy(headers = Map("Preference-Applied" -> "odata.track-changes"))
        else r
    }
  }

  private def deltaShareQuery(): Reply = {
    val lines = Seq(
      """{"protocol":{"minReaderVersion":1}}""",
      Json.write(Map("metaData" -> Map("id" -> "tbl", "format" -> Map("provider" -> "parquet"),
        "schemaString" -> deltaShareSchema, "partitionColumns" -> Seq.empty[String])))) ++
      files.asScala.toSeq.sortBy(_._1).map { case (name, bytes) =>
        Json.write(Map("file" -> Map("url" -> s"$base/ds/files/$name",
          "id" -> name.stripSuffix(".parquet"), "size" -> bytes.length.toLong)))
      }
    Reply(200, lines.mkString("\n").getBytes(StandardCharsets.UTF_8), "application/x-ndjson")
  }

  private def metadata(svc: String): String = {
    val (ns, versionAttr, dsAttr) =
      if (svc == "v2") ("http://schemas.microsoft.com/ado/2007/06/edmx", """Version="1.0"""",
        """ m:DataServiceVersion="2.0" xmlns:m="http://schemas.microsoft.com/ado/2007/08/dataservices/metadata"""")
      else ("http://docs.oasis-open.org/odata/ns/edmx", """Version="4.0"""", "")
    val mine: Seq[(String, Seq[Col], String)] =
      if (svc == "odp") Seq(("Deltas", odpCols, odpCols.head.name))
      else sets.asScala.toSeq.filter(_._1.startsWith(svc + "/")).sortBy(_._1)
        .map { case (_, es) => (es.name, es.cols, es.key) }
    val types = mine.map { case (n, cols, key) =>
      val props = cols.map { c =>
        val t = if (svc == "v2" && c.edm == "Edm.DateTimeOffset") "Edm.DateTime" else c.edm
        s"""<Property Name="${c.name}" Type="$t" Nullable="${c.name != key}"/>"""
      }.mkString
      s"""<EntityType Name="${n}Type"><Key><PropertyRef Name="$key"/></Key>$props</EntityType>"""
    }.mkString
    val es = mine.map { case (n, _, _) => s"""<EntitySet Name="$n" EntityType="Bench.${n}Type"/>""" }.mkString
    s"""<?xml version="1.0" encoding="utf-8"?>
       |<edmx:Edmx xmlns:edmx="$ns" $versionAttr>
       |<edmx:DataServices$dsAttr><Schema xmlns="http://docs.oasis-open.org/odata/ns/edm" Namespace="Bench">
       |$types<EntityContainer Name="Container">$es</EntityContainer>
       |</Schema></edmx:DataServices></edmx:Edmx>""".stripMargin
  }
}

object StubServer {
  val DefaultPageSize = 1000

  private final case class Reply(status: Int, body: Array[Byte], contentType: String,
                                 headers: Map[String, String] = Map.empty)

  /** JSON literal of a stored value: v4 numbers bare and ISO timestamps; v2
    * verbose JSON with Int64 as strings and `/Date(ms)/` timestamps. */
  def literal(v: Any, edm: String, v2: Boolean): String = (v, edm) match {
    case (null, _) => "null"
    case (ms: Long, "Edm.DateTimeOffset") =>
      if (v2) Json.write(s"/Date($ms)/") else Json.write(java.time.Instant.ofEpochMilli(ms).toString)
    case (l: Long, _) => if (v2) Json.write(l.toString) else l.toString
    case (s: String, _) => Json.write(s)
    case (x, _) => Json.write(x).stripPrefix("\"").stripSuffix("\"")
  }

  /** Splits at `sep` outside parentheses and quotes. */
  def splitTop(s: String, sep: Char): Seq[String] = {
    val out = ArrayBuffer[String]()
    var depth = 0
    var quoted = false
    val cur = new StringBuilder
    s.foreach { c =>
      if (c == '\'') quoted = !quoted
      if (!quoted && c == '(') depth += 1
      if (!quoted && c == ')') depth -= 1
      if (c == sep && depth == 0 && !quoted) { out += cur.toString; cur.clear() }
      else cur.append(c)
    }
    out += cur.toString
    out.toSeq
  }
}
