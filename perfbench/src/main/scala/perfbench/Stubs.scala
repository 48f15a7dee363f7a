package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, ConcurrentSkipListMap}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process HTTP stubs for the Bangumi collections API and the Notion
  * API, on one `com.sun.net.httpserver` server whose dispatcher thread runs
  * the handlers itself: one stub thread, and no hand-off to a pool thread
  * per request, whose wake-up latency would make the sink's thousands of
  * sequential requests measure the host's scheduler. They answer at once:
  * no latency, no pacing, no injected faults, so a pass measures the
  * program, not the stub. Every request is counted by method and path
  * pattern.
  *
  * The JDK server only sets TCP_NODELAY when `sun.net.httpserver.nodelay`
  * is true at class-load time; without it Nagle's algorithm and delayed
  * ACKs add tens of milliseconds to every small keep-alive response. The
  * constructor refuses to start without it.
  */
final class Stubs(val bangumi: BangumiStub, val notion: NotionStub) {
  require(System.getProperty("sun.net.httpserver.nodelay") == "true",
    "set sun.net.httpserver.nodelay=true before the first server starts")

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.createContext("/v0/", x => Stubs.guard(x)(bangumi.handle(x)))
  server.createContext("/v1/", x => Stubs.guard(x)(notion.handle(x)))
  server.start()

  val baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = server.stop(0)
}

object Stubs {
  private[perfbench] val mapper = new ObjectMapper()

  def respond(x: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(status, bytes.length.toLong)
    x.getResponseBody.write(bytes)
    x.close()
  }

  /** A handler bug must surface as a 500 the client sees and counts, never
    * as a dropped connection. */
  private def guard(x: HttpExchange)(body: => Unit): Unit =
    try body
    catch {
      case e: Exception =>
        respond(x, 500, s"""{"error":${mapper.writeValueAsString(e.toString)}}""")
    }

  /** Request counters keyed by "METHOD /path/pattern". */
  final class Counters {
    private val m = new ConcurrentHashMap[String, LongAdder]()
    def add(key: String): Unit = m.computeIfAbsent(key, _ => new LongAdder).increment()
    def get(key: String): Long = Option(m.get(key)).map(_.sum()).getOrElse(0L)
    def total: Long = m.values().asScala.map(_.sum()).sum
    def reset(): Unit = m.clear()
  }
}

/** Serves one corpus, grouped by (subject_type, collection_type), with the
  * collections endpoint's offset/limit pagination and `total` count. */
final class BangumiStub {
  val requests = new Stubs.Counters
  private val seen = ConcurrentHashMap.newKeySet[String]()
  val repeats = new LongAdder

  @volatile private var byCategory: Map[(Int, Int), IndexedSeq[String]] = Map.empty

  def serve(items: Seq[Item]): Unit =
    byCategory = items.groupBy(i => (i.subjectType, i.collectionType))
      .map { case (k, v) => k -> v.map(_.json).toIndexedSeq }

  /** Clears the counters and the record of requests already answered. */
  def resetCounters(): Unit = { requests.reset(); seen.clear(); repeats.reset() }

  def handle(x: HttpExchange): Unit = {
    val path = x.getRequestURI.getPath
    if (!path.endsWith("/collections")) {
      requests.add(s"${x.getRequestMethod} other")
      Stubs.respond(x, 404, """{"error":"not found"}""")
    } else {
      requests.add(s"${x.getRequestMethod} /v0/users/{user}/collections")
      val raw = Option(x.getRequestURI.getRawQuery).getOrElse("")
      // an identical request answered before is a client retry
      if (!seen.add(raw)) repeats.increment()
      val q = raw.split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toMap
      val items = byCategory.getOrElse((q("subject_type").toInt, q("type").toInt),
        IndexedSeq.empty)
      val offset = q("offset").toInt
      val limit = q("limit").toInt
      val page = items.slice(offset, offset + limit)
      Stubs.respond(x, 200,
        s"""{"total":${items.size},"limit":$limit,"offset":$offset,""" +
          s""""data":[${page.mkString(",")}]}""")
    }
  }
}

/** A Notion database held in memory: pages in creation order, each with
  * its key, its property JSON and its `is_active` flag. A write is
  * *useful* when it creates a page or changes a stored property or flag. */
final class NotionStub(titleProperty: String) {
  import NotionStub.Page

  val requests = new Stubs.Counters
  val useful = new LongAdder
  private val nextId = new AtomicLong()
  private val pages = new ConcurrentSkipListMap[String, Page]()

  def clear(): Unit = { pages.clear(); nextId.set(0) }
  def resetCounters(): Unit = { requests.reset(); useful.reset() }

  /** A deep copy of the stored pages, for [[restore]]. */
  def snapshot(): (Long, Seq[(String, Page)]) =
    (nextId.get(), pages.asScala.toSeq.map { case (id, p) => id -> p.copy() })

  def restore(s: (Long, Seq[(String, Page)])): Unit = {
    pages.clear()
    s._2.foreach { case (id, p) => pages.put(id, p.copy()) }
    nextId.set(s._1)
  }

  def activeKeys: Set[Long] = pages.values().asScala.filter(_.active).map(_.key).toSet
  def inactiveKeys: Set[Long] = pages.values().asScala.filterNot(_.active).map(_.key).toSet

  /** The stored number property of every active page that has one. */
  def activeNumbers(property: String): Map[Long, Double] =
    pages.values().asScala.filter(_.active).flatMap { p =>
      Option(p.props.get(property)).map(_.path("number"))
        .filter(_.isNumber).map(n => p.key -> n.asDouble())
    }.toMap

  private def body(x: HttpExchange): JsonNode =
    Stubs.mapper.readTree(x.getRequestBody.readAllBytes())

  private def keyOf(props: JsonNode): Long =
    props.path(titleProperty).path("title").path(0).path("text")
      .path("content").asText("").toLongOption.getOrElse(-1L)

  def handle(x: HttpExchange): Unit = {
    val m = x.getRequestMethod
    x.getRequestURI.getPath.split("/").toList match {
      case List("", "v1", "databases") if m == "POST" =>
        requests.add("POST /v1/databases")
        body(x)
        Stubs.respond(x, 200, """{"object":"database","id":"db-bench"}""")
      case List("", "v1", "databases", _, "query") if m == "POST" =>
        requests.add("POST /v1/databases/{id}/query")
        query(x, body(x))
      case List("", "v1", "pages") if m == "POST" =>
        requests.add("POST /v1/pages")
        val props = body(x).path("properties").asInstanceOf[ObjectNode]
        val id = f"page-${nextId.incrementAndGet()}%09d"
        pages.put(id, new Page(keyOf(props), props,
          props.path("is_active").path("checkbox").asBoolean(true)))
        useful.increment()
        Stubs.respond(x, 200, s"""{"object":"page","id":"$id"}""")
      case List("", "v1", "pages", id) if m == "PATCH" =>
        requests.add("PATCH /v1/pages/{id}")
        val props = body(x).path("properties")
        val page = pages.get(id)
        if (page == null) Stubs.respond(x, 404, """{"error":"unknown page"}""")
        else {
          if (page.patch(props)) useful.increment()
          Stubs.respond(x, 200, s"""{"object":"page","id":"$id"}""")
        }
      case _ =>
        requests.add(s"$m other")
        Stubs.respond(x, 404, """{"error":"not found"}""")
    }
  }

  /** Cursor pagination in page-id order; the cursor is the last id sent. */
  private def query(x: HttpExchange, req: JsonNode): Unit = {
    val size = req.path("page_size").asInt(100)
    val from = Option(req.get("start_cursor")).filter(!_.isNull).map(_.asText())
    val tail: java.util.NavigableMap[String, Page] =
      from.fold[java.util.NavigableMap[String, Page]](pages)(c => pages.tailMap(c, false))
    val it = tail.entrySet().iterator()
    val out = Stubs.mapper.createObjectNode()
    val results = out.putArray("results")
    var last: String = null
    while (it.hasNext && results.size() < size) {
      val e = it.next()
      val p = e.getValue
      val r = results.addObject()
      r.put("object", "page").put("id", e.getKey)
      p.synchronized { r.set[JsonNode]("properties", p.props.deepCopy()) }
      last = e.getKey
    }
    val more = it.hasNext
    out.put("has_more", more)
    if (more) out.put("next_cursor", last) else out.putNull("next_cursor")
    Stubs.respond(x, 200, Stubs.mapper.writeValueAsString(out))
  }
}

object NotionStub {
  final class Page(val key: Long, val props: ObjectNode, @volatile var active: Boolean) {
    def copy(): Page = synchronized { new Page(key, props.deepCopy(), active) }

    /** Applies a PATCH (property-wise replace) and says whether anything
      * stored changed. */
    def patch(update: JsonNode): Boolean = synchronized {
      var changed = false
      update.fields().asScala.foreach { e =>
        if (props.get(e.getKey) != e.getValue) {
          props.set[JsonNode](e.getKey, e.getValue)
          changed = true
        }
      }
      val a = props.path("is_active").path("checkbox").asBoolean(true)
      if (a != active) { active = a; changed = true }
      changed
    }
  }
}
