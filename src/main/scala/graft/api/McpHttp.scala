package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.core.Session
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.SparkSession

/** HTTP/SSE transport + service hardening for the MCP server, mirroring
  * the reference's non-stdio mode (`meridian-mcp/src/main.rs:254-512`):
  * `POST /sse` (and `/messages`) carries JSON-RPC, `GET /sse` opens an
  * SSE stream whose first event advertises the session endpoint,
  * `DELETE /sse` tears a session down. Requests pass, in reference
  * order: a 60/min token-bucket rate limit (429), session validation
  * (initialize mints a session id, returned via `Mcp-Session-Id`; any
  * other request must present a live id by header or `?sessionId=` —
  * 401 otherwise), then API-key auth (`x-api-key` or `Authorization`,
  * exact or `Bearer <key>` — 401), with a 2 MB body cap (413). Unlike
  * the reference, initialize only STORES its minted session once the
  * key check passed (the error order is preserved; the map is not
  * growable by unauthenticated spam), and sessions idle past
  * `sessionTtlMs` are swept. Protocol dispatch is [[McpServer.handle]]
  * — the transport adds no semantics.
  *
  * Built on the JDK's `com.sun.net.httpserver` (the environment pins
  * the dependency set); binds 127.0.0.1 only, like the reference.
  */
object McpHttp {

  /** Continuous-refill token bucket: `perMinute` capacity and refill
    * rate (the reference's `Quota::per_minute`). */
  private[api] final class TokenBucket(perMinute: Int) {
    private var tokens = perMinute.toDouble
    private var last = System.nanoTime()
    def tryAcquire(): Boolean = synchronized {
      val now = System.nanoTime()
      tokens = math.min(perMinute.toDouble,
        tokens + (now - last) / 1e9 * perMinute / 60.0)
      last = now
      if (tokens >= 1.0) { tokens -= 1.0; true } else false
    }
    /** Stdio mode blocks until a token is available instead of
      * rejecting (`main.rs:209-211`). */
    def acquireBlocking(): Unit =
      while (!tryAcquire()) Thread.sleep(25)
  }

  final class Server(spark: SparkSession, apiKey: String, port: Int = 0,
      ratePerMin: Int = 60, maxBodyBytes: Int = 2 * 1024 * 1024,
      sseHoldMs: Long = 60000L, sseKeepAliveMs: Long = 15000L,
      sessionTtlMs: Long = 30 * 60 * 1000L) {
    require(apiKey.nonEmpty, "API key is required for the HTTP transport")
    // values must be REFERENCE longs: with a Scala primitive value type
    // remove()'s absent-key null unboxes to 0 and the 404 branch below
    // could never fire
    private val sessions = new ConcurrentHashMap[String, java.lang.Long]()
    private val bucket = new TokenBucket(ratePerMin)
    private val stopLatch = new CountDownLatch(1)
    // cached, not fixed-size: GET /sse parks a handler thread for up to
    // sseHoldMs, so a fixed pool of 8 would let 8 concurrent streams
    // starve all POST/DELETE traffic until a hold expires (the rate
    // limit bounds concurrent streams, so growth is bounded too)
    private val pool = Executors.newCachedThreadPool()
    private val http = HttpServer.create(
      new InetSocketAddress("127.0.0.1", port), 0)

    /** Drop sessions idle past their TTL — without this only DELETE
      * removes entries and a long-lived server's session map grows
      * without bound (~ratePerMin/min worst case). Runs opportunistically
      * on every request; the map is rate-limit-bounded, so the scan is
      * trivially cheap. */
    private def sweepSessions(): Unit = {
      val cutoff = System.nanoTime() - sessionTtlMs * 1000000L
      sessions.entrySet().removeIf(e => e.getValue < cutoff)
      ()
    }

    /** Bound port (useful with port = 0). */
    def boundPort: Int = http.getAddress.getPort
    def sessionCount: Int = sessions.size

    def start(): Server = {
      http.createContext("/sse", handle(_))
      http.createContext("/messages", handle(_, postOnly = true))
      http.setExecutor(pool)
      http.start()
      this
    }

    def stop(): Unit = {
      stopLatch.countDown()
      http.stop(0)
      pool.shutdownNow()
      ()
    }

    private def cors(ex: HttpExchange): Unit = {
      val h = ex.getResponseHeaders
      h.set("Access-Control-Allow-Origin", "http://127.0.0.1")
      h.set("Access-Control-Allow-Methods", "GET, POST, DELETE")
      h.set("Access-Control-Allow-Headers",
        "content-type, authorization, x-api-key, mcp-session-id")
      h.set("Access-Control-Expose-Headers", "mcp-session-id")
    }

    private def respond(ex: HttpExchange, code: Int, body: String,
        contentType: String = "text/plain"): Unit = {
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", contentType)
      ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length.toLong)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      ex.close()
    }

    private def header(ex: HttpExchange, name: String): Option[String] =
      Option(ex.getRequestHeaders.getFirst(name))

    private def authorized(ex: HttpExchange): Boolean =
      header(ex, "x-api-key").orElse(header(ex, "Authorization"))
        .exists(h => h == apiKey || h == s"Bearer $apiKey")

    private def queryParam(ex: HttpExchange, names: Seq[String]): Option[String] = {
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      q.split('&').iterator.map(_.split("=", 2)).collectFirst {
        case Array(k, v) if names.contains(
          java.net.URLDecoder.decode(k, "UTF-8")) =>
          java.net.URLDecoder.decode(v, "UTF-8")
      }
    }

    private def handle(ex: HttpExchange, postOnly: Boolean = false): Unit =
      try {
        cors(ex)
        sweepSessions()
        if (!bucket.tryAcquire())
          respond(ex, 429, "Rate limit exceeded")
        else ex.getRequestMethod match {
          case "POST" => handlePost(ex)
          case "GET" if !postOnly => handleGet(ex)
          case "DELETE" if !postOnly => handleDelete(ex)
          case _ => respond(ex, 405, "")
        }
      } catch {
        case _: Throwable =>
          try respond(ex, 500, "Internal server error") catch { case _: Throwable => () }
      }

    private def handlePost(ex: HttpExchange): Unit = {
      val body = ex.getRequestBody.readNBytes(maxBodyBytes + 1)
      if (body.length > maxBodyBytes) { respond(ex, 413, "Payload too large"); return }
      val line = new String(body, UTF_8)
      val parsed = try Some(org.json4s.jackson.JsonMethods.parse(line))
        catch { case _: Throwable => None }
      import org.json4s._
      val method = parsed.map(_ \ "method").collect { case JString(m) => m }
      val isInitialize = method.contains("initialize")
      val isNotification = parsed.exists(p => (p \ "id") == JNothing)
      // reference RESPONSE order (`main.rs:309-378`): the session error
      // wins over the key error — but unlike the reference, nothing is
      // STORED until the key check passes, so unauthenticated initialize
      // spam cannot grow the session map
      val sessionId: Option[String] =
        if (isInitialize) Some(java.util.UUID.randomUUID().toString)
        else
          header(ex, "Mcp-Session-Id")
            .orElse(queryParam(ex, Seq("sessionId", "session_id")))
            .filter(sessions.containsKey(_))
      if (!isInitialize && sessionId.isEmpty) {
        respond(ex, 401, "Missing or invalid Mcp-Session-Id header"); return
      }
      if (!authorized(ex)) { respond(ex, 401, "Invalid API Key"); return }
      if (isInitialize)
        sessionId.foreach(sessions.put(_, System.nanoTime()))
      val resp = McpServer.handle(spark, line)
      if (isNotification && resp.isEmpty) { respond(ex, 202, ""); return }
      sessionId.foreach(id => ex.getResponseHeaders.set("Mcp-Session-Id", id))
      respond(ex, 200, resp.getOrElse(""), "application/json")
    }

    /** SSE bootstrap: advertise the message endpoint for a fresh
      * session, then hold the stream with keep-alive comments (the
      * reference chains an endless pending stream; this holds for
      * `sseHoldMs`, bounding handler threads in-sandbox). */
    private def handleGet(ex: HttpExchange): Unit = {
      if (!authorized(ex)) { respond(ex, 401, "Invalid API Key"); return }
      if (header(ex, "Mcp-Session-Id").isDefined) { respond(ex, 405, ""); return }
      val host = header(ex, "Host").getOrElse("localhost")
      val id = java.util.UUID.randomUUID().toString
      sessions.put(id, System.nanoTime())
      ex.getResponseHeaders.set("Content-Type", "text/event-stream")
      ex.getResponseHeaders.set("Cache-Control", "no-cache")
      ex.sendResponseHeaders(200, 0)
      val out = ex.getResponseBody
      out.write(
        s"event: endpoint\ndata: http://$host/sse?sessionId=$id\n\n".getBytes(UTF_8))
      out.flush()
      val deadline = System.nanoTime() + sseHoldMs * 1000000L
      var open = true
      while (open && System.nanoTime() < deadline) {
        open = !stopLatch.await(
          math.min(sseKeepAliveMs,
            math.max(1L, (deadline - System.nanoTime()) / 1000000L)),
          TimeUnit.MILLISECONDS)
        if (open && System.nanoTime() < deadline)
          try { out.write(": keep-alive\n\n".getBytes(UTF_8)); out.flush() }
          catch { case _: Throwable => open = false }
      }
      ex.close()
    }

    private def handleDelete(ex: HttpExchange): Unit = {
      if (!authorized(ex)) { respond(ex, 401, "Invalid API Key"); return }
      header(ex, "Mcp-Session-Id") match {
        case Some(id) if sessions.remove(id) != null => respond(ex, 200, "")
        case _ => respond(ex, 404, "")
      }
    }
  }

  /** `--port N` + api key from `GRAFT_MCP_API_KEY` (the reference
    * refuses to serve HTTP without a key, `main.rs:176-182`). */
  def main(args: Array[String]): Unit = {
    val port = args.sliding(2).collectFirst {
      case Array("--port", p) => p.toInt
    }.getOrElse(8080)
    val key = sys.env.getOrElse("GRAFT_MCP_API_KEY",
      sys.error("GRAFT_MCP_API_KEY is required for the HTTP transport"))
    val spark = Session.create("graft-mcp-http")
    val server = new Server(spark, key, port).start()
    System.err.println(s"[mcp-http] serving on 127.0.0.1:${server.boundPort}")
    new CountDownLatch(1).await() // serve until killed
  }
}
