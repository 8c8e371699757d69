package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** Loopback REST endpoint serving the generated artist index in the
  * reference API's envelope (`{"total": N, "items": [...]}`, offset/limit
  * pages, `market` filter, `fields` projection) behind a client-credentials
  * token route.
  *
  * Faults: while faults are on, about one request in ten is answered with
  * one to three 429s (`Retry-After: 0`) or 503s, chosen by a hash of `seed`
  * and the request's query string, and then served. Three is
  * `RetryingClient`'s retry budget, so no page can run out of retries, and
  * an iteration with faults lands the same rows as one without.
  *
  * @param index tab-separated `id name popularity market` lines
  */
final class CatalogServer(index: String, seed: Long, val clientId: String,
                          val clientSecret: String) extends AutoCloseable {

  private val MaxFaults = 3
  private val FaultPercent = 10

  private val rows: Array[Array[String]] =
    Files.readAllLines(Paths.get(index), UTF_8).asScala.map(_.split("\t", -1)).toArray
  private val byMarket: Map[String, Array[Array[String]]] = rows.groupBy(_(3))

  val requests = new AtomicLong   // data-route requests, the total probe included
  val pages = new AtomicLong      // data-route 200 replies that carried a page
  val faultsSent = new AtomicLong // 429/503 replies
  val mints = new AtomicLong
  val handleNs = new AtomicLong   // time spent inside the handlers

  @volatile private var faulting = false
  private val faultsByQuery = new ConcurrentHashMap[String, Integer]()
  private val tokens = ConcurrentHashMap.newKeySet[String]()

  /** Reset the per-iteration fault state and turn faults on or off. */
  def beginIteration(faults: Boolean): Unit = {
    faultsByQuery.clear()
    faulting = faults
  }

  def counts: Seq[Long] = Seq(requests.get, pages.get, faultsSent.get, mints.get, handleNs.get)

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(4)
  server.createContext("/api/token", handler(token))
  server.createContext("/v1/artists", handler(artists))
  server.setExecutor(pool)
  server.start()

  private def origin = s"http://127.0.0.1:${server.getAddress.getPort}"
  def base: String = s"$origin/v1/artists"
  def tokenUrl: String = s"$origin/api/token"

  override def close(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS): Unit
  }

  private type Reply = (Int, String, Seq[(String, String)])

  private def handler(f: HttpExchange => Reply): HttpHandler = (x: HttpExchange) => {
    val t0 = System.nanoTime()
    val (status, body, headers) =
      try f(x) catch { case e: Exception => (500, s"""{"error":"${e.getClass.getSimpleName}"}""", Nil) }
    val bytes = body.getBytes(UTF_8)
    x.getResponseHeaders.add("Content-Type", "application/json")
    headers.foreach { case (k, v) => x.getResponseHeaders.add(k, v) }
    x.sendResponseHeaders(status, bytes.length)
    val os = x.getResponseBody
    try os.write(bytes) finally os.close()
    x.close()
    handleNs.addAndGet(System.nanoTime() - t0)
  }

  private def token(x: HttpExchange): Reply = {
    val expected = "Basic " + java.util.Base64.getEncoder.encodeToString(
      s"$clientId:$clientSecret".getBytes(UTF_8))
    val body = new String(x.getRequestBody.readAllBytes(), UTF_8)
    if (x.getRequestMethod != "POST") (405, """{"error":"POST only"}""", Nil)
    else if (x.getRequestHeaders.getFirst("Authorization") != expected)
      (401, """{"error":"invalid_client"}""", Nil)
    else if (!body.contains("grant_type=client_credentials"))
      (400, """{"error":"unsupported_grant_type"}""", Nil)
    else {
      val t = s"tok-${mints.incrementAndGet()}"
      tokens.add(t)
      (200, s"""{"access_token":"$t","token_type":"Bearer","expires_in":3600}""", Nil)
    }
  }

  /** Faults still owed to this query string in the current iteration. */
  private def fault(q: String): Option[Reply] = {
    if (!faulting) return None
    val h = scala.util.hashing.MurmurHash3.stringHash(q, seed.toInt) & 0x7fffffff
    val owed = if (h % 100 < FaultPercent) 1 + (h / 100) % MaxFaults else 0
    val sent = faultsByQuery.merge(q, 1, (a, b) => a + b) - 1
    if (sent >= owed) None
    else {
      faultsSent.incrementAndGet()
      Some(if ((h / 1000 + sent) % 2 == 0) (429, """{"error":429}""", Seq("Retry-After" -> "0"))
           else (503, """{"error":503}""", Nil))
    }
  }

  private def artists(x: HttpExchange): Reply = {
    requests.incrementAndGet()
    val q = Option(x.getRequestURI.getRawQuery).getOrElse("")
    val auth = Option(x.getRequestHeaders.getFirst("Authorization")).getOrElse("")
    if (!tokens.contains(auth.stripPrefix("Bearer ")))
      return (401, """{"error":"invalid_token"}""", Nil)
    fault(q).getOrElse {
      val params = q.split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
      val filtered = params.get("market").fold(rows)(m => byMarket.getOrElse(m, Array.empty))
      val off = params.getOrElse("offset", "0").toInt
      val lim = params.getOrElse("limit", "50").toInt
      val fields = params.get("fields").map(_.split(",").toSeq)
        .getOrElse(Seq("id", "name", "popularity", "market"))
      val sb = new StringBuilder(s"""{"total":${filtered.length},"items":[""")
      filtered.slice(off, off + lim).zipWithIndex.foreach { case (r, i) =>
        if (i > 0) sb.append(',')
        sb.append('{')
        fields.zipWithIndex.foreach { case (f, j) =>
          if (j > 0) sb.append(',')
          f match {
            case "id"         => sb.append("\"id\":\"").append(r(0)).append('"')
            case "name"       => sb.append("\"name\":\"").append(r(1)).append('"')
            case "popularity" => sb.append("\"popularity\":").append(r(2))
            case "market"     => sb.append("\"market\":\"").append(r(3)).append('"')
            case other        => sb.append('"').append(other).append("\":null")
          }
        }
        sb.append('}')
      }
      sb.append("]}")
      if (lim > 1) pages.incrementAndGet()
      (200, sb.toString, Nil)
    }
  }
}
