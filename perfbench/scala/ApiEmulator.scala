package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback emulator of the two REST APIs the daily ETL pulls from, served
  * by the JDK's `com.sun.net.httpserver` on 127.0.0.1 (no network):
  *
  *  - ArcGIS MapServer `GET /arcgis/{layer}/query` with `where=ISSUE_DATE >=
  *    lo AND ISSUE_DATE < hi` (or `1=1`), `returnCountOnly=true` for
  *    `{"count":N}`, else `resultOffset`/`resultRecordCount` pages of
  *    `{"features":[{"attributes":{...}}]}`;
  *  - VisualCrossing timeline `GET /vc/{location}/{date}` or
  *    `/vc/{location}/{start}/{end}` with `{"days":[...]}`.
  *
  * Only days up to [[publishThrough]] exist, like a live API on that day.
  * Every request lands in a log (endpoint, canonical request, response
  * bytes, handler time) that the `sources.*` metrics are computed from.
  */
final class ApiEmulator(payloads: Payloads, threads: Int) {
  import ApiEmulator._

  @volatile private var lastDay: Int = -1
  @volatile private var revised: Set[Int] = Set.empty
  private val log = new ConcurrentLinkedQueue[Request]()

  private val pool = Executors.newFixedThreadPool(threads.max(1))
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/arcgis/", ex => serve(ex, arcgis))
  server.createContext("/vc/", ex => serve(ex, vc))
  server.start()

  private def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def arcgisUrl: String = s"$base/arcgis"
  def vcUrl: String = s"$base/vc"

  /** Make days 0..dayIndex visible (the API's "yesterday"). */
  def publishThrough(dayIndex: Int): Unit = lastDay = dayIndex
  /** From now on serve the revised publication of a weather day. */
  def revise(dayIndex: Int): Unit = revised += dayIndex

  /** Requests served since the last call, oldest first. */
  def drainLog(): Vector[Request] = {
    val out = Vector.newBuilder[Request]
    var r = log.poll()
    while (r != null) { out += r; r = log.poll() }
    out.result()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def serve(ex: HttpExchange, handler: HttpExchange => (String, String, Int, Array[Byte])): Unit = {
    val t0 = System.nanoTime()
    val (endpoint, key, code, body) =
      try handler(ex)
      catch { case e: Exception =>
        ("error", ex.getRequestURI.toString, 500,
          String.valueOf(e.getMessage).getBytes(StandardCharsets.UTF_8))
      }
    try {
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(code, body.length.toLong)
      ex.getResponseBody.write(body)
    } finally ex.close()
    log.add(Request(endpoint, key, body.length.toLong, System.nanoTime() - t0))
  }

  private def arcgis(ex: HttpExchange): (String, String, Int, Array[Byte]) = {
    val params = queryParams(ex)
    val where = params.getOrElse("where", "1=1")
    val range = parseWhere(where)
    val rows = payloads.query(range, lastDay)
    if (params.get("returnCountOnly").contains("true"))
      ("arcgis_count", s"count|$where", 200,
        s"""{"count":${rows.size}}""".getBytes(StandardCharsets.UTF_8))
    else {
      val offset = params.getOrElse("resultOffset", "0").toInt
      val limit = params.getOrElse("resultRecordCount", Payloads.PageSize.toString).toInt
      ("arcgis_page", s"page|$where|$offset|$limit", 200,
        payloads.featuresBody(rows.slice(offset, offset + limit)))
    }
  }

  private def vc(ex: HttpExchange): (String, String, Int, Array[Byte]) = {
    // /vc/{location}/{start}[/{end}]
    val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).drop(2)
    val start = LocalDate.parse(parts(0))
    val end = if (parts.length > 1) LocalDate.parse(parts(1)) else start
    val first = payloads.dayIndex(start).max(0)
    val last = payloads.dayIndex(end).min(lastDay)
    val days = (first to last).flatMap { i =>
      if (revised(i)) Some(payloads.revisedWeather(i)) else payloads.weather(i)
    }
    ("vc", s"vc|$start|$end", 200, payloads.daysBody(days))
  }
}

object ApiEmulator {
  /** One served request: `endpoint` is arcgis_count, arcgis_page or vc;
    * `key` is the request in canonical form, so repeats are countable.
    */
  final case class Request(endpoint: String, key: String, bytes: Long, busyNs: Long)

  private val WhereRange = "ISSUE_DATE >= (-?\\d+) AND ISSUE_DATE < (-?\\d+)".r

  /** The pushed day range, or None for an unfiltered `1=1`. */
  def parseWhere(where: String): Option[(Long, Long)] = where.trim match {
    case "1=1" => None
    case WhereRange(lo, hi) => Some((lo.toLong, hi.toLong))
    case other => throw new IllegalArgumentException(s"unsupported where: $other")
  }

  def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("")
      .split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> URLDecoder.decode(v, "UTF-8")
      }.toMap

  /** Requests the protocol needs for one day of `rows` violations: one VC
    * timeline call, one count, and one page per started 2,000 rows.
    */
  def neededPerDay(rows: Int): Int = 2 + (rows + Payloads.PageSize - 1) / Payloads.PageSize

  def byEndpoint(reqs: Seq[Request]): Map[String, Int] =
    reqs.groupBy(_.endpoint).map { case (k, v) => k -> v.size }
}
