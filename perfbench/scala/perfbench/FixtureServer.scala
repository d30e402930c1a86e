package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback Prisma API fixture: serves the payloads the seeded generator
  * wrote (login, GET bodies, per-policy alert page chains keyed by
  * pageToken) on one handler thread. A deterministic, seeded share of
  * requests answers 429 (never twice in a row), so the client's retry
  * path runs on every op.
  */
final class FixtureServer(script: JsonNode, seed: Long, rate429: Double) {
  // without TCP_NODELAY every small response waits out the client's
  // delayed ACK (~40 ms per request on loopback)
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val token = script.get("token").asText()
  val requests = new AtomicInteger(0)
  val retries = new AtomicInteger(0)
  val bytesOut = new AtomicLong(0)
  val busyNanos = new AtomicLong(0)
  private var last429 = false

  private val bodies: Map[String, Array[Byte]] = {
    val it = script.get("get").fields()
    var m = Map.empty[String, Array[Byte]]
    while (it.hasNext) {
      val e = it.next()
      m += e.getKey -> mapper.writeValueAsBytes(e.getValue)
    }
    m
  }
  private val pages: Map[String, IndexedSeq[Array[Byte]]] = {
    val it = script.get("pages").fields()
    var m = Map.empty[String, IndexedSeq[Array[Byte]]]
    while (it.hasNext) {
      val e = it.next()
      val chain = (0 until e.getValue.size()).map(i => mapper.writeValueAsBytes(e.getValue.get(i)))
      m += e.getKey -> chain
    }
    m
  }

  private def send(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    val os = ex.getResponseBody
    try os.write(body) finally os.close()
    bytesOut.addAndGet(body.length.toLong)
  }

  /** splitmix64 of (seed, request ordinal): the 429 schedule. */
  private def throttled(n: Int): Boolean = {
    var z = seed * 0x9E3779B97F4A7C15L + n.toLong
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    (z >>> 11).toDouble / (1L << 53).toDouble < rate429
  }

  server.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    try {
      val n = requests.incrementAndGet()
      val req = ex.getRequestBody.readAllBytes()
      val path = ex.getRequestURI.getPath
      if (!last429 && path != "/login" && throttled(n)) {
        last429 = true
        retries.incrementAndGet()
        send(ex, 429, "slow down".getBytes("UTF-8"))
      } else {
        last429 = false
        if (path == "/login") {
          val b = mapper.readTree(req)
          val ok = Seq("username", "password", "prismaId")
            .forall(k => b.path(k).asText() == script.get(k).asText())
          if (ok) send(ex, 200, mapper.writeValueAsBytes(
            java.util.Map.of("token", token)))
          else send(ex, 401, "{}".getBytes("UTF-8"))
        } else if (ex.getRequestHeaders.getFirst("x-redlock-auth") != token)
          send(ex, 401, "{}".getBytes("UTF-8"))
        else if (path.startsWith("/alerts/")) {
          val pid = path.stripPrefix("/alerts/")
          val tok = mapper.readTree(req).path("pageToken").asText("")
          val idx = if (tok.isEmpty) 0 else tok.substring(tok.lastIndexOf("-p") + 2).toInt
          pages.get(pid).flatMap(_.lift(idx)) match {
            case Some(b) => send(ex, 200, b)
            case None => send(ex, 404, "{}".getBytes("UTF-8"))
          }
        } else bodies.get(path) match {
          case Some(b) => send(ex, 200, b)
          case None => send(ex, 404, "{}".getBytes("UTF-8"))
        }
      }
    } finally busyNanos.addAndGet(System.nanoTime() - t0)
  })
  // null executor: exchanges run on the server's one dispatcher thread
  server.setExecutor(null)
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = server.stop(0)
}
