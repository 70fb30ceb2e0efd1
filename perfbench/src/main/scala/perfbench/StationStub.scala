package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Localhost stand-in for the station temperature API, served by one
  * thread. `bodies` maps a request path (`/historico/<codigo>/<año>`)
  * to its JSON; paths in `flaky` answer 503 on their first request of
  * each round (see [[newRound]]), so the client's retry path runs a
  * fixed, seeded number of times per pass. */
final class StationStub(bodies: Map[String, String], flaky: Set[String]) {
  // small responses must not wait on Nagle + delayed ACK
  System.setProperty("sun.net.httpserver.nodelay", "true")
  val requests = new AtomicLong
  val unavailable = new AtomicLong
  private val failedThisRound = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val served = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val pool: ExecutorService = Executors.newSingleThreadExecutor()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)

  server.createContext("/", (ex: HttpExchange) => {
    requests.incrementAndGet()
    val path = ex.getRequestURI.getPath
    val (code, body) =
      if (flaky(path) && failedThisRound.add(path)) {
        unavailable.incrementAndGet(); (503, "{}")
      } else bodies.get(path) match {
        case Some(b) => served.add(path); (200, b)
        case None    => (404, "{}")
      }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  })
  server.setExecutor(pool)
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Re-arm the one-time 503s and forget which paths were served. */
  def newRound(): Unit = { failedThisRound.clear(); served.clear() }

  /** Known paths never answered 200 since the last [[newRound]]. */
  def unserved: Int = bodies.keys.count(p => !served.contains(p))

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}
