package graft.ingest

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

/** A real TCP listener over [[Gateway.handle]] — the last reference
  * capability a user could not literally exercise: the reference is a
  * network service (gin router, reference src/main.go:224-232), while
  * the engine keeps all route/status/side-effect semantics
  * transport-free in [[Gateway]]. This binding is deliberately thin —
  * request framing in, Response out, zero engine logic — so every
  * behavior stays testable without a socket and the socket itself stays
  * a ~60-line adapter on the JDK's built-in `httpserver` (no new
  * dependency).
  *
  * Concurrency mirrors the reference's gin defaults: a small pool gives
  * route independence (a long /query cannot starve GET / register
  * reads); Gateway already serializes only its register updates and
  * parquet appends internally.
  */
object GatewaySocket {

  /** The largest request body buffered, well above the reference's own
    * 80k-row envelope (17.6 MB); a larger one gets a JSON 413 unread.
    */
  private val MaxBody = 64 << 20

  final class Handle private[GatewaySocket] (
      server: HttpServer, pool: java.util.concurrent.ExecutorService) {
    /** Bound port (useful when started on port 0 = ephemeral). */
    def port: Int = server.getAddress.getPort
    def stop(): Unit = { server.stop(0); pool.shutdown() }
  }

  /** Bind and start; `port = 0` picks an ephemeral port (tests). */
  def start(gw: Gateway, port: Int = 0, threads: Int = 4): Handle = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try {
          // refuse an oversized body before buffering it: by its declared
          // length, or, when none is declared, by reading one byte past the cap
          val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
            .flatMap(_.trim.toLongOption)
          val body = Option.when(!declared.exists(_ > MaxBody))(
            ex.getRequestBody.readNBytes(MaxBody + 1)).filter(_.length <= MaxBody)
          val resp = body.fold(Gateway.Response(413,
              s"""{"error":"request body above $MaxBody bytes"}""")) { b =>
            val req = Gateway.Request(ex.getRequestMethod, ex.getRequestURI.getPath,
              parseQuery(Option(ex.getRequestURI.getRawQuery)), new String(b, UTF_8))
            try gw.handle(req)
            catch {
              // the adapter must never leak a raw stack through the
              // socket: surface engine faults as a JSON 500 (the
              // reference's gin recovery middleware does the same)
              case e: Exception =>
                Gateway.Response(500, s"""{"error":"${graft.tools.Runs.jsonEscape(
                    Option(e.getMessage).getOrElse(e.getClass.getName))}"}""")
            }
          }
          val bytes = resp.body.getBytes(UTF_8)
          ex.getResponseHeaders.add("Content-Type", "application/json")
          ex.sendResponseHeaders(resp.status, bytes.length)
          ex.getResponseBody.write(bytes)
          // flush the response before the exchange drains an unread body
          ex.getResponseBody.close()
        } finally ex.close()
    })
    server.setExecutor(pool)
    server.start()
    new Handle(server, pool)
  }

  private def parseQuery(raw: Option[String]): Map[String, String] =
    raw.filter(_.nonEmpty).fold(Map.empty[String, String]) {
      _.split("&").toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => Some(dec(k) -> dec(v))
          case Array(k) if k.nonEmpty => Some(dec(k) -> "")
          case _ => None
        }
      }.toMap
    }

  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")
}
