package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.command.Json
import graft.engine.GraftDb
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit}

/** HTTP API in front of the engine — same surface as the reference's hyper
  * service (`http/src/service.rs:111-148`): `GET /ping` → "pong",
  * `POST /db/execute`, 404 elsewhere, 400 on bad JSON — plus the
  * `POST /db/query` route the reference designed but never wired (its
  * `DB::query` exists at `db/src/db.rs:223` with no route). Store access
  * serializes inside GraftDb's lock, the analog of the reference's global
  * `Arc<Mutex<store>>` (`http/src/service.rs:31`).
  *
  * Every accepted connection gets `TCP_NODELAY`. The JDK server flushes the
  * response headers in `sendResponseHeaders` and [[respond]] then writes
  * the body as a second small segment; with Nagle's algorithm on, that
  * body waits for the client's ACK of the headers, which a delayed-ACK
  * client holds for ~40 ms. On a kept-alive connection every response
  * paid that stall (44 ms per ping or single-row INSERT, against ~0.3 ms
  * of engine work). The switch is the JDK's own property
  * `sun.net.httpserver.nodelay`, set here unless the operator already set
  * it. Caveat: the JDK reads it once per JVM, when the first
  * `HttpServer.create` initializes its server config, so a
  * `com.sun.net.httpserver` server created elsewhere in the JVM before the
  * first `HttpApi` fixes the setting for every later server
  * (HttpApiSpec's keep-alive latency test fails if that happens).
  */
final class HttpApi(db: GraftDb, port: Int = 0, threads: Int = 4,
                    cluster: Option[graft.engine.ClusterControl] = None) {

  System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  // Default thread names (pool-N-thread-M) are kept on purpose: perfbench
  // finds the request threads by that prefix.
  private val pool = Executors.newFixedThreadPool(threads)
  server.setExecutor(pool)

  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val (method, path) = (ex.getRequestMethod, ex.getRequestURI.getPath)
      (method, path) match {
        case ("GET", "/ping") => respond(ex, 200, "pong")
        case ("GET", "/status") => handleStatus(ex)
        case ("POST", "/db/execute") => handleExecute(ex)
        case ("POST", "/db/query") => handleQuery(ex)
        case _ => respond(ex, 404, "")
      }
    }
  })

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  /** Cluster diagnostics — the reference's RaftControl surface
    * (`store/src/lib.rs:18-28`) mapped onto Spark's cluster manager via
    * [[graft.engine.SparkClusterControl]]. */
  private def handleStatus(ex: HttpExchange): Unit = {
    val leader = Json.escape(cluster.map(_.leaderId).getOrElse("unknown"))
    val members = cluster.map(_.members).getOrElse(Nil)
      .map(m => "\"" + Json.escape(m) + "\"").mkString("[", ",", "]")
    respond(ex, 200, s"""{"leader":"$leader","members":$members}""")
  }

  private def handleExecute(ex: HttpExchange): Unit =
    Json.parseRequest(body(ex)) match {
      case Left(err) => respond(ex, 400, err)
      case Right(req) => db.execute(req) match {
        case Right(rs) => respond(ex, 200, Json.responses(rs))
        case Left(err) => respond(ex, 400, err)
      }
    }

  /** `?level=none|weak|strong` selects the read-consistency level
    * (rqlite's query-parameter surface; default weak);
    * `?version=N` reads the batch against snapshot version N instead
    * (time travel — [[graft.engine.GraftDb.queryAsOf]]). */
  private def handleQuery(ex: HttpExchange): Unit = {
    val params = Option(ex.getRequestURI.getQuery).toSeq
      .flatMap(_.split("&")).map(_.split("=", 2))
    params.collectFirst { case Array("version", v) => v }.foreach { v =>
      v.toLongOption match {
        case None => respond(ex, 400, s"invalid version: $v")
        case Some(ver) => Json.parseRequest(body(ex)) match {
          case Left(err) => respond(ex, 400, err)
          case Right(req) => db.queryAsOf(req, ver) match {
            case Right(rs) => respond(ex, 200, Json.rowsSeq(rs))
            case Left(err) => respond(ex, 400, err)
          }
        }
      }
      return
    }
    val levelParam = params
      .collectFirst { case Array("level", v) => v }
    val level = levelParam match {
      case None => graft.engine.ReadLevel.Weak
      case Some(v) => graft.engine.ReadLevel.parse(v) match {
        case Some(l) => l
        case None =>
          respond(ex, 400, s"invalid consistency level: $v"); return
      }
    }
    Json.parseRequest(body(ex)) match {
      case Left(err) => respond(ex, 400, err)
      case Right(req) => db.query(req, level) match {
        case Right(rs) => respond(ex, 200, Json.rowsSeq(rs))
        case Left(err) => respond(ex, 400, err)
      }
    }
  }

  private def respond(ex: HttpExchange, code: Int, text: String): Unit = {
    val bytes = text.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  def start(): Unit = server.start()
  /** Stops accepting, then retires the request threads: handlers already
    * running get up to 5 s to finish before this returns. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(5, TimeUnit.SECONDS)
  }
  /** Bound port (use port=0 in tests — same trick as the reference's
    * ephemeral-port tests, `http/src/service.rs:104-108`). */
  def listeningPort: Int = server.getAddress.getPort
}
