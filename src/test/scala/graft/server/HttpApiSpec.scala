package graft.server

import graft.SparkSpec
import graft.engine.GraftDb
import java.io.{BufferedInputStream, ByteArrayOutputStream}
import java.net.{Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

/** Service-level tests over a real socket on an ephemeral port — mirrors
  * the reference's hyper tests (/root/reference/http/src/service.rs:222-316)
  * plus the /db/query route the reference designed but never wired.
  */
class HttpApiSpec extends SparkSpec {

  private def withServer(f: (HttpClient, String) => Unit): Unit = {
    val db = GraftDb.openInMemory(spark)
    val api = new HttpApi(db, port = 0)
    api.start()
    try f(HttpClient.newHttpClient(), s"http://127.0.0.1:${api.listeningPort}")
    finally api.stop()
  }

  private def get(c: HttpClient, url: String) =
    c.send(HttpRequest.newBuilder(URI.create(url)).GET.build(),
      HttpResponse.BodyHandlers.ofString())
  private def post(c: HttpClient, url: String, body: String) =
    c.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET /status reports leader + members (A14/A16 surface)") {
    val db = graft.engine.GraftDb.openInMemory(spark)
    val api = new HttpApi(db, port = 0,
      cluster = Some(new graft.engine.SparkClusterControl(spark)))
    api.start()
    try {
      val r = get(HttpClient.newHttpClient(),
        s"http://127.0.0.1:${api.listeningPort}/status")
      assert(r.statusCode() == 200)
      assert(r.body().contains("\"leader\"") && r.body().contains("\"members\""))
    } finally api.stop()
  }

  test("GET /status reports the snapshot state and it advances on checkpoint") {
    val root = java.nio.file.Files.createTempDirectory("graft-status").toString
    val db = GraftDb.open(spark, root).fold(e => fail(e), identity)
    val api = new HttpApi(db, port = 0)
    api.start()
    try {
      val c = HttpClient.newHttpClient()
      val url = s"http://127.0.0.1:${api.listeningPort}/status"
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      def snapshot() = {
        val r = get(c, url)
        assert(r.statusCode() == 200, r.body())
        om.readTree(r.body()).path("snapshot")
      }
      val fields = Seq("version", "journal_since_checkpoint", "checkpoints",
        "last_checkpoint_ms")
      val s0 = snapshot()
      assert(s0.fieldNames().asScala.toSeq == fields, s0)
      assert(fields.map(s0.path(_).asDouble()) == Seq(0.0, 0.0, 0.0, 0.0))
      db.executeStringStmt("CREATE TABLE kv (k INTEGER PRIMARY KEY, v TEXT)")
      db.executeStringStmt("INSERT INTO kv VALUES (1, 'one')")
      assert(snapshot().path("journal_since_checkpoint").asLong() == 2)
      db.checkpoint().fold(e => fail(e), identity)
      val s1 = snapshot()
      assert(s1.path("version").asLong() == 1)
      assert(s1.path("checkpoints").asLong() == 1)
      assert(s1.path("journal_since_checkpoint").asLong() == 0)
      assert(s1.path("last_checkpoint_ms").asDouble() > 0)
      db.executeStringStmt("INSERT INTO kv VALUES (2, 'two')")
      db.checkpoint().fold(e => fail(e), identity)
      val s2 = snapshot()
      assert(s2.path("version").asLong() == 2 && s2.path("checkpoints").asLong() == 2)
    } finally { api.stop(); db.close() }
  }

  test("GET /ping returns pong (service.rs:243-252)") {
    withServer { (c, base) =>
      val r = get(c, s"$base/ping")
      assert(r.statusCode() == 200 && r.body() == "pong")
    }
  }

  test("unknown route returns 404 (service.rs:254-262)") {
    withServer { (c, base) =>
      assert(get(c, s"$base/nope").statusCode() == 404)
    }
  }

  test("POST /db/execute round trip (service.rs:282-311)") {
    withServer { (c, base) =>
      val ddl = """{"request":{"transaction":false,"statements":[
        {"sql":"CREATE TABLE foo (id INTEGER NOT NULL PRIMARY KEY, name TEXT)","parameters":[]}]}}"""
      assert(post(c, s"$base/db/execute", ddl).statusCode() == 200)
      val ins = """{"request":{"transaction":false,"statements":[
        {"sql":"INSERT INTO foo(id, name) VALUES(1, \"fiona\")","parameters":[]}]}}"""
      val r = post(c, s"$base/db/execute", ins)
      assert(r.statusCode() == 200)
      assert(r.body() == """[{"last_insert_id":1,"rows_affected":1}]""")
    }
  }

  test("POST /db/execute with bad json returns 400 (service.rs:264-280)") {
    withServer { (c, base) =>
      assert(post(c, s"$base/db/execute", "{not json").statusCode() == 400)
    }
  }

  test("POST /db/query returns the rows envelope (the unwired route)") {
    withServer { (c, base) =>
      post(c, s"$base/db/execute",
        """{"request":{"transaction":false,"statements":[
          {"sql":"CREATE TABLE foo (id INTEGER NOT NULL PRIMARY KEY, name TEXT)"},
          {"sql":"INSERT INTO foo(id, name) VALUES(1, \"fiona\")"}]}}""")
      val r = post(c, s"$base/db/query",
        """{"request":{"transaction":false,"statements":[{"sql":"SELECT * FROM foo"}]}}""")
      assert(r.statusCode() == 200)
      assert(r.body() ==
        """[{"columns":["id","name"],"types":["integer","text"],"values":[[1,"fiona"]]}]""")
    }
  }

  test("/db/query read-consistency levels: none/weak/strong + invalid (§3.2)") {
    withServer { (c, base) =>
      post(c, s"$base/db/execute",
        """{"request":{"transaction":false,"statements":[
          {"sql":"CREATE TABLE foo (id INTEGER NOT NULL PRIMARY KEY, name TEXT)"},
          {"sql":"INSERT INTO foo(id, name) VALUES(1, \"fiona\")"}]}}""")
      val body =
        """{"request":{"transaction":false,"statements":[{"sql":"SELECT * FROM foo"}]}}"""
      val expected =
        """[{"columns":["id","name"],"types":["integer","text"],"values":[[1,"fiona"]]}]"""
      Seq("none", "weak", "strong").foreach { level =>
        val r = post(c, s"$base/db/query?level=$level", body)
        assert(r.statusCode() == 200, s"level=$level: ${r.body()}")
        assert(r.body() == expected, s"level=$level")
      }
      val bad = post(c, s"$base/db/query?level=chaotic", body)
      assert(bad.statusCode() == 400)
      assert(bad.body() == "invalid consistency level: chaotic")
      // none-level reads are read-only: mutating statements are rejected
      val mut = post(c, s"$base/db/query?level=none",
        """{"request":{"transaction":false,"statements":[
          {"sql":"DELETE FROM foo"}]}}""")
      assert(mut.statusCode() == 400)
      assert(mut.body() == "level=none supports read statements only")
      // PRAGMA reads answer from the envelope at every level
      val pragma = post(c, s"$base/db/query?level=none",
        """{"request":{"transaction":false,"statements":[
          {"sql":"PRAGMA foreign_keys"}]}}""")
      assert(pragma.statusCode() == 200)
      assert(pragma.body() ==
        """[{"columns":["foreign_keys"],"types":["integer"],"values":[[0]]}]""")
    }
  }

  test("parameterized statement over the wire (serde enum encoding)") {
    withServer { (c, base) =>
      post(c, s"$base/db/execute",
        """{"request":{"transaction":false,"statements":[
          {"sql":"CREATE TABLE foo (id INTEGER NOT NULL PRIMARY KEY, name TEXT, age INT)"}]}}""")
      val r = post(c, s"$base/db/execute",
        """{"request":{"transaction":false,"statements":[
          {"sql":"INSERT INTO foo(name, age) VALUES(?, ?)",
           "parameters":[{"Text":"fiona"},{"Integer":20}]}]}}""")
      assert(r.body() == """[{"last_insert_id":1,"rows_affected":1}]""")
      val q = post(c, s"$base/db/query",
        """{"request":{"transaction":false,"statements":[{"sql":"SELECT * FROM foo"}]}}""")
      assert(q.body() ==
        """[{"columns":["id","name","age"],"types":["integer","text","integer"],"values":[[1,"fiona",20]]}]""")
    }
  }

  test("/db/query?version=N serves distinct snapshot versions (time travel)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-http-tt-")
    val db = GraftDb.open(spark, dir.resolve("db").toString)
      .fold(e => fail(e), identity)
    val api = new HttpApi(db, port = 0)
    api.start()
    try {
      val c = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${api.listeningPort}"
      db.executeStringStmt(
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)")
      db.executeStringStmt("INSERT INTO t VALUES (1, 'one')")
      assert(db.checkpoint().isRight) // v1
      db.executeStringStmt("UPDATE t SET v = 'uno' WHERE id = 1")
      db.executeStringStmt("INSERT INTO t VALUES (2, 'two')")
      assert(db.checkpoint().isRight) // v2
      val q =
        """{"request":{"transaction":false,"statements":[{"sql":"SELECT v FROM t"}]}}"""
      val r1 = post(c, s"$base/db/query?version=1", q)
      assert(r1.statusCode() == 200, r1.body())
      assert(r1.body() ==
        """[{"columns":["v"],"types":["text"],"values":[["one"]]}]""")
      val r2 = post(c, s"$base/db/query?version=2", q)
      assert(r2.statusCode() == 200, r2.body())
      assert(r2.body() ==
        """[{"columns":["v"],"types":["text"],"values":[["uno"],["two"]]}]""")
      // expired/unknown version fails loudly, never serves current data
      val bad = post(c, s"$base/db/query?version=99", q)
      assert(bad.statusCode() == 400 && bad.body().contains("no snapshot"))
      val nonNum = post(c, s"$base/db/query?version=abc", q)
      assert(nonNum.statusCode() == 400)
      // writes are rejected on the version surface
      val w = post(c, s"$base/db/query?version=1",
        """{"request":{"transaction":false,"statements":[{"sql":"DELETE FROM t"}]}}""")
      assert(w.statusCode() == 400 &&
        w.body().contains("read statements only"))
      // SQL views resolve on the version surface under that version's own
      // catalog: a view created after v2 is in v3, not in v2
      db.executeStringStmt("CREATE VIEW vv AS SELECT v FROM t")
      assert(db.checkpoint().isRight) // v3
      val vq =
        """{"request":{"transaction":false,"statements":[{"sql":"SELECT v FROM vv"}]}}"""
      val rv = post(c, s"$base/db/query?version=3", vq)
      assert(rv.statusCode() == 200 && rv.body().contains("uno"), rv.body())
      val rv2 = post(c, s"$base/db/query?version=2", vq)
      assert(rv2.statusCode() == 400 && rv2.body() == "no such table: vv",
        rv2.body())
    } finally { api.stop(); db.close() }
  }

  test("/db/query, ?level=none and ?version=N give one body; unpublished versions are refused") {
    val dir = java.nio.file.Files.createTempDirectory("graft-http-levels-")
    val db = GraftDb.open(spark, dir.resolve("db").toString)
      .fold(e => fail(e), identity)
    val api = new HttpApi(db, port = 0)
    api.start()
    try {
      val c = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${api.listeningPort}"
      Seq("CREATE TABLE t(id INTEGER PRIMARY KEY, name TEXT, v INTEGER)",
        "INSERT INTO t VALUES (7,'Bob',7), (3,'alice',2), (9,'Carl',9)",
        "CREATE VIEW vt AS SELECT name, v / 2 AS half FROM t")
        .foreach(db.executeStringStmt)
      assert(db.checkpoint().isRight) // v1
      def q(sql: String) =
        s"""{"request":{"transaction":false,"statements":[{"sql":"$sql"}]}}"""
      // each answered by python3's sqlite3 (SQLite 3.40.1) as the body says
      Seq(
        "SELECT 7 / 2, typeof(7 / 2)" ->
          """[{"columns":["7 / 2","typeof(7 / 2)"],"types":["integer","text"],"values":[[3,"integer"]]}]""",
        "SELECT rowid, id FROM t ORDER BY id" ->
          """[{"columns":["id","id"],"types":["integer","integer"],"values":[[3,3],[7,7],[9,9]]}]""",
        "SELECT name FROM t WHERE name LIKE 'b%'" ->
          """[{"columns":["name"],"types":["text"],"values":[["Bob"]]}]""",
        "SELECT * FROM vt ORDER BY half" ->
          """[{"columns":["name","half"],"types":["text","integer"],"values":[["alice",1],["Bob",3],["Carl",4]]}]""",
        "SELECT name FROM sqlite_master ORDER BY name" ->
          """[{"columns":["name"],"types":["text"],"values":[["t"],["vt"]]}]""",
        "PRAGMA table_info(t)" ->
          ("""[{"columns":["cid","name","type","notnull","dflt_value","pk"],""" +
            """"types":["integer","text","text","integer","text","integer"],""" +
            """"values":[[0,"id","INTEGER",0,null,1],[1,"name","TEXT",0,null,0],""" +
            """[2,"v","INTEGER",0,null,0]]}]""")
      ).foreach { case (sql, expected) =>
        Seq("", "?level=none", "?version=1").foreach { p =>
          val r = post(c, s"$base/db/query$p", q(sql))
          assert(r.statusCode() == 200, s"$p [$sql]: ${r.body()}")
          assert(r.body() == expected, s"$p [$sql]")
        }
      }
      val unpublished = post(c, s"$base/db/query?version=2", q("SELECT 1"))
      assert(unpublished.statusCode() == 400)
      assert(unpublished.body() == "no snapshot at version 2 (retained: 1)")
    } finally { api.stop(); db.close() }
  }

  /** A bare HTTP/1.1 client on one kept-alive socket. Each request goes out
    * in a single write, as a pooled client sends it; the reply is read by
    * its Content-length. */
  private final class RawConn(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    sock.setSoTimeout(10000)
    private val in = new BufferedInputStream(sock.getInputStream)

    def request(method: String, path: String, body: String = ""): (Int, String) = {
      val b = body.getBytes(UTF_8)
      sock.getOutputStream.write((s"$method $path HTTP/1.1\r\nHost: localhost\r\n" +
        s"Content-Length: ${b.length}\r\n\r\n").getBytes(UTF_8) ++ b)
      val status = line().split(" ")(1).toInt
      var len = 0
      var h = line()
      while (h.nonEmpty) {
        val Array(k, v) = h.split(":", 2)
        if (k.trim.equalsIgnoreCase("content-length")) len = v.trim.toInt
        h = line()
      }
      (status, new String(in.readNBytes(len), UTF_8))
    }

    private def line(): String = {
      val buf = new ByteArrayOutputStream()
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new java.io.EOFException("connection closed")
        if (c != '\r') buf.write(c)
        c = in.read()
      }
      buf.toString(UTF_8)
    }

    def close(): Unit = sock.close()
  }

  test("kept-alive connection answers without the Nagle/delayed-ACK stall") {
    withServer { (_, base) =>
      val conn = new RawConn(URI.create(base).getPort)
      try {
        assert(conn.request("POST", "/db/execute",
          """{"request":{"transaction":false,"statements":[
            {"sql":"CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)"}]}}""")._1 == 200)
        def timed(f: => (Int, String)): (Double, (Int, String)) = {
          val t0 = System.nanoTime()
          val r = f
          ((System.nanoTime() - t0) / 1e6, r)
        }
        val pings = (1 to 20).map(_ => timed(conn.request("GET", "/ping")))
        val inserts = (1 to 20).map(i => timed(conn.request("POST", "/db/execute",
          s"""{"request":{"transaction":false,"statements":[
            {"sql":"INSERT INTO t(v) VALUES('r$i')"}]}}""")))
        assert(pings.forall(_._2 == (200, "pong")))
        assert(inserts.map(_._2) == (1 to 20).map(i =>
          (200, s"""[{"last_insert_id":$i,"rows_affected":1}]""")))
        def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
        val (ping, insert) = (median(pings.map(_._1)), median(inserts.map(_._1)))
        // With Nagle on, each response's body waits ~40 ms for the
        // client's delayed ACK of the headers: both medians were 44 ms.
        assert(ping < 20, f"median ping $ping%.1f ms")
        assert(insert < 20, f"median insert $insert%.1f ms")
      } finally conn.close()
    }
  }

  test("stop() retires the request pool's threads") {
    def poolThreads = Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(_.getName.startsWith("pool-"))
    val before = poolThreads
    val api = new HttpApi(GraftDb.openInMemory(spark), port = 0)
    api.start()
    val c = HttpClient.newHttpClient()
    (1 to 8).foreach { _ =>
      assert(get(c, s"http://127.0.0.1:${api.listeningPort}/ping").body() == "pong")
    }
    val started = poolThreads -- before
    assert(started.nonEmpty)
    api.stop()
    started.foreach(_.join(5000))
    assert(started.forall(!_.isAlive),
      s"alive after stop(): ${started.filter(_.isAlive).map(_.getName)}")
  }
}
