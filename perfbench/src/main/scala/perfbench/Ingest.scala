package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream}
import java.lang.management.ManagementFactory
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.CountDownLatch

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.command.{Json, Request, Value}
import graft.engine.GraftDb
import graft.server.HttpApi

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The ingest workload: four closed-loop clients, each on one kept-alive
  * HTTP connection, send single-row INSERTs to a file-backed `GraftDb`
  * behind an in-process `HttpApi`, set up as `ServeMain` sets it up. */
object Ingest {
  val Clients = 4
  /** Set-ups per run; each after the first takes a fraction of a second. */
  private val SetupRounds = 5
  private val WarmSeconds = 2.0
  private val CreateTable =
    "CREATE TABLE ingest (id INTEGER PRIMARY KEY, client INTEGER, " +
      "seq INTEGER, note TEXT)"

  /** One request: the row id it inserts, its note and its JSON body. */
  final case class Op(id: Long, note: String, body: String)

  /** Client `client`'s seeded op stream. Ids are unique across clients;
    * requests alternate literal values and `?` parameters. */
  final class Gen(seed: Long, client: Int) {
    private val rng = new scala.util.Random(seed * 1000003L + client)
    private var n = 0L

    def next(): Op = {
      val id = 1 + client + Clients * n
      val note = rng.alphanumeric.take(8 + rng.nextInt(33)).mkString
      val sql = "INSERT INTO ingest(id, client, seq, note) VALUES "
      val stmt =
        if (n % 2 == 0)
          s"""{"sql":${Json.escapeQ(s"$sql($id, $client, $n, '$note')")}}"""
        else
          s"""{"sql":${Json.escapeQ(sql + "(?, ?, ?, ?)")},"parameters":""" +
            s"""[{"Integer":$id},{"Integer":$client},{"Integer":$n},""" +
            s"""{"Text":${Json.escapeQ(note)}}]}"""
      n += 1
      Op(id, note, s"""{"transaction":false,"statements":[$stmt]}""")
    }
  }

  private val mapper = new ObjectMapper()

  /** Whether the reply acknowledges exactly one inserted row. */
  def acknowledged(status: Int, resp: String): Boolean = status == 200 && {
    val js = mapper.readTree(resp)
    js.size == 1 && js.path(0).path("rows_affected").asLong(0) == 1 &&
      !js.path(0).has("error")
  }

  /** A minimal HTTP/1.1 client on one kept-alive connection. Each request
    * goes out in one write, as a connection pool's client sends it. */
  final class Conn(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val in = new BufferedInputStream(sock.getInputStream)
    private val out = sock.getOutputStream

    def request(method: String, path: String, body: String): (Int, String) = {
      val b = body.getBytes(UTF_8)
      val head = s"$method $path HTTP/1.1\r\nHost: localhost\r\n" +
        s"Content-Type: application/json\r\nContent-Length: ${b.length}\r\n\r\n"
      out.write(head.getBytes(UTF_8) ++ b)
      out.flush()
      val status = line().split(" ")(1).toInt
      var len = 0
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("content-length"))
          len = h.substring(i + 1).trim.toInt
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

  private def ok[A](r: Either[String, A]): A = r.fold(e => sys.error(e), identity)

  private def createDb(spark: SparkSession, dir: Path): GraftDb = {
    val db = ok(GraftDb.open(spark, dir.toString))
    ok(db.executeStringStmt(CreateTable))
    db
  }

  /** One set-up: session, fresh db directory and table, server. */
  final class Stack(o: Opts, val dir: Path) {
    val (spark: SparkSession, sessionS: Double) =
      Main.time(Main.session(o, analytics = false))
    val (db: GraftDb, createS: Double) = Main.time(createDb(spark, dir))
    private val threadsBefore = liveThreadIds()
    val api = new HttpApi(db, 0, threads = Clients)
    api.start()
    val port: Int = api.listeningPort
    /** The server's request threads: the pool it started, whose threads
      * the JDK names pool-N-thread-M. */
    def serverThreads: Set[Long] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => !threadsBefore(t.getId) && t.getName.startsWith("pool-"))
      .map(_.getId).toSet

    def stop(): Unit = {
      api.stop()
      ok(db.close())
      Main.stopSession(spark)
    }
  }

  private def liveThreadIds(): Set[Long] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getId).toSet

  /** One finished request. */
  final case class Done(op: Op, startNs: Long, latNs: Long, ok: Boolean)

  /** Runs every client's stream in a closed loop for `seconds`; returns
    * the requests in start order and the clients' own CPU time. */
  private def drive(gens: Seq[Gen], port: Int, seconds: Double,
                    tracer: Tracer): (Seq[Done], Long) = {
    val start = new CountDownLatch(1)
    val t0 = System.nanoTime() + 50000000L
    val deadline = t0 + (seconds * 1e9).toLong
    val results = gens.map(_ => ArrayBuffer[Done]())
    val clientCpu = new java.util.concurrent.atomic.AtomicLong(0)
    val threads = gens.zip(results).map { case (g, out) =>
      val t = new Thread(() => {
        val mx = ManagementFactory.getThreadMXBean
        var conn = new Conn(port)
        start.await()
        while (System.nanoTime() < t0) Thread.onSpinWait()
        val cpu0 = mx.getCurrentThreadCpuTime
        try {
          while (System.nanoTime() < deadline) {
            val op = g.next()
            val s0 = System.nanoTime()
            val reply = tracer.span("http.insert", 0L) { _ =>
              try Some(conn.request("POST", "/db/execute", op.body))
              catch { case _: java.io.IOException => None }
            }
            val lat = System.nanoTime() - s0
            val good = reply.exists { case (st, resp) =>
              try acknowledged(st, resp) catch { case _: Exception => false }
            }
            // a dropped connection fails its request; the client reconnects
            if (reply.isEmpty) { conn.close(); conn = new Conn(port) }
            out += Done(op, s0 - t0, lat, good)
          }
        } finally {
          clientCpu.addAndGet(mx.getCurrentThreadCpuTime - cpu0)
          conn.close()
        }
      })
      t.start()
      t
    }
    start.countDown()
    threads.foreach(_.join())
    (results.flatten.sortBy(_.startNs), clientCpu.get())
  }

  def run(o: Opts): Rec = {
    val rec = new Rec
    val setup, sessionS, createS = ArrayBuffer[Double]()
    var stack: Stack = null
    for (round <- 0 until SetupRounds) {
      if (stack != null) stack.stop()
      val t0 = System.nanoTime()
      stack = new Stack(o, o.out.resolve(s"db$round"))
      val c = new Conn(stack.port)
      c.request("GET", "/ping", "")
      c.close()
      sessionS += stack.sessionS
      createS += stack.createS
      setup += (if (round == 0) Main.sinceStartMs / 1e3
                else (System.nanoTime() - t0) / 1e9)
    }
    rec("setup_rounds_s") = setup.toSeq
    rec("setup.session_s") = sessionS.toSeq
    rec("setup.preload_s") = createS.toSeq

    val gens = (0 until Clients).map(c => new Gen(o.seed, c))
    val acked = ArrayBuffer[Done]()
    val noTrace = new Tracer(false)
    val (warm, _) = drive(gens, stack.port, WarmSeconds, noTrace)
    acked ++= warm.filter(_.ok)
    // the first checkpoint of a JVM pays for cold parquet writing; take it
    // here, so the window sees the steady checkpoint cadence
    ok(stack.db.checkpoint())
    rec("warm_ops") = warm.size
    rec("warm_failed") = warm.count(!_.ok)

    val root = stack.dir
    val version0 = manifestVersion(root)
    val tracer = new Tracer(o.trace)
    val serverThreads = stack.serverThreads
    val halves = if (o.trace) Seq(false, true) else Seq(false)
    for (traced <- halves) {
      val probe = if (traced) Some(new SparkProbe(stack.spark, tracer)) else None
      probe.foreach(_.active = true)
      if (traced) ManagementFactory.getThreadMXBean
        .setThreadContentionMonitoringEnabled(true)
      val blocked0 = blockedMs(serverThreads)
      val cpu0 = Main.processCpuNs(); val gc0 = Main.gcMs()
      val io0 = Main.procWriteBytes()
      val secs = if (o.trace) o.seconds / 2 else o.seconds
      val (done, clientCpuNs) =
        drive(gens, stack.port, secs, if (traced) tracer else noTrace)
      val w = new Rec
      w("window_s") = secs
      w("lat_ms") = done.map(_.latNs / 1e6)
      w("ok") = done.map(_.ok)
      w("cpu_ms") = (Main.processCpuNs() - cpu0 - clientCpuNs) / 1e6
      w("gc_ms") = (Main.gcMs() - gc0).toDouble
      w("write_bytes") = Main.procWriteBytes() - io0
      probe.foreach { p =>
        p.drain()
        w("spark") = p.snapshot().map { case (k, c) => k -> c.toMap }
        p.detach()
        w("blocked_ms") = blockedMs(serverThreads) - blocked0
        w("replay") = replay(o, stack.spark, done.map(_.op), tracer)
      }
      acked ++= done.filter(_.ok)
      rec(if (traced) "traced" else "timed") = w
    }
    rec("ping_ms") = ping(stack.port)
    rec("checkpoints") = manifestVersion(root) - version0
    val journal = root.resolve("journal.jsonl")
    if (Files.exists(journal)) {
      rec("journal_bytes") = Files.size(journal)
      rec("journal_lines") = Files.readAllLines(journal).size
    }
    rec("heap_mb") = Main.liveHeapMb()

    // Every acknowledged insert must survive close and reopen.
    stack.api.stop()
    ok(stack.db.close())
    val (db, reopenS) = Main.time(ok(GraftDb.open(stack.spark, root.toString)))
    rec("reopen_s") = reopenS
    val got = ok(db.queryStringStmt("SELECT id, note FROM ingest"))
      .head.values.collect {
        case Seq(Value.Integer(id), Value.Text(note)) => id -> note
      }.toMap
    val missing = acked.count(d => !got.get(d.op.id).contains(d.op.note))
    rec("rows") = got.size
    rec("state_failures") =
      if (missing == 0 && got.size == acked.size) Nil
      else Seq(s"reopen: $missing of ${acked.size} acknowledged inserts " +
        s"missing, ${got.size} rows present")
    rec("checkpoint_ms") = Main.time(ok(db.checkpoint()))._2 * 1e3
    rec("disk_bytes") = Main.dirBytes(root)
    ok(db.close())
    tracer.write(o.out.resolve("spans.json"))
    Main.stopSession(stack.spark)
    rec
  }

  private def manifestVersion(root: Path): Long = {
    val m = root.resolve("manifest.json")
    if (!Files.exists(m)) 0L
    else mapper.readTree(Files.readString(m)).path("version").asLong(0)
  }

  private def blockedMs(ids: Set[Long]): Long = {
    val mx = ManagementFactory.getThreadMXBean
    ids.toSeq.flatMap(id => Option(mx.getThreadInfo(id)))
      .map(_.getBlockedTime).filter(_ > 0).sum
  }

  private def ping(port: Int): Seq[Double] = {
    val c = new Conn(port)
    try (1 to 20).map { _ =>
      val t0 = System.nanoTime()
      c.request("GET", "/ping", "")
      (System.nanoTime() - t0) / 1e6
    } finally c.close()
  }

  /** The same op stream, replayed in-process, one op at a time, on a fresh
    * db: request decode, engine call and response encode, each timed. */
  private def replay(o: Opts, spark: SparkSession, ops: Seq[Op],
                     tracer: Tracer): Rec = {
    val db = createDb(spark, o.out.resolve("replay"))
    val decodeUs, engineMs, encodeUs = ArrayBuffer[Double]()
    ops.foreach { op =>
      tracer.span("replay.op", 0L) { parent =>
        val t0 = System.nanoTime()
        val req: Request = tracer.span("command.decode", parent)(_ =>
          ok(Json.parseRequest(op.body)))
        val t1 = System.nanoTime()
        val res = tracer.span("engine.insert", parent)(_ => ok(db.execute(req)))
        val t2 = System.nanoTime()
        tracer.span("command.encode", parent)(_ => Json.responses(res))
        val t3 = System.nanoTime()
        decodeUs += (t1 - t0) / 1e3
        engineMs += (t2 - t1) / 1e6
        encodeUs += (t3 - t2) / 1e3
      }
    }
    ok(db.close())
    val r = new Rec
    r("decode_us") = decodeUs.toSeq
    r("engine_ms") = engineMs.toSeq
    r("encode_us") = encodeUs.toSeq
    r
  }
}
