package graft

import org.apache.spark.sql.SparkSession
import graft.engine.{Durability, GraftDb}
import graft.command.{Json, Value}
import java.io.PrintWriter
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Journal crash-replay differential fuzzer (VERDICT r12 #4) — the
  * Raft-log analog of FaultSoak, run against REAL process death:
  *
  *  1. generate a seeded OltpFuzz batch and run it in a CHILD engine JVM
  *     against a disk-rooted GraftDb, one statement per execute() (each
  *     append-journaled before applying);
  *  2. SIGKILL the child at a RANDOM statement index (destroyForcibly —
  *     the kill lands wherever the OS puts it: between statements,
  *     mid-apply, or mid-journal-append, covering the torn-line path);
  *  3. reopen the database in the parent JVM — recovery replays the
  *     journal-committed prefix — and dump every table's final state
  *     plus the raw journal;
  *  4. `tools/check_crash.py` replays exactly those journaled statements
  *     in a real sqlite3 connection (rolling back any open transaction,
  *     as the engine does for a connection that died inside BEGIN) and
  *     compares final states table by table.
  *
  * The grammar's `ckpt` ops are skipped: a checkpoint truncates the
  * journal, which is the checker's replay record (checkpoint recovery
  * itself is pinned by GoldenParitySpec and the OLTP fuzzer's reopen
  * arm). Seeds stay far below CheckpointEvery statements, so the journal
  * always holds the batch's full committed history.
  *
  * Usage: runMain graft.CrashReplayFuzz <outFile> <seedStart> <count>
  * Env: GRAFT_JAR (default target/scala-2.13/dustspark_2.13-0.1.0.jar)
  */
object CrashReplayFuzz {

  private val addOpens: Seq[String] = {
    val base = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util",
      "java.util.concurrent", "java.util.concurrent.atomic")
      .map(p => s"java.base/$p")
    val sun = Seq("sun.nio.ch", "sun.nio.cs", "sun.security.action",
      "sun.util.calendar").map(p => s"java.base/$p")
    (base ++ sun).flatMap(m => Seq("--add-opens", s"$m=ALL-UNNAMED"))
  }

  def main(args: Array[String]): Unit = {
    val outFile = args(0)
    val seedStart = args(1).toLong
    val count = args(2).toInt
    val jar = sys.env.getOrElse("GRAFT_JAR",
      "target/scala-2.13/dustspark_2.13-0.1.0.jar")
    val sparkJars = sys.env.getOrElse("SPARK_JARS_DIR", "/opt/spark/jars")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val w = new PrintWriter(outFile)
    var harnessErrs = 0
    try {
      (0 until count).foreach { i =>
        val seed = seedStart + i
        try w.println(runSeed(spark, seed, jar, sparkJars))
        catch {
          case e: Throwable =>
            harnessErrs += 1
            w.println(s"""{"seed":$seed,"harnessErr":${Json.escapeQ(
                s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")}}""")
        }
        if ((i + 1) % 20 == 0) {
          w.flush()
          System.err.println(s"[crash-fuzz] ${i + 1}/$count " +
            s"(harness errors: $harnessErrs)")
        }
      }
    } finally w.close()
    println(s"""{"crashFuzz":"done","count":$count,"harnessErrors":$harnessErrs}""")
    spark.stop()
    if (harnessErrs > 0) sys.exit(2)
  }

  private def runSeed(spark: SparkSession, seed: Long, jar: String,
                      sparkJars: String): String = {
    val ops = tools.OltpFuzz.gen(seed).filter(o =>
      o.kind == "x" || o.kind == "q")
    val dir = Files.createTempDirectory("graft-crash-")
    try {
      val dbPath = dir.resolve("db")
      val stmtFile = dir.resolve("stmts.tsv")
      // statements are single-line by grammar construction; assert it —
      // a multi-line statement would corrupt the child's input framing
      ops.foreach(o => require(!o.sql.contains('\n'), s"multiline: ${o.sql}"))
      Files.write(stmtFile,
        ops.map(o => s"${o.kind}\t${o.sql}").asJava)
      val rng = new Random(seed ^ 0x5eedL)
      val killAt = rng.nextInt(ops.size)
      val cap = if (seed % 2 == 0) 500L else 8L

      val cmd = (Seq("java") ++ addOpens ++ Seq(
        "-Xmx4g", "-XX:ReservedCodeCacheSize=256m",
        "-Dspark.ui.enabled=false",
        "-cp", s"$jar:$sparkJars/*",
        "graft.CrashReplayChild",
        dbPath.toString, stmtFile.toString, cap.toString)).asJava
      val pb = new ProcessBuilder(cmd)
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.DISCARD)
      val proc = pb.start()
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      var applied = -1
      var ackedLines = 0 // journal length at the last ACKED statement
      var killed = false
      val capLines = Vector.newBuilder[Int]
      var line = reader.readLine()
      while (line != null && !killed) {
        if (line.startsWith("GRAFT-CAPLINE "))
          capLines += line.substring("GRAFT-CAPLINE ".length).toInt
        if (line.startsWith("GRAFT-APPLIED ")) {
          val parts = line.substring("GRAFT-APPLIED ".length).split(" ")
          applied = parts(0).toInt
          if (parts.length > 1) ackedLines = parts(1).toInt
          if (applied >= killAt) {
            proc.destroyForcibly()
            killed = true
          }
        }
        if (!killed) line = reader.readLine()
      }
      if (!proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)) {
        proc.destroyForcibly()
        proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
      }

      // recovery in THIS JVM: replay the journal-committed prefix
      val journalLines: Seq[String] = {
        val jf = Durability.journalPath(dbPath)
        if (Files.exists(jf)) Files.readAllLines(jf).asScala.toSeq
        else Seq.empty
      }
      // replay failures are LOUD now (a committed line that fails to
      // apply fails open() instead of silently truncating history); a
      // transient Spark error under machine contention deserves one
      // operator-style retry — a real replay bug fails both attempts
      val db = GraftDb.open(spark, dbPath.toString, cap).left.flatMap { e1 =>
        System.err.println(s"[crash] seed=$seed reopen attempt 1: $e1")
        GraftDb.open(spark, dbPath.toString, cap)
      }.fold(e => sys.error(s"reopen failed: $e"), identity)
      try {
        val names = db.queryStringStmt(
          "SELECT name FROM sqlite_master WHERE type = 'table' ORDER BY name")
          .fold(e => sys.error(e), _.head.values)
          .map(_.head.asInstanceOf[Value.Text].v)
        val sb = new StringBuilder
        sb.append(s"""{"seed":$seed,"cap":$cap,"killAt":$killAt,""")
        sb.append(s""""capLines":[${capLines.result().mkString(",")}],""")
        sb.append(s""""applied":$applied,"ackedLines":$ackedLines,""")
        sb.append(""""journal":[""")
        sb.append(journalLines.map(Json.escapeQ).mkString(","))
        sb.append("""],"tables":{""")
        sb.append(names.map { n =>
          val rows = db.queryStringStmt(s"SELECT * FROM $n")
            .fold(e => sys.error(s"dump $n: $e"), _.head.values)
          Json.escapeQ(n) + ":" + rows.map(
            _.map(cell).mkString("[", ",", "]")).mkString("[", ",", "]")
        }.mkString(","))
        sb.append("}}")
        sb.toString
      } finally db.close()
    } finally {
      try deleteTree(dir) catch { case _: Exception => }
    }
  }

  private def cell(v: Value): String = v match {
    case Value.Null => "null"
    case Value.Integer(i) => i.toString
    case Value.Real(d) => d.toString
    case Value.Text(t) => Json.escapeQ(t)
    case Value.Blob(b) => // as its X'..' literal
      Json.escapeQ(b.map("%02X".format(_)).mkString("X'", "", "'"))
    case other => Json.escapeQ(s"!nonfuzz:$other")
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteTree) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}

/** The crash-target: opens a disk GraftDb, executes statements from a
  * TSV file one execute()/query() per line, and prints an APPLIED marker
  * after each — the parent kills this process at a random marker. */
object CrashReplayChild {
  def main(args: Array[String]): Unit = {
    val dbPath = args(0)
    val stmtFile = args(1)
    val cap = args(2).toLong
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val db = GraftDb.open(spark, dbPath, cap)
      .fold(e => sys.error(s"child open failed: $e"), identity)
    val lines = Files.readAllLines(Paths.get(stmtFile)).asScala
    // a DRIVER-CAP refusal (documented deviation: the engine refuses and
    // applies NOTHING where in-process SQLite just runs the row loop) is
    // journaled before apply like any statement — report its journal
    // LINE so check_crash.py can skip it in the sqlite replay (the
    // refusal is deterministic, so recovery re-refuses identically)
    val jf = Durability.journalPath(Paths.get(dbPath))
    def jLines(): Int =
      if (!Files.exists(jf)) 0
      else {
        val bytes = Files.readAllBytes(jf)
        bytes.count(_ == '\n') +
          (if (bytes.nonEmpty && bytes.last != '\n') 1 else 0)
      }
    def isCap(e: String): Boolean =
      e.contains("too many rows for") ||
        e.contains("conflict resolution materializes the matched rows")
    lines.zipWithIndex.foreach { case (l, i) =>
      val sep = l.indexOf('\t')
      val kind = l.substring(0, sep)
      val sql = l.substring(sep + 1)
      // journal length BEFORE the statement: a cap refusal on an op that
      // appended no line (e.g. a query-path RETURNING cap) must NOT mark
      // the PREVIOUS statement's genuinely-applied line (ADVICE r13)
      val before = jLines()
      val errMsg =
        if (kind == "q")
          db.queryStringStmt(sql).left.toOption.getOrElse("")
        else db.executeStringStmt(sql)
          .fold(identity, _.headOption.map(_.error).getOrElse(""))
      val after = jLines()
      if (isCap(errMsg) && after > before) {
        println(s"GRAFT-CAPLINE $after"); Console.out.flush()
      }
      // stdout marker AFTER the statement's journal append + apply; the
      // journal length rides along so the checker knows which journal
      // lines belong to ACKNOWLEDGED statements (ADVICE r13: drop_tail
      // recovery is only legitimate for an UNacknowledged tail)
      println(s"GRAFT-APPLIED $i $after")
      Console.out.flush()
    }
    db.close()
    println("GRAFT-DONE")
    Console.out.flush()
    sys.exit(0)
  }
}
