package graft

import org.apache.spark.sql.SparkSession
import graft.engine.{GraftDb, ReadLevel}
import graft.command.{Json, Request, RowsResult, Statement, Value}
import java.io.PrintWriter
import java.nio.file.Files

/** Differential OLTP fuzz driver, engine side (VERDICT r11 #3): generate
  * seeded random DDL+DML+tx batches (graft.tools.OltpFuzz), run each
  * against GraftDb, and emit one JSON line per seed with the full
  * envelope trace. tools/check_oltp.py replays the same statements in a
  * real sqlite3 connection and compares per statement: error string,
  * rows_affected, last_insert_id, and probe SELECT columns+values.
  *
  * Every seed runs in one of three storage modes — the SAME statement
  * stream must produce the SAME envelope in all of them, and all of them
  * must match SQLite:
  *   - mem500: driver-resident Mem store (cap 500, nothing spills);
  *   - mem8:   cap 8 — tables spill to the Spark-resident Big store,
  *             exercising distributed constraint checks + trigger diffs;
  *   - disk8:  cap 8 + disk root + graft.bigPartRows=4 — bucketed
  *             partition-scoped mutations, plus a mid-stream
  *             checkpoint + close + REOPEN at a generator-chosen clean
  *             point ("ckpt" op), exercising journal replay, manifest
  *             recovery, and generation GC under live traffic.
  *
  * Every probe that runs outside an explicit transaction runs again at
  * `level=none`, and in disk8 right after a checkpoint also at the latest
  * snapshot version: all read paths must give the weak read's envelope.
  * A difference is recorded on the probe as `levelDiff`, which the checker
  * reports as a divergence.
  *
  * Usage: runMain graft.OltpFuzzRun <outFile> <seedStart> <count>
  */
object OltpFuzzRun {
  def main(args: Array[String]): Unit = {
    val outFile = args(0)
    val seedStart = args(1).toLong
    val count = args(2).toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val w = new PrintWriter(outFile)
    var harnessErrs = 0
    try {
      (0 until count).foreach { i =>
        val seed = seedStart + i
        try w.println(runSeed(spark, seed))
        catch {
          case e: Throwable =>
            harnessErrs += 1
            w.println(s"""{"seed":$seed,"harnessErr":${Json.escapeQ(
                s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")}}""")
        }
        if ((i + 1) % 100 == 0) {
          w.flush()
          System.err.println(s"[oltp-fuzz] ${i + 1}/$count " +
            s"(harness errors: $harnessErrs)")
        }
      }
    } finally w.close()
    println(s"""{"oltpFuzz":"done","count":$count,"harnessErrors":$harnessErrs}""")
    spark.stop()
    if (harnessErrs > 0) sys.exit(2)
  }

  def runSeed(spark: SparkSession, seed: Long): String = {
    val mode = (seed % 3) match {
      case 0 => "mem500"
      case 1 => "mem8"
      case _ => "disk8"
    }
    val ops = tools.OltpFuzz.gen(seed)
    val sb = new StringBuilder
    sb.append(s"""{"seed":$seed,"mode":"$mode","ops":[""")
    var first = true
    def emit(s: String): Unit = {
      if (!first) sb.append(',')
      first = false
      sb.append(s)
    }

    def open(root: Option[String], cap: Long): GraftDb = root match {
      case None => GraftDb.openInMemory(spark, cap)
      case Some(p) => GraftDb.open(spark, p, cap)
        .fold(e => sys.error(s"open failed: $e"), identity)
    }

    val (root, cap) = mode match {
      case "mem500" => (None, 500L)
      case "mem8" => (None, 8L)
      case _ =>
        val dir = Files.createTempDirectory("graft-oltpfuzz-")
        (Some(dir.resolve("db").toString), 8L)
    }
    if (mode == "disk8") sys.props("graft.bigPartRows") = "4"
    var db = open(root, cap)
    // no write since the last checkpoint: the latest version is current
    var atCheckpoint = false
    try {
      ops.foreach { op =>
        op.kind match {
          case "ckpt" =>
            // generator guarantees no open tx/savepoint here; a mem db
            // checkpoint is a no-op, a disk db additionally survives a
            // full close + reopen (journal/manifest recovery)
            db.checkpoint()
            if (root.isDefined) {
              db.close()
              db = open(root, cap)
            }
            atCheckpoint = root.isDefined
            emit("""{"k":"c"}""")
          case "x" =>
            atCheckpoint = false
            db.executeStringStmt(op.sql) match {
              case Left(batchErr) =>
                emit(s"""{"k":"x","sql":${Json.escapeQ(op.sql)},""" +
                  s""""err":${Json.escapeQ("BATCH: " + batchErr)}}""")
              case Right(rs) =>
                val r = rs.head
                emit(s"""{"k":"x","sql":${Json.escapeQ(op.sql)},""" +
                  s""""lid":${r.lastInsertId},"ra":${r.rowsAffected},""" +
                  s""""err":${Json.escapeQ(r.error)}}""")
            }
          case "q" =>
            // a single-statement batch's refusal IS that statement's error
            // (sqlite reports it per statement)
            val weak = probe(db.queryStringStmt(op.sql))
            val req = Request(transaction = false, Seq(Statement(op.sql)))
            val others =
              if (db.inTransaction) Nil
              else ("none" -> db.query(req, ReadLevel.None)) +:
                (if (atCheckpoint) Seq("version" -> db.queryAsOf(req,
                  db.versions().last)) else Nil)
            // a write is refused at the other levels and ends the
            // checkpoint's currency
            val reads = others.filterNot(_._2.left.exists(
              _.endsWith("read statements only")))
            if (reads.size < others.size) atCheckpoint = false
            val diffs = reads.map { case (l, r) => (l, probe(r)) }
              .collect { case (l, b) if b != weak => s"$l: {$b}" }
            val levelDiff =
              if (diffs.isEmpty) ""
              else s""","levelDiff":${Json.escapeQ(diffs.mkString("; "))}"""
            emit(s"""{"k":"q","sql":${Json.escapeQ(op.sql)},$weak$levelDiff}""")
        }
      }
    } finally {
      try db.close() catch { case _: Exception => }
      root.foreach { p =>
        try deleteTree(java.nio.file.Paths.get(p).getParent)
        catch { case _: Exception => }
      }
      if (mode == "disk8") sys.props -= "graft.bigPartRows"
    }
    sb.append("]}")
    sb.toString
  }

  /** A probe's envelope fields: its error, or its columns and values. */
  private def probe(r: Either[String, Seq[RowsResult]]): String = r match {
    case Left(err) => s""""err":${Json.escapeQ(err)}"""
    case Right(rs) =>
      val cols = rs.head.columns.map(Json.escapeQ).mkString("[", ",", "]")
      val vals = rs.head.values.map(_.map(cell).mkString("[", ",", "]"))
        .mkString("[", ",", "]")
      s""""cols":$cols,"vals":$vals"""
  }

  /** Canonical probe cell: integers bare, text as JSON string, reals as
    * JSON numbers (the checker compares them as parsed floats — the
    * julianday probes only emit day-exact x.5 values), null. A Blob here
    * means the grammar leaked — encode loudly so the checker flags it. */
  private def cell(v: Value): String = v match {
    case Value.Null => "null"
    case Value.Integer(i) => i.toString
    case Value.Real(d) => d.toString
    case Value.Text(t) => Json.escapeQ(t)
    case other => Json.escapeQ(s"!nonfuzz:$other")
  }

  private def deleteTree(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteTree) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
