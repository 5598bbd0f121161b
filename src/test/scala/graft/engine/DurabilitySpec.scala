package graft.engine

import graft.SparkSpec
import graft.command._
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The on-disk states a crash between two checkpoint steps can leave
  * ([[Durability.checkpoint]]: table files of `v{N+1}`, its manifest, the
  * root manifest swap, journal truncation, version GC), each built from
  * copies of one db dir taken before and after a single checkpoint. Every
  * state must reopen to the committed rows exactly once, never list an
  * unpublished version, and take a later write, checkpoint and reopen.
  * Also: the journal line and manifest codecs, and a hand-written journal
  * and manifest in the current byte format. */
class DurabilitySpec extends SparkSpec {

  private def tmp(): Path = Files.createTempDirectory("graft-durable")

  private def open(dir: Path): GraftDb =
    GraftDb.open(spark, dir.toString).fold(e => fail(e), identity)

  private def exec(db: GraftDb, sqls: String*): Unit = sqls.foreach { sql =>
    val r = db.executeStringStmt(sql).fold(e => fail(e), identity).head
    assert(r.error.isEmpty, s"[$sql]: ${r.error}")
  }

  private def rows(db: GraftDb, sql: String): Seq[Seq[Value]] =
    db.queryStringStmt(sql).fold(e => fail(e), identity).head.values

  private def texts(db: GraftDb, table: String): Seq[String] =
    rows(db, s"SELECT x FROM $table ORDER BY rowid").map(_.head).collect {
      case Value.Text(t) => t
    }

  private def copyTree(from: Path, to: Path): Path = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
    to
  }

  /** (before, after): a db at v1 whose journal holds two committed
    * INSERTs, and the same db after one more checkpoint (v2, v1 retained,
    * journal truncated). The table has no key, so a batch applied twice
    * shows as a duplicate row. */
  private lazy val (before, after) = {
    val dir = tmp()
    val db = open(dir)
    try {
      exec(db, "CREATE TABLE t (x TEXT)", "INSERT INTO t VALUES ('a'), ('b')")
      db.checkpoint().fold(e => fail(e), identity)
      exec(db, "INSERT INTO t VALUES ('c')", "INSERT INTO t VALUES ('d')")
    } finally db.close()
    val before = copyTree(dir, tmp())
    val again = open(dir)
    try again.checkpoint().fold(e => fail(e), identity)
    finally again.close()
    assert(!Files.exists(Durability.journalPath(dir)))
    (before, copyTree(dir, tmp()))
  }

  private val committed = Seq("a", "b", "c", "d")

  /** Reopen `dir`, which must read `committed` and list `versions`; then
    * write, checkpoint and reopen once more. */
  private def recovers(dir: Path, versions: Seq[Long]): Unit = {
    val db = open(dir)
    try {
      assert(texts(db, "t") === committed)
      assert(db.versions() === versions)
      exec(db, "INSERT INTO t VALUES ('e')")
      db.checkpoint().fold(e => fail(e), identity)
      assert(db.versions().last === versions.last + 1)
    } finally db.close()
    val reopened = open(dir)
    try assert(texts(reopened, "t") === committed :+ "e")
    finally reopened.close()
  }

  /** `before` plus the finished but unpublished `v2` of `after`. */
  private def unpublished(): Path = {
    val dir = copyTree(before, tmp())
    copyTree(after.resolve("v2"), dir.resolve("v2"))
    assert(Files.exists(dir.resolve("v2").resolve("manifest.json")))
    dir
  }

  test("a complete v{N+1} the root manifest does not name yet is ignored") {
    recovers(unpublished(), Seq(1L))
  }

  test("a complete v{N+1} and a stray manifest.json.tmp are ignored") {
    val dir = unpublished()
    Files.copy(after.resolve("manifest.json"), dir.resolve("manifest.json.tmp"))
    recovers(dir, Seq(1L))
  }

  test("a published v{N+1} with the old journal still present applies nothing twice") {
    val dir = unpublished()
    Files.copy(after.resolve("manifest.json"), dir.resolve("manifest.json"),
      StandardCopyOption.REPLACE_EXISTING)
    assert(Files.exists(Durability.journalPath(dir)))
    recovers(dir, Seq(1L, 2L))
  }

  test("both retained versions reopen and read as written") {
    val dir = copyTree(after, tmp())
    val db = open(dir)
    try {
      assert(db.tableAsOf("t", 1).fold(e => fail(e), identity)
        .collect().map(_.getString(0)).toSeq === Seq("a", "b"))
    } finally db.close()
    recovers(dir, Seq(1L, 2L))
  }

  test("a journal entry round-trips with its stream stamp and RETURNING mark") {
    val stamped = JournalEntry(7, transaction = true,
      Seq("INSERT INTO t VALUES ('q\"uo\\te\nline')", "DELETE FROM t"),
      streamBatch = Some(3), returning = true)
    val line = stamped.encode
    assert(line === """{"id":7,"streamBatch":3,"returning":true,""" +
      """"transaction":true,"statements":["INSERT INTO t VALUES ('q\"uo\\te\nline')",""" +
      """"DELETE FROM t"]}""")
    assert(JournalEntry.decode(line) === Some(stamped))
    val plain = JournalEntry(8, transaction = false, Seq("SELECT 1"))
    assert(plain.encode ===
      """{"id":8,"transaction":false,"statements":["SELECT 1"]}""")
    assert(JournalEntry.decode(plain.encode) === Some(plain))
    assert(JournalEntry.decode("""{"id":9,"transac""") === None)
  }

  private val manifestText =
    """{"appliedBatch":2,"version":1,"lastStreamBatch":4,"lastRowId":1,""" +
      """"fk":true,"tables":[{"createSql":"CREATE TABLE t (id INTEGER """ +
      """PRIMARY KEY, x TEXT)","nextRowId":2},{"createSql":"CREATE TABLE """ +
      """log (x TEXT)","nextRowId":1}],"indexes":["CREATE INDEX tx ON t """ +
      """(x)"],"views":["CREATE VIEW v AS SELECT x FROM t WHERE id > 1"],""" +
      """"triggers":["CREATE TRIGGER tr AFTER INSERT ON t BEGIN INSERT """ +
      """INTO log VALUES (NEW.x); END"],"userVersion":7,"schemaVersion":5}"""

  test("a manifest round-trips byte for byte") {
    val m = Manifest.decode(manifestText)
    assert(m.encode === manifestText)
    assert((m.appliedBatch, m.version, m.lastStreamBatch, m.lastRowId, m.fk) ===
      ((2L, 1L, 4L, 1L, true)))
    assert(m.catalog.tables.map(ts => (ts.d.name, ts.nextRowId)).toSeq ===
      Seq("t" -> 2L, "log" -> 1L))
    assert(m.catalog.indexes.map(_.name).toSeq === Seq("tx"))
    assert(m.catalog.views.map(_._1).toSeq === Seq("v"))
    assert(m.catalog.triggers.map(t => (t.name, t.event, t.table, t.body)).toSeq ===
      Seq(("tr", "INSERT", "t", Seq("INSERT INTO log VALUES (NEW.x)"))))
    assert((m.catalog.userVersion, m.catalog.schemaVersion) === ((7L, 5L)))
  }

  /** A db dir holding [[manifestText]], v1's one table file and a
    * journal of `lines`. */
  private def handWritten(lines: String*): Path = {
    val dir = tmp()
    Files.writeString(dir.resolve("manifest.json"), manifestText)
    // v1's one table file, written by Spark's own parquet writer
    val schema = StructType(Seq(StructField("__rowid", LongType, nullable = false),
      StructField("id", LongType), StructField("x", StringType)))
    spark.createDataFrame(Seq(Row(1L, 1L, "a")).asJava, schema).coalesce(1)
      .write.parquet(dir.resolve("v1").resolve("t.parquet").toString)
    Files.writeString(Durability.journalPath(dir), lines.mkString("\n"))
    dir
  }

  private val journalLines = Seq(
    """{"id":2,"transaction":false,"statements":["INSERT INTO t VALUES (9, 'covered')"]}""",
    """{"id":3,"transaction":false,"statements":["INSERT INTO t VALUES (2, 'b')"]}""",
    """{"id":4,"streamBatch":5,"transaction":true,"statements":""" +
      """["INSERT INTO t VALUES (3, 'c')","INSERT INTO t VALUES (4, 'd')"]}""",
    """{"id":5,"returning":true,"transaction":false,"statements":""" +
      """["DELETE FROM t WHERE id = 4 RETURNING id"]}""")
  private val tornLine =
    """{"id":6,"transaction":false,"statements":["INSERT INTO t VALUES (5, 'torn"""

  test("a hand-written journal and manifest in the current format load") {
    val db = open(handWritten(journalLines :+ tornLine: _*))
    try {
      assert(rows(db, "SELECT id, x FROM t") === Seq(
        Seq(Value.Integer(1), Value.Text("a")), Seq(Value.Integer(2), Value.Text("b")),
        Seq(Value.Integer(3), Value.Text("c"))))
      assert(texts(db, "log") === Seq("b", "c", "d"))
      assert(rows(db, "SELECT x FROM v ORDER BY x") ===
        Seq(Seq(Value.Text("b")), Seq(Value.Text("c"))))
      assert(db.streamBatchWatermark === 5L)
      assert(db.versions() === Seq(1L))
      assert(db.snapshotStatus.version === 1L)
      assert(db.fkConstraints())
      assert(rows(db, "PRAGMA user_version") === Seq(Seq(Value.Integer(7))))
      assert(rows(db, "SELECT name FROM sqlite_master WHERE type = 'index'") ===
        Seq(Seq(Value.Text("tx"))))
    } finally db.close()
  }

  /** Open `dir`, write one row, close; the reopened db must hold it after
    * ids 1-3, and every journal line must decode. */
  private def keepsNextWrite(dir: Path): Unit = {
    val db = open(dir)
    try exec(db, "INSERT INTO t VALUES (6, 'f')")
    finally db.close()
    assert(Files.readAllLines(Durability.journalPath(dir)).asScala
      .forall(JournalEntry.decode(_).isDefined))
    val reopened = open(dir)
    try assert(texts(reopened, "t") === Seq("a", "b", "c", "f"))
    finally reopened.close()
  }

  test("a torn journal tail is cut off, so the next write survives a reopen") {
    keepsNextWrite(handWritten(journalLines :+ tornLine: _*))
  }

  test("a last journal line without its newline ends before the next write") {
    keepsNextWrite(handWritten(journalLines: _*))
  }
}
