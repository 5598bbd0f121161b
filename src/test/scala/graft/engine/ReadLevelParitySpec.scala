package graft.engine

import graft.SparkSpec
import graft.command._
import java.nio.file.Files

/** The three read paths — `weak` (and `strong`) behind the lock, lock-free
  * `none` over the committed version, and `?version=N` over a snapshot —
  * run one pipeline, so each statement gets one envelope whichever path
  * answers it. Expected envelopes were captured from python3's sqlite3
  * (SQLite 3.40.1), as the other golden specs pin theirs.
  */
class ReadLevelParitySpec extends SparkSpec {

  private def open(maxDriverRows: Long = GraftDb.DefaultMaxDriverRows): GraftDb =
    GraftDb.open(spark, Files.createTempDirectory("graft-levels").toString,
      maxDriverRows).fold(e => fail(e), identity)

  private def exec(db: GraftDb, sqls: String*): Unit = sqls.foreach { sql =>
    val r = db.executeStringStmt(sql).fold(e => fail(e), identity).head
    assert(r.error.isEmpty, s"[$sql]: ${r.error}")
  }

  private def req(sql: String) =
    Request(transaction = false, Seq(Statement(sql)))

  private def render(r: Either[String, Seq[RowsResult]]): String =
    r.fold("error: " + _, Json.rowsSeq)

  /** The envelope `sql` gets at weak, strong, none and the latest version;
    * fails unless all four agree. */
  private def read(db: GraftDb, sql: String): String = {
    val weak = render(db.query(req(sql), ReadLevel.Weak))
    val strong = render(db.query(req(sql), ReadLevel.Strong))
    val none = render(db.query(req(sql), ReadLevel.None))
    val latest = render(db.queryAsOf(req(sql), db.versions().last))
    assert(strong === weak, s"strong vs weak: $sql")
    assert(none === weak, s"none vs weak: $sql")
    assert(latest === weak, s"version=${db.versions().last} vs weak: $sql")
    weak
  }

  private def evidenceDb(): GraftDb = {
    val db = open()
    exec(db, "CREATE TABLE t(id INTEGER PRIMARY KEY, name TEXT, v INTEGER)",
      "INSERT INTO t VALUES (7,'Bob',7), (3,'alice',2), (9,'Carl',9)",
      "CREATE VIEW vt AS SELECT name, v / 2 AS half FROM t")
    db.checkpoint().fold(e => fail(e), identity)
    db
  }

  test("a strong read on a file-backed db sees a write before the next checkpoint") {
    val db = open()
    try {
      exec(db, "CREATE TABLE t(k INTEGER, v TEXT)", "INSERT INTO t VALUES (1,'a')")
      val want = """[{"columns":["k","v"],"types":["integer","text"],"values":[[1,"a"]]}]"""
      assert(render(db.query(req("SELECT k, v FROM t"), ReadLevel.Strong)) === want)
      assert(render(db.query(req("SELECT k, v FROM t"), ReadLevel.Weak)) === want)
    } finally db.close()
  }

  test("SQLite semantics at every level: integer division, rowid, LIKE, views") {
    val db = evidenceDb()
    try {
      assert(read(db, "SELECT 7 / 2, typeof(7 / 2)") ===
        """[{"columns":["7 / 2","typeof(7 / 2)"],"types":["integer","text"],"values":[[3,"integer"]]}]""")
      assert(read(db, "SELECT rowid, id FROM t ORDER BY id") ===
        """[{"columns":["id","id"],"types":["integer","integer"],"values":[[3,3],[7,7],[9,9]]}]""")
      assert(read(db, "SELECT name FROM t WHERE name LIKE 'b%'") ===
        """[{"columns":["name"],"types":["text"],"values":[["Bob"]]}]""")
      assert(read(db, "SELECT * FROM vt ORDER BY half") ===
        """[{"columns":["name","half"],"types":["text","integer"],"values":[["alice",1],["Bob",3],["Carl",4]]}]""")
    } finally db.close()
  }

  test("sqlite_master and PRAGMA table_info answer at every level") {
    val db = evidenceDb()
    try {
      assert(read(db, "SELECT name FROM sqlite_master ORDER BY name") ===
        """[{"columns":["name"],"types":["text"],"values":[["t"],["vt"]]}]""")
      assert(read(db, "PRAGMA table_info(t)") ===
        """[{"columns":["cid","name","type","notnull","dflt_value","pk"],""" +
          """"types":["integer","text","text","integer","text","integer"],""" +
          """"values":[[0,"id","INTEGER",0,null,1],[1,"name","TEXT",0,null,0],""" +
          """[2,"v","INTEGER",0,null,0]]}]""")
    } finally db.close()
  }

  test("a WITHOUT ROWID table scans in key order at every level") {
    val db = open()
    try {
      exec(db, "CREATE TABLE w(k TEXT PRIMARY KEY, n INTEGER) WITHOUT ROWID",
        "INSERT INTO w VALUES ('m',1), ('b',2), ('x',3), ('a',4)")
      db.checkpoint().fold(e => fail(e), identity)
      assert(read(db, "SELECT k, n FROM w") ===
        """[{"columns":["k","n"],"types":["text","integer"],"values":[["a",4],["b",2],["m",1],["x",3]]}]""")
    } finally db.close()
  }

  test("a COLLATE NOCASE column compares, sorts and groups under NOCASE at every level") {
    val db = open()
    try {
      exec(db, "CREATE TABLE c(id INTEGER PRIMARY KEY, s TEXT COLLATE NOCASE)",
        "INSERT INTO c VALUES (1,'b'), (2,'B'), (3,'a'), (4,'C')")
      db.checkpoint().fold(e => fail(e), identity)
      assert(read(db, "SELECT s FROM c WHERE s = 'b' ORDER BY id") ===
        """[{"columns":["s"],"types":["text"],"values":[["b"],["B"]]}]""")
      assert(read(db, "SELECT s FROM c ORDER BY s, id") ===
        """[{"columns":["s"],"types":["text"],"values":[["a"],["b"],["B"],["C"]]}]""")
      assert(read(db, "SELECT count(*) FROM c GROUP BY s ORDER BY 1") ===
        """[{"columns":["count(*)"],"types":["integer"],"values":[[1],[1],[2]]}]""")
    } finally db.close()
  }

  test("a spilled table reads in insertion order at every level") {
    val db = open(maxDriverRows = 4)
    try {
      exec(db, "CREATE TABLE big(id INTEGER PRIMARY KEY, v TEXT)",
        "INSERT INTO big VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d'), (5,'e'), (6,'f')",
        "UPDATE big SET v = v || v WHERE id % 2 = 0",
        "DELETE FROM big WHERE id = 3")
      assert(db.isSpilled("big"))
      db.checkpoint().fold(e => fail(e), identity)
      assert(read(db, "SELECT id, v FROM big") ===
        """[{"columns":["id","v"],"types":["integer","text"],"values":[[1,"a"],[2,"bb"],[4,"dd"],[5,"e"],[6,"ff"]]}]""")
      assert(read(db, "SELECT count(*), max(rowid) FROM big") ===
        """[{"columns":["count(*)","max(rowid)"],"types":["integer","integer"],"values":[[5,6]]}]""")
    } finally db.close()
  }

  test("a version keeps its own catalog after ALTER TABLE and DROP TABLE") {
    val db = evidenceDb()
    try {
      exec(db, "CREATE TABLE gone(x INTEGER)", "INSERT INTO gone VALUES (1)")
      db.checkpoint().fold(e => fail(e), identity)
      val n = db.versions().last
      exec(db, "ALTER TABLE t ADD COLUMN extra TEXT", "DROP TABLE gone")
      db.checkpoint().fold(e => fail(e), identity)
      def at(v: Long, sql: String) = render(db.queryAsOf(req(sql), v))
      assert(at(n, "SELECT * FROM t WHERE id = 3") ===
        """[{"columns":["id","name","v"],"types":["integer","text","integer"],"values":[[3,"alice",2]]}]""")
      assert(at(n, "SELECT x FROM gone") ===
        """[{"columns":["x"],"types":["integer"],"values":[[1]]}]""")
      assert(at(n, "SELECT name FROM sqlite_master ORDER BY name") ===
        """[{"columns":["name"],"types":["text"],"values":[["gone"],["t"],["vt"]]}]""")
      assert(at(n, "PRAGMA table_info(t)").split("\\],\\[").length === 3)
      // the next version has the new column and no `gone`
      assert(at(n + 1, "SELECT * FROM t WHERE id = 3") ===
        """[{"columns":["id","name","v","extra"],"types":["integer","text","integer","text"],"values":[[3,"alice",2,null]]}]""")
      assert(at(n + 1, "SELECT x FROM gone") === "error: no such table: gone")
    } finally db.close()
  }
}
