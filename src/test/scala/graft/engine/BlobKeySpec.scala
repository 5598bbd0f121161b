package graft.engine

import graft.SparkSpec
import graft.command.Value

/** BLOB keys compare by their bytes, as SQLite's index comparator does:
  * UNIQUE and PRIMARY KEY, CREATE UNIQUE INDEX, the conflict policies,
  * upsert on a WITHOUT ROWID key and FOREIGN KEY membership. Expected
  * outcomes were captured from python3's sqlite3 (SQLite 3.40.1). Runs on
  * `Mem` stores (cap 500) and with every table spilled (cap 1). */
class BlobKeySpec extends SparkSpec {

  private def caps = Seq(500L, 1L)

  private def res(db: GraftDb, sql: String) =
    db.executeStringStmt(sql).fold(e => fail(e), identity).head

  private def ok(db: GraftDb, sql: String): Long = {
    val r = res(db, sql)
    assert(r.error.isEmpty, s"unexpected error for [$sql]: ${r.error}")
    r.rowsAffected
  }

  private def err(db: GraftDb, sql: String): String = {
    val r = res(db, sql)
    assert(r.error.nonEmpty, s"expected an error for [$sql]")
    r.error
  }

  private def q(db: GraftDb, sql: String): Seq[Seq[Any]] =
    db.queryStringStmt(sql).fold(e => fail(s"[$sql] $e"), identity).head
      .values.map(_.map {
        case Value.Integer(v) => v; case Value.Text(v) => v; case v => v
      })

  test("a UNIQUE BLOB column refuses, skips and replaces an equal key") {
    caps.foreach { cap =>
      val db = GraftDb.openInMemory(spark, cap)
      ok(db, "CREATE TABLE b(id INTEGER PRIMARY KEY, k BLOB UNIQUE)")
      ok(db, "INSERT INTO b(k) VALUES (X'0102')")
      assert(err(db, "INSERT INTO b(k) VALUES (X'0102')") ===
        "UNIQUE constraint failed: b.k", s"cap=$cap")
      assert(ok(db, "INSERT OR IGNORE INTO b(k) VALUES (X'0102')") === 0,
        s"cap=$cap")
      assert(ok(db, "INSERT OR REPLACE INTO b(k) VALUES (X'0102')") === 1,
        s"cap=$cap")
      assert(q(db, "SELECT id, hex(k) FROM b ORDER BY id") ===
        Seq(Seq(2L, "0102")), s"cap=$cap")
    }
  }

  test("CREATE UNIQUE INDEX over two equal BLOBs fails") {
    caps.foreach { cap =>
      val db = GraftDb.openInMemory(spark, cap)
      ok(db, "CREATE TABLE c(id INTEGER PRIMARY KEY, k BLOB)")
      ok(db, "INSERT INTO c(k) VALUES (X'0102'), (X'0102')")
      assert(err(db, "CREATE UNIQUE INDEX cu ON c(k)") ===
        "UNIQUE constraint failed: c.k", s"cap=$cap")
      assert(q(db, "SELECT count(*) FROM sqlite_master WHERE name = 'cu'") ===
        Seq(Seq(0L)), s"cap=$cap")
    }
  }

  test("a child BLOB finds its parent key by content") {
    caps.foreach { cap =>
      val db = GraftDb.openInMemory(spark, cap)
      db.enableFkConstraints(true)
      ok(db, "CREATE TABLE p(k BLOB PRIMARY KEY)")
      ok(db, "CREATE TABLE ch(id INTEGER PRIMARY KEY, pk BLOB REFERENCES p(k))")
      ok(db, "INSERT INTO p VALUES (X'01')")
      assert(ok(db, "INSERT INTO ch(pk) VALUES (X'01')") === 1, s"cap=$cap")
      assert(err(db, "INSERT INTO ch(pk) VALUES (X'02')") ===
        "FOREIGN KEY constraint failed", s"cap=$cap")
      assert(err(db, "DELETE FROM p") === "FOREIGN KEY constraint failed",
        s"cap=$cap")
      assert(q(db, "SELECT id, hex(pk) FROM ch") === Seq(Seq(1L, "01")),
        s"cap=$cap")
    }
  }

  test("a WITHOUT ROWID BLOB key refuses a duplicate and takes DO UPDATE") {
    caps.foreach { cap =>
      val db = GraftDb.openInMemory(spark, cap)
      ok(db, "CREATE TABLE w(k BLOB PRIMARY KEY, v INTEGER) WITHOUT ROWID")
      ok(db, "INSERT INTO w VALUES (X'01', 1)")
      assert(err(db, "INSERT INTO w VALUES (X'01', 2)") ===
        "UNIQUE constraint failed: w.k", s"cap=$cap")
      assert(ok(db, "INSERT INTO w VALUES (X'01', 3) " +
        "ON CONFLICT(k) DO UPDATE SET v = 9") === 1, s"cap=$cap")
      assert(q(db, "SELECT hex(k), v FROM w") === Seq(Seq("01", 9L)),
        s"cap=$cap")
    }
  }

  test("UPDATE onto an equal BLOB key fails, skips and replaces") {
    caps.foreach { cap =>
      val db = GraftDb.openInMemory(spark, cap)
      ok(db, "CREATE TABLE u(id INTEGER PRIMARY KEY, k BLOB UNIQUE)")
      ok(db, "INSERT INTO u VALUES (1, X'01'), (2, X'02')")
      assert(err(db, "UPDATE u SET k = X'01' WHERE id = 2") ===
        "UNIQUE constraint failed: u.k", s"cap=$cap")
      assert(ok(db, "UPDATE OR IGNORE u SET k = X'01' WHERE id = 2") === 0,
        s"cap=$cap")
      assert(ok(db, "UPDATE OR REPLACE u SET k = X'01' WHERE id = 2") === 1,
        s"cap=$cap")
      assert(q(db, "SELECT id, hex(k) FROM u") === Seq(Seq(2L, "01")),
        s"cap=$cap")
    }
  }
}
