package graft.engine

import graft.SparkSpec
import graft.command.{Request, Statement, Value}

/** RETURNING clause goldens (SQLite 3.35+ surface), every outcome probed
  * live on SQLite 3.40 via the reference's two access paths:
  *  - query path (reference `_query`, db/src/db.rs:231-290): prepare +
  *    step runs the DML and yields its rows;
  *  - execute path (reference `_execute`, db/src/db.rs:176-190): rusqlite
  *    0.25's conn.execute steps once — the whole DML applies (SQLite
  *    materializes RETURNING output on the first step) — then surfaces
  *    `Execute returned results - did you mean to call query?`; a
  *    request-level transaction then rolls the batch back.
  * Each scenario runs at cap 500 (driver Mem store) AND cap 1 (spilled
  * Big store) so both mutation paths carry the same semantics. */
class ReturningSpec extends SparkSpec {

  private def fresh(cap: Long): GraftDb = {
    val db = GraftDb.openInMemory(spark, cap)
    exec(db, "CREATE TABLE t (id INTEGER PRIMARY KEY, a INTEGER, b TEXT DEFAULT 'd')")
    exec(db, "INSERT INTO t VALUES (1, 1, 'x'), (2, 2, 'y')")
    db
  }

  private def exec(db: GraftDb, sql: String): Unit = {
    val r = db.executeStringStmt(sql).fold(e => fail(e), identity).head
    assert(r.error.isEmpty, s"unexpected error for [$sql]: ${r.error}")
  }

  private def q(db: GraftDb, sql: String): (Seq[String], Seq[Seq[Any]]) = {
    val r = db.queryStringStmt(sql).fold(e => fail(s"[$sql] $e"), identity).head
    (r.columns, r.values.map(_.map {
      case Value.Integer(v) => v
      case Value.Text(v) => v
      case Value.Real(v) => v
      case Value.Null => null
      case v => v
    }))
  }

  private def qErr(db: GraftDb, sql: String): String =
    db.queryStringStmt(sql).fold(identity,
      r => fail(s"expected error for [$sql], got $r"))

  private def caps = Seq(500L, 1L)

  test("INSERT .. RETURNING: candidate order, expressions, aliases, names") {
    caps.foreach { cap =>
      val db = fresh(cap)
      val (cols, rows) = q(db,
        "INSERT INTO t(a, b) VALUES (10, 'p'), (11, 'q') RETURNING id, a*2, b || '!'")
      assert(cols == Seq("id", "a*2", "b || '!'"), s"cap=$cap got $cols")
      assert(rows == Seq(Seq(3L, 20L, "p!"), Seq(4L, 22L, "q!")), s"cap=$cap")
      // alias naming + table-qualified ref reported under the bare name
      val (cols2, rows2) = q(db,
        "INSERT INTO t(a, b) VALUES (12, 'v') RETURNING id AS new_id, t.b")
      assert(cols2 == Seq("new_id", "b") && rows2 == Seq(Seq(5L, "v")),
        s"cap=$cap got $cols2 / $rows2")
      // RETURNING * expands to the declared columns; defaults visible
      val (cols3, rows3) = q(db, "INSERT INTO t(a) VALUES (77) RETURNING *")
      assert(cols3 == Seq("id", "a", "b") && rows3 == Seq(Seq(6L, 77L, "d")),
        s"cap=$cap got $cols3 / $rows3")
      // explicit out-of-order rowids report in INSERTION order
      val (_, rows4) = q(db,
        "INSERT INTO t(id, a) VALUES (50, 51), (40, 41) RETURNING id")
      assert(rows4 == Seq(Seq(50L), Seq(40L)), s"cap=$cap got $rows4")
      // rowid pseudo-column resolves to the alias values
      val (_, rows5) = q(db, "INSERT INTO t(a) VALUES (200) RETURNING rowid, id")
      assert(rows5 == Seq(Seq(51L, 51L)), s"cap=$cap got $rows5")
    }
  }

  test("UPDATE/DELETE .. RETURNING: scan order, NEW/OLD images, no-op rows") {
    val db = fresh(500)
    // every MATCHED row reports (no-op value writes included), NEW images
    val (_, upd) = q(db, "UPDATE t SET b = b WHERE id <= 2 RETURNING id, a, b")
    assert(upd == Seq(Seq(1L, 1L, "x"), Seq(2L, 2L, "y")))
    val (_, upd2) = q(db, "UPDATE t SET a = a + 100 WHERE a >= 2 RETURNING id, a")
    assert(upd2 == Seq(Seq(2L, 102L)), s"got $upd2")
    // DELETE reports OLD images, expressions evaluate over them
    val (cols3, del) = q(db, "DELETE FROM t WHERE a > 100 RETURNING a*10 AS ax")
    assert(cols3 == Seq("ax") && del == Seq(Seq(1020L)))
    // zero matched rows: the empty envelope (reference first-row sniffing)
    val (cols4, none) = q(db, "UPDATE t SET a = 5 WHERE id = 99 RETURNING id")
    assert(cols4.isEmpty && none.isEmpty)
  }

  test("spilled store: single-row UPDATE/DELETE captures; driver cap is loud") {
    val db = fresh(1) // spills at 2 rows: Big-path captures
    val (_, upd) = q(db, "UPDATE t SET a = a + 100 WHERE id = 2 RETURNING id, a, b")
    assert(upd == Seq(Seq(2L, 102L, "y")), s"got $upd")
    val (_, del) = q(db, "DELETE FROM t WHERE id = 2 RETURNING a*10 AS ax")
    assert(del == Seq(Seq(1020L)), s"got $del")
    // a multi-row capture at cap 1 exceeds the driver boundary: the
    // statement fails LOUDLY and applies nothing (SQLite — in-process, no
    // driver — materializes any size; this cap is the engine's documented
    // deviation, same shape as the row-trigger cap)
    exec(db, "INSERT INTO t(a, b) VALUES (5, 'k'), (6, 'l')")
    val e = qErr(db, "UPDATE t SET a = a + 1 RETURNING id")
    assert(e.startsWith("too many rows for RETURNING processing on t"), e)
    val (_, intact) = q(db, "SELECT a FROM t ORDER BY id")
    assert(intact == Seq(Seq(1L), Seq(5L), Seq(6L)),
      s"capped statement must not apply: $intact")
  }

  test("conflict policies: upsert tape, OR IGNORE skips, OR REPLACE") {
    caps.foreach { cap =>
      val db = fresh(cap)
      exec(db, "CREATE TABLE u (id INTEGER PRIMARY KEY, a INTEGER UNIQUE, b TEXT)")
      exec(db, "INSERT INTO u VALUES (1, 1, 'x'), (2, 2, 'y')")
      // mixed upsert: per-candidate tape (update, insert, update)
      val (_, ups) = q(db,
        "INSERT INTO u(a, b) VALUES (2, 'UPD'), (9, 'NEW'), (1, 'UPD2') " +
          "ON CONFLICT(a) DO UPDATE SET b = excluded.b RETURNING id, a, b")
      assert(ups == Seq(Seq(2L, 2L, "UPD"), Seq(3L, 9L, "NEW"),
        Seq(1L, 1L, "UPD2")), s"cap=$cap got $ups")
      // OR IGNORE: skipped candidates are invisible
      val (_, ign) = q(db,
        "INSERT OR IGNORE INTO u(a, b) VALUES (9, 'dup'), (33, 'ok') RETURNING id, a")
      assert(ign == Seq(Seq(4L, 33L)), s"cap=$cap got $ign")
      // OR REPLACE: one row per surviving insert, displaced rows invisible
      val (_, rep) = q(db,
        "INSERT OR REPLACE INTO u(a, b) VALUES (33, 'repl') RETURNING id, a, b")
      assert(rep == Seq(Seq(5L, 33L, "repl")), s"cap=$cap got $rep")
      // DO NOTHING: conflicting candidate skipped entirely
      val (_, dn) = q(db,
        "INSERT INTO u(a, b) VALUES (33, 'z'), (44, 'w') " +
          "ON CONFLICT DO NOTHING RETURNING a")
      assert(dn == Seq(Seq(44L)), s"cap=$cap got $dn")
    }
  }

  test("prepare-time rejection: bad column, aggregates, windows — no mutation") {
    caps.foreach { cap =>
      val db = fresh(cap)
      assert(qErr(db, "UPDATE t SET a = 9 RETURNING nope") ==
        "no such column: nope", s"cap=$cap")
      assert(qErr(db, "UPDATE t SET a = 9 RETURNING u.a") ==
        "no such column: u.a", s"cap=$cap")
      assert(qErr(db, "INSERT INTO t(a) VALUES (5) RETURNING max(a)") ==
        "misuse of aggregate function max()", s"cap=$cap")
      assert(qErr(db, "UPDATE t SET a = 9 RETURNING row_number() OVER ()") ==
        "misuse of window function row_number()", s"cap=$cap")
      // none of the rejected statements mutated anything
      val (_, rows) = q(db, "SELECT id, a FROM t ORDER BY id")
      assert(rows == Seq(Seq(1L, 1L), Seq(2L, 2L)), s"cap=$cap")
    }
  }

  test("statement failure mid-RETURNING: atomic undo, no rows") {
    caps.foreach { cap =>
      val db = fresh(cap)
      exec(db, "CREATE TABLE u (id INTEGER PRIMARY KEY, a INTEGER UNIQUE)")
      exec(db, "INSERT INTO u VALUES (1, 1), (2, 2)")
      assert(qErr(db, "INSERT INTO u(a) VALUES (5), (2), (6) RETURNING id") ==
        "UNIQUE constraint failed: u.a", s"cap=$cap")
      val (_, rows) = q(db, "SELECT id, a FROM u ORDER BY id")
      assert(rows == Seq(Seq(1L, 1L), Seq(2L, 2L)), s"cap=$cap")
    }
  }

  test("execute path: rusqlite error AFTER the DML applies; tx rolls back") {
    caps.foreach { cap =>
      val db = fresh(cap)
      // non-tx: the statement's response is the rusqlite refusal, but the
      // row landed (first step ran the whole DML)
      val r = db.executeStringStmt(
        "INSERT INTO t(a, b) VALUES (30, 'e') RETURNING id")
        .fold(e => fail(e), identity).head
      assert(r.error == "Execute returned results - did you mean to call query?",
        s"cap=$cap got [${r.error}]")
      val (_, rows) = q(db, "SELECT a FROM t WHERE a = 30")
      assert(rows == Seq(Seq(30L)), s"cap=$cap: the DML must have applied")
      // zero-row RETURNING output: plain success (stepped straight to DONE)
      val r0 = db.executeStringStmt(
        "UPDATE t SET a = 1 WHERE id = 99 RETURNING id")
        .fold(e => fail(e), identity).head
      assert(r0.error.isEmpty && r0.rowsAffected == 0, s"cap=$cap")
      // prepare-time projection error on the execute path: nothing applies
      val rb = db.executeStringStmt(
        "INSERT INTO t(a) VALUES (31) RETURNING nope")
        .fold(e => fail(e), identity).head
      assert(rb.error == "no such column: nope", s"cap=$cap")
      val (_, none) = q(db, "SELECT a FROM t WHERE a = 31")
      assert(none.isEmpty, s"cap=$cap")
      // request-level tx batch: the refusal rolls the whole batch back
      val tx = db.execute(Request(transaction = true, Seq(
        Statement("INSERT INTO t(a, b) VALUES (40, 'f')"),
        Statement("INSERT INTO t(a, b) VALUES (41, 'g') RETURNING id"))))
        .fold(e => fail(e), identity)
      assert(tx.last.error ==
        "Execute returned results - did you mean to call query?", s"cap=$cap")
      val (_, gone) = q(db, "SELECT a FROM t WHERE a IN (40, 41)")
      assert(gone.isEmpty, s"cap=$cap: tx batch must roll back")
    }
  }

  test("query-path DML is journaled: survives close + reopen WITHOUT checkpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft-retspec-")
    val rootPath = dir.resolve("db").toString
    val db = GraftDb.open(spark, rootPath, 500).fold(e => fail(e), identity)
    exec(db, "CREATE TABLE t (id INTEGER PRIMARY KEY, a INTEGER)")
    val (_, ret) = q(db, "INSERT INTO t(a) VALUES (7) RETURNING id, a")
    assert(ret == Seq(Seq(1L, 7L)))
    db.close()
    val db2 = GraftDb.open(spark, rootPath, 500).fold(e => fail(e), identity)
    val (_, rows) = q(db2, "SELECT id, a FROM t ORDER BY id")
    assert(rows == Seq(Seq(1L, 7L)),
      "query-path DML must replay from the journal")
    db2.close()
  }

  test("RETURNING interacts with triggers: outer statement rows only") {
    val db = fresh(500)
    exec(db, "CREATE TABLE log (id INTEGER PRIMARY KEY, tag TEXT)")
    exec(db, "CREATE TRIGGER trg AFTER INSERT ON t BEGIN " +
      "INSERT INTO log(tag) VALUES ('i:' || NEW.id); END")
    val (_, rows) = q(db,
      "INSERT INTO t(a, b) VALUES (60, 'h'), (61, 'i') RETURNING id")
    assert(rows == Seq(Seq(3L), Seq(4L)),
      s"trigger-body inserts must not leak into the capture: $rows")
    val (_, logRows) = q(db, "SELECT tag FROM log ORDER BY id")
    assert(logRows == Seq(Seq("i:3"), Seq("i:4")))
  }

  test("a RETURNING statement refused at the driver cap is refused again on replay") {
    // crash-fuzz seed 910031: the journal line of a cap-refused query-path
    // RETURNING statement must not apply when the database reopens
    val root = java.nio.file.Files.createTempDirectory("graft-ret-replay")
      .resolve("db").toString
    val db = GraftDb.open(spark, root, 8).fold(e => fail(e), identity)
    exec(db, "CREATE TABLE t0 (id INTEGER PRIMARY KEY, a INTEGER, b TEXT)")
    exec(db, "INSERT INTO t0 VALUES " +
      (1 to 12).map(i => s"($i, $i, 'w$i')").mkString(", "))
    val before = q(db, "SELECT id, b FROM t0 ORDER BY id")
    val stmt = "UPDATE t0 AS tgt SET b = src.b || 'bo' FROM t0 AS src " +
      "WHERE tgt.id = src.id + 1 RETURNING id, b"
    val refused = db.queryStringStmt(stmt)
    assert(refused.left.exists(_.startsWith(
      "too many rows for RETURNING processing on t0")), refused)
    assert(q(db, "SELECT id, b FROM t0 ORDER BY id") == before)
    db.close()
    val reopened = GraftDb.open(spark, root, 8).fold(e => fail(e), identity)
    try {
      assert(q(reopened, "SELECT id, b FROM t0 ORDER BY id") == before)
      assert(reopened.queryStringStmt(stmt) == refused)
    } finally reopened.close()
  }
}
