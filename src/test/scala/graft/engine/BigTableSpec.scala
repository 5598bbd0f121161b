package graft.engine

import graft.SparkSpec
import graft.command._
import scala.jdk.CollectionConverters._

/** The spilled (Spark-resident) table store: once a managed table crosses
  * `maxDriverRows`, every mutation is a copy-on-write Spark job and every
  * constraint check a join/aggregation — the table never lands on the
  * driver (SURVEY §7.4). The cap here is tiny (200 rows) so spec-scale
  * data drives exactly the code paths a driver-heap-sized table would:
  * bulk INSERT…SELECT, distributed UPDATE/DELETE, anti-join UNIQUE/FK
  * enforcement, trigger diffs via rowid joins, and parquet
  * checkpoint/recovery of an over-cap table.
  */
class BigTableSpec extends SparkSpec {

  private val Cap = 200L

  private def mem(cap: Long = Cap): GraftDb = GraftDb.openInMemory(spark, cap)

  private def ok(db: GraftDb, sql: String): Response = {
    val r = db.executeStringStmt(sql).fold(e => fail(e), identity).head
    assert(r.error.isEmpty, s"unexpected error for [$sql]: ${r.error}")
    r
  }

  private def err(db: GraftDb, sql: String): String = {
    val r = db.executeStringStmt(sql).fold(e => fail(e), identity).head
    assert(r.error.nonEmpty, s"expected an error for [$sql]")
    r.error
  }

  private def rows(db: GraftDb, sql: String): Seq[Seq[Value]] =
    db.queryStringStmt(sql).fold(e => fail(e), _.head.values)

  private def longOf(db: GraftDb, sql: String): Long =
    rows(db, sql).head.head.asInstanceOf[Value.Integer].v

  /** 5× the cap through the bulk INSERT…SELECT path. */
  private def seedBig(db: GraftDb): Unit = {
    ok(db, "CREATE TABLE big (id INTEGER PRIMARY KEY, v INTEGER, s TEXT)")
    ok(db, "INSERT INTO big SELECT id + 1, (id + 1) * 2, " +
      "'r' || CAST(id AS STRING) FROM range(1000)")
  }

  test("bulk INSERT...SELECT spills past the cap and stays queryable") {
    val db = mem()
    seedBig(db)
    assert(db.isSpilled("big"), "1000 rows over a 200-row cap must spill")
    assert(longOf(db, "SELECT COUNT(*) FROM big") == 1000L)
    // sum(2 + 4 + ... + 2000) = 2 * 1000*1001/2
    assert(longOf(db, "SELECT SUM(v) FROM big") == 1001000L)
    // rowid alias carries the explicit ids; last_insert_id = last row's id
    assert(longOf(db, "SELECT MAX(id) FROM big") == 1000L)
  }

  test("bulk insert reports rows_affected and last_insert_id") {
    val db = mem()
    ok(db, "CREATE TABLE big (id INTEGER PRIMARY KEY, v INTEGER, s TEXT)")
    val r = ok(db, "INSERT INTO big SELECT id + 1, (id + 1) * 2, " +
      "'r' || CAST(id AS STRING) FROM range(1000)")
    assert(r.rowsAffected == 1000L)
    assert(r.lastInsertId == 1000L)
    // a subsequent auto-rowid insert continues past the bulk block
    val r2 = ok(db, "INSERT INTO big(v, s) VALUES (7, 'tail')")
    assert(r2.lastInsertId == 1001L)
  }

  test("distributed UPDATE: affected count, values, WHERE semantics") {
    val db = mem()
    seedBig(db)
    val r = ok(db, "UPDATE big SET v = v + 1 WHERE id % 2 = 0")
    assert(r.rowsAffected == 500L)
    assert(db.isSpilled("big"))
    assert(longOf(db, "SELECT SUM(v) FROM big") == 1001500L)
    assert(longOf(db, "SELECT COUNT(*) FROM big WHERE v % 2 = 1") == 500L)
    // no-WHERE update touches every row
    assert(ok(db, "UPDATE big SET s = upper(s)").rowsAffected == 1000L)
    assert(longOf(db, "SELECT COUNT(*) FROM big WHERE s = upper(s)") == 1000L)
  }

  test("distributed DELETE: affected count and FK-free removal") {
    val db = mem()
    seedBig(db)
    assert(ok(db, "DELETE FROM big WHERE id <= 100").rowsAffected == 100L)
    assert(longOf(db, "SELECT COUNT(*) FROM big") == 900L)
    assert(longOf(db, "SELECT MIN(id) FROM big") == 101L)
    assert(ok(db, "DELETE FROM big").rowsAffected == 900L)
    assert(longOf(db, "SELECT COUNT(*) FROM big") == 0L)
  }

  test("UNIQUE enforcement on a spilled table is an anti-join, same error") {
    val db = mem()
    seedBig(db)
    assert(err(db, "INSERT INTO big VALUES (500, 0, 'dup')") ==
      "UNIQUE constraint failed: big.id")
    // conflict policies still run with exact sequential semantics
    assert(ok(db, "INSERT OR IGNORE INTO big VALUES (500, 0, 'dup')")
      .rowsAffected == 0L)
    ok(db, "INSERT OR REPLACE INTO big VALUES (500, -1, 'replaced')")
    assert(rows(db, "SELECT s FROM big WHERE id = 500").head.head ==
      Value.Text("replaced"))
    ok(db, "INSERT INTO big VALUES (500, 9, 'up') " +
      "ON CONFLICT(id) DO UPDATE SET v = excluded.v")
    assert(longOf(db, "SELECT v FROM big WHERE id = 500") == 9L)
    assert(longOf(db, "SELECT COUNT(*) FROM big") == 1000L)
    // UPDATE creating a duplicate key also fails distributed
    assert(err(db, "UPDATE big SET id = 1 WHERE id = 2") ==
      "UNIQUE constraint failed: big.id")
  }

  test("NOT NULL and CHECK enforce distributed with SQLite error strings") {
    val db = mem()
    ok(db, "CREATE TABLE big (id INTEGER PRIMARY KEY, v INTEGER NOT NULL, " +
      "CHECK (v >= 0))")
    ok(db, "INSERT INTO big SELECT id + 1, id FROM range(1000)")
    assert(db.isSpilled("big"))
    assert(err(db, "UPDATE big SET v = NULL WHERE id = 5") ==
      "NOT NULL constraint failed: big.v")
    assert(err(db, "UPDATE big SET v = -1 WHERE id = 5")
      .startsWith("CHECK constraint failed"))
    assert(err(db, "INSERT INTO big SELECT id + 5000, id - 2000 " +
      "FROM range(1000)").startsWith("CHECK constraint failed"))
    assert(longOf(db, "SELECT COUNT(*) FROM big") == 1000L)
  }

  test("FK enforcement joins against a spilled parent and on DELETE") {
    val db = mem()
    ok(db, "PRAGMA foreign_keys=ON")
    seedBig(db)
    ok(db, "CREATE TABLE child (cid INTEGER PRIMARY KEY, " +
      "ref INTEGER REFERENCES big(id))")
    ok(db, "INSERT INTO child VALUES (1, 42)")
    assert(err(db, "INSERT INTO child VALUES (2, 5000)") ==
      "FOREIGN KEY constraint failed")
    assert(err(db, "DELETE FROM big WHERE id = 42") ==
      "FOREIGN KEY constraint failed")
    assert(ok(db, "DELETE FROM big WHERE id = 43").rowsAffected == 1L)
    assert(longOf(db, "SELECT COUNT(*) FROM big") == 999L)
  }

  test("AFTER triggers fire from a rowid-join diff on spilled tables") {
    val db = mem()
    seedBig(db)
    ok(db, "CREATE TABLE audit (what TEXT)")
    ok(db, "CREATE TRIGGER t1 AFTER UPDATE ON big BEGIN " +
      "INSERT INTO audit VALUES ('u' || NEW.id); END")
    ok(db, "CREATE TRIGGER t2 AFTER DELETE ON big BEGIN " +
      "INSERT INTO audit VALUES ('d' || OLD.id); END")
    ok(db, "UPDATE big SET v = 0 WHERE id IN (3, 4)")
    ok(db, "DELETE FROM big WHERE id = 9")
    assert(rows(db, "SELECT what FROM audit ORDER BY what")
      .map(_.head.asInstanceOf[Value.Text].v) == Seq("d9", "u3", "u4"))
  }

  test("spilled-path semantics match the Mem path statement-for-statement") {
    // the same mixed batch against an uncapped (Mem) db and a capped
    // (spilled) one must produce identical envelopes and final state
    val stmts = Seq(
      "CREATE TABLE big (id INTEGER PRIMARY KEY, v INTEGER, s TEXT)",
      "INSERT INTO big SELECT id + 1, (id + 1) * 2, 'r' || " +
        "CAST(id AS STRING) FROM range(1000)",
      "UPDATE big SET v = -v WHERE id % 7 = 0",
      "DELETE FROM big WHERE id % 13 = 0",
      "INSERT OR REPLACE INTO big VALUES (77, 0, 'x')",
      "INSERT INTO big VALUES (42, 1, 'dup')", // UNIQUE error on both
      "INSERT INTO big(v, s) VALUES (5, 'tail')")
    val dbMem = mem(cap = 1000000L)
    val dbBig = mem(cap = Cap)
    val (rm, rb) = (stmts.map(s =>
      dbMem.executeStringStmt(s).fold(e => fail(e), _.head)),
      stmts.map(s => dbBig.executeStringStmt(s).fold(e => fail(e), _.head)))
    assert(!dbMem.isSpilled("big") && dbBig.isSpilled("big"))
    assert(rm == rb, "per-statement envelopes must match")
    val q = "SELECT id, v, s FROM big ORDER BY id"
    assert(rows(dbMem, q) == rows(dbBig, q), "final state must match")
  }

  test("over-cap table checkpoints to parquet and recovers spilled") {
    val dir = java.nio.file.Files.createTempDirectory("graft-big").toString
    val db = GraftDb.open(spark, dir, Cap).fold(e => fail(e), identity)
    seedBig(db)
    ok(db, "UPDATE big SET v = v + 1 WHERE id <= 10")
    db.checkpoint().fold(e => fail(e), identity)
    db.close()
    val db2 = GraftDb.open(spark, dir, Cap).fold(e => fail(e), identity)
    assert(db2.isSpilled("big"), "recovered over-cap table must stay spilled")
    assert(longOf(db2, "SELECT COUNT(*) FROM big") == 1000L)
    assert(longOf(db2, "SELECT SUM(v) FROM big") == 1001010L)
    // and keeps accepting writes with correct rowid continuation
    assert(ok(db2, "INSERT INTO big(v, s) VALUES (1, 'post')")
      .lastInsertId == 1001L)
    db2.close()
  }

  test("CTAS over the cap lands directly on the spilled store") {
    val db = mem()
    ok(db, "CREATE TABLE big AS SELECT id AS n, id * id AS sq FROM range(5000)")
    assert(db.isSpilled("big"))
    assert(longOf(db, "SELECT COUNT(*) FROM big") == 5000L)
    assert(longOf(db, "SELECT MAX(sq) FROM big") == 4999L * 4999L)
  }

  test("ALTER TABLE on a spilled table is a lazy projection") {
    val db = mem()
    seedBig(db)
    ok(db, "ALTER TABLE big ADD COLUMN w INTEGER DEFAULT 3")
    assert(longOf(db, "SELECT SUM(w) FROM big") == 3000L)
    ok(db, "ALTER TABLE big RENAME COLUMN w TO w2")
    ok(db, "UPDATE big SET w2 = w2 * id WHERE id <= 3")
    assert(longOf(db, "SELECT SUM(w2) FROM big WHERE id <= 3") == 18L)
    ok(db, "ALTER TABLE big DROP COLUMN w2")
    assert(rows(db, "SELECT * FROM big WHERE id = 1").head.size == 3)
  }

  test("bulk INSERT OR IGNORE / OR REPLACE resolve via windows+anti-joins") {
    val db = mem()
    ok(db, "CREATE TABLE big (id INTEGER PRIMARY KEY, v INTEGER)")
    ok(db, "INSERT INTO big SELECT id + 1, 0 FROM range(1000)")
    // overlap 501..1500; IGNORE keeps existing, inserts only the new 500
    val ri = ok(db, "INSERT OR IGNORE INTO big " +
      "SELECT id + 501, 1 FROM range(1000)")
    assert(ri.rowsAffected == 500L)
    assert(longOf(db, "SELECT COUNT(*) FROM big") == 1500L)
    assert(longOf(db, "SELECT SUM(v) FROM big") == 500L)
    // REPLACE overwrites the overlap wholesale
    val rr = ok(db, "INSERT OR REPLACE INTO big " +
      "SELECT id + 1001, 2 FROM range(1000)")
    assert(rr.rowsAffected == 1000L)
    assert(longOf(db, "SELECT COUNT(*) FROM big") == 2000L)
    assert(longOf(db, "SELECT SUM(v) FROM big WHERE v = 2") == 2000L)
    // bulk upsert is the documented unsupported corner
    assert(err(db, "INSERT INTO big SELECT id + 1, 9 FROM range(1000) " +
      "ON CONFLICT(id) DO UPDATE SET v = excluded.v")
      .contains("not supported"))
  }

  test("none-level reads serve a spilled committed snapshot lock-free") {
    val db = mem()
    seedBig(db)
    val r = db.query(Request(transaction = false,
      Seq(Statement("SELECT COUNT(*) FROM big"))), ReadLevel.None)
      .fold(e => fail(e), identity)
    assert(r.head.values.head.head == Value.Integer(1000L))
  }

  test("ON CONFLICT DO UPDATE cannot silently violate UNIQUE vs the remainder") {
    val db = mem()
    ok(db, "CREATE TABLE t (id INTEGER PRIMARY KEY, u INTEGER UNIQUE)")
    ok(db, "INSERT INTO t SELECT id + 1, (id + 1) * 10 FROM range(1000)")
    assert(db.isSpilled("t"))
    // (1,10) and (2,20) exist. DO UPDATE SET u = 20 writes a key the slice
    // was NOT built from — the clash lives in the untouched remainder and
    // must still fail with the SQLite error string.
    assert(err(db, "INSERT INTO t VALUES (1, 999) " +
      "ON CONFLICT(id) DO UPDATE SET u = 20") ==
      "UNIQUE constraint failed: t.u")
    // the failed statement must not have committed anything
    assert(longOf(db, "SELECT u FROM t WHERE id = 1") == 10L)
    assert(longOf(db, "SELECT COUNT(*) FROM t") == 1000L)
    // excluded.<col> clashes are caught via the slice (the key came from the
    // candidate itself)
    assert(err(db, "INSERT INTO t VALUES (1, 30) " +
      "ON CONFLICT(id) DO UPDATE SET u = excluded.u") ==
      "UNIQUE constraint failed: t.u")
    // a non-clashing DO UPDATE still lands
    ok(db, "INSERT INTO t VALUES (1, 999999) " +
      "ON CONFLICT(id) DO UPDATE SET u = excluded.u")
    assert(longOf(db, "SELECT u FROM t WHERE id = 1") == 999999L)
  }

  test("bulk OR IGNORE resolves chained multi-spec conflicts sequentially") {
    // A(1,10) lands; B(2,10) is skipped (b conflict with A); C(2,11) then
    // has NO conflict (B never landed) and must survive — independent
    // per-spec windows would wrongly drop C. Cap=5 forces the bulk path on
    // the 6-row source while the 3-row contested subset stays under the cap.
    val db = mem(cap = 5)
    ok(db, "CREATE TABLE t (a INTEGER UNIQUE, b INTEGER UNIQUE)")
    val r = ok(db, "INSERT OR IGNORE INTO t SELECT * FROM (VALUES " +
      "(1, 10), (2, 10), (2, 11), (10, 100), (11, 101), (12, 102))")
    assert(r.rowsAffected == 5L)
    assert(rows(db, "SELECT a, b FROM t WHERE a <= 2 ORDER BY a") ==
      Seq(Seq(Value.Integer(1), Value.Integer(10)),
          Seq(Value.Integer(2), Value.Integer(11))))
    // chain through a pre-existing table row: (5,50) blocks A'(5,60) on a,
    // so B'(6,60) lands, so C'(6,61) is blocked on a by B'
    ok(db, "INSERT OR IGNORE INTO t VALUES (5, 50)")
    val r2 = ok(db, "INSERT OR IGNORE INTO t SELECT * FROM (VALUES " +
      "(5, 60), (6, 60), (6, 61), (20, 200), (21, 201), (22, 202))")
    assert(r2.rowsAffected == 4L)
    assert(rows(db, "SELECT a, b FROM t WHERE a IN (5, 6) ORDER BY a") ==
      Seq(Seq(Value.Integer(5), Value.Integer(50)),
          Seq(Value.Integer(6), Value.Integer(60))))
    // Mem-path parity twin: the sequential driver path agrees row-for-row
    val db2 = mem(cap = 1000000)
    ok(db2, "CREATE TABLE t (a INTEGER UNIQUE, b INTEGER UNIQUE)")
    ok(db2, "INSERT OR IGNORE INTO t SELECT * FROM (VALUES " +
      "(1, 10), (2, 10), (2, 11), (10, 100), (11, 101), (12, 102))")
    ok(db2, "INSERT OR IGNORE INTO t VALUES (5, 50)")
    ok(db2, "INSERT OR IGNORE INTO t SELECT * FROM (VALUES " +
      "(5, 60), (6, 60), (6, 61), (20, 200), (21, 201), (22, 202))")
    assert(rows(db2, "SELECT a, b FROM t ORDER BY a") ==
      rows(db, "SELECT a, b FROM t ORDER BY a"))
  }

  test("bulk OR REPLACE: chained multi-spec supersession matches SQLite") {
    // Sequential: A(1,10); B(2,10) deletes A (b); C(2,11) deletes B (a) —
    // final {(2,11)}. Chained per-spec windows would retain A.
    val db = mem(cap = 2)
    ok(db, "CREATE TABLE t (a INTEGER UNIQUE, b INTEGER UNIQUE)")
    ok(db, "INSERT OR REPLACE INTO t " +
      "SELECT * FROM (VALUES (1, 10), (2, 10), (2, 11))")
    assert(rows(db, "SELECT a, b FROM t ORDER BY a") ==
      Seq(Seq(Value.Integer(2), Value.Integer(11))))
    // Mem-path parity twin
    val db2 = mem(cap = 1000000)
    ok(db2, "CREATE TABLE t (a INTEGER UNIQUE, b INTEGER UNIQUE)")
    ok(db2, "INSERT OR REPLACE INTO t " +
      "SELECT * FROM (VALUES (1, 10), (2, 10), (2, 11))")
    assert(rows(db2, "SELECT a, b FROM t ORDER BY a") ==
      rows(db, "SELECT a, b FROM t ORDER BY a"))
  }

  test("constraint precedence is per-ROW: earliest failing row decides") {
    // SQLite processes candidates sequentially: row 2 duplicates row 1's
    // PK before row 3's NOT NULL violation is ever reached, so UNIQUE is
    // the reported error (verified live on sqlite 3.40 — the r11 pin had
    // this backwards; the r12 OLTP differential fuzzer caught it)
    val db = mem(cap = 2)
    ok(db, "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER NOT NULL)")
    assert(err(db, "INSERT INTO t " +
      "SELECT * FROM (VALUES (1, 5), (1, 6), (2, NULL))") ==
      "UNIQUE constraint failed: t.id")
    val db2 = mem(cap = 1000000)
    ok(db2, "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER NOT NULL)")
    assert(err(db2, "INSERT INTO t " +
      "SELECT * FROM (VALUES (1, 5), (1, 6), (2, NULL))") ==
      "UNIQUE constraint failed: t.id")
    // same-ROW multi-violation: NOT NULL outranks UNIQUE (also probed)
    val db3 = mem(cap = 1000000)
    ok(db3, "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER NOT NULL)")
    ok(db3, "INSERT INTO t VALUES (1, 5)")
    assert(err(db3, "INSERT INTO t VALUES (1, NULL)") ==
      "NOT NULL constraint failed: t.v")
  }

  test("SELECT without ORDER BY observes insertion order on a spilled table") {
    val db = mem()
    seedBig(db)
    // relocate a mid-table row physically (upsert rewrites its slice at the
    // end of the store's layout) — rowid order must still place it at id 500
    ok(db, "INSERT INTO big VALUES (500, 9, 'moved') " +
      "ON CONFLICT(id) DO UPDATE SET s = 'moved'")
    ok(db, "INSERT INTO big(v, s) VALUES (1, 'tail')")
    val ids = rows(db, "SELECT id FROM big")
      .map(_.head.asInstanceOf[Value.Integer].v)
    assert(ids == (1L to 1001L), "insertion order must survive relocation")
    // the none-level snapshot observes the same order
    val r = db.query(Request(transaction = false,
      Seq(Statement("SELECT id FROM big"))), ReadLevel.None)
      .fold(e => fail(e), identity)
    assert(r.head.values.map(_.head) == (1L to 1001L).map(Value.Integer(_)))
  }

  // ---------- partition-scoped mutations on a disk-backed spilled table --

  /** md5 of every file under the db's live Big bucket dir, keyed by path. */
  private def bigFileHashes(dbRoot: java.nio.file.Path): Map[String, String] = {
    val bigDir = dbRoot.resolve("big")
    if (!java.nio.file.Files.exists(bigDir)) return Map.empty
    val s = java.nio.file.Files.walk(bigDir)
    try s.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .filterNot { p => // writer metadata, not data: _SUCCESS, .crc
        val n = p.getFileName.toString
        n.startsWith("_") || n.startsWith(".")
      }
      .map { p =>
        val md = java.security.MessageDigest.getInstance("MD5")
        p.toString -> md.digest(java.nio.file.Files.readAllBytes(p))
          .map("%02x".format(_)).mkString
      }.toMap
    finally s.close()
  }

  private def withDiskDb[A](partRows: Long)(f: (GraftDb,
      java.nio.file.Path) => A): A = {
    sys.props("graft.bigPartRows") = partRows.toString
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-bigpart-")
      val db = GraftDb.open(spark, dir.resolve("db").toString, Cap)
        .fold(e => fail(e), identity)
      try f(db, dir.resolve("db")) finally db.close()
    } finally sys.props -= "graft.bigPartRows"
  }

  test("disk-backed UPDATE rewrites only the touched rowid bucket") {
    withDiskDb(100L) { (db, dbRoot) =>
      seedBig(db) // 1000 rows, bucket size 100 → 10 buckets
      // first partition-scoped statement materializes the bucketed layout
      ok(db, "UPDATE big SET v = 0 WHERE id = 50")
      val before = bigFileHashes(dbRoot)
      assert(before.nonEmpty, "bucketed layout not materialized")
      // second statement touches bucket 1 (rowid 150) only
      ok(db, "UPDATE big SET v = -5 WHERE id = 150")
      val after = bigFileHashes(dbRoot)
      // every pre-existing file is still there, byte-identical
      before.foreach { case (p, h) =>
        assert(after.get(p).contains(h), s"pre-existing file changed: $p")
      }
      // the new generation holds exactly the one touched bucket
      val fresh = (after.keySet -- before.keySet).toSeq
      assert(fresh.nonEmpty && fresh.forall(_.contains("__pid=1")),
        s"expected only __pid=1 rewritten, saw: $fresh")
      // values and aggregates are correct after the scoped rewrite
      assert(longOf(db, "SELECT v FROM big WHERE id = 150") == -5L)
      assert(longOf(db, "SELECT v FROM big WHERE id = 50") == 0L)
      assert(longOf(db, "SELECT COUNT(*) FROM big") == 1000L)
      // sum = 1001000 - (100 for id=50) - (300 for id=150) - 5
      assert(longOf(db, "SELECT SUM(v) FROM big") ==
        1001000L - 100L - 300L - 5L)
      // insertion order intact across mixed generations
      val ids = rows(db, "SELECT id FROM big LIMIT 5")
        .map(_.head.asInstanceOf[Value.Integer].v)
      assert(ids == (1L to 5L))
    }
  }

  test("disk-backed DELETE rewrites only touched buckets; empties drop") {
    withDiskDb(100L) { (db, dbRoot) =>
      seedBig(db)
      ok(db, "UPDATE big SET v = v WHERE id = 1") // materialize buckets
      val before = bigFileHashes(dbRoot)
      // doomed rows live in buckets 9 (901..999) and 10 (1000)
      val r = ok(db, "DELETE FROM big WHERE id > 900")
      assert(r.rowsAffected == 100L)
      val after = bigFileHashes(dbRoot)
      before.filterNot { case (p, _) =>
        p.contains("__pid=9") || p.contains("__pid=10")
      }.foreach { case (p, h) =>
        assert(after.get(p).contains(h), s"untouched bucket changed: $p")
      }
      val fresh = (after.keySet -- before.keySet).toSeq
      // bucket 9 is rewritten with its survivors (rowid 900); bucket 10
      // emptied entirely — no new file for it
      assert(fresh.forall(_.contains("__pid=9")), s"saw: $fresh")
      assert(longOf(db, "SELECT COUNT(*) FROM big") == 900L)
      assert(longOf(db, "SELECT MAX(id) FROM big") == 900L)
      // constraint checks still run distributed on the bucketed store
      assert(err(db, "INSERT INTO big VALUES (900, 1, 'dup')")
        .startsWith("UNIQUE constraint failed"))
    }
  }

  test("disk-backed INSERT touches only the buckets holding changed rows") {
    withDiskDb(100L) { (db, dbRoot) =>
      seedBig(db)
      ok(db, "UPDATE big SET v = v WHERE id = 1") // materialize buckets
      val before = bigFileHashes(dbRoot)
      // plain append: fresh rowid 1001 lands in the tail bucket (pid 10)
      ok(db, "INSERT INTO big(v, s) VALUES (7, 'tail')")
      val after = bigFileHashes(dbRoot)
      before.foreach { case (p, h) =>
        assert(after.get(p).contains(h), s"pre-existing file changed: $p")
      }
      val fresh = (after.keySet -- before.keySet).toSeq
      assert(fresh.nonEmpty && fresh.forall(_.contains("__pid=10")),
        s"append must rewrite only the tail bucket, saw: $fresh")
      assert(longOf(db, "SELECT COUNT(*) FROM big") == 1001L)
      // upsert relocation: only the bucket holding the conflicted rowid
      val mid = bigFileHashes(dbRoot)
      ok(db, "INSERT INTO big VALUES (500, 9, 'moved') " +
        "ON CONFLICT(id) DO UPDATE SET s = 'moved'")
      val after2 = bigFileHashes(dbRoot)
      mid.filterNot(_._1.contains("__pid=5")).foreach { case (p, h) =>
        assert(after2.get(p).contains(h), s"untouched bucket changed: $p")
      }
      assert((after2.keySet -- mid.keySet).forall(_.contains("__pid=5")))
      assert(rows(db, "SELECT s FROM big WHERE id = 500").head.head ==
        Value.Text("moved"))
      // insertion order survives the mixed-generation layout
      val ids = rows(db, "SELECT id FROM big")
        .map(_.head.asInstanceOf[Value.Integer].v)
      assert(ids == (1L to 1001L))
    }
  }

  test("checkpoint refcount-sweeps superseded bucket generations (ADVICE r10)") {
    withDiskDb(100L) { (db, dbRoot) =>
      seedBig(db)
      // g1: full bucketed layout; g2..g6: five scoped rewrites of bucket 1
      (1 to 6).foreach(i => ok(db, s"UPDATE big SET v = $i WHERE id = 150"))
      def gens(): Set[String] = {
        val d = dbRoot.resolve("big").resolve("big")
        if (!java.nio.file.Files.isDirectory(d)) Set.empty
        else {
          val s = java.nio.file.Files.list(d)
          try s.iterator().asScala.map(_.getFileName.toString).toSet
          finally s.close()
        }
      }
      assert(gens() == (1 to 6).map("g" + _).toSet)
      db.checkpoint().fold(e => fail(e), identity)
      // live version references g1 (nine untouched buckets) + g6 (bucket 1);
      // grace retains the newest 2 generations regardless → g5 survives,
      // g2..g4 are unreferenced by any live frame and are swept
      assert(gens() == Set("g1", "g5", "g6"),
        s"expected refcount sweep to keep g1,g5,g6; saw ${gens()}")
      // the surviving layout still serves every row correctly
      assert(longOf(db, "SELECT v FROM big WHERE id = 150") == 6L)
      assert(longOf(db, "SELECT COUNT(*) FROM big") == 1000L)
      assert(longOf(db, "SELECT SUM(v) FROM big") == 1001000L - 300L + 6L)
      // and further scoped mutations keep working on the swept layout
      ok(db, "UPDATE big SET v = -1 WHERE id = 850")
      assert(longOf(db, "SELECT v FROM big WHERE id = 850") == -1L)
    }
  }

  test("ALTERed Big frame pins its generation files across the sweep (ADVICE r11)") {
    withDiskDb(100L) { (db, dbRoot) =>
      seedBig(db)
      // g1: full bucketed layout; g2..g6: five scoped rewrites of bucket 1
      (1 to 6).foreach(i => ok(db, s"UPDATE big SET v = $i WHERE id = 150"))
      // ALTER installs a lazy projection over the bucketed version — a live
      // frame that scans g1 + g6 but carries no bucket map of its own
      ok(db, "ALTER TABLE big ADD COLUMN extra INTEGER")
      def gens(): Set[String] = {
        val d = dbRoot.resolve("big").resolve("big")
        if (!java.nio.file.Files.isDirectory(d)) Set.empty
        else {
          val s = java.nio.file.Files.list(d)
          try s.iterator().asScala.map(_.getFileName.toString).toSet
          finally s.close()
        }
      }
      db.checkpoint().fold(e => fail(e), identity)
      // the sweep must treat the ALTERed frame's inherited dirs as
      // referenced: g1 (nine untouched buckets) + g6 (bucket 1) survive,
      // g5 by newest-2 grace; g2..g4 are garbage
      assert(gens() == Set("g1", "g5", "g6"),
        s"expected g1,g5,g6 to survive under the live ALTERed frame; saw ${gens()}")
      // the live frame still serves every row (pre-fix: FileNotFoundException)
      assert(longOf(db, "SELECT COUNT(*) FROM big") == 1000L)
      assert(longOf(db, "SELECT v FROM big WHERE id = 150") == 6L)
      assert(rows(db, "SELECT extra FROM big WHERE id = 1").head.head ==
        Value.Null)
      // the next scoped mutation re-buckets the transformed schema
      // (self-healing) and keeps working
      ok(db, "UPDATE big SET extra = 1 WHERE id = 150")
      assert(longOf(db, "SELECT extra FROM big WHERE id = 150") == 1L)
      assert(longOf(db, "SELECT SUM(v) FROM big") == 1001000L - 300L + 6L)
    }
  }

  test("oversized trigger-armed UPDATE fails loudly; state unchanged") {
    val db = mem() // cap 200; 1000-row spilled table
    seedBig(db)
    ok(db, "CREATE TABLE log (n INTEGER)")
    ok(db, "CREATE TRIGGER t_u AFTER UPDATE ON big BEGIN " +
      "INSERT INTO log VALUES (NEW.v); END")
    val sumBefore = longOf(db, "SELECT SUM(v) FROM big")
    // 1000 changed rows > 200-row driver cap → loud failure, full undo
    val e = err(db, "UPDATE big SET v = v + 1")
    assert(e.contains("too many rows for row-trigger processing"), e)
    assert(longOf(db, "SELECT SUM(v) FROM big") == sumBefore,
      "failed trigger-armed UPDATE must leave the table unchanged")
    assert(longOf(db, "SELECT COUNT(*) FROM log") == 0L,
      "no trigger body may have run")
    // a statement-sized change under the cap still fires normally
    ok(db, "UPDATE big SET v = 7 WHERE id = 3")
    assert(rows(db, "SELECT n FROM log") == Seq(Seq(Value.Integer(7))))
    // an UPDATE-only trigger must NOT cap a bulk DELETE (no armed event)
    ok(db, "DELETE FROM big WHERE id > 500")
    assert(longOf(db, "SELECT COUNT(*) FROM big") == 500L)
    // DELETE side of the cap, once a DELETE trigger is armed
    ok(db, "CREATE TRIGGER t_d AFTER DELETE ON big BEGIN " +
      "INSERT INTO log VALUES (OLD.v); END")
    val e2 = err(db, "DELETE FROM big WHERE id <= 499")
    assert(e2.contains("too many rows"), e2)
    assert(longOf(db, "SELECT COUNT(*) FROM big") == 500L)
  }

  test("trigger-diff cap bounds the COMBINED legs, not each independently") {
    val db = mem() // cap 200; 1000-row spilled table
    seedBig(db)
    ok(db, "CREATE TABLE log (n INTEGER)")
    ok(db, "CREATE TRIGGER t_i AFTER INSERT ON big BEGIN " +
      "INSERT INTO log VALUES (NEW.v); END")
    ok(db, "CREATE TRIGGER t_u AFTER UPDATE ON big BEGIN " +
      "INSERT INTO log VALUES (NEW.v); END")
    val sumBefore = longOf(db, "SELECT SUM(v) FROM big")
    // 120 conflicts (changed leg) + 120 fresh ids (added leg): each leg is
    // under the 200-row cap but together they are 240 driver rows —
    // the budget threads through the legs (ADVICE r11), so this must fail
    def upsert(ids: Range): String =
      "INSERT INTO big VALUES " +
        ids.map(i => s"($i, -1, 'x')").mkString(", ") +
        " ON CONFLICT(id) DO UPDATE SET v = -1"
    val e = err(db, upsert(881 to 1120))
    assert(e.contains("too many rows for row-trigger processing"), e)
    assert(longOf(db, "SELECT SUM(v) FROM big") == sumBefore)
    assert(longOf(db, "SELECT COUNT(*) FROM big") == 1000L)
    assert(longOf(db, "SELECT COUNT(*) FROM log") == 0L)
    // the same shape under the combined cap fires both triggers normally
    ok(db, upsert(951 to 1050))
    assert(longOf(db, "SELECT COUNT(*) FROM log") == 100L)
  }

  test("broad-predicate mutations fall back to a full bucketed rewrite") {
    withDiskDb(100L) { (db, _) =>
      seedBig(db)
      // touches every bucket → full-rewrite path (2·touched ≥ buckets)
      ok(db, "UPDATE big SET v = v + 1")
      assert(longOf(db, "SELECT SUM(v)  FROM big") == 1001000L + 1000L)
      ok(db, "DELETE FROM big WHERE id % 2 = 0")
      assert(longOf(db, "SELECT COUNT(*) FROM big") == 500L)
      assert(longOf(db, "SELECT SUM(v) FROM big") ==
        (1L to 1000L by 2).map(_ * 2 + 1).sum)
      // delete everything: the store survives as an empty spilled table
      ok(db, "DELETE FROM big")
      assert(longOf(db, "SELECT COUNT(*) FROM big") == 0L)
      ok(db, "INSERT INTO big VALUES (1, 1, 'fresh')")
      assert(longOf(db, "SELECT COUNT(*) FROM big") == 1L)
    }
  }
}
