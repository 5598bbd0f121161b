package graft.tools

import scala.util.Random

/** Seeded random OLTP batch generator for differential testing of the
  * engine envelope against real SQLite (VERDICT r11 #3).
  *
  * The analytics fuzzer ([[SqlFuzz]]) samples the read surface; this
  * generator samples the MUTATION surface GraftDb re-implements by hand —
  * DDL with constraints, INSERT/upsert/UPDATE/DELETE, explicit
  * transactions, savepoints, triggers, ALTER, indexes — as batches of
  * SQLite-dialect statements replayed verbatim by `tools/check_oltp.py`
  * in a real sqlite3 connection (the reference's own engine,
  * `/root/reference/db/src/db.rs:176,278`) and compared per statement:
  * error string (GraftDb pins SQLite's exact texts), rows_affected,
  * last_insert_id, and probe SELECT results.
  *
  * Determinism by construction, same philosophy as SqlFuzz:
  *  - integer + text domain (no floats), plus BLOB keys that probes
  *    read through hex(); probes order by integer ids, and the grammar-v4
  *    collation arms (NOCASE/RTRIM tables, collated unique indexes,
  *    expression-level COLLATE) always add an id tiebreaker so
  *    collation-equal rows compare deterministically;
  *  - small value pools so UNIQUE/PK/CHECK/FK collisions actually happen;
  *  - the generator tracks transaction depth and live savepoint names so
  *    MOST emitted tx ops are valid, with deliberate invalid ones
  *    (double BEGIN, COMMIT outside a tx, unknown savepoint) whose error
  *    strings must match SQLite's;
  *  - probes are plain column selects ordered by the integer PK, so the
  *    value comparison is collation-free; the exceptions are unordered
  *    `SELECT *` probes of `log` (its rowids follow trigger firing
  *    order), `plain` and an index-free `t0`, which pin SQLite's rowid
  *    scan order (a table with a secondary index stays out: SQLite may
  *    scan a covering index instead).
  */
object OltpFuzz {

  /** One step: kind "x" (execute; compare lid/ra/error) or "q" (query;
    * compare columns + values). */
  final case class Op(kind: String, sql: String)

  def gen(seed: Long): Vector[Op] = new Gen(new Random(seed)).batch()

  private final class Gen(r: Random) {
    private def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))
    private def chance(p: Double): Boolean = r.nextDouble() < p
    private def int(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)

    private val ops = Vector.newBuilder[Op]
    private def x(sql: String): Unit = ops += Op("x", sql)
    private def q(sql: String): Unit = ops += Op("q", sql)

    // generator-side model of the schema (for plausible statements)
    private var t0HasUnique = false
    private var t0HasCheck = false
    private var t0AutoInc = false
    private var t0HasD = false // ALTER-added column
    private var t0HasGen = false // generated column gq in CREATE
    private var t0HasG2 = false // ALTER-added generated column
    private var hasChild = false
    private var hasT2 = false
    private var tcColl: Option[String] = None // NOCASE | RTRIM table armed
    private var t3Adv: Option[String] = None // "partial" | "expr" index armed
    private var hasT4 = false // WITHOUT ROWID table armed
    private var hasPlain = false // plain rowid table (no INTEGER PK) armed
    private var hasTb = false // BLOB-keyed table and its FK child armed
    // t0 has (or once had) a secondary index, so SQLite may answer an
    // unordered scan from a covering index: no unordered t0 probes
    private var t0Indexed = false
    private var hasLog = false
    private var hasView = false
    private var hasTrg2 = false
    private var txDepth = 0
    private var savepoints = List.empty[String] // innermost first
    private var spSeq = 0

    def batch(): Vector[Op] = {
      prologue()
      val n = int(18, 40)
      (0 until n).foreach(_ => step())
      epilogue()
      ops.result()
    }

    private def prologue(): Unit = {
      t0HasUnique = chance(0.5)
      t0HasCheck = chance(0.35)
      t0HasGen = chance(0.3)
      t0AutoInc = chance(0.3)
      val uniq = if (t0HasUnique) " UNIQUE" else ""
      // a generated column on the MAIN table makes every DML case in the
      // grammar exercise recompute-on-write differentially (SQLite 3.31)
      val gen = if (t0HasGen)
        ", gq INTEGER GENERATED ALWAYS AS (a * 2 + length(b))" else ""
      val chk = if (t0HasCheck) ", CHECK (a >= -5)" else ""
      // AUTOINCREMENT (30%): every DELETE-then-INSERT in the batch then
      // differentially pins monotonic (never-reused) rowids + the
      // sqlite_sequence bookkeeping (grammar v3)
      val ai = if (t0AutoInc) " AUTOINCREMENT" else ""
      x(s"CREATE TABLE t0 (id INTEGER NOT NULL PRIMARY KEY$ai, a INTEGER$uniq, " +
        s"b TEXT$gen$chk)")
      if (chance(0.5)) {
        hasChild = true
        // FK ON DELETE actions (40%): every DELETE case in the grammar
        // then exercises cascade / set-null differentially
        val act =
          if (chance(0.4)) pick(Seq(" ON DELETE CASCADE", " ON DELETE SET NULL"))
          else ""
        x("CREATE TABLE t1 (id INTEGER NOT NULL PRIMARY KEY, " +
          s"t0_id INTEGER REFERENCES t0(id)$act, c INTEGER)")
        if (chance(0.5)) x("PRAGMA foreign_keys=ON")
      }
      if (chance(0.25)) {
        hasT2 = true
        // junction-style composite keys (grammar v3): a tiny key space so
        // tuple conflicts, policy skips/displacements and NULL-key
        // non-conflicts all actually happen
        if (chance(0.5))
          x("CREATE TABLE t2 (a INTEGER, b INTEGER, v TEXT, PRIMARY KEY (a, b))")
        else
          x("CREATE TABLE t2 (a INTEGER, b INTEGER, v TEXT, UNIQUE (a, b))")
      }
      if (chance(0.4)) {
        hasLog = true
        // explicit integer PK: probes order by it (bare `rowid` selection
        // is not part of the engine's query surface — documented gap)
        x("CREATE TABLE log (lid INTEGER NOT NULL PRIMARY KEY, tag TEXT)")
        val ev = pick(Seq(
          "AFTER INSERT ON t0 BEGIN INSERT INTO log(tag) VALUES ('I:' || NEW.id); END",
          "AFTER UPDATE ON t0 BEGIN INSERT INTO log(tag) VALUES ('U:' || OLD.id || ':' || NEW.a); END",
          "AFTER DELETE ON t0 BEGIN INSERT INTO log(tag) VALUES ('D:' || OLD.id); END"))
        x(s"CREATE TRIGGER trg $ev")
      }
      t0Indexed = t0HasUnique
      if (chance(0.3)) { x("CREATE INDEX idx_a ON t0(a)"); t0Indexed = true }
      // a UNIQUE index (20%) gives t0 a SECOND uniqueness spec: conflict
      // policies then exercise multi-spec chains (a row skipped for one
      // spec keeps blocking the other) and REPLACE multi-victim deletes;
      // one variant collates it NOCASE (grammar v4) so case-folded
      // collisions run through every policy
      else if (chance(0.2)) {
        t0Indexed = true
        r.nextInt(3) match {
          case 0 => x("CREATE UNIQUE INDEX uidx ON t0(b)")
          case 1 => x("CREATE UNIQUE INDEX uidx ON t0(a, b)")
          case _ => x("CREATE UNIQUE INDEX uidx ON t0(b COLLATE NOCASE)")
        }
      }
      // collated table (grammar v4): NOCASE or RTRIM unique TEXT key with
      // a value pool dense in case/trailing-space variants, so collation-
      // folded UNIQUE collisions, policy skips/displacements and
      // collation-aware WHERE/ORDER BY all actually happen
      if (chance(0.35)) {
        val coll = if (chance(0.5)) "NOCASE" else "RTRIM"
        tcColl = Some(coll)
        x("CREATE TABLE tc (id INTEGER NOT NULL PRIMARY KEY, " +
          s"s TEXT COLLATE $coll UNIQUE, v INTEGER)")
        (1 to int(2, 4)).foreach { _ =>
          x(s"INSERT OR IGNORE INTO tc(s, v) VALUES ('${cword()}', " +
            s"${int(0, 9)})")
        }
      }
      // advanced-index table (grammar v4): partial or expression UNIQUE
      // on a DEDICATED table that only ever sees plain (ABORT) DML — the
      // engine's documented boundary rejects conflict policies over these
      // indexes, so the fuzz surface is the exact-enforcement path:
      // collisions inside/outside the partial set, computed-key dups,
      // UPDATE moving rows across the predicate boundary
      if (chance(0.3)) {
        val kind = if (chance(0.5)) "partial" else "expr"
        t3Adv = Some(kind)
        x("CREATE TABLE t3 (id INTEGER NOT NULL PRIMARY KEY, " +
          "a INTEGER, b TEXT)")
        if (kind == "partial")
          x("CREATE UNIQUE INDEX t3x ON t3(a) WHERE a > 2")
        else
          x("CREATE UNIQUE INDEX t3x ON t3(lower(b))")
        (1 to int(1, 3)).foreach { _ =>
          x(s"INSERT INTO t3(a, b) VALUES (${int(0, 6)}, '${cword()}')")
        }
      }
      // WITHOUT ROWID table (grammar v4): TEXT clustered PK — pins
      // PK-order scans, implicit NOT NULL, the silent last_insert_rowid
      // (every lid comparison in the batch then differentially checks
      // that t4 inserts never advanced it), and policies over the PK
      if (chance(0.25)) {
        hasT4 = true
        x("CREATE TABLE t4 (k TEXT PRIMARY KEY, v INTEGER) WITHOUT ROWID")
        (1 to int(1, 3)).foreach { _ =>
          x(s"INSERT OR IGNORE INTO t4 VALUES ('${word()}', ${int(0, 9)})")
        }
      }
      // plain rowid table (grammar v6): NO integer PK, so `rowid` is the
      // real pseudo-column (not an alias) — rowid SELECT/WHERE/DML all
      // run the engine's __rid-view exposure path differentially
      if (chance(0.35)) {
        hasPlain = true
        x("CREATE TABLE plain (v TEXT)")
        (1 to int(2, 4)).foreach { _ =>
          x(s"INSERT INTO plain VALUES ('${word()}')")
        }
      }
      // BLOB keys (grammar v8): a UNIQUE BLOB column from a tiny X'..'
      // pool plus an FK child, so byte-equal keys collide under every
      // policy and a child finds its parent by content; probes select
      // hex(k), keeping BLOB cells out of the envelope
      if (chance(0.3)) {
        hasTb = true
        x("CREATE TABLE tb (id INTEGER NOT NULL PRIMARY KEY, k BLOB UNIQUE, " +
          "v INTEGER)")
        x("CREATE TABLE tbc (id INTEGER NOT NULL PRIMARY KEY, " +
          "bk BLOB REFERENCES tb(k), c INTEGER)")
        if (chance(0.6)) x("PRAGMA foreign_keys=ON")
        (1 to int(1, 3)).foreach { _ =>
          x(s"INSERT OR IGNORE INTO tb(k, v) VALUES (${blob()}, ${int(0, 9)})")
        }
      }
      // a few guaranteed rows so early UPDATE/DELETE have targets
      (1 to int(2, 5)).foreach { _ =>
        x(s"INSERT INTO t0(a, b) VALUES (${int(-3, 9)}, '${word()}')")
      }
    }

    private def blob(): String =
      pick(Seq("X'01'", "X'0102'", "X'02'", "X'ff'", "X'0A0B'"))

    private def word(): String =
      pick(Seq("ada", "bo", "cy", "dee", "eli", "fi", "gus",
        // case variants (grammar v4): meaningful only when the NOCASE
        // uidx variant is armed; otherwise just more distinct strings
        "Ada", "BO", "Cy"))

    /** Collation-pool word: case AND trailing-space variants of a tiny
      * base set — collides under NOCASE and RTRIM respectively, and the
      * mixed variants pin that the OTHER collation does NOT fold them. */
    private def cword(): String =
      pick(Seq("ada", "Ada", "ADA", "bo", "BO", "bo ", "bo  ", "cy",
        "Cy", " cy", "dee", "dee "))

    private def pred(): String = r.nextInt(5) match {
      case 0 => s"id = ${int(1, 12)}"
      case 1 => s"a ${pick(Seq("<", ">", "<=", ">=", "="))} ${int(-4, 10)}"
      case 2 => s"b = '${word()}'"
      case 3 => s"id BETWEEN ${int(1, 6)} AND ${int(6, 14)}"
      case _ => s"a % ${int(2, 4)} = 0"
    }

    private def step(): Unit = r.nextInt(38) match {
      case 37 => // BLOB-keyed traffic (grammar v8)
        if (hasTb) r.nextInt(8) match {
          case 0 => x(s"INSERT INTO tb(k, v) VALUES (${blob()}, ${int(0, 9)})")
          case 1 => x(s"INSERT OR ${pick(Seq("IGNORE", "REPLACE"))} INTO " +
            s"tb(k, v) VALUES (${blob()}, ${int(0, 9)})")
          case 2 => x(s"INSERT INTO tb(k, v) VALUES (${blob()}, ${int(0, 9)}) " +
            "ON CONFLICT(k) DO UPDATE SET v = v + excluded.v")
          case 3 => x(s"UPDATE OR ${pick(Seq("IGNORE", "REPLACE", "ABORT"))} " +
            s"tb SET k = ${blob()} WHERE id = ${int(1, 6)}")
          case 4 => x(s"INSERT INTO tbc(bk, c) VALUES (${blob()}, ${int(0, 5)})")
          case 5 => x(s"DELETE FROM tb WHERE k = ${blob()}")
          case 6 => q("SELECT id, hex(k), v FROM tb ORDER BY id")
          case _ => q("SELECT id, hex(bk), c FROM tbc ORDER BY id")
        } else probe()
      case 32 | 33 => selectShapeProbe() // grammar v7 (VERDICT r14):
      // DISTINCT lists, no-FROM tails, IS/hex/negative-LIMIT forms
      case 34 => connStateProbe() // grammar v7: connection registers
      case 35 => mathProbe() // grammar v7: math family (exact-value subset)
      case 36 => jsonProbe() // grammar v7: json1 family
      case 28 | 29 => exprProbe() // grammar v6: expression semantics
      case 30 => rowidStep() // grammar v6: rowid pseudo-column
      case 31 => // grammar v6: case_sensitive_like flips + immediate probe
        x(s"PRAGMA case_sensitive_like=${if (chance(0.5)) "ON" else "OFF"}")
        q(s"SELECT id FROM t0 WHERE b LIKE " +
          s"'${pick(Seq("A%", "a%", "%O", "_y", "%e%"))}' ORDER BY id")
      case 27 => // WITHOUT ROWID traffic
        if (hasT4) r.nextInt(7) match {
          case 0 => x(s"INSERT INTO t4 VALUES ('${word()}', ${int(0, 9)})")
          case 1 => x(s"INSERT OR ${pick(Seq("IGNORE", "REPLACE"))} INTO t4 " +
            s"VALUES ('${word()}', ${int(0, 9)})")
          case 2 => x(s"INSERT INTO t4 VALUES ('${word()}', ${int(0, 9)}) " +
            "ON CONFLICT(k) DO UPDATE SET v = v + excluded.v")
          case 3 => x(s"UPDATE t4 SET v = v + 1 WHERE k = '${word()}'")
          case 4 => // PK rekey inside the clustered key
            x(s"UPDATE OR IGNORE t4 SET k = '${word()}' WHERE v = ${int(0, 9)}")
          case 5 => x(s"DELETE FROM t4 WHERE k = '${word()}'")
          case _ => q("SELECT k, v FROM t4") // unqualified: PK scan order
        } else probe()
      case 26 => // advanced-index traffic (plain DML only — see prologue)
        t3Adv match {
          case Some(_) => r.nextInt(6) match {
            case 0 => x(s"INSERT INTO t3(a, b) VALUES (${int(0, 6)}, " +
              s"'${cword()}')")
            case 1 => // multi-row: one candidate may collide on the index
              x(s"INSERT INTO t3(a, b) VALUES (${int(0, 6)}, '${cword()}'), " +
                s"(${int(0, 6)}, '${cword()}')")
            case 2 => // move rows across the partial predicate boundary
              x(s"UPDATE t3 SET a = a + ${int(1, 3)} WHERE id = ${int(1, 8)}")
            case 3 => x(s"UPDATE t3 SET b = '${cword()}' " +
              s"WHERE id = ${int(1, 8)}")
            case 4 => x(s"DELETE FROM t3 WHERE id = ${int(1, 8)}")
            case _ => q("SELECT id, a, b FROM t3 ORDER BY id")
          }
          case None => probe()
        }
      case 25 => // collation traffic (grammar v4): the collated table's
        // unique key under every policy, collation-aware WHERE/ORDER BY,
        // and expression-level COLLATE probes when no table is armed
        tcColl match {
          case Some(_) => r.nextInt(8) match {
            case 0 => x(s"INSERT INTO tc(s, v) VALUES ('${cword()}', " +
              s"${int(0, 9)})")
            case 1 => x(s"INSERT OR IGNORE INTO tc(s, v) VALUES " +
              s"('${cword()}', ${int(0, 9)})")
            case 2 => x(s"INSERT OR REPLACE INTO tc(s, v) VALUES " +
              s"('${cword()}', ${int(0, 9)})")
            case 3 => x(s"INSERT INTO tc(s, v) VALUES ('${cword()}', " +
              s"${int(0, 9)}) ON CONFLICT(s) DO UPDATE SET " +
              "v = v + excluded.v")
            case 4 => x(s"UPDATE OR ${pick(Seq("IGNORE", "REPLACE", "ABORT"))} " +
              s"tc SET s = '${cword()}' WHERE id = ${int(1, 8)}")
            case 5 => x(s"DELETE FROM tc WHERE s = '${cword()}'")
            case 6 => q("SELECT id, s, v FROM tc ORDER BY id")
            case _ => q(s"SELECT id FROM tc WHERE s = '${cword()}' " +
              "ORDER BY id")
          }
          case None => r.nextInt(3) match {
            case 0 => q(s"SELECT id FROM t0 WHERE b = " +
              s"'${word().toUpperCase}' COLLATE NOCASE ORDER BY id")
            case 1 => q("SELECT id, b FROM t0 ORDER BY b COLLATE NOCASE, id")
            case _ => q(s"SELECT id FROM t0 WHERE b = '${word()} ' " +
              "COLLATE RTRIM ORDER BY id")
          }
        }
      case 0 | 1 | 2 => // plain insert: explicit id, auto id, or all-defaults
        if (chance(0.12)) x("INSERT INTO t0 DEFAULT VALUES")
        else if (chance(0.5))
          x(s"INSERT INTO t0 VALUES (${int(1, 12)}, ${int(-8, 9)}, '${word()}')")
        else
          x(s"INSERT INTO t0(a, b) VALUES (${int(-8, 9)}, '${word()}')")
      case 3 => // multi-row VALUES (one row may violate PK/UNIQUE/CHECK)
        val rows = (1 to int(2, 4))
          .map(_ => s"(${int(1, 14)}, ${int(-8, 9)}, '${word()}')")
        x(s"INSERT INTO t0 VALUES ${rows.mkString(", ")}")
      case 4 => // upsert / conflict-clause family
        r.nextInt(9) match {
          case 0 => x(s"INSERT INTO t0 VALUES (${int(1, 12)}, ${int(0, 9)}, " +
            s"'${word()}') ON CONFLICT(id) DO UPDATE SET a = excluded.a + 1")
          case 1 => x(s"INSERT INTO t0 VALUES (${int(1, 12)}, ${int(0, 9)}, " +
            s"'${word()}') ON CONFLICT(id) DO NOTHING")
          case 2 => x(s"INSERT OR IGNORE INTO t0 VALUES (${int(1, 12)}, " +
            s"${int(0, 9)}, '${word()}')")
          case 3 => // OR FAIL: multi-row, a mid-batch conflict keeps the
            // prefix AND reports the error (grammar v3)
            val rows = (1 to int(2, 4))
              .map(_ => s"(${int(1, 14)}, ${int(-8, 9)}, '${word()}')")
            x(s"INSERT OR FAIL INTO t0 VALUES ${rows.mkString(", ")}")
          case 4 => // OR ROLLBACK: aborts a live tx on constraint failure
            x(s"INSERT OR ROLLBACK INTO t0 VALUES (${int(1, 12)}, " +
              s"${int(-8, 9)}, '${word()}')")
          case 5 | 6 => // multi-clause upsert (grammar v5, SQLite 3.35+):
            // the FIRST clause whose target the candidate violates
            // applies; with `a` not UNIQUE the ON CONFLICT(a) target must
            // fail with SQLite's ordinal error text — both outcomes are
            // differential. Multi-row variants interleave per-candidate
            // clause selection with the rowid/lid bookkeeping.
            val rows = (1 to int(1, 3))
              .map(_ => s"(${int(1, 12)}, ${int(0, 9)}, '${word()}')")
            val tail = r.nextInt(6) match {
              case 0 => "ON CONFLICT(id) DO UPDATE SET a = excluded.a + 1 " +
                "ON CONFLICT(a) DO NOTHING"
              case 1 => "ON CONFLICT(a) DO UPDATE SET b = excluded.b || '!' " +
                "ON CONFLICT(id) DO UPDATE SET a = a + 1"
              case 2 => "ON CONFLICT(id) DO NOTHING ON CONFLICT DO NOTHING"
              case 3 => // DO UPDATE ... WHERE: gates per candidate, no
                // fall-through when false (grammar v5)
                s"ON CONFLICT(id) DO UPDATE SET a = excluded.a " +
                  s"WHERE excluded.a > a"
              case 4 => "ON CONFLICT(id) DO UPDATE SET b = excluded.b " +
                s"WHERE t0.a <= ${int(2, 7)} ON CONFLICT(a) DO NOTHING"
              case _ => "ON CONFLICT(a) DO NOTHING " +
                "ON CONFLICT(id) DO UPDATE SET b = excluded.b"
            }
            x(s"INSERT INTO t0 VALUES ${rows.mkString(", ")} $tail")
          case _ => x(s"INSERT OR REPLACE INTO t0 VALUES (${int(1, 12)}, " +
            s"${int(0, 9)}, '${word()}')")
        }
      case 5 | 6 => // update — sometimes with a conflict clause (UPDATE OR
        // ABORT/FAIL/IGNORE/REPLACE/ROLLBACK, grammar v3): with t0's
        // UNIQUE/CHECK armed these hit real sequential-resolution paths
        val set = r.nextInt(4) match {
          case 0 => s"a = a + ${int(1, 3)}"
          case 1 => s"a = ${int(-8, 9)}"
          case 2 => s"b = b || 'x'"
          case _ => s"a = a - 1, b = '${word()}'"
        }
        val or = if (chance(0.35))
          s"OR ${pick(Seq("ABORT", "FAIL", "IGNORE", "REPLACE", "ROLLBACK"))} "
        else ""
        x(s"UPDATE ${or}t0 SET $set WHERE ${pred()}")
      case 7 => x(s"DELETE FROM t0 WHERE ${pred()}")
      case 8 => // child-table traffic (FK semantics when armed)
        if (hasChild) r.nextInt(3) match {
          case 0 => x(s"INSERT INTO t1(t0_id, c) VALUES (${int(1, 12)}, " +
            s"${int(0, 5)})")
          case 1 => x(s"DELETE FROM t1 WHERE c = ${int(0, 5)}")
          case _ => x(s"UPDATE t1 SET c = c + 1 WHERE t0_id = ${int(1, 12)}")
        } else if (hasT2) r.nextInt(5) match {
          // composite-key traffic: 4×4 key space, NULL keys sometimes
          case 0 => x(s"INSERT INTO t2 VALUES (${int(1, 4)}, ${int(1, 4)}, " +
            s"'${word()}')")
          case 1 => x(s"INSERT OR ${pick(Seq("IGNORE", "REPLACE"))} INTO t2 " +
            s"VALUES (${int(1, 4)}, ${int(1, 4)}, '${word()}')")
          case 2 => x(s"INSERT INTO t2 VALUES (${if (chance(0.5)) "NULL"
            else int(1, 4).toString}, ${int(1, 4)}, '${word()}')")
          case 3 => x(s"UPDATE OR ${pick(Seq("IGNORE", "REPLACE", "FAIL"))} " +
            s"t2 SET b = b + 1 WHERE a = ${int(1, 4)}")
          case _ => x(s"DELETE FROM t2 WHERE a = ${int(1, 4)} " +
            s"AND b = ${int(1, 4)}")
        } else x(s"DELETE FROM t0 WHERE ${pred()}")
      case 9 => // transaction control, mostly valid
        if (txDepth == 0) { x("BEGIN"); txDepth = 1 }
        else if (chance(0.25)) x("BEGIN") // nested BEGIN → error, no change
        else if (chance(0.6)) { x("COMMIT"); txDepth = 0; savepoints = Nil }
        else { x("ROLLBACK"); txDepth = 0; savepoints = Nil }
      case 10 => // invalid tx ops on purpose
        if (txDepth == 0) x(pick(Seq("COMMIT", "ROLLBACK")))
        else { x("COMMIT"); txDepth = 0; savepoints = Nil }
      case 11 => // savepoints
        r.nextInt(3) match {
          case 0 =>
            spSeq += 1; val n = s"sp$spSeq"
            x(s"SAVEPOINT $n"); savepoints ::= n
          case 1 if savepoints.nonEmpty =>
            val n = pick(savepoints)
            x(s"ROLLBACK TO $n")
            savepoints = savepoints.dropWhile(_ != n) // inner ones released
          case 2 if savepoints.nonEmpty =>
            val n = pick(savepoints)
            x(s"RELEASE $n")
            savepoints = savepoints.dropWhile(_ != n).drop(1)
          case _ => x(s"ROLLBACK TO nosuch") // unknown savepoint error
        }
      case 12 => // rare DDL mid-stream
        r.nextInt(4) match {
          case 0 if !t0HasD =>
            x("ALTER TABLE t0 ADD COLUMN d INTEGER DEFAULT 0"); t0HasD = true
          case 1 =>
            x("CREATE INDEX IF NOT EXISTS idx_a ON t0(a)"); t0Indexed = true
          case 2 => x("DROP INDEX IF EXISTS idx_a")
          case _ if t0HasD => x(s"UPDATE t0 SET d = d + 1 WHERE ${pred()}")
          case _ => x("ALTER TABLE t0 ADD COLUMN d INTEGER DEFAULT 0")
            t0HasD = true
        }
      case 13 => // probes mid-stream (state at this point must agree)
        probe()
      case 14 =>
        // checkpoint + close + reopen marker (disk mode; mem: checkpoint
        // no-op). ONLY at a point the model proves clean: an open explicit
        // tx or savepoint would be discarded by the reopen while the
        // sqlite connection kept it — a harness artifact, not an engine
        // divergence. The model's savepoint list is a superset of the
        // engine's, so model-empty implies engine-clean.
        if (txDepth == 0 && savepoints.isEmpty) ops += Op("ckpt", "")
        else probe()
      case 15 => // bulk INSERT ... SELECT (the distributed insert path on
        // spilled stores). ORDER BY id pins source order so both engines
        // assign the same (rowid, value) pairing; +20 keeps column a's
        // values CHECK-safe under the grammar's a >= -5 constraint.
        x(s"INSERT INTO t0(a, b) SELECT a + 20, b || 'q' FROM t0 " +
          s"WHERE id <= ${int(2, 8)} ORDER BY id")
      case 16 => // view lifecycle + probes through it
        r.nextInt(3) match {
          case 0 if !hasView =>
            x(s"CREATE VIEW v0 AS SELECT id, a FROM t0 WHERE a > ${int(-4, 3)}")
            hasView = true
          case 1 if hasView => q("SELECT * FROM v0 ORDER BY id")
          case _ if hasView => x("DROP VIEW v0"); hasView = false
          case _ =>
            x(s"CREATE VIEW v0 AS SELECT id, a FROM t0 WHERE a > ${int(-4, 3)}")
            hasView = true
        }
      case 18 => // RETURNING surface (SQLite 3.35): query-path DML yields
        // rows; execute-path DML that yields >=1 row surfaces rusqlite's
        // ExecuteReturnedResults AFTER applying (check_oltp.py emulates)
        r.nextInt(5) match {
          case 0 => q(s"INSERT INTO t0(a, b) VALUES (${int(-4, 9)}, " +
            s"'${word()}'), (${int(-4, 9)}, '${word()}') RETURNING id, a, b")
          case 1 => q(s"UPDATE t0 SET a = a + ${int(1, 3)} " +
            s"WHERE ${pred()} RETURNING id, a * 2, b || '!'")
          case 2 => q(s"DELETE FROM t0 WHERE ${pred()} RETURNING *")
          case 3 => q(s"INSERT INTO t0(a, b) VALUES (${int(-4, 9)}, " +
            s"'${word()}') ON CONFLICT DO NOTHING RETURNING id AS rid, a")
          case _ => x(s"INSERT INTO t0(a, b) VALUES (${int(-4, 9)}, " +
            s"'${word()}') RETURNING id")
        }
      case 19 => // UPDATE ... FROM (SQLite 3.33): joined updates. Multi-
        // match winners are pinned for plain-table sources (max source
        // rowid = SQLite's observed last-in-scan-order); subquery sources
        // aggregate to unique matches so no unspecified pick is compared.
        // Transient UNIQUE collisions check in target-rowid order on both
        // engines (probed live), so constraint-armed shapes are fair game.
        r.nextInt(5) match {
          case 0 if hasChild => x(s"UPDATE t0 SET a = a + src.c FROM t1 " +
            s"AS src WHERE t0.id = src.t0_id AND ${pred()}")
          case 1 if hasChild => x(s"UPDATE t0 SET a = q.m + ${int(-4, 2)} " +
            "FROM (SELECT t0_id, MAX(c) AS m FROM t1 GROUP BY t0_id) AS q " +
            "WHERE t0.id = q.t0_id")
          case 2 if hasChild => q(s"UPDATE t0 SET b = b || src.c FROM t1 " +
            s"AS src WHERE t0.id = src.t0_id RETURNING id, a, b")
          case 3 => q(s"UPDATE t0 AS tgt SET b = src.b || '${word()}' " +
            s"FROM t0 AS src WHERE tgt.id = src.id + ${int(1, 3)} " +
            "RETURNING id, b")
          case _ => x(s"UPDATE t0 AS tgt SET a = src.a + ${int(1, 4)} " +
            s"FROM t0 AS src WHERE tgt.id = src.id + ${int(1, 3)}")
        }
      case 21 => // generated-column writes and probes
        r.nextInt(4) match {
          case 0 if t0HasGen => // write rejection is an envelope too
            x(s"UPDATE t0 SET gq = ${int(0, 9)} WHERE ${pred()}")
          case 1 if t0HasGen =>
            q(s"SELECT id, gq FROM t0 WHERE gq % ${int(2, 4)} = 0 ORDER BY id")
          case 2 if t0HasGen =>
            x(s"INSERT INTO t0(a, b, gq) VALUES (${int(0, 5)}, " +
              s"'${word()}', 1)")
          case _ if !t0HasGen && !t0HasG2 => // ALTER ADD virtual gen
            x("ALTER TABLE t0 ADD COLUMN g2 INTEGER GENERATED ALWAYS " +
              "AS (a + length(b))")
            t0HasG2 = true
          case _ if t0HasG2 =>
            q("SELECT id, g2 FROM t0 ORDER BY id")
          case _ =>
            q(s"SELECT id, gq FROM t0 ORDER BY id")
        }
      case 20 => // CTE-prefixed DML (WITH ... INSERT/UPDATE/DELETE) —
        // statement-scoped CTEs read the BEFORE state; one arm shadows a
        // real table name to pin SQLite's resolution order
        r.nextInt(5) match {
          case 0 => x(s"WITH m AS (SELECT MAX(a) AS mx FROM t0) " +
            s"UPDATE t0 SET a = a - 1 WHERE a = (SELECT mx FROM m)")
          case 1 => x(s"WITH d AS (SELECT id FROM t0 WHERE ${pred()}) " +
            s"DELETE FROM t0 WHERE id IN (SELECT id FROM d) " +
            s"AND id > ${int(2, 9)}")
          case 2 => // ORDER BY the unique id so both engines pair
            // (rowid, value) identically (ties in `a` would not)
            x(s"WITH src AS (SELECT id, a FROM t0 WHERE id <= " +
              s"${int(2, 5)}) INSERT INTO t0(a, b) " +
              s"SELECT a, 'c' || id FROM src ORDER BY id")
          case 3 => q(s"WITH pick AS (SELECT ${int(1, 9)} AS k) " +
            s"UPDATE t0 SET b = b || '~' WHERE id IN (SELECT k FROM pick) " +
            "RETURNING id, b")
          case _ if hasChild => // CTE shadows table t1: resolution order
            x(s"WITH t1 AS (SELECT ${int(1, 9)} AS t0_id, ${int(0, 3)} AS c) " +
              "UPDATE t0 SET a = src.c FROM t1 AS src " +
              "WHERE t0.id = src.t0_id")
          case _ => x(s"WITH w AS (SELECT ${int(1, 9)} AS k, " +
            s"${int(-4, 8)} AS nv) UPDATE t0 SET a = w.nv FROM w " +
            "WHERE t0.id = w.k")
        }
      case 23 if !hasLog => // rowid-alias rekey (no triggers: the engine's
        // documented rekey-with-UPDATE-triggers boundary rejects loudly)
        r.nextInt(3) match {
          case 0 => x(s"UPDATE t0 SET id = id + ${int(100, 140)} " +
            s"WHERE id = ${int(1, 9)}")
          case 1 => x(s"UPDATE t0 SET id = id + ${int(150, 190)}, " +
            s"a = a + 1 WHERE id = ${int(1, 9)}")
          case _ => x(s"INSERT INTO t0 VALUES (${int(1, 9)}, ${int(0, 9)}, " +
            s"'${word()}') ON CONFLICT(id) DO UPDATE SET id = " +
            s"excluded.id + ${int(200, 240)}")
        }
      case 24 => // UPDATE conflict clauses, collision-heavy shapes
        // (grammar v3): mass same-value SETs, IGNORE/REPLACE rekey CHAINS
        // (id = id + 1 re-processes moved rows against current values),
        // FAIL prefixes, ROLLBACK inside live transactions, RETURNING
        // through the query path
        r.nextInt(6) match {
          case 0 => x(s"UPDATE OR IGNORE t0 SET a = ${int(-2, 4)} " +
            s"WHERE ${pred()}")
          case 1 => x(s"UPDATE OR REPLACE t0 SET a = ${int(-2, 4)} " +
            s"WHERE id BETWEEN ${int(1, 4)} AND ${int(5, 9)}")
          case 2 if !hasLog =>
            x(s"UPDATE OR ${pick(Seq("IGNORE", "REPLACE"))} t0 " +
              s"SET id = id + 1 WHERE id <= ${int(2, 6)}")
          case 3 if !hasLog && !hasChild =>
            // hasChild excluded: with foreign_keys armed on the target,
            // SQLite drops the one-pass UPDATE and its index-maintenance
            // order reports a SPURIOUS UNIQUE failure on a multi-row
            // rowid rekey that also writes a unique column (probed,
            // seed 360812 — no logical duplicate exists; the engine
            // keeps logical row semantics). check_oltp classifies the
            // residue as fk-armed-rekey-scan-order.
            x(s"UPDATE OR REPLACE t0 SET id = id + ${int(1, 2)}, " +
              s"a = a + ${int(1, 3)} WHERE id <= ${int(2, 5)}")
          case 4 => q(s"UPDATE OR IGNORE t0 SET a = a + ${int(1, 3)} " +
            s"WHERE ${pred()} RETURNING id, a")
          case _ => x(s"UPDATE OR ${pick(Seq("FAIL", "ROLLBACK"))} t0 " +
            s"SET a = ${int(-2, 4)} WHERE id <= ${int(3, 8)}")
        }
      case 22 => // SQLite core-function probes (date/time family + misc):
        // deterministic args derived from row data; day-granular julian
        // values only (x.5 is exact in both engines' doubles)
        r.nextInt(7) match {
          case 0 => q(s"SELECT id, date('2024-0${int(1, 9)}-0" +
            s"${int(1, 9)}', '+' || abs(a) || ' days') AS d " +
            "FROM t0 ORDER BY id")
          case 1 => q(s"SELECT id, strftime('%Y-%j %w %W', " +
            s"date('2024-01-01', '+' || (id * ${int(3, 17)}) || ' days')) " +
            "AS s FROM t0 ORDER BY id")
          case 2 => q(s"SELECT id, datetime('2024-0${int(1, 9)}-10 " +
            s"0${int(0, 9)}:30:00', '+' || abs(a * 7) || ' minutes', " +
            s"'start of ${pick(Seq("day", "month", "year"))}') AS dt " +
            "FROM t0 ORDER BY id")
          case 3 => q(s"SELECT id, unixepoch(date('2024-02-0" +
            s"${int(1, 9)}', 'weekday ' || (id % 7))) AS e " +
            "FROM t0 ORDER BY id")
          case 4 => q(s"SELECT id, iif(a % 2 = 0, 'even', " +
            s"char(${int(65, 80)}, unicode(b))) AS v FROM t0 " +
            "WHERE b IS NOT NULL AND length(b) > 0 ORDER BY id")
          case 5 => q(s"SELECT id, min(a, ${int(0, 6)}) AS mn, " +
            s"max(a, ${int(0, 6)}, id) AS mx FROM t0 ORDER BY id")
          case _ => q(s"SELECT julianday('2024-0${int(1, 9)}-1" +
            s"${int(0, 9)}') AS j, time('0${int(0, 9)}:15', " +
            s"'+${int(5, 500)} seconds') AS t, total(${int(1, 4)}) AS tt")
        }
      case 17 => // trigger churn + PRAGMA flips + whole-table delete
        r.nextInt(4) match {
          case 0 if hasLog && !hasTrg2 =>
            x("CREATE TRIGGER trg2 AFTER INSERT ON t0 BEGIN " +
              "INSERT INTO log(tag) VALUES ('J:' || NEW.id); END")
            hasTrg2 = true
          case 1 if hasTrg2 => x("DROP TRIGGER trg2"); hasTrg2 = false
          case 2 if hasChild =>
            x(s"PRAGMA foreign_keys=${if (chance(0.5)) "ON" else "OFF"}")
          case _ => x("DELETE FROM t0")
        }
      case _ => // weighted default back to DML
        if (chance(0.5))
          x(s"INSERT INTO t0(a, b) VALUES (${int(-8, 9)}, '${word()}')")
        else {
          val set = if (chance(0.5)) s"a = a + 1" else s"b = 'z'"
          x(s"UPDATE t0 SET $set WHERE ${pred()}")
        }
    }

    // grammar v6 pools — every shape probed live in SqliteExprSpec's
    // golden battery; the fuzzer spreads them over random live state
    private def numish(): String = pick(Seq(
      "12abc", "abc", "1.5x", "  12", "+5", ".5", "1e", "9x", "", "1.",
      "12e1y", "-3z"))

    /** Expression-semantics probes (VERDICT r13 #1/#2): division, text
      * coercion, LIKE/GLOB, CAST, typeof, group_concat, comparisons with
      * storage-class ordering, truth coercion, bitwise/shifts, scalar
      * functions — all differential vs real SQLite. */
    private def exprProbe(): Unit = r.nextInt(14) match {
      case 0 => // integer division / modulo / divide-by-zero
        q(s"SELECT ${int(-9, 9)} ${pick(Seq("+", "-", "*", "/", "%"))} " +
          s"${int(-3, 3)} AS v, 7/2 AS w, 1/0 AS z")
      case 1 => // text numeric coercion in arithmetic
        q(s"SELECT '${numish()}' + ${int(-3, 3)} AS v, " +
          s"'${numish()}' * 2 AS w")
      case 2 => // column arithmetic (integer columns: static types exact)
        q(s"SELECT id, a * 2 - 1 AS v, a / ${int(2, 3)} AS w, " +
          s"a % 3 AS m, a / (a - a) AS z FROM t0 ORDER BY id")
      case 3 => // LIKE over mixed-case data, with and without ESCAPE
        if (chance(0.5))
          q(s"SELECT id FROM t0 WHERE b ${if (chance(0.3)) "NOT " else ""}" +
            s"LIKE '${pick(Seq("A%", "a%", "%O", "_y", "%E%", "a_a", "B_"))}' " +
            "ORDER BY id")
        else
          q(s"SELECT id FROM t0 WHERE b LIKE " +
            s"'${pick(Seq("a!_%", "!%x%", "a!%"))}' ESCAPE '!' ORDER BY id")
      case 4 => // GLOB (case-sensitive, sets with ^ negation / ! literal)
        q(s"SELECT id FROM t0 WHERE b GLOB " +
          s"'${pick(Seq("a*", "[AB]*", "*y", "?o*", "[^ab]*", "[!b]*",
            "[a-f]*"))}' ORDER BY id")
      case 5 => // CAST with prefix parse + rendering
        q(s"SELECT id, CAST(b AS INTEGER) AS ci, CAST(a AS TEXT) AS ct, " +
          s"CAST('${numish()}' AS NUMERIC) AS cn, " +
          s"CAST(a AS REAL) AS cr FROM t0 ORDER BY id")
      case 6 => // typeof vocabulary
        q("SELECT id, typeof(a) AS ta, typeof(b) AS tb, " +
          "typeof(a + 0.5) AS tr, typeof(a / 1) AS ti FROM t0 ORDER BY id")
      case 7 => // group_concat (sort preserved under order-sensitive agg)
        q(s"SELECT group_concat(b${if (chance(0.5)) ", '|'" else ""}) AS g " +
          s"FROM (SELECT b FROM t0 WHERE id <= ${int(2, 8)} ORDER BY id)")
      case 8 => // comparison affinity + storage-class ordering
        q(s"SELECT id FROM t0 WHERE a ${pick(Seq("<", ">", "=", "<=", ">="))} " +
          s"'${pick(Seq("3", "3.0", "abc", "", "-2"))}' ORDER BY id")
      case 9 => // text column vs numeric literal (TEXT affinity applies)
        q(s"SELECT id FROM t0 WHERE b ${pick(Seq("<", ">", "="))} " +
          s"${int(0, 9)} ORDER BY id")
      case 10 => // IN with mixed-type literal list; truth coercion
        if (chance(0.5))
          q(s"SELECT id FROM t0 WHERE a IN ('${int(0, 5)}', ${int(0, 5)}, " +
            s"'${int(0, 5)}.0') ORDER BY id")
        else
          q(s"SELECT id FROM t0 WHERE ${pick(Seq("a", "b", "NOT a",
            "a AND b", "a - a"))} ORDER BY id")
      case 11 => // bitwise / shifts with coercion
        q(s"SELECT id, a & 3 AS ba, a | 8 AS bo, ~a AS bn, " +
          s"a << ${int(0, 3)} AS sl, a >> 1 AS sr FROM t0 ORDER BY id")
      case 12 => // scalar-function family over live rows
        r.nextInt(4) match {
          case 0 => q("SELECT id, length(b) AS l, upper(b) AS u, " +
            "substr(b, 2) AS s2, substr(b, -2) AS sm, " +
            "instr(b, 'a') AS ia FROM t0 ORDER BY id")
          case 1 => q(s"SELECT id, hex(b) AS h, quote(b) AS qb, " +
            s"replace(b, 'a', '${word()}') AS rp FROM t0 ORDER BY id")
          case 2 => q(s"SELECT id, abs(a) AS ab, sign(a) AS sg, " +
            s"round(a * 1.0 / 3, 2) AS rd, min(a, ${int(0, 5)}) AS mn " +
            "FROM t0 ORDER BY id")
          case _ => q(s"SELECT id, nullif(a, ${int(0, 5)}) AS nf, " +
            s"iif(a, b, 'zero') AS ii, trim(b, 'a') AS tr " +
            "FROM t0 ORDER BY id")
        }
      case _ => // CASE truthiness + || rendering
        q("SELECT id, CASE WHEN b THEN 'T' WHEN a THEN b ELSE 'F' END " +
          "AS c, a || b AS cat, a || 0.5 AS catr FROM t0 ORDER BY id")
    }

    /** Grammar v7 (VERDICT r14): select-list shapes the aliaser must not
      * mangle — DISTINCT lists (incl. expression items and the
      * column-name contract), no-FROM SELECTs with tail clauses, bare
      * IS/IS NOT, hex literals, negative LIMIT/OFFSET and the comma form.
      * DISTINCT probes stay on BINARY columns: a collated DISTINCT's
      * surviving representative is engine-ambiguous (group_concat
      * DISTINCT over tc is pinned in R15ParitySpec instead). */
    private def selectShapeProbe(): Unit = r.nextInt(10) match {
      case 0 => q(s"SELECT DISTINCT a FROM t0 ORDER BY a" +
        s"${if (chance(0.3)) " DESC" else ""}")
      case 1 => q("SELECT DISTINCT b FROM t0 ORDER BY b")
      case 2 => q(s"SELECT DISTINCT a ${pick(Seq("+", "-", "*"))} " +
        s"${int(1, 3)} FROM t0 ORDER BY 1")
      case 3 => q(s"SELECT DISTINCT a, b FROM t0 ORDER BY a, b")
      case 4 => q(s"SELECT ${int(-3, 9)} ${pick(Seq("ORDER BY 1",
        "LIMIT 1", s"WHERE ${pick(Seq("1", "0", "'abc'", "'1x'"))}"))}")
      case 5 => q(s"SELECT ${int(0, 5)} + ${int(0, 5)} WHERE 1")
      case 6 => q(s"SELECT 0x${Integer.toHexString(int(0, 255))} AS h, " +
        s"-0x${Integer.toHexString(int(1, 15))} AS nh")
      case 7 => q(s"SELECT id, a IS ${int(-2, 6)} AS i1, " +
        s"a IS NOT ${int(-2, 6)} AS i2, b IS '${word()}' AS i3, " +
        "a IS NULL AS i4 FROM t0 ORDER BY id")
      case 8 => q(s"SELECT id FROM t0 ORDER BY id " +
        s"LIMIT ${pick(Seq("-1", "-1 OFFSET 2", s"${int(1, 4)}, ${int(0, 3)}",
          s"${int(1, 5)} OFFSET -2"))}")
      case _ => q(s"SELECT DISTINCT ${pick(Seq("a % 3", "length(b)",
        "a IS 2"))} FROM t0 ORDER BY 1")
    }

    /** Grammar v7: connection-state registers on the SELECT surface.
      * changes()/total_changes() parity is exact over applied statements;
      * SQLite also counts rows applied-then-undone by FAILED statements,
      * which this engine's registers do not — the checker excuses the
      * probe when an earlier statement in the batch errored (the
      * documented deviation; see check_oltp.py). */
    private def connStateProbe(): Unit =
      q("SELECT last_insert_rowid() AS lid, changes() AS ch, " +
        "total_changes() AS tc")

    /** Grammar v7: math family over live integer columns, restricted to
      * exact-value shapes (ceil/floor/trunc/mod/pow-with-small-int,
      * sqrt of squares) — transcendentals are battery-pinned in
      * R15ParitySpec, not fuzzed (libm vs java ulp drift). */
    private def mathProbe(): Unit = r.nextInt(5) match {
      case 0 => q("SELECT id, ceil(a * 1.0 / 2) AS c, floor(a * 1.0 / 2) " +
        "AS f, trunc(a * 1.0 / 2) AS t FROM t0 ORDER BY id")
      case 1 => q(s"SELECT id, mod(a, ${int(2, 4)}) AS m, mod(a, 0) AS z " +
        "FROM t0 ORDER BY id")
      case 2 => q(s"SELECT id, pow(a, 2) AS p, sqrt(a * a) AS s " +
        "FROM t0 ORDER BY id")
      case 3 => q(s"SELECT ceil(${int(-9, 9)}), floor('${numish()}'), " +
        "trunc('x'), mod(7, 0), log(-1), sqrt(-4), pi()")
      case _ => q(s"SELECT id, ceil(b) AS cb, floor(b) AS fb " +
        "FROM t0 ORDER BY id")
    }

    /** Grammar v7: json1 probes — random small documents assembled from
      * the integer/word pools, extraction/type/length/modification over
      * literal docs (exactly foldable, full dynamic typing), plus
      * json_array/json_object over live columns and the aggregates over
      * an id-ordered subquery (arrival order deterministic both sides). */
    private def jsonProbe(): Unit = {
      def doc(): String = r.nextInt(3) match {
        case 0 => s"""{"a":${int(-5, 9)},"b":[${int(0, 5)},${int(0, 5)}],""" +
          s""""c":{"d":"${word()}"},"e":${int(0, 9)}.5}"""
        case 1 => s"""[${int(0, 9)},"${word()}",null,{"k":${int(0, 5)}}]"""
        case _ => s"""{"x":"${word()}","y":true,"z":null}"""
      }
      val d = doc().replace("'", "''")
      r.nextInt(8) match {
        case 0 => q(s"SELECT json('$d') AS j, json_valid('$d') AS v, " +
          s"json_valid('{bad') AS b")
        case 1 => q(s"SELECT json_extract('$d', " +
          s"'${pick(Seq("$.a", "$.b", "$.b[1]", "$.c.d", "$.e", "$[0]",
            "$[#-1]", "$.zz", "$"))}') AS e")
        case 2 => q(s"SELECT json_type('$d') AS t, json_type('$d', " +
          s"'${pick(Seq("$.a", "$.c", "$.z", "$.zz"))}') AS pt")
        case 3 => q(s"SELECT json_array(${int(-3, 9)}, '${word()}', NULL) " +
          "AS a, json_object('k', " +
          s"${int(0, 9)}, 'w', '${word()}') AS o")
        case 4 => q(s"SELECT json_insert('$d', '$$.q', ${int(0, 9)}) AS i, " +
          s"json_set('$d', '$$.a', ${int(0, 9)}) AS s, " +
          s"json_remove('$d', '${pick(Seq("$.a", "$.zz", "$[0]"))}') AS r")
        case 5 =>
          if (chance(0.5))
            q("SELECT json_array(a, b) AS j FROM t0 ORDER BY id")
          else // -> / ->> operators incl. shorthand paths and chaining
            q(s"SELECT '$d' ${pick(Seq("->", "->>"))} " +
              s"'${pick(Seq("$.a", "a", "c", "x", "zz"))}' AS v, " +
              s"'$d' -> 'c' ->> 'd' AS w")
        case 6 => q("SELECT json_group_array(b) AS g FROM " +
          s"(SELECT b FROM t0 WHERE id <= ${int(2, 9)} ORDER BY id)")
        case _ => q("SELECT json_group_object('k' || id, a) AS g FROM " +
          s"(SELECT id, a FROM t0 WHERE id <= ${int(2, 6)} ORDER BY id)")
      }
    }

    /** rowid pseudo-column probes: SELECT/WHERE/DML over a plain rowid
      * table (pseudo-column) and t0 (INTEGER PRIMARY KEY alias). */
    private def rowidStep(): Unit =
      if (hasPlain) r.nextInt(8) match {
        case 0 => q("SELECT rowid, v FROM plain ORDER BY rowid")
        case 1 => q(s"SELECT _rowid_, v FROM plain WHERE oid ${pick(Seq(
          "<", ">", "="))} ${int(1, 6)} ORDER BY _rowid_")
        case 2 => q(s"SELECT * FROM plain WHERE rowid = ${int(1, 6)}")
        case 3 => x(s"DELETE FROM plain WHERE rowid = ${int(1, 6)}")
        case 4 => x(s"UPDATE plain SET v = v || 'r' WHERE rowid = " +
          s"${int(1, 6)}")
        case 5 => x(s"INSERT INTO plain VALUES ('${word()}')")
        case 6 => q("SELECT max(rowid) AS m, count(*) AS n FROM plain")
        case _ => q(s"SELECT p.rowid, p.v FROM plain AS p WHERE " +
          s"p.rowid > ${int(0, 4)} ORDER BY p.rowid")
      } else r.nextInt(4) match {
        case 0 => q("SELECT rowid, a FROM t0 ORDER BY rowid")
        case 1 => q(s"SELECT oid FROM t0 WHERE rowid = ${int(1, 9)}")
        case 2 => x(s"DELETE FROM t0 WHERE rowid = ${int(1, 9)}")
        case _ if hasT4 => q("SELECT rowid FROM t4") // both: no such column
        case _ => q(s"SELECT id FROM t0 WHERE _rowid_ <= ${int(2, 8)} " +
          "ORDER BY id")
      }

    /** Unordered scans: SQLite answers them in rowid order. */
    private def scanProbes(): Seq[String] =
      (if (hasLog) Seq("SELECT * FROM log") else Nil) ++
        (if (hasPlain) Seq("SELECT * FROM plain") else Nil) ++
        (if (t0Indexed) Nil else Seq("SELECT * FROM t0"))

    private def probe(): Unit = r.nextInt(10) match {
      case 0 => q("SELECT * FROM t0 ORDER BY id")
      case 1 => q("SELECT count(*) AS n FROM t0")
      case 2 => q(s"SELECT id, a FROM t0 WHERE a > ${int(-4, 6)} ORDER BY id")
      case 3 if t0AutoInc =>
        q("SELECT name, seq FROM sqlite_sequence ORDER BY name")
      case 4 => // schema introspection (sql/rootpage excluded: original-
        // text preservation after ALTER and page numbers are documented
        // engine-vs-SQLite representation differences)
        q("SELECT type, name, tbl_name FROM sqlite_master " +
          "WHERE type IN ('table', 'view', 'trigger') ORDER BY type, name")
      case 5 => // index roster introspection (grammar v5): list order,
        // origin/partial flags and autoindex ordinals are differential
        q(s"PRAGMA index_list(${pick(Seq("t0", "t2", "t3", "t4", "tc"))})")
      case 6 => // named or automatic; unknown names yield the empty
        // envelope on both sides
        q(s"PRAGMA index_info(${pick(Seq("idx_a", "uidx", "t3x",
          "sqlite_autoindex_t2_1", "sqlite_autoindex_tc_1"))})")
      case 7 => // full-column introspection incl. hidden generated slots
        q("PRAGMA table_xinfo(t0)")
      case 8 if scanProbes().nonEmpty => q(pick(scanProbes()))
      case _ if hasLog => q("SELECT lid, tag FROM log ORDER BY lid")
      case _ => q("SELECT id, b FROM t0 ORDER BY id")
    }

    private def epilogue(): Unit = {
      if (txDepth == 1) { x("COMMIT"); txDepth = 0 }
      q("SELECT * FROM t0 ORDER BY id")
      q("SELECT count(*) AS n FROM t0")
      if (hasChild) q("SELECT * FROM t1 ORDER BY id")
      if (hasT2) q("SELECT a, b, v FROM t2 ORDER BY a, b, v")
      if (tcColl.isDefined) q("SELECT id, s, v FROM tc ORDER BY id")
      if (t3Adv.isDefined) q("SELECT id, a, b FROM t3 ORDER BY id")
      if (hasT4) q("SELECT k, v FROM t4")
      if (hasPlain) q("SELECT rowid, v FROM plain ORDER BY rowid")
      if (hasTb) {
        q("SELECT id, hex(k), v FROM tb ORDER BY id")
        q("SELECT id, hex(bk), c FROM tbc ORDER BY id")
      }
      if (hasLog) q("SELECT lid, tag FROM log ORDER BY lid")
      scanProbes().foreach(q)
      if (t0AutoInc) q("SELECT name, seq FROM sqlite_sequence ORDER BY name")
      // full catalog incl. automatic-index naming parity
      q("SELECT type, name, tbl_name FROM sqlite_master ORDER BY type, name")
    }
  }
}
