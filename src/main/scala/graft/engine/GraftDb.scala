package graft.engine

import graft.command._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, expr, lit, lower, rtrim}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import Mem.{memStore, memUpdated}
import Store.ridSchema

/** The engine database: dust's capability contract re-expressed on Spark.
  *
  * Semantics mirrored from the reference (file:line into /root/reference):
  *  - open file/memory, close-once (`db/src/db.rs:77-117`)
  *  - FK toggle (`db/src/db.rs:120-140`)
  *  - execute batch: skip empty, per-statement error capture, continue past
  *    errors without tx, stop+rollback with tx (`db/src/db.rs:154-209`)
  *  - connection-level last_insert_rowid (`db/src/db.rs:192-197`)
  *  - query batch: row-major envelope, empty-result shape
  *    (`db/src/db.rs:223-290`)
  *  - durable ordered statement journal + snapshot — the functional analog
  *    of dust's Raft statement log (`DOC/DESIGN.md:49,54-55`): recovery =
  *    load snapshot manifest, replay journal suffix. Only deterministic SQL
  *    is journaled (`README.md:30-33`), enforced by a guard.
  *
  * Execution model: table state lives as versioned row snapshots (parquet
  * in file mode); every expression — VALUES literals, SET clauses, WHERE
  * predicates, full SELECTs — evaluates through Catalyst over temp views in
  * a private cloned SparkSession. Writes serialize behind one lock, exactly
  * like the reference's global store mutex (`http/src/service.rs:31`).
  *
  * Scale note: this envelope is the OLTP-parity surface (the reference
  * serializes every write and runs 10-200 ops/s, `README.md:27`); the
  * 100 TB analytics surface is SparkEntry/graft.ext, which never touches
  * this path. At scale the mutation strategy here generalizes to
  * partition-scoped copy-on-write rewrites; at dust's contract scale a
  * full-snapshot rewrite per commit is faithful and simpler.
  */
final class GraftDb private (parent: SparkSession, root: Option[Path],
                             maxDriverRows: Long) {

  /** A private session of this connection: the engine's own, and one per
    * lock-free read (`level=none`, `?version=N`). */
  private def connSession(): SparkSession = {
    val s = parent.newSession()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    // Upstream hazard (found by the OLTP fuzzer, seed 70): after long chains
    // of Big-store mutations, the optimizer's Union constraint rewrite
    // (UnionBase.rewriteConstraints) can hit "key not found: attr#N" when a
    // child's inferred constraints mention attributes outside the rewrite
    // map. Engine-internal statement plans are OLTP-sized, so constraint
    // propagation buys nothing here (user analytics sessions are untouched).
    s.conf.set("spark.sql.constraintPropagation.enabled", "false")
    // SQLite core scalar functions (date/time family + misc) — the
    // reference's delegated SQLite gives its users these on every query
    // (db/src/db.rs:278); see SqliteFunctions for semantics
    SqliteFunctions.register(s, () => csLike)
    SqliteFunctions.registerConnState(s, () => lastRowId,
      () => lastChanges, () => totalChanges)
    s
  }

  private val session = connSession()

  // PRAGMA case_sensitive_like state (SQLite default: insensitive). Set
  // through the journaled PRAGMA path, so crash replay reproduces the
  // LIKE semantics each statement ran under.
  private var csLike = false

  /** Every OLTP statement executes through the SQLite-semantics rewrite
    * ([[SqliteRewrite]]): parse, substitute SQLite expression forms,
    * run. The analytics surface (SparkEntry sessions) never routes
    * here. */
  private def ssql(sqlText: String): DataFrame =
    SqliteRewrite.run(session, sqlText, csLike)

  private type Tables = mutable.LinkedHashMap[String, TableState]
  private var tables: Tables = mutable.LinkedHashMap.empty
  // secondary-index catalog (SQLite pass-through surface): metadata only —
  // Catalyst plans the scans — except UNIQUE indexes, which add uniqueness
  // constraints enforced through validateIdx/the conflict policies.
  private var indexes: mutable.LinkedHashMap[String, Ddl.CreateIndex] =
    mutable.LinkedHashMap.empty
  // SQL views (SQLite pass-through): stored as their SELECT text, expanded
  // by Catalyst at query time. Like SQLite, validation is lazy — a view
  // over a missing table errors at use, not at creation. (name, select, sql)
  private var viewDefs: mutable.LinkedHashMap[String, (String, String, String)] =
    mutable.LinkedHashMap.empty
  private var fkEnabled = false
  private var lastRowId = 0L
  // set per-statement by insertRows: WITHOUT ROWID tables never advance
  // the connection's last_insert_rowid
  private var lidSuppressed = false
  private def noteLid(rid: Long): Unit = if (!lidSuppressed) lastRowId = rid
  // SQLite's changes()/total_changes() registers (VERDICT r14 #1): the
  // most recent top-level INSERT/UPDATE/DELETE's row count, and the
  // connection-lifetime total. Trigger-body DML counts into the total
  // only — SQLite's changes() is "exclusive of statements in lower-level
  // triggers". Never decremented (rollback does not undo them, probed).
  private var lastChanges = 0L
  private var totalChanges = 0L
  private def noteChanges(r: Either[String, Long]): Either[String, Long] = {
    r.foreach { n =>
      totalChanges += n
      if (activeTriggers.isEmpty) lastChanges = n
    }
    r
  }
  private var closed = false
  private val lock = new Object
  private var triggers: mutable.LinkedHashMap[String, TriggerDef] =
    mutable.LinkedHashMap.empty
  // triggers currently on the firing stack — SQLite's default
  // recursive_triggers=OFF semantics: a trigger never re-enters itself
  // (directly or through a cycle), but a trigger's DML does fire OTHER
  // tables' triggers
  private var activeTriggers: Set[String] = Set.empty
  // PRAGMA user_version storage (persisted in the manifest)
  private var userVersion = 0L
  // PRAGMA schema_version: bumped on every successful DDL statement
  // (SQLite 3.40: CREATE/DROP/ALTER increment it, DML does not)
  private var schemaVersion = 0L
  // Explicit BEGIN/COMMIT/ROLLBACK state: connection-scoped, survives
  // across execute batches (SQLite: the tx belongs to the connection, not
  // the statement batch). Holds the uncommitted working tables plus
  // catalog backups for rollback (index/view/trigger DDL mutates the live
  // catalogs directly).
  private final case class TxCtx(
      work: Tables,
      idx: mutable.LinkedHashMap[String, Ddl.CreateIndex],
      views: mutable.LinkedHashMap[String, (String, String, String)],
      trigs: mutable.LinkedHashMap[String, TriggerDef],
      // true when SAVEPOINT opened this tx: releasing the last savepoint
      // commits it (SQLite's savepoint-started implicit transaction)
      implicitTx: Boolean = false)
  private var openTx: Option[TxCtx] = None
  // savepoint stack, most recent last: name (lowercased — SQLite matches
  // case-insensitively) + a state snapshot to restore on ROLLBACK TO
  private final case class Savepoint(
      name: String,
      work: Tables,
      idx: mutable.LinkedHashMap[String, Ddl.CreateIndex],
      views: mutable.LinkedHashMap[String, (String, String, String)],
      trigs: mutable.LinkedHashMap[String, TriggerDef])
  private val savepoints = mutable.ListBuffer.empty[Savepoint]

  private def liveCatalog(work: Tables): Catalog =
    Catalog(work.values, indexes.values, viewDefs.values, triggers.values,
      userVersion, schemaVersion)

  // last committed version, published for lock-free `none` reads (stores
  // are immutable values; the volatile swap selects the version)
  @volatile private var committed: Catalog =
    Catalog(Nil, Nil, Nil, Nil, 0L, 0L)

  private def publishCommitted(): Unit =
    committed = Catalog(tables.values.map(_.copyState).toVector,
      indexes.values.toVector, viewDefs.values.toVector,
      triggers.values.toVector, userVersion, schemaVersion)

  // ---------- public API (the store seam, reference store/src/lib.rs:7-28) --

  def close(): Either[String, Unit] = lock.synchronized {
    if (closed) Left("db connection is already closed")
    else {
      closed = true
      durability.foreach(_.close())
      // Big bucket files are NOT deleted here: a lock-free `none`-level
      // read may still be scanning them (it runs outside this lock by
      // design). Superseded generations are refcount-swept at
      // checkpoint time ([[sweepBigGenerations]]); whatever remains is
      // dead weight on disk until the next open() on this root sweeps it.
      Right(())
    }
  }

  def enableFkConstraints(flag: Boolean): Unit =
    lock.synchronized { fkEnabled = flag }
  def fkConstraints(): Boolean = lock.synchronized { fkEnabled }

  /** Fuzzer probe: is an explicit transaction (BEGIN, SAVEPOINT) open? */
  private[graft] def inTransaction: Boolean = lock.synchronized(openTx.isDefined)

  /** Test probe: is the table on the Spark-resident (spilled) store? */
  private[engine] def isSpilled(table: String): Boolean = lock.synchronized {
    tables.get(table.toLowerCase).exists(_.store.isInstanceOf[Big])
  }

  def execute(req: Request): Either[String, Seq[Response]] = lock.synchronized {
    if (closed) return Left("db connection is already closed")
    // Guard the RAW statement text, before parameter binding — bound Text
    // data must never trip the determinism check (a document containing
    // "now(" is legitimate data, not a function call).
    req.statements.filter(_.sql.trim.nonEmpty).foreach { s =>
      nonDeterministic(s.sql).foreach(f => return Left(
        s"non-deterministic function $f is not allowed in an execute batch " +
          "(statement-log replication requires deterministic SQL)"))
    }
    val bound = req.statements.map(s => SqlText.bind(s.sql, s.parameters))
    journalAppend(req.transaction, bound)
    // a request-level transaction batch is itself a BEGIN; opening it while
    // an explicit connection tx is pending is SQLite's nested-BEGIN error
    if (req.transaction && openTx.isDefined)
      return Left("cannot start a transaction within a transaction")
    val work: Tables = if (req.transaction) snapshot() else tables
    // index/view DDL mutates the catalogs directly; snapshot for tx rollback
    val idxBackup =
      if (req.transaction) Some(mutable.LinkedHashMap(indexes.toSeq: _*))
      else None
    val viewBackup =
      if (req.transaction) Some(mutable.LinkedHashMap(viewDefs.toSeq: _*))
      else None
    val trigBackup =
      if (req.transaction) Some(mutable.LinkedHashMap(triggers.toSeq: _*))
      else None
    val results = Seq.newBuilder[Response]
    var rolledBack = false
    val it = bound.iterator
    while (it.hasNext && !rolledBack) {
      val sql = it.next()
      if (sql.trim.nonEmpty) {
        // rusqlite's conn.execute on a RETURNING statement: prepare
        // resolves the projection (errors before any mutation), the first
        // step runs the WHOLE DML (SQLite materializes RETURNING output
        // there), then the pending row surfaces as ExecuteReturnedResults —
        // the mutation stays applied unless the request-level tx rolls the
        // batch back (db/src/db.rs:176-190). Zero-row RETURNING output
        // steps straight to DONE and succeeds normally. Probed live.
        val retPrepareErr: Option[String] = splitReturning(sql).flatMap {
          case (base, retList) =>
            validateReturningList(retList).orElse {
              val visible = openTx.map(_.work).getOrElse(work)
              dmlTableName(base)
                .flatMap(n => visible.get(n.toLowerCase)).flatMap { ts =>
                  try { returningDf(visible, ts.d, Vector.empty, retList)
                    .schema; None }
                  catch { case e: Exception => Some(retError(e)) }
                }
            }
        }
        retPrepareErr match {
          case Some(err) =>
            results += Response(error = err)
            if (req.transaction) rolledBack = true
          case None => dispatch(work, req.transaction, sql) match {
            case Left(err) =>
              results += Response(error = err)
              if (req.transaction) rolledBack = true
            case Right(affected) =>
              if (affected > 0 && splitReturning(sql).isDefined) {
                results += Response(
                  error = "Execute returned results - did you mean to call query?")
                if (req.transaction) rolledBack = true
              } else results += Response(lastRowId, affected)
          }
        }
      }
    }
    if (req.transaction && !rolledBack) tables = work
    if (rolledBack) {
      idxBackup.foreach(indexes = _)
      viewBackup.foreach(viewDefs = _)
      trigBackup.foreach(triggers = _)
    }
    // the wrapper tx's COMMIT/ROLLBACK releases savepoints made in it
    if (req.transaction) savepoints.clear()
    if (!req.transaction || !rolledBack) persist()
    Right(results.result())
  }

  def query(req: Request): Either[String, Seq[RowsResult]] =
    query(req, ReadLevel.Weak)

  /** Query at a read-consistency level (rqlite's none/weak/strong vocabulary,
    * SURVEY §3.2, degenerating to snapshot-version selection in this
    * single-writer engine):
    *  - `strong`: serialized behind the write lock AND asserts the journal
    *    is fully applied before reading (the analog of a consensus read);
    *  - `weak` (default): leader-local read behind the lock — sees every
    *    committed write, no journal assertion;
    *  - `none`: lock-free read of the last COMMITTED version on a reader
    *    session — never blocks behind a writer, may trail an in-flight
    *    batch (stale-tolerant follower read). Read statements only.
    *
    * Every level and [[queryAsOf]] read through one pipeline —
    * [[registerCatalog]] then [[runBatch]] — and differ only in the session
    * and the table frames they pass; weak/strong also run writes here.
    */
  def query(req: Request, level: ReadLevel): Either[String, Seq[RowsResult]] =
    level match {
      case ReadLevel.None =>
        if (closed) return Left("db connection is already closed")
        val cat = committed // volatile read: one consistent version
        val s = connSession()
        registerCatalog(s, cat, cat.tables.map(storeFrame(s, _)))
        runBatch(req, s, cat, ())(_ =>
          Left("level=none supports read statements only"))
      case _ => lock.synchronized {
        if (closed) return Left("db connection is already closed")
        if (level == ReadLevel.Strong && !durability.forall(_.caughtUp))
          return Left("strong read failed: journal not fully applied")
        // reads on this connection see the open explicit tx's
        // uncommitted state (SQLite: the tx is connection-scoped)
        def visible = openTx.map(_.work).getOrElse(tables)
        runBatch(req, session, liveCatalog(visible), registerViews(visible)) {
          sql =>
            // the reference's _query prepares+steps any statement — DDL/DML
            // executes and yields rows if it has them (RETURNING) or the
            // empty envelope (db/src/db.rs:764-768). Writes through this
            // path journal like execute-path writes (same durability) and
            // carry the same determinism requirement.
            nonDeterministic(sql) match {
              case Some(f) => Left(s"non-deterministic function $f is not " +
                "allowed in an execute batch (statement-log replication " +
                "requires deterministic SQL)")
              case None => splitReturning(sql) match {
                case Some((base, retList)) => runReturning(sql, base, retList)
                case None =>
                  journalAppend(tx = false, Seq(sql))
                  dispatch(tables, reqTx = false, sql).map { _ =>
                    persist(); RowsResult(Nil, Nil, Nil)
                  }
              }
            }
        }
      }
    }

  /** Run a query batch on `s`: read statements through [[readOne]]
    * against `cat` (re-evaluated per statement, since a write may change
    * it), every other statement through `write`. The first error ends the
    * batch. `inRowidOrder`: whose `__rid_` view lists rows in rowid
    * order ([[readOne]]). */
  private def runBatch(req: Request, s: SparkSession, cat: => Catalog,
      register: => Unit, inRowidOrder: TableState => Boolean = liveOrder _)(
      write: String => Either[String, RowsResult])
      : Either[String, Seq[RowsResult]] = {
    val out = Seq.newBuilder[RowsResult]
    req.statements.foreach { st =>
      val sql = SqlText.bind(st.sql, st.parameters)
      if (sql.trim.nonEmpty)
        (if (isRowReturning(sql)) readOne(s, cat, sql, register, inRowidOrder)
         else write(sql)) match {
          case Right(r) => out += r
          case Left(e) => return Left(e)
        }
    }
    Right(out.result())
  }

  private def liveOrder(ts: TableState): Boolean = ts.store.isInstanceOf[Mem]

  /** One read statement against `cat`. The pragmas answer from the
    * catalog and the connection state; any other statement runs on `s`
    * once `register` has brought its views up to date. `inRowidOrder`
    * holds for a table whose `__rid_` view lists its rows in rowid order:
    * a live `Mem` store, not a spilled one or a snapshot file. */
  private def readOne(s: SparkSession, cat: Catalog, sql: String,
      register: => Unit, inRowidOrder: TableState => Boolean = liveOrder _)
      : Either[String, RowsResult] = {
    def arg(re: scala.util.matching.Regex) =
      re.findFirstMatchIn(sql).map(_.group(1))
    if (sql.trim.toUpperCase.startsWith("PRAGMA FOREIGN_KEYS"))
      // PRAGMA read: one row, SQLite reports 0/1 (db/src/db.rs:133-140)
      Right(RowsResult(Seq("foreign_keys"), Seq("integer"),
        Seq(Seq(Value.Integer(if (fkEnabled) 1 else 0)))))
    else arg(valuePragmaRe).map(valuePragma(cat, _))
      .orElse(arg(tableInfoRe).map(tableInfo(cat, _)))
      .orElse(arg(tableXinfoRe).map(tableInfo(cat, _, xinfo = true)))
      .orElse(arg(indexListRe).map(indexList(cat, _)))
      .orElse(arg(indexInfoRe).map(indexInfo(cat, _)))
      .map(Right(_))
      .getOrElse(try {
        register
        // alias FIRST (envelope column names keep the SQLite spelling of
        // `expr COLLATE NOCASE`), then expose the rowid pseudo-column,
        // then map the collation names for Catalyst
        SqlText.mapCollations(SqlText.exposeRowid(
            SqlText.aliasSelectList(SqlText.fixQuotedIdents(sql)),
            rowidInfoOf(cat.table, inRowidOrder)))
          .map(q => envelope(SqliteRewrite.run(s, q, csLike)))
      } catch { case e: Exception => Left(friendlyError(e)) })
  }

  // ---------- RETURNING (SQLite 3.35+ DML surface) -------------------------
  // The reference reaches RETURNING through its _query path — prepare +
  // query_map runs ANY statement and yields its rows (db/src/db.rs:231-290)
  // — while its _execute path surfaces rusqlite's ExecuteReturnedResults
  // error AFTER the first step already applied the whole DML (SQLite
  // materializes all RETURNING output on the first sqlite3_step). Both
  // behaviors captured live from SQLite 3.40 / rusqlite 0.25 and pinned in
  // ReturningSpec + the OLTP differential fuzzer.

  /** Armed by the query-path wrapper for ONE statement; the mutation
    * executors capture (rowid, post-image) in SQLite's observable order
    * and disarm — so trigger-body DML running after the outer statement
    * can never clobber the outer capture. */
  private var retArmed = false
  private var retCaptured: Option[(TableDef, Vector[(Long, IndexedSeq[Any])])] = None

  private def captureRet(td: TableDef,
                         rows: => Vector[(Long, IndexedSeq[Any])]): Unit =
    if (retArmed) { retCaptured = Some((td, rows)); retArmed = false }

  private def retTooMany(table: String): String =
    s"too many rows for RETURNING processing on $table: the statement " +
      s"affects more than $maxDriverRows rows (RETURNING materializes its " +
      "output on the driver; raise maxDriverRows or drop the clause)"

  /** Split a DML statement's top-level RETURNING clause off: (base, list).
    * Quote/paren-aware, so RETURNING inside a literal or subquery never
    * matches. None for non-DML or clause-less statements. */
  private def splitReturning(sql: String): Option[(String, String)] = {
    if (!Set("INSERT", "REPLACE", "UPDATE", "DELETE").contains(firstWord(sql))
      && splitWithDml(sql).isEmpty)
      None
    else {
      val i = SqlText.findKeyword(sql, "RETURNING")
      if (i < 0) None
      else Some((sql.take(i),
        sql.substring(i + "RETURNING".length).trim.stripSuffix(";").trim))
    }
  }

  private val retTableRe =
    """(?is)^\s*(?:INSERT(?:\s+OR\s+\w+)?\s+INTO|REPLACE\s+INTO|UPDATE|DELETE\s+FROM)\s+[`"]?([A-Za-z_][A-Za-z0-9_]*)[`"]?""".r
  private def dmlTableName(sql: String): Option[String] = {
    val s = splitWithDml(sql).map(_._3).getOrElse(sql)
    retTableRe.findFirstMatchIn(s).map(_.group(1))
  }

  private val retAggRe =
    """(?i)\b(count|sum|avg|min|max|total|group_concat|string_agg)\s*\(""".r
  private val retWinRe =
    """(?i)\b(row_number|rank|dense_rank|ntile|lag|lead|first_value|last_value|nth_value|percent_rank|cume_dist)\s*\(""".r
  private val retOverRe = """(?i)\b([A-Za-z_][A-Za-z0-9_]*)\s*\([^()]*\)\s+over\s*\(""".r

  /** SQLite resolves the RETURNING projection at prepare time; aggregates
    * and window functions are rejected with its exact error texts.
    * `min`/`max` with two-plus top-level arguments are the SCALAR
    * overloads (live probe 3.40: `RETURNING max(a,b)` → 2) and pass. */
  private def validateReturningList(retList: String): Option[String] = {
    val noLit = retList.replaceAll("'(?:[^']|'')*'", "''")
    def scalarMinMax(m: scala.util.matching.Regex.Match): Boolean = {
      val fn = m.group(1).toLowerCase
      if (fn != "min" && fn != "max") return false
      // count top-level commas inside this call's parens
      var depth = 0; var args = 1; var i = m.end - 1; var done = false
      var sawNonSpace = false
      while (i < noLit.length && !done) {
        val c = noLit.charAt(i)
        if (c == '(') depth += 1
        else if (c == ')') { depth -= 1; if (depth == 0) done = true }
        else if (c == ',' && depth == 1) args += 1
        else if (depth >= 1 && !c.isWhitespace) sawNonSpace = true
        i += 1
      }
      sawNonSpace && args >= 2
    }
    retOverRe.findFirstMatchIn(noLit)
      .map(m => s"misuse of window function ${m.group(1).toLowerCase}()")
      .orElse(retWinRe.findFirstMatchIn(noLit)
        .map(m => s"misuse of window function ${m.group(1).toLowerCase}()"))
      .orElse(retAggRe.findAllMatchIn(noLit).find(m => !scalarMinMax(m))
        .map(m => s"misuse of aggregate function ${m.group(1).toLowerCase}()"))
  }

  /** Evaluate a RETURNING list over captured row images (empty `rows` =
    * prepare-time analysis only). The capture registers as a temp view
    * aliased to the TABLE name (qualified refs resolve), with the rowid
    * pseudo-column exposed unless a declared column shadows it, `__seq`
    * pinning the capture's statement order, and `*` expanded to the declared
    * columns. Item naming is SQLite's: alias, bare column name, else the
    * verbatim expression text ([[SqlText.aliasSelectList]]). */
  private def returningDf(work: Tables, td: TableDef,
      rows: Vector[(Long, IndexedSeq[Any])], retList: String): DataFrame = {
    registerViews(work)
    // WITHOUT ROWID tables have no rowid pseudo-column to expose
    val shadowed = td.withoutRowid ||
      td.cols.exists(_.name.equalsIgnoreCase("rowid"))
    val fields = StructField("__seq", LongType, nullable = false) +:
      ((if (shadowed) Array.empty[StructField]
        else Array(StructField("rowid", LongType, nullable = false))) ++
        td.schema.fields)
    val data = rows.zipWithIndex.map { case ((rid, vals), i) =>
      Row.fromSeq(if (shadowed) i.toLong +: vals else i.toLong +: rid +: vals)
    }.asJava
    session.createDataFrame(data, StructType(fields))
      .createOrReplaceTempView("__graft_ret")
    val items = SqlText.splitTopLevel(retList).map(_.trim).filter(_.nonEmpty)
    val expanded = items.flatMap { it =>
      if (it == "*" || it.equalsIgnoreCase(td.name + ".*"))
        td.cols.map(_.name) // bare: the envelope reports the plain names
      else Seq(it)
    }
    ssql(SqlText.aliasSelectList(
      s"SELECT ${expanded.mkString(", ")} FROM __graft_ret AS `${td.name}`") +
      " ORDER BY __seq")
  }

  /** Map a Spark analysis error on the RETURNING projection to SQLite's
    * prepare-time text. */
  private def retError(e: Exception): String = {
    val m = Option(e.getMessage).getOrElse(e.toString)
    if (m.contains("UNRESOLVED_COLUMN")) {
      val name = "with name `(.+?)` cannot".r.findFirstMatchIn(m)
        .map(_.group(1).replace("`.`", ".").replace("`", ""))
        .getOrElse("?")
      s"no such column: $name"
    } else friendlyError(e)
  }

  /** Query-path DML with a RETURNING clause: resolve the projection first
    * (SQLite prepare fails before any row is touched), run the mutation
    * (journaled like any other write), then project the captured images. */
  private def runReturning(sql: String, base: String,
                           retList: String): Either[String, RowsResult] = {
    validateReturningList(retList).foreach(e => return Left(e))
    val visible0 = openTx.map(_.work).getOrElse(tables)
    dmlTableName(base).flatMap(n => visible0.get(n.toLowerCase)).foreach { ts =>
      try returningDf(visible0, ts.d, Vector.empty, retList).schema
      catch { case e: Exception => return Left(retError(e)) }
    }
    journalAppend(tx = false, Seq(sql), returning = true)
    retArmed = true; retCaptured = None
    val r = try dispatch(tables, reqTx = false, base) finally retArmed = false
    val out = r match {
      case Left(err) => Left(err)
      case Right(_) =>
        persist()
        retCaptured match {
          case Some((td, rows)) =>
            val work = openTx.map(_.work).getOrElse(tables)
            try Right(envelope(returningDf(work, td, rows, retList)))
            catch { case e: Exception => Left(retError(e)) }
          case None => Right(RowsResult(Nil, Nil, Nil))
        }
    }
    retCaptured = None
    out
  }

  // ---------- streaming ingest bridge (dust's ordered-log design:
  // micro-batches append to the SAME statement journal as interactive
  // writes, with an exactly-once watermark) --------------------------------

  /** Highest streaming micro-batch id durably applied. Journal lines carry
    * `"streamBatch":id`; the manifest persists the watermark at checkpoint
    * time; recovery restores it from whichever is newer. */
  private var lastStreamBatch = -1L
  private var pendingStreamBatch: Option[Long] = None

  /** Watermark probe (specs/monitoring). */
  def streamBatchWatermark: Long = lock.synchronized(lastStreamBatch)

  /** Exactly-once micro-batch ingest — the Structured Streaming
    * `foreachBatch` bridge (see [[graft.streaming.JournalIngest]]).
    * `rows` are full-width tuples for `table` in declared column order,
    * within the engine's integer/text/real value domain. The batch is
    * applied as ONE journaled transaction stamped with `batchId`:
    *  - a batchId at or below the durable watermark is a no-op (Structured
    *    Streaming re-delivers the last uncommitted batch after a restart —
    *    the stamp, not the sink, is the commit record);
    *  - crash before the journal append: nothing applied, the source
    *    re-delivers — no loss;
    *  - crash after the append: replay re-applies the transaction AND
    *    restores the watermark from the stamp — no duplication. */
  def ingestBatch(table: String, batchId: Long,
                  rows: Seq[Seq[Any]]): Either[String, Long] =
    lock.synchronized {
      if (closed) return Left("db connection is already closed")
      if (batchId <= lastStreamBatch) return Right(0L)
      val stmts =
        if (rows.isEmpty) Seq.empty[Statement] // journal stamp only
        else rows.grouped(512).map(ch =>
          Statement(s"INSERT INTO $table VALUES " +
            ch.map(_.map(sqlLit).mkString("(", ", ", ")")).mkString(", ")))
          .toSeq
      pendingStreamBatch = Some(batchId)
      try execute(Request(transaction = true, stmts)) match {
        case Left(e) => Left(e)
        case Right(rs) => rs.find(_.error.nonEmpty) match {
          case Some(r) => Left(r.error)
          case None =>
            lastStreamBatch = batchId
            Right(rows.size.toLong)
        }
      } finally pendingStreamBatch = None
    }

  def executeStringStmt(sql: String): Either[String, Seq[Response]] =
    execute(Request(transaction = false, Seq(Statement(sql))))
  def queryStringStmt(sql: String): Either[String, Seq[RowsResult]] =
    query(Request(transaction = false, Seq(Statement(sql))))

  // ---------- statement execution -----------------------------------------

  private def firstWord(sql: String): String =
    sql.trim.takeWhile(c => Character.isLetter(c)).toUpperCase

  /** A read: a row-returning query, or a pragma that reports (the
    * connection and value pragmas, table and index introspection). */
  private def isRowReturning(sql: String): Boolean =
    (Set("SELECT", "VALUES", "WITH", "EXPLAIN", "SHOW")
      .contains(firstWord(sql)) && splitWithDml(sql).isEmpty) ||
      sql.trim.toUpperCase.startsWith("PRAGMA FOREIGN_KEYS") &&
        !sql.contains("=") ||
      Seq(valuePragmaRe, tableInfoRe, tableXinfoRe, indexListRe, indexInfoRe)
        .exists(_.findFirstMatchIn(sql).isDefined)

  // Word-boundary matches only (substring matching flagged identifiers like
  // `brand(` via `rand(`); literals are stripped first so quoted data can
  // never match.
  private val nonDetRe =
    """(?i)\b(random|randomblob|rand|uuid|now)\s*\(|\b(current_timestamp|current_date|current_time)\b""".r

  private def nonDeterministic(sql: String): Option[String] = {
    val noLiterals = sql.replaceAll("'(?:[^']|'')*'", "''")
    nonDetRe.findFirstMatchIn(noLiterals).map { m =>
      Option(m.group(1)).getOrElse(m.group(2)).toLowerCase
    }
  }

  private val savepointRe =
    """(?is)^\s*SAVEPOINT\s+["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*;?\s*$""".r
  private val releaseRe =
    """(?is)^\s*RELEASE\s+(?:SAVEPOINT\s+)?["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*;?\s*$""".r
  private val rollbackToRe =
    """(?is)^\s*ROLLBACK\s+(?:TRANSACTION\s+)?TO\s+(?:SAVEPOINT\s+)?["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*;?\s*$""".r

  /** Route one statement: explicit transaction-control statements act on
    * the connection-scoped [[openTx]] (SQLite semantics + error strings);
    * everything else executes via [[executeOne]] against the open tx's
    * working tables when one is pending, else against `batchWork`. */
  private def dispatch(batchWork: Tables, reqTx: Boolean,
                       sql: String): Either[String, Long] =
    firstWord(sql) match {
      case "BEGIN" =>
        if (openTx.isDefined || reqTx)
          Left("cannot start a transaction within a transaction")
        else {
          openTx = Some(TxCtx(snapshot(),
            mutable.LinkedHashMap(indexes.toSeq: _*),
            mutable.LinkedHashMap(viewDefs.toSeq: _*),
            mutable.LinkedHashMap(triggers.toSeq: _*)))
          Right(0)
        }
      case "COMMIT" | "END" => openTx match {
        case Some(ctx) =>
          tables = ctx.work; openTx = None; savepoints.clear(); Right(0)
        case None => Left("cannot commit - no transaction is active")
      }
      case "SAVEPOINT" => sql match {
        case savepointRe(name) =>
          // SAVEPOINT outside any tx starts a savepoint-started implicit
          // one (committed by releasing its last savepoint). Inside a
          // request-level tx batch, savepoints nest on the batch work.
          if (openTx.isEmpty && !reqTx)
            openTx = Some(TxCtx(snapshot(),
              mutable.LinkedHashMap(indexes.toSeq: _*),
              mutable.LinkedHashMap(viewDefs.toSeq: _*),
              mutable.LinkedHashMap(triggers.toSeq: _*), implicitTx = true))
          val eff = openTx.map(_.work)
            .getOrElse(if (reqTx) batchWork else tables)
          savepoints += Savepoint(name.toLowerCase,
            eff.map { case (k, v) => k -> v.copyState },
            mutable.LinkedHashMap(indexes.toSeq: _*),
            mutable.LinkedHashMap(viewDefs.toSeq: _*),
            mutable.LinkedHashMap(triggers.toSeq: _*))
          Right(0)
        case _ => Left("near \"SAVEPOINT\": syntax error")
      }
      case "RELEASE" => sql match {
        case releaseRe(name) =>
          savepoints.lastIndexWhere(_.name == name.toLowerCase) match {
            case -1 => Left(s"no such savepoint: $name")
            case i =>
              savepoints.remove(i, savepoints.length - i)
              // releasing the last savepoint of a savepoint-started tx
              // commits it (captured live from SQLite 3.40)
              if (savepoints.isEmpty && openTx.exists(_.implicitTx)) {
                tables = openTx.get.work; openTx = None
              }
              Right(0)
          }
        case _ => Left("near \"RELEASE\": syntax error")
      }
      case "ROLLBACK" =>
        sql match {
          case rollbackToRe(name) =>
            savepoints.lastIndexWhere(_.name == name.toLowerCase) match {
              case -1 => Left(s"no such savepoint: $name")
              case i =>
                val sp = savepoints(i)
                // state reverts to the savepoint; the savepoint survives
                savepoints.remove(i + 1, savepoints.length - i - 1)
                val eff = openTx.map(_.work)
                  .getOrElse(if (reqTx) batchWork else tables)
                eff.clear()
                sp.work.foreach { case (k, v) => eff(k) = v.copyState }
                indexes = mutable.LinkedHashMap(sp.idx.toSeq: _*)
                viewDefs = mutable.LinkedHashMap(sp.views.toSeq: _*)
                triggers = mutable.LinkedHashMap(sp.trigs.toSeq: _*)
                Right(0)
            }
          case _ => openTx match {
            case Some(ctx) =>
              indexes = ctx.idx; viewDefs = ctx.views; triggers = ctx.trigs
              openTx = None; savepoints.clear(); Right(0)
            case None => Left("cannot rollback - no transaction is active")
          }
        }
      case _ =>
        // !reqTx reads the live `tables` field, not the captured batch
        // reference: a mid-batch COMMIT reassigns the field and would
        // orphan subsequent statements in this batch otherwise
        executeOne(openTx.map(_.work)
          .getOrElse(if (reqTx) batchWork else tables), sql, reqTx)
    }

  /** Execute one mutating statement against `work`. Returns rows_affected;
    * updates connection-level lastRowId on successful INSERT. */
  private def executeOne(work: Tables, sql0full: String,
                         reqTx: Boolean = false): Either[String, Long] = {
    // a RETURNING clause never changes WHAT a DML statement does — only
    // what its caller reads back. Stripping here makes every route (execute
    // envelope, query wrapper, journal replay) apply identical mutations.
    val retStripped = splitReturning(sql0full).map(_._1).getOrElse(sql0full)
    // SQLite CTE-prefixed DML: the CTE list is statement-scoped state
    // (registerViews appends the CTE views LAST so they shadow tables,
    // exactly SQLite's resolution order); the inner executor then sees
    // the plain DML tail. Save/restore keeps trigger-body statements from
    // inheriting or clobbering the outer statement's CTEs.
    val (cteInfo, sql0) = splitWithDml(retStripped) match {
      case Some((rec, ctes, tail)) => (Some((rec, ctes)), tail)
      case None => (None, retStripped)
    }
    // expression-level `COLLATE name` maps onto Spark's collations before
    // any DML sub-expression reaches Catalyst; CREATE-family statements
    // keep their verbatim text (executeOneInner routes those via sql0 and
    // Ddl parses the SQLite names itself)
    val sql = SqlText.mapCollations(SqlText.fixQuotedIdents(sql0)) match {
      case Left(e) => return Left(e)
      case Right(s2) => s2
    }
    val kw = firstWord(sql)
    val savedCtes = (pendingCtes, pendingCtesRec)
    pendingCtes = cteInfo.map(_._2.map(c => (cteName(c), c))).getOrElse(Nil)
    pendingCtesRec = cteInfo.exists(_._1)
    val r = try executeOneInner(work, sql0, sql, kw, reqTx)
    finally { pendingCtes = savedCtes._1; pendingCtesRec = savedCtes._2 }
    if (r.isRight && Set("CREATE", "DROP", "ALTER").contains(kw))
      schemaVersion += 1
    r
  }

  /** SQLite CTE-prefixed DML (`WITH [RECURSIVE] ctes INSERT|UPDATE|DELETE|
    * REPLACE ...`): (recursive, cte definitions, dml tail). None for plain
    * queries (WITH..SELECT) and non-WITH statements. CTE bodies are
    * parenthesized, so a top-level DML keyword can only be the tail. */
  private def splitWithDml(sql: String)
      : Option[(Boolean, Seq[String], String)] = {
    if (firstWord(sql) != "WITH") return None
    val hits = Seq("INSERT", "REPLACE", "UPDATE", "DELETE").flatMap { k =>
      val i = SqlText.findKeyword(sql, k)
      // belt-and-braces: valid DML always has whitespace after the verb
      if (i >= 0 && i + k.length < sql.length &&
        sql.charAt(i + k.length).isWhitespace) Some(i)
      else None
    }
    if (hits.isEmpty) return None
    val i = hits.min
    val w = sql.toUpperCase.indexOf("WITH")
    var cteText = sql.substring(w + 4, i).trim
    val rec = cteText.toUpperCase.startsWith("RECURSIVE") &&
      (cteText.length == 9 || !Character.isLetterOrDigit(cteText.charAt(9)))
    if (rec) cteText = cteText.substring(9).trim
    Some((rec, SqlText.splitTopLevel(cteText).map(_.trim), sql.substring(i)))
  }

  private val cteNameRe = """^\s*[`"]?([A-Za-z_][A-Za-z0-9_]*)""".r
  private def cteName(cteDef: String): String =
    cteNameRe.findFirstMatchIn(cteDef).map(_.group(1)).getOrElse(cteDef)

  /** Statement-scoped CTEs for the DML currently executing (set by
    * [[executeOne]], registered by [[registerViews]]). `cteRegistered`
    * tracks the temp views those registrations created so the NEXT
    * [[registerViews]] drops the stale ones — otherwise a dead CTE name
    * would keep resolving (`SELECT * FROM m` after `WITH m AS (…) UPDATE`
    * must be `no such table: m`, CteDmlSpec). */
  private var pendingCtes: Seq[(String, String)] = Nil
  private var pendingCtesRec = false
  private var cteRegistered: Set[String] = Set.empty

  private def executeOneInner(work: Tables, sql0: String, sql: String,
                              kw: String,
      reqTx: Boolean): Either[String, Long] = {
    try kw match {
      case "CREATE" if tempCreateRe.findFirstMatchIn(sql0).isDefined =>
        // CREATE TEMP|TEMPORARY <what>: tables are connection-scoped
        // (SQLite core); temp triggers/views/indexes reject loudly
        // rather than silently lose their connection scoping
        val m = tempCreateRe.findFirstMatchIn(sql0).get
        m.group(2).toUpperCase match {
          case "TABLE" =>
            // strip the keyword AND its trailing whitespace: SQLite's
            // stored sql reads `CREATE TABLE …`, single space (probed —
            // sqlite_temp_master lists it that way)
            val afterKw = {
              var k = m.end(1)
              while (k < sql0.length && sql0.charAt(k).isWhitespace) k += 1
              k
            }
            doCreate(work, sql0.substring(0, m.start(1)) +
              sql0.substring(afterKw), temp = true)
          case what => Left(s"temporary ${what.toLowerCase}s are not " +
            "supported (temporary tables are)")
        }
      case "CREATE" if triggerKeywordRe.findFirstIn(sql0).isDefined =>
        doCreateTrigger(work, sql0)
      case "CREATE" => Ddl.parseCreateIndex(sql0) match {
        case Some(ci) => doCreateIndex(work, ci)
        case None => sql0 match {
          case Ddl.createViewRe(ine, name, select) =>
            doCreateView(work, ine != null, name, select, sql0)
          case _ => doCreate(work, sql0)
        }
      }
      case "DROP" => doDrop(work, sql)
      case "INSERT" | "REPLACE" =>
        noteChanges(tempMixError(work, sql).getOrElse(
          withTriggers(work, sql, "INSERT")(doInsert(work, sql))))
      case "UPDATE" =>
        noteChanges(tempMixError(work, sql).getOrElse {
          val sqlR = rowidDml(work, sql)
          withTriggers(work, sqlR, "UPDATE")(doUpdate(work, sqlR))
        })
      case "DELETE" =>
        noteChanges(tempMixError(work, sql).getOrElse {
          val sqlR = rowidDml(work, sql)
          withTriggers(work, sqlR, "DELETE")(doDelete(work, sqlR))
        })
      case "ALTER" => doAlter(work, sql)
      case "PRAGMA" => doPragma(sql, reqTx)
      // routine SQLite maintenance: nothing to compact/collect here —
      // storage is columnar snapshots and Catalyst plans from schema;
      // REINDEX has nothing to rebuild (indexes are metadata-only)
      case "VACUUM" | "ANALYZE" | "REINDEX" => Right(0)
      // single-database engine by design (the reference holds exactly one
      // SQLite handle per store, db/src/db.rs:21): reject specifically
      // instead of the generic unsupported-statement error
      case "ATTACH" => Left("ATTACH DATABASE is not supported: " +
        "this engine manages a single database per store")
      case "DETACH" => Left("DETACH DATABASE is not supported: " +
        "this engine manages a single database per store")
      case "SELECT" | "VALUES" | "WITH" =>
        Left("Execute returned results - did you mean to call query?")
      case _ => Left(s"unsupported statement: ${sql.trim.take(40)}")
    } catch {
      case e: Exception => Left(stmtError(e))
    }
  }

  /** True while journal recovery is replaying committed statements:
    * a NON-Analysis exception then escapes (via [[stmtError]]) to
    * executeReplay's transient retry instead of masquerading as the
    * statement's live outcome — a transient Spark error converted to a
    * statement Left silently dropped a committed DELETE (crash-replay
    * fuzz seeds 400037 / 410063). Deterministic user errors
    * (AnalysisException: unknown table/column, parse) keep their live
    * Left semantics in both modes. */
  private var replayActive = false

  private def stmtError(e: Exception): String =
    if (replayActive &&
        !e.isInstanceOf[org.apache.spark.sql.AnalysisException]) throw e
    else friendlyError(e)

  private def friendlyError(e: Exception): String = {
    // Engine-raised errors travel wrapped when they fire inside UDF
    // evaluation ([FAILED_EXECUTE_UDF] … Lambda$… noise, VERDICT r14):
    // walk the cause chain and surface the clean engine message.
    var cause: Throwable = e
    while (cause != null) {
      cause match {
        case nd: SqliteFunctions.NonDeterministicTime => return nd.getMessage
        case se: SqliteValue.SqliteEvalError => return se.getMessage
        case _ =>
      }
      cause = cause.getCause
    }
    val m = Option(e.getMessage).getOrElse(e.toString)
    // Spark's parse banner must not leak (SQLSTATE 42601 etc.) — SQLite
    // says `near "TOK": syntax error`, or `incomplete input` when the
    // statement just ends too early (both probed live)
    if (m.contains("PARSE_SYNTAX_ERROR") ||
      e.isInstanceOf[org.apache.spark.sql.catalyst.parser.ParseException]) {
      "at or near '(.+?)'".r.findFirstMatchIn(m) match {
        case Some(mm) => return s"""near "${mm.group(1)}": syntax error"""
        case None =>
          return if (m.contains("end of input")) "incomplete input"
          else "syntax error"
      }
    }
    val noSuch = "TABLE_OR_VIEW_NOT_FOUND|Table or view not found".r
    if (noSuch.findFirstIn(m).isDefined) {
      val name = "`([^`]+)`".r.findFirstMatchIn(m).map(_.group(1)).getOrElse("?")
      s"no such table: $name"
    } else if (m.contains("AMBIGUOUS_REFERENCE")) {
      // SQLite text parity (OLTP fuzz seed 50039: bare `id` in an
      // UPDATE..FROM predicate matching both target and source)
      val name = "Reference `([^`]+)`".r.findFirstMatchIn(m)
        .map(_.group(1)).getOrElse("?")
      s"ambiguous column name: $name"
    } else if (m.contains("UNRESOLVED_COLUMN")) {
      val name = "with name `(.+?)` cannot".r.findFirstMatchIn(m)
        .map(_.group(1).replace("`.`", ".").replace("`", ""))
        .getOrElse("?")
      s"no such column: $name"
    } else if (m.contains("UNRESOLVED_ROUTINE")) {
      // SQLite prepare-time text (probed: `no such function: nosuch`) —
      // Spark's SQLSTATE banner must not leak through the envelope
      val name = "routine `([^`]+)`".r.findFirstMatchIn(m)
        .map(_.group(1)).getOrElse("?")
      s"no such function: $name"
    } else m.linesIterator.take(2).mkString(" ").trim
  }

  private val tempCreateRe =
    """(?is)^\s*CREATE\s+(TEMP|TEMPORARY)\s+(TABLE|TRIGGER|VIEW|INDEX|UNIQUE)""".r

  /** A journaled statement whose target is PERMANENT must not read
    * connection-scoped temp tables: its replay (recovery here, statement
    * log on a follower) would see different temp state than the live
    * run. SQLite allows the mix (in-process, no replication); the
    * engine's statement-log contract rejects it LOUDLY. Statements
    * targeting a TEMP table are unconstrained (their replayed effects
    * are dropped with the temp tables at the end of recovery). */
  private def tempMixError(work: Tables,
                           sql: String): Option[Either[String, Long]] = {
    val temps = work.collect { case (k, ts) if ts.temp => k }.toSet
    if (temps.isEmpty) return None
    val target = dmlTableName(sql).map(_.toLowerCase)
    if (target.exists(temps)) return None // temp-targeted: fine
    val scrubbed = sql.replaceAll("'(?:[^']|'')*'", "''").toLowerCase
    temps.find(t =>
      s"(?<![a-z0-9_])${java.util.regex.Pattern.quote(t)}(?![a-z0-9_])"
        .r.findFirstIn(scrubbed).isDefined)
      .map(t => Left("statement writes a permanent table from temporary " +
        s"table $t: temporary tables are connection-scoped and never " +
        "replicated (statement-log replication requires replayable SQL)"))
  }

  private val tableInfoRe =
    """(?is)^\s*PRAGMA\s+TABLE_INFO\s*\(\s*["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*\)\s*;?\s*$""".r
  private val tableXinfoRe =
    """(?is)^\s*PRAGMA\s+TABLE_XINFO\s*\(\s*["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*\)\s*;?\s*$""".r

  /** PRAGMA table_info(t) / table_xinfo(t): (cid, name, type, notnull,
    * dflt_value, pk[, hidden]) with SQLite's shapes — empty result for a
    * missing table, pk = 1-based position, declared type collapsed to
    * the affinity's canonical name. table_info hides generated columns
    * and renumbers cids over the visible ones; table_xinfo keeps every
    * column with hidden = 2 (VIRTUAL) / 3 (STORED), probed live. */
  private def tableInfo(cat: Catalog, tname: String,
                        xinfo: Boolean = false): RowsResult =
    cat.table(tname) match {
      case None => RowsResult(Nil, Nil, Nil)
      case Some(ts) =>
        val cols = Seq("cid", "name", "type", "notnull", "dflt_value",
          "pk") ++ (if (xinfo) Seq("hidden") else Nil)
        val tags = Seq("integer", "text", "text", "integer", "text",
          "integer") ++ (if (xinfo) Seq("integer") else Nil)
        var pkSeen = 0
        val listed =
          if (xinfo) ts.d.cols else ts.d.cols.filter(_.gen.isEmpty)
        val rows = listed.zipWithIndex.map { case (c, i) =>
          // composite table-level PK: ordinals follow the CLAUSE order
          val pk =
            if (ts.d.pkSet.nonEmpty)
              ts.d.pkSet.indexWhere(_.equalsIgnoreCase(c.name)) + 1
            else if (c.pk) { pkSeen += 1; pkSeen } else 0
          Seq[Value](Value.Integer(i.toLong), Value.Text(c.name),
            Value.Text(c.affinity match {
              case Affinity.Integer => "INTEGER"
              case Affinity.Real | Affinity.Numeric => "REAL"
              case Affinity.Blob => "BLOB"
              case _ => "TEXT"
            }),
            // SQLite reports declared NOT NULL only (a bare INTEGER
            // PRIMARY KEY rowid alias shows notnull=0 — historic quirk)
            Value.Integer(if (c.notNull) 1 else 0),
            c.default.map(Value.Text(_): Value).getOrElse(Value.Null),
            Value.Integer(pk.toLong)) ++
            (if (xinfo)
              Seq[Value](Value.Integer(c.gen match {
                case None => 0L
                case Some((_, stored)) => if (stored) 3L else 2L
              }))
            else Nil)
        }
        RowsResult(cols, tags, rows)
    }

  private val indexListRe =
    """(?is)^\s*PRAGMA\s+INDEX_LIST\s*\(\s*["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*\)\s*;?\s*$""".r
  private val indexInfoRe =
    """(?is)^\s*PRAGMA\s+INDEX_INFO\s*\(\s*["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*\)\s*;?\s*$""".r

  /** One index of a table's roster in SQLite's LIST order (the index list
    * PREPENDS on creation: named indexes newest-first, then the automatic
    * constraint indexes in reverse declaration order — same order the
    * UNIQUE error text walk uses). `cols` = (cid, name) per position with
    * SQLite's shapes: cid over the FULL column list — generated columns
    * keep their slot here even though table_info renumbers around them
    * (probed: an index on the column after a hidden generated one reports
    * the un-renumbered cid) — and (-2, NULL) for an expression position.
    * A WITHOUT ROWID PK appears here (origin 'pk') even though
    * sqlite_master hides it (both probed live). */
  private def indexRoster(cat: Catalog, tname: String)
      : Seq[(String, Boolean, String, Boolean, Seq[(Int, Option[String])])] =
    cat.table(tname) match {
      case None => Nil
      case Some(ts) =>
        val td = ts.d
        def cid(c: String): Int = td.colIndex(c)
        def pos(cs: Seq[String]): Seq[(Int, Option[String])] =
          cs.map(c => (cid(c), Some(c)))
        var autoN = 0
        val autos = Vector.newBuilder[
          (String, Boolean, String, Boolean, Seq[(Int, Option[String])])]
        def emitAuto(isPk: Boolean, cs: Seq[String]): Unit = {
          autoN += 1
          autos += ((s"sqlite_autoindex_${td.name}_$autoN", true,
            if (isPk) "pk" else "u", false, pos(cs)))
        }
        // SQLite numbers automatic indexes in SOURCE order (column-level
        // constraints in column order, the table-level PK clause at its
        // declared position — probed live, ADVICE r13)
        td.autoIndexSpecs.foreach { case (isPk, cs) => emitAuto(isPk, cs) }
        val named = cat.indexes.toVector
          .filter(_.table.equalsIgnoreCase(td.name))
          .map { ix =>
            val cols = ix.cols.indices.map { k =>
              if (ix.exprOf(k).nonEmpty) (-2, None: Option[String])
              else (cid(ix.cols(k)), Some(ix.cols(k)))
            }
            (ix.name, ix.unique, "c", ix.where.isDefined, cols: Seq[(Int, Option[String])])
          }
        named.reverse ++ autos.result().reverse
    }

  /** PRAGMA index_list(t): (seq, name, unique, origin, partial) — the
    * empty envelope (empty cols too — the reference's first-row
    * type-sniffing contract) for a missing or index-less table. */
  private def indexList(cat: Catalog, tname: String): RowsResult = {
    val rows = indexRoster(cat, tname).zipWithIndex.map {
      case ((name, uq, origin, partial, _), i) =>
        Seq[Value](Value.Integer(i.toLong), Value.Text(name),
          Value.Integer(if (uq) 1 else 0), Value.Text(origin),
          Value.Integer(if (partial) 1 else 0))
    }
    if (rows.isEmpty) RowsResult(Nil, Nil, Nil)
    else RowsResult(Seq("seq", "name", "unique", "origin", "partial"),
      Seq("integer", "text", "integer", "text", "integer"), rows)
  }

  /** PRAGMA index_info(ix): (seqno, cid, name) — the empty envelope for
    * an unknown index; expression positions report (-2, NULL), probed
    * live. */
  private def indexInfo(cat: Catalog, iname: String): RowsResult = {
    val entry = cat.tables.iterator.flatMap(ts => indexRoster(cat, ts.d.name))
      .find(_._1.equalsIgnoreCase(iname))
    val rows = entry.toSeq.flatMap(_._5.zipWithIndex.map {
      case ((ci, cn), k) =>
        Seq[Value](Value.Integer(k.toLong), Value.Integer(ci.toLong),
          cn.map(Value.Text(_): Value).getOrElse(Value.Null))
    })
    if (rows.isEmpty) RowsResult(Nil, Nil, Nil)
    else RowsResult(Seq("seqno", "cid", "name"),
      Seq("integer", "integer", "text"), rows)
  }

  private def doPragma(sql: String, reqTx: Boolean): Either[String, Long] = {
    val u = sql.toUpperCase.replaceAll("\\s+", "")
    // SQLite: "This pragma is a no-op within a transaction" — including
    // the implicit transaction a bare SAVEPOINT opens and a request-level
    // transaction batch (probed live, OLTP-fuzz seed 5067: a toggle
    // inside a savepoint changed nothing)
    val inTx = reqTx || openTx.isDefined || savepoints.nonEmpty
    if (u.contains("FOREIGN_KEYS=ON")) {
      if (!inTx) fkEnabled = true
      Right(0)
    } else if (u.contains("FOREIGN_KEYS=OFF")) {
      if (!inTx) fkEnabled = false
      Right(0)
    }
    else if (u.startsWith("PRAGMACASE_SENSITIVE_LIKE=")) {
      // connection-scoped LIKE behavior (not db state): applies
      // immediately, probed live — ON/TRUE/1 enable, anything else off
      val v = u.substring("PRAGMACASE_SENSITIVE_LIKE=".length)
        .stripSuffix(";")
      csLike = v == "ON" || v == "TRUE" || v == "1"
      Right(0)
    }
    else u match {
      case userVersionSetRe(v) => userVersion = v.toLong; Right(0)
      case _ => Right(0) // unknown pragmas no-op, like SQLite
    }
  }

  private val userVersionSetRe = """(?s)^PRAGMAUSER_VERSION=(-?\d+);?$""".r

  /** Value-returning PRAGMAs (SQLite returns one row; the reference
    * forwards them verbatim, `db/src/db.rs:176`). journal_mode reports the
    * storage truth: `memory` for in-memory databases, `wal` for file-backed
    * ones (the journal-ahead-of-apply design, SURVEY §7.4). */
  private val valuePragmaRe =
    """(?is)^\s*PRAGMA\s+(JOURNAL_MODE|PAGE_SIZE|USER_VERSION|SCHEMA_VERSION|INTEGRITY_CHECK|QUICK_CHECK|DATABASE_LIST|COLLATION_LIST)\s*;?\s*$""".r

  private def valuePragma(cat: Catalog, name: String): RowsResult =
    name.toLowerCase match {
    case "integrity_check" | "quick_check" =>
      // constraints hold by construction (validateIdx gates every commit)
      RowsResult(Seq(name.toLowerCase), Seq("text"),
        Seq(Seq(Value.Text("ok"))))
    case "collation_list" =>
      // the engine's collation surface, in SQLite's listing order
      RowsResult(Seq("seq", "name"), Seq("integer", "text"),
        Seq("RTRIM", "NOCASE", "BINARY").zipWithIndex.map { case (n2, i) =>
          Seq[Value](Value.Integer(i.toLong), Value.Text(n2)) })
    case "database_list" =>
      // single-database engine: one `main` row; SQLite shows the file
      // path for file-backed stores, '' for memory (probed live)
      RowsResult(Seq("seq", "name", "file"),
        Seq("integer", "text", "text"),
        Seq(Seq(Value.Integer(0L), Value.Text("main"),
          Value.Text(root.map(_.toAbsolutePath.toString).getOrElse("")))))
    case "journal_mode" =>
      RowsResult(Seq("journal_mode"), Seq("text"),
        Seq(Seq(Value.Text(if (root.isEmpty) "memory" else "wal"))))
    case "page_size" =>
      RowsResult(Seq("page_size"), Seq("integer"),
        Seq(Seq(Value.Integer(4096L))))
    case "schema_version" =>
      RowsResult(Seq("schema_version"), Seq("integer"),
        Seq(Seq(Value.Integer(cat.schemaVersion))))
    case _ =>
      RowsResult(Seq("user_version"), Seq("integer"),
        Seq(Seq(Value.Integer(cat.userVersion))))
  }

  private val ctasRe =
    """(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s+AS\s+((?:SELECT|WITH)\s.+?)\s*;?\s*$""".r

  private def doCreate(work: Tables, sql: String,
                       temp: Boolean = false): Either[String, Long] =
    Ddl.parseCreate(sql) match {
      case Some(Ddl.Create(ine, td)) =>
        val key = td.name.toLowerCase
        if (key.startsWith("sqlite_"))
          return Left(
            s"object name reserved for internal use: ${td.name}")
        // WITHOUT ROWID shape errors (SQLite 3.40 texts, probed live)
        if (td.withoutRowid) {
          if (td.cols.exists(_.autoInc))
            return Left("AUTOINCREMENT not allowed on WITHOUT ROWID tables")
          if (!td.cols.exists(_.pk) && td.pkSet.isEmpty)
            return Left(s"PRIMARY KEY missing on table ${td.name}")
        }
        // AUTOINCREMENT is valid ONLY on an INTEGER PRIMARY KEY rowid
        // alias (SQLite rejects it anywhere else at parse time)
        td.cols.find(c => c.autoInc && !c.isRowidAlias).foreach { _ =>
          return Left("near \"AUTOINCREMENT\": syntax error")
        }
        // collations are resolved at CREATE time (SQLite 3.40, probed:
        // `CREATE TABLE bad(z TEXT COLLATE NOSUCH)` fails immediately)
        td.cols.find(c => !knownCollations(c.collate)).foreach { c =>
          return Left(s"no such collation sequence: ${c.collate}")
        }
        // composite-constraint shape errors (SQLite 3.40 texts, probed)
        (td.pkSet ++ td.uniqueSets.flatten).find(td.colIndex(_) < 0)
          .foreach(c => return Left(s"no such column: $c"))
        if (td.cols.count(_.pk) + (if (td.pkSet.nonEmpty) 1 else 0) > 1)
          return Left(
            s"""table "${td.name}" has more than one primary key""")
        // generated-column shape errors (SQLite 3.40 texts, probed live)
        td.cols.find(c => c.gen.isDefined && (c.pk ||
            td.pkSet.exists(_.equalsIgnoreCase(c.name)))).foreach { _ =>
          return Left("generated columns cannot be part of the PRIMARY KEY")
        }
        td.cols.find(c => c.gen.isDefined && c.default.isDefined).foreach { _ =>
          return Left("cannot use DEFAULT on a generated column")
        }
        // ON UPDATE actions are not implemented (parent-key updates keep
        // the immediate NO ACTION guard) — reject LOUDLY rather than
        // silently degrade a declared cascade to an error at update time
        td.cols.find(c => c.ref.isDefined &&
          c.fkUpdate != "NO ACTION" && c.fkUpdate != "RESTRICT").foreach { c =>
          return Left(s"ON UPDATE ${c.fkUpdate} is not supported " +
            "(ON DELETE actions are)")
        }
        if (viewDefs.contains(key)) {
          if (ine) Right(0) else Left(s"view ${td.name} already exists")
        } else if (work.contains(key)) {
          if (ine) Right(0) else Left(s"table ${td.name} already exists")
        } else {
          work(key) = new TableState(td, sql, Mem(Vector.empty), 1L,
            temp = temp)
          // the first AUTOINCREMENT table materializes the internal
          // sequence catalog (SQLite: exists but empty until an insert)
          if (td.cols.exists(_.autoInc)) ensureSeqTable(work)
          Right(0)
        }
      case None => sql match {
        case ctasRe(ine, name, select) => doCreateAs(work, ine != null, name, select)
        case _ => Left(s"near \"CREATE\": syntax error")
      }
    }

  /** The internal `sqlite_sequence(name, seq)` catalog backing
    * AUTOINCREMENT: a REAL table in `work` (so the query surface, user
    * DML — `UPDATE sqlite_sequence SET seq = 0` resets numbering exactly
    * like SQLite — tx snapshots, savepoints and recovery all come for
    * free). TEXT/INTEGER affinities stand in for SQLite's blank ones. */
  private def ensureSeqTable(work: Tables): Unit =
    if (!work.contains("sqlite_sequence")) {
      val td = TableDef("sqlite_sequence", Seq(
        ColDef("name", Affinity.Text, notNull = false, pk = false,
          unique = false, ref = None),
        ColDef("seq", Affinity.Integer, notNull = false, pk = false,
          unique = false, ref = None)))
      work("sqlite_sequence") = new TableState(td,
        "CREATE TABLE sqlite_sequence(name TEXT, seq INTEGER)",
        Mem(Vector.empty), 1L)
    }

  /** DROP TABLE removes the table's sequence row (probed live); RENAME
    * rewrites its name. No-ops when the catalog or row is absent. */
  private def dropSeqRow(work: Tables, tname: String,
      renameTo: Option[String] = None): Unit =
    work.get("sqlite_sequence").foreach { ts =>
      def matches(vals: IndexedSeq[Any]): Boolean = vals.headOption.exists {
        case s: String => s.equalsIgnoreCase(tname); case _ => false
      }
      ts.store match {
        case Mem(rows) => ts.store = memStore(renameTo match {
          case None => rows.filterNot(r => matches(r._2))
          case Some(nn) => rows.map(r =>
            if (matches(r._2)) (r._1, IndexedSeq[Any](nn, r._2(1))) else r)
        })
        case b: Big =>
          import org.apache.spark.sql.functions.{lower, lit, when}
          val hit = lower(col("name")) === tname.toLowerCase
          ts.store = renameTo match {
            case None => mkBig(b.df.filter(!hit))
            case Some(nn) => mkBig(b.df.withColumn("name",
              when(hit, lit(nn)).otherwise(col("name"))))
          }
      }
    }

  /** Current high-water mark for an AUTOINCREMENT table (0 when the
    * sequence row does not exist yet — SQLite's implicit floor). */
  private def seqOf(work: Tables, tname: String): Long =
    work.get("sqlite_sequence").map(_.store).collect {
      case Mem(rows) => rows.collectFirst {
        case (_, vals) if vals.headOption.exists {
          case s: String => s.equalsIgnoreCase(tname); case _ => false
        } => vals(1) match { case l: Long => l; case _ => 0L }
      }.getOrElse(0L)
      case b: Big => // a pathological fuzz run can spill even this table
        val r = b.df.filter(org.apache.spark.sql.functions
          .lower(col("name")) === tname.toLowerCase)
          .selectExpr("max(seq)").head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
    }.getOrElse(0L)

  /** Advance the sequence row after a successful INSERT on an
    * AUTOINCREMENT table: seq = max(seq, largest rowid INSERTED by the
    * statement) — never decreased, skipped/upserted candidates invisible
    * (probed live). Statement undo paths restore it with the rest of the
    * table map. */
  private def bumpSeq(work: Tables, td: TableDef, maxInserted: Long): Unit =
    if (td.cols.exists(_.autoInc)) {
      ensureSeqTable(work)
      val ts = work("sqlite_sequence")
      val newSeq = math.max(seqOf(work, td.name), maxInserted)
      ts.store match {
        case Mem(rows) =>
          val i = rows.indexWhere(_._2.headOption.exists {
            case s: String => s.equalsIgnoreCase(td.name); case _ => false
          })
          if (i >= 0)
            ts.store = memStore(rows.updated(i,
              (rows(i)._1, IndexedSeq[Any](rows(i)._2.head, newSeq))))
          else {
            val rid = rowidBase(ts)
            ts.store = memStore(rows, Seq((rid, IndexedSeq[Any](td.name, newSeq))))
            ts.nextRowId = rid + 1
          }
        case b: Big =>
          val upd = b.df.filter(org.apache.spark.sql.functions
            .lower(col("name")) =!= td.name.toLowerCase)
          val rid = rowidBase(ts)
          val one = session.createDataFrame(
            Seq(Row(rid, td.name, newSeq)).asJava, ridSchema(ts.d))
          ts.store = mkBig(upd.unionByName(one))
      }
    }

  /** CREATE TABLE ... AS SELECT (SQLite surface): schema inferred from the
    * result, column affinities from the Spark types. */
  private def doCreateAs(work: Tables, ine: Boolean, name: String,
                         select: String): Either[String, Long] = {
    val key = name.toLowerCase
    if (key.startsWith("sqlite_"))
      return Left(s"object name reserved for internal use: $name")
    if (viewDefs.contains(key))
      return if (ine) Right(0) else Left(s"view $name already exists")
    if (work.contains(key))
      return if (ine) Right(0) else Left(s"table $name already exists")
    registerViews(work)
    val df = ssql(SqlText.fixQuotedIdents(select))
    val cols = df.schema.fields.map { f =>
      val aff = f.dataType match {
        case LongType | IntegerType | ShortType | ByteType | BooleanType =>
          Affinity.Integer
        case DoubleType | FloatType | _: DecimalType => Affinity.Real
        case BinaryType => Affinity.Blob
        case _ => Affinity.Text
      }
      ColDef(f.name, aff, notNull = false, pk = false, unique = false, ref = None)
    }.toSeq
    val td = TableDef(name, cols)
    val casts = cols.zipWithIndex.map { case (c, i) =>
      s"CAST(`${df.columns(i).replace("`", "``")}` AS ${sparkTypeName(c)}) AS `${c.name}`"
    }
    // materialize once (localCheckpoint) so a nondeterministic source can't
    // make the cap probe and the stored rows disagree
    val cast = df.selectExpr(casts: _*).localCheckpoint()
    val createSql = "CREATE TABLE " + name + " (" +
      cols.map(c => s"${c.name} ${c.affinity match {
        case Affinity.Integer => "INTEGER"
        case Affinity.Real | Affinity.Numeric => "REAL"
        case Affinity.Blob => "BLOB"
        case _ => "TEXT"
      }}").mkString(", ") + ")"
    // probe one row past the cap: an over-cap CTAS result goes straight to
    // the Spark-resident store without ever landing on the driver
    val probe =
      cast.limit(math.min(maxDriverRows, Int.MaxValue - 2L).toInt + 1).collect()
    if (probe.length > maxDriverRows) {
      val big = mkBig(withRowid(cast, 1L))
      work(key) = new TableState(td, createSql, big, big.n + 1L)
    } else {
      val rows = probe.toVector.zipWithIndex.map { case (r, i) =>
        ((i + 1).toLong, (0 until r.length).map(r.get).toIndexedSeq)
      }
      work(key) = new TableState(td, createSql, memStore(rows), rows.size + 1L)
    }
    Right(0)
  }

  private def doDrop(work: Tables, sql: String): Either[String, Long] =
    Ddl.parseDrop(sql) match {
      case Some(Ddl.Drop(ie, name)) =>
        val key = name.toLowerCase
        if (key == "sqlite_master" || key == "sqlite_schema")
          // SQLite echoes the CANONICAL catalog name for the alias
          Left("table sqlite_master may not be dropped")
        else if (key == "sqlite_sequence" && work.contains(key))
          // absent sequence table falls through to `no such table`
          // (probed: the guard applies only when it exists)
          Left(s"table $key may not be dropped")
        else if (viewDefs.contains(key))
          Left(s"use DROP VIEW to delete view $name")
        else if (work.remove(key).isEmpty && !ie) Left(s"no such table: $name")
        else {
          // SQLite drops a table's indexes, triggers and sequence row
          indexes.filterInPlace((_, ix) => !ix.table.equalsIgnoreCase(name))
          triggers.filterInPlace((_, t) => !t.table.equalsIgnoreCase(name))
          dropSeqRow(work, name)
          Right(0)
        }
      case None => Ddl.parseDropIndex(sql) match {
        case Some(Ddl.DropIndex(ie, name)) =>
          if (indexes.remove(name.toLowerCase).isEmpty && !ie)
            Left(s"no such index: $name")
          else Right(0)
        case None => sql match {
          case dropViewRe(ie, name) =>
            if (viewDefs.remove(name.toLowerCase).isEmpty && ie == null)
              Left(s"no such view: $name")
            else Right(0)
          case dropTriggerRe(ie, name) =>
            if (triggers.remove(name.toLowerCase).isEmpty && ie == null)
              Left(s"no such trigger: $name")
            else Right(0)
          case _ => Left("near \"DROP\": syntax error")
        }
      }
    }

  private val dropViewRe =
    """(?is)^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*;?\s*$""".r

  /** CREATE VIEW (SQLite pass-through surface): stores the SELECT; lazy
    * validation exactly like SQLite (a view over a missing table errors
    * when used). */
  private def doCreateView(work: Tables, ine: Boolean, name: String,
                           select: String, sql: String): Either[String, Long] = {
    val key = name.toLowerCase
    if (key.startsWith("sqlite_"))
      return Left(s"object name reserved for internal use: $name")
    if (viewDefs.contains(key))
      return if (ine) Right(0) else Left(s"view $name already exists")
    if (work.contains(key))
      return if (ine) Right(0) else Left(s"table $name already exists")
    viewDefs(key) = (name, select, sql)
    Right(0)
  }

  // ---------- triggers (SQLite pass-through surface) ------------------------

  private val triggerKeywordRe = """(?is)^\s*CREATE\s+(?:TEMP\s+|TEMPORARY\s+)?TRIGGER\b""".r
  private val dropTriggerRe =
    """(?is)^\s*DROP\s+TRIGGER\s+(IF\s+EXISTS\s+)?["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*;?\s*$""".r

  /** CREATE TRIGGER — the minimal AFTER ROW subset (SURVEY §2: the
    * reference forwards trigger DDL verbatim to SQLite, `db/src/db.rs:176`):
    * `AFTER INSERT|UPDATE|DELETE ON t [FOR EACH ROW] BEGIN stmts END` with
    * NEW./OLD. row references. BEFORE / INSTEAD OF / UPDATE OF / WHEN are
    * rejected with explicit errors — a clear refusal beats a silent parse
    * failure; the statement-journal envelope replays the DDL like any other
    * statement. */
  private def doCreateTrigger(work: Tables, sql: String): Either[String, Long] =
    sql match {
      case Ddl.createTriggerRe(ine, name, timing, event, ofCols, tname, _, when, body) =>
        if (timing == null || !timing.trim.equalsIgnoreCase("AFTER"))
          return Left("only AFTER triggers are supported")
        if (ofCols != null)
          return Left("UPDATE OF column lists on triggers are not supported")
        if (when != null)
          return Left("WHEN clauses on triggers are not supported")
        val key = name.toLowerCase
        if (triggers.contains(key))
          return if (ine != null) Right(0)
          else Left(s"trigger $name already exists")
        if (viewDefs.contains(tname.toLowerCase))
          return Left(s"cannot create AFTER trigger on view: $tname")
        if (!work.contains(tname.toLowerCase))
          return Left(s"no such table: main.$tname") // SQLite's exact shape
        val stmts = SqlText.splitTopLevel(body, ';')
          .map(_.trim).filter(_.nonEmpty)
        triggers(key) = TriggerDef(name, event.toUpperCase, tname, stmts, sql)
        Right(0)
      case _ => Left("near \"TRIGGER\": syntax error")
    }

  /** Render an engine cell value as a SQL literal for NEW./OLD.
    * substitution (affinity storage classes: Long/Double/String/bytes). */
  private def sqlLiteral(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: Array[Byte] => "X'" + b.map("%02X".format(_)).mkString + "'"
    case other => other.toString
  }

  private val rowRefRe =
    """(?i)\b(new|old)\s*\.\s*("?)([A-Za-z_][A-Za-z0-9_]*)\2""".r

  /** Substitute NEW.col / OLD.col in a trigger-body statement with the
    * affected row's literal values (the single-row scope SQLite gives a
    * FOR EACH ROW trigger program). */
  private def substituteRowRefs(stmt: String, td: TableDef,
                                newRow: Option[IndexedSeq[Any]],
                                oldRow: Option[IndexedSeq[Any]])
      : Either[String, String] = {
    var err: Option[String] = None
    val out = rowRefRe.replaceAllIn(stmt, m => {
      val which = m.group(1).toUpperCase
      val col = m.group(3)
      val row = if (which == "NEW") newRow else oldRow
      val res = row match {
        case None => err = err.orElse(Some(s"no such column: $which.$col")); "NULL"
        case Some(vals) =>
          val i = td.colIndex(col)
          if (i < 0) {
            err = err.orElse(Some(s"no such column: $which.$col")); "NULL"
          } else sqlLiteral(vals(i))
      }
      scala.util.matching.Regex.quoteReplacement(res)
    })
    err.toLeft(out)
  }

  private val insertTargetRe =
    """(?is)^\s*(?:INSERT|REPLACE)(?:\s+OR\s+[A-Za-z]+)?\s+INTO\s+["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?.*$""".r
  private val updateTargetRe =
    """(?is)^\s*UPDATE(?:\s+OR\s+[A-Za-z]+)?\s+["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?.*$""".r
  private val deleteTargetRe =
    """(?is)^\s*DELETE\s+FROM\s+["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?.*$""".r

  /** Run a DML statement and fire the target table's AFTER ROW triggers on
    * the rows it actually changed.
    *
    * Affected rows come from a rowid-keyed before/after diff of the target
    * table — exact for every path (multi-row VALUES, INSERT..SELECT, upsert,
    * OR REPLACE) without plumbing row capture through each of them; the
    * engine envelope is OLTP-sized by design (the reference is a global
    * mutex at 10-200 ops/s), so the diff is not on the analytics path.
    * Event mapping follows SQLite with recursive_triggers=OFF: added rowids
    * fire INSERT triggers, in-place changes fire UPDATE triggers (upsert's
    * DO UPDATE path included), removed rowids fire DELETE triggers only for
    * DELETE statements (OR REPLACE displacement does not), a trigger never
    * re-enters itself, and a body error rolls back the whole statement
    * (statement-level atomicity, captured live from SQLite 3.40). The outer
    * statement's lastRowId and rows_affected are preserved across firing. */
  /** Set by [[applyPolicySeq]] during `run`: an INSERT's exact
    * per-candidate firing tape in statement order — the landed rows of a
    * plain INSERT, REPLACE's re-inserts, upsert's INSERT/UPDATE
    * interleaving with its no-op DO UPDATEs — none of which a diff of the
    * rowid-ordered store can reproduce. Cleared before every wrapped
    * statement. */
  private var insertFirings: Option[
    Seq[(String, Option[IndexedSeq[Any]], Option[IndexedSeq[Any]])]] = None

  /** Set by the sequential REPLACE branches (insert policy + update
    * policy): the full row images of rows DISPLACED by this statement,
    * in displacement order. fkParentDelta's ACTION leg consumes (and
    * clears) it — SQLite runs ON DELETE actions for every displaced ROW
    * even when its key survives via the displacing row (probed live;
    * OLTP-fuzz seed 320869 — ON DELETE SET NULL fired although the
    * rekeyed row immediately re-occupied the key), while the
    * plain-REFERENCES guard stays final-state (a surviving key satisfies
    * it). None = the path did not track victims (the over-cap bulk
    * INSERT ... SELECT OR REPLACE), where the delta falls back to
    * final-state lost keys — a documented bulk-scale-only boundary. */
  private var replaceVictims: Option[Vector[IndexedSeq[Any]]] = None

  /** Set by [[doUpdatePolicy]] during `run`: the exact firing tape of a
    * conflict-policy UPDATE — APPLIED rows only, in processing order.
    * Skipped (OR IGNORE) and displaced (OR REPLACE) rows fire nothing;
    * a row applied and later displaced still fires (probed live) — none
    * of which a value diff or a WHERE-matched set can reproduce. */
  private var updPolicyFirings: Option[
    Seq[(String, Option[IndexedSeq[Any]], Option[IndexedSeq[Any]])]] = None

  /** OR FAIL's split outcome: the statement KEEPS the rows applied before
    * the failing row and still reports the constraint error (probed live).
    * [[doUpdatePolicy]] applies the prefix and returns Right with this set
    * so the prefix's row triggers fire; the [[withTriggers]] wrapper then
    * surfaces the error WITHOUT undoing the prefix. */
  private var pendingFailError: Option[String] = None

  /** Rows of `st` keyed by rowid, restricted to `rids` (driver-capped by
    * the caller). One broadcast semi-join for spilled stores. */
  private def rowsByRid(td: TableDef, st: Store, rids: Set[Long])
      : Map[Long, IndexedSeq[Any]] = st match {
    case Mem(rows) => rows.filter(r => rids(r._1)).toMap
    case b: Big =>
      if (rids.isEmpty) Map.empty
      else {
        val n = td.cols.size
        val rdf = session.createDataFrame(
          rids.toSeq.map(Row(_)).asJava,
          StructType(Seq(StructField("__qr", LongType, nullable = false))))
        b.df.join(broadcast(rdf), col("__rowid") === col("__qr"), "left_semi")
          .collect()
          .map(r => r.getLong(0) -> (1 to n).map(r.get).toIndexedSeq)
          .toMap
      }
  }

  /** Run one DML statement with trigger firing, then surface a pending
    * OR FAIL error (see [[pendingFailError]]): the mutation's applied
    * prefix stays, its triggers have fired, and the statement reports the
    * constraint error. The outer pending is saved/restored around the
    * whole call so trigger-body statements (which recurse through here)
    * can neither observe nor clobber it. */
  private def withTriggers(work: Tables, sql: String, kind: String)(
      run: => Either[String, Long]): Either[String, Long] = {
    val saved = pendingFailError
    pendingFailError = None
    val r = withTriggersInner(work, sql, kind)(run)
    val mine = pendingFailError
    pendingFailError = saved
    r match {
      case Left(_) => r
      case Right(_) =>
        mine.map(Left(_): Either[String, Long]).getOrElse(r)
    }
  }

  private def withTriggersInner(work: Tables, sql: String, kind: String)(
      run: => Either[String, Long]): Either[String, Long] = {
    val tname = (kind match {
      case "INSERT" => insertTargetRe.findFirstMatchIn(sql)
      case "UPDATE" => updateTargetRe.findFirstMatchIn(sql)
      case _ => deleteTargetRe.findFirstMatchIn(sql)
    }).map(_.group(1))
    // Only events this statement kind can produce may fire: INSERT can
    // yield INSERT firings (and UPDATE firings via upsert's DO UPDATE);
    // UPDATE/DELETE yield only their own. Skipping the diff when no armed
    // trigger matches avoids both the wasted before/after comparison and a
    // spurious driver-cap error on, say, a bulk DELETE with only an INSERT
    // trigger present.
    val possibleEvents: Set[String] =
      if (kind == "INSERT") Set("INSERT", "UPDATE") else Set(kind)
    val relevant = tname.toSeq.flatMap(t =>
      triggers.values.filter(_.table.equalsIgnoreCase(t)))
      .filterNot(t => activeTriggers.contains(t.name.toLowerCase))
      .filter(t => possibleEvents.contains(t.event))
    if (relevant.isEmpty) return run
    val key = tname.get.toLowerCase
    val beforeStore: Store =
      work.get(key).map(_.store).getOrElse(Mem(Vector.empty))
    // statement-level atomicity: a trigger-body error must undo the outer
    // DML and every body effect (rows are immutable vectors — shallow copy)
    val tablesBackup = work.map { case (k, v) => k -> v.copyState }
    val idxBackup = mutable.LinkedHashMap(indexes.toSeq: _*)
    val viewBackup = mutable.LinkedHashMap(viewDefs.toSeq: _*)
    val trigBackup = mutable.LinkedHashMap(triggers.toSeq: _*)
    // SQLite fires AFTER UPDATE per row MATCHED by the WHERE clause (a
    // no-op SET still fires — probed live), in rowid order; a before/after
    // value diff misses the no-ops. Evaluate the predicate on the BEFORE
    // state, capped like the diff itself.
    val updMatched: Option[Seq[Long]] =
      if (kind == "UPDATE" && relevant.exists(_.event == "UPDATE"))
        sql match {
          case updateRe(_, _, aliasOrNull, rest) =>
            val fIdx = SqlText.findKeyword(rest, "FROM")
            val wIdx = SqlText.findKeyword(rest, "WHERE")
            val isFrom = fIdx >= 0 && (wIdx < 0 || fIdx < wIdx)
            val cond =
              if (wIdx >= 0) rest.substring(wIdx + 5).trim else "true"
            try {
              registerViews(work)
              // NB the __rv alias is load-bearing: WHERE is not a reserved
              // word in Spark's default dialect, so an alias-less
              // `FROM view WHERE (true)` parses WHERE as a TABLE ALIAS
              // with column list (true)
              val eff = Option(aliasOrNull).getOrElse(
                if (isFrom) key else "__rv")
              val matchedSql =
                if (isFrom) {
                  // UPDATE..FROM fires once per DISTINCT matched target
                  // row (no-op SETs included) — same join as doUpdateFrom
                  val fromText = (if (wIdx >= 0)
                    rest.substring(fIdx + 4, wIdx)
                  else rest.substring(fIdx + 4)).trim
                  val (srcSql, _) = fromSource(work, fromText)
                  s"SELECT DISTINCT `$eff`.`__rowid` FROM " +
                    s"${ridView(key)} AS `$eff`, $srcSql WHERE ($cond)"
                } else s"SELECT `__rowid` FROM ${ridView(key)} AS `$eff` " +
                  s"WHERE ($cond)"
              Some(collectCapped(ssql(matchedSql), maxDriverRows)
                .map(_.getLong(0)))
            } catch {
              case _: TriggerDiffTooLarge =>
                return Left(s"too many rows for row-trigger processing on " +
                  s"${tname.get}: the statement changed more than " +
                  s"$maxDriverRows rows with AFTER ROW triggers armed " +
                  "(raise maxDriverRows, or DROP TRIGGER for bulk " +
                  "maintenance)")
              case _: Exception => None // run itself surfaces the error
            }
          case _ => None
        }
      else None
    insertFirings = None
    updPolicyFirings = None
    run match {
      case l @ Left(_) => l
      case Right(affected) =>
        val outerRowId = lastRowId
        val ts = work.get(key)
        val td = ts.map(_.d).getOrElse(return Right(affected))
        val afterStore: Store = ts.map(_.store).getOrElse(Mem(Vector.empty))
        // OR REPLACE re-inserts under the same rowid: SQLite fires INSERT
        // triggers for the replaced row (delete+reinsert), while upsert's
        // DO UPDATE path fires UPDATE triggers — captured live from 3.40
        val isReplace = kind == "INSERT" &&
          "(?is)^\\s*(REPLACE|INSERT\\s+OR\\s+REPLACE)\\b".r
            .findFirstIn(sql).isDefined
        // (event, NEW row, OLD row) per affected row. Firing order is
        // SQLite's (probed live, fuzz-pinned): INSERT as the exact
        // per-candidate tape (statement order, not the store's rowid
        // order), UPDATE per MATCHED row and DELETE per removed row in
        // rowid order.
        val firings: Seq[(String, Option[IndexedSeq[Any]], Option[IndexedSeq[Any]])] =
          try (insertFirings, updMatched) match {
            // a conflict-policy UPDATE's applied-rows tape (already
            // driver-capped at collection) beats the WHERE-matched set:
            // skipped and displaced rows must not fire
            case _ if kind == "UPDATE" && updPolicyFirings.isDefined =>
              updPolicyFirings.get
            case (Some(tape), _) if kind == "INSERT" =>
              // the statement's per-candidate tape (REPLACE's since fuzz
              // seed 360645 — a value diff missed a displacement
              // re-inserting identical values). Same driver-row contract
              // as the diff paths: more firings than maxDriverRows fails
              // loudly with full statement undo.
              if (tape.size > maxDriverRows) throw new TriggerDiffTooLarge
              tape
            case (_, Some(rids)) if kind == "UPDATE" =>
              val ridSet = rids.toSet
              val o = rowsByRid(td, beforeStore, ridSet)
              val n2 = rowsByRid(td, afterStore, ridSet)
              rids.sorted.flatMap(rid =>
                for (ov <- o.get(rid); nv <- n2.get(rid))
                  yield ("UPDATE", Some(nv), Some(ov)))
            case _ => (beforeStore, afterStore) match {
              case (Mem(beforeVec), Mem(afterVec)) =>
                val beforeMap = beforeVec.toMap
                val afterMap = afterVec.toMap
                afterVec.collect {
                  case (rid, vals) if !beforeMap.contains(rid) =>
                    ("INSERT", Some(vals), None)
                  case (rid, vals) if beforeMap.get(rid).exists(_ != vals) =>
                    if (isReplace) ("INSERT", Some(vals), None)
                    else ("UPDATE", Some(vals), Some(beforeMap(rid)))
                } ++ (if (kind == "DELETE")
                  beforeVec.collect {
                    case (rid, vals) if !afterMap.contains(rid) =>
                      ("DELETE", None, Some(vals))
                  }
                else Vector.empty)
              case _ =>
                bigTriggerDiff(td, beforeStore, afterStore, kind, isReplace)
            }
          } catch {
            case _: TriggerDiffTooLarge =>
              // statement-level atomicity: undo the outer DML before
              // failing — the table state is exactly as before the
              // statement (VERDICT r10 #4)
              work.clear(); tablesBackup.foreach { case (k, v) => work(k) = v }
              indexes = idxBackup; viewDefs = viewBackup; triggers = trigBackup
              return Left(s"too many rows for row-trigger processing on " +
                s"${td.name}: the statement changed more than $maxDriverRows " +
                "rows with AFTER ROW triggers armed (raise maxDriverRows, " +
                "or DROP TRIGGER for bulk maintenance)")
          }
        var err: Option[String] = None
        // row-outer, reverse-creation-order-inner: SQLite's observed order
        firings.foreach { case (event, newRow, oldRow) =>
          if (err.isEmpty) relevant.toSeq.reverse.foreach { tr =>
            if (err.isEmpty && tr.event == event) {
              activeTriggers += tr.name.toLowerCase
              try tr.body.foreach { stmt =>
                if (err.isEmpty)
                  substituteRowRefs(stmt, td, newRow, oldRow) match {
                    case Left(e) => err = Some(e)
                    case Right(sub) =>
                      val r =
                        if (isRowReturning(sub))
                          readOne(session, liveCatalog(work), sub,
                            registerViews(work)).map(_ => 0L)
                        else executeOne(work, sub)
                      r.left.foreach(e => err = Some(e))
                  }
              } finally activeTriggers -= tr.name.toLowerCase
            }
          }
        }
        err match {
          case Some(e) =>
            work.clear(); tablesBackup.foreach { case (k, v) => work(k) = v }
            indexes = idxBackup; viewDefs = viewBackup; triggers = trigBackup
            Left(e)
          case None =>
            lastRowId = outerRowId // trigger-body inserts don't leak rowids
            Right(affected)
        }
    }
  }

  /** CREATE [UNIQUE] INDEX: catalog metadata (Catalyst plans the scans);
    * a UNIQUE index additionally enforces tuple uniqueness — existing rows
    * are validated now, future writes via [[uniqueSpecs]]. SQLite surface
    * per the reference's pass-through (`db/src/db.rs:176`). */
  private def doCreateIndex(work: Tables,
                            ci: Ddl.CreateIndex): Either[String, Long] = {
    if (indexes.contains(ci.name.toLowerCase))
      return if (ci.ifNotExists) Right(0)
        else Left(s"index ${ci.name} already exists")
    val ts = work.getOrElse(ci.table.toLowerCase,
      return Left(s"no such table: ${ci.table}"))
    ci.cols.zipWithIndex.find { case (c, k) =>
      ci.exprOf(k).isEmpty && ts.d.colIndex(c) < 0
    }.foreach { case (c, _) => return Left(s"no such column: $c") }
    ci.colls.find(cl => cl.nonEmpty && !knownCollations(cl))
      .foreach(cl => return Left(s"no such collation sequence: $cl"))
    if (ci.advanced) {
      // SQLite resolves index expressions and the partial predicate at
      // CREATE time: unknown columns and nondeterministic functions are
      // rejected here with its exact texts (probed live, 3.40)
      val exprTexts = ci.exprs.filter(_.nonEmpty) ++ ci.where.toSeq
      exprTexts.find(e => nonDetRe.findFirstIn(
          e.replaceAll("'(?:[^']|'')*'", "''")).isDefined).foreach { _ =>
        return Left(
          "non-deterministic functions prohibited in index expressions")
      }
      val probe = session.createDataFrame(
        java.util.Collections.emptyList[Row](), ts.d.schema)
      exprTexts.foreach { e =>
        try probe.selectExpr(s"($e)").schema
        catch { case ex: Exception =>
          val m = Option(ex.getMessage).getOrElse("")
          return Left(if (m.contains("UNRESOLVED_COLUMN")) {
            val name = "with name `(.+?)` cannot".r.findFirstMatchIn(m)
              .map(_.group(1).replace("`", "")).getOrElse("?")
            s"no such column: $name"
          } else friendlyError(ex))
        }
      }
      if (ci.unique) {
        // pre-scan the existing rows under the index's own semantics
        val sp = xSpecOf(ts.d, ci)
        checkAdvanced(ts.d, storeDf(ts.d, ts.store), Seq(sp))
          .foreach(e => return Left(e))
      }
      indexes(ci.name.toLowerCase) = ci
      return Right(0)
    }
    if (ci.unique) {
      val idxs = ci.cols.map(ts.d.colIndex)
      // unspecified index-column collation = the COLUMN's (SQLite);
      // non-TEXT columns always compare BINARY
      val colls = idxs.zipWithIndex.map { case (cidx, k) =>
        val o = ci.collOf(k)
        if (ts.d.cols(cidx).sparkType != StringType) "BINARY"
        else if (o.isEmpty) ts.d.cols(cidx).collate else o
      }
      val desc = ci.cols.map(c => s"${ts.d.name}.$c").mkString(", ")
      ts.store match {
        case Mem(rows) =>
          val seen = mutable.HashSet[Seq[Any]]()
          rows.foreach { case (_, r) =>
            val key = specKey(idxs, colls, r)
            if (!key.contains(null) && !seen.add(key))
              return Left(s"UNIQUE constraint failed: $desc")
          }
        case Big(df, _) =>
          // distributed pre-scan: keys with a NULL never conflict (SQLite)
          val names = idxs.map(ts.d.cols(_).name)
          val dup = df
            .filter(names.map(col(_).isNotNull).reduce(_ && _))
            .groupBy(names.lazyZip(colls).map((nm, cl) =>
              normCol(col(nm), cl)).toSeq: _*).count()
            .filter(col("count") > 1).limit(1).count()
          if (dup > 0) return Left(s"UNIQUE constraint failed: $desc")
      }
    }
    indexes(ci.name.toLowerCase) = ci
    Right(0)
  }

  private val alterRenameTableRe =
    """(?is)^\s*ALTER\s+TABLE\s+["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s+RENAME\s+TO\s+["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*;?\s*$""".r
  private val alterRenameColRe =
    """(?is)^\s*ALTER\s+TABLE\s+["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s+RENAME\s+(?:COLUMN\s+)?["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s+TO\s+["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*;?\s*$""".r
  private val alterDropColRe =
    """(?is)^\s*ALTER\s+TABLE\s+["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s+DROP\s+(?:COLUMN\s+)?["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*;?\s*$""".r
  private val alterAddColRe =
    """(?is)^\s*ALTER\s+TABLE\s+["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s+ADD\s+(?:COLUMN\s+)?(.+?)\s*;?\s*$""".r

  /** ALTER TABLE: RENAME TO / RENAME COLUMN / ADD COLUMN / DROP COLUMN,
    * with SQLite's restrictions on added columns. Indexes and FK references
    * follow renames the way SQLite rewrites them. */
  private def doAlter(work: Tables, sql: String): Either[String, Long] = {
    // ALTER transforms either representation in place: a driver map for Mem,
    // a lazy projection over the materialized DataFrame for Big (cheap —
    // no data movement until the next mutation checkpoint)
    def alterStore(st: Store,
                   f: Vector[(Long, IndexedSeq[Any])] => Vector[(Long, IndexedSeq[Any])],
                   g: DataFrame => DataFrame): Store = st match {
      case Mem(rows) => memStore(f(rows))
      case Big(df, n) =>
        val nd = g(df)
        // the projection still scans the parent's generation files but is
        // (by design) invisible to bigParts — pin those dirs so the
        // checkpoint-time sweep can't delete them under the live frame
        val dirs = bigRefDirs(df)
        if (dirs.nonEmpty) bigDirPins.put(nd, dirs)
        Big(nd, n)
    }
    def replaceEntry(oldKey: String, newKey: String, st: TableState): Unit = {
      val entries = work.toSeq.map { case (k, v) =>
        if (k == oldKey) (newKey, st) else (k, v)
      }
      work.clear()
      entries.foreach { case (k, v) => work(k) = v }
    }
    sql match {
      case alterRenameTableRe(oldName, newName) =>
        val key = oldName.toLowerCase
        if (newName.toLowerCase.startsWith("sqlite_"))
          return Left(
            s"object name reserved for internal use: $newName")
        val ts = work.getOrElse(key, return Left(s"no such table: $oldName"))
        if (work.contains(newName.toLowerCase) && key != newName.toLowerCase)
          return Left(
            s"there is already another table or index with this name: $newName")
        val td = ts.d.copy(name = newName)
        replaceEntry(key, newName.toLowerCase,
          new TableState(td, Ddl.renderCreate(td), ts.store, ts.nextRowId))
        dropSeqRow(work, oldName, renameTo = Some(newName))
        // indexes and child FK references follow the rename
        indexes.mapValuesInPlace { (_, ix) =>
          if (ix.table.equalsIgnoreCase(oldName)) ix.copy(table = newName) else ix
        }
        work.keys.toSeq.foreach { k =>
          val st = work(k)
          if (st.d.cols.exists(_.ref.exists(_._1.equalsIgnoreCase(oldName)))) {
            val td2 = st.d.copy(cols = st.d.cols.map { c =>
              c.ref match {
                case Some((rt, rc)) if rt.equalsIgnoreCase(oldName) =>
                  c.copy(ref = Some((newName, rc)))
                case _ => c
              }
            })
            work(k) = new TableState(td2, Ddl.renderCreate(td2), st.store, st.nextRowId)
          }
        }
        Right(0)
      case alterRenameColRe(tname, oldCol, newCol) =>
        val ts = work.getOrElse(tname.toLowerCase,
          return Left(s"no such table: $tname"))
        val idx = ts.d.colIndex(oldCol)
        if (idx < 0) return Left(s"""no such column: "$oldCol"""")
        if (ts.d.colIndex(newCol) >= 0 && !oldCol.equalsIgnoreCase(newCol))
          return Left(s"duplicate column name: $newCol")
        val declaredOld = ts.d.cols(idx).name
        // composite table-level constraints follow the rename (probed:
        // the error text reports the new name)
        def ren(cs: Seq[String]) =
          cs.map(c => if (c.equalsIgnoreCase(oldCol)) newCol else c)
        val td = ts.d.copy(cols = ts.d.cols.updated(idx,
          ts.d.cols(idx).copy(name = newCol)),
          pkSet = ren(ts.d.pkSet),
          uniqueSets = ts.d.uniqueSets.map(ren))
        replaceEntry(tname.toLowerCase, tname.toLowerCase,
          new TableState(td, Ddl.renderCreate(td),
            alterStore(ts.store, identity,
              _.withColumnRenamed(declaredOld, newCol)), ts.nextRowId))
        indexes.mapValuesInPlace { (_, ix) =>
          if (ix.table.equalsIgnoreCase(tname) &&
            ix.cols.exists(_.equalsIgnoreCase(oldCol)))
            ix.copy(cols = ix.cols.map(c =>
              if (c.equalsIgnoreCase(oldCol)) newCol else c))
          else ix
        }
        work.keys.toSeq.foreach { k =>
          val st = work(k)
          if (st.d.cols.exists(_.ref.exists { case (rt, rc) =>
            rt.equalsIgnoreCase(tname) && rc.equalsIgnoreCase(oldCol) })) {
            val td2 = st.d.copy(cols = st.d.cols.map { c =>
              c.ref match {
                case Some((rt, rc)) if rt.equalsIgnoreCase(tname) &&
                  rc.equalsIgnoreCase(oldCol) => c.copy(ref = Some((rt, newCol)))
                case _ => c
              }
            })
            work(k) = new TableState(td2, Ddl.renderCreate(td2), st.store, st.nextRowId)
          }
        }
        Right(0)
      case alterDropColRe(tname, cname) =>
        val ts = work.getOrElse(tname.toLowerCase,
          return Left(s"no such table: $tname"))
        val idx = ts.d.colIndex(cname)
        if (idx < 0) return Left(s"no such column: $cname")
        val cd = ts.d.cols(idx)
        if (cd.pk || ts.d.pkSet.exists(_.equalsIgnoreCase(cname)))
          return Left(s"""cannot drop PRIMARY KEY column: "$cname"""")
        if (cd.unique) return Left(s"""cannot drop UNIQUE column: "$cname"""")
        if (ts.d.uniqueSets.exists(_.exists(_.equalsIgnoreCase(cname))))
          return Left(s"error in table $tname after drop column: " +
            s"no such column: $cname")
        indexes.values.find(ix => ix.table.equalsIgnoreCase(tname) &&
          ix.cols.exists(_.equalsIgnoreCase(cname))).foreach(ix =>
          return Left(s"error in index ${ix.name} after drop column: " +
            s"no such column: $cname"))
        // a column referenced by a generated column can't drop (probed
        // SQLite 3.40 error text)
        if (ts.d.cols.exists(c => c.gen.exists { case (e, _) =>
          s"(?i)(?<![A-Za-z0-9_])${java.util.regex.Pattern.quote(cname)}(?![A-Za-z0-9_])"
            .r.findFirstIn(e.replaceAll("'([^']|'')*'", " ")).isDefined
        } && !c.name.equalsIgnoreCase(cname)))
          return Left(s"error in table $tname after drop column: " +
            s"no such column: $cname")
        val dropped = ts.d.cols(idx).name
        val td = ts.d.copy(cols =
          ts.d.cols.take(idx) ++ ts.d.cols.drop(idx + 1))
        replaceEntry(tname.toLowerCase, tname.toLowerCase,
          new TableState(td, Ddl.renderCreate(td),
            alterStore(ts.store,
              _.map { case (rid, vals) =>
                (rid, (vals.take(idx) ++ vals.drop(idx + 1)).toIndexedSeq)
              },
              _.drop(dropped)), ts.nextRowId))
        Right(0)
      case alterAddColRe(tname, defText) =>
        val ts = work.getOrElse(tname.toLowerCase,
          return Left(s"no such table: $tname"))
        val cd = Ddl.parseColDef(defText)
        if (ts.d.colIndex(cd.name) >= 0)
          return Left(s"duplicate column name: ${cd.name}")
        if (cd.pk) return Left("Cannot add a PRIMARY KEY column")
        if (cd.unique) return Left("Cannot add a UNIQUE column")
        if (cd.gen.exists(_._2)) return Left("cannot add a STORED column")
        if (cd.gen.isDefined && cd.default.isDefined)
          return Left("cannot use DEFAULT on a generated column")
        if (cd.notNull && cd.default.isEmpty && cd.gen.isEmpty)
          return Left("Cannot add a NOT NULL column with default value NULL")
        val td = ts.d.copy(cols = ts.d.cols :+ cd)
        cd.gen match {
          case Some((e, _)) =>
            // a (VIRTUAL) generated column backfills by computing the
            // expression over each existing row
            replaceEntry(tname.toLowerCase, tname.toLowerCase,
              new TableState(td, Ddl.renderCreate(td),
                alterStore(ts.store,
                  rows => {
                    val widened = rows.map { case (rid, vals) =>
                      (rid, (vals :+ (null: Any)).toIndexedSeq)
                    }
                    widened.map(_._1)
                      .zip(computeGens(td, widened.map(_._2))).toVector
                  },
                  _.withColumn(cd.name,
                    expr(s"CAST(($e) AS ${sparkTypeName(cd)})"))),
                ts.nextRowId))
            return Right(0)
          case None =>
        }
        // SQLite backfills existing rows with the (constant) default
        val defVal: Any = cd.default match {
          case Some(d) =>
            ssql(s"SELECT CAST(($d) AS ${sparkTypeName(cd)})").head.get(0)
          case None => null
        }
        replaceEntry(tname.toLowerCase, tname.toLowerCase,
          new TableState(td, Ddl.renderCreate(td),
            alterStore(ts.store,
              _.map { case (rid, vals) => (rid, (vals :+ defVal).toIndexedSeq) },
              _.withColumn(cd.name, lit(defVal).cast(cd.sparkType))),
            ts.nextRowId))
        Right(0)
      case _ => Left("near \"ALTER\": syntax error")
    }
  }

  // OR ABORT is SQLite's default; OR FAIL keeps the applied prefix and
  // reports the error ([[pendingFailError]]); OR ROLLBACK additionally
  // aborts the enclosing connection tx on a constraint (not FK) failure.
  private val insertRe =
    """(?is)^\s*(INSERT(?:\s+OR\s+(REPLACE|IGNORE|ABORT|FAIL|ROLLBACK))?|REPLACE)\s+INTO\s+[`"]?([A-Za-z_][A-Za-z0-9_]*)[`"]?\s*(?:\(([^)]*)\))?\s*VALUES\s*(.+?)\s*;?\s*$""".r
  private val insertSelRe =
    """(?is)^\s*(INSERT(?:\s+OR\s+(REPLACE|IGNORE|ABORT|FAIL|ROLLBACK))?|REPLACE)\s+INTO\s+[`"]?([A-Za-z_][A-Za-z0-9_]*)[`"]?\s*(?:\(([^)]*)\))?\s*((?:SELECT|WITH)\s.+?)\s*;?\s*$""".r
  private val insertDefaultsRe =
    """(?is)^\s*(INSERT(?:\s+OR\s+(REPLACE|IGNORE|ABORT|FAIL|ROLLBACK))?|REPLACE)\s+INTO\s+[`"]?([A-Za-z_][A-Za-z0-9_]*)[`"]?\s+DEFAULT\s+VALUES\s*;?\s*$""".r
  private val onConflictRe =
    """(?is)^ON\s+CONFLICT\s*(?:\(([^)]*)\))?\s*DO\s+(NOTHING|UPDATE\s+SET\s+.+)\s*$""".r

  /** How an INSERT resolves uniqueness conflicts (SQLite upsert surface:
    * INSERT OR REPLACE / OR IGNORE / REPLACE INTO / ON CONFLICT DO).
    * An upsert carries one or more clauses (SQLite 3.35+ multi-clause
    * form): per candidate, the FIRST clause in statement order whose
    * target constraint the candidate actually violates applies; a clause
    * without a target (only valid last) matches any uniqueness violation
    * (probed live, 3.40). */
  private sealed trait Conflict
  private object Conflict {
    case object Abort extends Conflict
    case object Fail extends Conflict
    case object Ignore extends Conflict
    case object Replace extends Conflict
    final case class Upsert(clauses: Seq[UpsertClause]) extends Conflict
  }
  /** One `ON CONFLICT … DO …` clause: `sets` empty = DO NOTHING; `where`
    * (DO UPDATE only — SQLite rejects it on DO NOTHING with `near
    * "WHERE": syntax error`) gates the update per conflicting candidate,
    * evaluated against the existing row + excluded.*; false/NULL skips
    * the candidate entirely with NO fall-through to later clauses
    * (probed live, 3.40). */
  private final case class UpsertClause(cols: Option[Seq[String]],
                                        sets: Seq[(String, String)],
                                        where: Option[String] = None)

  /** insertRows + the parent-side FK delta for policies that can drop or
    * rewrite referenced keys (REPLACE displacement, upsert DO UPDATE on a
    * referenced column). The delta runs after the insert commits; a
    * failing guard restores the parent state captured here. */
  private def insertWithFkDelta(work: Tables, tname: String, colList: String,
      source: Either[String, String], policy: Conflict)
      : Either[String, Long] = {
    if (tname.equalsIgnoreCase("sqlite_master") ||
        tname.equalsIgnoreCase("sqlite_schema"))
      return Left("table sqlite_master may not be modified")
    val tsOpt = work.get(tname.toLowerCase)
    val needDelta = fkEnabled && tsOpt.exists { ts =>
      val refd = referencedCols(work, ts.d)
      refd.nonEmpty && (policy match {
        case Conflict.Replace => true
        case Conflict.Upsert(clauses) => clauses.exists(_.sets.exists {
          case (c, _) =>
            refd.exists(i => ts.d.cols(i).name.equalsIgnoreCase(c)) })
        case _ => false
      })
    }
    // a stale victim tape from an earlier aborted statement must never
    // feed this statement's delta (the bulk path sets none of its own)
    replaceVictims = None
    if (!needDelta) return insertRows(work, tname, colList, source, policy)
    val ts = tsOpt.get
    val beforeDf = ridDf(ts)
    val backup = ts.copyState
    // an AUTOINCREMENT insert also bumps the sequence row — a failing
    // delta guard must roll that back with the table
    val seqBackup = work.get("sqlite_sequence").map(_.copyState)
    insertRows(work, tname, colList, source, policy).flatMap { n =>
      fkParentDelta(work, ts, beforeDf,
        deleteLike = policy == Conflict.Replace) match {
        case Left(e) =>
          work(tname.toLowerCase) = backup
          seqBackup.foreach(work("sqlite_sequence") = _)
          Left(e)
        case Right(_) => Right(n)
      }
    }
  }

  private def doInsert(work: Tables, sql: String): Either[String, Long] = {
    def headPolicy(head: String, mod: String): Conflict =
      if (head.trim.toUpperCase.startsWith("REPLACE")) Conflict.Replace
      else if (mod == null) Conflict.Abort
      else if (mod.equalsIgnoreCase("REPLACE")) Conflict.Replace
      else if (mod.equalsIgnoreCase("IGNORE")) Conflict.Ignore
      else if (mod.equalsIgnoreCase("FAIL")) Conflict.Fail
      else Conflict.Abort // ABORT (the default) / ROLLBACK
    // the ROLLBACK conflict algorithm: abort semantics in the pipeline,
    // plus the connection-tx abort on a constraint (not FK) failure
    def withRollback(mod: String, r: => Either[String, Long])
        : Either[String, Long] =
      if (mod == null || !mod.equalsIgnoreCase("ROLLBACK")) r
      else r.left.map { e => if (constraintErr(e)) abortOpenTx(); e }
    sql match {
      case insertDefaultsRe(head, mod, tname) =>
        // INSERT INTO t DEFAULT VALUES — one all-defaults row: declared
        // DEFAULT expressions (or NULL) for every stored column, the
        // rowid alias auto-assigns via its NULL, generated columns
        // compute as usual. Rewritten onto the normal VALUES pipeline so
        // every policy/constraint/trigger path is shared.
        if (viewDefs.contains(tname.toLowerCase))
          return Left(s"cannot modify $tname because it is a view")
        val ts = work.getOrElse(tname.toLowerCase,
          return Left(s"no such table: $tname"))
        val stored = ts.d.cols.filter(_.gen.isEmpty)
        val colList = stored.map(_.name).mkString(", ")
        val tail = stored.map(_.default.getOrElse("NULL"))
          .mkString("(", ", ", ")")
        withRollback(mod, insertWithFkDelta(work, tname, colList,
          Left(tail), headPolicy(head, mod)))
      case insertRe(head, mod, tname, colList, tail0) =>
        // the ON CONFLICT clause rides on the VALUES tail; locate it with
        // the quote/paren-aware scanner so "ON CONFLICT" inside a VALUES
        // string literal (always at paren depth > 0) can never match
        val onIdx = SqlText.findKeyword(tail0, "ON")
        val clause = if (onIdx >= 0) tail0.substring(onIdx).trim else ""
        val (tail, policy) = parseUpsert(clause) match {
          case Some(Right(p)) => (tail0.take(onIdx), p)
          case Some(Left(e)) => return Left(e)
          case None => (tail0, headPolicy(head, mod))
        }
        withRollback(mod,
          insertWithFkDelta(work, tname, colList, Left(tail), policy))
      case insertSelRe(head, mod, tname, colList, select0) =>
        // a SELECT source can also carry an upsert clause (SQLite surface);
        // a join's ON is never followed by the CONFLICT keyword
        val onIdx = findOnConflict(select0)
        val clause = if (onIdx >= 0) select0.substring(onIdx).trim else ""
        val (select, policy) = parseUpsert(clause) match {
          case Some(Right(p)) => (select0.take(onIdx), p)
          case Some(Left(e)) => return Left(e)
          case None => (select0, headPolicy(head, mod))
        }
        withRollback(mod,
          insertWithFkDelta(work, tname, colList, Right(select), policy))
      case _ => Left("near \"INSERT\": syntax error")
    }
  }

  /** Parse an `ON CONFLICT … [ON CONFLICT …]*` tail into the Upsert
    * policy: None when the text is not an upsert clause, Some(Left) on a
    * malformed clause. SQLite 3.35+ accepts any number of clauses; only
    * the LAST may omit its conflict target (earlier targetless clauses
    * are `near "ON": syntax error` — probed live). */
  private def parseUpsert(clause: String): Option[Either[String, Conflict]] = {
    if (clause.isEmpty) return None
    // segment boundaries: every top-level `ON CONFLICT` (quote/paren-aware
    // via findOnConflict, so the keyword pair inside a SET string literal
    // or a parenthesized expression never splits)
    val starts = Vector.newBuilder[Int]
    var from = 0
    var guard = true
    while (guard) {
      val rel = findOnConflict(clause.substring(from))
      if (rel < 0) guard = false
      else { starts += from + rel; from = from + rel + 2 }
    }
    val offs = starts.result()
    if (offs.isEmpty || offs.head != 0) return None
    val segs = offs.indices.map { i =>
      val end = if (i + 1 < offs.size) offs(i + 1) else clause.length
      clause.substring(offs(i), end).trim
    }
    val out = Seq.newBuilder[UpsertClause]
    segs.zipWithIndex.foreach { case (seg, i) =>
      seg match {
        case onConflictRe(confCols, action) =>
          if (confCols == null && i + 1 < segs.size)
            return Some(Left("near \"ON\": syntax error"))
          val cols = Option(confCols).map(_.split(",")
            .map(_.trim.stripPrefix("\"").stripSuffix("\"")
              .stripPrefix("`").stripSuffix("`")).toSeq)
          if (action.equalsIgnoreCase("NOTHING"))
            out += UpsertClause(cols, Nil)
          else {
            val setText0 = action.replaceAll("(?is)^UPDATE\\s+SET\\s+", "")
            // `DO UPDATE SET … WHERE cond` — top-level scan, so a WHERE
            // inside a parenthesized subquery in a SET expression can
            // never split (probed: the WHERE gates per candidate)
            val wIdx = SqlText.findKeyword(setText0, "WHERE")
            val (setText, where) =
              if (wIdx < 0) (setText0, None)
              else (setText0.take(wIdx),
                Some(setText0.substring(wIdx + 5).trim))
            val sets = Seq.newBuilder[(String, String)]
            SqlText.splitTopLevel(setText).foreach { a =>
              val eq = a.indexOf('=')
              if (eq < 0) return Some(Left("near \"SET\": syntax error"))
              sets += (a.take(eq).trim.stripPrefix("\"").stripSuffix("\"")
                .stripPrefix("`").stripSuffix("`") ->
                a.substring(eq + 1).trim)
            }
            out += UpsertClause(cols, sets.result(), where)
          }
        case _ =>
          // DO NOTHING takes no WHERE (probed: SQLite rejects it)
          if (seg.matches("(?is)^ON\\s+CONFLICT\\s*(?:\\([^)]*\\))?\\s*DO\\s+NOTHING\\s+WHERE\\b.*"))
            return Some(Left("near \"WHERE\": syntax error"))
          // first segment not an upsert clause: the ON belongs to the
          // statement body; a later malformed segment is a real error
          return if (i == 0) None
                 else Some(Left("near \"ON\": syntax error"))
      }
    }
    Some(Right(Conflict.Upsert(out.result())))
  }

  /** SQLite printf `%r`: 1st, 2nd, 3rd, 4th … with the 11th–13th
    * exception (printf.c). Used by the multi-clause upsert target error. */
  private def ordinal(n: Int): String = {
    val x = if (n % 10 > 3 || (n % 100) / 10 == 1) 0 else n % 10
    s"$n${Seq("th", "st", "nd", "rd")(x)}"
  }

  /** Index of a top-level `ON CONFLICT` in an INSERT's SELECT tail, or -1.
    * Restarting the top-level scan after each ON is sound: a top-level
    * position leaves the scanner at depth 0 / outside quotes. */
  private def findOnConflict(s: String): Int = {
    var from = 0
    while (from < s.length) {
      val rel = SqlText.findKeyword(s.substring(from), "ON")
      if (rel < 0) return -1
      val abs = from + rel
      if (s.substring(abs + 2).trim.toUpperCase.startsWith("CONFLICT"))
        return abs
      from = abs + 2
    }
    -1
  }

  /** Uniqueness constraints of a table as (column indexes, error text):
    * PK / UNIQUE columns in declaration order, then UNIQUE indexes. */
  // ---------- collation (SQLite BINARY | NOCASE | RTRIM) ------------------
  // NOCASE folds ASCII A-Z only (sqlite3UpperToLower); RTRIM ignores
  // trailing spaces (0x20). Constraint paths compare NORMALIZED keys —
  // lower-folded / right-trimmed — which matches SQLite's comparator
  // exactly for ASCII text. The distributed legs use Spark's lower()/
  // rtrim() (Unicode lower vs SQLite's ASCII fold — a documented
  // divergence on non-ASCII case pairs only).

  private val knownCollations = Set("BINARY", "NOCASE", "RTRIM")

  /** Normalize one value under a collation (non-TEXT values pass through —
    * SQLite collations only affect text comparison). */
  private def collNorm(v: Any, coll: String): Any = v match {
    case s: String => coll match {
      case "NOCASE" =>
        var i = 0; var needs = false
        while (i < s.length && !needs) {
          val c = s.charAt(i); if (c >= 'A' && c <= 'Z') needs = true; i += 1
        }
        if (!needs) s
        else {
          val a = s.toCharArray
          var j = 0
          while (j < a.length) {
            val c = a(j); if (c >= 'A' && c <= 'Z') a(j) = (c + 32).toChar
            j += 1
          }
          new String(a)
        }
      case "RTRIM" =>
        var e = s.length
        while (e > 0 && s.charAt(e - 1) == ' ') e -= 1
        if (e == s.length) s else s.substring(0, e)
      case _ => s
    }
    case other => other
  }

  /** A spec key for comparison: values at `idxs`, normalized per the
    * spec's collations. */
  private def specKey(idxs: Seq[Int], colls: Seq[String],
                      vals: IndexedSeq[Any]): Seq[Any] =
    idxs.lazyZip(colls).map((i, c) => collNorm(vals(i), c))

  /** DataFrame column for collation-aware key comparison (grouping,
    * joins, windows): lower() for NOCASE, rtrim() for RTRIM. The input is
    * re-collated to UTF8_BINARY first — a source column may carry a
    * collated TYPE from the query views, and mixing it into lower()/joins
    * untreated trips Spark's INDETERMINATE_COLLATION analysis. */
  private def normCol(c: Column, coll: String): Column = coll match {
    case "NOCASE" =>
      lower(org.apache.spark.sql.functions.collate(c, "UTF8_BINARY"))
    case "RTRIM" =>
      rtrim(org.apache.spark.sql.functions.collate(c, "UTF8_BINARY"))
    case _ => c
  }

  /** Collations for a spec resolved from the COLUMN definitions. An index
    * created with explicit per-column collations registers its own spec
    * (see [[uniqueSpecs]]); everything else takes the column's. Non-TEXT
    * columns always compare BINARY (collation only affects text). */
  private def specColls(td: TableDef, idxs: Seq[Int]): Seq[String] =
    idxs.map { i =>
      val c = td.cols(i)
      if (c.sparkType == StringType) c.collate else "BINARY"
    }

  /** A uniqueness spec: column indexes, SQLite error-text description, and
    * the per-column collation each key position compares under. */
  private type USpec = (Seq[Int], String, Seq[String])

  private def uniqueSpecs(td: TableDef): Seq[USpec] = {
    def ofSet(cs: Seq[String]): Option[USpec] = {
      val idxs = cs.map(td.colIndex)
      if (idxs.forall(_ >= 0))
        Some((idxs, cs.map(c => s"${td.name}.$c").mkString(", "),
          specColls(td, idxs)))
      else None
    }
    // a composite table-level PRIMARY KEY is a tuple-level unique spec in
    // clause order (the clause order also governs SQLite's error text)
    val pkSpec = if (td.pkSet.isEmpty) Nil else ofSet(td.pkSet).toSeq
    val colSpecs = td.cols.zipWithIndex.collect {
      case (c, i) if c.pk || c.unique =>
        (Seq(i), s"${td.name}.${c.name}", specColls(td, Seq(i)))
    }
    val setSpecs = td.uniqueSets.flatMap(ofSet)
    val idxSpecs = indexes.values.toSeq
      .filter(ix => ix.unique && !ix.advanced &&
        ix.table.equalsIgnoreCase(td.name))
      .flatMap { ix =>
        val idxs = ix.cols.map(td.colIndex)
        if (idxs.forall(_ >= 0))
          // an index column's collation defaults to the COLUMN's (SQLite);
          // an explicit `COLLATE c` in the index overrides it
          Some((idxs, ix.cols.map(c => s"${td.name}.$c").mkString(", "),
            idxs.zipWithIndex.map { case (ci, k) =>
              val o = ix.collOf(k)
              if (td.cols(ci).sparkType != StringType) "BINARY"
              else if (o.isEmpty) td.cols(ci).collate else o
            }))
        else None
      }
    // SQLite's within-row REPORTING order when one row violates several
    // unique constraints (probed live; OLTP fuzz V7): the rowid itself
    // first, then the table's index list — which SQLite PREPENDS to as
    // each index is created, so named indexes newest-first, then
    // table-level clauses and column constraints in reverse declaration
    // order. Only the error text depends on this order; conflict/victim
    // SETS are order-independent.
    val (aliasSpec, otherCols) = colSpecs.partition { case (idxs, _, _) =>
      idxs.sizeIs == 1 && td.cols(idxs.head).isRowidAlias }
    aliasSpec ++ idxSpecs.reverse ++ setSpecs.reverse ++ pkSpec ++
      otherCols.reverse
  }

  // ---------- partial & expression unique indexes -------------------------
  // `CREATE UNIQUE INDEX … ON t(expr[, …]) [WHERE pred]` (VERDICT r12 #2).
  // These cannot key the slice/window machinery (their keys are computed,
  // their row set predicate-filtered), so they enforce as a FINAL-STATE
  // duplicate scan: exact for the plain ABORT paths (insert, update, bulk),
  // zero cost for tables without one. Conflict POLICIES (OR IGNORE /
  // REPLACE / FAIL / upsert / UPDATE OR x) would need the computed keys
  // inside the sequential resolution loops — a loud documented boundary
  // instead of a silent divergence. Non-unique advanced indexes are
  // catalog-only (a full-scan engine has nothing to maintain).

  private final case class XSpec(name: String, keys: Seq[String],
      where: Option[String], err: String)

  /** SQLite's error text: an index with any EXPRESSION position reports
    * `index 'name'`; a plain-column (partial) one keeps the column list
    * (probed live, 3.40). */
  private def xSpecOf(td: TableDef, ix: Ddl.CreateIndex): XSpec = {
    val keys = ix.cols.indices.map { k =>
      val e = ix.exprOf(k)
      val base = if (e.nonEmpty) s"($e)" else s"`${ix.cols(k)}`"
      val coll = {
        val o = ix.collOf(k)
        if (o.nonEmpty) o
        else if (e.isEmpty) {
          val ci = td.colIndex(ix.cols(k))
          if (ci >= 0 && td.cols(ci).sparkType == StringType)
            td.cols(ci).collate
          else "BINARY"
        } else "BINARY"
      }
      coll match {
        case "NOCASE" => s"lower($base)"
        case "RTRIM" => s"rtrim($base)"
        case _ => base
      }
    }
    val desc =
      if (ix.exprs.forall(_.isEmpty))
        ix.cols.map(c => s"${td.name}.$c").mkString(", ")
      else s"index '${ix.name}'"
    XSpec(ix.name, keys, ix.where, s"UNIQUE constraint failed: $desc")
  }

  private def advancedSpecs(td: TableDef): Seq[XSpec] =
    indexes.values.toSeq
      .filter(ix => ix.unique && ix.advanced &&
        ix.table.equalsIgnoreCase(td.name))
      .map(xSpecOf(td, _))

  /** Duplicate scan over a final-state frame exposing the table's data
    * columns (extra bookkeeping columns are fine). Keys with any NULL
    * position never conflict (SQLite). */
  private def checkAdvanced(td: TableDef, df: DataFrame,
      specs: Seq[XSpec]): Option[String] = {
    specs.foreach { sp =>
      try {
        val base = sp.where.map(w => df.filter(s"COALESCE(($w), false)"))
          .getOrElse(df)
        val keyed = base.selectExpr(sp.keys.zipWithIndex.map {
          case (k, i) => s"($k) AS __xk$i" }: _*)
        val nn = sp.keys.indices.map(i => col(s"__xk$i").isNotNull)
          .reduce(_ && _)
        val dup = keyed.filter(nn)
          .groupBy(sp.keys.indices.map(i => col(s"__xk$i")): _*)
          .count().filter(col("count") > 1).limit(1).count()
        if (dup > 0) return Some(sp.err)
      } catch { case e: Exception => return Some(stmtError(e)) }
    }
    None
  }

  /** [[checkAdvanced]] for the driver-row insert paths: `allRows` is the
    * tentative final Mem/slice state, `remainder` the untouched spilled
    * rows when the slice path is in play. Returns (error, position in
    * `allRows` of the first VIOLATING row) — the LATER of each duplicate
    * pair, so callers can reproduce SQLite's partial-advance
    * last_insert_rowid on aborted multi-row inserts (fuzz seeds
    * 310082/310083). Remainder rows order before every allRows row. */
  private def advCheckRows(td: TableDef,
      allRows: Vector[(Long, IndexedSeq[Any])],
      remainder: Option[DataFrame]): Option[(String, Int)] = {
    val specs = advancedSpecs(td)
    if (specs.isEmpty) return None
    val posSchema = StructType(
      StructField("__pos", LongType, nullable = false) +: td.schema.fields)
    val rowsDf = session.createDataFrame(
      allRows.zipWithIndex.map { case ((_, v), i) =>
        Row.fromSeq(i.toLong +: v) }.asJava, posSchema)
    val full = remainder match {
      case Some(keep) =>
        keep.select(lit(-1L).as("__pos") +:
          td.cols.map(c => col(c.name)): _*).unionAll(rowsDf)
      case None => rowsDf
    }
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    specs.foreach { sp =>
      try {
        val base = sp.where.map(w => full.filter(s"COALESCE(($w), false)"))
          .getOrElse(full)
        val keyed = base.selectExpr("__pos" +:
          sp.keys.zipWithIndex.map { case (k, i) => s"($k) AS __xk$i" }: _*)
        val nn = sp.keys.indices.map(i => col(s"__xk$i").isNotNull)
          .reduce(_ && _)
        val w = Window
          .partitionBy(sp.keys.indices.map(i => col(s"__xk$i")): _*)
          .orderBy(col("__pos"))
        val bad = keyed.filter(nn)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") > 1)
          .agg(expr("min(__pos)")).head()
        if (!bad.isNullAt(0))
          return Some((sp.err, math.max(bad.getLong(0), 0L).toInt))
      } catch { case e: Exception => return Some((stmtError(e), 0)) }
    }
    None
  }

  /** Policy statements cannot resolve against an advanced index — fail
    * loudly instead of silently diverging from SQLite. */
  private def advPolicyBoundary(td: TableDef): Option[String] =
    advancedSpecs(td).headOption.map(sp =>
      s"conflict resolution over a partial or expression index is not " +
        s"supported: ${sp.name} (drop the index or use plain INSERT/UPDATE)")

  /** Does `vals` conflict with `row` on any spec? (SQLite: NULLs in any
    * indexed column never conflict; text positions compare under the
    * spec's collation.) */
  private def conflicts(specs: Seq[USpec],
                        row: IndexedSeq[Any], vals: IndexedSeq[Any]): Boolean =
    specs.exists { case (idxs, _, colls) =>
      val key = specKey(idxs, colls, vals)
      !key.contains(null) && specKey(idxs, colls, row) == key
    }

  /** Shared INSERT pipeline: `source` is either a VALUES tail or a SELECT
    * text; both evaluate through Catalyst and cast to column affinities.
    * `policy` resolves uniqueness conflicts (abort/ignore/replace/upsert).
    *
    * Routing: VALUES batches are statement-text-sized and always collect.
    * A SELECT source is probed one row past [[maxDriverRows]] — an over-cap
    * result takes [[bulkInsertBig]] (fully distributed; the candidate set
    * never lands on the driver). Driver-sized candidates into a spilled
    * table take [[insertIntoBig]] (exact sequential semantics on the
    * interacting slice only). */
  private def insertRows(work: Tables, tname: String, colList: String,
                         source: Either[String, String],
                         policy: Conflict = Conflict.Abort): Either[String, Long] = {
    if (viewDefs.contains(tname.toLowerCase))
      return Left(s"cannot modify $tname because it is a view")
    val ts = work.getOrElse(tname.toLowerCase,
      return Left(s"no such table: $tname"))
    val td = ts.d
    val targetCols: Seq[Int] =
      if (colList == null || colList.trim.isEmpty) td.storedColIdx
      else {
        val names = colList.split(",").map(_.trim
          .stripPrefix("\"").stripSuffix("\"")
          .stripPrefix("`").stripSuffix("`"))
        val idx = names.map(td.colIndex)
        idx.zip(names).find(_._1 < 0) match {
          case Some((_, bad)) =>
            return Left(s"table $tname has no column named $bad")
          case None =>
            idx.foreach(ci => genWriteError(td, ci, "INSERT into")
              .foreach(e => return Left(e)))
            idx.toSeq
        }
      }
    // unspecified columns take their declared DEFAULT (constant,
    // evaluated once through Catalyst), else NULL — SQLite semantics
    val defaults: Map[Int, Any] = td.cols.zipWithIndex.collect {
      case (c, i) if !targetCols.contains(i) && c.default.isDefined =>
        i -> ssql(
          s"SELECT CAST((${c.default.get}) AS ${sparkTypeName(c)})")
          .head.get(0)
    }.toMap
    // conflict policies cannot resolve against partial/expression
    // indexes — the sequential loops have no computed keys for them
    if (policy != Conflict.Abort)
      advPolicyBoundary(td).foreach(e => return Left(e))
    // WITHOUT ROWID: inserts never touch last_insert_rowid (probed live —
    // the connection counter keeps its previous value); the internal
    // per-row ids remain pure store bookkeeping
    lidSuppressed = td.withoutRowid
    val rowidIdx = td.rowidAlias.map(c => td.colIndex(c.name)).getOrElse(-1)
    val probeCap = math.min(maxDriverRows, Int.MaxValue - 2L).toInt
    // All-literal VALUES whose literals exactly type-match the declared
    // columns build their Rows on the driver (see [[FastValues]]): the
    // Catalyst round-trip below costs ~4 ms/statement, which dominated
    // single-row OLTP throughput. Any other shape keeps the Catalyst path
    // bit-for-bit (FastValues only accepts combinations it can reproduce
    // exactly, and bails — not errors — on everything else).
    val fastRows: Option[IndexedSeq[Row]] = source match {
      case Left(tail) => FastValues.rows(tail, targetCols.map(td.cols(_)))
      case Right(_) => None
    }
    // A SELECT source is materialized ONCE (localCheckpoint — blocks live on
    // executors) before the cap probe, so a nondeterministic source can
    // never yield a spill decision inconsistent with the rows actually
    // stored. (The execute API's determinism guard already rejects rand()/
    // uuid() SQL for statement-log replication; this keeps the invariant by
    // construction for any internal caller too.)
    val (stable, incomingOpt): (DataFrame, Option[IndexedSeq[Row]]) =
      fastRows match {
        case Some(rows) => (null, Some(rows))
        case None =>
          val raw = source match {
            case Left(tail) =>
              val tuples =
                SqlText.splitTopLevel(tail).map(_.trim).filter(_.nonEmpty)
              val arity = SqlText.splitTopLevel(
                tuples.head.stripPrefix("(").stripSuffix(")")).size
              if (arity != targetCols.size)
                return Left(s"table $tname has ${td.storedColIdx.size} " +
                  s"columns but $arity values were supplied")
              val alias = (1 to arity).map(i => s"c$i").mkString(",")
              ssql(
                s"SELECT * FROM (VALUES ${tuples.mkString(",")}) AS __v($alias)")
            case Right(select) =>
              registerViews(work)
              val df0 = ssql(SqlText.fixQuotedIdents(select))
              if (df0.columns.length != targetCols.size)
                return Left(s"table $tname has ${td.storedColIdx.size} " +
                  s"columns but ${df0.columns.length} values were supplied")
              df0.toDF((1 to df0.columns.length).map(i => s"c$i"): _*)
          }
          val casts = targetCols.zipWithIndex.map { case (ci, i) =>
            s"CAST(c${i + 1} AS ${sparkTypeName(td.cols(ci))}) AS c${i + 1}"
          }
          val df = raw.selectExpr(casts: _*)
          source match {
            case Left(_) => (df, Some(df.collect().toIndexedSeq))
            case Right(_) =>
              val ck = df.localCheckpoint()
              val p = ck.limit(probeCap + 1).collect()
              (ck, if (p.length > probeCap) None else Some(p.toIndexedSeq))
          }
      }
    incomingOpt match {
      case None =>
        bulkInsertBig(work, ts, targetCols, defaults, rowidIdx, stable, policy)
      case Some(incoming) =>
        // Build candidate full rows + rowids (sequential — exact SQLite
        // max(current)+1 assignment, freed top rowids reused; an
        // AUTOINCREMENT table additionally floors at its sequence row,
        // so freed top rowids are NEVER reused).
        val autoBase = {
          val b = rowidBase(ts)
          if (td.cols.exists(_.autoInc)) math.max(b, seqOf(work, td.name) + 1)
          else b
        }
        var nextId = autoBase
        var lastId = lastRowId
        // tentative assignment: SQLite assigns a rowid only when a row
        // actually INSERTS — candidates that resolve to an upsert UPDATE or
        // an OR IGNORE skip must not consume one (probed live, pinned by
        // ReturningSpec). The Ignore/Upsert branches re-derive auto rowids
        // at their actual insert points from (explicitFlags, autoBase).
        val cand3 = incoming.map { r =>
          val full = Array.fill[Any](td.cols.size)(null)
          defaults.foreach { case (i, v) => full(i) = v }
          targetCols.zipWithIndex.foreach { case (ci, i) => full(ci) = r.get(i) }
          val explicitRid = rowidIdx >= 0 && full(rowidIdx) != null
          val rid =
            if (explicitRid) full(rowidIdx).asInstanceOf[Long]
            else { val v = nextId; v }
          if (rowidIdx >= 0) full(rowidIdx) = rid
          nextId = math.max(nextId, rid + 1)
          lastId = rid
          (rid, full.toIndexedSeq, explicitRid)
        }
        val candidates = {
          val c0 = cand3.map(c => (c._1, c._2))
          if (td.genColsOrdered.isEmpty) c0
          else c0.map(_._1).zip(computeGens(td, c0.map(_._2)))
        }
        val explicitFlags = cand3.map(_._3)
        ts.store match {
          case Mem(memRows) =>
            applyPolicySeq(td, policy, memRows, candidates, lastId,
              explicitFlags, autoBase, rowidIdx).flatMap {
              case (kept, added, touched, insRids, affected, lastOpt) =>
                validateIdx(work, td, kept ++ added, touched) match {
                  case Left((err, k)) =>
                    // SQLite: rows inserted BEFORE the failing row still
                    // advance last_insert_rowid even though the statement
                    // is undone (probed live; fuzz-pinned)
                    insRids.take(k).flatten.lastOption.foreach(noteLid)
                    if (policy == Conflict.Fail && constraintErr(err)) {
                      // OR FAIL keeps the prefix (all valid — k is the
                      // FIRST failure) and reports the error; FK failures
                      // are not policy-resolved and abort wholesale
                      ts.store = memStore(kept, added.take(k))
                      insertFirings = insertFirings.map(_.take(k))
                      ts.nextRowId = candidates.take(k).foldLeft(autoBase) {
                        case (nx, (rid, _)) => math.max(nx, rid + 1)
                      }
                      maybeSpill(ts)
                      // the kept prefix does NOT advance sqlite_sequence
                      // (probed: seq updates on statement SUCCESS only;
                      // the max(seq, max rowid)+1 formula still covers
                      // the prefix rows — fuzz seed 97149)
                      pendingFailError = Some(err)
                      Right(k.toLong)
                    } else Left(err)
                  case Right(_) =>
                    ts.store = memStore(kept, added)
                    ts.nextRowId = nextId
                    lastOpt.foreach(noteLid)
                    maybeSpill(ts)
                    // the sequence takes the statement's final rowid
                    // REGISTER — the max over ALL candidates, skipped and
                    // upsert-hit ones included (probed live, fuzz V7)
                    if (candidates.nonEmpty)
                      bumpSeq(work, td, candidates.iterator.map(_._1).max)
                    Right(affected)
                }
            }
          case big: Big =>
            insertIntoBig(work, ts, big, candidates, policy, nextId, lastId,
              explicitFlags, autoBase, rowidIdx)
        }
    }
  }

  /** Sequential conflict-policy semantics over `base` — SQLite's observable
    * per-candidate order. Shared by the Mem path (base = the whole table)
    * and the spilled path (base = the interacting slice, which by
    * construction contains every row a candidate can conflict with, so the
    * outcomes are identical). `base` is in rowid order. Returns (the base
    * rows kept under their own rowids, in base order; the rows that land
    * — inserted, or rekeyed by DO UPDATE — in statement order; rows to
    * validate; per-validated-row inserted rowid — Some for rows this
    * statement INSERTED, None for upsert-updated rows — rows_affected,
    * last inserted id) and sets the statement's [[insertFirings]]. The
    * inserted-rid column lets callers reproduce SQLite's
    * last_insert_rowid() on ABORTED statements: rows inserted before the
    * first failing row still advance the connection counter even though
    * the statement is undone (fuzz-pinned, check_oltp.py).
    *
    * `candidates` carry TENTATIVE rowids (assigned as if every candidate
    * inserts); `explicitFlags(i)` marks a caller-supplied rowid. The
    * Ignore/Upsert branches re-derive auto rowids at their actual insert
    * points from `autoBase` (the statement-time max+1), because SQLite
    * consumes a rowid only on a real insert — a skipped or upsert-updated
    * candidate leaves the counter untouched (probed live; ReturningSpec). */
  private def applyPolicySeq(td: TableDef, policy: Conflict,
      base: Vector[(Long, IndexedSeq[Any])],
      candidates: IndexedSeq[(Long, IndexedSeq[Any])], lastId: Long,
      explicitFlags: IndexedSeq[Boolean], autoBase: Long, rowidIdx: Int)
      : Either[String, (Vector[(Long, IndexedSeq[Any])],
                        Vector[(Long, IndexedSeq[Any])],
                        Seq[IndexedSeq[Any]], IndexedSeq[Option[Long]],
                        Long, Option[Long])] = {
    def inserts(rows: Seq[(Long, IndexedSeq[Any])]) =
      Some(rows.map(r => ("INSERT", Some(r._2): Option[IndexedSeq[Any]],
        None: Option[IndexedSeq[Any]])))
    policy match {
      case Conflict.Abort | Conflict.Fail =>
        captureRet(td, candidates.toVector)
        insertFirings = inserts(candidates)
        // conflicts surface through validateIdx's uniqueness scan; the
        // FAIL prefix (rows before the first failing candidate) is cut
        // there, where the failing index is known
        Right((base, candidates.toVector, candidates.map(_._2),
          candidates.map(c => Some(c._1)),
          candidates.size.toLong, Some(lastId)))
      case Conflict.Ignore =>
        // skip candidates violating NOT NULL, CHECK or any uniqueness
        // spec (SQLite: FK violations still abort — validateIdx after).
        // AUTOINCREMENT rowids come from the statement's running register
        // (the tentative assignment): even a SKIPPED auto candidate
        // consumes its rowid there (probed live — OLTP fuzz V7), unlike
        // plain rowid tables where skips never consume.
        val autoInc = td.cols.exists(_.autoInc)
        val specs = uniqueSpecs(td)
        val checkFailed: Set[Int] =
          if (td.checks.isEmpty || candidates.isEmpty) Set.empty
          else {
            val idxSchema = StructType(
              StructField("__i", IntegerType, nullable = false) +:
                td.schema.fields)
            val cdf = session.createDataFrame(
              candidates.zipWithIndex.map { case ((_, vals), i) =>
                Row.fromSeq(i +: vals)
              }.asJava, idxSchema)
            val ok = td.checks
              .map(c => s"COALESCE((${c._2}), true)").mkString(" AND ")
            try cdf.filter(s"NOT ($ok)").select("__i")
              .collect().map(_.getInt(0)).toSet
            catch { case _: Exception => Set.empty[Int] }
          }
        var landed = Vector.empty[(Long, IndexedSeq[Any])]
        var nextAuto = autoBase
        candidates.zipWithIndex.foreach { case ((rid0, vals0), ci) =>
          // insert-time rowid: on a plain rowid table skipped candidates
          // never consumed one; an AUTOINCREMENT register consumes per
          // CANDIDATE, so the tentative assignment is already exact
          val rid = if (autoInc || explicitFlags(ci)) rid0 else nextAuto
          val vals = if (!explicitFlags(ci) && rowidIdx >= 0)
            vals0.updated(rowidIdx, rid: Any) else vals0
          val nn = td.cols.zipWithIndex.exists { case (c, i) =>
            c.notNull && !c.isRowidAlias && vals(i) == null
          }
          val uq = (base.iterator ++ landed.iterator)
            .exists { case (_, r) => conflicts(specs, r, vals) }
          if (!nn && !uq && !checkFailed(ci)) {
            landed :+= ((rid, vals))
            nextAuto = math.max(nextAuto, rid + 1)
          }
        }
        // RETURNING and triggers see only the candidates that actually
        // landed (skipped rows are invisible — probed live)
        captureRet(td, landed)
        insertFirings = inserts(landed)
        Right((base, landed, landed.map(_._2), landed.map(r => Some(r._1)),
          landed.size.toLong, landed.lastOption.map(_._1)))
      case Conflict.Replace =>
        // each candidate deletes the rows it conflicts with, then lands;
        // the displaced images feed fkParentDelta's ON DELETE action leg
        // (a row applied by this statement and displaced later is a
        // victim too — same contract as the trigger tape)
        val specs = uniqueSpecs(td)
        var cur = base
        var landed = Vector.empty[(Long, IndexedSeq[Any])]
        val victims = Vector.newBuilder[IndexedSeq[Any]]
        candidates.foreach { case (rid, vals) =>
          def hit(r: (Long, IndexedSeq[Any])) = conflicts(specs, r._2, vals)
          val (gone, kept2) = cur.partition(hit)
          val (goneL, landed2) = landed.partition(hit)
          victims ++= gone.map(_._2) ++= goneL.map(_._2)
          cur = kept2
          landed = landed2 :+ ((rid, vals))
        }
        replaceVictims = Some(victims.result())
        // every candidate fires INSERT: a displacement that re-inserts
        // IDENTICAL values under the same rowid still fires (fuzz seed
        // 360645, probed live)
        insertFirings = inserts(candidates)
        // RETURNING: one row per surviving insert; displaced rows are
        // invisible (probed live)
        captureRet(td, candidates.toVector)
        Right((cur, landed, candidates.map(_._2),
          candidates.map(c => Some(c._1)), candidates.size.toLong,
          Some(lastId)))
      case Conflict.Upsert(clauses) =>
        val all = uniqueSpecs(td)
        // Phase 1 — target validation, clause order (probed live: every
        // clause's target resolves before ANY SET list does; an unknown
        // target column reports `no such column` from its own clause
        // position, an existing-but-unconstrained target reports the
        // ordinal-prefixed text — no ordinal on a single-clause upsert)
        val clauseSpecs: IndexedSeq[Seq[USpec]] =
          clauses.zipWithIndex.map { case (cl, k) =>
            cl.cols match {
              case Some(cs) =>
                cs.find(c => td.colIndex(c) < 0).foreach(c =>
                  return Left(s"no such column: $c"))
                val want = cs.map(_.toLowerCase).toSet
                val m = all.filter { case (idxs, _, _) =>
                  idxs.map(i => td.cols(i).name.toLowerCase).toSet == want
                }
                if (m.isEmpty) return Left(
                  (if (clauses.sizeIs > 1) ordinal(k + 1) + " " else "") +
                    "ON CONFLICT clause does not match any PRIMARY KEY or " +
                    "UNIQUE constraint")
                m
              case None => all
            }
          }.toIndexedSeq
        // resolve SET expressions: a bare excluded.col pulls the incoming
        // row directly; an EXPRESSION over excluded.* evaluates per
        // conflicting candidate with the incoming values inlined as typed
        // literals (conflict sets are statement-sized driver work — the
        // same cost model as the sequential policy loop itself); anything
        // else must be a constant (evaluated once via Catalyst)
        val excludedRe =
          """(?is)^excluded\s*\.\s*["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?$""".r
        val excludedRefRe =
          """(?i)excluded\s*\.\s*["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?""".r
        sealed trait SetVal
        case class FromExc(si: Int) extends SetVal
        case class Const(v: Any) extends SetVal
        case class RowExpr(f: (IndexedSeq[Any], IndexedSeq[Any]) => Any)
          extends SetVal
        // Phase 2 — resolve every clause's SET list (clause order; probed:
        // SET-list name errors surface only after all targets validate)
        val clauseResolved: IndexedSeq[Seq[(Int, SetVal)]] =
          clauses.map { cl =>
            cl.sets.map { case (c, e) =>
              val ci = td.colIndex(c)
              if (ci < 0) return Left(s"no such column: $c")
              genWriteError(td, ci, "UPDATE").foreach(e => return Left(e))
              e match {
                case excludedRe(src) =>
                  val si = td.colIndex(src)
                  if (si < 0) return Left(s"no such column: excluded.$src")
                  ci -> (FromExc(si): SetVal)
                case expr if upsertExprRefsRow(expr, td) =>
                  excludedRefRe.findAllMatchIn(
                      expr.replaceAll("'([^']|'')*'", " "))
                    .map(_.group(1)).find(rn => td.colIndex(rn) < 0)
                    .foreach(bad =>
                      return Left(s"no such column: excluded.$bad"))
                  val ty = sparkTypeName(td.cols(ci))
                  // SQLite evaluates every SET expression against the
                  // ORIGINAL conflicting row (unqualified refs) and the
                  // incoming row (excluded.*) — per conflict, driver-side,
                  // statement-sized
                  ci -> (RowExpr { (orow, vals) =>
                    val sub = substituteUpsertRefs(expr, td, orow, vals)
                    ssql(s"SELECT CAST(($sub) AS $ty)").head.get(0)
                  }: SetVal)
                case lit =>
                  ci -> (Const(ssql(
                    s"SELECT CAST(($lit) AS ${sparkTypeName(td.cols(ci))})")
                    .head.get(0)): SetVal)
              }
            }
          }.toIndexedSeq
        // WHERE clauses name-resolve at prepare time like SQLite (a bad
        // column errors even when no conflict ever fires): substitute all
        // KNOWN refs with a NULL row and let the session resolve the rest
        clauses.foreach(_.where.foreach { w =>
          excludedRefRe.findAllMatchIn(w.replaceAll("'([^']|'')*'", " "))
            .map(_.group(1)).find(rn => td.colIndex(rn) < 0)
            .foreach(bad => return Left(s"no such column: excluded.$bad"))
          val nulls = IndexedSeq.fill[Any](td.cols.size)(null)
          val sub = substituteUpsertRefs(w, td, nulls, nulls)
          try ssql(s"SELECT CAST(($sub) AS BOOLEAN)").head
          catch { case e: Exception =>
            val name = "`([A-Za-z_][A-Za-z0-9_]*)`".r
              .findFirstMatchIn(Option(e.getMessage).getOrElse(""))
              .map(_.group(1))
            return Left(name.fold("near \"WHERE\": syntax error")(n =>
              s"no such column: $n"))
          }
        })
        // base rows keep their places; inserted and rekeyed rows land
        // after them, in statement order (one scan order: base, landed)
        var cur = base
        var landed = Vector.empty[(Long, IndexedSeq[Any])]
        def rows = cur.iterator ++ landed.iterator
        def at(h: Int) = if (h < cur.size) cur(h) else landed(h - cur.size)
        var affected = 0L
        var lastInserted: Option[Long] = None
        val touched = Vector.newBuilder[IndexedSeq[Any]]
        val insRids = Vector.newBuilder[Option[Long]]
        // SQLite applies constraints ROW-AT-A-TIME: the applied image of
        // each candidate (inserted or DO-UPDATEd) validates IMMEDIATELY
        // against the current state — a later DO UPDATE can rewrite the
        // evidence away from the final-state scan (fuzz seed 360810:
        // cand2's a-collision was erased by cand3's SET a). Per-image
        // precedence NOT NULL > CHECK > UNIQUE, same as the Abort path.
        // A failing candidate aborts the statement but keeps the
        // partial-advance last_insert_rowid (fuzz-pinned contract).
        def immediateErr(img: IndexedSeq[Any], exclude: Int)
            : Option[String] =
          td.cols.zipWithIndex.collectFirst {
            case (c, i) if c.notNull && !c.isRowidAlias && img(i) == null =>
              s"NOT NULL constraint failed: ${td.name}.${c.name}"
          }.orElse {
            if (td.checks.isEmpty) None
            else policyChecksOf(td, img) match {
              case Left(e) => Some(e)
              case Right(lbl) => lbl.map(l => s"CHECK constraint failed: $l")
            }
          }.orElse(all.collectFirst {
            case spec if rows.zipWithIndex.exists { case ((_, r), j) =>
              j != exclude && conflicts(Seq(spec), r, img) } =>
              s"UNIQUE constraint failed: ${spec._2}"
          })
        // exact firing tape for the trigger layer: SQLite fires the upsert
        // UPDATE trigger for every CONFLICTING candidate (even when DO
        // UPDATE writes identical values — probed live), interleaved with
        // INSERT firings in candidate order; a value diff can't see no-ops
        val fir = Vector.newBuilder[
          (String, Option[IndexedSeq[Any]], Option[IndexedSeq[Any]])]
        // RETURNING tape: per candidate in statement order — the upserted
        // row's NEW image for DO UPDATE hits, the inserted row otherwise,
        // nothing for DO NOTHING skips (probed live)
        val retBuf = Vector.newBuilder[(Long, IndexedSeq[Any])]
        var nextAuto = autoBase
        // AUTOINCREMENT: every candidate feeds the statement's rowid
        // register (hits included), so the tentative assignment is exact
        val autoInc = td.cols.exists(_.autoInc)
        candidates.zipWithIndex.foreach { case ((rid0, vals0), ci) =>
          // insert-time rowid: a DO UPDATE / DO NOTHING hit never consumed
          // one on a plain rowid table (probed live — mixed upserts,
          // ReturningSpec)
          val rid = if (autoInc || explicitFlags(ci)) rid0 else nextAuto
          val vals = if (!explicitFlags(ci) && rowidIdx >= 0)
            vals0.updated(rowidIdx, rid: Any) else vals0
          // the FIRST clause (statement order) whose target constraint
          // this candidate violates applies; unmatched violations fall
          // through to validateIdx's normal constraint error (probed live)
          var hit = -1
          var ck = -1
          var k = 0
          while (k < clauseSpecs.size && hit < 0) {
            val h = rows.indexWhere { case (_, r) =>
              conflicts(clauseSpecs(k), r, vals) }
            if (h >= 0) { hit = h; ck = k }
            k += 1
          }
          if (hit >= 0) {
            val resolved = clauseResolved(ck)
            // a DO UPDATE's WHERE gates per candidate: false/NULL skips
            // it entirely — no update, no trigger firing, no RETURNING
            // row, and NO fall-through to later clauses (probed live)
            val whereOk = clauses(ck).where.forall { w =>
              val sub = substituteUpsertRefs(w, td, at(hit)._2, vals)
              val row = ssql(
                s"SELECT COALESCE(CAST(($sub) AS BOOLEAN), false)").head
              row.getBoolean(0)
            }
            if (resolved.nonEmpty && whereOk) { // DO UPDATE; NOTHING skips
              val (orid, orow) = at(hit)
              val upd = orow.toArray
              resolved.foreach {
                case (ci, FromExc(si)) => upd(ci) = vals(si)
                case (ci, Const(v)) => upd(ci) = v
                case (ci, RowExpr(f)) => upd(ci) = f(orow, vals)
              }
              // one shared instance: validateIdx maps a clash back to the
              // statement row by object identity (gens recompute BEFORE
              // the instance is shared — per-conflict driver work, the
              // same statement-sized cost model as RowExpr)
              val u = computeGens(td, Seq(upd.toIndexedSeq)).head
              // DO UPDATE SET on the rowid alias REKEYS the row (probed:
              // SELECT rowid follows; next auto-rowid sees the new max)
              val keptRid =
                if (rowidIdx >= 0 && u(rowidIdx) != null &&
                  u(rowidIdx).asInstanceOf[Long] != orid)
                  u(rowidIdx).asInstanceOf[Long]
                else orid
              immediateErr(u, exclude = hit).foreach { e =>
                lastInserted.foreach(noteLid)
                return Left(e)
              }
              if (hit >= cur.size)
                landed = landed.updated(hit - cur.size, (keptRid, u))
              else if (keptRid == orid) cur = cur.updated(hit, (orid, u))
              else { cur = cur.patch(hit, Nil, 1); landed :+= ((keptRid, u)) }
              touched += u
              insRids += None
              fir += (("UPDATE", Some(u), Some(orow)))
              retBuf += ((keptRid, u))
              affected += 1
            }
          } else {
            immediateErr(vals, exclude = -1).foreach { e =>
              lastInserted.foreach(noteLid)
              return Left(e)
            }
            landed :+= ((rid, vals))
            touched += vals
            insRids += Some(rid)
            fir += (("INSERT", Some(vals), None))
            retBuf += ((rid, vals))
            lastInserted = Some(rid)
            nextAuto = math.max(nextAuto, rid + 1)
            affected += 1
          }
        }
        insertFirings = Some(fir.result())
        captureRet(td, retBuf.result())
        Right((cur, landed, touched.result(), insRids.result(), affected,
          lastInserted))
    }
  }

  /** Rows of a spilled table that share a uniqueness key with any
    * candidate: one broadcast semi-join per spec, collected. Bounded by
    * candidates × specs rows — spec keys are unique in the table by
    * invariant — never by the table. Returns (rid, vals) in rowid order. */
  private def collectInteracting(td: TableDef, big: Big,
      specs: Seq[USpec],
      candidates: IndexedSeq[(Long, IndexedSeq[Any])])
      : Vector[(Long, IndexedSeq[Any])] = {
    if (specs.isEmpty || candidates.isEmpty) return Vector.empty
    val n = td.cols.size
    val out = mutable.HashMap[Long, IndexedSeq[Any]]()
    specs.foreach { case (idxs, _, colls) =>
      val names = idxs.map(td.cols(_).name)
      // probe with NORMALIZED keys against normalized table columns so a
      // NOCASE/RTRIM collision lands in the interacting slice
      val keys = candidates.map(c => specKey(idxs, colls, c._2))
        .filterNot(_.contains(null)).distinct
      if (keys.nonEmpty) {
        val kschema = StructType(idxs.map(i =>
          StructField("__q_" + td.cols(i).name, td.cols(i).sparkType)).toArray)
        val kdf = session.createDataFrame(
          keys.map(k => Row.fromSeq(k)).asJava, kschema)
        val cond = names.lazyZip(colls).map((nm, cl) =>
          normCol(col(nm), cl) === col("__q_" + nm)).reduce(_ && _)
        big.df.join(broadcast(kdf), cond, "left_semi").collect().foreach { r =>
          out(r.getLong(0)) = (1 to n).map(r.get).toIndexedSeq
        }
      }
    }
    out.toVector.sortBy(_._1)
  }

  /** INSERT of a driver-sized candidate batch into a spilled table: run the
    * exact sequential policy on the interacting slice, then merge the slice
    * diff back with an anti-join + union — IO proportional to the batch
    * plus one key-join scan, never to driver heap. */
  private def insertIntoBig(work: Tables, ts: TableState, big: Big,
      candidates: IndexedSeq[(Long, IndexedSeq[Any])], policy: Conflict,
      nextId: Long, lastId: Long, explicitFlags: IndexedSeq[Boolean],
      autoBase: Long, rowidIdx: Int): Either[String, Long] = {
    val td = ts.d
    val specs = uniqueSpecs(td)
    val base = collectInteracting(td, big, specs, candidates)
    // the untouched remainder, for self-referencing FK checks in validateIdx
    val miniRidDf =
      if (base.isEmpty) None
      else Some(session.createDataFrame(
        base.map(m => Row(m._1)).asJava,
        StructType(Seq(StructField("__rm", LongType, nullable = false)))))
    val keep = miniRidDf match {
      case None => big.df
      case Some(rm) =>
        big.df.join(broadcast(rm), col("__rowid") === col("__rm"), "left_anti")
    }
    // Insert-only policies can only ever write key values that came from a
    // candidate, and every remainder row sharing such a key is in the slice
    // by construction. ON CONFLICT DO UPDATE SET is the exception: it can
    // write a unique column to a constant or to excluded.<other_col>, a
    // value the slice was not built from — those statements also probe the
    // remainder for clashes (validate's uniqueRemainder leg).
    val probeRemainder = policy match {
      case Conflict.Upsert(cls) if cls.exists(_.sets.nonEmpty) => Some(keep)
      case _ => None
    }
    applyPolicySeq(td, policy, base, candidates, lastId,
      explicitFlags, autoBase, rowidIdx).flatMap {
      case (kept, added, touched0, insRids, affected0, lastOpt0) =>
        // (rows to install, affected, nextRowId, new lastRowId) — cut to
        // the OR FAIL prefix when validation names a failing index
        val resolved: Either[String, (Vector[(Long, IndexedSeq[Any])],
            Long, Long, Option[Long])] =
          validateIdx(work, td, kept ++ added, touched0,
            selfRemainder = Some(keep),
            uniqueRemainder = probeRemainder) match {
            case Left((err, k)) =>
              // partial-abort last_insert_rowid semantics — see the Mem path
              insRids.take(k).flatten.lastOption.foreach(noteLid)
              if (policy == Conflict.Fail && constraintErr(err)) {
                // no sqlite_sequence bump for a kept prefix (probed: seq
                // updates on statement SUCCESS only — fuzz seed 97149)
                pendingFailError = Some(err)
                insertFirings = insertFirings.map(_.take(k))
                Right((kept ++ added.take(k), k.toLong,
                  candidates.take(k).foldLeft(autoBase) {
                    case (nx, (rid, _)) => math.max(nx, rid + 1)
                  }, None))
              } else Left(err)
            case Right(_) =>
              // final rowid register: max over ALL candidates (fuzz V7)
              if (candidates.nonEmpty)
                bumpSeq(work, td, candidates.iterator.map(_._1).max)
              Right((kept ++ added, affected0, nextId, lastOpt0))
          }
        resolved.map { case (fin, affected, nextId2, lastOpt) =>
          val sliceRows = fin.map { case (rid, v) => Row.fromSeq(rid +: v) }
          val merged = keep.union(
            session.createDataFrame(sliceRows.asJava, ridSchema(td)))
          // partition-scoped INSERT: on a bucketed disk-backed store the
          // changed rows are the interacting slice (replaced/relocated
          // rowids) plus the new slice rows — plain appends touch only
          // the tail bucket; everything else keeps its files verbatim
          ts.store = (if (root.isEmpty) None
                      else Option(bigParts.get(big.df))) match {
            case None => mkBig(merged)
            case Some(files) =>
              val touched = (base.map(_._1) ++ fin.map(_._1))
                .map(_ / bigPartRows).toSet
              bigScopedReplace(td.name, files, merged, touched,
                big.n - base.size + fin.size)
          }
          ts.nextRowId = nextId2
          lastOpt.foreach(noteLid)
          affected
        }
    }
  }

  /** Fully distributed bulk INSERT — a SELECT source larger than the
    * driver cap. Candidates get __rowid and a candidate ordinal `__ord`
    * (statement order, only inside the candidate frames — it is never
    * stored) via zipWithIndex, policies resolve via windows/anti-joins,
    * and constraints check as joins/aggregations; nothing table-sized
    * touches the driver. Row triggers armed on such a statement fire in
    * rowid order ([[bigTriggerDiff]]), where SQLite fires in candidate
    * order; auto rowids follow candidate order, so only explicit
    * out-of-order ids show the difference.
    *
    * Documented divergences, bulk scale only:
    *  - auto rowids are a contiguous block from nextRowId in source order;
    *    a source mixing explicit rowid-alias values with NULLs can
    *    interleave differently than SQLite's running max (both are valid
    *    assignments; collisions still fail with the UNIQUE error);
    *  - ON CONFLICT DO UPDATE over an over-cap source is rejected (its
    *    excluded.* semantics are sequential by definition);
    *  - OR IGNORE on a table with ≥2 unique constraints: conflicts can
    *    CHAIN across specs (a candidate skipped for a spec-2 conflict no
    *    longer blocks a later candidate on spec-1 — lexicographically-first
    *    independent set, inherently sequential). The contested subset
    *    (candidates sharing a key with another candidate) resolves with the
    *    exact sequential policy on the driver — it is conflict-participants
    *    only, normally statement-scale; ONLY if the contested subset itself
    *    exceeds the driver cap does resolution fall back to independent
    *    per-spec windows, which can then diverge on chained conflicts.
    *    OR REPLACE has no such divergence at any size: a candidate survives
    *    iff no LATER candidate shares any unique key (deletion timing can't
    *    resurrect a row), which the per-spec max-__ord windows compute
    *    exactly — provided every window runs over the UNFILTERED candidate
    *    set, which they do below. */
  private def bulkInsertBig(work: Tables, ts: TableState, targetCols: Seq[Int],
      defaults: Map[Int, Any], rowidIdx: Int, df: DataFrame,
      policy: Conflict): Either[String, Long] = {
    val td = ts.d
    if (retArmed) { // over-cap source: RETURNING output would exceed the
      retArmed = false // driver boundary — fail loudly, nothing applied
      return Left(retTooMany(td.name))
    }
    ts.store match { // the table itself spills first
      case _: Mem => ts.store = mkBig(ridDf(ts))
      case _ =>
    }
    val big = ts.store.asInstanceOf[Big]
    // distributed candidate build — closure captures only local primitives
    val nCols = td.cols.size
    val tIdx = targetCols.toArray
    val dflt = defaults.toArray
    val ridIx = rowidIdx
    val ridBase = {
      val b = rowidBase(ts)
      if (td.cols.exists(_.autoInc)) math.max(b, seqOf(work, td.name) + 1)
      else b
    }
    // __auto marks rows whose rowid was assigned (vs explicit) so nextRowId
    // advances exactly like the Mem path's running bookkeeping
    val schema = StructType(
      StructField("__ord", LongType, nullable = false) +:
        StructField("__rowid", LongType, nullable = false) +:
        (td.schema.fields :+ StructField("__auto", LongType, nullable = false)))
    val rdd = df.rdd.zipWithIndex().map { case (r, i) =>
      val full = Array.fill[Any](nCols)(null)
      dflt.foreach { case (ci, v) => full(ci) = v }
      var j = 0
      while (j < tIdx.length) { full(tIdx(j)) = r.get(j); j += 1 }
      val auto = ridIx < 0 || full(ridIx) == null
      val rid = if (auto) ridBase + i else full(ridIx).asInstanceOf[Long]
      if (ridIx >= 0) full(ridIx) = rid
      Row.fromSeq(i +: rid +: (full.toSeq :+
        (if (auto) 1L else 0L)))
    }
    val candAll = {
      // generated columns compute distributed — one narrow projection
      // level per gen (dependency order), same shapes as the driver path
      var cd = session.createDataFrame(rdd, schema)
      td.genColsOrdered.foreach { case (gi, e) =>
        val g = td.cols(gi)
        cd = cd.selectExpr(Seq("`__ord`", "`__rowid`") ++ td.cols.map { c =>
          if (c.name == g.name)
            s"CAST(($e) AS ${sparkTypeName(g)}) AS `${g.name}`"
          else s"`${c.name}`"
        } :+ "`__auto`": _*)
      }
      cd.localCheckpoint()
    }
    val stats = candAll.selectExpr("count(*) AS c",
      s"coalesce(max(__rowid), ${ridBase - 1}) AS m",
      "max_by(__rowid, __ord) AS last",
      "coalesce(sum(__auto), 0) AS autos").head()
    val candDf = candAll.drop("__auto")
    val candN = stats.getLong(0)
    val newNextId =
      math.max(ridBase + stats.getLong(3), stats.getLong(1) + 1L)
    val lastRid = if (candN == 0) lastRowId else stats.getLong(2)
    val specs = uniqueSpecs(td)
    def specCols(idxs: Seq[Int]) = idxs.map(td.cols(_).name)
    def notNullKeys(names: Seq[String]) =
      names.map(col(_).isNotNull).reduce(_ && _)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{max, row_number}
    policy match {
      case Conflict.Abort | Conflict.Fail =>
        // Per-ROW precedence (SQLite, probed live — the r11 set-wise
        // NOT NULL-first ordering was wrong, caught by the OLTP fuzzer):
        // the EARLIEST failing candidate decides; a row violating several
        // constraints reports NOT NULL → CHECK → UNIQUE → FK. Each leg is
        // a min(__ord) aggregate — the same job shapes as the old
        // limit(1) probes, but comparable across legs.
        def minOrd(df: DataFrame): Option[Long] = {
          val r = df.agg(expr("min(__ord)")).head()
          if (r.isNullAt(0)) None else Some(r.getLong(0))
        }
        var bestFail: Option[(Long, Int, String)] = None
        def reportAt(ord: Option[Long], pri: Int, msg: String): Unit =
          ord.foreach { o =>
            if (bestFail.forall { case (bo, bp, _) =>
                  o < bo || (o == bo && pri < bp) })
              bestFail = Some((o, pri, msg))
          }
        td.cols.foreach { c =>
          if (c.notNull && !c.isRowidAlias)
            reportAt(minOrd(candDf.filter(col(c.name).isNull)), 0,
              s"NOT NULL constraint failed: ${td.name}.${c.name}")
        }
        td.checks.foreach { case (label, ex) =>
          val bad =
            try minOrd(candDf.filter(s"NOT COALESCE(($ex), true)"))
            catch { case _: Exception => None } // unresolvable expr: ignore
          reportAt(bad, 1, s"CHECK constraint failed: $label")
        }
        specs.foreach { case (idxs, desc, colls) =>
          val names = specCols(idxs)
          val nn = notNullKeys(names)
          def nc(n2: String) =
            normCol(col(n2), colls(names.indexOf(n2)))
          // intra-batch: the LATER of each duplicate pair is the failing row
          val w = Window.partitionBy(names.map(nc): _*).orderBy(col("__ord"))
          reportAt(minOrd(candDf.filter(nn)
              .withColumn("__rn", row_number().over(w))
              .filter(col("__rn") > 1)),
            2, s"UNIQUE constraint failed: $desc")
          val keyed = big.df
            .select(names.map(n2 => nc(n2).as("__q_" + n2)): _*)
          val cond = names.map(n2 => nc(n2) === col("__q_" + n2)).reduce(_ && _)
          reportAt(minOrd(candDf.filter(nn).join(keyed, cond, "left_semi")),
            2, s"UNIQUE constraint failed: $desc")
        }
        val merged = big.df.union(candDf.drop("__ord"))
        if (fkEnabled) {
          td.cols.foreach { c =>
            c.ref.foreach { case (refTable, refColOpt) =>
              work.get(refTable.toLowerCase) match {
                case None => reportAt(Some(Long.MinValue), 3,
                  "FOREIGN KEY constraint failed")
                case Some(parent) =>
                  val refCol =
                    if (refColOpt.nonEmpty) refColOpt
                    else parent.d.rowidAlias.map(_.name).getOrElse("")
                  val pIdx = parent.d.colIndex(refCol)
                  if (pIdx < 0) reportAt(Some(Long.MinValue), 3,
                    "FOREIGN KEY constraint failed")
                  else {
                    val pdf =
                      if (parent.d.name.equalsIgnoreCase(td.name)) merged
                      else storeDf(parent.d, parent.store)
                    val pvals = pdf
                      .select(col(parent.d.cols(pIdx).name).as("__graft_p"))
                      .filter(col("__graft_p").isNotNull)
                    reportAt(minOrd(candDf.filter(col(c.name).isNotNull)
                        .join(pvals, col(c.name) === col("__graft_p"),
                          "left_anti")),
                      3, "FOREIGN KEY constraint failed")
                  }
              }
            }
          }
        }
        bestFail match {
          case Some((o, _, msg)) =>
            // partial-abort last_insert_rowid: candidates before the
            // failing row still advance the counter (SQLite, probed live)
            val prev = candDf.filter(col("__ord") < o)
              .agg(expr("max_by(__rowid, __ord)")).head()
            if (!prev.isNullAt(0)) noteLid(prev.getLong(0))
            if (policy == Conflict.Fail && constraintErr(msg)) {
              // OR FAIL keeps the prefix before the first failing
              // candidate (all valid — a later row never invalidates an
              // earlier one) and reports the error; FK aborts wholesale
              val prefix = candDf.filter(col("__ord") < o).drop("__ord")
              val st = prefix.selectExpr("count(*) AS c",
                s"coalesce(max(__rowid), ${ridBase - 1}) AS m").head()
              ts.store = mkBig(big.df.union(prefix))
              ts.nextRowId = math.max(ts.nextRowId, st.getLong(1) + 1)
              // no sqlite_sequence bump for a kept prefix (probed: seq
              // updates on statement SUCCESS only)
              pendingFailError = Some(msg)
              Right(st.getLong(0))
            } else Left(msg)
          case None =>
            checkAdvanced(td, merged, advancedSpecs(td)) match {
              case Some(m) => Left(m)
              case None =>
                ts.store = mkBig(merged)
                ts.nextRowId = newNextId
                noteLid(lastRid)
                if (candN > 0) bumpSeq(work, td, stats.getLong(1))
                Right(candN)
            }
        }
      case Conflict.Ignore =>
        var kept = candDf
        td.cols.foreach { c =>
          if (c.notNull && !c.isRowidAlias)
            kept = kept.filter(col(c.name).isNotNull)
        }
        td.checks.foreach { case (_, ex) =>
          try {
            val t = kept.filter(s"COALESCE(($ex), true)")
            t.queryExecution.analyzed // unresolvable CHECK: keep all (Mem parity)
            kept = t
          } catch { case _: Exception => }
        }
        // Per-spec resolution: intra-batch first-per-key window + anti-join
        // vs the table. Exact for a single spec; for ≥2 specs it is the
        // documented fallback (chained cross-spec conflicts — see Scaladoc).
        def perSpecResolve(df0: DataFrame): DataFrame = {
          var k = df0
          specs.foreach { case (idxs, _, colls) =>
            val names = specCols(idxs)
            val nn = notNullKeys(names)
            def nc(n2: String) = normCol(col(n2), colls(names.indexOf(n2)))
            // intra-batch: first occurrence per key wins (candidate order)
            val w = Window.partitionBy(names.map(nc): _*).orderBy(col("__ord"))
            k = k.withColumn("__rn", row_number().over(w))
              .filter(!nn || col("__rn") === 1).drop("__rn")
            // vs table: NULL keys never match an equi-join → they survive
            val keyed = big.df.select(names.map(n2 => nc(n2).as("__t_" + n2)): _*)
            val cond = names.map(n2 => nc(n2) === col("__t_" + n2)).reduce(_ && _)
            k = k.join(keyed, cond, "left_anti")
          }
          k
        }
        val resolved: DataFrame =
          if (specs.size < 2) perSpecResolve(kept)
          else {
            // ≥2 specs: a candidate's fate depends only on candidates it
            // shares a key with (the CONTESTED set) plus the table rows
            // holding those keys — candidates sharing no key with any other
            // candidate resolve independently. Mark contested rows with one
            // count-over-window per spec, resolve them sequentially on the
            // interacting slice (exact SQLite order), the rest distributed.
            import org.apache.spark.sql.functions.{count, lit}
            var m = kept
            val flags = specs.zipWithIndex.map { case ((idxs, _, colls), i) =>
              val names = specCols(idxs)
              def nc(n2: String) = normCol(col(n2), colls(names.indexOf(n2)))
              m = m.withColumn(s"__c$i",
                notNullKeys(names) &&
                  count(lit(1)).over(
                    Window.partitionBy(names.map(nc): _*)) > 1)
              s"__c$i"
            }
            val mC = m.localCheckpoint()
            val anyC = flags.map(col).reduce(_ || _)
            val probeCap = math.min(maxDriverRows, Int.MaxValue - 2L).toInt
            val contested = mC.filter(anyC).drop(flags: _*)
              .orderBy(col("__ord"))
            val cRows = contested.limit(probeCap + 1).collect()
            if (cRows.length > probeCap) perSpecResolve(kept) // documented fallback
            else {
              val cCands = cRows.toIndexedSeq.map(r =>
                (r.getLong(1), (2 until 2 + nCols).map(r.get).toIndexedSeq))
              var cur = collectInteracting(td, big, specs, cCands)
              val sv = Vector.newBuilder[Long]
              cCands.foreach { case (rid2, vals) =>
                if (!cur.exists { case (_, r) => conflicts(specs, r, vals) }) {
                  cur :+= ((rid2, vals)); sv += rid2
                }
              }
              val survRids = sv.result()
              val uncontested = perSpecResolve(mC.filter(!anyC).drop(flags: _*))
              if (survRids.isEmpty) uncontested
              else {
                val rdf = session.createDataFrame(
                  survRids.map(Row(_)).asJava,
                  StructType(Seq(
                    StructField("__sv", LongType, nullable = false))))
                uncontested.union(
                  mC.filter(anyC).drop(flags: _*).join(broadcast(rdf),
                    col("__rowid") === col("__sv"), "left_semi"))
              }
            }
          }
        val keptC = resolved.localCheckpoint()
        val merged = big.df.union(keptC.drop("__ord"))
        validateBulk(work, td, keptC, merged).map { _ =>
          val ks = keptC.selectExpr("count(*) AS c",
            "max_by(__rowid, __ord) AS last").head()
          ts.store = mkBig(merged)
          ts.nextRowId = newNextId
          if (ks.getLong(0) > 0) noteLid(ks.getLong(1))
          // final rowid register: max over ALL candidates (fuzz V7)
          if (candN > 0) bumpSeq(work, td, stats.getLong(1))
          ks.getLong(0)
        }
      case Conflict.Replace =>
        // A candidate is superseded iff a LATER candidate shares any spec
        // key: when the later one lands it deletes every current row it
        // conflicts with, and deletion timing can never resurrect a row, so
        // the sequential outcome is exactly "latest per key on every spec".
        // Every window MUST run over the unfiltered candidate set — chaining
        // the filters would hide a spec-1-dropped candidate from spec-2's
        // window and retain a row SQLite deletes (chained cross-spec
        // conflict).
        var flagged = candDf
        val mxFlags = specs.zipWithIndex.map { case ((idxs, _, colls), i) =>
          val names = specCols(idxs)
          val nn = notNullKeys(names)
          def nc(n2: String) = normCol(col(n2), colls(names.indexOf(n2)))
          val w = Window.partitionBy(names.map(nc): _*)
          flagged = flagged.withColumn(s"__mx$i",
            !nn || col("__ord") === max(col("__ord")).over(w))
          s"__mx$i"
        }
        val surv =
          if (mxFlags.isEmpty) candDf
          else flagged.filter(mxFlags.map(col).reduce(_ && _))
            .drop(mxFlags: _*)
        var keepT = big.df
        specs.foreach { case (idxs, _, colls) =>
          val names = specCols(idxs)
          val nn = notNullKeys(names)
          def nc(n2: String) = normCol(col(n2), colls(names.indexOf(n2)))
          val keyed = candDf.filter(nn)
            .select(names.map(n2 => nc(n2).as("__q_" + n2)): _*)
          val cond = names.map(n2 => nc(n2) === col("__q_" + n2)).reduce(_ && _)
          keepT = keepT.join(keyed, cond, "left_anti")
        }
        val merged = keepT.union(surv.drop("__ord"))
        validateBulk(work, td, candDf, merged).map { _ =>
          ts.store = mkBig(merged)
          ts.nextRowId = newNextId
          noteLid(lastRid)
          if (candN > 0) bumpSeq(work, td, stats.getLong(1))
          candN
        }
      case _: Conflict.Upsert =>
        Left("ON CONFLICT DO UPDATE/NOTHING is not supported for a bulk " +
          s"INSERT ... SELECT above $maxDriverRows rows")
    }
  }

  /** Distributed NOT NULL / CHECK / FK validation for the bulk path: the
    * same checks and error strings as [[validateIdx]], as DataFrame jobs.
    * `finalDf` is the post-statement table, used as the parent side of
    * self-referencing FKs. */
  private def validateBulk(work: Tables, td: TableDef, newDf: DataFrame,
                           finalDf: DataFrame): Either[String, Unit] =
    validateNotNullCheckBulk(td, newDf).flatMap(_ =>
      checkAdvanced(td, finalDf, advancedSpecs(td)).toLeft(())).flatMap(_ =>
      validateFkDf(work, td, newDf, finalDf))

  /** The NOT NULL and CHECK legs of [[validateBulk]], separable so the
    * Abort branch can run them BEFORE its uniqueness probes (SQLite
    * error-precedence parity: NOT NULL → CHECK → UNIQUE → FK). */
  private def validateNotNullCheckBulk(td: TableDef,
                                       newDf: DataFrame): Either[String, Unit] = {
    td.cols.foreach { c =>
      if (c.notNull && !c.isRowidAlias &&
        newDf.filter(col(c.name).isNull).limit(1).count() > 0)
        return Left(s"NOT NULL constraint failed: ${td.name}.${c.name}")
    }
    td.checks.foreach { case (label, ex) =>
      val bad =
        try newDf.filter(s"NOT COALESCE(($ex), true)").limit(1).count()
        catch { case _: Exception => 0L } // unresolvable expr: ignore
      if (bad > 0) return Left(s"CHECK constraint failed: $label")
    }
    Right(())
  }

  /** Distributed FK check: every non-null referencing value in `newDf`
    * must exist in the parent column (`finalDf` for self-references). */
  private def validateFkDf(work: Tables, td: TableDef, newDf: DataFrame,
                           finalDf: DataFrame): Either[String, Unit] = {
    if (fkEnabled) {
      td.cols.foreach { c =>
        c.ref.foreach { case (refTable, refColOpt) =>
          val parent = work.get(refTable.toLowerCase)
            .getOrElse(return Left("FOREIGN KEY constraint failed"))
          val refCol =
            if (refColOpt.nonEmpty) refColOpt
            else parent.d.rowidAlias.map(_.name).getOrElse("")
          val pIdx = parent.d.colIndex(refCol)
          if (pIdx < 0) return Left("FOREIGN KEY constraint failed")
          val pdf =
            if (parent.d.name.equalsIgnoreCase(td.name)) finalDf
            else storeDf(parent.d, parent.store)
          val pvals = pdf.select(col(parent.d.cols(pIdx).name).as("__graft_p"))
            .filter(col("__graft_p").isNotNull)
          val dangling = newDf.filter(col(c.name).isNotNull)
            .join(pvals, col(c.name) === col("__graft_p"), "left_anti")
            .limit(1).count()
          if (dangling > 0) return Left("FOREIGN KEY constraint failed")
        }
      }
    }
    Right(())
  }

  private val updateRe =
    """(?is)^\s*UPDATE\s+(?:OR\s+(ABORT|FAIL|IGNORE|REPLACE|ROLLBACK)\s+)?[`"]?([A-Za-z_][A-Za-z0-9_]*)[`"]?(?:\s+AS\s+([A-Za-z_][A-Za-z0-9_]*))?\s+SET\s+(.+?)\s*;?\s*$""".r

  /** Is `e` a constraint-violation error text that SQLite's ROLLBACK
    * conflict algorithm acts on? FOREIGN KEY violations are NOT subject to
    * conflict resolution (probed live: `UPDATE OR ROLLBACK` hitting an FK
    * leaves the enclosing tx open), and neither are plain errors. */
  private def constraintErr(e: String): Boolean =
    e.startsWith("UNIQUE constraint failed") ||
      e.startsWith("NOT NULL constraint failed") ||
      e.startsWith("CHECK constraint failed")

  /** The ROLLBACK conflict algorithm's tx abort: the connection-scoped
    * transaction (explicit BEGIN or savepoint-started implicit) rolls back
    * and closes; catalogs revert to their BEGIN snapshots. Inside a
    * request-level tx batch there is no openTx — the execute loop's
    * rolledBack handling discards the batch, which is that path's
    * equivalent outcome. */
  private def abortOpenTx(): Unit = openTx.foreach { ctx =>
    indexes = ctx.idx; viewDefs = ctx.views; triggers = ctx.trigs
    openTx = None; savepoints.clear()
  }

  private def doUpdate(work: Tables, sql: String): Either[String, Long] =
    sql match {
      case updateRe(polOrNull, tname, aliasOrNull, rest) =>
        val policy = Option(polOrNull).map(_.toUpperCase).getOrElse("ABORT")
        val r = doUpdateInner(work, tname, Option(aliasOrNull), rest, policy)
        if (policy == "ROLLBACK")
          r.left.map { e => if (constraintErr(e)) abortOpenTx(); e }
        else r
      case _ => Left("near \"UPDATE\": syntax error")
    }

  /** Can a conflict policy on this UPDATE ever fire? With no uniqueness
    * specs, CHECKs, NOT NULL columns or (enabled) FK columns, every policy
    * degenerates to the plain set-based path — no sequential resolution
    * needed and no driver cap paid. */
  private def policyTrivial(td: TableDef, setCols: Iterable[String]): Boolean =
    uniqueSpecs(td).isEmpty && advancedSpecs(td).isEmpty &&
      td.checks.isEmpty &&
      !td.cols.exists(c => c.notNull && !c.isRowidAlias) &&
      !(fkEnabled && td.cols.exists(_.ref.isDefined)) &&
      !td.rowidAlias.exists(c => setCols.exists(_.equalsIgnoreCase(c.name)))

  private def doUpdateInner(work: Tables, tname: String,
      alias: Option[String], rest: String, policy: String)
      : Either[String, Long] = {
        if (tname.equalsIgnoreCase("sqlite_master") ||
        tname.equalsIgnoreCase("sqlite_schema"))
          return Left("table sqlite_master may not be modified")
        if (viewDefs.contains(tname.toLowerCase))
          return Left(s"cannot modify $tname because it is a view")
        val ts = work.getOrElse(tname.toLowerCase,
          return Left(s"no such table: $tname"))
        val td = ts.d
        val fIdx = SqlText.findKeyword(rest, "FROM")
        val wIdx = SqlText.findKeyword(rest, "WHERE")
        if (fIdx >= 0 && (wIdx < 0 || fIdx < wIdx)) {
          // UPDATE..FROM computes its matched set from a join, which has
          // no SQLite scan order to replay — the sequential policies stay
          // a loud boundary there (ABORT/ROLLBACK are set-based and fine)
          if (policy == "FAIL" || policy == "IGNORE" || policy == "REPLACE")
            return Left(s"UPDATE OR $policy with a FROM clause is not " +
              "supported (sequential conflict resolution needs SQLite's " +
              "rowid scan order; rewrite as a plain UPDATE)")
          return doUpdateFrom(work, ts, alias, rest.take(fIdx),
            if (wIdx >= 0) rest.substring(fIdx + 4, wIdx)
            else rest.substring(fIdx + 4),
            if (wIdx >= 0) rest.substring(wIdx + 5) else "")
        }
        // `AS alias` on a plain UPDATE: qualified refs resolve by aliasing
        // the scans below with it (the Big scoped path then takes the full
        // rewrite — its bucket-probe SQL re-derives cond/proj alias-less)
        val eff = alias.getOrElse("__rv")
        // SET on the INTEGER PRIMARY KEY rowid alias REKEYS the row
        // (probed: rowid follows the column; the next auto-rowid derives
        // from the new maximum). Armed UPDATE triggers reject loudly: the
        // firing tape pairs rows by rowid, which a rekey breaks — a
        // documented boundary, same style as the driver caps.
        def ridRekeyOf(setCols: Iterable[String]): Boolean =
          td.rowidAlias.exists(c => setCols.exists(_.equalsIgnoreCase(c.name)))
        val (setText, whereText) =
          if (wIdx >= 0) (rest.take(wIdx), rest.substring(wIdx + 5))
          else (rest, "")
        val sets = SqlText.splitTopLevel(setText).map { a =>
          val eq = a.indexOf('=')
          if (eq < 0) return Left("near \"SET\": syntax error")
          val c = a.take(eq).trim.stripPrefix("\"").stripSuffix("\"")
            .stripPrefix("`").stripSuffix("`")
          if (td.colIndex(c) < 0) return Left(s"no such column: $c")
          genWriteError(td, td.colIndex(c), "UPDATE")
            .foreach(msg => return Left(msg))
          c -> a.substring(eq + 1).trim
        }.toMap
        // FAIL/IGNORE/REPLACE resolve conflicts row-at-a-time in SQLite's
        // scan order — route to the sequential simulation unless nothing
        // on this table can conflict (then every policy IS the plain path)
        if (policy != "ABORT" && policy != "ROLLBACK" &&
            !policyTrivial(td, sets.keys))
          return doUpdatePolicy(work, ts, alias, sets, whereText, policy)
        registerViews(work)
        val cond = if (whereText.trim.isEmpty) "true" else s"(${whereText.trim})"
        val proj = td.cols.map { c =>
          val newExpr = sets.collectFirst {
            case (sc, e) if sc.equalsIgnoreCase(c.name) => e
          }
          val e = newExpr match {
            case Some(x) => s"CASE WHEN $cond THEN CAST(($x) AS ${sparkTypeName(c)}) ELSE `${c.name}` END"
            case None => s"`${c.name}`"
          }
          s"$e AS `${c.name}`"
        }.mkString(", ")
        val affected = ssql(
          s"SELECT COUNT(*) FROM ${ridView(td.name)} AS `$eff` WHERE $cond").head.getLong(0)
        if (retArmed && affected > maxDriverRows) {
          retArmed = false
          return Left(retTooMany(td.name))
        }
        // per-row live-state validation inputs (shared by both stores):
        // the BEFORE table, the matched rows' OLD and NEW images
        val beforeAllDf = session.table(ridView(td.name))
        val changedOldDf = ssql(
          s"SELECT * FROM ${ridView(td.name)} AS `$eff` WHERE $cond")
        // rewriting a referenced key orphans children — SQLite fails the
        // statement even when the child declares ON DELETE CASCADE (the
        // governing action is ON UPDATE; probed live, FkActionSpec)
        val fkDelta = fkUpdateDeltaPrep(work, ts, sets.keys.toSeq)
        val ridRekey = ridRekeyOf(sets.keys)
        if (ridRekey && triggers.values.exists(t =>
          t.table.equalsIgnoreCase(td.name) && t.event == "UPDATE"))
          return Left("UPDATE of the INTEGER PRIMARY KEY with UPDATE row " +
            "triggers armed is not supported (rekeying breaks the firing tape)")
        val ridSel =
          if (!ridRekey) "`__rowid`"
          else {
            val e = sets.collectFirst { case (sc, ex)
              if td.rowidAlias.exists(_.name.equalsIgnoreCase(sc)) => ex }.get
            s"CASE WHEN $cond THEN CAST(($e) AS BIGINT) " +
              "ELSE `__rowid` END AS `__rowid`"
          }
        val newDf = ssql(withGenLevels(td,
          s"SELECT $ridSel, $proj FROM ${ridView(td.name)} AS `$eff`",
          Seq("__rowid")))
        val changedDf = ssql(withGenLevels(td,
          s"SELECT `__rowid`, $proj FROM ${ridView(td.name)} AS `$eff` " +
            s"WHERE $cond", Seq("__rowid")))
        val res0 = validateUpdatePerRow(work, td, beforeAllDf, newDf,
          changedDf, changedOldDf).map { _ =>
          // RETURNING: matched rows' NEW images in rowid (scan) order
          captureRet(td, changedDf.orderBy("__rowid").collect()
            .toVector.map { r =>
              (r.getLong(0), (1 until r.length).map(r.get).toIndexedSeq)
            })
          ts.store = ts.store match {
            case Mem(memRows) =>
              memUpdated(memRows, ssql(withGenLevels(td,
                s"SELECT `__rowid` AS `__old`, $ridSel, $proj FROM " +
                  s"${ridView(td.name)} AS `$eff` WHERE $cond",
                Seq("__old", "__rowid"))).collect())
            // copy-on-write as a Spark job, validated above with
            // distributed checks. Disk-backed dbs rewrite ONLY the rowid
            // buckets holding matching rows (partition-scoped, see the
            // Big-bucket helpers); memory dbs reproject every row (the
            // CASE keeps unaffected rows bit-identical) into a fresh
            // localCheckpoint.
            case big: Big =>
              if (root.isEmpty) Big(newDf.localCheckpoint(), big.n)
              else Option(bigParts.get(big.df)) match {
                case None => bigPartitionedFull(td.name, newDf, big.n)
                // Defense in depth (ADVICE r10): the scoped path evaluates
                // `cond` in separate jobs (touched-pid scan, bucket
                // rewrite) — a non-deterministic predicate could match
                // different rows per pass and lose writes in buckets
                // outside the touched set. execute()'s determinism guard
                // makes that unreachable through the public API; if a
                // future internal path ever carries one, take the full
                // rewrite, which evaluates the projection exactly once
                // into the written files.
                case Some(_) if alias.isDefined || ridRekey ||
                    td.genColsOrdered.nonEmpty ||
                    nonDeterministic(cond).isDefined =>
                  // alias'd, rekeying and generated-column updates take
                  // the full rewrite: the scoped helper re-derives
                  // cond/proj SQL alias-less and level-less, and a rekey
                  // moves rows across rowid buckets
                  bigPartitionedFull(td.name, newDf, big.n)
                case Some(files) =>
                  bigScopedUpdate(td.name, big, files, cond, proj)
              }
          }
          affected
        }
        applyFkUpdateDelta(work, td, fkDelta, res0)
  }

  /** UPDATE OR FAIL / OR IGNORE / OR REPLACE — SQLite's sequential
    * conflict resolution, replayed exactly (every rule below probed live
    * against SQLite 3.40 and pinned by UpdatePolicySpec):
    *
    *  - the statement precollects the WHERE-matched ROWIDs from the
    *    before state, then processes each ascending against the CURRENT
    *    occupant of that rowid — a rekeyed row moving onto a later matched
    *    rowid is processed AGAIN with its current values, with no WHERE
    *    re-check; a vacated/displaced rowid is skipped silently;
    *  - per-row check order NOT NULL → CHECK → UNIQUE; IGNORE skips the
    *    row (it keeps its old values, which stay visible to later
    *    conflict checks), FAIL keeps the applied prefix AND reports the
    *    error ([[pendingFailError]]), REPLACE deletes every row the new
    *    key displaces (the victim may be an earlier-applied row — its
    *    update still counted, fired and appeared in RETURNING), replaces
    *    NULL in a NOT NULL column with the declared default (no default →
    *    abort), and aborts on CHECK;
    *  - FOREIGN KEY violations are NEVER policy-resolved: any dangling
    *    child reference aborts the whole statement, prefix included;
    *  - changes() counts applied rows; RETURNING and the trigger tape are
    *    applied rows in processing order.
    *
    * The matched set materializes on the driver (the resolution is
    * row-at-a-time by definition — SQLite itself is), capped at
    * [[maxDriverRows]] with a loud error. Unchanged rows that can
    * interact only through key collisions are fetched by per-spec
    * semi-joins against the candidate keys — bounded by the matched
    * count, never table-sized. */
  private def doUpdatePolicy(work: Tables, ts: TableState,
      alias: Option[String], sets: Map[String, String], whereText: String,
      policy: String): Either[String, Long] = {
    val td = ts.d
    val eff = alias.getOrElse("__rv")
    val n = td.cols.size
    val ridRekey = td.rowidAlias.exists(c =>
      sets.keys.exists(_.equalsIgnoreCase(c.name)))
    if (ridRekey && triggers.values.exists(t =>
        t.table.equalsIgnoreCase(td.name) && t.event == "UPDATE"))
      return Left("UPDATE of the INTEGER PRIMARY KEY with UPDATE row " +
        "triggers armed is not supported (rekeying breaks the firing tape)")
    advPolicyBoundary(td).foreach(e => return Left(e))
    registerViews(work)
    val cond = if (whereText.trim.isEmpty) "true" else s"(${whereText.trim})"
    def capMsg = s"too many rows for OR $policy conflict resolution on " +
      s"${td.name}: the statement involves more than $maxDriverRows rows " +
      "(sequential conflict resolution materializes the matched rows on " +
      "the driver; raise maxDriverRows)"
    // parent-side FK delta: REPLACE can DELETE displaced rows, orphaning
    // children through ANY referenced column — prep unconditionally when
    // the table is referenced; other policies only when SET touches one
    val fkDelta: Option[(DataFrame, TableState)] =
      if (policy == "REPLACE" && fkEnabled &&
          referencedCols(work, td).nonEmpty)
        Some((ridDf(ts), ts.copyState))
      else fkUpdateDeltaPrep(work, ts, sets.keys.toSeq)
    def setExprOf(c: ColDef): Option[String] =
      sets.collectFirst { case (sc, e) if sc.equalsIgnoreCase(c.name) => e }
    val newCols = td.cols.map { c =>
      val e = setExprOf(c).getOrElse(s"`${c.name}`")
      s"CAST(($e) AS ${sparkTypeName(c)}) AS `${c.name}`"
    }.mkString(", ")
    val checkFlags =
      if (td.checks.isEmpty) ""
      else ", " + td.checks.zipWithIndex.map { case ((_, ex), i) =>
        s"NOT COALESCE(($ex), TRUE) AS `__ck$i`" }.mkString(", ")
    // one batch evaluation of the SET projection + generated-column
    // levels + CHECK flags over the matched before-state rows, OLD
    // images riding along as __po* so one collect carries everything
    val newRidSel =
      if (!ridRekey) "`__rowid`"
      else s"CAST((${setExprOf(td.rowidAlias.get).get}) AS BIGINT)"
    val oldAliases = td.cols.zipWithIndex
      .map { case (c, i) => s"`${c.name}` AS `__po$i`" }.mkString(", ")
    val keyCols = Seq("__rowid", "__newrid") ++
      td.cols.indices.map(i => s"__po$i")
    val inner =
      s"SELECT `__rowid`, $newRidSel AS `__newrid`, $oldAliases, " +
        s"$newCols FROM ${ridView(td.name)} AS `$eff` WHERE $cond"
    val leveled = withGenLevels(td, inner, keyCols)
    val matchedSql =
      if (td.checks.isEmpty) leveled
      else s"SELECT *$checkFlags FROM ($leveled)"
    val matched =
      try collectCapped(ssql(matchedSql).orderBy(
          // SQLite's sequential policy processes matched rows in SCAN
          // order: rowid for ordinary tables, the clustered PRIMARY KEY
          // for WITHOUT ROWID ones (probed live)
          (if (td.withoutRowid) wrOrder(td).map(c => col(s"__po${td.colIndex(c)}"))
           else Seq(col("__rowid"))): _*),
        maxDriverRows)
      catch {
        case _: TriggerDiffTooLarge => return Left(capMsg)
        case e: Exception => return Left(stmtError(e))
      }
    final case class Cand(rid: Long, newRid: Any,
        old: IndexedSeq[Any], nw: IndexedSeq[Any], ck: Option[String])
    val nwBase = 2 + n
    val changed: Vector[Cand] = matched.iterator.map { r =>
      val ck = td.checks.zipWithIndex.collectFirst {
        case ((label, _), i) if r.getBoolean(nwBase + n + i) => label }
      Cand(r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1),
        (2 until 2 + n).map(r.get).toIndexedSeq,
        (nwBase until nwBase + n).map(r.get).toIndexedSeq, ck)
    }.toVector
    if (changed.isEmpty) {
      updPolicyFirings = Some(Nil)
      captureRet(td, Vector.empty)
      return Right(0)
    }
    val specs = uniqueSpecs(td)
    def norm(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case x => x
    }
    def keyOf(vals: IndexedSeq[Any], idxs: Seq[Int],
              colls: Seq[String]): IndexedSeq[Any] =
      idxs.lazyZip(colls).map((i, cl) =>
        norm(collNorm(vals(i), cl))).toIndexedSeq
    // tracked rows: the matched set plus every unchanged row whose key
    // under some spec collides with a candidate new key (the only
    // unchanged rows any skip/displace decision can involve)
    val changedRidSet = changed.map(_.rid).toSet
    val qrSchema =
      StructType(Seq(StructField("__qr", LongType, nullable = false)))
    def ridsDf(rids: Iterable[Long]) = session.createDataFrame(
      rids.toSeq.map(Row(_)).asJava, qrSchema)
    val baseDf = ridDf(ts)
    val unchangedDf = baseDf.join(broadcast(ridsDf(changedRidSet)),
      col("__rowid") === col("__qr"), "left_anti")
    var partnersDf: Option[DataFrame] = None
    specs.foreach { case (idxs, _, colls) =>
      val keys = changed.iterator
        .map(c => specKey(idxs, colls, c.nw).toIndexedSeq)
        .filter(!_.contains(null)).toSeq.distinct
      if (keys.nonEmpty) {
        val kschema = StructType(idxs.zipWithIndex.map { case (ci, j) =>
          StructField(s"__k$j", td.schema.fields(ci).dataType,
            nullable = true) })
        val kdf =
          session.createDataFrame(keys.map(Row.fromSeq(_)).asJava, kschema)
        val on = idxs.zipWithIndex.map { case (ci, j) =>
          normCol(col(td.cols(ci).name), colls(j)) === col(s"__k$j") }
          .reduce(_ && _)
        val sj = unchangedDf.join(broadcast(kdf), on, "left_semi")
        partnersDf = Some(partnersDf.map(_.unionAll(sj)).getOrElse(sj))
      }
    }
    val partners: Vector[(Long, IndexedSeq[Any])] = partnersDf match {
      case None => Vector.empty
      case Some(pdf) =>
        val rows =
          try collectCapped(pdf.dropDuplicates("__rowid"), maxDriverRows)
          catch { case _: TriggerDiffTooLarge => return Left(capMsg) }
        rows.iterator.map(r =>
          (r.getLong(0), (1 to n).map(r.get).toIndexedSeq)).toVector
    }
    val trackedRidSet = mutable.HashSet[Long]() ++
      changedRidSet ++ partners.iterator.map(_._1)
    // child-side FK membership for the candidate new values: static
    // parents resolve as one semi-join each; a self-referential parent
    // additionally checks the evolving tracked state at sim time
    final case class FkC(ci: Int, selfRef: Boolean, parentCol: Int,
        exists: mutable.Set[Any])
    var fkChecks = Vector.empty[FkC]
    if (fkEnabled) td.cols.zipWithIndex.foreach { case (c, ci) =>
      c.ref.foreach { case (refTable, refColOpt) =>
        val parent = work.getOrElse(refTable.toLowerCase,
          return Left("FOREIGN KEY constraint failed"))
        val refCol =
          if (refColOpt.nonEmpty) refColOpt
          else parent.d.rowidAlias.map(_.name).getOrElse("")
        val pIdx = parent.d.colIndex(refCol)
        if (pIdx < 0) return Left("FOREIGN KEY constraint failed")
        val cands = changed.iterator.map(_.nw(ci))
          .filter(_ != null).toSeq.distinct
        if (cands.nonEmpty) {
          val selfRef = parent.d.name.equalsIgnoreCase(td.name)
          val pBase =
            if (!selfRef) storeDf(parent.d, parent.store)
            else baseDf.join(broadcast(ridsDf(trackedRidSet)),
              col("__rowid") === col("__qr"), "left_anti")
          val cdf = session.createDataFrame(
            cands.map(Row(_)).asJava,
            StructType(Seq(StructField("__kv",
              td.schema.fields(ci).dataType, nullable = true))))
          val ex = mutable.HashSet[Any]() ++ pBase
            .select(col(parent.d.cols(pIdx).name).as("__pv"))
            .filter(col("__pv").isNotNull)
            .join(broadcast(cdf), col("__pv") === col("__kv"), "left_semi")
            .distinct().collect().iterator.map(r => norm(r.get(0)))
          fkChecks :+= FkC(ci, selfRef, parent.d.colIndex(refCol), ex)
        }
      }
    }
    // ---- the sequential simulation (pure driver work) ----
    val cur = mutable.HashMap[Long, IndexedSeq[Any]]()
    changed.foreach(c => cur(c.rid) = c.old)
    partners.foreach(p => cur(p._1) = p._2)
    val dirty = mutable.HashSet[Long]()
    val keyIdx = specs.map { case (idxs, _, colls) =>
      val m = mutable.HashMap[IndexedSeq[Any], Long]()
      cur.foreach { case (rid, vals) =>
        val k = keyOf(vals, idxs, colls)
        if (!k.contains(null)) m(k) = rid
      }
      m
    }.toIndexedSeq
    def dropKeys(rid: Long, vals: IndexedSeq[Any]): Unit =
      specs.zipWithIndex.foreach { case ((idxs, _, colls), s) =>
        val k = keyOf(vals, idxs, colls)
        if (!k.contains(null) && keyIdx(s).get(k).contains(rid))
          keyIdx(s) -= k
      }
    def putKeys(rid: Long, vals: IndexedSeq[Any]): Unit =
      specs.zipWithIndex.foreach { case ((idxs, _, colls), s) =>
        val k = keyOf(vals, idxs, colls)
        if (!k.contains(null)) keyIdx(s)(k) = rid
      }
    lazy val defVals: Map[Int, Any] = td.cols.zipWithIndex.collect {
      case (c, i) if c.notNull && c.default.isDefined =>
        i -> ssql(
          s"SELECT CAST((${c.default.get}) AS ${sparkTypeName(c)})")
          .head.get(0)
    }.toMap
    // a re-evaluated (moved) row or a default-substituted image can carry
    // keys OUTSIDE the precomputed candidate set — their conflict partners
    // were never semi-joined in. Pull any such untracked row in live
    // (untracked rows never change during the statement, so the before
    // DF is exact); at most one per spec per supplemented row.
    def supplementPartners(nw: IndexedSeq[Any]): Unit =
      specs.zipWithIndex.foreach { case ((idxs, _, colls), s) =>
        val k = keyOf(nw, idxs, colls)
        if (!k.contains(null) && !keyIdx(s).contains(k)) {
          val flt = idxs.lazyZip(colls).map((ci, cl) =>
            normCol(col(td.cols(ci).name), cl) <=>
              org.apache.spark.sql.functions.lit(collNorm(nw(ci), cl)))
            .reduce(_ && _)
          baseDf.filter(flt).collect().foreach { r =>
            val rid = r.getLong(0)
            if (!trackedRidSet.contains(rid)) {
              trackedRidSet += rid
              val vals = (1 to n).map(r.get).toIndexedSeq
              cur(rid) = vals
              putKeys(rid, vals)
              // the row is tracked now: the evolving cur-scan is the
              // authority for self-referential FK membership, not the
              // static untracked-exists snapshot taken at prep time
              fkChecks.foreach(fc =>
                if (fc.selfRef) fc.exists -= norm(vals(fc.parentCol)))
            }
          }
        }
      }
    val tape = Vector.newBuilder[
      (String, Option[IndexedSeq[Any]], Option[IndexedSeq[Any]])]
    val updVictims = Vector.newBuilder[IndexedSeq[Any]]
    val retRows = Vector.newBuilder[(Long, IndexedSeq[Any])]
    var applied = 0L
    var abortErr: Option[String] = None
    var failed = false
    val it = changed.iterator
    while (it.hasNext && abortErr.isEmpty && !failed) {
      val c0 = it.next()
      cur.get(c0.rid) match {
        case None => () // displaced or moved away before its turn
        case Some(occ) =>
          val fresh: Either[String, (Any, IndexedSeq[Any], Option[String])] =
            if (!dirty(c0.rid)) Right((c0.newRid, c0.nw, c0.ck))
            else policyReeval(td, eff, sets, ridRekey, c0.rid, occ)
          fresh match {
            case Left(e) => abortErr = Some(e)
            case Right((newRid0, nw0, ck0)) =>
              var nw = nw0
              var ck = ck0
              var skip = false
              // keys may have left the precomputed candidate set
              var keysChanged = dirty(c0.rid)
              val newRid: Long =
                if (!ridRekey) c0.rid
                else if (newRid0 == null) {
                  abortErr = Some("datatype mismatch"); -1L
                } else newRid0.asInstanceOf[Long]
              if (abortErr.isEmpty) {
                val nnIdx = td.cols.indices.filter(i =>
                  td.cols(i).notNull && !td.cols(i).isRowidAlias &&
                    nw(i) == null)
                if (nnIdx.nonEmpty) policy match {
                  case "IGNORE" => skip = true
                  case "FAIL" =>
                    pendingFailError = Some("NOT NULL constraint failed: " +
                      s"${td.name}.${td.cols(nnIdx.head).name}")
                    failed = true
                  case _ => // REPLACE: declared default or abort
                    nnIdx.find(i => !defVals.contains(i)) match {
                      case Some(i) => abortErr =
                        Some("NOT NULL constraint failed: " +
                          s"${td.name}.${td.cols(i).name}")
                      case None =>
                        nnIdx.foreach(i => nw = nw.updated(i, defVals(i)))
                        keysChanged = true
                        if (td.genColsOrdered.nonEmpty)
                          nw = computeGens(td, Seq(nw)).head.toIndexedSeq
                        if (td.checks.nonEmpty)
                          policyChecksOf(td, nw) match {
                            case Left(e) => abortErr = Some(e)
                            case Right(x) => ck = x
                          }
                    }
                }
              }
              if (abortErr.isEmpty && !skip && !failed) ck.foreach { label =>
                policy match {
                  case "IGNORE" => skip = true
                  case "FAIL" =>
                    pendingFailError =
                      Some(s"CHECK constraint failed: $label")
                    failed = true
                  case _ => abortErr =
                    Some(s"CHECK constraint failed: $label")
                }
              }
              if (abortErr.isEmpty && !skip && !failed) {
                if (keysChanged) supplementPartners(nw)
                if (policy == "REPLACE") {
                  specs.zipWithIndex.foreach { case ((idxs, _, colls), s) =>
                    val k = keyOf(nw, idxs, colls)
                    if (!k.contains(null))
                      keyIdx(s).get(k).filter(_ != c0.rid).foreach { v =>
                        val vVals = cur(v)
                        updVictims += vVals
                        dropKeys(v, vVals)
                        cur -= v
                        dirty -= v
                      }
                  }
                } else {
                  val hit = specs.zipWithIndex.collectFirst {
                    case ((idxs, desc, colls), s) if {
                      val k = keyOf(nw, idxs, colls)
                      !k.contains(null) &&
                        keyIdx(s).get(k).exists(_ != c0.rid)
                    } => desc
                  }
                  hit.foreach { desc =>
                    if (policy == "IGNORE") skip = true
                    else {
                      pendingFailError =
                        Some(s"UNIQUE constraint failed: $desc")
                      failed = true
                    }
                  }
                }
              }
              if (abortErr.isEmpty && !skip && !failed) {
                dropKeys(c0.rid, occ)
                cur -= c0.rid
                cur(newRid) = nw
                dirty += newRid
                putKeys(newRid, nw)
                fkChecks.foreach { fc =>
                  if (abortErr.isEmpty) {
                    val v = nw(fc.ci)
                    if (v != null) {
                      val ok = fc.exists(norm(v)) || (fc.selfRef &&
                        cur.valuesIterator.exists(t =>
                          norm(t(fc.parentCol)) == norm(v)))
                      if (!ok)
                        abortErr = Some("FOREIGN KEY constraint failed")
                    }
                  }
                }
                if (abortErr.isEmpty) {
                  tape += (("UPDATE", Some(nw), Some(occ)))
                  retRows += ((newRid, nw))
                  applied += 1
                }
              }
          }
      }
    }
    abortErr match {
      case Some(e) =>
        pendingFailError = None
        return Left(e)
      case None => ()
    }
    if (applied > 0 || cur.size != trackedRidSet.size) ts.store match {
      case Mem(memRows) =>
        ts.store = memStore(
          memRows.filterNot(r => trackedRidSet.contains(r._1)), cur)
      case big: Big =>
        val updDf = session.createDataFrame(cur.toSeq.map {
          case (rid, vals) => Row.fromSeq(rid +: vals) }.asJava, ridSchema(td))
        val keepDf = big.df.join(broadcast(ridsDf(trackedRidSet)),
          col("__rowid") === col("__qr"), "left_anti")
        val newDf = keepDf.unionByName(updDf)
        val n2 = big.n - trackedRidSet.size + cur.size
        ts.store =
          if (root.isEmpty) Big(newDf.localCheckpoint(), n2)
          else bigPartitionedFull(td.name, newDf, n2)
    }
    val tapeRows = tape.result()
    updPolicyFirings = Some(tapeRows)
    captureRet(td, retRows.result())
    if (applied > 0) fkDelta match {
      case Some((beforeDf, backup)) =>
        def fkAbort(e: String): Either[String, Long] = {
          work(td.name.toLowerCase) = backup
          pendingFailError = None
          Left(e)
        }
        // REPLACE loses referenced keys two ways with DIFFERENT SQLite
        // semantics: a key REWRITTEN away is governed by ON UPDATE (fails
        // for every child, CASCADE included — fuzz seed 101128), while a
        // key lost with a DISPLACED row is a true delete (ON DELETE
        // actions run). Guard the rewrite-lost keys here; the delta below
        // then treats the remainder delete-like (an action on a
        // childless rewrite-lost key is a no-op, so overlap is safe).
        if (policy == "REPLACE" && fkEnabled) {
          val refd = referencedCols(work, td)
          val finalDf = ridDf(ts)
          refd.foreach { pi =>
            val pname = td.cols(pi).name
            val rewrites = tapeRows.iterator.collect {
              case (_, Some(nw), Some(old))
                if old(pi) != null && norm(old(pi)) != norm(nw(pi)) =>
                old(pi)
            }.toSeq.distinct
            if (rewrites.nonEmpty) {
              val vdf = session.createDataFrame(
                rewrites.map(Row(_)).asJava,
                StructType(Seq(StructField("__kv",
                  td.schema.fields(pi).dataType, nullable = true))))
              val present = finalDf.select(col(pname).as("__pv"))
                .join(broadcast(vdf), col("__pv") === col("__kv"),
                  "left_semi").distinct().collect()
                .iterator.map(r => norm(r.get(0))).toSet
              val lost = rewrites.filterNot(v => present(norm(v)))
              if (lost.nonEmpty) {
                val ldf = session.createDataFrame(
                  lost.map(Row(_)).asJava,
                  StructType(Seq(StructField("__kv",
                    td.schema.fields(pi).dataType, nullable = true))))
                val orphaned = work.values.exists { ch =>
                  ch.d.cols.exists { cc =>
                    cc.ref.exists { case (rt, rc) =>
                      rt.equalsIgnoreCase(td.name) && {
                        val refCol = if (rc.nonEmpty) rc
                          else td.rowidAlias.map(_.name).getOrElse("")
                        refCol.equalsIgnoreCase(pname)
                      }
                    } && {
                      val chDf =
                        if (ch.d.name.equalsIgnoreCase(td.name)) finalDf
                        else storeDf(ch.d, ch.store)
                      chDf.select(col(cc.name).as("__cv"))
                        .filter(col("__cv").isNotNull)
                        .join(broadcast(ldf),
                          col("__cv") === col("__kv"), "left_semi")
                        .limit(1).count() > 0
                    }
                  }
                }
                if (orphaned)
                  return fkAbort("FOREIGN KEY constraint failed")
              }
            }
          }
        }
        if (policy == "REPLACE") replaceVictims = Some(updVictims.result())
        fkParentDelta(work, ts, beforeDf,
          deleteLike = policy == "REPLACE") match {
          case Left(e) => return fkAbort(e)
          case Right(_) => ()
        }
      case None => ()
    }
    Right(applied)
  }

  /** Re-evaluate the SET projection for ONE row whose current values
    * differ from its before-statement image (a rekeyed row moved onto a
    * later matched rowid — SQLite processes the matched-rowid list
    * against current occupants, probed live). One tiny local VALUES
    * query through the same CAST + gen-level + CHECK pipeline. */
  private def policyReeval(td: TableDef, eff: String,
      sets: Map[String, String], ridRekey: Boolean, rid: Long,
      vals: IndexedSeq[Any])
      : Either[String, (Any, IndexedSeq[Any], Option[String])] = {
    val n = td.cols.size
    def setExprOf(c: ColDef): Option[String] =
      sets.collectFirst { case (sc, e) if sc.equalsIgnoreCase(c.name) => e }
    val lits = vals.map(sqlLiteral).mkString(", ")
    val vcols = td.cols.map(c => s"`${c.name}`").mkString(", ")
    val typed = td.cols.map(c =>
      s"CAST(`${c.name}` AS ${sparkTypeName(c)}) AS `${c.name}`")
      .mkString(", ")
    val newCols = td.cols.map { c =>
      val e = setExprOf(c).getOrElse(s"`${c.name}`")
      s"CAST(($e) AS ${sparkTypeName(c)}) AS `${c.name}`"
    }.mkString(", ")
    val newRidExpr =
      if (ridRekey) s"CAST((${setExprOf(td.rowidAlias.get).get}) AS BIGINT)"
      else s"${rid}L"
    val inner = s"SELECT $newRidExpr AS `__newrid`, $newCols FROM " +
      s"(SELECT $typed FROM (VALUES ($lits)) AS __pv($vcols)) AS `$eff`"
    val leveled = withGenLevels(td, inner, Seq("__newrid"))
    val q =
      if (td.checks.isEmpty) leveled
      else s"SELECT *, " + td.checks.zipWithIndex.map { case ((_, ex), i) =>
        s"NOT COALESCE(($ex), TRUE) AS `__ck$i`" }.mkString(", ") +
        s" FROM ($leveled)"
    try {
      val r = ssql(q).head()
      val ckFail = td.checks.zipWithIndex.collectFirst {
        case ((label, _), i) if r.getBoolean(1 + n + i) => label }
      Right((if (r.isNullAt(0)) null else r.getLong(0),
        (1 until 1 + n).map(r.get).toIndexedSeq, ckFail))
    } catch { case e: Exception => Left(stmtError(e)) }
  }

  /** CHECK flags for one driver-held row image (REPLACE's NOT NULL
    * default substitution changes values after the batch evaluation):
    * first failing check's label, through one local VALUES query. */
  private def policyChecksOf(td: TableDef, vals: IndexedSeq[Any])
      : Either[String, Option[String]] = {
    val lits = vals.map(sqlLiteral).mkString(", ")
    val vcols = td.cols.map(c => s"`${c.name}`").mkString(", ")
    val typed = td.cols.map(c =>
      s"CAST(`${c.name}` AS ${sparkTypeName(c)}) AS `${c.name}`")
      .mkString(", ")
    val flags = td.checks.zipWithIndex.map { case ((_, ex), i) =>
      s"NOT COALESCE(($ex), TRUE) AS `__ck$i`" }.mkString(", ")
    try {
      val r = ssql(s"SELECT $flags FROM (SELECT $typed FROM " +
        s"(VALUES ($lits)) AS __pv($vcols))").head()
      Right(td.checks.zipWithIndex.collectFirst {
        case ((label, _), i) if r.getBoolean(i) => label })
    } catch { case e: Exception => Left(stmtError(e)) }
  }

  /** Parent-delta capture for UPDATE paths — taken only when the SET list
    * touches a referenced column (the delta itself is [[fkParentDelta]]
    * in guard-only mode). */
  private def fkUpdateDeltaPrep(work: Tables, ts: TableState,
      setCols: Seq[String]): Option[(DataFrame, TableState)] = {
    if (!fkEnabled) return None
    val refd = referencedCols(work, ts.d)
    if (refd.nonEmpty && setCols.exists(c =>
      refd.exists(i => ts.d.cols(i).name.equalsIgnoreCase(c))))
      Some((ridDf(ts), ts.copyState))
    else None
  }

  private def applyFkUpdateDelta(work: Tables, td: TableDef,
      prep: Option[(DataFrame, TableState)],
      res: Either[String, Long]): Either[String, Long] =
    prep match {
      case Some((beforeDf, backup)) => res.flatMap { n =>
        fkParentDelta(work, work(td.name.toLowerCase), beforeDf,
          deleteLike = false) match {
          case Left(e) =>
            work(td.name.toLowerCase) = backup
            Left(e)
          case Right(_) => Right(n)
        }
      }
      case None => res
    }

  /** Rewrite an UPDATE..FROM source clause: a single plain table
    * (optionally `AS alias`) scans its rid view so the winner pick can
    * order by source rowid; anything else (subquery, comma/JOIN list,
    * view) passes through verbatim and resolves against the registered
    * data views. Returns (from-clause SQL, qualified source-rowid expr
    * when the source carries one). */
  private val plainSrcRe =
    """(?is)^\s*[`"]?([A-Za-z_][A-Za-z0-9_]*)[`"]?(?:\s+AS\s+([A-Za-z_][A-Za-z0-9_]*))?\s*$""".r
  private def fromSource(work: Tables, fromText: String)
      : (String, Option[String]) =
    fromText match {
      case plainSrcRe(name, al)
          // a statement-scoped CTE shadows a same-named table (SQLite
          // resolution order) — fall through to the verbatim path
          if !pendingCtes.exists(_._1.equalsIgnoreCase(name)) =>
        work.get(name.toLowerCase) match {
          case Some(sts) =>
            val eff = Option(al).getOrElse(name)
            (s"${ridView(sts.d.name)} AS `$eff`", Some(s"`$eff`.`__rowid`"))
          case None => (fromText, None)
        }
      case _ => (fromText, None)
    }

  private var updFromSeq = 0L

  /** UPDATE ... FROM (SQLite 3.33+, reference surface via its delegated
    * SQLite `db/src/db.rs:176,278`): the target joins an arbitrary source;
    * every target row matched by >=1 join row is updated exactly ONCE.
    * SQLite documents the winning join row as unspecified when several
    * match; observed 3.40 behavior (probed live, UpdateFromSpec) is
    * last-in-scan-order — for a plain-table source that is the greatest
    * source rowid, which this engine pins exactly (robust under source
    * indexes: equal-key index entries stay in rowid order). For
    * subquery/join/view sources no scan order exists on a distributed
    * engine, so the winner is the greatest evaluated new-value tuple — a
    * deterministic choice inside SQLite's unspecified envelope, exercised
    * by the fuzzer only through unique-match joins.
    * Probed-live semantics carried over from plain UPDATE: changes()
    * counts DISTINCT matched target rows; matched-but-unchanged rows
    * still fire UPDATE triggers and appear in RETURNING (NEW images,
    * rowid order); per-row live-state constraint validation is shared.
    * Disk-backed Big stores take the full-rewrite path: the matched set
    * comes from a join, not a per-bucket predicate, so the bucket-scoped
    * rewrite cannot prove from the SQL text which buckets it may touch. */
  private def doUpdateFrom(work: Tables, ts: TableState,
      alias: Option[String], setText: String, fromText: String,
      whereText: String): Either[String, Long] = {
    val td = ts.d
    if (fromText.trim.isEmpty)
      return Left(if (whereText.trim.nonEmpty) "near \"WHERE\": syntax error"
      else "incomplete input")
    val sets = SqlText.splitTopLevel(setText).map { a =>
      val eq = a.indexOf('=')
      if (eq < 0) return Left("near \"SET\": syntax error")
      val c = a.take(eq).trim.stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("`").stripSuffix("`")
      if (td.colIndex(c) < 0) return Left(s"no such column: $c")
      genWriteError(td, td.colIndex(c), "UPDATE")
        .foreach(msg => return Left(msg))
      c -> a.substring(eq + 1).trim
    }
    val fkDelta = fkUpdateDeltaPrep(work, ts, sets.map(_._1))
    // rowid-alias rekeying via a FROM update: same contract as the plain
    // path (rowid follows the column; armed UPDATE triggers reject)
    val ridRekey = td.rowidAlias.exists(c =>
      sets.exists(_._1.equalsIgnoreCase(c.name)))
    if (ridRekey && triggers.values.exists(t =>
      t.table.equalsIgnoreCase(td.name) && t.event == "UPDATE"))
      return Left("UPDATE of the INTEGER PRIMARY KEY with UPDATE row " +
        "triggers armed is not supported (rekeying breaks the firing tape)")
    registerViews(work)
    val eff = alias.getOrElse(td.name)
    val cond = if (whereText.trim.isEmpty) "true" else s"(${whereText.trim})"
    val (srcSql, srcRid) = fromSource(work, fromText.trim)
    val setCols = td.cols.filter(c => sets.exists(_._1.equalsIgnoreCase(c.name)))
    def setExpr(name: String): String =
      sets.collectFirst { case (sc, e) if sc.equalsIgnoreCase(name) => e }.get
    // one row per matched target rowid carrying the winning NEW values:
    // values evaluate once in the inner projection; the window orders by
    // the aliased outputs so subquery-bearing SET expressions stay legal
    val vList = setCols.map(c =>
      s", CAST((${setExpr(c.name)}) AS ${sparkTypeName(c)}) AS `__v_${c.name}`")
      .mkString
    val (srcOrdSel, ordBy) = srcRid match {
      case Some(r) => (s", $r AS `__src_ord`", "`__src_ord` DESC")
      case None =>
        ("", setCols.map(c => s"`__v_${c.name}` DESC").mkString(", "))
    }
    val vNames = setCols.map(c => s", `__v_${c.name}`").mkString
    val mapSql =
      s"SELECT `__rowid`$vNames FROM (" +
        s"SELECT *, ROW_NUMBER() OVER (PARTITION BY `__rowid` " +
        s"ORDER BY $ordBy) AS `__rn` FROM (" +
        s"SELECT `$eff`.`__rowid` AS `__rowid`$vList$srcOrdSel " +
        s"FROM ${ridView(td.name)} AS `$eff`, $srcSql WHERE $cond)" +
        s") WHERE `__rn` = 1"
    val updDf = ssql(mapSql).localCheckpoint()
    val affected = updDf.count()
    if (retArmed && affected > maxDriverRows) {
      retArmed = false
      return Left(retTooMany(td.name))
    }
    updFromSeq += 1
    val mv = s"__upd_from_$updFromSeq"
    updDf.createOrReplaceTempView(mv)
    val res0 = try {
      // m.`__rowid` is the join key — non-null exactly on matched rows,
      // so it doubles as the match flag (a SET value may itself be NULL)
      val projCols = td.cols.map { c =>
        if (setCols.exists(_.name == c.name))
          s"CASE WHEN m.`__rowid` IS NOT NULL THEN m.`__v_${c.name}` " +
            s"ELSE b.`${c.name}` END AS `${c.name}`"
        else s"b.`${c.name}` AS `${c.name}`"
      }.mkString(", ")
      val joinAll = s"FROM ${ridView(td.name)} AS b LEFT JOIN $mv AS m " +
        "ON b.`__rowid` = m.`__rowid`"
      val joinMatched = s"FROM ${ridView(td.name)} AS b JOIN $mv AS m " +
        "ON b.`__rowid` = m.`__rowid`"
      val beforeAllDf = session.table(ridView(td.name))
      val changedOldDf = ssql(s"SELECT b.* $joinMatched")
      val ridSel =
        if (!ridRekey) "b.`__rowid`"
        else {
          val idc = td.rowidAlias.get.name
          s"CASE WHEN m.`__rowid` IS NOT NULL THEN m.`__v_$idc` " +
            "ELSE b.`__rowid` END AS `__rowid`"
        }
      val newDf = ssql(withGenLevels(td,
        s"SELECT $ridSel, $projCols $joinAll", Seq("__rowid")))
      val changedDf = ssql(withGenLevels(td,
        s"SELECT b.`__rowid`, $projCols $joinMatched", Seq("__rowid")))
      validateUpdatePerRow(work, td, beforeAllDf, newDf, changedDf,
        changedOldDf).map { _ =>
        captureRet(td, changedDf.orderBy("__rowid").collect()
          .toVector.map { r =>
            (r.getLong(0), (1 until r.length).map(r.get).toIndexedSeq)
          })
        ts.store = ts.store match {
          case Mem(memRows) =>
            memUpdated(memRows, ssql(withGenLevels(td,
              s"SELECT b.`__rowid` AS `__old`, $ridSel, $projCols " +
                joinMatched, Seq("__old", "__rowid"))).collect())
          case big: Big =>
            if (root.isEmpty) Big(newDf.localCheckpoint(), big.n)
            else bigPartitionedFull(td.name, newDf, big.n)
        }
        affected
      }
    } finally session.catalog.dropTempView(mv)
    applyFkUpdateDelta(work, td, fkDelta, res0)
  }

  // ---------- generated columns (SQLite 3.31 surface) ---------------------

  /** Wrap `inner` — a SELECT producing `keyCols` followed by the table's
    * data columns in declaration order — with one projection level per
    * generated column (dependency order, [[TableDef.genColsOrdered]]) that
    * RE-computes it from the row's other values. Unchanged rows recompute
    * to bit-identical values (the expressions are deterministic — the
    * execute path's determinism guard covers DDL text too), so callers
    * can wrap whole-table projections safely. No-op without gens. */
  private def withGenLevels(td: TableDef, inner: String,
                            keyCols: Seq[String]): String = {
    var cur = inner
    td.genColsOrdered.foreach { case (gi, e) =>
      val g = td.cols(gi)
      val cols = keyCols.map(k => s"`$k`") ++ td.cols.map { c =>
        if (c.name == g.name)
          s"CAST(($e) AS ${sparkTypeName(g)}) AS `${g.name}`"
        else s"`${c.name}`"
      }
      cur = s"SELECT ${cols.mkString(", ")} FROM ($cur)"
    }
    cur
  }

  /** Compute generated-column values for driver-sized candidate rows in
    * ONE Catalyst round-trip (a VALUES relation of the full rows plus an
    * ordinal, leveled by [[withGenLevels]]) — not one query per row. */
  private def computeGens(td: TableDef,
      rows: Seq[IndexedSeq[Any]]): Seq[IndexedSeq[Any]] = {
    if (td.genColsOrdered.isEmpty || rows.isEmpty) return rows
    val tuples = rows.zipWithIndex.map { case (r, i) =>
      (i.toLong +: r).map(sqlLiteral).mkString("(", ", ", ")")
    }
    val colNames = ("__i" +: td.cols.map(_.name)).map(n => s"`$n`")
    val inner = s"SELECT CAST(`__i` AS BIGINT) AS `__i`, " +
      td.cols.map(c =>
        s"CAST(`${c.name}` AS ${sparkTypeName(c)}) AS `${c.name}`")
        .mkString(", ") +
      s" FROM (VALUES ${tuples.mkString(", ")}) AS __g(${colNames.mkString(", ")})"
    ssql(
      s"SELECT * FROM (${withGenLevels(td, inner, Seq("__i"))}) ORDER BY `__i`")
      .collect().toVector
      .map(r => (1 until r.length).map(r.get).toIndexedSeq)
  }

  /** The "cannot write a generated column" guard shared by INSERT column
    * lists, UPDATE SET lists and upsert DO UPDATE SET lists. */
  private def genWriteError(td: TableDef, ci: Int,
                            verb: String): Option[String] =
    if (ci >= 0 && td.cols(ci).gen.isDefined)
      Some(s"""cannot $verb generated column "${td.cols(ci).name}"""")
    else None

  /** SQLite-exact UPDATE validation: per ROW, in rowid scan order, against
    * the LIVE table state. Uniqueness for each updated row i is checked
    * against already-updated rows' NEW keys (j < i), not-yet-updated rows'
    * OLD keys (j > i), and unmatched rows' keys — so TRANSIENT collisions
    * fail exactly where SQLite fails (probed live, OLTP-fuzz seed 5002:
    * `a = a + 1` over unique {1,2} fails; over {2,1} succeeds; swaps
    * fail; a final-state check accepts all three). Constraint precedence
    * is the per-row NOT NULL > CHECK > UNIQUE > FK at the earliest
    * failing rowid. All legs are min(__rowid) aggregates/joins bounded by
    * the changed set (the unmatched leg scans the table once — the same
    * cost the old changed×all probe paid). */
  private def validateUpdatePerRow(work: Tables, td: TableDef,
      beforeAllDf: DataFrame, newAllDf: DataFrame,
      changedNewDf: DataFrame, changedOldDf: DataFrame)
      : Either[String, Unit] = {
    var best: Option[(Long, Int, String)] = None
    def reportAt(rid: Option[Long], pri: Int, msg: String): Unit =
      rid.foreach { o =>
        if (best.forall { case (bo, bp, _) =>
              o < bo || (o == bo && pri < bp) })
          best = Some((o, pri, msg))
      }
    def minRid(df: DataFrame, c: String = "__rowid"): Option[Long] = {
      val r = df.agg(expr(s"min($c)")).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    td.cols.foreach { c =>
      if (c.notNull && !c.isRowidAlias)
        reportAt(minRid(changedNewDf.filter(col(c.name).isNull)), 0,
          s"NOT NULL constraint failed: ${td.name}.${c.name}")
    }
    td.checks.foreach { case (label, ex) =>
      val bad =
        try minRid(changedNewDf.filter(s"NOT COALESCE(($ex), true)"))
        catch { case _: Exception => None } // unresolvable expr: ignore
      reportAt(bad, 1, s"CHECK constraint failed: $label")
    }
    uniqueSpecs(td).foreach { case (idxs, desc, colls) =>
      val names = idxs.map(td.cols(_).name)
      def keyed(df: DataFrame, ridAs: String, pfx: String): DataFrame =
        df.select(col("__rowid").as(ridAs) +:
          names.lazyZip(colls).map((n2, cl) =>
            normCol(col(n2), cl).as(pfx + n2)).toSeq: _*)
      val iNew = keyed(changedNewDf, "__i", "__ki_")
        .filter(names.map(n2 => col("__ki_" + n2).isNotNull).reduce(_ && _))
      val keyEq = names.map(n2 =>
        col("__ki_" + n2) === col("__kj_" + n2)).reduce(_ && _)
      val jNew = keyed(changedNewDf, "__j", "__kj_")
      val jOld = keyed(changedOldDf, "__j", "__kj_")
      val uOld = keyed(beforeAllDf.join(
          changedOldDf.select(col("__rowid").as("__m")),
          col("__rowid") === col("__m"), "left_anti"), "__j", "__kj_")
      val msg = s"UNIQUE constraint failed: $desc"
      reportAt(minRid(iNew.join(jNew, keyEq && col("__j") < col("__i")),
        "__i"), 2, msg)
      reportAt(minRid(iNew.join(jOld, keyEq && col("__j") > col("__i")),
        "__i"), 2, msg)
      reportAt(minRid(iNew.join(uOld, keyEq), "__i"), 2, msg)
    }
    if (fkEnabled) {
      td.cols.foreach { c =>
        c.ref.foreach { case (refTable, refColOpt) =>
          work.get(refTable.toLowerCase) match {
            case None => reportAt(Some(Long.MinValue), 3,
              "FOREIGN KEY constraint failed")
            case Some(parent) =>
              val refCol =
                if (refColOpt.nonEmpty) refColOpt
                else parent.d.rowidAlias.map(_.name).getOrElse("")
              val pIdx = parent.d.colIndex(refCol)
              if (pIdx < 0) reportAt(Some(Long.MinValue), 3,
                "FOREIGN KEY constraint failed")
              else {
                val pdf =
                  if (parent.d.name.equalsIgnoreCase(td.name)) newAllDf
                  else storeDf(parent.d, parent.store)
                val pvals = pdf
                  .select(col(parent.d.cols(pIdx).name).as("__graft_p"))
                  .filter(col("__graft_p").isNotNull)
                reportAt(minRid(changedNewDf.filter(col(c.name).isNotNull)
                    .join(pvals, col(c.name) === col("__graft_p"),
                      "left_anti")),
                  3, "FOREIGN KEY constraint failed")
              }
          }
        }
      }
    }
    best match {
      case Some((_, _, m)) => Left(m)
      case None =>
        // partial/expression unique indexes: final-state scan over the
        // full NEW frame (a row UPDATEd into a partial set must collide,
        // probed live)
        checkAdvanced(td, newAllDf, advancedSpecs(td)).toLeft(())
    }
  }

  private val deleteRe =
    """(?is)^\s*DELETE\s+FROM\s+[`"]?([A-Za-z_][A-Za-z0-9_]*)[`"]?\s*(?:WHERE\s+(.+?))?\s*;?\s*$""".r

  /** FK ON DELETE actions (SQLite foreign_key surface): CASCADE /
    * SET NULL / SET DEFAULT run BEFORE the parent delete as internal
    * child statements — their own row triggers fire, and cascades recurse
    * through this same path (each internal DELETE re-enters doDelete).
    * Ordering is SQLite's observed row-at-a-time shape (probed live,
    * FkActionSpec): child tables act in REVERSE creation order; when any
    * trigger is armed the engine loops per doomed parent row in
    * parent-rowid order so firing tapes match; with no triggers armed one
    * bulk statement per child column is state-identical and cheaper. The
    * doomed parent rows materialize on the driver, capped at
    * [[maxDriverRows]] with a loud error. RESTRICT folds into NO ACTION
    * (both immediate here — no deferred constraints) and stays with the
    * delta guard, which runs AFTER the actions so a SET DEFAULT pointing
    * at a doomed key still fails like SQLite. Returns whether any action
    * statement executed (callers recompute their doomed/remaining sets
    * from the post-action state — a self-referential cascade mutates the
    * parent table itself). */
  private def fkDeleteActions(work: Tables, ts: TableState,
      doomed: Either[Vector[(Long, IndexedSeq[Any])], DataFrame])
      : Either[String, Boolean] = {
    if (!fkEnabled) return Right(false)
    val td = ts.d
    def actsOf(ch: TableState): Seq[Int] = ch.d.cols.indices.filter { i =>
      val cc = ch.d.cols(i)
      cc.ref.exists(_._1.equalsIgnoreCase(td.name)) &&
        cc.fkDelete != "NO ACTION" && cc.fkDelete != "RESTRICT"
    }
    val actionChildren = work.values.toSeq.filter(actsOf(_).nonEmpty)
    if (actionChildren.isEmpty) return Right(false)
    val doomedRows: Vector[(Long, IndexedSeq[Any])] = doomed match {
      case Left(rows) => rows
      case Right(df) =>
        val r = try collectCapped(df.orderBy("__rowid"), maxDriverRows)
        catch {
          case _: TriggerDiffTooLarge => return Left(
            s"too many rows for FK action processing on ${td.name}: the " +
              s"statement deletes more than $maxDriverRows rows with ON " +
              "DELETE actions armed (raise maxDriverRows)")
        }
        r.toVector.map(row =>
          (row.getLong(0), (1 until row.length).map(row.get).toIndexedSeq))
    }
    if (doomedRows.isEmpty) return Right(false)
    def keyOf(ch: TableState, ci: Int, row: IndexedSeq[Any]): Any = {
      val refCol = ch.d.cols(ci).ref.get._2 match {
        case "" => td.rowidAlias.map(_.name).getOrElse("")
        case c => c
      }
      val pIdx = td.colIndex(refCol)
      if (pIdx >= 0) row(pIdx) else null
    }
    def stmt(ch: TableState, ci: Int, keys: Seq[Any]): Option[String] = {
      val cc = ch.d.cols(ci)
      val ks = keys.filter(_ != null).distinct
      if (ks.isEmpty) return None
      val base = s"`${cc.name}` IN (${ks.map(sqlLiteral).mkString(", ")})"
      Some(cc.fkDelete match {
        case "CASCADE" => s"DELETE FROM ${ch.d.name} WHERE $base"
        case "SET NULL" =>
          s"UPDATE ${ch.d.name} SET `${cc.name}` = NULL WHERE $base"
        case _ => s"UPDATE ${ch.d.name} SET `${cc.name}` = " +
          s"(${cc.default.getOrElse("NULL")}) WHERE $base"
      })
    }
    val acts: Seq[(TableState, Int)] =
      actionChildren.reverse.flatMap(ch => actsOf(ch).map(ch -> _))
    val stmts: Seq[String] =
      if (triggers.nonEmpty)
        doomedRows.flatMap { case (_, row) =>
          acts.flatMap { case (ch, ci) =>
            stmt(ch, ci, Seq(keyOf(ch, ci, row))) } }
      else acts.flatMap { case (ch, ci) =>
        stmt(ch, ci, doomedRows.map(r => keyOf(ch, ci, r._2))) }
    if (stmts.isEmpty) return Right(false)
    // protect an outer RETURNING capture from the internal statements,
    // and undo every action on the first failure (statement atomicity)
    val backup = work.map { case (k, v) => k -> v.copyState }
    val savedRet = retArmed
    retArmed = false
    try {
      stmts.foreach { s =>
        executeOne(work, s) match {
          case Left(e) =>
            work.clear(); backup.foreach { case (k, v) => work(k) = v }
            return Left(e)
          case Right(_) =>
        }
      }
      Right(true)
    } finally retArmed = savedRet
  }

  /** Columns of `td` that some child FK references. */
  private def referencedCols(work: Tables, td: TableDef): Seq[Int] = {
    val names = work.values.flatMap(_.d.cols).flatMap(_.ref).collect {
      case (rt, rc) if rt.equalsIgnoreCase(td.name) =>
        if (rc.nonEmpty) rc else td.rowidAlias.map(_.name).getOrElse("")
    }.toSet
    td.cols.indices.filter(i => names.exists(_.equalsIgnoreCase(td.cols(i).name)))
  }

  /** Parent-side FK delta for statements that REMOVE or REWRITE referenced
    * key values without being a DELETE. Probed live (FkActionSpec):
    *  - REPLACE displacement is a true delete — ON DELETE actions run for
    *    the lost keys, plain children fail `FOREIGN KEY constraint failed`;
    *    a displaced key re-inserted by a later candidate is NOT lost;
    *  - upsert DO UPDATE / plain UPDATE rewrites of a referenced key fail
    *    for EVERY referencing child, even CASCADE-declared ones — the
    *    governing action there is ON UPDATE, which this engine accepts
    *    only as NO ACTION/RESTRICT (rejected at CREATE otherwise).
    * Runs AFTER the caller committed its new parent state: guards check
    * the post-state, actions mutate children through the normal statement
    * machinery (their triggers fire); on any failure child mutations are
    * restored here and the caller restores the parent. A self-referential
    * action child guards instead of acting (an internal statement on the
    * mid-commit parent is not safe; SQLite's cascade there is declared
    * out of scope). */
  private def fkParentDelta(work: Tables, ts: TableState,
      beforeDf: DataFrame, deleteLike: Boolean): Either[String, Unit] = {
    val victims = replaceVictims
    replaceVictims = None
    if (!fkEnabled) return Right(())
    val td = ts.d
    val refd = referencedCols(work, td)
    if (refd.isEmpty) return Right(())
    val afterDf = storeDf(td, ts.store)
    // lost keys per referenced column, in first-appearance rowid order
    // (the order cascades fire per-key when triggers are armed)
    val lost: Map[Int, Seq[Any]] = refd.map { pi =>
      val c = td.cols(pi).name
      val lostSet = try collectCapped(
        beforeDf.select(col(c)).filter(col(c).isNotNull).distinct()
          .except(afterDf.select(col(c)).distinct()), maxDriverRows)
        .map(_.get(0)).toSet
      catch {
        case _: TriggerDiffTooLarge => return Left(
          s"too many rows for FK action processing on ${td.name}: the " +
            s"statement drops more than $maxDriverRows referenced keys " +
            "(raise maxDriverRows)")
      }
      val ordered =
        if (lostSet.isEmpty) Nil
        else collectCapped(beforeDf.select(col("__rowid"), col(c))
          .filter(col(c).isInCollection(lostSet)).orderBy("__rowid"),
          maxDriverRows).map(_.get(1)).distinct
      pi -> ordered
    }.toMap
    // ON DELETE actions fire per displaced ROW's key, in displacement
    // order, even when the key survives via the displacing row (probed
    // live; fuzz seed 320869). The sequential REPLACE paths tape their
    // victims; an untracked path (over-cap bulk) keeps the final-state
    // lost keys — a bulk-scale-only documented boundary.
    val actionLost: Map[Int, Seq[Any]] =
      if (!deleteLike) Map.empty
      else victims match {
        case Some(vs) => refd.map(pi =>
          pi -> vs.iterator.map(_(pi)).filter(_ != null).toSeq.distinct)
          .toMap
        case None => lost
      }
    if (lost.forall(_._2.isEmpty) && actionLost.forall(_._2.isEmpty))
      return Right(())
    def childCols(ch: TableState): Seq[(Int, Int)] = // (child col, parent col)
      ch.d.cols.indices.flatMap { i =>
        ch.d.cols(i).ref.collect { case (rt, rc)
          if rt.equalsIgnoreCase(td.name) =>
          val refCol = if (rc.nonEmpty) rc
            else td.rowidAlias.map(_.name).getOrElse("")
          i -> td.colIndex(refCol)
        }.filter(_._2 >= 0)
      }
    def actionable(ch: TableState, i: Int): Boolean =
      deleteLike && !ch.d.name.equalsIgnoreCase(td.name) &&
        Set("CASCADE", "SET NULL", "SET DEFAULT")(ch.d.cols(i).fkDelete)
    // guards first: a failing guard undoes the whole statement, so no
    // action side effect may precede it
    work.values.foreach { ch =>
      childCols(ch).foreach { case (i, pi) =>
        val keys = lost.getOrElse(pi, Nil)
        if (keys.nonEmpty && !actionable(ch, i)) {
          val cname = ch.d.cols(i).name
          val childDf =
            if (ch.d.name.equalsIgnoreCase(td.name)) afterDf
            else storeDf(ch.d, ch.store)
          if (childDf.filter(col(cname).isInCollection(keys))
              .limit(1).count() > 0)
            return Left("FOREIGN KEY constraint failed")
        }
      }
    }
    if (!deleteLike) return Right(())
    // actions: reverse-creation-order child tables; per-key statements
    // when any trigger is armed (SQLite's row-at-a-time tape), one bulk
    // statement per child column otherwise
    val acts = work.values.toSeq.reverse.flatMap { ch =>
      childCols(ch).collect { case (i, pi) if actionable(ch, i) =>
        (ch, i, pi) }
    }
    def stmt(ch: TableState, i: Int, keys: Seq[Any]): Option[String] = {
      if (keys.isEmpty) return None
      val cc = ch.d.cols(i)
      val base = s"`${cc.name}` IN (${keys.map(sqlLiteral).mkString(", ")})"
      Some(cc.fkDelete match {
        case "CASCADE" => s"DELETE FROM ${ch.d.name} WHERE $base"
        case "SET NULL" =>
          s"UPDATE ${ch.d.name} SET `${cc.name}` = NULL WHERE $base"
        case _ => s"UPDATE ${ch.d.name} SET `${cc.name}` = " +
          s"(${cc.default.getOrElse("NULL")}) WHERE $base"
      })
    }
    val stmts: Seq[String] =
      if (triggers.nonEmpty)
        actionLost.values.flatten.toSeq.distinct.flatMap(k =>
          acts.flatMap { case (ch, i, pi) =>
            if (actionLost.getOrElse(pi, Nil).contains(k))
              stmt(ch, i, Seq(k)) else None })
      else acts.flatMap { case (ch, i, pi) =>
        stmt(ch, i, actionLost.getOrElse(pi, Nil)) }
    if (stmts.isEmpty) return Right(())
    val backup = work.map { case (k, v) => k -> v.copyState }
    val savedRet = retArmed
    retArmed = false
    try {
      stmts.foreach { s =>
        executeOne(work, s) match {
          case Left(e) =>
            work.clear(); backup.foreach { case (k, v) => work(k) = v }
            return Left(e)
          case Right(_) =>
        }
      }
      Right(())
    } finally retArmed = savedRet
  }

  private def doDelete(work: Tables, sql: String): Either[String, Long] =
    sql match {
      case deleteRe(tname, whereText) =>
        if (tname.equalsIgnoreCase("sqlite_master") ||
        tname.equalsIgnoreCase("sqlite_schema"))
          return Left("table sqlite_master may not be modified")
        if (viewDefs.contains(tname.toLowerCase))
          return Left(s"cannot modify $tname because it is a view")
        val ts = work.getOrElse(tname.toLowerCase,
          return Left(s"no such table: $tname"))
        registerViews(work)
        val cond =
          if (whereText == null || whereText.trim.isEmpty) "true"
          else s"(${whereText.trim})"
        ts.store match {
          case Mem(memRows0) =>
            val doomed0 = ssql(
              s"SELECT `__rowid` FROM ${ridView(ts.d.name)} AS __rv WHERE $cond")
              .collect().map(_.getLong(0)).toSet
            val doomedRows0 = memRows0.filter(r => doomed0.contains(r._1))
            fkDeleteActions(work, ts, Left(doomedRows0)).flatMap { acted =>
              // a self-referential cascade may have mutated THIS table —
              // recompute the sets from the post-action state (cond is
              // deterministic by the execute guard). rows_affected stays
              // the pre-action matched count (the statement's own rows).
              val memRows =
                if (!acted) memRows0
                else {
                  registerViews(work)
                  ts.store match { case Mem(r) => r; case _ => memRows0 }
                }
              val doomed =
                if (!acted) doomed0
                else ssql(s"SELECT `__rowid` FROM " +
                  s"${ridView(ts.d.name)} AS __rv WHERE $cond")
                  .collect().map(_.getLong(0)).toSet
              val remaining = memRows.filterNot(r => doomed.contains(r._1))
              val doomedRows = memRows.filter(r => doomed.contains(r._1))
              fkDeleteGuard(work, ts, Left(doomedRows),
                Left(remaining)).map { _ =>
                // RETURNING: deleted rows' OLD images in rowid (scan) order
                captureRet(ts.d, doomedRows)
                ts.store = memStore(remaining)
                doomed0.size.toLong
              }
            }
          case _: Big =>
            // copy-on-write as a Spark job: count the doomed rows, derive
            // the remaining version (a NULL predicate keeps the row, like
            // WHERE-filter semantics on the Mem path), guard FKs with
            // anti-joins, then swap the version. Disk-backed dbs rewrite
            // only the rowid buckets holding doomed rows.
            val affected0 = ssql(
              s"SELECT COUNT(*) FROM ${ridView(ts.d.name)} AS __rv WHERE $cond")
              .head.getLong(0)
            val doomedDf0 = ssql(
              s"SELECT * FROM ${ridView(ts.d.name)} AS __rv " +
                s"WHERE COALESCE($cond, false)")
            if (retArmed && affected0 > maxDriverRows) {
              retArmed = false
              return Left(retTooMany(ts.d.name))
            }
            fkDeleteActions(work, ts, Right(doomedDf0)).flatMap { acted =>
              // recompute from the post-action state (self-ref cascades
              // mutate this table; the scoped path's bucket map is then
              // stale, so action'd deletes take the full rewrite)
              if (acted) registerViews(work)
              val big = ts.store.asInstanceOf[Big]
              val remainingDf = ssql(
                s"SELECT * FROM ${ridView(ts.d.name)} AS __rv " +
                  s"WHERE NOT COALESCE($cond, false)")
              val doomedDf =
                if (!acted) doomedDf0
                else ssql(s"SELECT * FROM ${ridView(ts.d.name)} " +
                  s"AS __rv WHERE COALESCE($cond, false)")
              val affected =
                if (!acted) affected0
                else ssql(s"SELECT COUNT(*) FROM " +
                  s"${ridView(ts.d.name)} AS __rv WHERE $cond").head.getLong(0)
              fkDeleteGuard(work, ts, Right(doomedDf),
                Right(remainingDf)).map { _ =>
                // RETURNING: deleted OLD images, rowid order (doomedDf is
                // the rid view slice: __rowid, then the data cols)
                captureRet(ts.d, doomedDf.orderBy("__rowid").collect()
                  .toVector.map { r =>
                    (r.getLong(0), (1 until r.length).map(r.get).toIndexedSeq)
                  })
                ts.store =
                  if (root.isEmpty) mkBig(remainingDf)
                  else Option(bigParts.get(big.df)) match {
                    case None =>
                      bigPartitionedFull(ts.d.name, remainingDf,
                        big.n - affected)
                    // same defense as the UPDATE branch: a non-deterministic
                    // predicate must not be re-evaluated per bucket job
                    // (unreachable via execute()'s determinism guard)
                    case Some(_) if acted ||
                        nonDeterministic(cond).isDefined =>
                      bigPartitionedFull(ts.d.name, remainingDf,
                        big.n - affected)
                    case Some(files) =>
                      bigScopedDelete(ts.d.name, big, files, cond, affected)
                  }
                affected0
              }
            }
        }
      case _ => Left("near \"DELETE\": syntax error")
    }

  /** FK-on-DELETE guard — DELTA-based, exactly SQLite (probed live,
    * OLTP-fuzz seeds 5043/5067): a child row violates only if it
    * references one of the DELETED parent keys. Rows left dangling while
    * foreign_keys was OFF do NOT fail later unrelated deletes — SQLite
    * never audits pre-existing inconsistency, it checks the statement's
    * delta. (FK targets are UNIQUE/PK columns, so a key can never be in
    * both the doomed and remaining sets.) For self-references the child
    * side is the post-delete remainder — doomed children vanish with
    * their targets. The DataFrame legs compare via broadcast semi-joins
    * bounded by the doomed set. */
  private def fkDeleteGuard(work: Tables, ts: TableState,
      doomed: Either[Vector[(Long, IndexedSeq[Any])], DataFrame],
      remaining: Either[Vector[(Long, IndexedSeq[Any])], DataFrame])
      : Either[String, Unit] = {
    if (!fkEnabled) return Right(())
    work.values.foreach { child =>
      child.d.cols.zipWithIndex.foreach { case (c, i) =>
        c.ref.foreach { case (rt, refColOpt) =>
          if (rt.equalsIgnoreCase(ts.d.name)) {
            val refCol =
              if (refColOpt.nonEmpty) refColOpt
              else ts.d.rowidAlias.map(_.name).getOrElse("")
            val pIdx = ts.d.colIndex(refCol)
            if (pIdx >= 0) {
              val selfRef = child.d.name == ts.d.name
              (child.store, doomed, remaining) match {
                case (Mem(childRows), Left(doomRows), Left(remRows)) =>
                  val doomedVals =
                    doomRows.map(_._2(pIdx)).filter(_ != null).toSet
                  val side = if (selfRef) remRows else childRows
                  if (side.exists { case (_, vals) =>
                        vals(i) != null && doomedVals.contains(vals(i)) })
                    return Left("FOREIGN KEY constraint failed")
                case _ =>
                  val doomDf = doomed.fold(
                    rows => storeDf(ts.d, Mem(rows)), identity)
                  val childDf =
                    if (!selfRef) storeDf(child.d, child.store)
                    else remaining.fold(
                      rows => storeDf(ts.d, Mem(rows)), identity)
                  val dvals = doomDf
                    .select(col(ts.d.cols(pIdx).name).as("__graft_d"))
                    .filter(col("__graft_d").isNotNull)
                  val cname = child.d.cols(i).name
                  if (childDf.filter(col(cname).isNotNull)
                      .join(broadcast(dvals),
                        col(cname) === col("__graft_d"), "left_semi")
                      .limit(1).count() > 0)
                    return Left("FOREIGN KEY constraint failed")
              }
            }
          }
        }
      }
    }
    Right(())
  }

  /** Constraint checks with SQLite's exact error strings
    * (`db/src/db.rs:373,762`): NOT NULL → UNIQUE → FOREIGN KEY.
    *
    * `allRows` is the candidate post-statement state of the mutated table —
    * the whole table on the Mem path, or just the interacting slice on the
    * spilled path (equivalent for the uniqueness scan: any row a touched
    * row could conflict with is in the slice). `selfRemainder` is the
    * spilled path's untouched remainder, consulted (distributed) for
    * self-referencing FKs whose parent value lies outside the slice.
    *
    * A Left carries the INDEX (in `newRows` order) of the first failing
    * row, resolved with SQLite's per-row constraint priority — NOT NULL,
    * CHECK, UNIQUE, FOREIGN KEY (probed live against sqlite 3.40: a row
    * violating several reports the highest-priority one; across rows the
    * EARLIEST failing row wins regardless of constraint kind). Callers use
    * the index to reproduce last_insert_rowid() on aborted statements. */
  private def validateIdx(
      work: Tables, td: TableDef,
      allRows: Vector[(Long, IndexedSeq[Any])],
      newRows: Seq[IndexedSeq[Any]],
      selfRemainder: Option[DataFrame] = None,
      uniqueRemainder: Option[DataFrame] = None)
      : Either[(String, Int), Unit] = {
    var bestIdx = Int.MaxValue
    var bestPri = Int.MaxValue
    var bestMsg = ""
    def report(idx: Int, pri: Int, msg: String): Unit =
      if (idx < bestIdx || (idx == bestIdx && pri < bestPri)) {
        bestIdx = idx; bestPri = pri; bestMsg = msg
      }
    td.cols.zipWithIndex.foreach { case (c, i) =>
      if (c.notNull && !c.isRowidAlias)
        newRows.zipWithIndex.foreach { case (r, k) =>
          if (r(i) == null)
            report(k, 0, s"NOT NULL constraint failed: ${td.name}.${c.name}")
        }
    }
    // CHECK constraints evaluate through Catalyst over the touched rows;
    // a NULL result passes (SQLite: unknown is not a failure)
    if (td.checks.nonEmpty && newRows.nonEmpty) {
      val idxSchema = StructType(
        StructField("__vi", IntegerType, nullable = false) +:
          td.schema.fields)
      val df = session.createDataFrame(
        newRows.zipWithIndex.map { case (r, k) =>
          Row.fromSeq(k +: r)
        }.asJava, idxSchema)
      td.checks.foreach { case (label, ex) =>
        val bad =
          try df.filter(s"NOT COALESCE(($ex), true)").select("__vi")
            .collect().map(_.getInt(0))
          catch { case _: Exception => Array.empty[Int] } // unresolvable: ignore
        bad.foreach(report(_, 1, s"CHECK constraint failed: $label"))
      }
    }
    // statement row -> its index, by OBJECT IDENTITY (applyPolicySeq
    // shares instances between its returned rows and `newRows`, and two
    // candidates may carry the SAME explicit rowid — a rid-keyed map
    // would collapse them onto the first)
    val identIdx =
      new java.util.IdentityHashMap[IndexedSeq[Any], java.lang.Integer]()
    newRows.zipWithIndex.foreach { case (r, k) =>
      if (!identIdx.containsKey(r)) identIdx.put(r, Int.box(k))
    }
    def idxOf(r: IndexedSeq[Any]): Option[Int] =
      Option(identIdx.get(r)).map(_.intValue)
    uniqueSpecs(td).foreach { case (idxs, desc, colls) =>
      val seen = mutable.HashMap[Seq[Any], IndexedSeq[Any]]()
      allRows.foreach { case (_, r) =>
        val key = specKey(idxs, colls, r)
        if (!key.contains(null)) {
          seen.get(key) match {
            case Some(firstRow) =>
              val k = idxOf(r).orElse(idxOf(firstRow)).getOrElse(0)
              report(k, 2, s"UNIQUE constraint failed: $desc")
            case None => seen(key) = r
          }
        }
      }
      // DO UPDATE SET can write a unique column to a value that was never
      // among the candidates' own keys, so the interacting slice cannot
      // contain the remainder row it may now collide with — probe the
      // untouched remainder with the touched rows' keys (broadcast
      // semi-join, bounded by the statement, never by the table).
      uniqueRemainder.foreach { keep =>
        val keys = newRows.map(r => specKey(idxs, colls, r))
          .filterNot(_.contains(null)).distinct
        if (keys.nonEmpty) {
          val names = idxs.map(td.cols(_).name)
          val kschema = StructType(idxs.map(i =>
            StructField("__q_" + td.cols(i).name,
              td.cols(i).sparkType)).toArray)
          val kdf = session.createDataFrame(
            keys.map(k => Row.fromSeq(k)).asJava, kschema)
          val cond = names.lazyZip(colls).map((nm, cl) =>
            normCol(col(nm), cl) === col("__q_" + nm)).reduce(_ && _)
          // collect the CLASHING keys (bounded by the statement's own key
          // set) so the failure maps back to the first statement row
          val clash = kdf.join(
              keep.select(names.map(col): _*), cond, "left_semi")
            .collect().map(_.toSeq).toSet
          if (clash.nonEmpty) {
            val k = newRows.indexWhere { r =>
              val key = specKey(idxs, colls, r)
              !key.contains(null) && clash.contains(key)
            }
            report(math.max(k, 0), 2, s"UNIQUE constraint failed: $desc")
          }
        }
      }
    }
    if (fkEnabled) {
      td.cols.zipWithIndex.foreach { case (c, i) =>
        c.ref.foreach { case (refTable, refColOpt) =>
          work.get(refTable.toLowerCase) match {
            case None => report(0, 3, "FOREIGN KEY constraint failed")
            case Some(parent) =>
              val refCol =
                if (refColOpt.nonEmpty) refColOpt
                else parent.d.rowidAlias.map(_.name).getOrElse("")
              val pIdx = parent.d.colIndex(refCol)
              if (pIdx < 0) report(0, 3, "FOREIGN KEY constraint failed")
              else {
                val need = newRows.map(_(i)).filter(_ != null).distinct
                if (need.nonEmpty) {
                  val selfRef = parent.d.name.equalsIgnoreCase(td.name)
                  // driver set for Mem-resident parents / the local slice …
                  val local: Set[Any] = (parent.store, selfRef) match {
                    case (_, true) =>
                      allRows.map(_._2(pIdx)).filter(_ != null).toSet
                    case (Mem(rows), _) =>
                      rows.map(_._2(pIdx)).filter(_ != null).toSet
                    case _ => Set.empty
                  }
                  var missing = need.filterNot(local.contains)
                  if (missing.nonEmpty) {
                    // … anti-join for spilled parents / untouched remainder;
                    // collect the still-missing VALUES (bounded by the
                    // statement) so the failure maps to its first row
                    val pdf: Option[DataFrame] = (parent.store, selfRef) match {
                      case (_, true) => selfRemainder
                      case (b: Big, _) => Some(storeDf(parent.d, b))
                      case _ => None
                    }
                    pdf.foreach { p =>
                      val pc = parent.d.cols(pIdx).name
                      val mdf = session.createDataFrame(
                        missing.map(v => Row(v)).asJava,
                        StructType(Seq(StructField("__graft_v",
                          parent.d.cols(pIdx).sparkType))))
                      missing = mdf.join(
                        p.select(col(pc).as("__graft_p"))
                          .filter(col("__graft_p").isNotNull),
                        col("__graft_v") === col("__graft_p"), "left_anti")
                        .collect().map(_.get(0)).toSeq
                    }
                    if (missing.nonEmpty) {
                      val bad = missing.toSet
                      val k = newRows.indexWhere(r =>
                        r(i) != null && bad.contains(r(i)))
                      report(math.max(k, 0), 3,
                        "FOREIGN KEY constraint failed")
                    }
                  }
                }
              }
          }
        }
      }
    }
    if (bestIdx == Int.MaxValue) {
      // partial/expression unique indexes: exact final-state scan; the
      // violating allRows position maps back to its statement-row index
      // so aborted inserts keep SQLite's partial-advance lid semantics
      advCheckRows(td, allRows, selfRemainder).foreach { case (m, pos) =>
        val k =
          if (pos < allRows.size) idxOf(allRows(pos)._2).getOrElse(0) else 0
        return Left((m, k))
      }
      Right(())
    } else Left((bestMsg, bestIdx))
  }

  // ---------- query execution ---------------------------------------------

  /** [[SqlText.RowidInfo]] lookup over a table lookup (rowid tables
    * only; WITHOUT ROWID has no rowid pseudo-column, probed live). */
  private def rowidInfoOf(table: String => Option[TableState],
      inRowidOrder: TableState => Boolean = _ => true)(name: String)
      : Option[SqlText.RowidInfo] =
    table(name).collect {
      case ts if !ts.d.withoutRowid =>
        SqlText.RowidInfo(ts.d.rowidAlias.map(_.name),
          ts.d.cols.exists(c => Set("rowid", "_rowid_", "oid")
            .contains(c.name.toLowerCase)),
          ts.d.cols.map(_.name), inRowidOrder(ts))
    }

  /** Token-level rowid substitution for UPDATE/DELETE: their executors
    * evaluate conditions over the `__rid_` view, where `__rowid` (or
    * the INTEGER PRIMARY KEY alias) resolves. */
  private def rowidDml(work: Tables, sql: String): String =
    if (!SqlText.mentionsRowid(sql)) sql
    else dmlTableName(sql).flatMap(rowidInfoOf(n => work.get(n.toLowerCase))) match {
      case Some(ri) if !ri.shadowed =>
        SqlText.replaceRowidTokens(sql,
          ri.ipk.map(n => s"`$n`").getOrElse("`__rowid`"))
      case _ => sql
    }

  /** Build the Rows envelope. Empty results carry empty columns/types for
    * parity with the reference's first-row type sniffing
    * (`db/src/db.rs:427-432`). */
  private def envelope(df: DataFrame): RowsResult = {
    val collected = df.collect()
    if (collected.isEmpty) RowsResult(Nil, Nil, Nil)
    else {
      val cols = df.schema.fields.map(_.name).toSeq
      val tags = df.schema.fields.map(f => Affinity.tagOf(f.dataType)).toSeq
      val values = collected.toSeq.map { r =>
        (0 until r.length).map(i => toValue(r.get(i)))
      }
      RowsResult(cols, tags, values)
    }
  }

  private def toValue(a: Any): Value = a match {
    case null => Value.Null
    case v: Long => Value.Integer(v)
    case v: Int => Value.Integer(v.toLong)
    case v: Short => Value.Integer(v.toLong)
    case v: Byte => Value.Integer(v.toLong)
    case v: Boolean => Value.Integer(if (v) 1 else 0)
    case v: Double => Value.Real(v)
    case v: Float => Value.Real(v.toDouble)
    case v: java.math.BigDecimal => Value.Real(v.doubleValue)
    case v: BigDecimal => Value.Real(v.doubleValue)
    case v: String => Value.Text(v)
    case v: Array[Byte] => Value.Blob(v)
    case v => Value.Text(v.toString)
  }

  // ---------- views & types ------------------------------------------------

  private def sparkTypeName(c: ColDef): String = c.sparkType match {
    case LongType => "BIGINT"
    case DoubleType => "DOUBLE"
    case BinaryType => "BINARY"
    case _ => "STRING"
  }

  private def ridView(name: String): String = s"__rid_$name"

  // ---------- spilled (Spark-resident) store helpers ----------------------
  // A Big table's DataFrame always carries `__rowid` ahead of the data
  // columns ([[ridSchema]]). Mutations build a new lazy plan
  // over the previous MATERIALIZED version and commit via [[mkBig]]
  // (localCheckpoint = distributed materialization in the block manager;
  // on a cluster the blocks live on executors, so driver heap never holds
  // the table). Checkpoint-to-parquet and recovery reuse the same schema.

  /** SQLite's rowid assignment base: one more than the LARGEST rowid
    * currently in the table (1 when empty; negative maxima count — SQLite
    * gives -4 after a lone -5). Computed at statement time, NOT from the
    * monotonic nextRowId cache: SQLite re-uses top-of-table rowids freed
    * by DELETE/REPLACE/ROLLBACK, and the OLTP differential fuzzer
    * (check_oltp.py) diffs exactly this against the real engine. A
    * rowid-ordered Mem store holds its largest rowid last. */
  private def rowidBase(ts: TableState): Long = ts.store match {
    case Mem(rows) =>
      if (rows.isEmpty) 1L
      else rows.last._1 + 1
    case Big(df, n) =>
      if (n == 0) 1L
      else df.selectExpr("max(__rowid)").head.getLong(0) + 1
  }

  /** Does an upsert SET expression reference the target row or the
    * incoming (excluded.*) row? String literals are masked first; an
    * identifier followed by '(' is a function name, not a column. */
  private def upsertExprRefsRow(expr: String, td: TableDef): Boolean = {
    val stripped = expr.replaceAll("'([^']|'')*'", " ")
    if (stripped.toLowerCase.contains("excluded")) return true
    "[A-Za-z_][A-Za-z0-9_]*".r.findAllMatchIn(stripped).exists { m =>
      td.colIndex(m.group(0)) >= 0 &&
        !stripped.drop(m.end).dropWhile(_.isWhitespace).startsWith("(")
    }
  }

  /** Inline the values of the existing (unqualified refs) and incoming
    * (excluded.<col>) rows into an upsert SET expression as SQL literals.
    * Single-quoted string literals are copied verbatim; identifiers
    * followed by '(' are function names and stay untouched. */
  private def substituteUpsertRefs(expr: String, td: TableDef,
      existing: IndexedSeq[Any], incoming: IndexedSeq[Any]): String = {
    val out = new StringBuilder
    val n = expr.length
    var i = 0
    def isWordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    while (i < n) {
      val ch = expr.charAt(i)
      if (ch == '\'') {
        var k = i + 1
        var done = false
        while (!done && k < n) {
          if (expr.charAt(k) == '\'') {
            if (k + 1 < n && expr.charAt(k + 1) == '\'') k += 2
            else { k += 1; done = true }
          } else k += 1
        }
        out.append(expr.substring(i, k)); i = k
      } else if (Character.isLetter(ch) || ch == '_') {
        var j = i
        while (j < n && isWordChar(expr.charAt(j))) j += 1
        val word = expr.substring(i, j)
        var k = j
        while (k < n && Character.isWhitespace(expr.charAt(k))) k += 1
        if ((word.equalsIgnoreCase("excluded") ||
             word.equalsIgnoreCase(td.name)) && k < n &&
            expr.charAt(k) == '.') {
          // `excluded.col` pulls the incoming row; `<table>.col` (SQLite
          // allows qualifying with the target table name) the existing
          val src = if (word.equalsIgnoreCase("excluded")) incoming
                    else existing
          k += 1
          while (k < n && Character.isWhitespace(expr.charAt(k))) k += 1
          var q = ' '
          if (k < n && (expr.charAt(k) == '"' || expr.charAt(k) == '`')) {
            q = expr.charAt(k); k += 1
          }
          var m = k
          while (m < n && isWordChar(expr.charAt(m))) m += 1
          val cn = expr.substring(k, m)
          if (q != ' ' && m < n && expr.charAt(m) == q) m += 1
          val ci = td.colIndex(cn)
          out.append(if (ci >= 0) sqlLit(src(ci)) else s"$word.$cn")
          i = m
        } else {
          val ci = td.colIndex(word)
          val isFn = k < n && expr.charAt(k) == '('
          out.append(if (ci >= 0 && !isFn) sqlLit(existing(ci)) else word)
          i = j
        }
      } else { out.append(ch); i += 1 }
    }
    out.toString
  }

  /** Render a driver-held cell as a SQL literal (for per-candidate
    * evaluation of `excluded.*` expressions). */
  private def sqlLit(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: Boolean => if (b) "TRUE" else "FALSE"
    case d: Double => d.toString
    case f: Float => f.toString
    case other => other.toString // integral types
  }

  /** Materialize a new Big version and count its rows. */
  private def mkBig(df: DataFrame): Big = {
    val c = df.localCheckpoint()
    Big(c, c.count())
  }

  // ---------- partition-scoped Big mutations (disk-backed dbs) -----------
  // SURVEY §7.6: at 100 TB a whole-table copy-on-write per UPDATE/DELETE is
  // the wrong cost model — mutations must rewrite only the partitions whose
  // rows match the predicate. Disk-backed databases therefore keep each Big
  // version as parquet files bucketed by __rowid range (`__pid = __rowid
  // DIV graft.bigPartRows`): the FIRST partition-scoped statement on a
  // version writes the full bucketed layout once; every subsequent
  // UPDATE/DELETE computes its touched bucket set from the predicate,
  // writes a new generation for ONLY those buckets, and the new version
  // references the untouched buckets' existing files verbatim — zero data
  // movement for them (BigTableSpec pins byte-identity). Any OTHER mutation
  // shape (insert merge, ON CONFLICT, ALTER) swaps in a version without
  // bucket metadata, and the next UPDATE/DELETE re-buckets — self-healing
  // by construction because metadata is keyed on the immutable version's
  // identity. Old-generation files are refcount-swept at checkpoint time
  // ([[sweepBigGenerations]] — live = working ∪ committed ∪ open-tx ∪
  // savepoints, plus a newest-K reader grace) and stale leftovers from a
  // crashed process at the next open(); never at close(): the lock-free
  // `none`-level readers may hold any committed version's DataFrame past
  // close(), and snapshots — the durable form — are separate full copies
  // under v{N}/. Memory-backed dbs keep the localCheckpoint path.

  /** Rows per rowid bucket (`-Dgraft.bigPartRows=N`; specs use a tiny
    * value). Bucketing by rowid RANGE makes fresh inserts land in the tail
    * bucket only, and point/range predicates on the rowid alias prune to
    * their buckets arithmetically. */
  private val bigPartRows: Long =
    math.max(1L, sys.props.get("graft.bigPartRows").map(_.toLong)
      .getOrElse(1L << 20))
  /** pid → that bucket's parquet paths, keyed by the owning version's
    * DataFrame identity (versions are immutable; a rolled-back or
    * superseded version simply stops being looked up). */
  private val bigParts =
    new java.util.IdentityHashMap[DataFrame, Map[Long, Seq[String]]]()
  /** Generation dirs pinned by live frames that scan bucket files WITHOUT
    * a bucket map of their own: ALTER installs a lazy projection over the
    * bucketed version ([[doAlter]]), which must stay invisible to the
    * mutation paths (no [[bigParts]] entry → the next UPDATE/DELETE
    * re-buckets the transformed schema) yet keeps reading the parent's
    * generation files. Keyed by frame identity like [[bigParts]]; consulted
    * ONLY by [[sweepBigGenerations]]'s referenced-set (ADVICE r11 — the
    * sweep previously deleted those files under the live frame). */
  private val bigDirPins =
    new java.util.IdentityHashMap[DataFrame, Set[String]]()

  /** Generation dirs a Big frame's reads can touch: its own bucket map's
    * parent dirs, or pins inherited from the frame it projects over
    * (chained ALTERs compose through the orElse). */
  private def bigRefDirs(df: DataFrame): Set[String] =
    Option(bigParts.get(df))
      .map(_.values.flatten.map(p =>
        Paths.get(p).getParent.toAbsolutePath.normalize.toString).toSet)
      .orElse(Option(bigDirPins.get(df)))
      .getOrElse(Set.empty)
  private val bigGen = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private def bigPidExpr = s"`__rowid` DIV $bigPartRows"

  private def nextBigGenDir(t: String): Path = {
    val g = bigGen(t) + 1
    bigGen(t) = g
    root.get.resolve("big").resolve(t).resolve(s"g$g")
  }

  private def listPidDirs(out: Path): Map[Long, Seq[String]] =
    if (!Files.exists(out)) Map.empty
    else {
      val s = Files.list(out)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("__pid="))
        .map(p => p.getFileName.toString.stripPrefix("__pid=").toLong ->
          Seq(p.toString))
        .toMap
      finally s.close()
    }

  /** Assemble a Big version from bucket files and record its bucket map.
    * The metadata map is swept when it outgrows the live version set
    * (superseded/rolled-back versions' entries are dead weight — losing
    * one only costs a future full re-bucketing, never correctness). */
  private def bigFromFiles(files: Map[Long, Seq[String]], n: Long,
                           schema: StructType): Big = {
    val paths = files.values.flatten.toSeq
    val df =
      if (paths.isEmpty)
        session.createDataFrame(session.sparkContext.emptyRDD[Row], schema)
      // the schema the bucket files were written with: no inference job
      else session.read.schema(schema).parquet(paths: _*)
    if (bigParts.size > 64) {
      val live = liveBigFrames()
      bigParts.keySet.removeIf(k => !live.containsKey(k))
      bigDirPins.keySet.removeIf(k => !live.containsKey(k))
    }
    bigParts.put(df, files)
    Big(df, n)
  }

  /** Every Big DataFrame any holder can still read through: the working
    * tables, the published committed version (lock-free `none` reads), an
    * open explicit transaction's tables, and savepoint snapshots. The
    * invariant the generation GC relies on: a live frame built by
    * [[bigFromFiles]] ALWAYS has its bucket map in [[bigParts]], and an
    * ALTER-projected frame ALWAYS has its inherited dirs in [[bigDirPins]]
    * (both maps only evict non-live keys), so a live frame missing from
    * BOTH maps is a localCheckpoint frame referencing no bucket files. */
  private def liveBigFrames(): java.util.IdentityHashMap[DataFrame, Boolean] = {
    val live = new java.util.IdentityHashMap[DataFrame, Boolean]()
    def add(st: Store): Unit = st match {
      case Big(d, _) => live.put(d, true)
      case _ =>
    }
    tables.values.foreach(ts => add(ts.store))
    committed.tables.foreach(ts => add(ts.store))
    openTx.foreach(_.work.values.foreach(ts => add(ts.store)))
    savepoints.foreach(_.work.values.foreach(ts => add(ts.store)))
    live
  }

  /** Reader-grace window for [[sweepBigGenerations]]: the newest
    * generation dirs per table that are never swept, referenced or not. */
  private val BigGenGrace = 2

  /** Refcount-sweep superseded Big bucket generations at checkpoint time
    * (ADVICE r10): a generation dir no live version references — working,
    * committed, open-tx, savepoint — is unreachable by any future
    * statement, so a long-running server no longer grows disk without
    * bound between restarts. Safety: (a) referenced dirs come from the
    * bucket maps of every live frame (see [[liveBigFrames]]'s invariant);
    * (b) the newest [[BigGenGrace]] generations per table survive
    * regardless, covering an in-flight lock-free `none` read that grabbed
    * a committed version just before it was superseded — such a read
    * outliving CheckpointEvery commits AND the grace window is the
    * residual (documented) race, and it fails loudly with file-not-found,
    * never wrong data. */
  private def sweepBigGenerations(r: Path): Unit = {
    val bigRoot = r.resolve("big")
    if (!Files.isDirectory(bigRoot)) return
    val live = liveBigFrames()
    // evict pins whose frame died (superseded/rolled-back ALTER versions)
    bigDirPins.keySet.removeIf(k => !live.containsKey(k))
    val referenced = mutable.Set.empty[Path]
    val it = live.keySet.iterator()
    while (it.hasNext) {
      bigRefDirs(it.next()).foreach(d => referenced += Paths.get(d))
    }
    val ts = Files.list(bigRoot)
    val tableDirs =
      try ts.iterator().asScala.filter(Files.isDirectory(_)).toVector
      finally ts.close()
    tableDirs.foreach { tdir =>
      val gs = Files.list(tdir)
      val gens =
        try gs.iterator().asScala
          .filter(p => p.getFileName.toString.matches("g\\d+")).toVector
          .sortBy(_.getFileName.toString.drop(1).toLong)
        finally gs.close()
      gens.dropRight(BigGenGrace).foreach { g =>
        if (!referenced.contains(g.toAbsolutePath.normalize))
          try Durability.deleteRecursively(g) catch { case _: Exception => }
      }
    }
  }

  /** Full bucketed write of `df` — the lazy first materialization of the
    * partition-scoped layout (also the fallback when a statement touches
    * most buckets: one sequential write beats bucket-count small jobs). */
  private def bigPartitionedFull(t: String, df: DataFrame, n: Long): Big = {
    val out = nextBigGenDir(t)
    df.withColumn("__pid", expr(bigPidExpr))
      .write.partitionBy("__pid").mode("overwrite").parquet(out.toString)
    bigFromFiles(listPidDirs(out), n, df.schema)
  }

  /** The touched bucket set of a predicate against the current version. */
  private def bigTouchedPids(tname: String, cond: String): Set[Long] =
    ssql(s"SELECT DISTINCT $bigPidExpr AS p FROM ${ridView(tname)} AS __rv " +
        s"WHERE $cond")
      .collect().map(_.getLong(0)).toSet

  /** Partition-scoped UPDATE: rewrite only the buckets holding matching
    * rows; untouched buckets keep their files. `proj` is the CASE-guarded
    * column projection the full-rewrite path uses. */
  private def bigScopedUpdate(tname: String, big: Big,
                              files: Map[Long, Seq[String]], cond: String,
                              proj: String): Big = {
    val touched = bigTouchedPids(tname, cond)
    if (touched.isEmpty) return big
    if (2 * touched.size >= files.size)
      return bigPartitionedFull(tname, ssql(
        s"SELECT `__rowid`, $proj FROM ${ridView(tname)}"), big.n)
    val out = nextBigGenDir(tname)
    ssql(s"SELECT `__rowid`, $proj FROM ${ridView(tname)} AS __rv " +
        s"WHERE $bigPidExpr IN (${touched.mkString(",")})")
      .withColumn("__pid", expr(bigPidExpr))
      .write.partitionBy("__pid").mode("overwrite").parquet(out.toString)
    bigFromFiles(files -- touched ++ listPidDirs(out), big.n, big.df.schema)
  }

  /** Partition-scoped replace: rewrite exactly `touched` buckets from the
    * already-assembled next-version frame `merged` (the INSERT path, where
    * the changed row set is known by construction rather than by
    * predicate). Falls back to one full bucketed write when most buckets
    * change. */
  private def bigScopedReplace(tname: String, files: Map[Long, Seq[String]],
                               merged: DataFrame, touched: Set[Long],
                               n: Long): Big = {
    if (touched.isEmpty) return bigFromFiles(files, n, merged.schema)
    if (2 * touched.size >= files.size)
      return bigPartitionedFull(tname, merged, n)
    val out = nextBigGenDir(tname)
    merged.where(expr(s"$bigPidExpr IN (${touched.mkString(",")})"))
      .withColumn("__pid", expr(bigPidExpr))
      .write.partitionBy("__pid").mode("overwrite").parquet(out.toString)
    bigFromFiles(files -- touched ++ listPidDirs(out), n, merged.schema)
  }

  /** Partition-scoped DELETE: rewrite the touched buckets to their
    * surviving rows (a fully-emptied bucket just leaves the version). */
  private def bigScopedDelete(tname: String, big: Big,
                              files: Map[Long, Seq[String]], cond: String,
                              affected: Long): Big = {
    val touched = bigTouchedPids(tname, cond)
    if (touched.isEmpty) return big
    if (2 * touched.size >= files.size)
      return bigPartitionedFull(tname, ssql(
        s"SELECT * FROM ${ridView(tname)} AS __rv WHERE NOT COALESCE($cond, false)"),
        big.n - affected)
    val out = nextBigGenDir(tname)
    ssql(s"SELECT * FROM ${ridView(tname)} AS __rv " +
        s"WHERE $bigPidExpr IN (${touched.mkString(",")}) " +
        s"AND NOT COALESCE($cond, false)")
      .withColumn("__pid", expr(bigPidExpr))
      .write.partitionBy("__pid").mode("overwrite").parquet(out.toString)
    bigFromFiles(files -- touched ++ listPidDirs(out), big.n - affected,
      big.df.schema)
  }

  /** The rowid-prefixed DataFrame of a store, for either representation,
    * on the engine session or (re-rooted) on `s`. */
  private def storeDf(d: TableDef, st: Store,
                      s: SparkSession = session): DataFrame = st match {
    case Big(df, _) =>
      // a DataFrame is bound to the engine's session; re-root its (already
      // materialized) RDD on a reader session
      if (s eq session) df else s.createDataFrame(df.rdd, df.schema)
    case Mem(rows) =>
      s.createDataFrame(
        rows.map { case (rid, vals) => Row.fromSeq(rid +: vals) }.asJava,
        ridSchema(d))
  }

  private def ridDf(ts: TableState): DataFrame = storeDf(ts.d, ts.store)

  private def storeFrame(s: SparkSession, ts: TableState) =
    (ts.d, storeDf(ts.d, ts.store, s), ts.store.isInstanceOf[Mem])

  /** Crossing the cap converts a Mem table to the Spark-resident store.
    * One-way by design (hysteresis: a spilled table shrinking below the cap
    * stays spilled — re-collecting on every boundary crossing would thrash). */
  private def maybeSpill(ts: TableState): Unit = ts.store match {
    case Mem(rows) if rows.size > maxDriverRows => ts.store = mkBig(ridDf(ts))
    case _ =>
  }

  /** Thrown when a trigger-armed statement's changed-row set exceeds the
    * driver cap — caught in [[withTriggers]], which restores the backup and
    * fails the statement loudly (VERDICT r10 #4). */
  private final class TriggerDiffTooLarge extends RuntimeException

  /** Collect at most [[maxDriverRows]] diff rows; beyond that, row-trigger
    * firing would materialize an unbounded statement-sized set on the
    * driver — fail instead (SQLite fires row triggers one row at a time in
    * its own process; our equivalent boundary is the driver-heap cap). */
  /** Collect at most `cap` rows; one over throws. Callers thread a running
    * budget through consecutive legs (added/changed/removed) so the
    * COMBINED driver-side row count stays ≤ [[maxDriverRows]] — capping
    * each leg independently would admit up to 3× the stated bound
    * (ADVICE r11). */
  private def collectCapped(df: DataFrame, cap: Long): Seq[Row] = {
    val c = math.min(math.max(cap, 0L), Int.MaxValue - 2L).toInt
    val rows = df.limit(c + 1).collect()
    if (rows.length > c) throw new TriggerDiffTooLarge
    rows.toSeq
  }

  /** Trigger-row diff when either side of a DML statement is spilled: the
    * rowid-keyed before/after comparison runs as joins and collects ONLY
    * the rows that actually changed (trigger firing is inherently per-row
    * driver work — the firing set is statement-sized, never table-sized,
    * and capped at [[maxDriverRows]] — an oversized trigger-armed bulk
    * UPDATE fails loudly instead of flooding the driver).
    * Returns the same (event, NEW, OLD) tuples as the Mem diff, in rowid
    * order (a driver-sized INSERT fires from its candidate tape instead,
    * [[insertFirings]]). */
  private def bigTriggerDiff(td: TableDef, before: Store, after: Store,
                             kind: String, isReplace: Boolean)
      : Seq[(String, Option[IndexedSeq[Any]], Option[IndexedSeq[Any]])] = {
    val bdf = storeDf(td, before)
    val adf = storeDf(td, after)
    val n = td.cols.size
    val dataCols = td.cols.map(_.name)
    def vals(r: Row, off: Int): IndexedSeq[Any] =
      (off until off + n).map(r.get).toIndexedSeq
    // left_anti keeps exactly the left side's columns: __rowid, data…
    var budget = maxDriverRows
    val added = collectCapped(adf.join(bdf.select(col("__rowid").as("__brid0")),
        col("__rowid") === col("__brid0"), "left_anti"), budget)
      .map(r => (r.getLong(0), ("INSERT",
        Some(vals(r, 1)): Option[IndexedSeq[Any]], None: Option[IndexedSeq[Any]])))
    val bKeyed = bdf.select(col("__rowid").as("__brid") +:
      dataCols.map(c2 => col(c2).as("__o_" + c2)): _*)
    val differs = dataCols.map(c2 => !(col(c2) <=> col("__o_" + c2)))
      .reduce(_ || _)
    budget -= added.size
    val changed = collectCapped(adf.join(bKeyed, col("__rowid") === col("__brid"))
      .filter(differs), budget).map { r =>
      val nw = vals(r, 1)
      // REPLACE re-inserts under the same rowid: an INSERT firing
      (r.getLong(0), if (isReplace)
        ("INSERT", Some(nw): Option[IndexedSeq[Any]], None: Option[IndexedSeq[Any]])
      else ("UPDATE", Some(nw): Option[IndexedSeq[Any]],
        Some(vals(r, n + 2)): Option[IndexedSeq[Any]]))
    }
    budget -= changed.size
    val removed =
      if (kind == "DELETE")
        collectCapped(bdf.join(adf.select(col("__rowid").as("__arid0")),
            col("__rowid") === col("__arid0"), "left_anti"), budget)
          .map(r => (r.getLong(0), ("DELETE",
            None: Option[IndexedSeq[Any]],
            Some(vals(r, 1)): Option[IndexedSeq[Any]])))
      else Seq.empty
    (added ++ changed).sortBy(_._1).map(_._2) ++
      removed.sortBy(_._1).map(_._2)
  }

  /** Prefix a DataFrame with contiguous __rowid starting at `ridBase` —
    * RDD zipWithIndex: preserves row order, runs distributed, never
    * collects. Used by the CTAS spill path. */
  private def withRowid(df: DataFrame, ridBase: Long): DataFrame = {
    val schema = StructType(
      StructField("__rowid", LongType, nullable = false) +: df.schema.fields)
    val rdd = df.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq((ridBase + i) +: r.toSeq)
    }
    session.createDataFrame(rdd, schema)
  }

  private var registeredViews: Set[String] = Set.empty

  /** Expose collated TEXT columns under Spark's matching collation TYPE so
    * every query-side comparison, ORDER BY, GROUP BY, DISTINCT, IN and
    * min/max on them is collation-aware exactly like SQLite's column
    * collation: NOCASE → UTF8_LCASE, RTRIM → UTF8_BINARY_RTRIM. (Spark's
    * LCASE folds full Unicode where SQLite folds ASCII only — a
    * documented divergence on non-ASCII case pairs.) Values are
    * unchanged; only the comparison semantics travel with the type. */
  private def withQueryCollations(td: TableDef, df: DataFrame): DataFrame = {
    if (!td.cols.exists(c => c.collate != "BINARY" &&
        c.sparkType == StringType)) return df
    val sel = df.columns.map { n =>
      td.cols.find(c => c.name.equalsIgnoreCase(n) &&
          c.sparkType == StringType).map(_.collate) match {
        case Some("NOCASE") =>
          org.apache.spark.sql.functions.collate(col(n), "UTF8_LCASE").as(n)
        case Some("RTRIM") =>
          org.apache.spark.sql.functions
            .collate(col(n), "UTF8_BINARY_RTRIM").as(n)
        case _ => col(n)
      }
    }
    df.select(sel.toSeq: _*)
  }

  /** PRIMARY KEY column order for a WITHOUT ROWID table's scan. */
  private def wrOrder(td: TableDef): Seq[String] =
    if (td.pkSet.nonEmpty) td.pkSet else td.cols.filter(_.pk).map(_.name)

  /** A table's rowid-prefixed frame in SQLite's scan order, `__rowid`
    * dropped: a WITHOUT ROWID table scans in PRIMARY KEY order (clustered
    * B-tree, probed live — under the key's collation when the frame
    * carries it, [[withQueryCollations]]), a rowid table in rowid order.
    * `inRowidOrder` marks a frame that already lists its rows so (a Mem
    * store's): a sort over it would cost a Spark job on every read (a
    * point read on a 5k-row table took 102 ms with it, 37 ms without).
    * Catalyst's EliminateSorts strips the sort wherever downstream
    * operators don't observe ordering, so aggregates/joins pay nothing. */
  private def scanOrdered(td: TableDef, df: DataFrame,
                          inRowidOrder: Boolean): DataFrame =
    (if (td.withoutRowid) df.orderBy(wrOrder(td).map(col): _*)
     else if (inRowidOrder) df
     else df.orderBy(col("__rowid"))).drop("__rowid")

  /** The engine session's views for a statement over `work`. */
  private def registerViews(work: Tables): Unit = {
    // stale statement-scoped CTE views go first (a dead CTE name must not
    // resolve; a live one re-registers at the end, shadowing tables)
    val liveCtes = pendingCtes.map(_._1.toLowerCase).toSet
    (cteRegistered -- liveCtes).foreach(session.catalog.dropTempView)
    cteRegistered = liveCtes
    // drop views for tables that no longer exist (DROP TABLE / RENAME) —
    // otherwise the stale temp view keeps serving the old name
    val current = work.values.map(_.d.name.toLowerCase).toSet ++
      viewDefs.keySet
    (registeredViews -- current).foreach { n =>
      session.catalog.dropTempView(n)
      session.catalog.dropTempView(ridView(n))
    }
    registeredViews = current
    registerCatalog(session, liveCatalog(work),
      work.values.map(storeFrame(session, _)))
    // statement-scoped CTEs LAST so they shadow same-named tables/views
    // (SQLite's resolution order). Each CTE view re-derives the full
    // prefix list, so recursion and chained references need no ordering
    // between temp views; a bad body propagates (SQLite prepare fails).
    // The shadowing heals itself: every statement re-runs this method.
    if (pendingCtes.nonEmpty) {
      val kw = if (pendingCtesRec) "WITH RECURSIVE " else "WITH "
      pendingCtes.indices.foreach { k =>
        val defs = pendingCtes.take(k + 1).map(_._2).mkString(", ")
        ssql(SqlText.fixQuotedIdents(
          s"$kw$defs SELECT * FROM `${pendingCtes(k)._1}`"))
          .createOrReplaceTempView(pendingCtes(k)._1)
      }
    }
  }

  /** Register a read's catalog on `s`. `frames` pairs each table with its
    * `__rowid`-prefixed frame on `s` and whether that frame already lists
    * its rows in rowid order (a Mem store does; a spilled store or a
    * snapshot file does not). Each table gets its `__rid_` view and its
    * named view, in SQLite's scan order ([[scanOrdered]]); then the SQL
    * views, then `sqlite_master`. */
  private def registerCatalog(s: SparkSession, cat: Catalog,
      frames: Iterable[(TableDef, DataFrame, Boolean)]): Unit = {
    frames.foreach { case (td, frame, inRowidOrder) =>
      val df = withQueryCollations(td, frame)
      df.createOrReplaceTempView(ridView(td.name))
      scanOrdered(td, df, inRowidOrder).createOrReplaceTempView(td.name)
    }
    // SQL views expand over the tables just registered, in creation order
    // (view-on-view works). A broken view (underlying table dropped) stays
    // unregistered and errors lazily at use — SQLite's behavior.
    cat.views.foreach { case (name, select, _) =>
      try SqliteRewrite.run(s, SqlText.fixQuotedIdents(select), csLike)
        .createOrReplaceTempView(name)
      catch { case _: Exception => s.catalog.dropTempView(name) }
    }
    registerMaster(s, cat)
  }

  private var masterFp: Int = 0
  private var masterRegistered = false

  /** The `sqlite_master` schema catalog (SQLite surface: every client's
    * introspection query) as a temp view derived from the live catalogs —
    * tables (original createSql), the automatic indexes SQLite
    * materializes per non-rowid-alias unique constraint
    * (`sqlite_autoindex_<t>_<n>`, sql NULL), named indexes, views and
    * triggers (original statement text; rootpage 0 like SQLite). Root
    * pages for tables/indexes are deterministic ordinals — SQLite's
    * values are page-allocation accidents no re-implementation can
    * reproduce, so differential probes compare type/name/tbl_name/sql.
    * On the engine session it is rebuilt only when a catalog fingerprint
    * moves (DDL, tx rollback), not per statement. */
  private def registerMaster(s: SparkSession, cat: Catalog): Unit = {
    if (s eq session) {
      val fp = (cat.schemaVersion,
        cat.tables.map(_.d.name.toLowerCase).toVector,
        cat.indexes.map(_.name.toLowerCase).toVector,
        cat.views.map(_._1.toLowerCase).toVector,
        cat.triggers.map(_.name.toLowerCase).toVector).##
      if (masterRegistered && fp == masterFp) return
      masterFp = fp
      masterRegistered = true
    }
    val rows = Vector.newBuilder[Row]
    var page = 2L
    // TEMP tables live in SQLite's separate temp schema (sqlite_temp_master),
    // not in sqlite_master (probed live; ADVICE r14)
    cat.tables.filterNot(_.temp).foreach { ts =>
      val td = ts.d
      rows += Row("table", td.name, td.name, page, ts.createSql)
      page += 1
      // WITHOUT ROWID: the PRIMARY KEY is the table's clustered key — it
      // consumes its autoindex ORDINAL but emits no catalog entry
      // (probed live: `w5(k PK, u UNIQUE) WITHOUT ROWID` lists only
      // sqlite_autoindex_w5_2)
      var autoN = 0
      def emitAuto(isPk: Boolean): Unit = {
        autoN += 1
        if (!(td.withoutRowid && isPk)) {
          rows += Row("index", s"sqlite_autoindex_${td.name}_$autoN",
            td.name, page, null)
          page += 1
        }
      }
      // same source-order numbering as indexRoster (ADVICE r13)
      td.autoIndexSpecs.foreach { case (isPk, _) => emitAuto(isPk) }
    }
    cat.indexes.foreach { ix =>
      rows += Row("index", ix.name, ix.table, page, ix.sql)
      page += 1
    }
    cat.views.foreach { case (name, _, sql) =>
      rows += Row("view", name, name, 0L, sql)
    }
    cat.triggers.foreach { t =>
      rows += Row("trigger", t.name, t.table, 0L, t.sql)
    }
    val schema = StructType(Seq(
      StructField("type", StringType, nullable = true),
      StructField("name", StringType, nullable = true),
      StructField("tbl_name", StringType, nullable = true),
      StructField("rootpage", LongType, nullable = true),
      StructField("sql", StringType, nullable = true)))
    val masterDf = s.createDataFrame(rows.result().asJava, schema)
    masterDf.createOrReplaceTempView("sqlite_master")
    // SQLite 3.33+ alias (the modern name in docs and client code)
    masterDf.createOrReplaceTempView("sqlite_schema")
    // the TEMP schema's own catalog: connection-scoped tables only. The
    // stored createSql already has the TEMP keyword stripped — exactly
    // SQLite's rendering (probed: `CREATE TEMP TABLE s (x INTEGER)`
    // lists as `CREATE TABLE s (x INTEGER)`); rootpage ordinals restart
    // per schema like SQLite's separate temp database file.
    val tempRows = Vector.newBuilder[Row]
    var tpage = 2L
    cat.tables.filter(_.temp).foreach { ts =>
      tempRows += Row("table", ts.d.name, ts.d.name, tpage, ts.createSql)
      tpage += 1
    }
    val tempDf = s.createDataFrame(tempRows.result().asJava, schema)
    tempDf.createOrReplaceTempView("sqlite_temp_master")
    tempDf.createOrReplaceTempView("sqlite_temp_schema")
  }

  private def snapshot(): Tables = {
    val m = mutable.LinkedHashMap.empty[String, TableState]
    tables.foreach { case (k, v) => m(k) = v.copyState }
    m
  }

  // ---------- durability ([[Durability]]; an in-memory database has none) --

  private val durability = root.map(new Durability(_, session))

  private def journalAppend(tx: Boolean, stmts: Seq[String],
                            returning: Boolean = false): Unit =
    durability.foreach(_.append(tx, stmts, pendingStreamBatch, returning))

  private def persist(): Unit = {
    publishCommitted()
    // the journal append already made this batch durable; snapshot on cadence
    if (durability.exists(_.checkpointDue)) checkpointLocked()
  }

  /** Force a checkpoint ([[Durability.checkpoint]]); a no-op in memory. */
  def checkpoint(): Either[String, Unit] = lock.synchronized {
    if (closed) Left("db connection is already closed")
    else { checkpointLocked(); Right(()) }
  }

  // superseded Big bucket generations are swept on the same cadence
  private def checkpointLocked(): Unit = durability.foreach { d =>
    d.checkpoint(liveCatalog(tables), lastStreamBatch, lastRowId, fkEnabled)(
      sweepBigGenerations(d.root))
  }

  /** See [[Durability.status]]; zeros for an in-memory database. */
  def snapshotStatus: GraftDb.SnapshotStatus =
    durability.fold(GraftDb.SnapshotStatus(0L, 0L, 0L, 0.0))(_.status)

  /** Versions readable by [[tableAsOf]] and [[queryAsOf]], ascending
    * ([[Durability.versions]]); empty for in-memory databases. */
  def versions(): Seq[Long] = durability.toSeq.flatMap(_.versions())

  /** The durability unit and the catalog of a readable version. */
  private def versionCatalog(version: Long): Either[String, (Durability, Catalog)] =
    durability.toRight("time travel requires a disk-backed database")
      .flatMap(d => d.catalogAt(version).map((d, _)))

  /** Time-travel read: the committed contents of `table` at snapshot
    * `version`, in SQLite's scan order, internal columns stripped — a
    * plain parquet scan of an immutable version ([[Durability.versions]]),
    * no replay, no lock. */
  def tableAsOf(table: String, version: Long): Either[String, DataFrame] =
    versionCatalog(version).flatMap { case (d, cat) =>
      cat.table(table)
        .flatMap(ts => d.frame(session, version, ts.d.name)
          .map(scanOrdered(ts.d, _, inRowidOrder = false)))
        .toRight(s"no snapshot of '$table' at version $version " +
          s"(retained: ${d.versions().mkString(",")})")
    }

  /** Time-travel read batch — the SQL surface over [[tableAsOf]], wired to
    * the envelope as `/db/query?version=N`. The same pipeline as [[query]]
    * (SQLite semantics, rowid, collations, pragmas, `sqlite_master`) on a
    * reader session whose tables are the version's files, under the
    * catalog it was written with ([[Durability.catalogAt]]), so a table
    * altered or dropped after N still reads as it was at N. Lock-free;
    * read statements only. */
  def queryAsOf(req: Request, version: Long): Either[String, Seq[RowsResult]] = {
    if (closed) return Left("db connection is already closed")
    versionCatalog(version).flatMap { case (d, cat0) =>
      val s = connSession()
      val frames = cat0.tables.toVector.flatMap(ts =>
        d.frame(s, version, ts.d.name).map((ts, _)))
      val cat = cat0.copy(tables = frames.map(_._1))
      registerCatalog(s, cat,
        frames.map { case (ts, df) => (ts.d, df, false) })
      runBatch(req, s, cat, (), _ => false)(_ =>
        Left("version reads support read statements only"))
    }
  }

  /** Open-time recovery: install the published snapshot, then replay the
    * journal entries after it ([[Durability.recover]]). */
  private def load(): Unit = durability.foreach { d =>
    // stale Big bucket files from a previous process (crash before close)
    // are dead — recovery rebuilds stores from the snapshot + journal
    try Durability.deleteRecursively(d.root.resolve("big"))
    catch { case _: Exception => }
    val (manifest, entries) = d.recover()
    manifest.foreach { m =>
      lastStreamBatch = m.lastStreamBatch; lastRowId = m.lastRowId; fkEnabled = m.fk
      d.restore(m, maxDriverRows).foreach { case (ts, overCap) =>
        // an over-cap table stays Spark-resident; localCheckpoint detaches
        // it from the version dir, which the rolling GC later deletes
        overCap.foreach(df => ts.store = mkBig(df))
        tables(ts.d.name.toLowerCase) = ts
      }
      val cat = m.catalog
      cat.indexes.foreach(ci => indexes(ci.name.toLowerCase) = ci)
      cat.views.foreach(v => viewDefs(v._1.toLowerCase) = v)
      cat.triggers.foreach(t => triggers(t.name.toLowerCase) = t)
      userVersion = cat.userVersion
      schemaVersion = cat.schemaVersion
    }
    // a replayed stream stamp restores exactly-once dedup across the crash,
    // but only if its batch APPLIED: a failed batch's stamp must not
    // swallow the source's re-delivery of its rows
    d.replay(entries) { e =>
      if (executeReplay(e))
        e.streamBatch.foreach(b => lastStreamBatch = math.max(lastStreamBatch, b))
    }
    // crash semantics: a journal that ends inside an explicit BEGIN means
    // the connection died without COMMIT — the transaction rolls back
    // (SQLite: the tx belongs to the dead connection)
    openTx.foreach { ctx =>
      indexes = ctx.idx; viewDefs = ctx.views; triggers = ctx.trigs
    }
    openTx = None
    savepoints.clear()
    // TEMP tables replayed from the journal (CREATE TEMP TABLE + its DML
    // are journaled like any statement) belonged to the DEAD connection —
    // drop them now that replay is done (ADVICE r14: they must never
    // survive a restart as permanent tables)
    tables.filterInPlace((_, ts) => !ts.temp)
    // a reopened database is a NEW connection: its changes()/
    // total_changes() registers start at zero (replay increments are
    // recovery bookkeeping, not this connection's statements)
    lastChanges = 0L
    totalChanges = 0L
    publishCommitted()
  }

  /** Re-run one journaled batch during recovery. Returns true iff the
    * batch applied (no failed statement rolled a tx back) — the streaming
    * watermark must only advance on applied stamps. A `returning` entry
    * arms the RETURNING capture as the live query path did. */
  private def executeReplay(e: JournalEntry): Boolean = {
    val tx = e.transaction
    if (tx && openTx.isDefined) { persist(); return false } // mirrors execute()
    val work: Tables = if (tx) snapshot() else tables
    var failed = false
    replayActive = true
    try e.statements.foreach { sql =>
      if (!failed && sql.trim.nonEmpty) {
        // A committed statement that THROWS here (stmtError escape) is a
        // transient suspect — retry once. An IDENTICAL second failure is
        // the deterministic live outcome (the live run produced the same
        // Left); a different one is machine trouble and fails open()
        // loudly via RecoveryFailed so the journal survives for a retry.
        //
        // dispatch is not exception-atomic (statement undo fires on
        // Left, not on throw), so the retry must NOT re-run on state the
        // first attempt may have partially mutated — snapshot the
        // working tables + schema registries first and restore them
        // before retrying (ADVICE r13: a succeeding retry could
        // otherwise silently double-apply rows into recovered state).
        // Store values are immutable, so copyState is a reference copy.
        val preWork = work.map { case (k, v) => k -> v.copyState }
        val preIdx = indexes.toSeq
        val preViews = viewDefs.toSeq
        val preTrigs = triggers.toSeq
        val preScalars = (lastRowId, fkEnabled, csLike, userVersion)
        def restore(): Unit = {
          work.clear()
          preWork.foreach { case (k, v) => work(k) = v.copyState }
          indexes = mutable.LinkedHashMap(preIdx: _*)
          viewDefs = mutable.LinkedHashMap(preViews: _*)
          triggers = mutable.LinkedHashMap(preTrigs: _*)
          lastRowId = preScalars._1; fkEnabled = preScalars._2
          csLike = preScalars._3; userVersion = preScalars._4
        }
        def run(): Either[String, Long] = {
          retArmed = e.returning
          try dispatch(work, tx, sql)
          finally { retArmed = false; retCaptured = None }
        }
        val r: Either[String, Long] =
          try run()
          catch { case e1: Exception =>
            restore()
            try run()
            catch { case e2: Exception =>
              if (Option(e1.getMessage) == Option(e2.getMessage))
                Left(friendlyError(e2))
              else throw e2
            }
          }
        r match {
          case Left(_) => if (tx) failed = true
          case Right(_) =>
        }
      }
    } finally replayActive = false
    if (tx && !failed) tables = work
    persist()
    !failed
  }
}

object GraftDb {
  /** See [[GraftDb.snapshotStatus]]. */
  final case class SnapshotStatus(version: Long, journalSinceCheckpoint: Long,
                                  checkpoints: Long, lastCheckpointMs: Double)

  /** Above this many rows a managed table spills from the driver-side
    * vector to the Spark-resident copy-on-write store (SURVEY §7.4) —
    * the boundary between exact-OLTP Mem semantics and distributed
    * mutation. Overridable per-JVM via `-Dgraft.maxDriverRows=N` and
    * per-open via the explicit overloads (specs use a tiny cap to
    * exercise the spilled paths at test scale). */
  val DefaultMaxDriverRows: Long =
    sys.props.get("graft.maxDriverRows").map(_.toLong).getOrElse(100000L)

  /** Open/create a file-backed database rooted at `path` (a directory).
    * Mirrors `DB::open` including its error string when the location is
    * unusable (`db/src/db.rs:345-347`). */
  def open(spark: SparkSession, path: String): Either[String, GraftDb] =
    open(spark, path, DefaultMaxDriverRows)

  def open(spark: SparkSession, path: String,
           maxDriverRows: Long): Either[String, GraftDb] = {
    val p = Paths.get(path).toAbsolutePath
    try {
      if (p.getParent != null && !Files.exists(p.getParent))
        return Left(s"unable to open database file: $path")
      Files.createDirectories(p)
      // the durability unit takes the root lock BEFORE load()
      val db = new GraftDb(spark, Some(p), maxDriverRows)
      try { db.load(); Right(db) }
      catch { case e: Exception => db.close(); throw e }
    } catch {
      case e: Durability.RecoveryFailed => Left(e.getMessage)
      case _: Durability.Locked => Left(s"database is locked: $path")
      case _: Exception => Left(s"unable to open database file: $path")
    }
  }

  /** In-memory database (the reference's default mode, DOC/DESIGN.md:52). */
  def openInMemory(spark: SparkSession): GraftDb =
    openInMemory(spark, DefaultMaxDriverRows)

  def openInMemory(spark: SparkSession, maxDriverRows: Long): GraftDb =
    new GraftDb(spark, None, maxDriverRows)
}
