package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, expr, lit, lower,
  row_number, rtrim}
import org.apache.spark.sql.types._
import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** SQLite's constraint layer: do these rows break NOT NULL, CHECK,
  * UNIQUE/PRIMARY KEY or FOREIGN KEY, and which error and row does SQLite
  * report? SQLite answers through one index comparator: text compares
  * under the column's collation, a BLOB by its bytes. Here every
  * driver-side comparison goes through [[Constraints.key]], every frame
  * comparison through a [[Constraints.Spec]]'s normalized key columns,
  * and every probe of a frame for driver-held keys through [[probe]]
  * (a spec's keys) or [[present]] (one column's values).
  *
  * Errors keep SQLite's per-row priority: across rows the earliest
  * failing row wins, within one row NOT NULL > CHECK > UNIQUE > FOREIGN
  * KEY (probed live against sqlite 3.40). What to do about a conflict
  * (OR IGNORE/REPLACE/FAIL, upsert, UPDATE OR x) is the caller's.
  *
  * @param indexes the connection's index catalog (UNIQUE indexes add specs)
  * @param fk whether FOREIGN KEY constraints are enforced
  * @param table the tables a statement sees, by name: FK parents
  * @param errorText the engine's text for an exception a check raised */
private[engine] final class Constraints(session: SparkSession,
    indexes: Iterable[Ddl.CreateIndex], fk: Boolean,
    table: String => Option[TableState], errorText: Exception => String) {
  import Constraints._

  /** Uniqueness constraints of a table, in SQLite's within-row REPORTING
    * order when one row violates several (probed live; OLTP fuzz V7): the
    * rowid itself first, then the table's index list — which SQLite
    * PREPENDS to as each index is created, so named indexes newest-first,
    * then table-level clauses and column constraints in reverse
    * declaration order. Only the error text depends on this order;
    * conflict/victim SETS are order-independent. */
  def uniqueSpecs(td: TableDef): Seq[Spec] = {
    // a composite table-level PRIMARY KEY is a tuple-level unique spec in
    // clause order (the clause order also governs SQLite's error text)
    val pkSpec = if (td.pkSet.isEmpty) Nil else Spec.of(td, td.pkSet).toSeq
    val colSpecs = td.cols.collect {
      case c if c.pk || c.unique => Spec.of(td, Seq(c.name)).get
    }
    val setSpecs = td.uniqueSets.flatMap(Spec.of(td, _))
    val idxSpecs = indexes.toSeq
      .filter(ix => ix.unique && !ix.advanced &&
        ix.table.equalsIgnoreCase(td.name))
      .flatMap(Spec.ofIndex(td, _))
    val (aliasSpec, otherCols) = colSpecs.partition(sp =>
      sp.idxs.sizeIs == 1 && td.cols(sp.idxs.head).isRowidAlias)
    aliasSpec ++ idxSpecs.reverse ++ setSpecs.reverse ++ pkSpec ++
      otherCols.reverse
  }

  // ---------- partial & expression unique indexes -------------------------
  // `CREATE UNIQUE INDEX … ON t(expr[, …]) [WHERE pred]` (VERDICT r12 #2).
  // Their keys are computed and their row set predicate-filtered, so they
  // enforce as a FINAL-STATE duplicate scan: exact for the plain ABORT
  // paths (insert, update, bulk), zero cost for tables without one.
  // Conflict POLICIES would need the computed keys inside the sequential
  // resolution loops — a loud documented boundary ([[policyBoundary]])
  // instead of a silent divergence. Non-unique advanced indexes are
  // catalog-only (a full-scan engine has nothing to maintain).

  def advancedSpecs(td: TableDef): Seq[XSpec] =
    indexes.toSeq
      .filter(ix => ix.unique && ix.advanced &&
        ix.table.equalsIgnoreCase(td.name))
      .map(XSpec.of(td, _))

  /** Policy statements cannot resolve against an advanced index — fail
    * loudly instead of silently diverging from SQLite. */
  def policyBoundary(td: TableDef): Option[String] =
    advancedSpecs(td).headOption.map(sp =>
      s"conflict resolution over a partial or expression index is not " +
        s"supported: ${sp.name} (drop the index or use plain INSERT/UPDATE)")

  /** The first partial or expression UNIQUE index of `td` that two rows
    * of `df` — a final-state frame over the table's data columns (extra
    * bookkeeping columns are fine) — break. */
  def advanced(td: TableDef, df: DataFrame): Option[String] =
    advancedScan(advancedSpecs(td), df)

  private def advancedScan(specs: Seq[XSpec], df: DataFrame): Option[String] =
    specs.iterator.map { sp =>
      try Option.when(hasDuplicate(sp.rows(df), sp.cols))(sp.err)
      catch { case e: Exception => Some(errorText(e)) }
    }.collectFirst { case Some(e) => e }

  /** [[advanced]] for the driver-row insert paths: `allRows` is the
    * tentative final Mem/slice state, `remainder` the untouched spilled
    * rows when the slice path is in play. Returns (error, position in
    * `allRows` of the first VIOLATING row) — the LATER of each duplicate
    * pair, so callers can reproduce SQLite's partial-advance
    * last_insert_rowid on aborted multi-row inserts (fuzz seeds
    * 310082/310083). Remainder rows order before every allRows row. */
  private def advancedRows(td: TableDef,
      allRows: Vector[(Long, IndexedSeq[Any])],
      remainder: Option[DataFrame]): Option[(String, Int)] = {
    val specs = advancedSpecs(td)
    if (specs.isEmpty) return None
    val rowsDf = session.createDataFrame(
      allRows.zipWithIndex.map { case ((_, v), i) =>
        Row.fromSeq(i.toLong +: v) }.asJava, posSchema(td, "__pos"))
    val full = remainder match {
      case Some(keep) =>
        keep.select(lit(-1L).as("__pos") +:
          td.cols.map(c => col(c.name)): _*).unionAll(rowsDf)
      case None => rowsDf
    }
    specs.iterator.map { sp =>
      try {
        val keys = sp.cols.indices.map(i => col(s"__xk$i"))
        val bad = sp.rows(full)
          .select(col("__pos") +: keyedAs(sp.cols): _*)
          .filter(keys.map(_.isNotNull).reduce(_ && _))
          .withColumn("__rn", row_number().over(
            Window.partitionBy(keys: _*).orderBy(col("__pos"))))
          .filter(col("__rn") > 1)
          .agg(expr("min(__pos)")).head()
        Option.when(!bad.isNullAt(0))(
          (sp.err, math.max(bad.getLong(0), 0L).toInt))
      } catch { case e: Exception => Some((errorText(e), 0)) }
    }.collectFirst { case Some(f) => f }
  }

  /** The pre-scan of CREATE UNIQUE INDEX over the rows a table holds: the
    * index's own error when two rows already share a key. */
  def newIndex(ts: TableState, ix: Ddl.CreateIndex): Option[String] =
    if (!ix.unique) None
    else if (ix.advanced) advancedScan(Seq(XSpec.of(ts.d, ix)), frame(ts))
    else Spec.ofIndex(ts.d, ix).filter { sp =>
      ts.store match {
        case Mem(rows) =>
          var found = false
          duplicates(rows.view.map(_._2), sp)((_, _) => found = true)
          found
        case Big(df, _) => hasDuplicate(df, sp.cols)
      }
    }.map(_.err)

  /** The rows of `df` — `__rowid` then the table's data columns — that
    * share a key under one of `specs` with one of `rows`: a broadcast
    * semi-join per spec on the normalized key columns, bounded by
    * `rows` × `specs` (a spec's keys are unique in the table), never by
    * the table. None when no row has a whole key. A row can appear once
    * per spec it matches. */
  def probe(df: DataFrame, td: TableDef, specs: Seq[Spec],
            rows: Iterable[IndexedSeq[Any]]): Option[DataFrame] =
    specs.flatMap { sp =>
      val keys = rows.iterator.filter(sp.key(_).isDefined).distinctBy(sp.key)
        .map(r => Row.fromSeq(sp.idxs.lazyZip(sp.colls).map((i, c) =>
          collNorm(r(i), c)))).toSeq
      Option.when(keys.nonEmpty) {
        val kschema = StructType(sp.idxs.zipWithIndex.map { case (i, j) =>
          StructField(s"__k$j", td.cols(i).sparkType) })
        val kdf = session.createDataFrame(keys.asJava, kschema)
        df.join(broadcast(kdf), sp.cols.zipWithIndex.map { case (c, j) =>
          c === col(s"__k$j") }.reduce(_ && _), "left_semi")
      }
    }.reduceOption(_ unionAll _)

  /** [[probe]] collected as (rowid, values), once per row, in rowid
    * order. */
  def interacting(df: DataFrame, td: TableDef, specs: Seq[Spec],
                  rows: Iterable[IndexedSeq[Any]])
      : Vector[(Long, IndexedSeq[Any])] =
    probe(df, td, specs, rows).fold(Vector.empty[(Long, IndexedSeq[Any])])(
      _.collect().iterator.map(r =>
        (r.getLong(0), (1 to td.cols.size).map(r.get).toIndexedSeq))
        .distinctBy(_._1).toVector.sortBy(_._1))

  /** The keys of the values of column `c` of `df` that are among `vals`
    * (of type `t`): a broadcast semi-join bounded by `vals`. */
  def present(df: DataFrame, c: String, t: DataType,
              vals: Seq[Any]): Set[Any] =
    if (vals.isEmpty) Set.empty
    else {
      val vdf = session.createDataFrame(vals.map(Row(_)).asJava,
        StructType(Seq(StructField("__kv", t))))
      df.select(col(c).as("__pv"))
        .join(broadcast(vdf), col("__pv") === col("__kv"), "left_semi")
        .distinct().collect().iterator.map(r => key(r.get(0))).toSet
    }

  /** Each enforced FOREIGN KEY column of `td` with its parent table and
    * parent column; None when either does not exist, which fails every
    * statement writing the table. Empty while FKs are off. */
  def fkRefs(td: TableDef): Seq[(Int, Option[(TableState, Int)])] =
    if (!fk) Nil
    else td.cols.zipWithIndex.flatMap { case (c, i) =>
      c.ref.map { case (refTable, refColOpt) =>
        i -> table(refTable).flatMap { parent =>
          val refCol =
            if (refColOpt.nonEmpty) refColOpt
            else parent.d.rowidAlias.map(_.name).getOrElse("")
          val pIdx = parent.d.colIndex(refCol)
          Option.when(pIdx >= 0)((parent, pIdx))
        }
      }
    }

  /** Indexes into `rows` that fail each CHECK of `td`, in declaration
    * order, evaluated through Catalyst; a NULL result passes (SQLite:
    * unknown is not a failure) and an unresolvable expression fails no
    * row. */
  def checkFailures(td: TableDef, rows: Seq[IndexedSeq[Any]])
      : Seq[(String, Array[Int])] =
    if (td.checks.isEmpty || rows.isEmpty) Nil
    else {
      val df = session.createDataFrame(
        rows.zipWithIndex.map { case (r, k) => Row.fromSeq(k +: r) }.asJava,
        StructType(StructField("__vi", IntegerType, nullable = false) +:
          td.schema.fields))
      td.checks.map { case (label, ex) =>
        label -> (try df.filter(s"NOT COALESCE(($ex), true)").select("__vi")
          .collect().map(_.getInt(0))
          catch { case _: Exception => Array.empty[Int] })
      }
    }

  /** The constraint check of a driver-row statement. `allRows` is the
    * candidate post-statement state of the mutated table — the whole
    * table on the Mem path, or just the interacting slice on the spilled
    * path (equivalent for the uniqueness scan: any row a touched row
    * could conflict with is in the slice). `selfRemainder` is the spilled
    * path's untouched remainder, consulted (distributed) for
    * self-referencing FKs whose parent value lies outside the slice.
    * `uniqueRemainder` is probed with the touched rows' keys: DO UPDATE
    * SET can write a unique column to a value that was never among the
    * candidates' own keys, so the slice cannot hold the remainder row it
    * may now collide with.
    *
    * A Left carries the INDEX (in `newRows` order) of the first failing
    * row; callers use it to reproduce last_insert_rowid() on aborted
    * statements. */
  def rows(td: TableDef, allRows: Vector[(Long, IndexedSeq[Any])],
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
    checkFailures(td, newRows).foreach { case (label, bad) =>
      bad.foreach(report(_, 1, s"CHECK constraint failed: $label"))
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
    uniqueSpecs(td).foreach { sp =>
      duplicates(allRows.view.map(_._2), sp) { (r, first) =>
        report(idxOf(r).orElse(idxOf(first)).getOrElse(0), 2, sp.err)
      }
      uniqueRemainder.flatMap(probe(_, td, Seq(sp), newRows)).foreach { p =>
        // the clashing remainder rows are bounded by the statement's own
        // keys; the failure maps back to the first statement row
        val clash = p.collect().iterator
          .flatMap(r => sp.key((1 to td.cols.size).map(r.get))).toSet
        if (clash.nonEmpty)
          report(math.max(newRows.indexWhere(sp.key(_).exists(clash)), 0), 2,
            sp.err)
      }
    }
    fkRefs(td).foreach {
      case (_, None) => report(0, 3, FkError)
      case (i, Some((parent, pIdx))) =>
        val need = newRows.iterator.map(_(i)).filter(_ != null)
          .distinctBy(key(_)).toSeq
        if (need.nonEmpty) {
          val selfRef = parent.d.name.equalsIgnoreCase(td.name)
          // driver set for Mem-resident parents / the local slice …
          val local: Set[Any] = (parent.store, selfRef) match {
            case (_, true) =>
              allRows.iterator.map(r => key(r._2(pIdx))).toSet
            case (Mem(rows), _) => rows.iterator.map(r => key(r._2(pIdx))).toSet
            case _ => Set.empty
          }
          var missing = need.filterNot(v => local.contains(key(v)))
          // … a probe of spilled parents / the untouched remainder
          val pdf: Option[DataFrame] = (parent.store, selfRef) match {
            case (_, true) => selfRemainder
            case (b: Big, _) => Some(b.df)
            case _ => None
          }
          if (missing.nonEmpty) pdf.foreach { p =>
            val pc = parent.d.cols(pIdx)
            val found = present(p, pc.name, pc.sparkType, missing)
            missing = missing.filterNot(v => found(key(v)))
          }
          if (missing.nonEmpty) {
            val bad = missing.map(key(_)).toSet
            report(math.max(newRows.indexWhere(r =>
              r(i) != null && bad.contains(key(r(i)))), 0), 3, FkError)
          }
        }
    }
    if (bestIdx == Int.MaxValue) {
      // partial/expression unique indexes: exact final-state scan; the
      // violating allRows position maps back to its statement-row index
      // so aborted inserts keep SQLite's partial-advance lid semantics
      advancedRows(td, allRows, selfRemainder).foreach { case (m, pos) =>
        val k =
          if (pos < allRows.size) idxOf(allRows(pos)._2).getOrElse(0) else 0
        return Left((m, k))
      }
      Right(())
    } else Left((bestMsg, bestIdx))
  }

  /** Every constraint leg over the frame `rows` that some row fails, in
    * leg order (NOT NULL by column, CHECK, UNIQUE by spec, FOREIGN KEY by
    * column), as (the least `ord` among its failing rows, its priority,
    * SQLite's text). `rows` carries `ord` and the table's data columns;
    * `unique` gives a spec's failing rows, each with `ord`; `selfParent`
    * is the post-statement table, the parent side of a self-referencing
    * FK. A missing parent fails at `Long.MinValue`. */
  private def frameFailures(td: TableDef, rows: DataFrame, ord: String,
      selfParent: => DataFrame)(unique: Spec => Seq[DataFrame])
      : Seq[(Long, Int, String)] = {
    def least(df: DataFrame): Option[Long] = {
      val r = df.agg(expr(s"min($ord)")).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    val notNull = td.cols.filter(c => c.notNull && !c.isRowidAlias)
      .flatMap(c => least(rows.filter(col(c.name).isNull)).map((_, 0,
        s"NOT NULL constraint failed: ${td.name}.${c.name}")))
    val checks = td.checks.flatMap { case (label, ex) =>
      (try least(rows.filter(s"NOT COALESCE(($ex), true)"))
       catch { case _: Exception => None }) // unresolvable expr: ignore
        .map((_, 1, s"CHECK constraint failed: $label"))
    }
    val uniques = uniqueSpecs(td).flatMap(sp =>
      unique(sp).flatMap(least).map((_, 2, sp.err)))
    val fks = fkRefs(td).flatMap {
      case (_, None) => Some((Long.MinValue, 3, FkError))
      case (i, Some((parent, pIdx))) =>
        val p =
          if (parent.d.name.equalsIgnoreCase(td.name)) selfParent
          else frame(parent)
        val c = col(td.cols(i).name)
        least(rows.filter(c.isNotNull).join(parentValues(p, parent.d, pIdx),
          c === col("__graft_p"), "left_anti")).map((_, 3, FkError))
    }
    notNull ++ checks ++ uniques ++ fks
  }

  /** The first failure, by per-row priority, of a candidate frame `cand`
    * (`__ord`, `__rowid`, data columns) inserted into the table frame
    * `table`, whose post-statement frame is `merged`: (the failing
    * candidate's `__ord`, SQLite's text). The LATER of two candidates
    * sharing a key is the failing row. */
  def insertFrame(td: TableDef, cand: DataFrame, table: DataFrame,
      merged: => DataFrame): Option[(Long, String)] =
    frameFailures(td, cand, "__ord", merged) { sp =>
      val keyed = cand.filter(sp.notNull)
      Seq(keyed.withColumn("__rn", row_number().over(
            Window.partitionBy(sp.cols: _*).orderBy(col("__ord"))))
          .filter(col("__rn") > 1),
        sp.join(keyed, table, "left_semi"))
    }.minByOption(f => (f._1, f._2)).map(f => (f._1, f._3))

  /** SQLite-exact UPDATE validation: per ROW, in rowid scan order, against
    * the LIVE table state. Uniqueness for each updated row i is checked
    * against already-updated rows' NEW keys (j < i), not-yet-updated rows'
    * OLD keys (j > i), and unmatched rows' keys — so TRANSIENT collisions
    * fail exactly where SQLite fails (probed live, OLTP-fuzz seed 5002:
    * `a = a + 1` over unique {1,2} fails; over {2,1} succeeds; swaps
    * fail; a final-state check accepts all three). All legs are
    * min(__rowid) aggregates/joins bounded by the changed set (the
    * unmatched leg scans the table once). Partial/expression unique
    * indexes scan the full NEW frame last (a row UPDATEd into a partial
    * set must collide, probed live). */
  def update(td: TableDef, beforeAll: DataFrame, newAll: DataFrame,
      changedNew: DataFrame, changedOld: DataFrame): Either[String, Unit] =
    frameFailures(td, changedNew, "__rowid", newAll) { sp =>
      def keyed(df: DataFrame, rid: String) =
        df.select(col("__rowid").as(rid) +: sp.keyCols("__k_"): _*)
      val iNew = changedNew.filter(sp.notNull)
      val unmatched = beforeAll.join(
        changedOld.select(col("__rowid").as("__m")),
        col("__rowid") === col("__m"), "left_anti")
      Seq((keyed(changedNew, "__j"), col("__j") < col("__rowid")),
          (keyed(changedOld, "__j"), col("__j") > col("__rowid")),
          (keyed(unmatched, "__j"), lit(true)))
        .map { case (j, after) => iNew.join(j, sp.sameKey("__k_") && after) }
    }.minByOption(f => (f._1, f._2)) match {
      case Some((_, _, m)) => Left(m)
      case None => advanced(td, newAll).toLeft(())
    }

  /** The check of a bulk statement whose policy already resolved its
    * conflicts: the first failing leg (NOT NULL, CHECK, then FOREIGN KEY)
    * over the landing rows `newDf` (with `__ord`); `finalDf` is the
    * post-statement table. A policy statement never reaches a table with
    * a partial or expression index ([[policyBoundary]]). */
  def bulk(td: TableDef, newDf: DataFrame,
           finalDf: DataFrame): Either[String, Unit] =
    frameFailures(td, newDf, "__ord", finalDf)(_ => Nil).headOption
      .map(_._3).toLeft(())

  /** The frame of a table's current store. */
  private def frame(ts: TableState): DataFrame = ts.store match {
    case Big(df, _) => df
    case Mem(rows) => session.createDataFrame(
      rows.map { case (rid, vals) => Row.fromSeq(rid +: vals) }.asJava,
      Store.ridSchema(ts.d))
  }
}

private[engine] object Constraints {
  val FkError = "FOREIGN KEY constraint failed"

  // ---------- collation (SQLite BINARY | NOCASE | RTRIM) ------------------
  // NOCASE folds ASCII A-Z only (sqlite3UpperToLower); RTRIM ignores
  // trailing spaces (0x20). Constraint paths compare NORMALIZED keys —
  // lower-folded / right-trimmed — which matches SQLite's comparator
  // exactly for ASCII text. The distributed legs use Spark's lower()/
  // rtrim() (Unicode lower vs SQLite's ASCII fold — a documented
  // divergence on non-ASCII case pairs only).

  val knownCollations = Set("BINARY", "NOCASE", "RTRIM")

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

  /** The comparison key of one value, SQLite's index comparator on the
    * driver: text under `coll`, a BLOB by its bytes (an `Array[Byte]`
    * compares by reference, so it is wrapped), anything else as is. */
  def key(v: Any, coll: String = "BINARY"): Any = v match {
    case b: Array[Byte] => ArraySeq.unsafeWrapArray(b)
    case x => collNorm(x, coll)
  }

  /** DataFrame column for collation-aware key comparison (grouping,
    * joins, windows): lower() for NOCASE, rtrim() for RTRIM. The input is
    * re-collated to UTF8_BINARY first — a source column may carry a
    * collated TYPE from the query views, and mixing it into lower()/joins
    * untreated trips Spark's INDETERMINATE_COLLATION analysis. A BLOB
    * column compares by content in Spark already. */
  private def normCol(c: Column, coll: String): Column = coll match {
    case "NOCASE" =>
      lower(org.apache.spark.sql.functions.collate(c, "UTF8_BINARY"))
    case "RTRIM" =>
      rtrim(org.apache.spark.sql.functions.collate(c, "UTF8_BINARY"))
    case _ => c
  }

  /** A UNIQUE or PRIMARY KEY constraint: its column indexes and names,
    * SQLite's error-text description, and the collation each key position
    * compares under. */
  final case class Spec(idxs: Seq[Int], names: Seq[String], desc: String,
                        colls: Seq[String]) {
    def err: String = s"UNIQUE constraint failed: $desc"

    /** The key of a row's values; None when a position is NULL (SQLite:
      * NULLs in any indexed column never conflict). */
    def key(vals: IndexedSeq[Any]): Option[Seq[Any]] = {
      val k = idxs.lazyZip(colls).map((i, c) => Constraints.key(vals(i), c))
      if (k.contains(null)) None else Some(k)
    }

    /** Do two rows share a whole key? */
    def clash(a: IndexedSeq[Any], b: IndexedSeq[Any]): Boolean =
      key(b).exists(key(a).contains)

    /** The normalized key columns of a frame over the table's columns. */
    def cols: Seq[Column] =
      names.lazyZip(colls).map((n, c) => normCol(col(n), c))

    /** [[cols]] named `prefix` + column name. */
    def keyCols(prefix: String): Seq[Column] =
      cols.lazyZip(names).map((c, n) => c.as(prefix + n))

    /** This frame's key equals the [[keyCols]] named with `prefix`. */
    def sameKey(prefix: String): Column =
      cols.lazyZip(names).map((c, n) => c === col(prefix + n)).reduce(_ && _)

    /** No key position is NULL. */
    def notNull: Column = names.map(col(_).isNotNull).reduce(_ && _)

    /** `left` joined (`how`) with the rows of `right` on this key. */
    def join(left: DataFrame, right: DataFrame, how: String): DataFrame =
      left.join(right.select(keyCols("__t_"): _*), sameKey("__t_"), how)
  }

  object Spec {
    /** The spec over the named columns of `td` under their column
      * collations; None when a column does not exist. */
    def of(td: TableDef, cs: Seq[String]): Option[Spec] =
      build(td, cs, cs.map(_ => ""))

    /** A plain UNIQUE index's spec: an index column's collation defaults
      * to the COLUMN's (SQLite); an explicit `COLLATE c` overrides it. */
    def ofIndex(td: TableDef, ix: Ddl.CreateIndex): Option[Spec] =
      build(td, ix.cols, ix.cols.indices.map(ix.collOf))

    /** Non-TEXT columns always compare BINARY (collation only affects
      * text). */
    private def build(td: TableDef, cs: Seq[String],
                      explicit: Seq[String]): Option[Spec] = {
      val idxs = cs.map(td.colIndex)
      Option.when(idxs.forall(_ >= 0))(Spec(idxs, idxs.map(td.cols(_).name),
        cs.map(c => s"${td.name}.$c").mkString(", "),
        idxs.lazyZip(explicit).map { (i, o) =>
          val c = td.cols(i)
          if (c.sparkType != StringType) "BINARY"
          else if (o.isEmpty) c.collate else o
        }))
    }
  }

  /** Does `vals` conflict with `row` on any spec? */
  def conflicts(specs: Seq[Spec], row: IndexedSeq[Any],
                vals: IndexedSeq[Any]): Boolean =
    specs.exists(_.clash(row, vals))

  /** Calls `dup` with each row whose key under `sp` an earlier row
    * already holds, and that earlier row. One hash lookup per row: every
    * driver-row statement scans its whole table here. */
  private def duplicates(rows: Iterable[IndexedSeq[Any]], sp: Spec)(
      dup: (IndexedSeq[Any], IndexedSeq[Any]) => Unit): Unit = {
    val seen = mutable.HashMap[Seq[Any], IndexedSeq[Any]]()
    rows.foreach(r => sp.key(r) match {
      case Some(k) =>
        val n = seen.size
        val first = seen.getOrElseUpdate(k, r)
        if (seen.size == n) dup(r, first)
      case None =>
    })
  }

  /** Do two rows of `df` share a whole key? Keys with any NULL position
    * never conflict (SQLite). */
  private def hasDuplicate(df: DataFrame, keys: Seq[Column]): Boolean = {
    val names = keys.indices.map(i => col(s"__xk$i"))
    df.select(keyedAs(keys): _*)
      .filter(names.map(_.isNotNull).reduce(_ && _))
      .groupBy(names: _*).count()
      .filter(col("count") > 1).limit(1).count() > 0
  }

  /** `keys` named `__xk0`, `__xk1`, … */
  private def keyedAs(keys: Seq[Column]): Seq[Column] =
    keys.zipWithIndex.map { case (k, i) => k.as(s"__xk$i") }

  /** A partial or expression UNIQUE index: name, key expressions (with
    * the collation applied as lower()/rtrim()), predicate, error text. */
  final case class XSpec(name: String, keys: Seq[String],
      where: Option[String], err: String) {
    def cols: Seq[Column] = keys.map(k => expr(s"($k)"))
    /** The rows of `df` the index covers. */
    def rows(df: DataFrame): DataFrame =
      where.fold(df)(w => df.filter(s"COALESCE(($w), false)"))
  }

  object XSpec {
    /** SQLite's error text: an index with any EXPRESSION position reports
      * `index 'name'`; a plain-column (partial) one keeps the column list
      * (probed live, 3.40). */
    def of(td: TableDef, ix: Ddl.CreateIndex): XSpec = {
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
  }

  private def posSchema(td: TableDef, pos: String): StructType =
    StructType(StructField(pos, LongType, nullable = false) +:
      td.schema.fields)

  /** The non-NULL values of a parent column, as `__graft_p`. */
  private def parentValues(df: DataFrame, parent: TableDef,
                           pIdx: Int): DataFrame =
    df.select(col(parent.cols(pIdx).name).as("__graft_p"))
      .filter(col("__graft_p").isNotNull)
}
