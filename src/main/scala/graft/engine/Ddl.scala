package graft.engine

import org.apache.spark.sql.types._

/** CREATE TABLE interpretation with SQLite type affinity.
  *
  * SQLite accepts any declared column type and collapses it to one of five
  * affinities (reference behavior exercised at `db/src/db.rs:453-463`,
  * where VARCHAR(36)/JSON/NCHAR/NVARCHAR/CLOB all become TEXT). We map
  * affinities onto Spark types: INTEGER→LongType, REAL→DoubleType,
  * TEXT→StringType, BLOB→BinaryType, NUMERIC→DoubleType.
  */
object Affinity extends Enumeration {
  val Integer, Real, Text, Blob, Numeric = Value

  /** SQLite's affinity rules (public SQLite documentation §3.1). */
  def of(declared: String): Affinity.Value = {
    val t = declared.toUpperCase
    if (t.isEmpty) Blob
    else if (t.contains("INT")) Integer
    else if (t.contains("CHAR") || t.contains("CLOB") || t.contains("TEXT") ||
      t.contains("JSON")) Text
    else if (t.contains("BLOB")) Blob
    else if (t.contains("REAL") || t.contains("FLOA") || t.contains("DOUB")) Real
    else Numeric
  }

  def sparkType(a: Affinity.Value): DataType = a match {
    case Integer => LongType
    case Real | Numeric => DoubleType
    case Text => StringType
    case Blob => BinaryType
  }

  /** Envelope type tag (lowercase vocabulary of the reference's DataType,
    * `command/src/lib.rs:67-75`). */
  def tagOf(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType => "integer"
    case DoubleType | FloatType | _: DecimalType => "real"
    case StringType => "text"
    case BinaryType => "blob"
    case NullType => "null"
    case _ => "text"
  }
}

final case class ColDef(
    name: String,
    affinity: Affinity.Value,
    notNull: Boolean,
    pk: Boolean,
    unique: Boolean,
    ref: Option[(String, String)],
    default: Option[String] = None,
    check: Option[(String, String)] = None, // (label, expr)
    gen: Option[(String, Boolean)] = None, // (expr, STORED)
    fkDelete: String = "NO ACTION", // ON DELETE action of `ref`
    fkUpdate: String = "NO ACTION", // ON UPDATE action of `ref`
    autoInc: Boolean = false, // INTEGER PRIMARY KEY AUTOINCREMENT
    collate: String = "BINARY", // column collation (BINARY|NOCASE|RTRIM)
    noAlias: Boolean = false) { // WITHOUT ROWID: INTEGER PK is NOT an alias
  def sparkType: DataType = Affinity.sparkType(affinity)
  /** SQLite: `INTEGER PRIMARY KEY` is an alias of the rowid — except on
    * WITHOUT ROWID tables, where no rowid exists to alias. */
  def isRowidAlias: Boolean = pk && affinity == Affinity.Integer && !noAlias
}

final case class TableDef(name: String, cols: Seq[ColDef],
    tableChecks: Seq[(String, String)] = Nil,
    // composite table-level constraints, in clause order (the order
    // governs SQLite's error text and table_info pk ordinals):
    // a >1-column PRIMARY KEY (...) — a plain unique spec over the tuple
    // (NULLs allowed: the rowid-table historic quirk) that is NOT a rowid
    // alias — and each >1-column UNIQUE (...). Single-column table-level
    // clauses keep folding onto the ColDef flags.
    pkSet: Seq[String] = Nil,
    uniqueSets: Seq[Seq[String]] = Nil,
    withoutRowid: Boolean = false,
    // automatic-index specs (isPk, member columns) in SOURCE order —
    // SQLite numbers sqlite_autoindex_t_N by declaration position:
    // column-level constraints at their column, table-level clauses
    // (incl. single-column ones that otherwise fold onto ColDef flags)
    // at their clause (probed: p(x, y UNIQUE, z, PRIMARY KEY(x,z)) →
    // _1=u(y), _2=pk, but PRIMARY KEY(a,b), UNIQUE(c) → _1=pk; ADVICE
    // r13). Captured at parse time; empty for TableDefs built outside
    // the parser (autoIndexSpecs then falls back to the flag order).
    autoSpecs: Seq[(Boolean, Seq[String])] = Nil) {
  def schema: StructType =
    StructType(cols.map(c => StructField(c.name, c.sparkType, nullable = true)))
  def rowidAlias: Option[ColDef] = cols.find(_.isRowidAlias)
  def colIndex(n: String): Int = cols.indexWhere(_.name.equalsIgnoreCase(n))
  /** Generated columns as (column index, generation expr), in dependency
    * order: a generated column may reference OTHER generated columns in
    * either declaration direction (probed on SQLite 3.40 — forward
    * references compute correctly), so evaluation topo-sorts on textual
    * name references; a reference cycle falls back to declaration order
    * (SQLite rejects cycles at CREATE time in later versions; the engine
    * surfaces whatever the expression evaluation yields). */
  def genColsOrdered: Seq[(Int, String)] = {
    val gens = cols.zipWithIndex.collect {
      case (c, i) if c.gen.isDefined => (i, c.gen.get._1)
    }
    if (gens.size <= 1) return gens
    val nameOf = gens.map { case (i, _) => i -> cols(i).name.toLowerCase }.toMap
    def refs(e: String): Set[Int] = {
      val scrubbed = e.replaceAll("'([^']|'')*'", " ").toLowerCase
      gens.collect { case (i, _)
        if s"(?<![a-z0-9_])${java.util.regex.Pattern.quote(nameOf(i))}(?![a-z0-9_])"
          .r.findFirstIn(scrubbed).isDefined => i }.toSet
    }
    val dep = gens.map { case (i, e) => i -> (refs(e) - i) }.toMap
    val done = scala.collection.mutable.LinkedHashSet.empty[Int]
    var progress = true
    while (progress && done.size < gens.size) {
      progress = false
      gens.foreach { case (i, _) =>
        if (!done.contains(i) && dep(i).forall(done.contains)) {
          done += i; progress = true
        }
      }
    }
    gens.filterNot(g => done.contains(g._1)).foreach(g => done += g._1)
    done.toSeq.map(i => (i, cols(i).gen.get._1))
  }
  /** Column indexes a bare INSERT targets: SQLite excludes generated
    * columns from the positional value list. */
  def storedColIdx: Seq[Int] = cols.indices.filterNot(i => cols(i).gen.isDefined)
  /** All CHECK constraints in declaration order: column-level then
    * table-level, each as (error label, SQL expression). */
  def checks: Seq[(String, String)] = cols.flatMap(_.check) ++ tableChecks

  /** Automatic-index specs (isPk, member columns) in SQLite's NUMBERING
    * order (see [[autoSpecs]]). Single-column entries that turn out to
    * be the rowid alias create no index (SQLite core). */
  def autoIndexSpecs: Seq[(Boolean, Seq[String])] = {
    val specs =
      if (autoSpecs.nonEmpty) autoSpecs
      else { // fallback for non-parser construction (pre-r14 order)
        (if (pkSet.nonEmpty) Seq((true, pkSet)) else Nil) ++
          cols.collect { case c if c.pk || c.unique => (c.pk, Seq(c.name)) } ++
          uniqueSets.map(s => (false, s))
      }
    specs.filterNot { case (_, cs) =>
      cs.size == 1 && cols.exists(c =>
        c.name.equalsIgnoreCase(cs.head) && c.isRowidAlias)
    }
  }
}

object Ddl {
  private val createRe =
    """(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*\((.*)\)\s*(WITHOUT\s+ROWID)?\s*;?\s*$""".r
  private val dropRe =
    """(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*;?\s*$""".r
  private val refRe =
    """(?is).*REFERENCES\s+["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*(?:\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\))?.*""".r

  val createViewRe =
    """(?is)^\s*CREATE\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s+AS\s+(.+?)\s*;?\s*$""".r
  val createTriggerRe =
    ("""(?is)^\s*CREATE\s+(?:TEMP\s+|TEMPORARY\s+)?TRIGGER\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s+""" +
      """(BEFORE\s+|AFTER\s+|INSTEAD\s+OF\s+)?(INSERT|DELETE|UPDATE)(\s+OF\s+[A-Za-z0-9_,\s"`]+?)?\s+""" +
      """ON\s+["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*""" +
      """(FOR\s+EACH\s+ROW\s*)?(WHEN\b.+?)?""" +
      """BEGIN\s+(.+?);?\s*END\s*;?\s*$""").r

  final case class Create(ifNotExists: Boolean, table: TableDef)
  final case class Drop(ifExists: Boolean, name: String)

  def parseCreate(sql: String): Option[Create] = sql match {
    case createRe(ine, name, body, wr) =>
      val items = SqlText.splitTopLevel(body).map(_.trim).filter(_.nonEmpty)
      val cols = Seq.newBuilder[ColDef]
      var tablePk: Option[String] = None
      var pkSet: Seq[String] = Nil
      var autoSp: Seq[(Boolean, Seq[String])] = Nil
      var tableUnique: Set[String] = Set.empty
      var uniqueSets: Seq[Seq[String]] = Nil
      var tableFk: Map[String, (String, String)] = Map.empty
      var tableChecks: Seq[(String, String)] = Nil
      def clauseCols(item: String): Seq[String] =
        "\\(([^)]*)\\)".r.findFirstMatchIn(item).toSeq.flatMap(
          _.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")
            .stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty))
      items.foreach { item =>
        val u = item.toUpperCase
        if (u.startsWith("PRIMARY KEY")) {
          // single column folds onto the ColDef (an INTEGER one is the
          // rowid alias); a composite key is a tuple-level unique spec
          clauseCols(item) match {
            case Seq(one) =>
              tablePk = Some(one)
              autoSp :+= ((true, Seq(one)))
            case many if many.size > 1 =>
              pkSet = many
              autoSp :+= ((true, many))
            case _ =>
          }
        } else if (u.startsWith("UNIQUE")) {
          clauseCols(item) match {
            case Seq(one) =>
              tableUnique += one.toLowerCase
              autoSp :+= ((false, Seq(one)))
            case many if many.size > 1 =>
              uniqueSets :+= many
              autoSp :+= ((false, many))
            case _ =>
          }
        } else if (u.startsWith("FOREIGN KEY")) {
          val c = "\\(([^)]*)\\)".r.findFirstMatchIn(item).map(_.group(1).trim)
          item match {
            case refRe(rt, rc) =>
              c.foreach(cc => tableFk += cc.toLowerCase -> (rt, Option(rc).getOrElse("")))
            case _ =>
          }
        } else if (u.startsWith("CHECK") ||
          (u.startsWith("CONSTRAINT") && u.contains("CHECK"))) {
          val label = constraintNameRe.findFirstMatchIn(item).map(_.group(1))
          balancedParen(item, u.indexOf("CHECK")).foreach(e =>
            tableChecks :+= (label.getOrElse(e.trim), e.trim))
        } else {
          val cd = parseColDef(item)
          // source-order autoindex capture: rowid-alias filtering happens
          // in autoIndexSpecs (alias-ness depends on WITHOUT ROWID, seen
          // only after the full item list)
          if (cd.pk || cd.unique) autoSp :+= ((cd.pk, Seq(cd.name)))
          cols += cd
        }
      }
      var defs = cols.result()
      tablePk.foreach { pkc =>
        // an unknown single-column clause routes through pkSet so the
        // CREATE path reports SQLite's `no such column` error
        if (defs.exists(_.name.equalsIgnoreCase(pkc)))
          defs = defs.map(c =>
            if (c.name.equalsIgnoreCase(pkc)) c.copy(pk = true) else c)
        else pkSet = Seq(pkc)
      }
      tableUnique.foreach { uc =>
        if (defs.exists(_.name.equalsIgnoreCase(uc)))
          defs = defs.map(c =>
            if (c.name.equalsIgnoreCase(uc)) c.copy(unique = true) else c)
        else uniqueSets :+= Seq(uc)
      }
      if (tableFk.nonEmpty)
        defs = defs.map(c => tableFk.get(c.name.toLowerCase)
          .map(r => c.copy(ref = Some(r))).getOrElse(c))
      if (wr != null)
        // WITHOUT ROWID (probed live, 3.40): the PK columns are the
        // storage key — implicitly NOT NULL, never a rowid alias
        defs = defs.map { c =>
          val inPk = c.pk || pkSet.exists(_.equalsIgnoreCase(c.name))
          c.copy(noAlias = true, notNull = c.notNull || inPk)
        }
      Some(Create(ine != null,
        TableDef(name, defs, tableChecks, pkSet, uniqueSets,
          withoutRowid = wr != null, autoSpecs = autoSp)))
    case _ => None
  }

  def parseDrop(sql: String): Option[Drop] = sql match {
    case dropRe(ie, name) => Some(Drop(ie != null, name))
    case _ => None
  }

  private val defaultRe =
    """(?is)\bDEFAULT\s+('(?:[^']|'')*'|\([^)]*\)|[^\s,]+)""".r
  private val constraintNameRe =
    """(?is)\bCONSTRAINT\s+["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s+CHECK\b""".r

  /** Contents of the first balanced paren group at/after `from`. */
  private def balancedParen(s: String, from: Int): Option[String] = {
    val open = s.indexOf('(', from)
    if (open < 0) return None
    var depth = 0
    var i = open
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') {
        depth -= 1
        if (depth == 0) return Some(s.substring(open + 1, i))
      }
      i += 1
    }
    None
  }

  /** One column definition item (`name TYPE [constraints]`), shared by
    * CREATE TABLE and ALTER TABLE ADD COLUMN. */
  def parseColDef(item: String): ColDef = {
    val toks = item.trim.split("\\s+", 2)
    val cname = toks(0).stripPrefix("\"").stripSuffix("\"")
      .stripPrefix("`").stripSuffix("`")
    val tail = if (toks.length > 1) toks(1) else ""
    val tu = tail.toUpperCase
    // generated column (SQLite 3.31): `GENERATED ALWAYS AS (expr)` or the
    // bare `AS (expr)` shorthand, optionally followed by STORED|VIRTUAL
    val genIdx = {
      val gi = tu.indexOf("GENERATED")
      if (gi >= 0) gi
      else "(?i)(?<![A-Za-z0-9_])AS\\s*\\(".r.findFirstMatchIn(tail)
        .map(_.start).getOrElse(-1)
    }
    val genClose =
      if (genIdx < 0) -1
      else {
        var i = tail.indexOf('(', genIdx); var depth = 0; var end = -1
        while (i >= 0 && i < tail.length && end < 0) {
          if (tail.charAt(i) == '(') depth += 1
          else if (tail.charAt(i) == ')') { depth -= 1; if (depth == 0) end = i }
          i += 1
        }
        end
      }
    val gen: Option[(String, Boolean)] =
      if (genIdx < 0) None
      else balancedParen(tail, genIdx).map { e =>
        // STORED flag = the keyword after the expression's closing paren
        (e.trim, genClose >= 0 &&
          tail.substring(genClose + 1).toUpperCase.contains("STORED"))
      }
    // scrub the generation clause so the expression text can't trip the
    // keyword-scan constraint detection below (e.g. `a IS NOT NULL`)
    val tScrub =
      if (genIdx >= 0 && genClose > genIdx)
        tail.take(genIdx) + (" " * (genClose + 1 - genIdx)) +
          tail.substring(genClose + 1)
            .replaceAll("(?i)\\b(STORED|VIRTUAL)\\b", " ")
      else tail
    val tsu = tScrub.toUpperCase
    // declared type = tokens before any constraint keyword
    val constraintIdx = (Seq("PRIMARY ", "NOT ", "UNIQUE", "REFERENCES",
      "DEFAULT", "CHECK", "CONSTRAINT", "COLLATE")
      .map(k => tsu.indexOf(k)) ++ Seq(genIdx)).filter(_ >= 0)
    val declared =
      (if (constraintIdx.nonEmpty) tScrub.take(constraintIdx.min)
      else tScrub).trim
    val ref = tScrub match {
      case refRe(rt, rc) => Some((rt, Option(rc).getOrElse("")))
      case _ => None
    }
    // FK actions (SQLite: ON DELETE/UPDATE CASCADE|SET NULL|SET DEFAULT|
    // RESTRICT|NO ACTION); RESTRICT folds into NO ACTION — this engine
    // checks immediately either way (no deferred constraints)
    def fkAction(kind: String): String =
      s"(?is)ON\\s+$kind\\s+(SET\\s+NULL|SET\\s+DEFAULT|CASCADE|RESTRICT|NO\\s+ACTION)".r
        .findFirstMatchIn(tScrub)
        .map(_.group(1).toUpperCase.replaceAll("\\s+", " "))
        .getOrElse("NO ACTION")
    val check = {
      val ci = tsu.indexOf("CHECK")
      if (ci < 0) None
      else balancedParen(tScrub, ci).map { e =>
        (constraintNameRe.findFirstMatchIn(tScrub).map(_.group(1))
          .getOrElse(e.trim), e.trim)
      }
    }
    ColDef(
      name = cname,
      affinity = Affinity.of(declared),
      notNull = tsu.contains("NOT NULL"),
      pk = tsu.contains("PRIMARY KEY"),
      unique = tsu.contains("UNIQUE"),
      ref = ref,
      default = defaultRe.findFirstMatchIn(tScrub).map(_.group(1)),
      check = check,
      gen = gen,
      fkDelete = if (ref.isDefined) fkAction("DELETE") else "NO ACTION",
      fkUpdate = if (ref.isDefined) fkAction("UPDATE") else "NO ACTION",
      autoInc = tsu.contains("AUTOINCREMENT"),
      // the NAME is kept verbatim (uppercased) — doCreate rejects unknown
      // collations with SQLite's "no such collation sequence" text. Search
      // only OUTSIDE parens so a CHECK/DEFAULT body's own COLLATE never
      // reads as the column collation.
      collate = collateRe.findFirstMatchIn(blankParens(tScrub))
        .map(_.group(1).toUpperCase).getOrElse("BINARY"))
  }

  private[engine] val collateRe =
    """(?is)\bCOLLATE\s+["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?""".r

  /** Replace every parenthesized region with spaces (length-preserving). */
  private def blankParens(s: String): String = {
    val a = s.toCharArray
    var depth = 0
    var i = 0
    while (i < a.length) {
      if (a(i) == '(') { depth += 1; a(i) = ' ' }
      else if (a(i) == ')') { depth -= 1; a(i) = ' ' }
      else if (depth > 0) a(i) = ' '
      i += 1
    }
    new String(a)
  }

  /** Canonical CREATE TABLE text for a TableDef — used when ALTER TABLE
    * rewrites the stored createSql (parseCreate ∘ renderCreate must
    * round-trip the TableDef; NUMERIC affinity collapses to REAL, same
    * Spark type and envelope tag). */
  def renderCreate(td: TableDef): String =
    "CREATE TABLE " + td.name + " (" + td.cols.map { c =>
      val ty = c.affinity match {
        case Affinity.Integer => "INTEGER"
        case Affinity.Real | Affinity.Numeric => "REAL"
        case Affinity.Blob => "BLOB"
        case _ => "TEXT"
      }
      c.name + " " + ty +
        (if (c.collate != "BINARY") s" COLLATE ${c.collate}" else "") +
        c.gen.map { case (e, stored) =>
          s" GENERATED ALWAYS AS ($e)" + (if (stored) " STORED" else "")
        }.getOrElse("") +
        (if (c.notNull) " NOT NULL" else "") +
        (if (c.pk) " PRIMARY KEY" else "") +
        (if (c.autoInc) " AUTOINCREMENT" else "") +
        (if (c.unique) " UNIQUE" else "") +
        c.default.map(d => s" DEFAULT $d").getOrElse("") +
        c.check.map { case (label, e) =>
          (if (label != e) s" CONSTRAINT $label" else "") + s" CHECK ($e)"
        }.getOrElse("") +
        c.ref.map { case (rt, rc) =>
          s" REFERENCES $rt" + (if (rc.nonEmpty) s"($rc)" else "") +
            (if (c.fkDelete != "NO ACTION") s" ON DELETE ${c.fkDelete}"
            else "") +
            (if (c.fkUpdate != "NO ACTION") s" ON UPDATE ${c.fkUpdate}"
            else "")
        }.getOrElse("")
    }.mkString(", ") +
      td.tableChecks.map { case (label, e) =>
        (if (label != e) s", CONSTRAINT $label CHECK ($e)"
         else s", CHECK ($e)")
      }.mkString +
      (if (td.pkSet.nonEmpty) td.pkSet.mkString(", PRIMARY KEY (", ", ", ")")
       else "") +
      td.uniqueSets.map(_.mkString(", UNIQUE (", ", ", ")")).mkString + ")" +
      (if (td.withoutRowid) " WITHOUT ROWID" else "")

  // prefix only: the column list may nest parens (expression indexes) and
  // a WHERE clause may follow (partial indexes) — parsed by hand below
  private val createIndexRe =
    """(?is)^\s*CREATE\s+(UNIQUE\s+)?INDEX\s+(IF\s+NOT\s+EXISTS\s+)?["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s+ON\s+["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*(\(.*)$""".r
  private val dropIndexRe =
    """(?is)^\s*DROP\s+INDEX\s+(IF\s+EXISTS\s+)?["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*;?\s*$""".r

  final case class CreateIndex(unique: Boolean, ifNotExists: Boolean,
      name: String, table: String, cols: Seq[String], sql: String,
      colls: Seq[String] = Nil, // per-column collation (parallel to cols;
      // "" = unspecified → defaults to the COLUMN's declared collation)
      exprs: Seq[String] = Nil, // verbatim item text for EXPRESSION
      // positions ("" for a plain identifier column), parallel to cols
      where: Option[String] = None) { // partial-index predicate
    def collOf(i: Int): String = if (i < colls.length) colls(i) else ""
    def exprOf(i: Int): String = if (i < exprs.length) exprs(i) else ""
    /** Any position an expression, or a WHERE predicate present. */
    def advanced: Boolean = where.isDefined || exprs.exists(_.nonEmpty)
  }
  final case class DropIndex(ifExists: Boolean, name: String)

  private val plainIdentRe = "^[A-Za-z_][A-Za-z0-9_]*$".r

  def parseCreateIndex(sql: String): Option[CreateIndex] = sql match {
    case createIndexRe(uniq, ine, name, table, tail) =>
      // tail = "(items...) [WHERE pred] [;]" with balanced nesting
      val colList = balancedParen(tail, 0).getOrElse(return None)
      val close = {
        var depth = 0; var i = 0; var end = -1
        while (i < tail.length && end < 0) {
          if (tail.charAt(i) == '(') depth += 1
          else if (tail.charAt(i) == ')') { depth -= 1; if (depth == 0) end = i }
          i += 1
        }
        end
      }
      val rest = tail.substring(close + 1).trim.stripSuffix(";").trim
      val where: Option[String] =
        if (rest.isEmpty) None
        else if (rest.toUpperCase.startsWith("WHERE"))
          Some(rest.substring(5).trim)
        else return None // trailing garbage: not a CREATE INDEX we accept
      // each item: identifier or expression, optionally `COLLATE <name>`
      // (SQLite also allows ASC/DESC — direction is irrelevant to a
      // full-scan engine)
      val items = SqlText.splitTopLevel(colList).map(_.trim).filter(_.nonEmpty)
      val cols = Seq.newBuilder[String]
      val colls = Seq.newBuilder[String]
      val exprs = Seq.newBuilder[String]
      items.foreach { it =>
        val coll = collateRe.findFirstMatchIn(it)
          .map(_.group(1).toUpperCase).getOrElse("")
        val bare = collateRe.replaceAllIn(it, " ")
          .replaceAll("(?i)\\b(ASC|DESC)\\b", " ").trim
        val unq = bare.stripPrefix("\"").stripSuffix("\"")
          .stripPrefix("`").stripSuffix("`")
        if (plainIdentRe.pattern.matcher(unq).matches()) {
          cols += unq; exprs += ""
        } else {
          cols += it.trim; exprs += bare // expression position
        }
        colls += coll
      }
      Some(CreateIndex(uniq != null, ine != null, name, table,
        cols.result(), sql, colls.result(), exprs.result(), where))
    case _ => None
  }

  def parseDropIndex(sql: String): Option[DropIndex] = sql match {
    case dropIndexRe(ie, name) => Some(DropIndex(ie != null, name))
    case _ => None
  }
}
