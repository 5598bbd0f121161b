package graft.engine

import graft.command.Parameter

/** Text-level SQL utilities for the engine envelope path: positional
  * parameter binding, top-level splitting, and the SQLite-ism shims
  * (double-quoted identifiers after keywords; verbatim expression column
  * names). The analytics path (SparkEntry) never goes through these —
  * Catalyst parses that SQL directly.
  */
object SqlText {

  /** Scan positions that are outside '...'/"..." quotes. */
  private def scan(sql: String)(f: (Char, Int, Boolean) => Unit): Unit = {
    var i = 0; var inS = false; var inD = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'' && !inD) inS = !inS
      else if (c == '"' && !inS) inD = !inD
      f(c, i, inS || inD)
      i += 1
    }
  }

  /** Replace `?` placeholders positionally with rendered literals
    * (reference `db/src/db.rs:312-321` binds via rusqlite; we inline —
    * values join the statement text exactly as the journal requires). */
  def bind(sql: String, params: Seq[Parameter]): String = {
    if (params.isEmpty) return sql
    val out = new StringBuilder
    var n = 0
    scan(sql) { (c, _, quoted) =>
      if (c == '?' && !quoted && n < params.length) {
        out.append(render(params(n))); n += 1
      } else out.append(c)
    }
    out.toString
  }

  def render(p: Parameter): String = p match {
    case Parameter.Integer(v) => v.toString
    case Parameter.Real(v) => if (v.isWhole && math.abs(v) < 1e15) s"${v.toLong}.0" else v.toString
    // SQLite literal rules: `''` quote-doubling only, backslash is a
    // plain character. The bound text is the engine's canonical form
    // (journal, triggers, FastValues, the sqlite differential replays);
    // SqliteRewrite.preText doubles backslashes at the one point text
    // crosses into Spark's parser, whose string literals treat `\` as
    // an escape.
    case Parameter.Text(v) => "'" + v.replace("'", "''") + "'"
  }

  /** Map SQLite collation names after an expression-level `COLLATE`
    * keyword (outside string literals) onto Spark's builtin collations:
    * NOCASE → UTF8_LCASE, BINARY → UTF8_BINARY, RTRIM →
    * UTF8_BINARY_RTRIM. Returns Left with SQLite's exact error text for
    * an unknown name. A statement without COLLATE passes through
    * untouched (zero-cost fast path: one indexOf). */
  def mapCollations(sql: String): Either[String, String] = {
    if (!sql.toUpperCase.contains("COLLATE")) return Right(sql)
    def isWord(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    val u = sql.toUpperCase
    val out = new StringBuilder
    var skipUntil = 0
    var err: Option[String] = None
    // own scanner: backtick-quoted ALIAS text (aliasSelectList's verbatim
    // expression names) must keep the SQLite spelling, so backticks count
    // as quotes here alongside '…' and "…"
    var inS = false; var inD = false; var inB = false
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'' && !inD && !inB) inS = !inS
      else if (c == '"' && !inS && !inB) inD = !inD
      else if (c == '`' && !inS && !inD) inB = !inB
      val quoted = inS || inD || inB
      if (i >= skipUntil && err.isEmpty) {
        if (!quoted && u.startsWith("COLLATE", i) &&
          (i == 0 || !isWord(u.charAt(i - 1))) &&
          (i + 7 >= u.length || !isWord(u.charAt(i + 7)))) {
          // parse the identifier after the keyword
          var j = i + 7
          while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
          val q = j < sql.length && (sql.charAt(j) == '"' || sql.charAt(j) == '`')
          val qc = if (q) sql.charAt(j) else ' '
          if (q) j += 1
          val start = j
          while (j < sql.length && isWord(sql.charAt(j))) j += 1
          val name = sql.substring(start, j)
          if (q && j < sql.length && sql.charAt(j) == qc) j += 1
          name.toUpperCase match {
            case "NOCASE" => out.append("COLLATE UTF8_LCASE"); skipUntil = j
            case "BINARY" => out.append("COLLATE UTF8_BINARY"); skipUntil = j
            case "RTRIM" =>
              out.append("COLLATE UTF8_BINARY_RTRIM"); skipUntil = j
            case _ => err = Some(s"no such collation sequence: $name")
          }
        } else out.append(c)
      }
      i += 1
    }
    err.toLeft(out.toString)
  }

  /** Split on top-level commas (not inside parens or quotes). */
  def splitTopLevel(s: String, sep: Char = ','): Seq[String] = {
    val parts = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    scan(s) { (c, _, quoted) =>
      if (!quoted) {
        if (c == '(') depth += 1
        else if (c == ')') depth -= 1
      }
      if (c == sep && depth == 0 && !quoted) { parts += cur.toString; cur.clear() }
      else cur.append(c)
    }
    parts += cur.toString
    parts.result()
  }

  /** Find a top-level standalone keyword (e.g. WHERE) outside quotes/parens;
    * returns its index or -1. Word boundaries follow SQL identifier rules:
    * `_` is a word character, so `last_update` never matches UPDATE and
    * `returning_flag` never matches RETURNING. */
  def findKeyword(s: String, kw: String): Int = {
    val u = s.toUpperCase
    def isWord(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    var depth = 0; var found = -1
    scan(s) { (c, i, quoted) =>
      if (!quoted) {
        if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        else if (found < 0 && depth == 0 && u.startsWith(kw, i) &&
          (i == 0 || !isWord(u.charAt(i - 1))) &&
          (i + kw.length >= u.length || !isWord(u.charAt(i + kw.length))))
          found = i
      }
    }
    found
  }

  private val identRe = "^[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)?$".r
  private val starRe = "^(\\*|[A-Za-z_][A-Za-z0-9_]*\\.\\*)$".r

  private val quantRe = "(?is)^(\\s*(?:DISTINCT|ALL)(?![A-Za-z0-9_]))".r

  /** SQLite reports an expression column under its verbatim source text
    * (golden `db/src/db.rs:499-504`: `SELECT id || "_bar"` → column name
    * `id || "_bar"`). Alias every non-trivial un-aliased SELECT item with
    * its raw text so the envelope matches.
    *
    * The DISTINCT/ALL quantifier is NOT part of the first item (probed:
    * `SELECT DISTINCT s FROM t` names its column `s`, and
    * `SELECT DISTINCT v FROM t ORDER BY v` is valid), and when FROM is
    * absent the list ends at the first top-level tail clause — SQLite
    * accepts `SELECT 1 ORDER BY 1`, `SELECT 1 LIMIT 1`,
    * `SELECT 2+2 WHERE 'abc'` (VERDICT r14). */
  def aliasSelectList(sql: String): String = {
    val selIdx = findKeyword(sql, "SELECT")
    if (selIdx != 0 && sql.take(selIdx).trim.nonEmpty) return sql
    if (selIdx < 0) return sql
    var listStart = selIdx + 6
    var quant = ""
    quantRe.findFirstMatchIn(sql.substring(listStart)).foreach { m =>
      quant = m.group(1); listStart += m.group(1).length
    }
    val fromIdx = findKeyword(sql, "FROM")
    val endIdx =
      if (fromIdx >= listStart) fromIdx
      else Seq("WHERE", "GROUP", "HAVING", "WINDOW", "ORDER", "LIMIT",
        "OFFSET", "UNION", "INTERSECT", "EXCEPT")
        .map(k => findKeywordFrom(sql, k, listStart)).filter(_ >= 0)
        .reduceOption(math.min).getOrElse(sql.length)
    val (list, rest) = (sql.substring(listStart, endIdx), sql.substring(endIdx))
    val parts = splitTopLevel(list)
    // a malformed item (unbalanced parens/quotes, trailing operator or
    // infix keyword) must reach the parser VERBATIM — aliasing it would
    // turn SQLite's `incomplete input` / syntax error into a different,
    // misleading error (probed `SELECT (1`, `SELECT 1 +`)
    if (parts.exists { p =>
      val t = p.trim
      t.nonEmpty && !identRe.matches(t) && !starRe.matches(t) &&
        findKeyword(t, "AS") < 0 && malformedItem(t)
    }) return sql
    val items = parts.map { raw =>
      val t = raw.trim
      val isPlain = identRe.matches(t) || starRe.matches(t)
      val hasAlias = findKeyword(t, "AS") >= 0
      if (isPlain || hasAlias || t.isEmpty) raw
      else s" $t AS `${t.replace("`", "``")}`"
    }
    sql.take(selIdx) + "SELECT" + quant + items.mkString(",") + " " + rest
  }

  /** Syntactically incomplete select item: unbalanced parens or quotes,
    * or a trailing binary-operator token. */
  private def malformedItem(t: String): Boolean = {
    var depth = 0; var inS = false; var inD = false; var inB = false
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (c == '\'' && !inD && !inB) inS = !inS
      else if (c == '"' && !inS && !inB) inD = !inD
      else if (c == '`' && !inS && !inD) inB = !inB
      else if (!inS && !inD && !inB) {
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
      }
      i += 1
    }
    if (depth != 0 || inS || inD || inB) return true
    val last = t.charAt(t.length - 1)
    if ("+-*/%&|<>=~,.".indexOf(last.toInt) >= 0) return true
    var w = t.length
    while (w > 0 && (Character.isLetterOrDigit(t.charAt(w - 1)) ||
      t.charAt(w - 1) == '_')) w -= 1
    Set("AND", "OR", "NOT", "IS", "IN", "LIKE", "GLOB", "BETWEEN",
      "ESCAPE", "WHEN", "THEN", "ELSE", "CASE", "CAST", "COLLATE")
      .contains(t.substring(w).toUpperCase)
  }

  /** [[findKeyword]] restricted to matches at or after `from`. */
  private def findKeywordFrom(s: String, kw: String, from: Int): Int = {
    val i = findKeyword(s, kw)
    if (i >= from) i
    else if (i < 0) -1
    else {
      // a hit before `from` (e.g. inside the stripped quantifier region is
      // impossible, but be safe): rescan the tail and re-offset
      val j = findKeyword(s.substring(from), kw)
      if (j < 0) -1 else j + from
    }
  }

  // ---------- rowid pseudo-column exposure ---------------------------------

  /** What [[exposeRowid]] needs to know about a ROWID table: the INTEGER
    * PRIMARY KEY alias column (if any), whether a declared column shadows
    * the rowid names, the declared column list (for `*` expansion
    * against the rid view) and whether the rid view already lists its
    * rows in rowid order. */
  final case class RowidInfo(ipk: Option[String], shadowed: Boolean,
                             cols: Seq[String], inRowidOrder: Boolean)

  private val rowidNames = Set("ROWID", "_ROWID_", "OID")
  private def isWordC(c: Char) = Character.isLetterOrDigit(c) || c == '_'

  /** Whether the statement mentions a rowid pseudo-column name outside
    * quotes (cheap pre-check). */
  def mentionsRowid(sql: String): Boolean = {
    val u = sql.toUpperCase
    if (!u.contains("ROWID") && !u.contains("OID")) return false
    var found = false
    scan(sql) { (c, i, quoted) =>
      if (!quoted && !found && (c == 'r' || c == 'R' || c == '_' ||
        c == 'o' || c == 'O')) {
        rowidNames.foreach { n =>
          if (u.startsWith(n, i) && (i == 0 || !isWordC(u.charAt(i - 1))) &&
            (i + n.length >= u.length || !isWordC(u.charAt(i + n.length))))
            found = true
        }
      }
    }
    found
  }

  /** Expose SQLite's `rowid`/`_rowid_`/`oid` pseudo-column in a SELECT
    * (the reference's users get it from SQLite itself). Single-table
    * statements only — the overwhelmingly common shape; others pass
    * through and keep today's `no such column` behavior.
    *
    *  - INTEGER PRIMARY KEY tables: the alias column IS the rowid —
    *    token-level substitution, nothing else changes;
    *  - plain rowid tables: substitute `__rowid` and repoint table
    *    references at the engine's `__rid_<t>` view (aliased back to the
    *    table name, and sorted by rowid unless `inRowidOrder`), expanding
    *    `*` to the declared columns so the star contract is unchanged;
    *  - bare select items keep SQLite's column naming (`SELECT rowid` →
    *    column `rowid`) via an explicit alias.
    *
    * Call AFTER [[aliasSelectList]] (expression items are then already
    * aliased to their verbatim SQLite spelling) and AFTER
    * [[fixQuotedIdents]]. CTE names shadow tables, so statements whose
    * WITH-list defines the table name pass through. */
  def exposeRowid(sql: String, info: String => Option[RowidInfo]): String = {
    if (!mentionsRowid(sql)) return sql
    val u = sql.toUpperCase
    // CTE names shadow tables
    val cteNames = "(?i)\\b([A-Za-z_][A-Za-z0-9_]*)\\s+AS\\s*\\(".r
      .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
    // pass 1: table references after FROM/JOIN (incl. comma lists)
    val refs = Seq.newBuilder[String]
    var depth0 = 0
    var expectTable = false // just saw FROM/JOIN/',' inside a FROM clause
    var inFromClause = false
    var skipNextIdent = false // alias position after a table ref / AS
    scan(sql) { (c, i, quoted) =>
      if (!quoted) {
        if (c == '(') depth0 += 1
        else if (c == ')') depth0 -= 1
        def kw(k: String): Boolean = u.startsWith(k, i) &&
          (i == 0 || !isWordC(u.charAt(i - 1))) &&
          (i + k.length >= u.length || !isWordC(u.charAt(i + k.length)))
        if (kw("FROM") || kw("JOIN")) { expectTable = true; inFromClause = true }
        else if (kw("WHERE") || kw("GROUP") || kw("ORDER") || kw("HAVING") ||
          kw("LIMIT") || kw("ON") || kw("SELECT") || kw("UNION") ||
          kw("INTERSECT") || kw("EXCEPT") || kw("WINDOW"))
          inFromClause = false
        else if (c == ',' && inFromClause) expectTable = true
        else if (kw("AS")) skipNextIdent = true
        else if (isWordC(c) && (i == 0 || !isWordC(sql.charAt(i - 1))) &&
          sql.charAt(i) != '`') {
          var j = i
          while (j < sql.length && isWordC(sql.charAt(j))) j += 1
          val word = sql.substring(i, j)
          val upper = word.toUpperCase
          val isKw = Set("FROM", "JOIN", "AS", "ON", "WHERE", "LEFT",
            "RIGHT", "FULL", "INNER", "OUTER", "CROSS", "NATURAL",
            "SELECT", "GROUP", "ORDER", "HAVING", "LIMIT", "UNION",
            "INTERSECT", "EXCEPT", "WINDOW").contains(upper)
          if (expectTable && !isKw) {
            if (j < sql.length && sql.charAt(j) == '(') ()
            else refs += word.toLowerCase
            expectTable = false; skipNextIdent = true
          } else if (skipNextIdent && !isKw) skipNextIdent = false
        }
      }
    }
    // backtick-quoted table refs (fixQuotedIdents output): FROM `t`
    "(?i)\\b(FROM|JOIN)\\s+`([A-Za-z_][A-Za-z0-9_]*)`".r
      .findAllMatchIn(sql).foreach(m => refs += m.group(2).toLowerCase)
    val rowidRefs = refs.result().distinct
      .filterNot(cteNames)
      .flatMap(n => info(n).map(n -> _).filterNot(_._2.shadowed))
    if (rowidRefs.size != 1) return sql
    val (tname, ri) = rowidRefs.head
    val repl = ri.ipk.map(n => s"`$n`").getOrElse("`__rowid`")
    val needRid = ri.ipk.isEmpty

    // pass 2: emit
    val out = new java.lang.StringBuilder(sql.length + 32)
    var inS = false; var inD = false; var inB = false
    // clause keyword per paren depth (SELECT list detection)
    val clause = scala.collection.mutable.Map[Int, String]()
    var depth = 0
    var i = 0
    var aliasNext = false // emitted a rid view ref; next ident is its alias
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'' && !inD && !inB) inS = !inS
      else if (c == '"' && !inS && !inB) inD = !inD
      else if (c == '`' && !inS && !inD) inB = !inB
      val quoted = inS || inD || inB
      if (!quoted && c == '(') { depth += 1; out.append(c); i += 1 }
      else if (!quoted && c == ')') {
        clause.remove(depth); depth -= 1; out.append(c); i += 1
      }
      else if (!quoted && isWordC(c) && (i == 0 || !isWordC(sql.charAt(i - 1)))) {
        var j = i
        while (j < sql.length && isWordC(sql.charAt(j))) j += 1
        val word = sql.substring(i, j)
        val upper = word.toUpperCase
        Seq("SELECT", "FROM", "WHERE", "GROUP", "HAVING", "ORDER", "ON",
          "SET", "RETURNING").find(_ == upper)
          .foreach(k => clause(depth) = k)
        if (rowidNames.contains(upper)) {
          val qualified = i > 0 && sql.charAt(i - 1) == '.'
          // bare select item? (preceded by SELECT/comma (+opt qualifier),
          // followed by comma/FROM/end) → alias to SQLite's name
          val inSelect = clause.getOrElse(depth, "") == "SELECT"
          var back = i - 1
          if (qualified) { // skip qualifier chain
            back -= 1
            while (back >= 0 && (isWordC(sql.charAt(back)) ||
              sql.charAt(back) == '`')) back -= 1
          }
          while (back >= 0 && sql.charAt(back).isWhitespace) back -= 1
          val bareStart = back < 0 || sql.charAt(back) == ',' ||
            (back >= 5 && u.startsWith("SELECT", back - 5))
          var fwd = j
          while (fwd < sql.length && sql.charAt(fwd).isWhitespace) fwd += 1
          val bareEnd = fwd >= sql.length || sql.charAt(fwd) == ',' ||
            u.startsWith("FROM", fwd)
          out.append(repl)
          // SQLite's column naming (probed): on a PLAIN rowid table any
          // of the three spellings reports as `rowid`; on an INTEGER
          // PRIMARY KEY table it reports the ALIAS COLUMN's name — which
          // the plain substitution already yields
          if (needRid && inSelect && bareStart && bareEnd)
            out.append(" AS `rowid`")
          i = j
        } else if (needRid && !aliasNext &&
          word.equalsIgnoreCase(tname) &&
          (clause.getOrElse(depth, "") == "FROM") &&
          !(j < sql.length && (sql.charAt(j) == '(' || sql.charAt(j) == '.'))) {
          // SQLite's unordered scan is in rowid order; the rid view of a
          // spilled store or snapshot file is not, and stays unsorted for
          // the UPDATE/DELETE executors that read it
          if (ri.inRowidOrder) out.append("__rid_").append(tname)
          else out.append("(SELECT * FROM __rid_").append(tname)
            .append(" ORDER BY `__rowid`)")
          // alias follows? else pin the original name
          var k2 = j
          while (k2 < sql.length && sql.charAt(k2).isWhitespace) k2 += 1
          val hasAlias =
            (k2 < sql.length && (sql.charAt(k2) == '`' ||
              (isWordC(sql.charAt(k2)) && {
                var k3 = k2
                while (k3 < sql.length && isWordC(sql.charAt(k3))) k3 += 1
                val w2 = sql.substring(k2, k3).toUpperCase
                w2 == "AS" || !Set("WHERE", "GROUP", "ORDER", "HAVING",
                  "LIMIT", "ON", "JOIN", "LEFT", "RIGHT", "FULL", "INNER",
                  "OUTER", "CROSS", "NATURAL", "UNION", "INTERSECT",
                  "EXCEPT", "WINDOW").contains(w2)
              })))
          if (!hasAlias) out.append(" AS `").append(tname).append("`")
          else aliasNext = true
          i = j
        } else {
          if (aliasNext && !Set("AS").contains(upper)) aliasNext = false
          out.append(word)
          i = j
        }
      }
      else if (!quoted && c == '*' && needRid &&
        clause.getOrElse(depth, "") == "SELECT" && {
          // bare select item only — `*` or `alias.*`, never the
          // multiplication operator (ADVICE r14: `SELECT rowid, a*b FROM t`
          // must keep a*b): preceded (ignoring whitespace) by SELECT, a
          // comma, or a qualifier dot; followed by a comma, FROM, or end
          val qualDot = i > 0 && sql.charAt(i - 1) == '.'
          var back = i - 1
          while (back >= 0 && sql.charAt(back).isWhitespace) back -= 1
          val bareStart = qualDot || back < 0 || sql.charAt(back) == ',' ||
            (back >= 5 && u.startsWith("SELECT", back - 5) &&
              (back == 5 || !isWordC(u.charAt(back - 6))))
          var fwd = i + 1
          while (fwd < sql.length && sql.charAt(fwd).isWhitespace) fwd += 1
          val bareEnd = fwd >= sql.length || sql.charAt(fwd) == ',' ||
            (u.startsWith("FROM", fwd) &&
              (fwd + 4 >= u.length || !isWordC(u.charAt(fwd + 4))))
          bareStart && bareEnd
        }) {
        // `*` / `alias.*` over the rid view would leak engine columns —
        // expand to the declared list
        val qual =
          if (i > 0 && sql.charAt(i - 1) == '.') {
            // strip the qualifier we already emitted
            var back = out.length - 1 // the '.'
            back -= 1
            val qEnd = back + 1
            while (back >= 0 && (isWordC(out.charAt(back)) ||
              out.charAt(back) == '`')) back -= 1
            val q = out.substring(back + 1, qEnd)
            out.setLength(back + 1)
            q + "."
          } else ""
        out.append(ri.cols.map(cn => s"$qual`$cn`").mkString(", "))
        i += 1
      }
      else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Token-only rowid substitution for UPDATE/DELETE statements: their
    * executors evaluate conditions over the `__rid_` view, where
    * `__rowid` (or the INTEGER PRIMARY KEY alias) is already in scope. */
  def replaceRowidTokens(sql: String, repl: String): String = {
    if (!mentionsRowid(sql)) return sql
    val u = sql.toUpperCase
    val out = new java.lang.StringBuilder(sql.length + 16)
    var last = 0
    scan(sql) { (c, i, quoted) =>
      if (!quoted && isWordC(c) && (i == 0 || !isWordC(sql.charAt(i - 1))) &&
        i >= last) {
        rowidNames.find(n => u.startsWith(n, i) &&
          (i + n.length >= u.length || !isWordC(u.charAt(i + n.length))))
          .foreach { n =>
            out.append(sql.substring(last, i)).append(repl)
            last = i + n.length
          }
      }
    }
    out.append(sql.substring(last))
    out.toString
  }

  /** Rewrite double-quoted identifiers right after structural keywords
    * (INTO/FROM/JOIN/UPDATE/TABLE) to backticks — SQLite allows `INSERT
    * INTO "names"` (golden `db/src/db.rs:475`), while Spark reads "..."
    * as a string literal. Other double-quoted tokens stay literals, which
    * matches SQLite's fallback behavior for non-identifier positions. */
  def fixQuotedIdents(sql: String): String =
    sql.replaceAll(
      """(?i)\b(INTO|FROM|JOIN|UPDATE|TABLE)\s+"([A-Za-z_][A-Za-z0-9_]*)"""",
      "$1 `$2`")
}
