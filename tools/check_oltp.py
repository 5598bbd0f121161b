#!/usr/bin/env python3
"""Differential OLTP fuzz, SQLite side (VERDICT r11 #3).

Usage: check_oltp.py <oltpJsonl> [--show N]

Replays every batch from graft.OltpFuzzRun's JSONL output in a fresh
sqlite3 :memory: connection (the reference's own engine) and compares per
statement:
  - execute ops: error string (GraftDb pins SQLite's exact error texts),
    rows_affected (SELECT changes() for INSERT/UPDATE/DELETE/REPLACE,
    0 for everything else — GraftDb reports 0 for DDL/tx control), and
    last_insert_id (SELECT last_insert_rowid(); connection-level, so it
    persists across non-insert statements — same contract as the engine's
    lastRowId);
  - query ops: column names and canonical values (integer/text/null —
    the generator's whole domain);
  - "c" ops (engine-side checkpoint + reopen) are no-ops for SQLite: the
    engine's recovered state must keep matching this same connection;
  - a query op carrying "levelDiff" (the engine's level=none or latest
    version read differed from its weak read) is a divergence.

Exit 1 on any divergence; prints seed, op index, SQL and both sides.
"""
import sys, json, re, sqlite3

path = sys.argv[1]
show = int(sys.argv[sys.argv.index("--show") + 1]) if "--show" in sys.argv else 5

MUTATING = ("INSERT", "UPDATE", "DELETE", "REPLACE")


def with_dml(sql):
    """True for SQLite CTE-prefixed DML (WITH ... INSERT/UPDATE/DELETE/
    REPLACE): CTE bodies are parenthesized, so any top-level DML keyword
    is the statement tail."""
    u = sql.upper()
    if not u.lstrip().startswith("WITH"):
        return False
    depth, inq, i = 0, None, 0
    while i < len(u):
        ch = u[i]
        if inq:
            if ch == inq:
                inq = None
        elif ch in "'\"":
            inq = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (depth == 0 and (i == 0 or not (u[i - 1].isalnum() or u[i - 1] == "_"))
              and u.startswith(("INSERT ", "UPDATE ", "DELETE ", "REPLACE "), i)):
            return True
        i += 1
    return False


def first_word(sql):
    return sql.strip().split(None, 1)[0].upper() if sql.strip() else ""


REKEY_RE = re.compile(r"(?is)^\s*UPDATE(\s+OR\s+\w+)?\s+\w+\s+SET\b")


def confirm_spurious_rekey(con, sql):
    """ADVICE r13: the fk-armed-rekey-scan-order excuse must be EARNED,
    not shape-matched — clone the database, disable foreign_keys on the
    clone, re-run the failing statement there. Only if it then SUCCEEDS
    is SQLite's UNIQUE failure a scan-order artifact (no logical
    duplicate exists); the caller adopts the clone so the rest of the
    batch keeps comparing against the engine's resulting state. Returns
    the clone or None."""
    if con.in_transaction:
        return None  # cannot snapshot mid-transaction: report as-is
    clone = sqlite3.connect(":memory:", isolation_level=None)
    try:
        con.backup(clone)
        ccur = clone.cursor()
        ccur.execute("PRAGMA foreign_keys=OFF")
        ccur.execute(sql)
        ccur.execute("PRAGMA foreign_keys=ON")
        return clone
    except Exception:
        clone.close()
        return None


def replay(ops):
    """Yield per-op comparison records for one batch."""
    con = sqlite3.connect(":memory:", isolation_level=None)
    cur = con.cursor()
    fk_on = False
    for op in ops:
        k = op["k"]
        if k == "c":
            yield ("c", None, None)
            continue
        sql = op["sql"]
        if re.match(r"(?i)\s*PRAGMA\s+foreign_keys\s*=\s*ON", sql):
            fk_on = True
        elif re.match(r"(?i)\s*PRAGMA\s+foreign_keys\s*=\s*OFF", sql):
            fk_on = False
        if k == "x":
            try:
                cur.execute(sql)
                # rusqlite conn.execute (the reference's execute path,
                # db/src/db.rs:176-190): the first step runs the whole DML —
                # RETURNING output materializes there — and a pending row
                # surfaces as ExecuteReturnedResults with the mutation
                # APPLIED; zero RETURNING rows step to DONE and succeed
                returned = cur.fetchall() if cur.description else []
                if returned:
                    mine = {"err": "Execute returned results - "
                                   "did you mean to call query?"}
                else:
                    ra = (cur.execute("SELECT changes()").fetchone()[0]
                          if first_word(sql) in MUTATING or with_dml(sql)
                          else 0)
                    lid = cur.execute(
                        "SELECT last_insert_rowid()").fetchone()[0]
                    mine = {"lid": lid, "ra": ra, "err": ""}
            except sqlite3.Error as e:
                mine = {"err": str(e)}
                if (str(e).startswith("UNIQUE constraint failed:")
                        and fk_on and not op.get("err")
                        and REKEY_RE.match(sql)):
                    clone = confirm_spurious_rekey(con, sql)
                    if clone is not None:
                        con.close()
                        con = clone
                        cur = con.cursor()
                        mine["spurious_fk_rekey"] = True
            theirs = ({"err": op["err"]} if op.get("err") else
                      {"lid": op.get("lid", 0), "ra": op.get("ra", 0),
                       "err": ""})
            yield ("x", mine, theirs)
        else:  # probe query
            try:
                rows = cur.execute(sql).fetchall()
                # empty-result envelope carries EMPTY columns: the engine
                # reproduces the reference's first-row type sniffing
                # (rqlite db.rs:427-432 golden), so the oracle adopts the
                # same contract rather than sqlite3's cursor.description
                cols = [d[0] for d in cur.description] if rows else []
                vals = [[c for c in r] for r in rows]
                mine = {"cols": cols, "vals": vals}
            except sqlite3.Error as e:
                mine = {"err": str(e)}
            theirs = ({"err": op["err"]} if op.get("err") else
                      {"cols": op.get("cols", []), "vals": op.get("vals", [])})
            yield ("q", mine, theirs)
    con.close()


def norm(side):
    """Canonical comparable form (errors prefixed BATCH: on the engine
    side indicate a request-level refusal — always a divergence)."""
    return json.dumps(side, sort_keys=True)


CONN_REG_RE = re.compile(r"(?i)\b(changes|total_changes)\s*\(")


def known_deviation(mine, theirs, sql="", fk_armed=False, prior_err=False):
    """Documented intentional deviations from raw SQLite — classified and
    counted, NOT failed.

    1. Driver-heap trigger cap: a statement firing more AFTER ROW
       triggers than maxDriverRows fails LOUDLY in graft (with full
       statement undo) where SQLite — an in-process engine with no
       driver boundary — just runs them. The fuzz modes set the cap to 8
       rows precisely so this boundary gets exercised; production runs
       at 100k. The engine's statement-undo contract for this error is
       pinned by BigTableSpec.
    """
    g = theirs.get("err", "")
    # 0. Cap error vs a real SQLite statement error (e.g. the engine's
    #    trigger/RETURNING cap fires on a statement SQLite would have
    #    failed per-row with a constraint): BOTH engines applied nothing,
    #    so states stay convergent — classified, and the batch keeps
    #    comparing (the caller checks for the -converged suffix).
    if (("too many rows for row-trigger processing" in g
         or "too many rows for RETURNING processing" in g
         or "too many rows for FK action processing" in g
         or "conflict resolution materializes the matched rows" in g)
            and mine.get("err")):
        return "driver-cap-vs-error-converged"
    # 1c. Same driver boundary for UPDATE OR FAIL/IGNORE/REPLACE: the
    #     sequential conflict resolution materializes the matched rows on
    #     the driver; beyond maxDriverRows the engine refuses (nothing
    #     applied) where in-process SQLite just runs the row loop.
    if ("conflict resolution materializes the matched rows" in g
            and not mine.get("err")):
        return "update-policy-driver-cap"
    if ("too many rows for row-trigger processing" in g
            and not mine.get("err")):
        return "trigger-driver-cap"
    # 1b. Same driver boundary for FK ON DELETE action fan-out
    if ("too many rows for FK action processing" in g
            and not mine.get("err")):
        return "fk-action-driver-cap"
    # 2. Same boundary for RETURNING: the engine refuses to materialize a
    #    larger-than-cap output set on the driver (statement undone) where
    #    in-process SQLite materializes any size. Fuzz caps are 8/500.
    if ("too many rows for RETURNING processing" in g
            and not mine.get("err")):
        return "returning-driver-cap"
    # 3. FK-armed rekey scan-order artifact: with foreign_keys ON and a
    #    child table referencing the target, SQLite drops the one-pass
    #    UPDATE and maintains index entries in an order where a moved
    #    row's NEW entry briefly coexists with its OWN old one — the
    #    statement then reports a SPURIOUS UNIQUE failure although no
    #    logical duplicate exists. The engine keeps logical row
    #    semantics and applies the statement. ADVICE r13: the excuse is
    #    EARNED per occurrence — replay() cloned the database, re-ran
    #    the statement with foreign_keys OFF, saw it succeed, and
    #    adopted the clone, so the batch KEEPS comparing (subsequent
    #    probes verify the engine's resulting state).
    if (mine.get("spurious_fk_rekey")
            and not theirs.get("err")):
        return "fk-armed-rekey-scan-order-converged"
    # 4. Connection-register probe after a failed statement (grammar v7):
    #    SQLite's changes()/total_changes() also count rows applied by
    #    statements that LATER failed or aborted (OR FAIL partial applies;
    #    aborted-then-undone rows still bump total_changes), while the
    #    engine's registers count successfully applied statements only.
    #    The divergence is reachable only once a statement in the batch
    #    has errored; the registers are bookkeeping, not data state, so
    #    comparison continues. The same excuse covers probes after the
    #    disk8 mode's mid-stream close+reopen ("ckpt" op): a reopen is a
    #    NEW connection whose registers start at zero (R15ParitySpec),
    #    while this oracle keeps one sqlite3 connection for the batch —
    #    the caller passes prior_err=True from the ckpt marker on.
    if (prior_err and CONN_REG_RE.search(sql)
            and not mine.get("err") and not theirs.get("err")):
        return "conn-register-after-failed-stmt-converged"
    return None


n = passed = 0
fails, harness, deviations = [], [], []
for line in open(path):
    rec = json.loads(line)
    n += 1
    if "harnessErr" in rec:
        harness.append(rec)
        continue
    bad = None
    fk_armed = False
    prior_err = False
    for i, (kind, mine, theirs) in enumerate(replay(rec["ops"])):
        if kind == "c":
            prior_err = True  # reopen resets the engine's conn registers
            continue
        sql_i = rec["ops"][i].get("sql", "")
        if rec["ops"][i].get("levelDiff"):
            # the engine's read levels disagreed with its own weak read
            bad = (i, sql_i, {"levels": "agree"},
                   {"levelDiff": rec["ops"][i]["levelDiff"]})
            break
        if re.match(r"(?i)\s*PRAGMA\s+foreign_keys\s*=\s*ON", sql_i):
            fk_armed = True
        elif re.match(r"(?i)\s*PRAGMA\s+foreign_keys\s*=\s*OFF", sql_i):
            fk_armed = False
        if norm(mine) != norm(theirs):
            kd = known_deviation(mine, theirs, sql_i, fk_armed, prior_err)
            if kd:
                deviations.append((rec, i, kd))
                if kd.endswith("-converged"):
                    continue  # both engines applied nothing: keep comparing
                # the engine refused where sqlite proceeded: states have
                # diverged — classify and stop comparing this batch
                bad = None
                break
            bad = (i, rec["ops"][i].get("sql", ""), mine, theirs)
            break
        if (mine or {}).get("err") or (theirs or {}).get("err"):
            prior_err = True
    else:
        passed += 1
        continue
    if bad is None:
        continue  # classified deviation (counted separately)
    fails.append((rec, bad))

print(f"OLTP-FUZZ {n} batches: PASS {passed} / DIVERGE {len(fails)} / "
      f"KNOWN-DEVIATION {len(deviations)} / "
      f"HARNESS-ERR {len(harness)}")
for rec, i, kd in deviations[:show]:
    print(f"KNOWN-DEVIATION seed={rec['seed']} op#{i}: {kd}")
for rec, (i, sql, mine, theirs) in fails[:show]:
    print(f"\n== DIVERGENCE seed={rec['seed']} mode={rec['mode']} op#{i}")
    print(f"   SQL: {sql}")
    print(f"   sqlite: {norm(mine)}")
    print(f"   graft:  {norm(theirs)}")
    print("   history:")
    for j, op in enumerate(rec["ops"][:i]):
        if op["k"] == "x":
            print(f"     [{j}] {op.get('sql','')}")
for rec in harness[:show]:
    print(f"\n== HARNESS-ERR seed={rec['seed']}: {rec['harnessErr']}")
sys.exit(1 if (fails or harness) else 0)
