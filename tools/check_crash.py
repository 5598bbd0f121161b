#!/usr/bin/env python3
"""Crash-replay differential checker (VERDICT r12 #4).

Each record from graft.CrashReplayFuzz holds the raw statement journal of
a database whose serving JVM was SIGKILLed mid-batch, plus the table
states the ENGINE recovered on reopen. This script replays exactly the
journal-committed statements in a real sqlite3 connection — stopping at
the first torn (unparseable) line, exactly like the engine's recovery —
rolls back any transaction the dead connection left open (the engine
discards an open tx on recovery; SQLite's journal does the same for a
dead connection), and compares final states table by table as sorted row
multisets.

Usage: python3 tools/check_crash.py <outFile-from-CrashReplayFuzz>
"""
import json
import sqlite3
import sys

path = sys.argv[1]
n = passed = fails = harness = tail_unknown = 0
details = []

for line in open(path):
    line = line.strip()
    if not line:
        continue
    rec = json.loads(line)
    if "harnessErr" in rec:
        harness += 1
        details.append((rec.get("seed"), "-", "-",
                        ["HARNESS: " + rec["harnessErr"]]))
        continue
    n += 1

    def replay_and_compare(drop_tail):
        conn = sqlite3.connect(":memory:", isolation_level=None)
        cur = conn.cursor()
        # statements the CHILD refused with a DRIVER-CAP error
        # (documented deviation: the engine applies NOTHING where
        # in-process SQLite would run the row loop; the refusal is
        # deterministic, so recovery re-refuses the same journaled
        # line) — skip them in the replay
        cap_lines = set(rec.get("capLines", []))
        journal = rec["journal"]
        if drop_tail and journal:
            journal = journal[:-1]
        for lineno, jl in enumerate(journal, start=1):
            if lineno in cap_lines:
                continue
            try:
                j = json.loads(jl)
            except Exception:
                break  # torn trailing line — engine stops replay here too
            stmts = j.get("statements", [])
            if j.get("transaction", False):
                # engine executeReplay: a tx batch applies all-or-nothing
                try:
                    cur.execute("BEGIN")
                except Exception:
                    pass
                failed = False
                for s in stmts:
                    if failed:
                        break
                    try:
                        cur.execute(s)
                    except Exception:
                        failed = True
                try:
                    cur.execute("ROLLBACK" if failed else "COMMIT")
                except Exception:
                    pass
            else:
                for s in stmts:
                    try:
                        cur.execute(s)
                    except Exception:
                        pass  # engine replay ignores per-stmt errors too
        if conn.in_transaction:  # dead connection's open tx rolls back
            try:
                cur.execute("ROLLBACK")
            except Exception:
                pass
        ok = True
        msgs = []
        names = [r[0] for r in cur.execute(
            "SELECT name FROM sqlite_master WHERE type='table' "
            "ORDER BY name")]
        mine = sorted(rec["tables"].keys())
        if names != mine:
            ok = False
            msgs.append(f"table sets differ: sqlite={names} graft={mine}")
        for t in rec["tables"]:
            if t not in names:
                continue
            # a BLOB cell is dumped as its X'..' literal
            srows = sorted(
                [[f"X'{v.hex().upper()}'" if isinstance(v, bytes) else v
                  for v in r] for r in cur.execute(f"SELECT * FROM {t}")],
                key=repr)
            grows = sorted(rec["tables"][t], key=repr)
            if srows != grows:
                ok = False
                msgs.append(f"table {t}: sqlite={srows[:4]} graft={grows[:4]}")
        conn.close()
        return ok, msgs

    ok, msgs = replay_and_compare(drop_tail=False)
    if not ok:
        # Torn-outcome tail: the kill can land after the LAST journal
        # line was appended but before its apply outcome was reported
        # (append-before-apply records ATTEMPTS, not outcomes). If that
        # statement failed DETERMINISTICALLY in the engine (e.g. a
        # driver-cap refusal), recovery re-refuses it — the engine state
        # equals the journal WITHOUT the tail line. Both states are
        # valid recoveries of a torn tail — but ONLY when the tail line
        # is genuinely unacknowledged: the harness records the journal
        # length at the last GRAFT-APPLIED marker (ADVICE r13), so a
        # recovery bug that drops a committed-AND-acknowledged line
        # still fails.
        acked = rec.get("ackedLines")
        tail_unacked = acked is None or len(rec["journal"]) > acked
        if tail_unacked:
            ok2, _ = replay_and_compare(drop_tail=True)
            if ok2:
                ok, msgs = True, []
                tail_unknown += 1
    if ok:
        passed += 1
    else:
        fails += 1
        details.append((rec["seed"], rec["killAt"], rec.get("applied"), msgs))

print(f"CRASH-FUZZ {n} seeds: PASS {passed} / FAIL {fails} / "
      f"HARNESS-ERR {harness} (tail-outcome-unknown: {tail_unknown})")
for seed, k, a, msgs in details[:10]:
    print(f"FAIL seed={seed} killAt={k} applied={a}")
    for m in msgs:
        print("   " + m)
sys.exit(1 if (fails or harness) else 0)
