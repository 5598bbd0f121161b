#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the product and the
harness with sbt (the harness in perfbench/src compiles together with
src/main/scala); later runs reuse the build until a source file changes.
The harness runs in one JVM and writes its raw figures; this script checks
the outputs, derives the metrics and prints them, last line one JSON
object. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data", "sf0.01")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 175

WORKLOADS = ["sql_relational", "ingest"]
ANALYTICS = {"sql_relational"}
PIPELINE_ROWS = ["x54_ngram_jaccard", "x106_bigram_lm"]
# The tail percentile of each workload: the highest that keeps at least
# ten samples beyond it at the workload's smallest sample. A
# sql_relational window runs at least 3 passes of 14 queries; an ingest
# window completes 300 or more requests.
TAIL_PCT = {"sql_relational": 75, "ingest": 96}
MIN_SAMPLES = {"sql_relational": 42, "ingest": 300}

END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("p50_ms", "ms"),
              ("tail_ms", "ms"), ("cpu_ms_per_op", "ms"), ("heap_mb", "MB")]
PER_LAYER = [
    ("server.ping_ms", "ms"), ("server.http_overhead_ms", "ms"),
    ("command.decode_us", "us"), ("command.encode_us", "us"),
    ("engine.insert_ms", "ms"), ("engine.blocked_ms_per_op", "ms"),
    ("engine.spark_jobs_per_op", "count"),
    ("engine.spark_tasks_per_op", "count"),
    ("engine.checkpoints", "count"), ("engine.checkpoint_ms", "ms"),
    ("engine.journal_bytes_per_op", "B"),
    ("engine.write_bytes_per_op", "B"), ("engine.disk_mb_per_krow", "MB"),
    ("setup.session_s", "s"), ("setup.tables_s", "s"),
    ("setup.warm_s", "s"), ("setup.preload_s", "s"),
    ("plan.parse_ms", "ms"), ("plan.analysis_ms", "ms"),
    ("plan.optimization_ms", "ms"), ("plan.planning_ms", "ms"),
    ("plan.codegen_ms", "ms"), ("plan.codegen_classes", "count"),
    ("spark.jobs_per_query", "count"), ("spark.stages_per_query", "count"),
    ("spark.tasks_per_query", "count"), ("spark.task_cpu_s", "s"),
    ("spark.task_run_s", "s"), ("spark.cpu_util", "frac"),
    ("spark.skew_max", "ratio"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.gc_s", "s"),
    ("spark.spill_mb", "MB"), ("spark.peak_exec_mem_mb", "MB"),
    ("ext.shared_builds", "count"),
] + [(f"query.{r}_s", "s") for r in PIPELINE_ROWS] + [
    ("jvm.gc_ms_per_op", "ms"), ("host.steal_frac", "frac"),
    ("trace.overhead_frac", "frac"), ("trace.spans", "count"),
    ("self.op_ms", "ms"), ("self.http_ms", "ms"), ("self.spark_ms", "ms"),
    ("self.replay_ms", "ms"), ("self.command_ms", "ms"),
    ("self.engine_ms", "ms"),
    ("fail_frac", "frac"),
]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    tops = [SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME")
    return home


def build(deadline):
    """Compiles product and harness once per source state; returns the
    runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                       " -Dsbt.server.autostart=false").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True,
                           text=True, timeout=max(60, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and
             not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def read_proc_stat():
    with open("/proc/stat") as f:
        return f.read()


def run_harness(classpath, args, out, deadline):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out, "--data", DATA]
    log = os.path.join(out, "harness.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("harness timed out")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    raw = os.path.join(out, "raw.json")
    if rc != 0 or not os.path.exists(raw):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(raw) as f:
        return json.load(f)


def analytics_e2e(w):
    """Every pass runs the same queries, so rate and CPU come from the
    median pass, which a burst of host noise in one pass does not move."""
    lat = [o["ms"] for o in w["ops"]]
    per_pass = len(lat) / len(w["pass_s"])
    return {
        "ops_per_s": per_pass / metrics.median(w["pass_s"]),
        "p50_ms": metrics.median(lat),
        "cpu_ms_per_op": metrics.median(w["pass_cpu_ms"]) / per_pass,
        "ops": lat, "ok": [o["ok"] for o in w["ops"]],
    }


def ingest_e2e(w):
    lat = w["lat_ms"]
    return {
        "ops_per_s": len(lat) / w["window_s"],
        "p50_ms": metrics.median(lat),
        "cpu_ms_per_op": w["cpu_ms"] / len(lat),
        "ops": lat, "ok": w["ok"],
    }


def spark_totals(w):
    tot = {}
    for counts in w.get("spark", {}).values():
        for k, v in counts.items():
            if k in ("peak_exec_mem_mb", "skew_max"):
                tot[k] = max(tot.get(k, 0.0), v)
            else:
                tot[k] = tot.get(k, 0.0) + v
    return tot


def per_layer(args, raw, e2e, steal, spans):
    """Every per-layer metric; 0 where a layer is not on this workload's
    path."""
    m = {name: 0.0 for name, _ in PER_LAYER}
    w = raw["traced"]
    analytics = args.workload in ANALYTICS
    n = len(w["ops"]) if analytics else len(w["lat_ms"])
    m["setup.session_s"] = metrics.median(raw["setup.session_s"])
    if analytics:
        m["setup.tables_s"] = metrics.median(raw["setup.tables_s"])
        m["setup.warm_s"] = raw["setup.warm_s"]
        ph = {}
        for o in w["ops"]:
            for k, v in o.get("phases", {}).items():
                ph[k] = ph.get(k, 0.0) + v
        for k in ("parsing", "analysis", "optimization", "planning"):
            name = "parse" if k == "parsing" else k
            m[f"plan.{name}_ms"] = ph.get(k, 0.0) / n
        m["plan.codegen_ms"] = sum(o["codegen_ms"] for o in w["ops"]) / n
        m["plan.codegen_classes"] = sum(o["codegen_classes"] for o in w["ops"]) / n
        m["ext.shared_builds"] = metrics.median(w["shared_builds"])
        by_q = {}
        for o in w["ops"]:
            by_q.setdefault(o["q"], []).append(o["ms"] / 1e3)
        for r in PIPELINE_ROWS:
            if r in by_q:
                m[f"query.{r}_s"] = metrics.median(by_q[r])
    else:
        m["setup.preload_s"] = metrics.median(raw["setup.preload_s"])
        rp = w["replay"]
        m["engine.insert_ms"] = metrics.median(rp["engine_ms"])
        m["command.decode_us"] = metrics.median(rp["decode_us"])
        m["command.encode_us"] = metrics.median(rp["encode_us"])
        m["server.http_overhead_ms"] = (metrics.median(w["lat_ms"])
                                        - m["engine.insert_ms"])
        m["engine.blocked_ms_per_op"] = w["blocked_ms"] / n
        tot = spark_totals(w)
        m["engine.spark_jobs_per_op"] = tot.get("jobs", 0.0) / n
        m["engine.spark_tasks_per_op"] = tot.get("tasks", 0.0) / n
        m["engine.checkpoints"] = raw["checkpoints"]
        m["engine.checkpoint_ms"] = raw["checkpoint_ms"]
        if raw.get("journal_lines"):
            m["engine.journal_bytes_per_op"] = raw["journal_bytes"] / raw["journal_lines"]
        m["engine.write_bytes_per_op"] = w["write_bytes"] / n
        m["engine.disk_mb_per_krow"] = raw["disk_bytes"] / 1048576.0 / (raw["rows"] / 1e3)
    m["server.ping_ms"] = metrics.median(raw["ping_ms"]) if "ping_ms" in raw else 0.0
    tot = spark_totals(w)
    if tot:
        m["spark.jobs_per_query"] = tot["jobs"] / n
        m["spark.stages_per_query"] = tot["stages"] / n
        m["spark.tasks_per_query"] = tot["tasks"] / n
        m["spark.task_cpu_s"] = tot["task_cpu_s"] / n
        m["spark.task_run_s"] = tot["task_run_s"] / n
        m["spark.cpu_util"] = (tot["task_cpu_s"] / tot["task_run_s"]
                               if tot["task_run_s"] else 0.0)
        m["spark.skew_max"] = tot["skew_max"]
        m["spark.shuffle_write_mb"] = tot["shuffle_write_mb"] / n
        m["spark.shuffle_read_mb"] = tot["shuffle_read_mb"] / n
        m["spark.gc_s"] = tot["gc_s"] / n
        m["spark.spill_mb"] = tot["spill_mb"] / n
        m["spark.peak_exec_mem_mb"] = tot["peak_exec_mem_mb"]
    m["jvm.gc_ms_per_op"] = w["gc_ms"] / n
    m["host.steal_frac"] = steal
    m["trace.overhead_frac"] = e2e["traced_p50_ms"] / e2e["p50_ms"] - 1.0
    m["trace.spans"] = len(spans)
    for layer, ms in metrics.self_times(spans).items():
        if f"self.{layer}_ms" in m:
            m[f"self.{layer}_ms"] = ms / n
    m["fail_frac"] = e2e["fail_frac"]
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops the JVM it started (see run_harness)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + DEADLINE_S
    if not os.path.isdir(os.path.join(SRC, "graft")) or not os.path.isdir(DATA):
        fail("run from a full checkout: product sources or data are missing")
    classpath = build(time.time() + 850)
    deadline = max(deadline, time.time() + 150)

    out = os.path.join(BUILD, f"run-{args.workload}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    stat0 = read_proc_stat()
    raw = run_harness(classpath, args, out, deadline)
    steal = metrics.steal_frac(stat0, read_proc_stat())

    analytics = args.workload in ANALYTICS
    mismatches = []
    if analytics:
        import oracle
        # a query that failed in the warm pass has no result, which the
        # oracle check counts; its error is printed here
        for msg in raw["warm_failures"]:
            print(f"FAILED {msg}")
        mismatches += oracle.check(DATA, os.path.join(out, "results"),
                                   raw["oracle_sql"])
        warm_ok = [True] * len(raw["oracle_sql"])
    else:
        mismatches += raw["state_failures"]
        warm_ok = [True] * (raw["warm_ops"] - raw["warm_failed"]) + \
            [False] * raw["warm_failed"]
    derive = analytics_e2e if analytics else ingest_e2e
    e2e = derive(raw["timed"])
    traced = derive(raw["traced"]) if args.trace else None
    if traced:
        e2e["traced_p50_ms"] = traced["p50_ms"]
    ok_flags = warm_ok + e2e["ok"] + (traced["ok"] if traced else [])
    attempted, failed = metrics.fail_accounting(ok_flags, mismatches)
    e2e["fail_frac"] = failed / attempted
    pct = TAIL_PCT[args.workload]
    tail_ms, n = metrics.tail(e2e["ops"], pct)
    values = {
        "setup_s": metrics.median(raw["setup_rounds_s"]),
        "ops_per_s": e2e["ops_per_s"], "p50_ms": e2e["p50_ms"],
        "tail_ms": tail_ms, "cpu_ms_per_op": e2e["cpu_ms_per_op"],
        "heap_mb": raw["heap_mb"],
    }
    if args.trace:
        spans_file = os.path.join(out, "spans.json")
        spans = json.load(open(spans_file)) if os.path.exists(spans_file) else []
        pl = per_layer(args, raw, e2e, steal, spans)
        out_metrics = {k: {"value": pl[k], "unit": u} for k, u in PER_LAYER}
    else:
        out_metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    for msg in mismatches:
        print(f"MISMATCH {msg}")
    ping = metrics.median(raw["ping_ms"]) if "ping_ms" in raw else None
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "tail": f"p{pct}", "tail_samples": n,
                      "host.steal_frac": steal, "server.ping_ms": ping,
                      "setup_rounds_s": raw["setup_rounds_s"]}))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
