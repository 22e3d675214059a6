#!/usr/bin/env python3
"""Per-change A/B benchmark of the Spark engine.

    python3 perfbench/run.py --workload ts_bulk --seed 1 --seconds 5 --trace 0

Run from the repository root. Builds the program and the harness from
source (sbt, once per source state), generates the seeded inputs, runs one
harness JVM, checks every operation's output against the DuckDB oracle (or
the engine's own equality check) and prints one JSON line: with `--trace 0`
the end-to-end metrics, with `--trace 1` the per-layer metrics.
Workloads are in perfbench/workloads.json, input sizes in gen_inputs.SIZES,
and the profiles behind them in perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_inputs  # noqa: E402
import metrics  # noqa: E402

T0 = time.time()
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
# Seconds a run may take outside the build, harness JVM included; the oracle
# check after the JVM needs a few more.
RUN_LIMIT_S = 150
BUILD_LIMIT_S = 800
# The serial collector, not the program's default G1: on 4 cores G1's
# concurrent threads compete with the 4 task threads, and its heap sizing made
# the peak RSS of identical runs differ by up to 60%. The 1 GB initial heap
# keeps peak RSS steady (without it, 0.17 quartile spread over 5 seeds); a
# footprint change below that floor shows in jvm.old_gen_peak_mb instead.
JVM_OPTS = [
    "-Xms1g", "-Xmx3g", "-XX:+UseSerialGC", "-XX:ReservedCodeCacheSize=512m",
    "-Xss64m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


_children = []


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout or on a signal to this
    process, kill the whole group and wait for it. Returns the exit code."""
    proc = subprocess.Popen(cmd, start_new_session=True,
                            stdin=subprocess.DEVNULL, **kw)
    _children.append(proc)
    try:
        return proc.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        fail("%s timed out after %ds" % (cmd[0], timeout))
    finally:
        _kill(proc)
        _children.remove(proc)


def _kill(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def _on_signal(signum, _frame):
    for proc in list(_children):
        _kill(proc)
    sys.exit(128 + signum)


def check_checkout():
    need = ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
            "scripts/check_oracle.py"]
    missing = [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        fail("run from the repository root; missing " + ", ".join(missing))


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt; returns the runtime classpath."""
    out = os.path.join(WORK, "build")
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    log_path = os.path.join(out, "sbt.log")
    with open(log_path, "w") as log:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       BUILD_LIMIT_S, cwd=HERE, env=env, stdout=log,
                       stderr=subprocess.STDOUT)
    lines = open(log_path).read().splitlines()
    cps = [ln for ln in lines if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def inputs(seed):
    """Seeded input directory (reused if already made)."""
    d = os.path.join(WORK, "inputs", "seed%d" % seed)
    info_file = os.path.join(d, "info.json")
    if os.path.isfile(info_file):
        return d, json.load(open(info_file))
    tmp = d + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    info = gen_inputs.generate(tmp, seed)
    with open(os.path.join(tmp, "info.json"), "w") as f:
        json.dump(info, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, info


def run_harness(cp, wl, spec, in_dir, info, args, out, deadline):
    rows = {t: info[t]["rows"] for t in info}
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp,
                                 "perfbench.Harness",
                                 "--workload", wl, "--ops", ",".join(spec["ops"]),
                                 "--input", in_dir, "--out", out,
                                 "--seconds", str(args.seconds),
                                 "--seed", str(args.seed),
                                 "--trace", str(args.trace),
                                 "--setups", str(spec["setups"]),
                                 "--table-rows",
                                 ",".join("%s=%d" % kv for kv in rows.items())]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        rc = run_group(cmd, deadline - time.time(), cwd=ROOT, env=env,
                       stdout=log, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail("harness exited %d" % rc)
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    spans = [json.loads(ln) for ln in open(os.path.join(out, "spans.jsonl"))
             if ln.strip()]
    return res, spans


def load_check_oracle():
    path = os.path.join(ROOT, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_failures(res, in_dir, out):
    """Hash-compare every dumped query output with its oracle SQL in DuckDB,
    canonicalised exactly as scripts/check_oracle.py does. Returns
    {query: reason} for each mismatch, missing dump or error."""
    import duckdb
    import pandas as pd
    co = load_check_oracle()
    con = duckdb.connect()
    for t in co.TABLES:
        p = os.path.join(in_dir, t + ".parquet")
        if os.path.exists(p):
            con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, p))
    bad = {}
    for name, sql in sorted(res["oracle_sql"].items()):
        if not res["verified"].get(name):
            continue  # already counted as a failure by the harness
        try:
            d = os.path.join(out, "dump", name)
            files = sorted(os.path.join(d, f) for f in os.listdir(d)
                           if f.endswith(".parquet"))
            if not files:
                bad[name] = "no output files"
                continue
            got = co.canon(pd.concat([pd.read_parquet(f) for f in files]))
            exp = co.canon(con.sql(sql).df())
        except Exception as e:  # noqa: BLE001 - any error fails the query
            bad[name] = "%s: %s" % (type(e).__name__, str(e)[:300])
            continue
        if list(got.columns) != list(exp.columns):
            bad[name] = "schema %s vs %s" % (list(got.columns), list(exp.columns))
        elif len(got) != len(exp):
            bad[name] = "rows %d vs %d" % (len(got), len(exp))
        elif co.value_hash(got) != co.value_hash(exp):
            bad[name] = "hash mismatch"
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    check_checkout()
    specs = json.load(open(os.path.join(HERE, "workloads.json")))["workloads"]
    if args.workload not in specs:
        fail("unknown workload %s (have %s)" % (args.workload, ", ".join(specs)))
    spec = specs[args.workload]
    t_build = time.time()
    cp = build()
    deadline = time.time() + RUN_LIMIT_S - (t_build - T0)
    t_inputs = time.time()
    in_dir, info = inputs(args.seed)
    out = os.path.join(WORK, "runs", "%s_seed%d_trace%d_%d" % (
        args.workload, args.seed, args.trace, os.getpid()))
    shutil.rmtree(out, ignore_errors=True)
    t_jvm = time.time()
    res, spans = run_harness(cp, args.workload, spec, in_dir, info, args, out,
                              deadline)
    t_oracle = time.time()
    bad = oracle_failures(res, in_dir, out)
    print("perfbench: build %.1f s, inputs %.1f s, harness %.1f s, oracle %.1f s"
          % (t_inputs - t_build, t_jvm - t_inputs, t_oracle - t_jvm,
             time.time() - t_oracle), file=sys.stderr)
    for f in res["failures"]:
        print("FAILED %s (%s): %s" % (f["op"], f["phase"], f["error"]), file=sys.stderr)
    for name, why in bad.items():
        print("MISMATCH %s: %s" % (name, why), file=sys.stderr)
    timed = res["samples"] + res["traced_samples"]
    attempted = len(timed) + len(res["verified"])
    failed = sum(1 for s in timed if not s["ok"]) + \
        sum(1 for ok in res["verified"].values() if not ok) + len(bad)
    n = len(res["samples"])
    print("perfbench: %d timed samples, %d beyond the median" % (
        n, metrics.tail_count([s["s"] for s in res["samples"]], 0.5) if n else 0),
        file=sys.stderr)
    m = metrics.per_layer(res, spans) if args.trace else metrics.end_to_end(res)
    m = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    print(json.dumps({"samples": n, "passes": res["passes"],
                      "setup_s_all": res["setup_s"]}), file=sys.stderr)
    for d in ("dump", "scratch", "tmp"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": m}))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    main()
