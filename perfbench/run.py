#!/usr/bin/env python3
"""graft's layered benchmark: one workload, one run.

    python3 perfbench/run.py --workload <relational|llm_corpus|lakehouse> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles graft
and the harness (perfbench/build.sbt) into .bench_build/. Inputs are
generated from the seed (perfbench/gen.py). The harness (perfbench.Main)
runs the workload in one JVM; this script checks every statement's result
against its DuckDB oracle, derives the metrics (perfbench/metrics.py) and
prints them, one line each, with the JSON record as the last line. With
--trace 0 the record carries the end-to-end metrics, with --trace 1 the
per-layer ones. The full record, including the spans of a traced run,
goes to .bench_build/results/. The workloads are defined in
perfbench/workloads.json; --sf overrides their scale factor (the
self-test, perfbench/selftest.py, runs them on tiny inputs), and --data
runs them on existing inputs, such as graft's test data, instead of
generated ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
RUN_LIMIT_S = 170          # a run (after any build) ends within this
BUILD_LIMIT_S = 800
MAX_LOAD = 3.0             # graft.Bench's quiet-box threshold
GATE_WAIT_S = 5            # longest wait of the quiet-box gate
# the module opens Spark needs on JDK 17 outside spark-submit (the same
# list as the root build.sbt)
JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads from the repository."""
    h = hashlib.sha256()
    roots = [SRC, os.path.join(ROOT, "src", "main", "resources"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD, "tmp")  # sbt's own scratch files stay in the checkout
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "Compile/products"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        fail(f"build failed, see {os.path.join(BUILD, 'build.log')}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def loadavg():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except (OSError, ValueError):
        return -1.0


def quiet_gate():
    """graft.Bench's quiet-box gate, with a shorter wait: wait for the
    1-minute load average to fall to SPARK_GRAFT_MAX_LOAD (default 3.0),
    at most GATE_WAIT_S seconds, then record it, so that runs made on a
    busy box can be told apart. Never aborts."""
    limit = float(os.environ.get("SPARK_GRAFT_MAX_LOAD", MAX_LOAD))
    t0 = time.time()
    while loadavg() > limit and time.time() - t0 < GATE_WAIT_S:
        time.sleep(1)
    load = loadavg()
    return {"loadavg_start": load, "max_load": limit, "quiet": load <= limit,
            "gate_wait_s": round(time.time() - t0, 1)}


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def driver_heap():
    """Half the machine's memory, between 2 and 4 GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        return f"{min(4, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(out, data, stmts, args, micro_rows, deadline, log_path):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    heap = driver_heap()
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + [f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
              "perfbench.Main", "--data", data, "--out", out,
              "--statements", ",".join(stmts), "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--micro-rows", str(micro_rows)])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("the run did not finish in time", 4)
        finally:  # never leave the harness running, whatever ends this run
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        tail = open(log_path).read()[-3000:]
        fail(f"harness exited with {code}:\n{tail}", 5)
    return heap


def main():
    # a terminated run unwinds, so that it stops the harness it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="scale factor (default: workloads.json)")
    ap.add_argument("--data", help="read the inputs from this directory (the ten "
                    "parquet tables) instead of generating them")
    args = ap.parse_args()

    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}", 2)
    if not os.path.exists(os.path.join(SRC, "graft", "SparkEntry.scala")):
        fail("graft's sources (src/main/scala) are not in this directory", 2)
    wl = spec["workloads"][args.workload]
    stmts = wl["statements"]
    sf = args.sf or spec["sf"]

    build()
    deadline = time.time() + RUN_LIMIT_S
    t = time.time()
    if args.data:
        data = os.path.abspath(args.data)
    else:
        with open(gen.__file__, "rb") as f:
            gen_id = hashlib.sha256(f.read()).hexdigest()[:8]
        data = os.path.join(BUILD, "data", f"sf{sf}-seed{args.seed}-{gen_id}")
        gen.write(data, sf, args.seed)
    gen_s = time.time() - t
    box = quiet_gate()
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}" + ("-data" if args.data else "")
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    out = os.path.join(BUILD, "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    micro = spec["micro_rows"] if args.trace and wl["micro"] else 0
    steal0, total0 = cpu_ticks()
    try:
        heap = run_jvm(out, data, stmts, args, micro, deadline,
                       os.path.join(BUILD, "results", name + ".log"))
        rec = json.load(open(os.path.join(out, "record.json")))
        failures = check.check(data, os.path.join(out, "check"), stmts,
                               rec["oracle_sql"], rec["check_errors"])
        result_rows = check.result_rows(os.path.join(out, "check"), stmts)
    finally:
        shutil.rmtree(out, ignore_errors=True)

    steal1, total1 = cpu_ticks()
    # time the hypervisor gave this machine's CPUs to other guests: a
    # run with a high share was measured on a busy host
    box["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    modules = metrics.module_map(SRC)
    runs = [e for p in rec["passes"] if not p["traced"] for e in p["statements"]]
    attempted = len(runs)
    failed = sum(1 for e in runs if e["error"] is not None or e["id"] in failures)
    result = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "statements": stmts, "rows": check.table_rows(data),
              "data": args.data or "generated", "sf": sf, "input_gen_s": gen_s,
              "nproc": os.cpu_count(),
              "driver_heap": heap, "spark_conf": rec["spark_conf"], **box,
              "attempted": attempted, "failed": failed,
              "failed_frac": failed / attempted, "check_failures": failures,
              "result_rows": result_rows,
              "stmt_s": {s: [(e["t1_us"] - e["t0_us"]) / 1e6 for e in runs if e["id"] == s]
                         for s in stmts}}
    result["stmt_median_s"] = {s: statistics.median(v) for s, v in result["stmt_s"].items()}
    if args.trace:
        vals, na = metrics.per_layer(rec, modules, args.workload)
        units = dict(metrics.PER_LAYER)
        result["spans"], result["orphan_jobs"] = metrics.spans(rec, modules)
        result["na"] = na
        # what stays resident once the bench has cleared the cache: blocks
        # a statement pinned and did not release
        cleared = [e["storage_after_clear"] for p in rec["passes"] if p["traced"]
                   for e in p["statements"]]
        result["blockmgr_after_clear_mb_max"] = max(x["mb"] for x in cleared)
        result["blockmgr_after_clear_rdds_max"] = max(x["rdds"] for x in cleared)
        result["functions"] = rec.get("functions")
    else:
        vals, info = metrics.end_to_end(rec)
        units = dict(metrics.END_TO_END)
        result.update(info)
    result["metrics"] = {k: {"value": vals[k], "unit": units[k]} for k in units}
    with open(os.path.join(BUILD, "results", name + ".json"), "w") as f:
        json.dump(result, f, indent=1)

    for s, why in sorted(failures.items()):
        print(f"check failed: {s}: {why}")
    na = result.get("na", {})
    for k, u in units.items():
        print(f"{k} {vals[k]:.6g} {u}" + (f"  (n/a: {na[k]})" if k in na else ""))
    print(f"failed_frac {failed / attempted:.6g} ratio ({failed}/{attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result["metrics"]}))


if __name__ == "__main__":
    main()
