"""Metrics and spans from the run record that perfbench.Main writes.

End-to-end metrics come from the untraced passes, per-layer metrics from
the traced ones. A per-pass figure is summed over the pass's statements.
wall_s and cpu_s are the median of their per-pass figures, and
stmt_p50_s and stmt_p90_s the median and 90th percentile of every
measured statement execution of the run, pooled over its statements; all
four by the Harrell-Davis estimator (percentile()). A per-layer figure is
the median over the traced passes; maxima are taken over every traced
statement.
"""
import math
import os
import re
import statistics

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("stmt_p50_s", "s"),
              ("stmt_p90_s", "s"), ("cpu_s", "s")]

MODULES = ["core", "ops", "tables", "sql", "streaming", "dedup", "sim",
           "text", "ml", "mm"]

FUNCTIONS = ["vec_dot", "minhash_sig", "simhash60", "hyperplane_lsh",
             "array_count_in", "sorted_intersect_count", "nfc_normalize",
             "url_canon"]

PER_LAYER = (
    [("ops.build_s", "s"), ("ops.run_s", "s"), ("ops.build_jobs", "count"),
     ("spark.jobs", "count"), ("spark.stages", "count"),
     ("spark.tasks", "count"), ("spark.job_busy_s", "s"),
     ("spark.driver_gap_s", "s"), ("spark.executor_run_s", "s"),
     ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
     ("spark.slot_util", "ratio"), ("spark.task_skew_max", "ratio"),
     ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
     ("spark.spill_mb", "MB"),
     ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
     ("catalyst.planning_s", "s"), ("catalyst.executions", "count")]
    + [(f"{m}.{k}", u) for m in MODULES if m != "ops"
       for k, u in (("jobs", "count"), ("job_s", "s"))]
    + [("ops.jobs", "count"), ("ops.job_s", "s"),
       ("tables.fs_meta_ops", "count"), ("tables.fs_list_ops", "count"),
       ("tables.fs_create_ops", "count"), ("tables.fs_rename_ops", "count"),
       ("tables.fs_delete_ops", "count"), ("tables.bytes_written_mb", "MB"),
       ("tables.bytes_read_mb", "MB"),
       ("streaming.batches", "count"), ("streaming.batch_p50_ms", "ms"),
       ("streaming.batch_max_ms", "ms"), ("streaming.input_rows", "count"),
       ("blockmgr.resident_mb_max", "MB"), ("blockmgr.rdds_resident_max", "count")]
    + [(f"functions.{f}.rows_per_s", "1/s") for f in FUNCTIONS]
    + [("functions.vec_dot.decl_rows_per_s", "1/s"),
       ("functions.array_count_in.decl_rows_per_s", "1/s"),
       ("trace.overhead_frac", "ratio")])


def _betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz)."""
    if x <= 0.0 or x >= 1.0:
        return max(0.0, min(1.0, x))
    if x > (a + 1) / (a + b + 2):
        return 1.0 - _betainc(b, a, 1.0 - x)
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log(1.0 - x))
    return front * h / a


def percentile(xs, q):
    """The q-quantile (q in (0, 1)) of the samples, by the Harrell-Davis
    estimator: a weighted mean of every order statistic, with weights
    from the Beta(q(n+1), (1-q)(n+1)) distribution. A statement latency
    percentile over a few passes of a few statements then moves with the
    executions around it, not with the single execution that happens to
    sit at that rank."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def union_s(intervals):
    """Seconds covered by the union of (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _lat(e):
    return (e["t1_us"] - e["t0_us"]) / 1e6


def module_map(src_root):
    """Scala file name -> module, from graft's source tree."""
    out = {}
    base = os.path.join(src_root, "graft")
    for d, _, files in os.walk(base):
        rel = os.path.relpath(d, base)
        for f in files:
            if f.endswith(".scala"):
                out[f] = "graft" if rel == "." else rel.split(os.sep)[0]
    return out


def site_module(site, modules):
    m = re.search(r" at (\w+\.scala):\d+", site or "")
    return modules.get(m.group(1), "bench") if m else "bench"


def parent(job, execs):
    """The statement execution a job belongs to: its job group, unless the
    program replaced the group (a streaming query sets its own), then the
    statement that was running when the job started."""
    return job["group"] if job["group"] in execs else job["exec"]


def end_to_end(rec):
    passes = [p for p in rec["passes"] if not p["traced"]]
    execs = [e for p in passes for e in p["statements"]]
    ok = [_lat(e) for e in execs if e["error"] is None]
    walls = [sum(_lat(e) for e in p["statements"]) for p in passes]
    return {
        "setup_s": rec["setup_s"],
        "wall_s": percentile(walls, 0.5),
        "stmt_p50_s": percentile(ok, 0.5),
        "stmt_p90_s": percentile(ok, 0.9),
        "cpu_s": percentile([p["cpu_s"] for p in passes], 0.5),
    }, {"passes": len(passes), "stmt_samples": len(ok),
        "samples_beyond_p90": sum(1 for x in ok if x > percentile(ok, 0.9)),
        "pass_wall_s": walls}


def spans(rec, modules):
    """Statement spans with build/run children, and job spans whose parent
    is the statement execution that launched them (traced passes only)."""
    stmts = {e["exec"]: e for p in rec["passes"] if p["traced"]
             for e in p["statements"]}
    out, orphans = [], 0
    for j in rec["jobs"]:
        up = parent(j, stmts)
        if up not in stmts:
            orphans += 1
        out.append({"span": f"job{j['id']}", "parent": up,
                    "start_us": j["t0_ms"] * 1000, "end_us": j["t1_ms"] * 1000,
                    "phase": j["phase"], "site": j["site"],
                    "module": site_module(j["site"], modules)})
    for x, e in stmts.items():
        mine = [(s["start_us"], s["end_us"]) for s in out if s["parent"] == x]

        def self_s(a, b):
            clipped = [(max(a, s), min(b, t)) for s, t in mine if t > a and s < b]
            return (b - a) / 1e6 - union_s(clipped) / 1e6
        out.append({"span": x, "parent": None, "statement": e["id"],
                    "start_us": e["t0_us"], "end_us": e["t1_us"]})
        out.append({"span": x + "/build", "parent": x, "start_us": e["t0_us"],
                    "end_us": e["tb_us"], "self_s": self_s(e["t0_us"], e["tb_us"])})
        out.append({"span": x + "/run", "parent": x, "start_us": e["tb_us"],
                    "end_us": e["t1_us"], "self_s": self_s(e["tb_us"], e["t1_us"])})
    return out, orphans


def per_layer(rec, modules, workload):
    """(metrics, n/a reasons) for a traced run."""
    traced = [p for p in rec["passes"] if p["traced"]]
    plain = [p for p in rec["passes"] if not p["traced"]]
    stages = {s["id"]: s for s in rec["stages"]}
    cores = rec["cores"]
    rows = []
    for p in traced:
        ids = {e["exec"] for e in p["statements"]}
        jobs = [j for j in rec["jobs"] if parent(j, ids) in ids]
        st = [stages[i] for i in sorted({i for j in jobs for i in j["stages"]})
              if i in stages]
        qe = [q for q in rec["query_executions"] if q["exec"] in ids]
        wall = sum(_lat(e) for e in p["statements"])
        busy = union_s([(j["t0_ms"] / 1e3, j["t1_ms"] / 1e3) for j in jobs])
        run_s = sum(s["run_ms"] for s in st) / 1e3
        skews = [max(s["task_ms"]) / statistics.median(s["task_ms"])
                 for s in st if len(s["task_ms"]) > 1 and statistics.median(s["task_ms"]) > 0]
        fs = lambda k: sum(e["fs"][k] for e in p["statements"])
        r = {
            "ops.build_s": sum((e["tb_us"] - e["t0_us"]) / 1e6 for e in p["statements"]),
            "ops.run_s": sum((e["t1_us"] - e["tb_us"]) / 1e6 for e in p["statements"]),
            "ops.build_jobs": sum(1 for j in jobs if j["phase"] == "build"),
            "spark.jobs": len(jobs),
            "spark.stages": len(st),
            "spark.tasks": sum(s["tasks"] for s in st),
            "spark.job_busy_s": busy,
            "spark.driver_gap_s": wall - busy,
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
            "spark.gc_s": sum(s["gc_ms"] for s in st) / 1e3,
            "spark.slot_util": run_s / (busy * cores) if busy > 0 else 0.0,
            "spark.task_skew_max": max(skews, default=1.0),
            "spark.shuffle_write_mb": sum(s["shuffle_write"] for s in st) / 1e6,
            "spark.shuffle_read_mb": sum(s["shuffle_read"] for s in st) / 1e6,
            "spark.spill_mb": sum(s["spill"] for s in st) / 1e6,
            "catalyst.analysis_s": sum(q["analysis_ms"] for q in qe) / 1e3,
            "catalyst.optimization_s": sum(q["optimization_ms"] for q in qe) / 1e3,
            "catalyst.planning_s": sum(q["planning_ms"] for q in qe) / 1e3,
            "catalyst.executions": len(qe),
            "tables.fs_meta_ops": fs("meta"),
            "tables.fs_list_ops": fs("list"),
            "tables.fs_create_ops": fs("create"),
            "tables.fs_rename_ops": fs("rename"),
            "tables.fs_delete_ops": fs("delete"),
            "tables.bytes_written_mb": fs("bytes_written") / 1e6,
            "tables.bytes_read_mb": fs("bytes_read") / 1e6,
        }
        for m in MODULES:
            mine = [j for j in jobs if site_module(j["site"], modules) == m]
            r[f"{m}.jobs"] = len(mine)
            r[f"{m}.job_s"] = sum(j["t1_ms"] - j["t0_ms"] for j in mine) / 1e3
        rows.append(r)
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    na = {}
    for m in MODULES:
        if out[f"{m}.jobs"] == 0:
            for k in ("jobs", "job_s"):
                na[f"{m}.{k}"] = (f"no job of {workload} has its call site in {m}'s "
                                  "files: see perfbench/workloads.json, job_attribution")

    prog = [s for s in rec["stream_progress"]
            if any(s["exec"] == e["exec"] for p in traced for e in p["statements"])]
    durs = [s["duration_ms"] for s in prog]
    out["streaming.batches"] = len(prog) / len(traced)
    out["streaming.batch_p50_ms"] = percentile(durs, 0.5)
    out["streaming.batch_max_ms"] = max(durs, default=0.0)
    out["streaming.input_rows"] = sum(s["input_rows"] for s in prog) / len(traced)
    if not prog:
        for k in ("batches", "batch_p50_ms", "batch_max_ms", "input_rows"):
            na[f"streaming.{k}"] = f"no statement in {workload} runs a Structured Streaming query"

    held = [x for p in traced for e in p["statements"]
            for x in (e["storage"], e["storage_after_clear"])]
    out["blockmgr.resident_mb_max"] = max(x["mb"] for x in held)
    out["blockmgr.rdds_resident_max"] = max(x["rdds"] for x in held)

    fn = rec.get("functions")
    for f in FUNCTIONS:
        out[f"functions.{f}.rows_per_s"] = fn[f]["rows_per_s"] if fn else 0.0
    for f in ("vec_dot", "array_count_in"):
        out[f"functions.{f}.decl_rows_per_s"] = fn[f + ".decl"]["rows_per_s"] if fn else 0.0
    if not fn:
        for k in out:
            if k.startswith("functions."):
                na[k] = "the functions microbench runs in the traced llm_corpus run only"

    tw = statistics.median(sum(_lat(e) for e in p["statements"]) for p in traced)
    uw = statistics.median(sum(_lat(e) for e in p["statements"]) for p in plain)
    out["trace.overhead_frac"] = (tw - uw) / uw
    return out, na
