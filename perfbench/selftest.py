#!/usr/bin/env python3
"""Self-test of the benchmark: one short run of each workload on tiny
inputs (sf 0.001), untraced and traced. It asserts that each run passes
its result check, that it emits every metric BENCHMARK.json names, with
that metric's unit, and that every job span of a traced run has a
statement span as its parent.

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            want = {m["name"]: m["unit"] for m in
                    bench["per_layer" if trace else "end_to_end"]}
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", "7", "--seconds", "0", "--trace", str(trace),
                 "--sf", "0.001"], cwd=ROOT, capture_output=True, text=True)
            tag = f"{w} trace={trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-500:]}")
                continue
            rec = json.loads(p.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in rec["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(got.items()) ^ set(want.items()))}")
            if not rec["correct"] or rec["failed"]:
                problems.append(f"{tag}: {rec['failed']} of {rec['attempted']} failed")
            if trace:
                res = json.load(open(os.path.join(
                    ROOT, ".bench_build", "results", f"{w}-seed7-trace1.json")))
                stmts = {s["span"] for s in res["spans"] if s.get("statement")}
                jobs = [s for s in res["spans"] if s["span"].startswith("job")]
                orphans = [s["span"] for s in jobs if s["parent"] not in stmts]
                if not jobs or orphans:
                    problems.append(f"{tag}: {len(jobs)} job spans, without a "
                                    f"statement parent: {orphans[:5]}")
            print(f"{tag}: checked", flush=True)
    for x in problems:
        print("FAIL", x)
    print("self-test", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
