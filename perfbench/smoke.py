#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny size (sf0.001 fixtures, a few dozen
files, requests and queries). For every workload, untraced and traced, it
asserts that the run exits 0 with a correct result, that every metric named
in BENCHMARK.json prints with its unit, and that every correctness gate of
the workload ran at least once and passed.

    python3 perfbench/smoke.py        # from the repository root
"""
import json
import math
import os
import re
import subprocess
import sys

ROOT = os.getcwd()
GATES = {
    "ingest": ["ingest.bulk_live_count", "ingest.upload_success", "ingest.upload_live_count"],
    "serve": ["serve.index_live_count", "serve.status_200", "serve.top_k_bound",
              "serve.filter_source", "serve.brute_force_top_k", "serve.stats_count"],
    "batch": ["batch.result_hash", "batch.row_count"],
}


def run(workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "3", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec_workloads(spec):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, out, err = run(w, trace)
            tag = f"{w} trace={trace}"
            before = len(problems)
            if code != 0 or not out:
                problems.append(f"{tag}: exit {code}\n{err[-2000:]}")
                continue
            r = json.loads(out[-1])
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(r)}")
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                problems.append(f"{tag}: correct={r['correct']} failed={r['failed']} attempted={r['attempted']}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {n: v.get("unit") for n, v in r["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                                f"units {[n for n in want if n in got and got[n] != want[n]]}")
            for n, v in r["metrics"].items():
                if not isinstance(v.get("value"), (int, float)) or not math.isfinite(v["value"]):
                    problems.append(f"{tag}: {n} is not a finite number")
            for g in GATES[w]:
                m = re.search(rf"gate {re.escape(g)}: (\d+) checks, (\d+) failed", err)
                if not m or int(m.group(1)) < 1 or int(m.group(2)) != 0:
                    problems.append(f"{tag}: gate {g} did not run and pass")
            print(f"{'ok  ' if len(problems) == before else 'FAIL'} {tag}", flush=True)
    for p in problems:
        print(f"FAIL {p}")
    sys.exit(1 if problems else 0)


def spec_workloads(spec):
    return [w["name"] for w in spec["workloads"]]


if __name__ == "__main__":
    main()
