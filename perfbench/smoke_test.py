#!/usr/bin/env python3
"""Smoke test of the benchmark itself: every workload runs briefly, untraced
and traced, on the default sf0.001-sized inputs. It asserts that each run
exits 0, that every output check passed, that the last line carries every
metric BENCHMARK.json names as a finite number, and that the workload's own
named metrics (with sample counts) were printed: every one in an untraced
run, `setup_s`, `heap_live_mb` and `error_rate` in a traced one.

Usage (from the checkout root): python3 perfbench/smoke_test.py [workload...]
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

NAMED = {
    "serve_refresh": ["read_p50_ms", "refresh_p50_ms", "refresh_sweep_s"],
    "ingest_live": ["read_p50_ms", "land_p50_s"],
    "corpus_admit": ["admit_p50_ms", "admit_docs_per_s"],
}
COMMON = ["setup_s", "heap_live_mb", "error_rate"]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    problems = []
    for w in workloads:
        for trace in (0, 1):
            before = len(problems)
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", "7", "--seconds", "5", "--trace", str(trace)],
                               cwd=ROOT, capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            tag = f"{w} trace={trace}"
            if r.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {r.returncode}\n{r.stdout[-2000:]}{r.stderr[-2000:]}")
                continue
            last = json.loads(lines[-1])
            if not last["correct"] or last["failed"]:
                problems.append(f"{tag}: output checks failed: {r.stdout[-2000:]}")
            want = bench["per_layer" if trace else "end_to_end"]
            for m in want:
                v = last["metrics"].get(m["name"], {}).get("value")
                if not isinstance(v, (int, float)) or not math.isfinite(v):
                    problems.append(f"{tag}: metric {m['name']} missing")
            detail = "\n".join(lines[:-1])
            # latencies come from untraced operations; a short traced
            # corpus_admit run fits one (traced) cycle
            for n in (COMMON if trace else NAMED[w] + COMMON):
                if f"{n}=" not in detail:
                    problems.append(f"{tag}: named metric {n} not printed")
            print(f"{tag}: {'ok' if len(problems) == before else 'FAILED'}", flush=True)
    if problems:
        print("\n".join(problems))
        sys.exit(1)
    print("smoke: all workloads ok")


if __name__ == "__main__":
    main()
