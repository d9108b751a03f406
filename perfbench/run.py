#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the checkout root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --workload all --seed N --seconds S --trace 0

Builds the program from source (build.py), generates the workload's inputs
from the seed (gen.py), runs the harness JVM (perfbench.Bench) and prints, as
the last line, one JSON object with `correct`, `attempted`, `failed` and the
end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`) named
in BENCHMARK.json. Earlier lines carry the workload's named metrics with
their sample counts. Exits non-zero when an output check fails.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["serve_refresh", "ingest_live", "corpus_admit"]
# open-loop arrival rate: serve_refresh requests/s, ingest_live batches/s
RATES = {"serve_refresh": 4.0, "ingest_live": 0.5, "corpus_admit": 1.0}
RUN_TIMEOUT_S = 170

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def java_cmd(jar, jars, work, extra=()):
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *extra]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", jar + os.pathsep + os.path.join(jars, "*"), "perfbench.Bench"]


def gen(workload, seed, seconds, out):
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed),
                    "--out", out, "--workload", workload, "--seconds", str(seconds),
                    "--rate", str(RATES[workload])], check=True)


def class_archive(workload):
    """JVM options for the class-data-sharing archive of the classes a
    workload loads, and the stamp to write once the run succeeds. The first
    run of each workload after a build dumps the archive at exit; later runs
    map it instead of loading and verifying ~20k classes cold.
    """
    build_dir = os.path.join(ROOT, ".bench_build")
    jsa = os.path.join(build_dir, f"{workload}.jsa")
    stamp = jsa + ".stamp"
    with open(os.path.join(build_dir, "bench.stamp")) as f:
        want = f.read()
    if os.path.exists(jsa) and os.path.exists(stamp) and open(stamp).read() == want:
        return [f"-XX:SharedArchiveFile={jsa}"], None
    for p in (jsa, stamp):
        if os.path.exists(p):
            os.remove(p)
    return [f"-XX:ArchiveClassesAtExit={jsa}"], (jsa, stamp, want)


def run_one(workload, seed, seconds, trace):
    jar, jars = build.build(ROOT)
    started = time.time()  # the build is a one-time cost
    cds, dump = class_archive(workload)
    run_dir = os.path.join(ROOT, ".bench_build", "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, work = os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen(workload, seed, seconds, inp)
        out = os.path.join(run_dir, "result.json")
        log = os.path.join(run_dir, "harness.log")
        cmd = java_cmd(jar, jars, work, cds)
        cmd += ["--workload", workload, "--input", inp, "--work", work,
                "--seconds", str(seconds), "--trace", str(trace), "--out", out]
        budget = max(10.0, RUN_TIMEOUT_S - (time.time() - started))
        with open(log, "w") as lf:
            try:
                subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                               timeout=budget)
            except subprocess.TimeoutExpired:
                pass
        if dump and os.path.exists(out) and os.path.exists(dump[0]):
            with open(dump[1], "w") as f:
                f.write(dump[2])
        if not os.path.exists(out):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-6000:])
            raise SystemExit(f"perfbench: {workload} produced no result")
        with open(out) as f:
            res = json.load(f)
        if trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                keep = os.path.join(ROOT, ".bench_build", f"spans-{workload}-{seed}.jsonl")
                shutil.move(spans, keep)
                res["spans_file"] = os.path.relpath(keep, ROOT)
        if res.get("crashed"):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-6000:])
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def final_line(res, trace, bench):
    """The contract line: every metric of the chosen list, as measured."""
    metrics, missing = {}, []
    if trace:
        for m in bench["per_layer"]:
            # a layer the workload does not exercise did no work: 0
            v = res["layers"].get(m["name"], 0.0)
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        for m in bench["end_to_end"]:
            v = res["e2e"].get(m["name"], {}).get("value")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for k, v in metrics.items():
        if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
            missing.append(k)
            v["value"] = 0.0
    correct = not res.get("crashed") and res["failed"] == 0 and not missing
    return {"correct": correct, "attempted": max(1, int(res["attempted"])),
            "failed": int(res["failed"]) + (1 if missing else 0) +
            (1 if res.get("crashed") else 0),
            "metrics": metrics}, missing


def report(res, missing):
    named = ", ".join(f"{k}={v['value']:.4g} {v['unit']} (n={v['n']})"
                      for k, v in res["named"].items())
    print(f"[{res['workload']}] setup reps {res['setup_reps']} s, session "
          f"{res['session_s']:.2f} s, measured {res['measured_s']:.2f} s, checks {res['check_s']:.2f} s")
    print(f"[{res['workload']}] {named}")
    for f in res.get("failures", []):
        print(f"[{res['workload']}] FAILED: {f}")
    if res.get("crashed"):
        print(f"[{res['workload']}] CRASHED: {res['crashed']}")
    if missing:
        print(f"[{res['workload']}] metrics not measured: {', '.join(missing)}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    bench = spec()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    lines = []
    for w in names:
        res = run_one(w, a.seed, a.seconds, a.trace)
        line, missing = final_line(res, a.trace, bench)
        report(res, missing)
        lines.append((w, line))
    if len(lines) == 1:
        line = lines[0][1]
    else:
        line = {"correct": all(l["correct"] for _, l in lines),
                "attempted": sum(l["attempted"] for _, l in lines),
                "failed": sum(l["failed"] for _, l in lines),
                "metrics": {f"{w}.{k}": v for w, l in lines for k, v in l["metrics"].items()}}
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
