#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarize it.

    python3 perfbench/sweep.py [--workloads a,b] [--seeds 1-10] [--seconds S]
                               [--trace 0|1|both] [--out FILE]

For each workload and end-to-end metric it prints the median, the
quartiles (statistics.quantiles, n=4) and the spread (q3 - q1) / median
next to the metric's bound from BENCHMARK.json. With --trace both every
seed also runs traced; the per-layer medians are added, and the tracing
overhead is the traced minus the untraced end-to-end median. --out
writes every run and the summary as JSON (the committed HEAD record is
such a file).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        line = json.loads(last)
    except ValueError:
        line = None
    build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    detail_path = os.path.join(build, "results", f"{workload}-seed{seed}-trace{trace}.json")
    detail = json.load(open(detail_path)) if os.path.exists(detail_path) else {}
    return {"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
            "wall_s": round(wall, 1), "line": line, "stderr_tail": p.stderr[-2000:] if p.returncode else "",
            "e2e": detail.get("metrics", {}), "layers": detail.get("layers", {}),
            "info": {k: v for k, v in detail.get("info", {}).items() if k not in ("counts", "cold_ms")},
            "failures": detail.get("failures", [])}


def summary(values):
    if len(values) < 2:
        return None
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None, "n": len(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="all")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1", "both"))
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = [w["name"] for w in spec["workloads"]] if args.workloads == "all" else args.workloads.split(",")
    seconds = args.seconds or spec["run_seconds"]
    traces = [0, 1] if args.trace == "both" else [int(args.trace)]

    runs = []
    for w in workloads:
        for s in seeds_of(args.seeds):
            for t in traces:
                r = run_once(w, s, seconds, t)
                runs.append(r)
                ok = r["line"] and r["line"]["correct"]
                print(f"{w} seed={s} trace={t} exit={r['exit']} correct={bool(ok)} wall={r['wall_s']}s "
                      + " ".join(f"{k}={v:.4g}" for k, v in r["e2e"].items()), flush=True)
                for f in r["failures"]:
                    print(f"   FAILED {f['op']}: {f['exception']}: {f['message'][:300]}")

    report = {}
    for w in workloads:
        rep = report[w] = {"end_to_end": {}, "per_layer": {}, "overhead": {}}
        for m in spec["end_to_end"]:
            vals = [r["e2e"][m["name"]] for r in runs
                    if r["workload"] == w and r["trace"] == 0 and m["name"] in r["e2e"]]
            rep["end_to_end"][m["name"]] = s = summary(vals)
            if s:
                flag = "" if m["name"] == "setup_s" or s["spread"] <= m["bound"] / 3 else "  <-- above bound/3"
                print(f"{w:16s} {m['name']:16s} median={s['median']:10.4g} spread={s['spread']:.3f} "
                      f"bound={m['bound']}{flag}")
            traced = [r["e2e"][m["name"]] for r in runs
                      if r["workload"] == w and r["trace"] == 1 and m["name"] in r["e2e"]]
            if s and traced:
                rep["overhead"][m["name"]] = statistics.median(traced) - s["median"]
        for m in spec["per_layer"]:
            vals = [r["layers"][m["name"]] for r in runs
                    if r["workload"] == w and r["trace"] == 1 and m["name"] in r["layers"]]
            if vals:
                rep["per_layer"][m["name"]] = statistics.median(vals)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"seconds": seconds, "summary": report, "runs": runs}, fh, indent=1)


if __name__ == "__main__":
    main()
