#!/usr/bin/env python3
"""The repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles the
program (src/main/scala) together with the benchmark harness
(perfbench/src) with sbt, offline, into perfbench/target; later runs reuse
the classes while the sources are unchanged. Each run generates its input
tables from the seed, launches one JVM (Spark local[nproc]) that runs the
workload and its correctness gates, checks catalog outputs against DuckDB,
and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"} — the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer metrics with --trace 1.

Workloads: orders_backfill, events_follow, catalog_cdc (see
BENCHMARK.json and perfbench/README.md). Build output, traces and
results go under $CARGO_TARGET_DIR (default .bench_build).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Input sizes per workload (sf scales the tables as the repo's test data
# does: sf0.1 = 150k orders, 100k events).
DATA = {
    "orders_backfill": (0.004, ("orders",)),
    "events_follow": (0.05, ("events",)),
    "catalog_cdc": (0.01, None),  # every table
}
# Runnable, but not in BENCHMARK.json: one run of it takes longer than the
# per-run budget of the benchmark's checks allows (see README.md).
EXTRA_WORKLOADS = ("events_follow",)
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def source_stamp():
    """Digest of every build input (paths, sizes, contents' mtimes)."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        walk = [(top, [], [""])] if os.path.isfile(top) else os.walk(top)
        for d, dirs, files in walk:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f) if f else d
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(bench_build):
    """Compile once per source state; returns the runtime classpath."""
    cp_file = os.path.join(bench_build, "classpath.txt")
    stamp_file = os.path.join(bench_build, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH", 3)
    os.makedirs(bench_build, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={os.path.join(bench_build, 'tmp')}",
            f"-Dsbt.global.base={os.path.join(bench_build, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    os.makedirs(os.path.join(bench_build, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = os.path.join(bench_build, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                           cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    src_cp = os.path.join(HERE, "target", "classpath.txt")
    if r.returncode != 0 or not os.path.exists(src_cp):
        fail(f"build failed (exit {r.returncode}); log tail:\n{tail(log)}", 3)
    shutil.copyfile(src_cp, cp_file)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as cf:
        return cf.read().strip()


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def metric_defs():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the repository root", 2)
    with open(path) as fh:
        spec = json.load(fh)
    return spec


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = metric_defs()
    if args.workload not in {w["name"] for w in spec["workloads"]} | set(EXTRA_WORKLOADS):
        fail(f"unknown workload {args.workload!r}", 2)
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program source {need} not found: run from a full checkout", 2)

    bench_build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build(bench_build)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(bench_build, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        import datagen
        sf, tables = DATA[args.workload]
        data = os.path.join(work, "data")
        datagen.generate(data, args.seed, sf, tables or datagen.ALL_TABLES)

        out = os.path.join(work, "result.json")
        cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-Dfile.encoding=UTF-8",
                "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                f"-Dderby.system.home={work}"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "graft.perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--data", data, "--work", work, "--out", out, "--cores", str(nproc())])
        log = os.path.join(work, "jvm.log")
        cpu0 = cpu_times()
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"workload timed out after {JVM_TIMEOUT_S} s; log tail:\n{tail(log)}", 4)
        if not os.path.exists(out):
            fail(f"the JVM exited {proc.returncode} without a result; log tail:\n{tail(log)}", 4)
        with open(out) as fh:
            res = json.load(fh)
        cpu1 = cpu_times()
        if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
            # CPU time the host gave to other tenants: explains slow runs.
            res["info"]["cpu_steal_pct"] = 100.0 * (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])

        failures = list(res["failures"])
        attempted, failed = res["attempted"], res["failed"]
        if args.workload == "catalog_cdc" and "counts" in res["info"]:
            import oracle
            for q, err in oracle.check(data, os.path.join(work, "outputs"), res["info"]["counts"]):
                attempted += 1
                if err:
                    failed += 1
                    failures.append({"op": f"oracle {q}", "exception": "OracleMismatch", "message": err})

        kind = "per_layer" if args.trace else "end_to_end"
        values = res["layers"] if args.trace else res["metrics"]
        metrics, missing = {}, []
        for m in spec[kind]:
            if m["name"] in values and values[m["name"]] is not None:
                metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
            else:
                missing.append(m["name"])
        for f in failures:
            print(f"FAILED {f['op']}: {f['exception']}: {f['message']}")
        if missing:
            print(f"missing metrics: {', '.join(missing)}")

        keep = os.path.join(bench_build, "results")
        os.makedirs(keep, exist_ok=True)
        res["failures"], res["attempted"], res["failed"] = failures, attempted, failed
        with open(os.path.join(keep, f"{tag}.json"), "w") as fh:
            json.dump(res, fh, indent=1)
        if args.trace and os.path.exists(os.path.join(work, "spans.json")):
            shutil.copyfile(os.path.join(work, "spans.json"), os.path.join(keep, f"{tag}.spans.json"))

        print(json.dumps({"correct": failed == 0 and not missing, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
