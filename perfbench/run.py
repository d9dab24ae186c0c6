#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload etl_merge|dml_mix|curate_corpus \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. Builds graft and the benchmark
from source first (perfbench/build.py), then runs the workload in one
JVM on local[N] Spark (N = min(4, nproc)). Prints `metric` lines for
every metric with its unit, a `run` metadata line, and as the last line
one JSON object with `correct`, `attempted`, `failed` and `metrics`
(end-to-end metrics untraced, per-layer metrics with --trace 1).

Everything it writes stays in the checkout: .bench_build (classes),
.bench_work (tables, removed after the run) and .bench_out (JVM logs,
spans and count signatures of traced runs).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("etl_merge", "dml_mix", "curate_corpus")
HEAP = "3g"
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (build.sbt sets the same)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def commit_of(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    try:
        classes, jars, build_id = build.build(root)
    except build.BuildError as e:
        sys.exit("perfbench: %s" % e)

    nproc = os.cpu_count() or 1
    cores = min(4, nproc)
    load_open = os.getloadavg()[0]
    work = os.path.join(root, ".bench_work", "run-%d" % os.getpid())
    out = os.path.join(root, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "%s-%d-trace%d.log" % (args.workload, args.seed, args.trace))

    cmd = (["java", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--work", work, "--out", out,
              "--bench", os.path.join(root, "perfbench"), "--build", build_id])
    try:
        with open(log, "w") as err:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: run exceeded %d s; see %s" % (RUN_TIMEOUT_S, log))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = r.stdout.strip().splitlines()
    result = None
    if r.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None:
        sys.stderr.write(r.stdout[-2000:])
        sys.exit("perfbench: JVM exited %d without a result; see %s" % (r.returncode, log))

    listed = os.path.join(root, "BENCHMARK.json")
    if os.path.isfile(listed):
        # the result carries exactly the metrics BENCHMARK.json lists for
        # this mode; a listed metric the run did not produce is an error
        with open(listed, encoding="utf-8") as f:
            names = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
        missing = [n for n in names if n not in result["metrics"]]
        if missing:
            sys.exit("perfbench: run did not report %s" % ", ".join(missing))
        result["metrics"] = {n: result["metrics"][n] for n in names}

    for line in lines[:-1]:
        print(line)
    meta = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "nproc": nproc, "cores": cores, "heap": HEAP,
            "load1m_open": load_open, "load1m_close": os.getloadavg()[0],
            "commit": commit_of(root), "build": build_id}
    print("run " + json.dumps(meta, sort_keys=True))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
