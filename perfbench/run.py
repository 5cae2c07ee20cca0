"""Layer-attributed benchmark of the library on three seeded workloads.

    python3 perfbench/run.py --workload curation_batch --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. The first run builds the library and
the harness from source (see build.py). Each run starts one local Spark
session with one core per CPU, stages the seeded inputs in a fresh
directory under .bench_work/, warms up, runs timed passes for
--seconds, verifies every pass's output and removes its directory.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. The line before it records the input size, digests and the
number of latency samples.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("curation_batch", "stats_tables", "stream_ingest")
RUN_LIMIT_S = 170
HEAP = "3g"
# A fixed young generation keeps collections frequent, so the peak heap
# in use after a collection is sampled often in every run.
YOUNG = "256m"
# Spark on JDK 17 outside spark-submit needs these module opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--mode", default="run", choices=("run", "stage"),
                    help="'stage' only stages the inputs and prints their digest")
    return ap.parse_args(argv)


def jvm(classpath, args, work, timeout):
    """Run the harness JVM; return its raw JSON, or raise."""
    out = os.path.join(work, "raw.json")
    log_path = os.path.join(work, "jvm.log")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [build.java(), "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn" + YOUNG, "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--mode", args.mode]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError("harness exited with %s\n%s" % (rc, tail))
    with open(out) as fh:
        return json.load(fh)


def main(argv):
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse(argv)
    try:
        classpath = build.ensure()
    except build.BuildError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2
    start = time.monotonic()
    root = os.path.join(build.ROOT, ".bench_work")
    os.makedirs(root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=root)
    try:
        raw = jvm(classpath, args, work, RUN_LIMIT_S - (time.monotonic() - start))
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(root)
        except OSError:
            pass
    if args.mode == "stage":
        print(json.dumps({"workload": raw["workload"], "seed": raw["seed"],
                          "input_rows": raw["input_rows"], "staged_digest": raw["staged_digest"]}))
        return 0
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        result, info = metrics.reduce(raw, json.load(fh))
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
