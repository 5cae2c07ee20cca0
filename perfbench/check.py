"""Steadiness and tracing checks for the benchmark.

    python3 perfbench/check.py spread --workload stats_tables --seeds 1-10
    python3 perfbench/check.py trace --workload curation_batch --seed 1

`spread` runs the untraced benchmark once per seed and prints, for each
end-to-end metric, the median and the distance between the first and
third quartiles (statistics.quantiles(values, n=4)) as a share of the
median, next to the metric's bound in BENCHMARK.json. Each run's line
shows its wall time and the share of CPU time the hypervisor gave to
other guests meanwhile (steal), the main source of spread on shared VMs.

`trace` runs one untraced and two traced runs of the same seed. It
prints the tracing overhead (untraced over traced rows_per_s), checks
that the counts that must repeat do repeat exactly and that the three
processes' output digests are identical, and prints each
span's share of the traced pass wall time (self time) next to the
busy fraction and shuffle bytes: the layer breakdown of the workload.
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
EXACT = ("exec.jobs", "exec.eager_jobs", "streaming.jobs_per_batch", "dedup.candidate_pairs",
         "dedup.verified_pairs", "operators.cc_jobs")


def config():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def steal_ticks():
    """Cumulative CPU time the hypervisor gave to other guests (Linux)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        raise SystemExit("run failed (exit %d):\n%s" % (out.returncode, out.stderr[-3000:]))
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def spread(args, cfg):
    values = {}
    hz = os.sysconf("SC_CLK_TCK") * (os.cpu_count() or 1)
    for seed in seeds(args.seeds):
        t0, s0 = time.monotonic(), steal_ticks()
        info, result = run(args.workload, seed, cfg["run_seconds"], 0)
        wall = time.monotonic() - t0
        steal = (steal_ticks() - s0) / (hz * wall)
        ok = result["correct"] and result["failed"] == 0
        print("seed %d correct=%s wall %.1fs steal %.1f%% %s%s" % (
            seed, ok, wall, 100 * steal,
            json.dumps({k: round(v["value"], 4) for k, v in result["metrics"].items()}),
            " unexpected drops %s" % info["unexpected_drops"] if info["unexpected_drops"] else ""),
            flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    worst = 0.0
    for m in cfg["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        share = (q3 - q1) / med
        gated = m["name"] != "setup_s"
        if gated:
            worst = max(worst, share / m["bound"])
        print("%-14s median %12.4f  IQR/median %.4f  bound %.2f%s" % (
            m["name"], med, share, m["bound"], "" if gated else "  (not gated)"))
    print("largest spread as a share of its bound: %.3f (aim: below 0.333)" % worst)


def trace(args, cfg):
    info0, plain = run(args.workload, args.seed, cfg["run_seconds"], 0)
    info, t1 = run(args.workload, args.seed, cfg["run_seconds"], 1)
    info2, t2 = run(args.workload, args.seed, cfg["run_seconds"], 1)
    untraced = plain["metrics"]["rows_per_s"]["value"]
    traced = t1["metrics"]["trace.rows_per_s"]["value"]
    print("rows_per_s untraced %.2f traced %.2f overhead x%.3f" % (untraced, traced, untraced / traced))
    same = True
    for k in EXACT:
        a, b = t1["metrics"][k]["value"], t2["metrics"][k]["value"]
        same &= a == b
        print("%-28s %14.3f %14.3f %s" % (k, a, b, "same" if a == b else "DIFFERS"))
    digests = {d for i in (info0, info, info2) for d in i["output_digests"]}
    print("output digests of the three processes: %s" % sorted(digests))
    same &= len(digests) == 1
    print("uncovered per pass: %.4f s" % t1["metrics"]["trace.uncovered_s"]["value"])
    print("traced pass wall: %s s" % info["pass_s"])
    for name, share in sorted(info["self_share"].items(), key=lambda kv: -kv[1]):
        print("  self share %-24s %6.1f%%" % (name, 100 * share))
    for k in ("exec.busy_frac", "exec.task_cpu_s", "exec.shuffle_write_bytes", "exec.jobs",
              "exec.eager_jobs"):
        print("  %-24s %14.3f" % (k, t1["metrics"][k]["value"]))
    if not (same and t1["correct"] and t2["correct"]):
        raise SystemExit("trace check failed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("check", choices=("spread", "trace"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    (spread if args.check == "spread" else trace)(args, config())


if __name__ == "__main__":
    main()
