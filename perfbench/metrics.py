"""Reduce one run's raw measurements to the benchmark's metrics.

The JVM side (src/perfbench/Main.scala) writes pass times, batch
latencies, spans, jobs and per-stage task aggregates; everything here is
plain arithmetic over those records, kept apart so it can be unit-tested.
"""
import math
import statistics


TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

def nearest_rank(samples, p):
    """The p-th percentile by the nearest-rank rule."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile's rank."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(samples, candidates=TAIL_PERCENTILES, need=10):
    """The highest percentile with at least `need` samples beyond it, as
    (percentile, value); None when not even the median qualifies."""
    ok = [p for p in candidates if beyond(len(samples), p) >= need]
    if not ok:
        return None
    p = max(ok)
    return p, nearest_rank(samples, p)


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length of the union of (start, end) intervals clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span, in the spans' time unit: its duration minus
    the part of its interval that its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length([(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])],
                               s["start_ms"], s["end_ms"])
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def subtree(spans, root_ids):
    """Ids of the given spans and all their descendants."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    seen, todo = set(), list(root_ids)
    while todo:
        i = todo.pop()
        if i not in seen:
            seen.add(i)
            todo.extend(kids.get(i, []))
    return seen


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def latency_samples(raw):
    """Batch latencies in ms: the micro-batches where the workload has
    them, otherwise one sample per pass (the pass is the batch)."""
    passes = raw["passes"]
    return [ms for p in passes for ms in p["batch_ms"]] or [p["wall_s"] * 1000 for p in passes]


def setup_s(setup):
    """Session start, staging and the warm-up passes."""
    return setup["session_s"] + setup["stage_s"] + sum(setup["warm_s"])


def end_to_end(raw):
    passes = raw["passes"]
    good = [p for p in passes if p["ok"] and p["wall_s"] > 0] or passes
    samples = latency_samples(raw)
    return {
        "rows_per_s": median(p["rows"] / p["wall_s"] for p in good),
        "setup_s": setup_s(raw["setup"]),
        "peak_heap_mb": median(p["heap_bytes"] for p in good) / 2**20,
        "batch_ms_p50": nearest_rank(samples, 50),
    }


def operations(raw):
    """(attempted, failed) operations: passes, or micro-batches where the
    workload has them. A warm-up pass counts too."""
    attempted = failed = 0
    for p in raw["warm"] + raw["passes"]:
        n = max(1, len(p["batch_ms"]), int(p["counts"].get("batches", 0)))
        attempted += n
        if not p["ok"]:
            failed += n
    return attempted, failed


def per_layer(raw):
    """Per-layer metrics of a traced run; the pass-wall check (per pass,
    the self times of its spans must add up to its wall time); and each
    span name's share of the timed passes' wall time, by self time."""
    # Times are epoch milliseconds; rebase them so sums of differences
    # keep sub-microsecond precision.
    base = min((s["start_ms"] for s in raw["spans"]), default=0.0)
    spans = [dict(s, start_ms=s["start_ms"] - base, end_ms=s["end_ms"] - base)
             for s in raw["spans"] if s["pass"] >= 0]
    jobs_all = [dict(j, start_ms=j["start_ms"] - base, end_ms=j["end_ms"] - base) for j in raw["jobs"]]
    stages_all = [dict(st, intervals=[(a - base, b - base) for a, b in st["intervals"]])
                  for st in raw["stages"]]
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    cores = raw["cores"]
    pass_ids = sorted({s["pass"] for s in spans})
    roots = {s["pass"]: s for s in spans if s["name"] == "pass"}
    jobs = [j for j in jobs_all if j["span"] in by_id]
    stages = [st for st in stages_all if st["span"] in by_id]
    executions = {x["id"]: x for x in raw["executions"]}
    write_execs = {i for i, x in executions.items() if x["writes"]}

    def eager(j):
        return j["phase"] == "call" and j["exec_id"] not in write_execs

    def named(name, p=None):
        return [s for s in spans if s["name"] == name and (p is None or s["pass"] == p)]

    def ids_under(name, p=None):
        return subtree(spans, [s["id"] for s in named(name, p)])

    def span_pass(span_id):
        return by_id[span_id]["pass"]

    def per_pass(fn):
        return median(fn(p) for p in pass_ids)

    def self_sum(name, p):
        return sum(selfs[s["id"]] for s in named(name, p)) / 1000.0

    def stage_sum(key, ids, p=None):
        return sum(st[key] for st in stages if st["span"] in ids and (p is None or span_pass(st["span"]) == p))

    def scanned(ids, p=None):
        """File bytes scanned by the SQL executions the spans in `ids` ran."""
        execs = {j["exec_id"] for j in jobs if j["span"] in ids and (p is None or span_pass(j["span"]) == p)}
        return sum(executions[e]["scan_bytes"] for e in execs if e in executions)

    def count(key):
        return median(pp["counts"][key] for pp in raw["passes"] if key in pp["counts"])

    checks = []
    for p in pass_ids:
        root = roots[p]
        wall = root["end_ms"] - root["start_ms"]
        total = sum(selfs[s["id"]] for s in spans if s["pass"] == p)
        checks.append(abs(total - wall) <= 1e-6 * max(1.0, wall))

    dedup_ids = set().union(*(ids_under(n) for n in ("dedup.pairs", "dedup.drop", "dedup.store_probe")))
    core_ids = set().union(*(ids_under(n) for n in ("core.join", "core.window", "core.melt", "core.aggregate")))
    kernel_names = ("functions.kernel", "functions.fingerprint")
    kernel_ids = set().union(*(ids_under(n) for n in kernel_names))
    dedup_stages = [st for st in stages if st["span"] in dedup_ids and st["task_shuffle_read"]]
    skew = 0.0
    if dedup_stages:
        heavy = max(dedup_stages, key=lambda st: st["shuffle_read"])
        skew = max(heavy["task_shuffle_read"]) / max(1.0, median(heavy["task_shuffle_read"]))
    candidates = count("candidate_pairs")
    verified = count("verified_pairs")

    batch_spans = named("streaming.batch")
    n_batches = len(batch_spans)
    batch_ids = ids_under("streaming.batch")
    batch_jobs = [j for j in jobs if j["span"] in batch_ids]
    driver_ms = 0.0
    for b in batch_spans:
        inside = subtree(spans, [b["id"]])
        ivs = [tuple(iv) for st in stages if st["span"] in inside for iv in st["intervals"]]
        driver_ms += (b["end_ms"] - b["start_ms"]) - union_length(ivs, b["start_ms"], b["end_ms"])
    compacts = named("streaming.compact")

    def per_batch(x):
        return x / n_batches if n_batches else 0.0

    def write_s(p):
        ivs = [(j["start_ms"], j["end_ms"]) for j in jobs
               if j["exec_id"] in write_execs and span_pass(j["span"]) == p]
        return union_length(ivs) / 1000.0

    def wall_s(p):
        return (roots[p]["end_ms"] - roots[p]["start_ms"]) / 1000.0

    def jobs_in(p):
        return [j for j in jobs if span_pass(j["span"]) == p]

    all_ids = set(by_id)
    rows = [pp["rows"] / pp["wall_s"] for pp in raw["passes"] if pp["wall_s"] > 0]
    m = {
        "io.scan_bytes": per_pass(lambda p: scanned(ids_under("io.scan"), p)),
        "io.scan_s": per_pass(lambda p: self_sum("io.scan", p)),
        "io.write_s": per_pass(write_s),
        "io.write_bytes": per_pass(lambda p: stage_sum("output_bytes", all_ids, p)),
        "io.write_files": count("write_files") or count("store_files"),
        "text.gate_s": per_pass(lambda p: self_sum("text.gate", p)),
        "functions.kernel_s": per_pass(lambda p: sum(self_sum(n, p) for n in kernel_names)),
        "functions.kernel_cpu_s": per_pass(lambda p: stage_sum("cpu_ns", kernel_ids, p) / 1e9),
        "dedup.pairs_s": per_pass(lambda p: self_sum("dedup.pairs", p)),
        "dedup.candidate_pairs": candidates,
        "dedup.verified_pairs": verified,
        "dedup.pair_yield": verified / candidates if candidates > 0 else 0.0,
        "dedup.shuffle_bytes": per_pass(lambda p: stage_sum("shuffle_write", dedup_ids, p)),
        "dedup.skew": skew,
        "dedup.store_probe_s": per_batch(sum(selfs[s["id"]] for s in named("dedup.store_probe")) / 1000.0),
        "operators.cc_s": per_pass(lambda p: self_sum("operators.cc", p)),
        "operators.cc_jobs": per_pass(lambda p: len([j for j in jobs_in(p) if j["span"] in ids_under("operators.cc", p)])),
        "core.join_s": per_pass(lambda p: self_sum("core.join", p)),
        "core.window_s": per_pass(lambda p: self_sum("core.window", p)),
        "core.shuffle_bytes": per_pass(lambda p: stage_sum("shuffle_write", core_ids, p)),
        "core.spill_bytes": per_pass(lambda p: stage_sum("spill_disk", core_ids, p)),
        "streaming.jobs_per_batch": per_batch(len(batch_jobs)),
        "streaming.eager_jobs_per_batch": per_batch(len([j for j in batch_jobs if eager(j)])),
        "streaming.driver_ms_per_batch": per_batch(driver_ms),
        "streaming.store_read_bytes_per_batch": per_batch(scanned(batch_ids)),
        "streaming.store_bytes_per_row": median(pp["counts"]["store_bytes"] / pp["rows"]
                                                for pp in raw["passes"] if "store_bytes" in pp["counts"]),
        "streaming.unexpected_drops": count("unexpected_drops"),
        "streaming.compact_s": (sum(selfs[s["id"]] for s in compacts) / 1000.0 / len(compacts)) if compacts else 0.0,
        "exec.jobs": per_pass(lambda p: len(jobs_in(p))),
        "exec.eager_jobs": per_pass(lambda p: len([j for j in jobs_in(p) if eager(j)])),
        "exec.stages": per_pass(lambda p: len([st for st in stages if span_pass(st["span"]) == p])),
        "exec.tasks": per_pass(lambda p: stage_sum("tasks", all_ids, p)),
        "exec.task_cpu_s": per_pass(lambda p: stage_sum("cpu_ns", all_ids, p) / 1e9),
        "exec.gc_s": per_pass(lambda p: stage_sum("gc_ms", all_ids, p) / 1000.0),
        "exec.sched_delay_s": per_pass(lambda p: stage_sum("sched_ms", all_ids, p) / 1000.0),
        "exec.busy_frac": per_pass(lambda p: stage_sum("run_ms", all_ids, p) / 1000.0 / (cores * wall_s(p))),
        "exec.shuffle_write_bytes": per_pass(lambda p: stage_sum("shuffle_write", all_ids, p)),
        "exec.spill_bytes": per_pass(lambda p: stage_sum("spill_disk", all_ids, p)),
        "trace.rows_per_s": median(rows),
        "trace.uncovered_s": per_pass(lambda p: selfs[roots[p]["id"]] / 1000.0),
    }
    walls = sum(r["end_ms"] - r["start_ms"] for r in roots.values())
    shares = {}
    for s in spans:
        shares[s["name"]] = shares.get(s["name"], 0.0) + selfs[s["id"]] / walls
    return m, all(checks), shares


def reduce(raw, config):
    """(result line, info line) for one run; units come from the
    benchmark's config (BENCHMARK.json)."""
    attempted, failed = operations(raw)
    digests = {p["digest"] for p in raw["passes"] if p["ok"]}
    correct = failed == 0 and len(digests) <= 1
    if raw["trace"]:
        values, spans_add_up, shares = per_layer(raw)
        correct = correct and spans_add_up
        declared = config["per_layer"]
    else:
        values, shares = end_to_end(raw), None
        declared = config["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(units) != set(values):
        raise ValueError("metrics %s do not match BENCHMARK.json %s" % (sorted(values), sorted(units)))
    samples = latency_samples(raw)
    tail = tail_percentile(samples)
    info = {
        "workload": raw["workload"],
        "seed": raw["seed"],
        "trace": raw["trace"],
        "input_rows": raw["input_rows"],
        "input_bytes": raw["input_bytes"],
        "staged_digest": raw["staged_digest"],
        "output_digests": sorted(digests),
        "passes": len(raw["passes"]),
        "pass_s": [round(p["wall_s"], 4) for p in raw["passes"]],
        "pass_cpu_s": [round(p["cpu_s"], 4) for p in raw["passes"]],
        "setup": {k: raw["setup"][k] for k in ("session_s", "stage_s", "warm_s")},
        "latency_samples": len(samples),
        "tail": {"percentile": tail[0], "ms": tail[1]} if tail else None,
        "unexpected_drops": [p["counts"]["unexpected_drops"] for p in raw["passes"]
                             if "unexpected_drops" in p["counts"]],
        "self_share": shares,
        "failures": [p["detail"] for p in raw["warm"] + raw["passes"] if not p["ok"]][:3],
    }
    result = {
        "correct": bool(correct),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }
    return result, info
