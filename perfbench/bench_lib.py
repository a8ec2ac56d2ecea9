"""Pure helpers of the benchmark: seeded source generators, percentiles,
failure accounting, span self time, and the metric tables built from one
run's raw result. Nothing here starts a process or touches a file."""

import bisect
import math
import statistics

MASK64 = (1 << 64) - 1


class SplitMix64:
    """SplitMix64 stream; fixed by its seed on every Python version."""

    def __init__(self, seed):
        self.state = seed & MASK64

    def next_u64(self):
        self.state = (self.state + 0x9E3779B97F4A7C15) & MASK64
        z = self.state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK64
        return z ^ (z >> 31)

    def random(self):
        """Uniform float in [0, 1) with 53 random bits."""
        return (self.next_u64() >> 11) / float(1 << 53)

    def below(self, n):
        """Uniform int in [0, n)."""
        return int(self.random() * n)


def permutation(n, rng):
    """Fisher-Yates shuffle of range(n)."""
    p = list(range(n))
    for i in range(n - 1, 0, -1):
        j = rng.below(i + 1)
        p[i], p[j] = p[j], p[i]
    return p


def zipf_sources(n, count, seed, s=1.0):
    """`count` node indices whose popularity follows Zipf(s) over a seeded
    permutation of range(n): the node at rank r is drawn with probability
    proportional to 1 / r**s."""
    rng = SplitMix64(seed)
    perm = permutation(n, rng)
    cum = []
    total = 0.0
    for r in range(1, n + 1):
        total += 1.0 / r ** s
        cum.append(total)
    return [perm[min(n - 1, bisect.bisect_right(cum, rng.random() * total))]
            for _ in range(count)]


def uniform_sources(n, count, seed):
    """`count` node indices drawn uniformly with replacement."""
    rng = SplitMix64(seed)
    return [rng.below(n) for _ in range(count)]


def quantile(values, q):
    """Linear-interpolation quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no values")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it: the nearest-rank value with exactly `beyond` larger samples.
    Below 2 * beyond samples that rank falls under the median, so the
    median is returned instead. Returns (percentile, value)."""
    xs = sorted(values)
    n = len(xs)
    if n < 2 * beyond:
        return 50.0, quantile(xs, 0.5)
    return 100.0 * (n - beyond) / n, xs[n - beyond - 1]


def account(raw):
    """(attempted, failed, fail_frac) over every operation of the run,
    the untimed warm-up and untraced passes included; an operation that
    threw or answered wrong is failed."""
    attempted = len(raw["ops"]) + sum(p["attempted"] for p in raw["untimed"])
    failed = (sum(1 for o in raw["ops"] if not o["ok"]) +
              sum(len(p["errors"]) for p in raw["untimed"]))
    return attempted, failed, (failed / attempted if attempted else 1.0)


def self_times(spans):
    """Self time per layer (ns): each span's duration minus the part of
    it that its child spans cover, summed over the layer's spans."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        covered = 0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(start, c["start_ns"]), min(end, c["end_ns"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["layer"]] = out.get(s["layer"], 0) + (end - start - covered)
    return out


def _ok_ops(raw):
    return [o for o in raw["ops"] if o["ok"]]


def _latencies_ms(ops):
    return [o["end_ms"] - o["start_ms"] for o in ops]


def _qps(raw, latencies_ms):
    """Throughput of the closed loop by Little's law: clients / mean
    latency. Unlike completed / wall time it leaves out the benchmark's
    own answer checks, which run between a client's operations."""
    return raw["clients"] * 1e3 / statistics.mean(latencies_ms)


def end_to_end(raw):
    """The end-to-end metric table {name: (value, unit)} of an untraced
    run, plus lines of detail (the tail's percentile and the workload's
    own breakdown) for the human-readable report."""
    ops = _ok_ops(raw)
    if not ops:
        raise ValueError("no operation succeeded")
    lat = _latencies_ms(ops)
    pct, tail_ms = tail(lat)
    errs = [o["abs_err"] for o in ops if o["abs_err"] is not None]
    precs = [o["precision"] for o in ops if o["precision"] is not None]
    setups = raw["setups"]
    m = {
        "setup_s": (statistics.median(s["total_s"] for s in setups), "s"),
        "qps": (_qps(raw, lat), "1/s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "latency_tail_ms": (tail_ms, "ms"),
        "precision_at_k": (statistics.mean(precs), "frac"),
        "max_abs_err": (statistics.median(errs), "prob"),
        "state_mb": (raw["state_bytes"] / 1e6, "MB"),
    }
    notes = [f"latency_tail_ms is p{pct:.1f} of {len(lat)} operations",
             f"setup_s is the median of {len(setups)} set-ups: " +
             ", ".join(f"{s['total_s']:.3f}" for s in setups)]
    if raw["workload"] == "allpair_store":
        notes.append("prep_s %.4f s (inside setup_s), store_mb %.4f MB" % (
            statistics.median(s["prep_s"] for s in setups), raw["state_bytes"] / 1e6))
    return m, notes


def _spark(phase, ops, wall_s, cpus):
    tasks = [d for stage in phase["stage_task_ms"] for d in stage]
    ratios = [max(st) / statistics.median(st) for st in phase["stage_task_ms"]
              if st and statistics.median(st) > 0]
    n = max(1, phase["tasks"])
    return {
        "spark.jobs_per_op": (phase["jobs"] / ops, "count"),
        "spark.tasks_per_op": (phase["tasks"] / ops, "count"),
        "spark.sched_delay_ms": (phase["sched_delay_ms"] / n, "ms"),
        "spark.gc_s": (phase["gc_ms"] / 1e3, "s"),
        "spark.task_busy_s": (phase["run_ms"] / 1e3, "s"),
        "spark.core_util": (phase["run_ms"] / 1e3 / (wall_s * cpus), "frac"),
        "spark.straggler_ratio": (statistics.median(ratios) if ratios else 1.0, "ratio"),
        "spark.task_ms": (statistics.median(tasks) if tasks else 0.0, "ms"),
    }


def per_layer(raw):
    """The per-layer metric table {name: (value, unit)} of a traced run,
    plus detail lines (self time per layer, tracing overhead)."""
    ops = _ok_ops(raw)
    if not ops:
        raise ValueError("no operation succeeded")
    setups = raw["setups"]
    lat_p50 = statistics.median(_latencies_ms(ops))
    kern = raw["kernel"]
    kern_ms = [k["ms"] for k in kern]
    kern_p50 = statistics.median(kern_ms)
    # a lookup runs no kernel: its kernel ran once, in the preprocess
    kernel_share = 0.0 if raw["workload"] == "allpair_store" else kern_p50
    spark = raw["spark"]
    plain = next(p for p in raw["untimed"] if p["name"] == "plain")
    traced_qps = _qps(raw, _latencies_ms(ops))
    plain_qps = _qps(raw, plain["latency_ms"])
    setup_phase = spark.get("setup", {"shuffle_write_bytes": 0})
    store = raw["store"]
    m = {
        "graph.derive_s": (statistics.median(s["derive_s"] for s in setups), "s"),
        "graph.csr_build_s": (statistics.median(s["csr_s"] for s in setups), "s"),
        "graph.nodes": (raw["nodes"], "count"),
        "graph.edges": (raw["edges"], "count"),
        "graph.csr_mb": (raw["csr_bytes"] / 1e6, "MB"),
        "api.call_ms": (statistics.median(o["call_ms"] for o in ops), "ms"),
        "api.collect_ms": (statistics.median(o["end_ms"] - o["start_ms"] - o["call_ms"] for o in ops), "ms"),
        "kernel.ms": (kern_p50, "ms"),
        "kernel.max_ms": (max(kern_ms), "ms"),
        "kernel.work": (statistics.mean(k["work"] for k in kern), "count"),
        "spark.dispatch_ms": (lat_p50 - kernel_share, "ms"),
        "spark.shuffle_write_mb": (setup_phase["shuffle_write_bytes"] / 1e6 / len(setups), "MB"),
        "store.partitions": (store["partitions"], "count"),
        "store.files": (store["files"], "count"),
        "store.rows": (store["rows"], "count"),
        "trace.qps_ratio": (traced_qps / plain_qps, "ratio"),
    }
    m.update(_spark(spark["ops"], len(raw["ops"]), raw["wall_s"], raw["cpus"]))
    selfs = self_times(raw["spans"])
    notes = ["self time per layer: " + ", ".join(
                 f"{k} {v / 1e9:.3f} s" for k, v in sorted(selfs.items())),
             f"tracing overhead: traced qps {traced_qps:.4f} vs untraced {plain_qps:.4f}"]
    if raw["workload"] == "allpair_store":
        notes.append("preprocess: " + ", ".join(
            f"{name} {statistics.median(s[key] for s in setups):.4f} s" for name, key in
            [("store.prep_s", "prep_s"), ("store.csr_rebuild_s", "prep_csr_rebuild_s"),
             ("store.write_s", "prep_write_s")]))
    return m, notes
