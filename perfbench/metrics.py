"""Turns the JVM side's raw samples into the benchmark's metrics.

Every metric is named in BENCHMARK.json. The end-to-end metrics exist on
every workload; a per-layer metric of a layer the workload does not run
reads 0.
"""
import numpy as np

QUERIES = ["q_graph_pagerank", "q_graph_ppr_w", "q_graph_hits", "q_text_textrank",
           "q_gnn_layer_k", "q_gnn_layer2", "q_graph_scc_colors", "q_embed_outliers"]
QUERY_FIELDS = [("s", "s"), ("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
                ("shuffle_mb", "MB"), ("sched_gap_s", "s"), ("plan_ms", "ms"),
                ("codegen_ms", "ms"), ("ckpts", "count")]
STREAM_FIELDS = [("queryPlanning_ms.p50", "ms"), ("walCommit_ms.p50", "ms"),
                 ("commitOffsets_ms.p50", "ms"), ("addBatch_ms.p50", "ms"),
                 ("batch_ms.p50", "ms"), ("rows_per_batch.p50", "count"),
                 ("state.put_ms", "ms"), ("state.get_ms", "ms"),
                 ("state.commit_ms.p50", "ms"), ("state.rows_total", "count"),
                 ("state.bytes_written_mb", "MB")]
END_TO_END = [("setup_s", "s"), ("latency_ms.p50", "ms"), ("latency_ms.p90", "ms"),
              ("throughput_per_s", "1/s"), ("cached_mb", "MB")]
PER_LAYER = (
    [("Harness.session_s", "s"), ("Mv.build_s", "s"), ("Mv.n", "count"), ("spill_mb", "MB")]
    + [(f"{q}.{f}", u) for q in QUERIES for f, u in QUERY_FIELDS]
    + [(f"{layer}.{f}", u) for layer in ("l1", "l2") for f, u in STREAM_FIELDS]
    + [("hop_ms.p50", "ms"), ("prep_s", "s"), ("gen.lag_ms.max", "ms"),
       ("backlog.max", "count"), ("backlog.grew", "count"), ("freshness.batches", "count"),
       ("freshness.pmax", "%"), ("l1_1core.ingest_eps", "1/s"),
       ("l1_1core.batch_ms.p50", "ms")]
    + [(f"traced.{m}", u) for m, u in END_TO_END]
    + [(f"overhead.{m}", u) for m, u in END_TO_END])

def median(xs):
    return float(np.median(xs)) if len(xs) else 0.0


def quantile(xs, q):
    return float(np.quantile(np.asarray(xs, dtype=float), q)) if len(xs) else 0.0


def supported_percentile(n, ladder=(50.0, 90.0, 99.0, 99.9, 99.99)):
    """Highest percentile of `ladder` with at least ten samples beyond it
    (0 when not even the median has)."""
    best = 0.0
    for p in ladder:
        if n * (100.0 - p) >= 1000 - 1e-6:
            best = p
    return best


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of [start, end] intervals, clipped to
    [lo, hi] when given; overlapping intervals count once."""
    spans = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            spans.append((a, b))
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(spans):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def sched_gap_s(wall_s, t0_ms, t1_ms, jobs):
    """Wall time of a call not covered by any of its jobs."""
    return max(0.0, wall_s - union_ms(jobs, t0_ms, t1_ms) / 1000.0)


def _covering(batches, offset):
    """The batch whose source offsets (from, to] hold `offset`."""
    for b in batches:
        if b["from"] < offset <= b["to"]:
            return b
    return None


def _end_ms(b):
    return b["start_ms"] + b["dur_ms"]


def freshness(chunks, rate, t0_ms, l1, hops=None, l2=None):
    """Per-event freshness of an open-loop phase.

    `chunks` are (source offset, index of first event in the phase, event
    count, send ms); event j was scheduled at t0_ms + j * 1000 / rate. An
    event is reflected at the end of the micro-batch covering its chunk's
    offset, or for two layers, the end of the layer-2 batch covering the hop
    offset that its layer-1 batch produced. Returns (freshness ms per event,
    reflected ms per chunk, ids of the final-layer batches that served)."""
    hop_of = {h[0]: h[1] for h in hops or []}
    fresh, done, served = [], [], set()
    for off, first, n, _sent in chunks:
        b = _covering(l1, off)
        if b is not None and hops is not None:
            h = hop_of.get(b["batch"])
            b = None if h is None else _covering(l2, h)
        if b is None:
            done.append(None)
            continue
        end = _end_ms(b)
        served.add(b["batch"])
        sched = t0_ms + (first + np.arange(n)) * 1000.0 / rate
        fresh.append(end - sched)
        done.append(end)
    return (np.concatenate(fresh) if fresh else np.zeros(0)), done, served


def backlog(chunks, done):
    """Events sent but not yet reflected, sampled at each send."""
    out = []
    for _off, first, n, sent in chunks:
        reflected = sum(c[2] for c, d in zip(chunks, done) if d is not None and d <= sent)
        out.append(first + n - reflected)
    return out


def grew(times, samples):
    """1 when the backlog still rises through the second half of the
    open-loop phase: its least-squares slope there, times the half's
    length, exceeds half the half's mean backlog."""
    k = len(samples) // 2
    if k < 2:
        return 0
    t, b = np.asarray(times[k:], dtype=float), np.asarray(samples[k:], dtype=float)
    if np.ptp(t) == 0:
        return 0
    slope = np.polyfit(t, b, 1)[0]
    return int(slope * np.ptp(t) > 0.5 * max(b.mean(), 1.0))


def _progress(batches, name, run_ids):
    return [b for b in batches if b["q"] == name and b["run"] in run_ids]


def _stream_layer(recs, prefix):
    """Per-layer metrics from the full progress records of one query."""
    if not recs:
        return {}
    progress = [r["progress"] for r in recs]
    ops = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
    custom = lambda k: sum(o.get("customMetrics", {}).get(k, 0) for o in ops)
    out = {f"{prefix}.{k}_ms.p50": median([p["durationMs"].get(k, 0) for p in progress])
           for k in ("queryPlanning", "walCommit", "commitOffsets", "addBatch")}
    out.update({
        f"{prefix}.batch_ms.p50": median([r["dur_ms"] for r in recs]),
        f"{prefix}.rows_per_batch.p50": median([r["rows"] for r in recs]),
        f"{prefix}.state.put_ms": float(custom("rocksdbPutLatency")),
        f"{prefix}.state.get_ms": float(custom("rocksdbGetLatency")),
        f"{prefix}.state.commit_ms.p50": median([o.get("commitTimeMs", 0) for o in ops]),
        f"{prefix}.state.rows_total": float(ops[-1]["numRowsTotal"]) if ops else 0.0,
        f"{prefix}.state.bytes_written_mb": custom("rocksdbTotalBytesWritten") / 1e6,
    })
    return out


def stream(raw, full):
    runs = set(raw["run_ids"])
    l1 = _progress(raw["batches"], "l1", runs)
    l2 = _progress(raw["batches"], "l2", runs)
    two = bool(l2)
    fr, done, served = freshness(raw["chunks"], raw["rate"], raw["open_t0_ms"], l1,
                                 raw["hops"] if two else None, l2 if two else None)
    bl = backlog(raw["chunks"], done)
    m = {
        "setup_s": (raw["session_ready_ms"] - raw["jvm_start_ms"]) / 1000.0
        + median(raw["setup_cycles_s"]),
        "latency_ms.p50": quantile(fr, 0.5),
        "latency_ms.p90": quantile(fr, 0.9),
        "throughput_per_s": raw["closed_batch"] / median(raw["closed_batches_s"]),
        # footprint after the same input on every run (see Streams.run)
        "cached_mb": raw["state_bytes"] / 1e6,
    }
    if full:
        lag = [c[3] - (raw["open_t0_ms"] + (c[1] + c[2]) * 1000.0 / raw["rate"]) for c in raw["chunks"]]
        m.update(_stream_layer(l1, "l1"))
        m.update(_stream_layer(l2, "l2"))
        m.update({
            "hop_ms.p50": median([h[2] for h in raw["hops"]]),
            "prep_s": raw["prep_s"],
            "gen.lag_ms.max": max(lag) if lag else 0.0,
            "backlog.max": float(max(bl)) if bl else 0.0,
            "backlog.grew": float(grew([c[3] for c in raw["chunks"]], bl)),
            "freshness.batches": float(len(served)),
            "freshness.pmax": supported_percentile(len(served)),
        })
        base = raw.get("baseline_1core")
        if base:
            m["l1_1core.ingest_eps"] = base["ingest_eps"]
            m["l1_1core.batch_ms.p50"] = median(base["batches_s"]) * 1000
    return m


def snapshot(raw, full):
    calls = raw["calls"]
    timed = [c for c in calls if c["pass"] > 0]
    passes = {}
    for c in timed:
        passes[c["pass"]] = passes.get(c["pass"], 0.0) + c["s"]
    pass_ms = [v * 1000 for v in passes.values()]
    m = {
        "setup_s": (raw["first_op_ms"] - raw["jvm_start_ms"]) / 1000.0,
        "latency_ms.p50": quantile(pass_ms, 0.5),
        "latency_ms.p90": quantile(pass_ms, 0.9),
        "throughput_per_s": len(timed) / sum(c["s"] for c in timed),
        "cached_mb": raw["cached_bytes"] / 1e6,
    }
    if full:
        m["Mv.n"] = float(raw["mv_n"])
        m["spill_mb"] = sum(c["spill_bytes"] for c in timed) / 1e6
        m["Mv.build_s"] = union_ms(raw.get("mv_build_intervals", []),
                                   hi=raw["first_op_ms"]) / 1000.0
        for q in QUERIES:
            qc = [c for c in timed if c["q"] == q]
            per = lambda f: median([f(c) for c in qc])
            m.update({
                f"{q}.s": per(lambda c: c["s"]),
                f"{q}.jobs": per(lambda c: len(c["jobs"])),
                f"{q}.tasks": per(lambda c: c["tasks"]),
                f"{q}.task_s": per(lambda c: c["task_ms"] / 1000.0),
                f"{q}.shuffle_mb": per(lambda c: c["shuffle_bytes"] / 1e6),
                f"{q}.sched_gap_s": per(lambda c: sched_gap_s(c["s"], c["t0_ms"], c["t1_ms"], c["jobs"])),
                f"{q}.plan_ms": per(lambda c: c["plan_ms"]),
                f"{q}.codegen_ms": per(lambda c: c["codegen_ms"]),
                f"{q}.ckpts": per(lambda c: c["ckpts"]),
            })
    return m


def compute(raw, trace, untraced_history=()):
    """Return the result object of one run: correctness, counts and the
    end-to-end (trace 0) or per-layer (trace 1) metrics with units."""
    full = bool(trace)
    m = snapshot(raw, full) if raw["workload"] == "snapshot_analytics" else stream(raw, full)
    if full:
        m["Harness.session_s"] = raw["session_s"]
        for name, _unit in END_TO_END:
            m[f"traced.{name}"] = m[name]
            past = [h[name] for h in untraced_history]
            m[f"overhead.{name}"] = m[name] - median(past) if past else 0.0
        names = PER_LAYER
    else:
        names = END_TO_END
    metrics = {n: {"value": float(m.get(n, 0.0)), "unit": u} for n, u in names}
    failed = int(raw["failed"])
    return {"correct": failed == 0, "attempted": int(raw["attempted"]), "failed": failed,
            "metrics": metrics}
