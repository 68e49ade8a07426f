"""Turn a workload's raw samples into its end-to-end and per-layer metrics."""
import datetime
import glob
import json
import os
import statistics

import numpy as np

PIT_LIMIT_MS = 100.0          # reference serving target (p95 < 100 ms)
FRESHNESS_LIMIT_MS = 30_000.0  # reference ohlc_1m freshness target (<= 30 s)
# set-up repetitions that warm the JVM and do not count towards setup_s
COLD_SETUPS = 2


def pct(xs, q):
    return float(np.percentile(xs, q)) if xs else None


def miss_share(latencies, failures, limit):
    n = len(latencies) + failures
    return (sum(x > limit for x in latencies) + failures) / n if n else None


def _ms(iso):
    t = datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return (t - datetime.datetime(1970, 1, 1)) / datetime.timedelta(milliseconds=1)


def _offset(o):
    if o is None:
        return -1
    if isinstance(o, str):
        o = json.loads(o)
    return int(o["logOffset"])


def source_log(path):
    """File name -> file-source log batch that first listed it."""
    batch = {}
    for f in glob.glob(f"{path}/*"):
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    name = os.path.basename(e["path"])
                    batch[name] = min(batch.get(name, e["batchId"]), e["batchId"])
    return batch


def stream_batches(progress):
    """(start offset, end offset, start ms, end ms, progress) per micro-batch."""
    out = []
    for p in progress:
        src = p["sources"][0]
        start = _offset(src.get("startOffset"))
        end = _offset(src.get("endOffset"))
        t0 = _ms(p["timestamp"])
        out.append((start, end, t0, t0 + p["durationMs"].get("triggerExecution", 0), p))
    return out


def freshness(samples):
    """Per landed file: ms from its scheduled landing to the start and to the
    end of the first bars micro-batch that committed it; plus the backlog
    peak."""
    log = source_log(samples["bars_source_log"])
    batches = stream_batches(samples["bars_progress"])
    result = []
    for f in samples["landed"]:
        lo = log[f["file"]]
        t0, t1 = min((t0, t1) for (s, en, t0, t1, _) in batches if s < lo <= en)
        result.append(dict(f, picked_ms=t0, committed_ms=t1))
    backlog = max((sum(1 for f in result if f["landed_ms"] <= t0 < f["committed_ms"])
                   for (_, _, t0, _, _) in batches), default=0)
    return result, backlog


def end_to_end(workload, r, props):
    """(named metrics {name: (value, unit)}, gated metrics, operation count).

    The gated metrics are the same on every workload: set-up time and op_ms,
    the workload's headline time (stream: median file freshness; serve:
    median PIT request; registry: the pass, registry_s; backfill: median
    job)."""
    s = r["samples"]
    named = {}
    if workload == "backfill":
        walls = [j["wall_ms"] for j in s["jobs"]]
        named["backfill_s"] = (statistics.median(walls) / 1000, "s")
        ops = walls
    elif workload == "stream":
        files, _ = freshness(s)
        fresh = [f["committed_ms"] - f["due_ms"] for f in files if f["phase"] == "open"]
        backlog = [f for f in files if f["phase"] == "backlog"]
        done = max(f["committed_ms"] for f in backlog)
        drain_s = (done - backlog[0]["due_ms"]) / 1000
        # processing rate: from the start of the first batch that read any of
        # the backlog, so the wait for the next trigger does not count
        rate = props["backlog_ticks"] / ((done - min(f["picked_ms"] for f in backlog)) / 1000)
        named.update({
            "stream.freshness_p50_ms": (pct(fresh, 50), "ms"),
            "stream.freshness_p90_ms": (pct(fresh, 90), "ms"),
            "stream.freshness_miss_share": (miss_share(fresh, 0, FRESHNESS_LIMIT_MS), "share"),
            "stream.catchup_ticks_per_s": (rate, "1/s"),
            "stream.catchup_drain_s": (drain_s, "s")})
        ops = fresh
    elif workload == "serve":
        pit = [x["latency_ms"] for x in s["reads"] if x["kind"] == "pit" and "error" not in x]
        pit_failed = sum(1 for x in s["reads"] if x["kind"] == "pit" and "error" in x)
        hist = [x["latency_ms"] for x in s["reads"] if x["kind"] == "hist" and "error" not in x]
        commits = [w["end_ms"] - w["due_ms"] for w in s["writes"] if w["kind"] == "commit"]
        merges = [w["end_ms"] - w["due_ms"] for w in s["writes"] if w["kind"] == "merge"]
        named.update({
            "serve.pit_p50_ms": (pct(pit, 50), "ms"),
            "serve.pit_p90_ms": (pct(pit, 90), "ms"),
            "serve.pit_miss_share": (miss_share(pit, pit_failed, PIT_LIMIT_MS), "share"),
            "serve.hist_p50_ms": (pct(hist, 50), "ms"),
            "serve.commit_p50_ms": (pct(commits, 50), "ms"),
            "serve.commit_p90_ms": (pct(commits, 90), "ms"),
            "serve.merge_p50_ms": (pct(merges, 50), "ms")})
        ops = pit
    else:
        ops = [q["wall_ms"] for q in s["queries"]]
        named["registry_s"] = (sum(ops) / 1000, "s")
    named["setup_s"] = (statistics.median(r["setup_s"][COLD_SETUPS:]), "s")
    named["op_mean_ms"] = (statistics.mean(ops), "ms")
    generic = {
        "setup_s": (named["setup_s"][0], "s"),
        # a median of 15 unlike queries hides a slowdown of the slower half,
        # so the registry gates the whole pass
        "op_ms": (sum(ops) if workload == "registry" else pct(ops, 50), "ms"),
    }
    return named, generic, len(ops)


def self_times(spans):
    """Per layer: total span time minus the time its child spans cover."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        covered, last = 0, sp["start_ns"]
        for c in sorted(children.get(sp["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], last), min(c["end_ns"], sp["end_ns"])
            if hi > lo:
                covered += hi - lo
                last = hi
        key = f"{sp['layer']}.{sp['name']}"
        out[key] = out.get(key, 0.0) + (sp["end_ns"] - sp["start_ns"] - covered) / 1e6
    return {k: round(v, 3) for k, v in sorted(out.items())}


def exec_by_layer(spans, counters):
    """Executor task time of the jobs each layer's spans started."""
    layer = {str(sp["id"]): f"{sp['layer']}.{sp['name']}" for sp in spans}
    out = {}
    for k, v in counters.items():
        if k.startswith("group_task_ms."):
            key = layer.get(k.split(".", 1)[1], "untraced")
            out[key] = out.get(key, 0.0) + v
    return {k: round(v, 3) for k, v in sorted(out.items())}


# feature kernel -> the registry query that runs exactly that kernel
FEATURES = {"ohlc": "q_ohlc_1m", "sma": "q_sma20", "ewm": "q_ewm12",
            "volatility": "q_volatility_1h", "vwap": "q_vwap_5m", "imbalance": "q_imbalance_5m",
            "spread": "q_spread", "large_trades": "q_large_trades", "regime": "q_regime"}
REGISTRY_GROUPS = ("core", "feature", "ext", "quality", "stream", "sqlcatalog")


def per_layer(workload, r, ops, leaked_mb, late_ms):
    """Every per-layer metric; 0 where the workload does not reach the layer.
    Plan and exec counts and times are per workload operation."""
    t = r["trace"]
    c = t["counters"]
    spans = t["spans"]
    s = r["samples"]

    def mean_span(layer, name):
        d = [(x["end_ns"] - x["start_ns"]) / 1e6 for x in spans
             if x["layer"] == layer and x["name"] == name]
        return statistics.mean(d) if d else 0.0

    def per_op(k):
        return c.get(k, 0.0) / max(ops, 1)

    def ratio(a, b):
        return c.get(a, 0.0) / c[b] if c.get(b) else 0.0

    m = {
        "plan.analysis_ms": per_op("plan.analysis_ms"),
        "plan.optimizer_ms": per_op("plan.optimizer_ms"),
        "plan.physical_ms": per_op("plan.physical_ms"),
        "plan.queries": per_op("plan.queries"),
        "exec.jobs": per_op("exec.jobs"),
        "exec.tasks": per_op("exec.tasks"),
        "exec.task_ms": per_op("exec.task_ms"),
        "exec.cpu_ms": per_op("exec.cpu_ms"),
        "exec.gc_ms": per_op("exec.gc_ms"),
        "exec.task_overhead_ms": per_op("exec.task_overhead_ms"),
        "exec.empty_task_ratio": ratio("exec.empty_tasks", "exec.tasks"),
        "exec.shuffle_write_mb": per_op("exec.shuffle_write_mb"),
        "exec.shuffle_read_mb": per_op("exec.shuffle_read_mb"),
        "exec.spill_mb": per_op("exec.spill_mb"),
        "core.trades_ms": mean_span("core", "trades"),
    }
    walls = {q["query"]: q["wall_ms"] for q in s.get("queries", [])}
    for f, query in FEATURES.items():
        # backfill spans each kernel's compute + commit; the registry times
        # the query that runs the kernel alone
        m[f"features.{f}_ms"] = walls.get(query, 0.0) if workload == "registry" \
            else mean_span("features", f)
    m.update({
        "sources.commit_ms": mean_span("sources", "commit"),
        "sources.commit_files": ratio("sources.commit_files", "sources.writes"),
        "sources.small_file_ratio": ratio("sources.small_files", "sources.commit_files"),
        "sources.write_amp": ratio("sources.bytes_written", "sources.input_bytes"),
        "sources.merge_ms": mean_span("sources", "merge"),
        "sources.scan_files": per_op("sources.scan_files"),
        "sources.scan_mb": per_op("sources.scan_mb"),
        "sources.pruned_ratio": ratio("sources.pruned_dirs", "sources.snapshot_dirs"),
        "sources.table_versions": float(r["outputs"].get("table_versions", 0)
                                        if workload == "serve" else
                                        len(r["outputs"].get("tables", []))),
        "asof.pit_build_ms": mean_span("asof", "pit_build"),
        "asof.pit_exec_ms": mean_span("asof", "pit_exec"),
        "asof.hist_ms": mean_span("asof", "hist"),
    })
    m.update(streaming_layer(s, c) if workload == "stream" else
             {k: 0.0 for k in STREAMING_KEYS})
    groups = {}
    for q in s.get("queries", []):
        groups[q["group"]] = groups.get(q["group"], 0.0) + q["wall_ms"] / 1000
    for g in REGISTRY_GROUPS:
        m[f"registry.{g}_s"] = groups.get(g, 0.0)
    m.update({
        "jvm.heap_peak_mb": r["jvm"]["heap_peak_mb"],
        "jvm.gc_ms": r["jvm"]["gc_ms"],
        "tmp.leaked_mb": leaked_mb,
        "gen.late_max_ms": late_ms,
        "trace.overhead_pct": 100.0 * t["overhead_ms"] / (r["measured_s"] * 1000),
    })
    return m


STREAMING_KEYS = ("streaming.batches", "streaming.rows_per_batch", "streaming.batch_ms",
                  "streaming.add_batch_ms", "streaming.query_planning_ms", "streaming.log_ms",
                  "streaming.offset_ms", "streaming.state_rows", "streaming.state_commit_ms",
                  "streaming.keyed_dirs_rewritten", "streaming.backlog_max_files")


def streaming_layer(s, c):
    """Bars-query costs over its data micro-batches (warm-up batch included)."""
    _, backlog = freshness(s)
    data = [p for p in s["bars_progress"] if p["numInputRows"] > 0]

    def mean(key):
        return statistics.mean(p["durationMs"].get(key, 0) for p in data) if data else 0.0
    ops = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    return {
        "streaming.batches": float(len(data)),
        "streaming.rows_per_batch": statistics.mean(p["numInputRows"] for p in data) if data else 0.0,
        "streaming.batch_ms": mean("triggerExecution"),
        "streaming.add_batch_ms": mean("addBatch"),
        "streaming.query_planning_ms": mean("queryPlanning"),
        "streaming.log_ms": mean("walCommit") + mean("commitOffsets"),
        "streaming.offset_ms": mean("latestOffset") + mean("getBatch"),
        "streaming.state_rows": float(ops[-1]["numRowsTotal"]) if ops else 0.0,
        "streaming.state_commit_ms": statistics.mean(o["commitTimeMs"] for o in ops) if ops else 0.0,
        "streaming.keyed_dirs_rewritten": c.get("streaming.keyed_dirs_rewritten", 0.0),
        "streaming.backlog_max_files": float(backlog),
    }
