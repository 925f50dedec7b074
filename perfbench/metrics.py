"""Metric math for the benchmark: end-to-end metrics from the JVM's
report, per-layer metrics from its spans. Pure functions over plain
data, so `test_metrics.py` can check them without a JVM."""
import bisect
import json
import os
import statistics

OPERATORS = ["Compose", "Dedup", "DedupIndex", "Bpe", "Packing", "Similarity",
             "TextOps", "Sampling", "Relational"]

UNITS = {
    "setup_s": "s", "pass_s": "s", "rows_per_s": "rows/s",
    "latency_p50_s": "s", "latency_tail_s": "s", "heap_peak_mb": "MB",
    "SparkEntry.compose_s": "s", "SparkEntry.execute_s": "s",
    "driver.self_s": "s", "driver.plan_s": "s", "driver.sql_executions": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.busy_frac": "ratio", "scheduler.delay_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_bytes": "bytes",
    "sources.scans": "count", "sources.files_read": "count", "sources.bytes_read": "bytes",
    "sources.rows_read": "count", "sources.scan_s": "s",
    "sql.broadcast_collect_s": "s", "sql.broadcast_build_s": "s",
    "sql.broadcast_bytes": "bytes", "sql.aggregate_s": "s", "sql.sort_s": "s",
    **{f"operators.{o}.{m}": u for o in OPERATORS
       for m, u in (("jobs", "count"), ("wall_s", "s"), ("run_s", "s"))},
    "caches.peak_mb": "MB", "caches.blocks": "count",
    "write.files": "count", "write.bytes": "bytes", "write.rows": "count",
    "write.task_commit_s": "s", "write.job_commit_s": "s",
    "write.bytes_per_input_byte": "ratio",
    "stores.bytes_on_disk": "bytes", "stores.leaked_dirs": "count",
    "streaming.batches": "count", "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.plan_s": "s", "streaming.wal_s": "s", "streaming.state_rows": "count",
    "streaming.backlog_docs": "count", "streaming.generator_lag_s": "s",
    "streaming.rate_met_docs_per_s": "docs/s",
    "jvm.gc_s": "s", "trace.overhead_frac": "ratio",
}
END_TO_END = ["setup_s", "pass_s", "rows_per_s", "latency_p50_s", "latency_tail_s",
              "heap_peak_mb"]


def median(xs):
    return statistics.median(xs)


def tail(xs, beyond=10):
    """The highest percentile that keeps at least `beyond` samples above
    it: (value, percentile, sample count). With too few samples for
    that, the smallest sample (percentile 0)."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return s[0], 0.0, n
    i = n - beyond - 1
    return s[i], 100.0 * (i + 1) / n, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    clipped = [(max(s, a), min(e, b)) for a, b in children if min(e, b) > max(s, a)]
    return (e - s) - union_length(clipped)


def busy_frac(run_s, slots, wall_s):
    """Executor run time as a share of what `slots` cores could run."""
    return run_s / (slots * wall_s)


def module_of(callsite):
    """`collect at Dedup.scala:633` -> `Dedup`; None without a file."""
    at = callsite.rsplit(" at ", 1)[-1]
    name = at.split(":", 1)[0]
    return name[:-len(".scala")] if name.endswith(".scala") else None


def doc_latencies(stream):
    """Per fed document: (due second, latency s), the latency running
    from the document's due time to the end of the last of the streaming
    queries' first micro-batch that read it."""
    due = [f[0] for f in stream["files"] for _ in range(int(f[1]))]
    done = [0.0] * len(due)
    for batches in stream["batches"]:
        ends, cum = [], []
        total = 0
        for end_ms, rows, *_ in batches:
            total += int(rows)
            ends.append(end_ms)
            cum.append(total)
        for i in range(len(due)):
            b = bisect.bisect_right(cum, i)
            done[i] = max(done[i], ends[b] if b < len(ends) else float("inf"))
    t0 = stream["t0_ms"]
    return [(d, (e - t0) / 1000.0 - d) for d, e in zip(due, done)]


def stream_segments(stream, limit_s):
    """Split document latencies by feed rate; returns (latencies at the
    rates below the top one, seconds from the first due time until the
    last document is through, highest rate met). A rate is met when its
    documents' tail latency is within the limit and the pass as a whole
    got documents through at least that fast, so no backlog builds."""
    seg = stream["segment_s"]
    rates = stream["rates"]
    lat = doc_latencies(stream)
    by = [[l for d, l in lat if min(int(d // seg), len(rates) - 1) == r] for r in range(len(rates))]
    pass_s = max(d + l for d, l in lat)
    met = max([rate for rate, ls in zip(rates, by)
               if ls and tail(ls)[0] <= limit_s and rate <= len(lat) / pass_s], default=0.0)
    return [l for ls in by[:-1] for l in ls], pass_s, met


def end_to_end(rep, kind, in_rows, limit_s):
    """The end-to-end metrics, and the tail's percentile and sample count."""
    out = {"setup_s": median(rep["setup_s"])}
    if kind == "batch":
        untraced = {p["pass"] for p in rep["passes"] if not p["traced"]}
        out["pass_s"] = median([p["s"] for p in rep["passes"] if p["pass"] in untraced])
        out["rows_per_s"] = in_rows / out["pass_s"]
        lat = [e["s"] for e in rep["executions"] if e["pass"] in untraced]
    else:
        lat, out["pass_s"], _ = stream_segments(rep["stream"], limit_s)
        out["rows_per_s"] = in_rows / out["pass_s"]
    out["latency_p50_s"] = median(lat)
    out["latency_tail_s"], pct, n = tail(lat)
    out["heap_peak_mb"] = rep["heap_peak_mb"]
    return out, {"latency_tail_percentile": pct, "latency_samples": n}


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def leaked_dirs(tmp):
    """`graft_*` directories the program left in its temp dir."""
    return sum(1 for d in os.listdir(tmp) if d.startswith("graft_")) if os.path.isdir(tmp) else 0


def store_bytes(run):
    """Bytes of everything the program persisted under the run's root:
    tables, shard stores and indexes (not inputs, results or scratch)."""
    total = 0
    for top in os.listdir(run):
        if top in ("data", "verify") or top.startswith("data_"):
            continue
        for d, dirs, files in os.walk(os.path.join(run, top)):
            if os.path.basename(d) in ("local", "checkpoints") or "/local/" in d:
                dirs[:] = []
                continue
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                         if f.endswith(".parquet") or f.endswith(".json") or "part-" in f)
    return total


def _sum_metric(sqls, pred):
    return sum(v for s in sqls for k, v in s.items()
               if k.startswith("m.") and isinstance(v, (int, float)) and pred(k[2:]))


def per_layer(rep, spans, kind, cpus, in_bytes, leaked, stored, limit_s):
    passes = [s for s in spans if s["name"] == "pass"]
    n = max(1, len(passes))
    windows = [(p["start"], p["end"]) for p in passes]

    def inside(s):
        return any(a <= s["start"] <= b for a, b in windows)

    by = {}
    for s in spans:
        if s["pass"] >= 0 or inside(s):
            by.setdefault(s["name"], []).append(s)
    jobs, stages, sqls = by.get("job", []), by.get("stage", []), by.get("sql", [])
    triggers = by.get("trigger", [])
    wall = sum(b - a for a, b in windows) / 1000.0
    run_s = sum(s["run_s"] for s in stages)
    m = {
        "SparkEntry.compose_s": sum(s["end"] - s["start"] for s in by.get("compose", [])) / 1000 / n,
        "SparkEntry.execute_s": sum(s["end"] - s["start"] for s in by.get("execute", [])) / 1000 / n,
        "driver.self_s": sum(self_time(w, [(j["start"], j["end"]) for j in jobs])
                             for w in windows) / 1000 / n,
        "driver.plan_s": sum(s["plan_s"] for s in sqls) / n,
        "driver.sql_executions": len(sqls) / n,
        "scheduler.jobs": len(jobs) / n,
        "scheduler.stages": len(stages) / n,
        "scheduler.tasks": sum(s["tasks"] for s in stages) / n,
        "scheduler.busy_frac": busy_frac(run_s, cpus, wall) if wall else 0.0,
        "scheduler.delay_s": sum(s["delay_s"] for s in stages) / n,
        "executor.run_s": run_s / n,
        "executor.cpu_s": sum(s["cpu_s"] for s in stages) / n,
        "executor.gc_s": sum(s["gc_s"] for s in stages) / n,
        "shuffle.write_bytes": sum(s["shuffle_write_bytes"] for s in stages) / n,
        "shuffle.read_bytes": sum(s["shuffle_read_bytes"] for s in stages) / n,
        "shuffle.fetch_wait_s": sum(s["fetch_wait_s"] for s in stages) / n,
        "shuffle.spill_bytes": sum(s["spill_bytes"] for s in stages) / n,
    }
    scan = lambda suffix: lambda k: k.startswith("Scan") and k.endswith(suffix)  # noqa: E731
    m["sources.scans"] = _sum_metric(sqls, scan(".nodes")) / n
    m["sources.files_read"] = _sum_metric(sqls, scan(".numFiles")) / n
    m["sources.bytes_read"] = _sum_metric(sqls, scan(".filesSize")) / n
    m["sources.rows_read"] = _sum_metric(sqls, scan(".numOutputRows")) / n
    m["sources.scan_s"] = _sum_metric(sqls, lambda k: k.startswith("Scan") and (
        k.endswith(".scanTime") or k.endswith(".metadataTime"))) / n
    m["sql.broadcast_collect_s"] = _sum_metric(sqls, lambda k: k == "BroadcastExchange.collectTime") / n
    m["sql.broadcast_build_s"] = _sum_metric(sqls, lambda k: k == "BroadcastExchange.buildTime") / n
    m["sql.broadcast_bytes"] = _sum_metric(sqls, lambda k: k == "BroadcastExchange.dataSize") / n
    m["sql.aggregate_s"] = _sum_metric(sqls, lambda k: k.endswith(".aggTime")) / n
    m["sql.sort_s"] = _sum_metric(sqls, lambda k: k.endswith(".sortTime")) / n
    for o in OPERATORS:
        mine = [j for j in jobs if module_of(j["callsite"]) == o]
        m[f"operators.{o}.jobs"] = len(mine) / n
        m[f"operators.{o}.wall_s"] = union_length([(j["start"], j["end"]) for j in mine]) / 1000 / n
        m[f"operators.{o}.run_s"] = sum(s["run_s"] for s in stages
                                        if module_of(s["callsite"]) == o) / n
    queries = by.get("query", [])
    m["caches.peak_mb"] = max([q.get("cache_mb", 0.0) for q in queries], default=0.0)
    m["caches.blocks"] = max([q.get("cache_blocks", 0) for q in queries], default=0)
    write = lambda suffix: lambda k: k.startswith("Execute") and k.endswith(suffix)  # noqa: E731
    m["write.files"] = _sum_metric(sqls, write(".numFiles")) / n
    m["write.bytes"] = _sum_metric(sqls, write(".numOutputBytes")) / n
    m["write.rows"] = _sum_metric(sqls, write(".numOutputRows")) / n
    m["write.task_commit_s"] = _sum_metric(sqls, write(".taskCommitTime")) / n
    m["write.job_commit_s"] = _sum_metric(sqls, write(".jobCommitTime")) / n
    m["write.bytes_per_input_byte"] = m["write.bytes"] / in_bytes
    m["stores.bytes_on_disk"] = stored
    m["stores.leaked_dirs"] = leaked
    st = rep.get("stream")
    m["streaming.batches"] = len(triggers) / n
    m["streaming.trigger_s"] = sum(t["end"] - t["start"] for t in triggers) / 1000 / n
    m["streaming.add_batch_s"] = sum(t["add_batch_s"] for t in triggers) / n
    m["streaming.plan_s"] = sum(t["plan_s"] for t in triggers) / n
    m["streaming.wal_s"] = sum(t["wal_s"] for t in triggers) / n
    m["streaming.state_rows"] = max([t["state_rows"] for t in triggers], default=0)
    m["streaming.backlog_docs"] = max([b for _, b in st["backlog"]], default=0) if st else 0
    m["streaming.generator_lag_s"] = max(st["generator_lag_s"], default=0.0) if st else 0.0
    m["streaming.rate_met_docs_per_s"] = stream_segments(st, limit_s)[2] if st else 0.0
    m["jvm.gc_s"] = rep["gc_s"] / max(1, len(rep.get("passes", [])) or 1)
    if kind == "batch":
        tr = [p["s"] for p in rep["passes"] if p["traced"]]
        un = [p["s"] for p in rep["passes"] if not p["traced"]]
        m["trace.overhead_frac"] = median(tr) / median(un) - 1
    else:
        m["trace.overhead_frac"] = rep["trace_overhead_frac"]
    return m
