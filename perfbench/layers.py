"""Per-layer metrics from the traced phase.

For every op the traced loop keeps the lower-median sample (by wall
time), so that sample's layer self-times add up exactly to its wall; a
workload's metric is the sum over its ops. Jobs from the event log and
streaming progress events are attributed to a sample by time: one client
thread runs one op at a time.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from . import stats

# (name, unit) in the order BENCHMARK.json lists them.
PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("session.first_op_s", "s"),
    ("session.warmup_s", "s"),
    ("sources.load_calls", "count"),
    ("sources.load_s", "s"),
    ("sources.load_jobs", "count"),
    ("registry.tune_session_calls", "count"),
    ("registry.tune_session_s", "s"),
    ("registry.construct_self_s", "s"),
    ("registry.construct_jobs", "count"),
    ("operators.execute_s", "s"),
    ("operators.jobs", "count"),
    ("operators.stages", "count"),
    ("operators.tasks", "count"),
    ("operators.tasks_failed", "count"),
    ("operators.result_rows", "count"),
    ("operators.shuffle_read_mb", "MB"),
    ("operators.shuffle_write_mb", "MB"),
    ("operators.spill_mb", "MB"),
    ("operators.gc_s", "s"),
    ("operators.task_busy_frac", "ratio"),
    ("plans.kv.put_s", "s"),
    ("plans.kv.resolve_write_s", "s"),
    ("plans.kv.get_s", "s"),
    ("plans.kv.get_p50_ms", "ms"),
    ("plans.kv.get_p90_ms", "ms"),
    ("plans.kv.scan_prefix_s", "s"),
    ("plans.kv.delete_s", "s"),
    ("plans.kv.live_frac", "ratio"),
    ("plans.mapreduce.exec_mr_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.trigger_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.state_rows", "count"),
    ("trace.wall_s", "s"),
    ("trace.untraced_wall_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.unattributed_s", "s"),
)

# Span name -> the self-time metric it feeds.
SELF_TIME = {
    "registry.construct": "registry.construct_self_s",
    "registry.tune_session": "registry.tune_session_s",
    "sources.load_table": "sources.load_s",
    "sources.register_views": "sources.load_s",
    "operators.execute": "operators.execute_s",
    "plans.kv.put": "plans.kv.put_s",
    "plans.kv.resolve_write": "plans.kv.resolve_write_s",
    "plans.kv.get": "plans.kv.get_s",
    "plans.kv.scan_prefix": "plans.kv.scan_prefix_s",
    "plans.kv.delete": "plans.kv.delete_s",
    "plans.mapreduce.exec_mr": "plans.mapreduce.exec_mr_s",
}
CALL_COUNT = {
    "sources.load_table": "sources.load_calls",
    "registry.tune_session": "registry.tune_session_calls",
}
MB = 1024.0 * 1024.0


def _containing(spans, t: float):
    return [s for s in spans if s.start <= t <= s.end]


def _job_phase(job: dict, spans) -> str:
    group = job.get("group") or ""
    if group.startswith("perfbench:"):
        return group.rsplit(":", 1)[1]
    for s in sorted(_containing(spans, job["t"]), key=lambda s: s.end - s.start):
        if "phase" in s.attrs:
            return s.attrs["phase"]
    return "execute"


def sample_metrics(sample: dict, jobs: list[dict], progress: list[dict]) -> dict[str, float]:
    """Layer metrics of one op sample."""
    m: dict[str, float] = defaultdict(float)
    spans = sample["spans"]
    selfs = stats.self_times(spans)
    for s in spans:
        m[SELF_TIME[s.name]] += selfs[s.id]
        if s.name in CALL_COUNT:
            m[CALL_COUNT[s.name]] += 1
    top = [(s.start, s.end) for s in spans if s.parent is None]
    m["trace.unattributed_s"] = sample["s"] - stats.union_length(top)
    t0, t1 = sample["t0"], sample["t1"]
    for j in jobs:
        if not t0 <= j["t"] <= t1:
            continue
        if any(s.name.startswith("sources.") for s in _containing(spans, j["t"])):
            m["sources.load_jobs"] += 1
        elif _job_phase(j, spans) == "construct":
            m["registry.construct_jobs"] += 1
        else:
            m["operators.jobs"] += 1
        m["operators.stages"] += j["stages"]
        m["operators.tasks"] += j["tasks"]
        m["operators.tasks_failed"] += j["tasks_failed"]
        m["operators.shuffle_read_mb"] += j["shuffle_read"] / MB
        m["operators.shuffle_write_mb"] += j["shuffle_write"] / MB
        m["operators.spill_mb"] += j["spill"] / MB
        m["operators.gc_s"] += j["gc_ms"] / 1000.0
        m["_run_s"] += j["run_ms"] / 1000.0
    for p in progress:
        if t0 <= p["t"] <= t1:
            m["streaming.batches"] += 1
            for k in ("trigger_ms", "add_batch_ms", "wal_commit_ms", "query_planning_ms"):
                m[f"streaming.{k}"] += p[k]
            m["streaming.state_rows"] = max(m["streaming.state_rows"], p["state_rows"])
    m["operators.result_rows"] += sample["rows"] or 0
    return m


def per_layer(samples, jobs, progress, untraced_wall, setups, get_ms, cores, record) -> dict:
    total: dict[str, float] = defaultdict(float)
    wall = 0.0
    chosen = {}
    for name, ss in samples.items():
        if not ss:
            continue
        s = sorted(ss, key=lambda x: x["s"])[(len(ss) - 1) // 2]
        chosen[name] = s["s"]
        wall += s["s"]
        for k, v in sample_metrics(s, jobs, progress).items():
            total[k] += v
    total["operators.task_busy_frac"] = total.pop("_run_s", 0.0) / (wall * cores) if wall else 0.0
    total["session.get_spark_s"] = statistics.median(s["get_spark_s"] for s in setups)
    total["session.first_op_s"] = statistics.median(s["first_op_s"] for s in setups)
    total["session.warmup_s"] = record["warmup_s"]
    if get_ms:
        # p90 needs ten gets beyond it; with fewer, report the highest
        # percentile the samples support (recorded beside the result).
        top = stats.highest_supported_percentile(len(get_ms)) or 50.0
        total["plans.kv.get_p50_ms"] = stats.percentile(get_ms, 50)
        total["plans.kv.get_p90_ms"] = stats.percentile(get_ms, min(90.0, top))
        record["get_samples"] = len(get_ms)
        record["get_highest_supported_percentile"] = top
    kv = record.get("kv_live_frac")
    if kv is not None:
        total["plans.kv.live_frac"] = kv
    total["trace.wall_s"] = wall
    total["trace.untraced_wall_s"] = untraced_wall
    traced = sum(statistics.median(x["s"] for x in ss) for ss in samples.values() if ss)
    total["trace.overhead_s"] = traced - untraced_wall
    record["traced_per_op_s"] = chosen
    return {name: (float(total.get(name, 0.0)), unit) for name, unit in PER_LAYER}
