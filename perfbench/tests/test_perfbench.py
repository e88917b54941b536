"""Unit tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, layers, oracle, stats, trace, workloads
from perfbench.trace import Span

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- highest-supported-percentile rule ---------------------------------------


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0),
     (1000, 99.0), (10_000, 99.9)],
)
def test_highest_supported_percentile_needs_ten_samples_beyond(n, want):
    assert stats.highest_supported_percentile(n) == want


def test_percentile_is_nearest_rank():
    assert stats.percentile([5, 1, 3, 2, 4], 50) == 3
    assert stats.percentile([5, 1, 3, 2, 4], 100) == 5
    assert stats.percentile([7], 90) == 7


# -- span self time -----------------------------------------------------------


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    spans = [
        Span(1, None, "op", 0.0, 10.0),
        Span(2, 1, "a", 1.0, 3.0),
        Span(3, 1, "b", 2.0, 5.0),  # overlaps a: [1, 5] counts once
        Span(4, 1, "c", 9.0, 12.0),  # runs past the parent: clipped to [9, 10]
        Span(5, 3, "d", 2.5, 3.5),  # grandchild: only reduces b
    ]
    got = stats.self_times(spans)
    assert got[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got[2] == pytest.approx(2.0)
    assert got[3] == pytest.approx(3.0 - 1.0)
    assert got[4] == pytest.approx(3.0)
    assert got[5] == pytest.approx(1.0)


def test_sample_self_times_sum_to_the_wall():
    spans = [
        Span(1, None, "registry.construct", 100.0, 101.0, {"phase": "construct"}),
        Span(2, 1, "sources.load_table", 100.2, 100.5, {"table": "orders"}),
        Span(3, 1, "registry.tune_session", 100.0, 100.1),
        Span(4, None, "operators.execute", 101.0, 102.5, {"phase": "execute"}),
    ]
    jobs = [
        {"t": 100.3, "group": None, "stages": 1, "tasks": 1, "tasks_failed": 0,
         "shuffle_read": 0, "shuffle_write": 0, "spill": 0, "gc_ms": 0, "run_ms": 5},
        {"t": 100.7, "group": None, "stages": 2, "tasks": 4, "tasks_failed": 0,
         "shuffle_read": 0, "shuffle_write": 0, "spill": 0, "gc_ms": 0, "run_ms": 5},
        {"t": 101.5, "group": "perfbench:q:execute", "stages": 2, "tasks": 8, "tasks_failed": 1,
         "shuffle_read": 2 * layers.MB, "shuffle_write": layers.MB, "spill": 0, "gc_ms": 10,
         "run_ms": 50},
    ]
    sample = {"s": 2.6, "t0": 99.95, "t1": 102.55, "rows": 7, "spans": spans}
    m = layers.sample_metrics(sample, jobs, [])
    self_sum = sum(m[k] for k in set(layers.SELF_TIME.values()) if k in m)
    assert self_sum + m["trace.unattributed_s"] == pytest.approx(sample["s"])
    assert m["sources.load_jobs"] == 1
    assert m["registry.construct_jobs"] == 1
    assert m["operators.jobs"] == 1
    assert m["operators.tasks_failed"] == 1
    assert m["operators.shuffle_read_mb"] == pytest.approx(2.0)
    assert m["sources.load_calls"] == 1 and m["registry.tune_session_calls"] == 1


# -- oracle cache ---------------------------------------------------------------


def _write_fixture(d):
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table({"x": [1, 2, 3]}), os.path.join(d, "t.parquet"))


def _cache(path, d, calls):
    def compute(sql):
        import pandas as pd

        calls.append(sql)
        return pd.DataFrame({"x": [1, 2, 3]})

    return oracle.OracleCache(
        path, gen.fingerprint(d)["digest"], compute, lambda pdf: sorted(map(str, pdf["x"])),
        lambda lines: "|".join(lines),
    )


def test_oracle_cache_hits_until_a_fixture_file_changes(tmp_path):
    d, path, calls = str(tmp_path / "fx"), str(tmp_path / "cache.json"), []
    _write_fixture(d)
    want = {"hash": "1|2|3", "rows": 3, "cols": ["x"]}
    assert _cache(path, d, calls).get("SELECT 1") == want
    assert _cache(path, d, calls).get("SELECT 1") == want  # reloaded from disk
    assert len(calls) == 1
    pq.write_table(pa.table({"x": [1, 2, 4]}), os.path.join(d, "t.parquet"))
    _cache(path, d, calls).get("SELECT 1")
    assert len(calls) == 2
    _cache(path, d, calls).get("SELECT 2")  # new SQL text misses too
    assert len(calls) == 3


# -- inputs ------------------------------------------------------------------------


def test_fixture_and_kv_inputs_are_a_function_of_the_seed(tmp_path):
    rows = gen.fixture_rows(0.0005)
    a = gen.fixture_tables(rows, 1)
    assert a["lineitem"].equals(gen.fixture_tables(rows, 1)["lineitem"])
    assert not a["lineitem"].equals(gen.fixture_tables(rows, 2)["lineitem"])
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings",
    }
    b1, b2 = gen.kv_batches(5, 1000, 100)
    c1, _ = gen.kv_batches(5, 1000, 100)
    assert b1.equals(c1) and b1.num_rows + b2.num_rows == 1000
    assert len(set(b1["key"].to_pylist() + b2["key"].to_pylist())) < 100


def test_ensure_dir_builds_once(tmp_path):
    d, built = str(tmp_path / "kv"), []

    def build():
        built.append(1)
        return {"t": pa.table({"x": [1]})}

    fp = gen.ensure_dir(d, build)
    assert gen.ensure_dir(d, build) == fp == gen.fingerprint(d)
    assert len(built) == 1 and fp["files"]["t.parquet"]["rows"] == 1


# -- event log ----------------------------------------------------------------------


def test_parse_event_log_sums_stage_metrics_per_job(tmp_path):
    acc = lambda name, v: {"Name": f"internal.metrics.{name}", "Value": v}  # noqa: E731
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1500,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "perfbench:q:construct"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "ExceptionFailure"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "Success"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 3, "Accumulables": [
                acc("executorRunTime", 40), acc("jvmGCTime", 4),
                acc("shuffle.read.localBytesRead", 10), acc("shuffle.read.remoteBytesRead", 5),
                acc("shuffle.write.bytesWritten", 7), acc("diskBytesSpilled", 2)]}},
    ]
    p = tmp_path / "log"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (job,) = trace.parse_event_log(str(p))
    assert job["t"] == 1.5 and job["group"] == "perfbench:q:construct"
    assert (job["stages"], job["tasks"], job["tasks_failed"]) == (1, 3, 1)
    assert (job["shuffle_read"], job["shuffle_write"], job["spill"]) == (15, 7, 2)
    assert (job["gc_ms"], job["run_ms"]) == (4, 40)


# -- BENCHMARK.json agrees with the code ------------------------------------------


def test_benchmark_json_names_the_code_s_workloads_and_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(layers.PER_LAYER)
    assert {m["name"] for m in spec["end_to_end"]} == {
        "wall_s", "setup_s", "input_rows_per_s", "peak_rss_mb"
    }


# -- comparison -----------------------------------------------------------------


def _record(tmp_path, name, cores, wall):
    rec = {"workload": "short", "trace": 0, "cores": {"nproc": cores},
           "metrics": {"wall_s": {"value": wall, "unit": "s"}}}
    p = tmp_path / name
    p.write_text(json.dumps(rec))
    return str(p)


def test_compare_refuses_unequal_core_counts(tmp_path, capsys):
    from perfbench import compare

    base = _record(tmp_path, "a.json", 4, 5.0)
    assert compare.main([base, _record(tmp_path, "b.json", 4, 5.1)]) == 0
    assert compare.main([base, _record(tmp_path, "c.json", 4, 7.0)]) == 1  # worse than 0.25
    assert compare.main([base, _record(tmp_path, "d.json", 8, 5.0)]) == 3
    assert "unequal core counts" in capsys.readouterr().err
