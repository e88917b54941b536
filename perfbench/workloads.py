"""The benchmark's workloads and their operations.

An operation (op) is one client request in the closed loop. ``run`` is
the timed body and returns (result rows, ok) with a cheap correctness
test; ``check`` runs the op once untimed and compares its full output
with an independent model. Ops open spans for the layer they call into;
spans record only in the traced phase.
"""

from __future__ import annotations

import os
import random
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np

from . import gen
from .trace import TRACER

# Fixtures: name -> scale factor.
FIXTURES = {"tiny": 0.001, "small": 0.01}
FIXTURE_SEED = 20240101

# mr_kv sizes: (puts, distinct keys, point gets per pass).
KV_SIZES = {"tiny": (4_000, 400, 5), "measure": (60_000, 6_000, 35)}
KV_PREFIX = "k3/"


@dataclass
class Workload:
    """A workload's ops; BENCHMARK.json records why each was chosen."""

    name: str
    queries: tuple[str, ...] = ()  # registry queries, run on the "small" fixture
    kv: bool = False  # the keyed put/get/scan/delete/MapReduce steps


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "short",
            queries=(
                "q1_pricing_summary",
                "q5_local_supplier_volume",
                "text_wordcount_topn",
                "dedup_exact",
                "temporal_scd2_history",
                "kv_cdc_tombstone_apply",
                "stream_trending_topk",
            ),
        ),
        Workload("mr_kv", kv=True),
    )
}


@contextmanager
def phase(spark, op: str, name: str, kind: str):
    """A span for one layer call; in the traced phase also a Spark job
    group, so the event log tags the phase's jobs."""
    with TRACER.span(name, phase=kind) as s:
        if s is not None:
            spark.sparkContext.setJobGroup(f"perfbench:{op}:{kind}", f"{op} {name}")
        yield s


# --------------------------------------------------------------------------
# Query ops


class QueryOp:
    first = False

    def __init__(self, query, data_dir: str, expected: dict | None, execute, canon) -> None:
        self.q = query
        self.name = query.name
        self.data_dir = data_dir
        self.expected = expected
        self._execute = execute
        self._canon = canon  # pdf -> answer dict
        self.tables: set[str] = set()

    def run(self, spark) -> tuple[int, bool]:
        with phase(spark, self.name, "registry.construct", "construct"):
            df = self.q.fn(spark, self.data_dir)
        with phase(spark, self.name, "operators.execute", "execute"):
            rows = self._execute(df, self.name)
        return rows, self.expected is None or rows == self.expected["rows"]

    def check(self, spark) -> tuple[int, bool, str]:
        got = self._canon(self.q.fn(spark, self.data_dir).toPandas())
        ok = got == self.expected
        return got["rows"], ok, "" if ok else f"got {got} want {self.expected}"


# --------------------------------------------------------------------------
# mr_kv ops


def _word_map(_key, value):
    return [{w: 1} for w in value.split(" ") if w]


def _count_reduce(key, values):
    return (key, sum(values))


class KVState:
    """Inputs and the independent models of one mr_kv instance."""

    def __init__(self, root: str, seed: int, size: str) -> None:
        n_puts, n_keys, n_gets = KV_SIZES[size]
        self.dir = os.path.join(root, f"kv-{size}-{seed}")
        self.fp = gen.ensure_dir(
            self.dir,
            lambda: dict(zip(("batch1", "batch2"), gen.kv_batches(seed, n_puts, n_keys))),
        )
        self.batches = [os.path.join(self.dir, f"batch{i}.parquet") for i in (1, 2)]
        self.out = os.path.join(root, "work", f"kv_resolved_{size}")
        self.n_puts = n_puts
        self._model(seed, n_gets)

    def _model(self, seed: int, n_gets: int) -> None:
        """Last-write-wins in DuckDB: the later batch, then the larger seq,
        wins. Point-get keys, the prefix, delete keys and the MapReduce
        answer all derive from it."""
        import duckdb

        from distributed_map_reduce_spark.plans.mapreduce import local_exec_mr

        b1, b2 = self.batches
        rows = duckdb.sql(
            f"""
            SELECT key, value FROM (
              SELECT *, row_number() OVER (PARTITION BY key ORDER BY b DESC, seq DESC) rn
              FROM (SELECT *, 1 b FROM read_parquet('{b1}')
                    UNION ALL SELECT *, 2 b FROM read_parquet('{b2}'))
            ) WHERE rn = 1 ORDER BY key
            """
        ).fetchall()
        self.live = dict(rows)
        keys = sorted(self.live)
        rng = random.Random(seed)
        self.get_keys = [keys[int(len(keys) * rng.random() ** 2)] for _ in range(n_gets)]
        self.scan = {k: v for k, v in self.live.items() if k.startswith(KV_PREFIX)}
        self.delete_keys = rng.sample(keys, max(1, len(keys) // 100))
        self.mr = dict(local_exec_mr(self.live.items(), _word_map, _count_reduce))


class KVOp:
    """One mr_kv step. ``run`` verifies the whole output against the model
    after the timed call returns; the time excludes the comparison."""

    first = False  # run before the other ops of a pass (the write they read)

    def __init__(self, name: str, state: KVState, body) -> None:
        self.name = name
        self.state = state
        self.body = body
        self.get_ms: list[float] = []

    def run(self, spark) -> tuple[int, bool]:
        return self.body(self, spark)

    def check(self, spark) -> tuple[int, bool, str]:
        rows, ok = self.body(self, spark)
        detail = ""
        if ok and self.name == "put_resolve_write":
            import duckdb

            got = duckdb.sql(
                f"SELECT key, value FROM read_parquet('{self.state.out}/*.parquet')"
            ).fetchall()
            ok = len(got) == len(self.state.live) and dict(got) == self.state.live
            detail = "" if ok else "resolved table differs from the LWW model"
        return rows, ok, detail or ("" if ok else f"{self.name} output differs from the model")


def _put_resolve_write(op: KVOp, spark) -> tuple[int, bool]:
    from distributed_map_reduce_spark.plans.kv import KVTable

    st = op.state
    with phase(spark, op.name, "plans.kv.put", "execute"):
        b1, b2 = (spark.read.parquet(p) for p in st.batches)
        log = KVTable(b1).put(b2)
    with phase(spark, op.name, "plans.kv.resolve_write", "execute"):
        log.resolve().select("key", "value").write.mode("overwrite").parquet(st.out)
    return st.n_puts, True


def _gets(op: KVOp, spark) -> tuple[int, bool]:
    from distributed_map_reduce_spark.plans.kv import KVTable

    st = op.state
    kv = KVTable(spark.read.parquet(st.out), resolved=True)
    ok = True
    for key in st.get_keys:
        t0 = time.perf_counter()
        with phase(spark, op.name, "plans.kv.get", "execute"):
            got = kv.get(key).collect()
        op.get_ms.append((time.perf_counter() - t0) * 1000.0)
        ok &= len(got) == 1 and got[0]["value"] == st.live[key]
    return len(st.get_keys), ok


def _scan_prefix(op: KVOp, spark) -> tuple[int, bool]:
    from distributed_map_reduce_spark.plans.kv import KVTable

    st = op.state
    with phase(spark, op.name, "plans.kv.scan_prefix", "execute"):
        got = KVTable(spark.read.parquet(st.out), resolved=True).scan_prefix(KV_PREFIX).collect()
    return len(got), len(got) == len(st.scan) and {r["key"]: r["value"] for r in got} == st.scan


def _delete(op: KVOp, spark) -> tuple[int, bool]:
    from distributed_map_reduce_spark.plans.kv import KVTable

    st = op.state
    with phase(spark, op.name, "plans.kv.delete", "execute"):
        b1, b2 = (spark.read.parquet(p) for p in st.batches)
        n = KVTable(b1).put(b2).delete(st.delete_keys).resolve().count()
    return n, n == len(st.live) - len(set(st.delete_keys))


def _mapreduce(op: KVOp, spark) -> tuple[int, bool]:
    from distributed_map_reduce_spark.plans.mapreduce import exec_mr_df

    st = op.state
    with phase(spark, op.name, "plans.mapreduce.exec_mr", "execute"):
        pairs = spark.read.parquet(st.out).select("key", "value")
        got = exec_mr_df(spark, pairs, _word_map, _count_reduce, "word string, n bigint").collect()
    return len(got), len(got) == len(st.mr) and {r["word"]: r["n"] for r in got} == st.mr


KV_STEPS = (
    ("put_resolve_write", _put_resolve_write),
    ("point_gets", _gets),
    ("scan_prefix", _scan_prefix),
    ("delete_resolve", _delete),
    ("mr_wordcount", _mapreduce),
)


def kv_ops(root: str, seed: int, size: str) -> tuple[list[KVOp], KVState]:
    st = KVState(root, seed, size)
    ops = [KVOp(name, st, body) for name, body in KV_STEPS]
    ops[0].first = True
    return ops, st


def kv_input_rows(op: KVOp) -> int:
    """Input rows one run of a KV step reads: the put log (write, delete),
    the resolved table (scan, MapReduce) or one row per point get."""
    st = op.state
    if op.name in ("put_resolve_write", "delete_resolve"):
        return st.n_puts
    if op.name == "point_gets":
        return len(st.get_keys)
    return len(st.live)


def fixture_rows(fp: dict) -> dict[str, int]:
    return {n[: -len(".parquet")]: f["rows"] for n, f in fp["files"].items()}


def shuffled(ops, rng: np.random.Generator):
    """A seeded order of ``ops``; an op marked ``first`` stays in front."""
    ops = list(ops)
    order = [ops[i] for i in rng.permutation(len(ops))]
    return [o for o in order if o.first] + [o for o in order if not o.first]
