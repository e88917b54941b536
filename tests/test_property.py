"""Property-based differential tests (hypothesis): the distributed
engine against single-process reference semantics on randomized inputs —
the generalization of the reference's ``sanityCheck`` differential
oracle (`/root/reference/test/mr.test.js:78-96`) from 2 fixtures to
arbitrary generated datasets.

Spark jobs are slow per example, so examples are capped and each
property batches one dataset per example.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from distributed_map_reduce_spark.plans.kv import KVTable
from distributed_map_reduce_spark.plans.mapreduce import exec_mr, local_exec_mr

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.text(alphabet="abcdef", min_size=1, max_size=3)
words = st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta"]), max_size=6)
pairs = st.lists(st.tuples(keys, words.map(" ".join)), min_size=1, max_size=20)


@SETTINGS
@given(data=pairs)
def test_exec_mr_matches_local_reference(spark, data):
    """Distributed map→combine→shuffle→reduce ≡ the single-process
    reference executor, for any input bag (order-insensitive).
    Closures are locals so cloudpickle ships them by value (a module-
    level fn pickles by reference and executors can't import tests)."""

    def wc_map(key, value):
        return [{w: 1} for w in value.split() if w.strip()]

    def wc_reduce(key, values):
        return (key, len(values))

    df = spark.createDataFrame(data, "key string, value string")
    got = sorted(exec_mr(df, wc_map, wc_reduce, num_partitions=4))
    want = sorted(local_exec_mr(data, wc_map, wc_reduce))
    assert got == want


@SETTINGS
@given(
    writes=st.lists(
        st.tuples(st.sampled_from(["k1", "k2", "k3", None]), st.integers(0, 99).map(str)),
        min_size=1,
        max_size=15,
    )
)
def test_kv_lww_matches_dict_replay(spark, writes):
    """KVTable LWW-resolve ≡ replaying the write sequence into a dict
    (the reference store's overwrite semantics, local/store.js:117-133).
    Content-addressed keys (None) collapse to one row per distinct value."""
    import hashlib
    import json

    kv = KVTable.from_pairs(spark, writes)
    got = {r["key"]: r["value"] for r in kv.resolve().select("key", "value").collect()}
    replay: dict[str, str] = {}
    for k, v in writes:
        if k is None:
            # Spark to_json emits compact JSON — no space after ':'
            k = hashlib.sha256(
                json.dumps({"value": v}, separators=(",", ":")).encode()
            ).hexdigest()
        replay[k] = v
    assert got == replay


_batch = st.tuples(
    st.integers(-1000, 1000),  # the batch's first seq: later batches may start lower
    st.lists(st.tuples(st.sampled_from(["k1", "k2", "k3", "k4"]), st.integers(0, 99).map(str)), min_size=1, max_size=8),
)


@SETTINGS
@given(batches=st.lists(_batch, min_size=2, max_size=4))
def test_kv_put_batches_match_dict_replay(spark, batches):
    """Resolving 2-4 put batches ≡ replaying them into a dict in put
    order, each batch in seq order, however the puts are composed: a
    left chain, a put whose argument is itself a multi-put table, and a
    log re-wrapped with ``KVTable(kv.df)`` before the next put."""
    tables = [
        KVTable(spark.createDataFrame([(k, v, s0 + i) for i, (k, v) in enumerate(rows)], "key string, value string, seq bigint"))
        for s0, rows in batches
    ]
    replay: dict[str, str] = {}
    for _, rows in batches:
        replay.update(rows)

    chain = tables[0]
    rewrapped = tables[0]
    for t in tables[1:]:
        chain = chain.put(t)
        rewrapped = KVTable(rewrapped.put(t).df)
    nested = tables[-1]
    for t in reversed(tables[1:-1]):
        nested = t.put(nested)
    nested = tables[0].put(nested)

    for kv in (chain, nested, rewrapped):
        got = {r["key"]: r["value"] for r in kv.resolve().select("key", "value").collect()}
        assert got == replay


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(-1000, 1000)),
        min_size=1,
        max_size=30,
    )
)
def test_salted_agg_matches_direct_random(spark, rows):
    from pyspark.sql import functions as F

    from distributed_map_reduce_spark.operators.skew import salted_agg

    df = spark.createDataFrame(rows, "k string, v long")
    direct = {
        r["k"]: (r["s"], r["n"])
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        r["k"]: (r["s"], r["n"])
        for r in salted_agg(df, "k", {"s": ("v", "sum"), "n": ("v", "count")}, n_salts=4).collect()
    }
    assert salted == direct


_JSON_VALUES = st.recursive(
    st.one_of(
        st.none(),
        st.booleans(),
        st.integers(-10**9, 10**9),
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        st.text(alphabet=st.characters(codec="ascii", exclude_characters="\x00"), max_size=20),
    ),
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(alphabet="abcdefg", min_size=1, max_size=5), children, max_size=4),
    ),
    max_leaves=8,
)


@SETTINGS
@given(values=st.lists(_JSON_VALUES, min_size=1, max_size=8))
def test_schemaless_content_address_parity_random(spark, values):
    """For arbitrary JSON-serializable values, the content-addressed key
    Spark computes (sha2 over the canonical-JSON column) must equal
    hashlib's sha256 of the same canonical text — the JVM/Python parity
    the reference's getID contract depends on (util/id.js:72-78)."""
    import hashlib

    from distributed_map_reduce_spark.plans.kv import KVTable, canonical_json

    kv = KVTable.from_objects(spark, [(None, v) for v in values])
    got_keys = {r["key"] for r in kv.df.select("key").collect()}
    want_keys = {
        hashlib.sha256(canonical_json(v).encode()).hexdigest() for v in values
    }
    assert got_keys == want_keys


@SETTINGS
@given(
    evs=st.lists(
        st.tuples(
            st.sampled_from(["u1", "u2"]),            # user
            st.integers(0, 6 * 3600),                 # seconds offset
        ),
        min_size=1,
        max_size=25,
        unique=True,
    )
)
def test_sessionize_matches_python_replay(spark, evs):
    """Gap-based sessionization (>30 min ⇒ new session) ≡ a sequential
    Python replay of the same rule, for arbitrary event streams —
    session count, per-session event counts, and boundaries all match."""
    import datetime

    from pyspark.sql import Window, functions as F

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (u, base + datetime.timedelta(seconds=s), i) for i, (u, s) in enumerate(evs)
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_id long")

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    is_new = F.when(
        lag_ts.isNull() | (F.col("ts").cast("long") - lag_ts.cast("long") > 1800), 1
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    got = (
        df.select("user_id", "ts", F.sum(is_new).over(run).alias("sid"))
        .groupBy("user_id", "sid")
        .agg(F.count(F.lit(1)).alias("n"), F.min("ts").alias("start"))
        .collect()
    )
    got_set = {(r["user_id"], r["sid"], r["n"], r["start"]) for r in got}

    # sequential replay
    want_set = set()
    for u in {u for u, _ in evs}:
        ts_sorted = sorted(t for uu, t in evs if uu == u)
        sid, n, start, prev = 0, 0, None, None
        for t in ts_sorted:
            if prev is None or t - prev > 1800:
                if n:
                    want_set.add((u, sid, n, base + datetime.timedelta(seconds=start)))
                sid, n, start = sid + 1, 0, t
            n += 1
            prev = t
        want_set.add((u, sid, n, base + datetime.timedelta(seconds=start)))
    assert got_set == want_set


def test_portable_samplers_deterministic_and_calibrated(spark):
    """The md5-pick samplers must be (a) identical across reruns — the
    property seeded RNG cannot give across engines/partitionings — and
    (b) within sampling-error of their nominal fractions."""
    from distributed_map_reduce_spark.registry import all_queries

    sf = "/root/testdata/sf0.01"
    qs = all_queries()
    b1 = sorted(r["o_orderkey"] for r in qs["sample_bernoulli"].fn(spark, sf).collect())
    b2 = sorted(r["o_orderkey"] for r in qs["sample_bernoulli"].fn(spark, sf).collect())
    assert b1 == b2 and len(b1) > 0
    n_orders = spark.read.parquet(f"{sf}/orders.parquet").count()
    frac = len(b1) / n_orders
    assert 0.07 <= frac <= 0.13, frac  # nominal 0.10

    strat = qs["sample_stratified"].fn(spark, sf).collect()
    by_status = {}
    for r in strat:
        by_status[r["o_orderstatus"]] = by_status.get(r["o_orderstatus"], 0) + 1
    base = dict(
        spark.read.parquet(f"{sf}/orders.parquet")
        .groupBy("o_orderstatus")
        .count()
        .collect()
    )
    nominal = {"O": 0.05, "F": 0.5, "P": 1.0}
    for st, f in nominal.items():
        if st in base and base[st] >= 50:
            got = by_status.get(st, 0) / base[st]
            assert abs(got - f) <= 0.05 + 2 / (base[st] ** 0.5), (st, got, f)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**9),  # cents
            st.integers(min_value=1, max_value=64),  # span_days
            st.integers(min_value=0, max_value=120),  # shipdate offset (days)
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=60, deadline=None)
def test_proration_closed_form_matches_per_day(lines):
    """temporal_calendar_proration's per-(line, month) CLOSED FORM —
    n_days * (cents // span) + clamp(rem - start_idx, 0, n_days) — must
    allocate exactly the same cents per calendar month as the literal
    day-by-day largest-remainder schedule (which the DuckDB oracle still
    runs). Pure-Python twin of the Spark expressions, driven over random
    (cents, span, shipdate) triples including spans crossing 1-5 month
    boundaries and the rem=0 / span=1 / cents=0 edges."""
    import datetime

    base = datetime.date(1995, 1, 1)
    per_day: dict[datetime.date, int] = {}
    closed: dict[datetime.date, int] = {}
    for cents, span, off in lines:
        ship = base + datetime.timedelta(days=off)
        q, rem = divmod(cents, span)
        # brute force: one allocation per day
        for idx in range(span):
            d = ship + datetime.timedelta(days=idx)
            m = d.replace(day=1)
            per_day[m] = per_day.get(m, 0) + q + (1 if idx < rem else 0)
        # closed form: one allocation per touched month
        last = ship + datetime.timedelta(days=span - 1)
        m = ship.replace(day=1)
        while m <= last:
            nxt = (m.replace(day=28) + datetime.timedelta(days=4)).replace(day=1)
            month_end = nxt - datetime.timedelta(days=1)
            start_idx = max(0, (m - ship).days)
            end_idx = min(span - 1, (month_end - ship).days)
            n_days = end_idx - start_idx + 1
            bonus = max(0, min(rem - start_idx, n_days))
            closed[m] = closed.get(m, 0) + n_days * q + bonus
            m = nxt
    assert closed == per_day


@settings(max_examples=50, deadline=None)
@given(m=st.integers(min_value=0, max_value=999_999))
def test_poisson_weight_twins_agree(m):
    """The SQL CASE (_poisson_weight_sql, consumed by every DuckDB
    oracle coin) and the Column CASE (_poisson_weight_col, consumed by
    the wide-agg bootstrap) must map every coin in [0, 1e6) to the same
    Poisson(1) weight — editing the thresholds in one twin without the
    other would silently split the engines. Both are replayed in pure
    Python here off their shared threshold tuple plus an independent
    linear scan."""
    import duckdb

    from distributed_map_reduce_spark.operators.stats import (
        _POIS1_CUM,
        _poisson_weight_sql,
    )

    expected = next(
        (k for k, t in enumerate(_POIS1_CUM) if m < t), len(_POIS1_CUM)
    )
    got_sql = duckdb.sql(f"SELECT {_poisson_weight_sql(str(m))} AS w").fetchone()[0]
    assert got_sql == expected


def test_poisson_weight_column_twin_at_boundaries(spark):
    """One Spark job drives _poisson_weight_col over every CDF threshold
    boundary (t-1, t, t+1 for each cumulative cut, plus 0 and 999999)
    and compares to the shared-threshold linear scan — the Column twin
    of the per-coin SQL parity above."""
    from distributed_map_reduce_spark.operators.stats import (
        _POIS1_CUM,
        _poisson_weight_col,
    )
    from pyspark.sql import functions as F

    ms = sorted(
        {0, 999_999}
        | {v for t in _POIS1_CUM for v in (t - 1, t, t + 1) if 0 <= v < 1_000_000}
    )
    df = spark.createDataFrame([(m,) for m in ms], "m bigint").select(
        "m", _poisson_weight_col(F.col("m")).alias("w")
    )
    got = {r["m"]: r["w"] for r in df.collect()}
    for m in ms:
        expected = next(
            (k for k, t in enumerate(_POIS1_CUM) if m < t), len(_POIS1_CUM)
        )
        assert got[m] == expected, (m, got[m], expected)
