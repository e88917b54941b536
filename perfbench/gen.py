"""Seeded input generation for the benchmark.

Two kinds of inputs, both written as parquet under the checkout's
``.perfbench/data`` directory (never under the git tree's tracked files):

- *fixtures*: the engine's ten catalog tables (``sources.TABLES``) with
  the schemas the query builders expect — a TPC-H-like star schema, an
  ``events`` stream table, a ``documents`` corpus with planted exact and
  near duplicates, and unit-norm 64-d ``embeddings``. A fixture is a
  pure function of (row counts, fixture seed), so its oracle hashes can
  be cached across runs.
- *kv puts*: two batches of (key, value, seq) writes for the ``mr_kv``
  workload. Keys follow a cubic skew so most puts are overwritten; the
  workload seed fixes them.

Every input carries a fingerprint (row counts + sha256 of every file)
that is stamped into each result.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table at scale factor 1, matching the catalog's TPC-H-like
# shape (nation/region are fixed-size at every scale).
_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "red", "blue", "new", "hot", "green", "old", "big"]
_NOUN = ["ring", "widget", "anvil", "bolt", "rod", "plate", "gear", "nut"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en"] * 8 + ["de", "es", "fr", "zh"] * 3
_VOCAB = (
    "a the query row stream part column order scan slow agg key window table "
    "merge vector join batch sort value hash filter big data dup spark line "
    "small fast group customer"
).split()
# Words only the KV values use, so the MapReduce word count has a long tail.
_KV_VOCAB = _VOCAB + [f"w{i}" for i in range(2000)]

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def fixture_rows(sf: float) -> dict[str, int]:
    """Row counts of every table at scale ``sf`` (documents and embeddings
    keep a floor so the corpus operators have work at tiny scales)."""
    rows = {t: max(1, int(round(n * sf))) for t, n in _PER_SF.items()}
    rows["documents"] = max(50, rows["documents"])
    rows["embeddings"] = max(500, rows["embeddings"])
    rows["nation"], rows["region"] = 25, 5
    return rows


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: np.datetime64, span_days: int, n: int) -> np.ndarray:
    return start + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.03:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.08:  # near duplicate: a few words replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [_LANGS[k] for k in rng.integers(0, len(_LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.normal(size=(n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64).cast(pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def fixture_tables(rows: dict[str, int], seed: int) -> dict[str, pa.Table]:
    """Build every catalog table in memory; same (rows, seed) → same bytes."""
    rng = np.random.default_rng(seed)
    nc, ns, npart, no, nl, ne = (
        rows[t] for t in ("customer", "supplier", "part", "orders", "lineitem", "events")
    )
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [_SEGMENTS[k] for k in rng.integers(0, 5, nc)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
            "p_type": [_PTYPES[k] for k in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, EPOCH_1995, 2404, no),
            "o_orderpriority": [_PRIORITIES[k] for k in rng.integers(0, 5, no)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, EPOCH_1995 + np.timedelta64(1, "D"), 2498, nl),
        }
    )
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, ne)).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, ne // 67), ne), pa.int64()),
            "event_type": [_EVENT_TYPES[k] for k in rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng, rows["documents"])
    t["embeddings"] = _embeddings(rng, rows["embeddings"])
    return t


def kv_batches(seed: int, n_puts: int, n_keys: int) -> list[pa.Table]:
    """Two put batches over ``n_keys`` keys with cubic skew (key index
    ~ n_keys * u**3), so hot keys are overwritten many times. ``seq`` is
    the global ingestion order; values are short word lists."""
    rng = np.random.default_rng(seed)
    idx = np.floor(n_keys * rng.random(n_puts) ** 3).astype(np.int64)
    vocab = np.array(_KV_VOCAB)
    lens = rng.integers(3, 9, n_puts)
    words = vocab[np.floor(len(vocab) * rng.random(int(lens.sum())) ** 2).astype(np.int64)]
    cuts = np.cumsum(lens)[:-1]
    values = [" ".join(w) for w in np.split(words, cuts)]
    keys = [f"k{i % 16:x}/{i:07d}" for i in idx]
    half = n_puts // 2
    out = []
    for lo, hi in ((0, half), (half, n_puts)):
        out.append(
            pa.table(
                {
                    "key": keys[lo:hi],
                    "value": values[lo:hi],
                    "seq": pa.array(np.arange(lo, hi), pa.int64()),
                }
            )
        )
    return out


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def fingerprint(dir_path: str) -> dict:
    """Row counts and content hashes of every parquet file in a directory,
    plus one digest over all of them (the oracle-cache key)."""
    files = {}
    for name in sorted(os.listdir(dir_path)):
        if name.endswith(".parquet"):
            p = os.path.join(dir_path, name)
            files[name] = {"rows": pq.ParquetFile(p).metadata.num_rows, "sha256": file_sha256(p)}
    digest = hashlib.sha256(json.dumps(files, sort_keys=True).encode()).hexdigest()[:16]
    return {"digest": digest, "files": files}


def _write_dir(dst: str, tables: dict[str, pa.Table]) -> dict:
    """Write tables atomically: a half-written directory never looks done."""
    tmp = dst + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    fp = fingerprint(tmp)
    with open(os.path.join(tmp, "FINGERPRINT.json"), "w") as f:
        json.dump(fp, f, sort_keys=True)
    os.replace(tmp, dst)
    return fp


def ensure_dir(dst: str, build) -> dict:
    """Return the fingerprint of ``dst``, building it with ``build()``
    (→ {name: table}) when absent."""
    fp_path = os.path.join(dst, "FINGERPRINT.json")
    if os.path.exists(fp_path):
        with open(fp_path) as f:
            return json.load(f)
    return _write_dir(dst, build())
