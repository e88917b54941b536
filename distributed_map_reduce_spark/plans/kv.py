"""Keyed-dataset (KV) semantics over DataFrames.

Reference semantics (SURVEY.md §1.1-§1.4, §2.1 D10-D14):

- a named group holds (key, value) pairs; `put` is a silent last-write-
  wins upsert (`/root/reference/distribution/local/store.js:117-133`);
- `put(value, null)` content-addresses the value — key = SHA-256 of its
  JSON (`/root/reference/distribution/util/id.js:72-78`, applied at
  `local/store.js:128`);
- `get(key)` point read, `get(null)` full key scan
  (`distribution/all/store.js:150-177`), `del(key)` delete;
- `reconf` re-partitions after membership change
  (`all/store.js:217-285`).

Spark-first translation: a ``KVTable`` wraps a put log, a DataFrame
``(key STRING, value <T>, seq BIGINT[, _gen INT])``. ``seq`` is the
ingestion order inside one batch that makes LWW deterministic on an
immutable DataFrame (SURVEY.md §7.5 item 2). ``_gen`` is the put order:
``put`` numbers its argument's batches after the receiver's on the
driver, so recording the order reads no data and adds no aggregate or
join. The schema metadata of ``_gen`` carries the generation count, so
a log re-wrapped with ``KVTable(kv.df)`` keeps its order. ``resolve()``
keeps, per key, the row of the latest put and, within it, the largest
``seq`` — one window, one exchange on key. A single batch has no
``_gen`` column; a table wrapped with ``resolved=True`` is already one
row per key and carries neither column unless its frame has them.
Placement/hashing (naive/consistent/rendezvous, `util/id.js:107-148`)
collapses into Spark's hash partitioner: ``reconf(n)`` ==
``repartition(n, "key")``, and AQE handles runtime re-partitioning.

At scale: the production form of LWW-resolve is a Delta/Iceberg MERGE
(jar not in this image); the window-resolve here is the same shuffle
shape (one exchange on key) and works on any size because rows group by
key, never collect to the driver.
"""

from __future__ import annotations

import datetime
import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def canonical_json(value: Any) -> str:
    """Canonical JSON text for schema-less values — the reference's
    universal serializer re-expressed as a storage format
    (`/root/reference/distribution/util/serialization.js:441-499`:
    arbitrary nested objects/arrays/numbers/strings/booleans/null/Date).

    Sorted keys + compact separators make the text deterministic, so
    sha-256 content addressing is stable across writers; Date becomes an
    ISO-8601 string (the reference tags native Dates; a typed projection
    casts it back). Cycles and function-valued data are out of scope
    (SURVEY.md §2.3)."""

    def _default(o: Any) -> str:
        if isinstance(o, (datetime.datetime, datetime.date)):
            return o.isoformat()
        raise TypeError(f"unserializable value of type {type(o).__name__}")

    return json.dumps(value, sort_keys=True, separators=(",", ":"), default=_default)


def json_field(col, path: str, dtype: str | None = None) -> F.Column:
    """Typed projection into a schema-less JSON value column:
    `get_json_object` + cast. Stays JVM-side (no Python UDF), so a
    projection over 100 TB of JSON values is one codegen'd scan."""
    out = F.get_json_object(col, path)
    return out.cast(dtype) if dtype else out


def content_address(*cols) -> F.Column:
    """key = sha256 of the canonical JSON of the value — the reference's
    content addressing (`id.js:72-78`). Use integer/string fields so JSON
    text is canonical across engines."""
    return F.sha2(F.to_json(F.struct(*cols)), 256)


_GEN = "_gen"
_GENS = "kv_generations"  # schema metadata key on _gen: the generation count


class KVTable:
    """A named keyed dataset (the reference's group, SURVEY.md §1.1)."""

    def __init__(self, df: DataFrame, resolved: bool = False):
        if df.columns[:2] != ["key", "value"]:
            raise ValueError(f"KVTable needs (key, value[, seq]) columns, got {df.columns}")
        if not resolved and "seq" not in df.columns:
            df = df.withColumn("seq", F.lit(0).cast("bigint"))
        self._df = df
        self._resolved = resolved
        self._gens = df.schema[_GEN].metadata[_GENS] if _GEN in df.columns else 1

    # -- construction -----------------------------------------------------
    @classmethod
    def from_pairs(cls, spark: SparkSession, pairs: list[tuple[str | None, Any]], value_type: str = "string") -> "KVTable":
        """Batch-ingest a pair list; list order is the ingestion order.
        ``key=None`` content-addresses the value (string values only here;
        structured values address via ``content_address`` columns)."""
        rows = [(k, v, i) for i, (k, v) in enumerate(pairs)]
        df = spark.createDataFrame(rows, schema=f"key string, value {value_type}, seq bigint")
        df = df.withColumn(
            "key",
            F.coalesce(F.col("key"), F.sha2(F.to_json(F.struct(F.col("value"))), 256)),
        )
        return cls(df)

    @classmethod
    def from_objects(cls, spark: SparkSession, pairs: list[tuple[str | None, Any]]) -> "KVTable":
        """Schema-less ingest: each value is an arbitrary JSON-serializable
        Python object (nested dicts/lists/str/num/bool/None/datetime —
        the reference's universal value domain, `serialization.js:441-499`,
        corpus `test/serialization.test.js:4-156`). Values are stored as
        ONE canonical-JSON string column; read back typed via
        :func:`json_field` projections. ``key=None`` content-addresses
        the value: key = sha256 of its canonical JSON (`util/id.js:72-78`)."""
        rows = [(k, canonical_json(v), i) for i, (k, v) in enumerate(pairs)]
        df = spark.createDataFrame(rows, schema="key string, value string, seq bigint")
        df = df.withColumn("key", F.coalesce(F.col("key"), F.sha2(F.col("value"), 256)))
        return cls(df)

    @property
    def df(self) -> DataFrame:
        return self._df

    # -- the KV verbs -----------------------------------------------------
    def put(self, other: "KVTable | DataFrame") -> "KVTable":
        """Append new writes (D12): every batch of ``other`` resolves after
        every batch of this table, whatever their ``seq`` values. The
        generations shift by a driver-side count, so put runs no job and
        plans only a union."""
        new = other if isinstance(other, KVTable) else KVTable(other)
        log = self._log(0).unionByName(new._log(self._gens))
        return KVTable(log.withMetadata(_GEN, {_GENS: self._gens + new._gens}))

    def _log(self, shift: int) -> DataFrame:
        """The frame with ``seq`` and ``_gen`` columns, generations + shift."""
        df = self._df if "seq" in self._df.columns else self._df.withColumn("seq", F.lit(0).cast("bigint"))
        gen = F.col(_GEN) + shift if _GEN in df.columns else F.lit(shift)
        return df.withColumn(_GEN, gen)

    def resolve(self) -> DataFrame:
        """Last-write-wins view (Q11): per key, the row of the latest put,
        then of the largest ``seq`` within it. One exchange on key; AQE
        handles skewed hot keys. Columns are the log's without ``_gen``."""
        if self._resolved:
            return self._df
        order = [F.col("seq").desc()]
        if _GEN in self._df.columns:
            order.insert(0, F.col(_GEN).desc())
        w = Window.partitionBy("key").orderBy(*order)
        return (
            self._df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", _GEN)
        )

    def get(self, key: str) -> DataFrame:
        """Point read (D11): one key filter over the resolved frame. On a
        materialized store it reaches the parquet reader as EqualTo(key)."""
        return self.resolve().filter(F.col("key") == key).select("key", "value")

    def scan_keys(self) -> DataFrame:
        """`get(null)` key scan (D10)."""
        return self.resolve().select("key")

    def scan_prefix(self, prefix: str) -> DataFrame:
        """Prefix range scan — the ordered-keyspace read between
        `get(key)` and `get(null)`. `startswith` compiles to a
        StringStartsWith pushed filter at the parquet reader, the
        columnar analog of an LSM/B-tree range seek."""
        return (
            self.resolve()
            .filter(F.col("key").startswith(prefix))
            .select("key", "value")
        )

    def delete(self, keys: list[str] | DataFrame) -> "KVTable":
        """Delete keys (D13). A key list is a key-set filter on the log (an
        InSet on the scan); a key DataFrame is a broadcast anti-join, the
        distributed form of per-key file unlink. Both keep null-key rows:
        a null never equals a deleted key."""
        if isinstance(keys, DataFrame):
            kdf = keys.select(F.col(keys.columns[0]).alias("key"))
            df = self._df.join(F.broadcast(kdf), "key", "left_anti")
        else:
            doomed = [k for k in keys if k is not None]
            df = self._df.filter(F.col("key").isNull() | ~F.col("key").isin(doomed))
        return KVTable(df, resolved=self._resolved)

    def reconf(self, num_partitions: int) -> "KVTable":
        """Re-partition by key (D14). The reference moves only keys whose
        owner changed (`all/store.js:217-285`); Spark's exchange +
        AQE coalescing is the scalable equivalent."""
        return KVTable(self._df.repartition(num_partitions, "key"), resolved=self._resolved)
