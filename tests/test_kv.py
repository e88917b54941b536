"""KVTable semantics: LWW upsert, content addressing, point get/del,
key scan, reconf (SURVEY.md §1.1-§1.4, reference verbs D10-D14)."""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import functions as F

from distributed_map_reduce_spark.plans.kv import KVTable


def _log(spark, rows):
    """A put batch with explicit (key, value, seq); keys may be null."""
    return KVTable(spark.createDataFrame(rows, "key string, value string, seq bigint"))


def test_put_get_roundtrip(spark):
    kv = KVTable.from_pairs(spark, [("jcarb", "Josiah Carberry"), ("ewatson", "Emma Watson")])
    assert kv.get("jcarb").collect()[0]["value"] == "Josiah Carberry"


def test_lww_overwrite(spark):
    """put on an existing key silently overwrites (store.js:117-133)."""
    kv = KVTable.from_pairs(spark, [("k", "v1"), ("k", "v2"), ("other", "x"), ("k", "v3")])
    resolved = {r["key"]: r["value"] for r in kv.resolve().collect()}
    assert resolved == {"k": "v3", "other": "x"}


def test_put_batches_sequence(spark):
    """Later put() batches win over earlier ones."""
    kv = KVTable.from_pairs(spark, [("a", "old"), ("b", "keep")])
    kv2 = kv.put(KVTable.from_pairs(spark, [("a", "new")]))
    resolved = {r["key"]: r["value"] for r in kv2.resolve().collect()}
    assert resolved == {"a": "new", "b": "keep"}
    # the put order, not seq, decides first; resolve drops the order column
    kv3 = _log(spark, [("a", "old", 100), ("b", "keep", 101)]).put(_log(spark, [("a", "new", 0)]))
    assert {r["key"]: r["value"] for r in kv3.resolve().collect()} == {"a": "new", "b": "keep"}
    assert kv3.resolve().columns == ["key", "value", "seq"]


def test_content_addressed_key(spark):
    """put(v, null) → key = sha256 of the value JSON (id.js:72-78)."""
    kv = KVTable.from_pairs(spark, [(None, "hello")])
    key = kv.scan_keys().collect()[0]["key"]
    expected = hashlib.sha256(json.dumps({"value": "hello"}, separators=(",", ":")).encode()).hexdigest()
    assert key == expected


def test_key_scan_and_delete(spark):
    kv = KVTable.from_pairs(spark, [("a", "1"), ("b", "2"), ("c", "3")])
    assert sorted(r["key"] for r in kv.scan_keys().collect()) == ["a", "b", "c"]
    kv2 = kv.delete(["b"])
    assert sorted(r["key"] for r in kv2.scan_keys().collect()) == ["a", "c"]


def test_reconf_repartitions(spark):
    kv = KVTable.from_pairs(spark, [(f"k{i}", str(i)) for i in range(100)])
    re = kv.reconf(4)
    assert re.df.rdd.getNumPartitions() == 4
    # same data, same LWW view, different placement
    assert sorted(r["key"] for r in re.scan_keys().collect()) == sorted(
        r["key"] for r in kv.scan_keys().collect()
    )
    # keys co-locate: every key's rows land in one partition
    part_per_key = (
        re.df.withColumn("pid", F.spark_partition_id())
        .groupBy("key")
        .agg(F.countDistinct("pid").alias("n"))
        .agg(F.max("n").alias("m"))
        .collect()[0]["m"]
    )
    assert part_per_key == 1


def test_from_objects_schemaless_roundtrip(spark):
    """Universal-value ingest: canonical JSON storage, LWW, content
    addressing, typed projections (serialization.js:441-499 domain)."""
    import datetime
    import hashlib

    from distributed_map_reduce_spark.plans.kv import KVTable, canonical_json, json_field

    writes = [
        ("k1", {"a": 1, "b": [True, None, "x"]}),
        ("k1", {"a": 2}),  # LWW overwrite
        ("k2", [1, 2.5, "three"]),
        ("k3", None),
        ("k4", {"at": datetime.datetime(2024, 10, 8, 12, 30)}),
        (None, {"anon": True}),
    ]
    kv = KVTable.from_objects(spark, writes)
    rows = {r["key"]: r["value"] for r in kv.resolve().collect()}
    assert rows["k1"] == '{"a":2}'  # last write won
    assert rows["k2"] == '[1,2.5,"three"]'
    assert rows["k3"] == "null"
    # content-addressed key = sha256 of the canonical JSON
    cj = canonical_json({"anon": True})
    assert rows[hashlib.sha256(cj.encode()).hexdigest()] == cj
    # typed projection comes back as the right Python type
    a_vals = {
        r["key"]: r["a"]
        for r in kv.resolve().select("key", json_field(F.col("value"), "$.a", "bigint").alias("a")).collect()
    }
    assert a_vals["k1"] == 2 and a_vals["k2"] is None


def test_consistent_hash_minimal_reshuffle(spark, sf_dir):
    """The reason consistent/rendezvous hashing exist (id.js:107-148;
    reconf delta-move, all/store.js:217-285): adding a 4th node moves
    ~1/4 of keys under consistent/rendezvous but ~3/4 under naive mod."""
    from distributed_map_reduce_spark.plans.placement import (
        consistent_owner,
        naive_owner,
        rendezvous_owner,
    )

    keys = spark.createDataFrame([(str(i),) for i in range(2000)], "key string")
    n3 = ["node-a", "node-b", "node-c"]
    n4 = n3 + ["node-d"]
    k = F.col("key")
    df = keys.select(
        "key",
        naive_owner(k, n3).alias("nv3"), naive_owner(k, n4).alias("nv4"),
        consistent_owner(k, n3).alias("ch3"), consistent_owner(k, n4).alias("ch4"),
        rendezvous_owner(k, n3).alias("rv3"), rendezvous_owner(k, n4).alias("rv4"),
    )
    moved = df.select(
        F.avg((F.col("nv3") != F.col("nv4")).cast("double")).alias("naive"),
        F.avg((F.col("ch3") != F.col("ch4")).cast("double")).alias("consistent"),
        F.avg((F.col("rv3") != F.col("rv4")).cast("double")).alias("rendezvous"),
    ).collect()[0]
    assert moved["naive"] > 0.6  # ~ 3/4 of keys move
    assert moved["consistent"] < 0.5  # only the new node's arc moves
    assert moved["rendezvous"] < 0.5  # ~ 1/4 of keys move
    # keys that moved under rendezvous moved TO the new node only
    wrong = df.filter((F.col("rv3") != F.col("rv4")) & (F.col("rv4") != "node-d")).count()
    assert wrong == 0


def test_put_runs_no_job(spark):
    """put only plans a union: no aggregate over the receiver, no job."""
    a = _log(spark, [("a", "1", 0)])
    b = _log(spark, [("a", "2", 0)])
    sc = spark.sparkContext
    sc.setJobGroup("kv-put-no-job", "put must not run a job")
    try:
        a.put(b).put(KVTable(a.put(b).df))
        assert list(sc.statusTracker().getJobIdsForGroup("kv-put-no-job")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_delete_list_keeps_null_keys_like_antijoin(spark):
    """delete(list) is a key-set filter; it must return exactly what the
    delete(DataFrame) anti-join returns, null-key rows included, also when
    the list itself holds a None."""
    kv = _log(spark, [("a", "1", 0), (None, "n1", 1), ("b", "2", 2)]).put(
        _log(spark, [(None, "n2", 0), ("c", "3", 1), ("a", "4", 2)])
    )
    doomed = ["a", None, "zz"]
    by_list = sorted(kv.delete(doomed).resolve().collect(), key=str)
    by_df = sorted(
        kv.delete(spark.createDataFrame([(k,) for k in doomed], "k string")).resolve().collect(), key=str
    )
    assert by_list == by_df
    assert {r["key"]: r["value"] for r in by_list} == {None: "n2", "b": "2", "c": "3"}
