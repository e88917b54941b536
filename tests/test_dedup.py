"""Recall/precision tests for the dedup operators on planted
near-duplicates (the driver's synthetic docs are random word-bags with no
real dups, so correctness-of-mechanism is proven here)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_map_reduce_spark.operators.dedup import (
    band_candidates,
    minhash_lsh_pairs,
    minhash_star_pairs,
    shingle_rows,
    simhash_df,
    shingles_col,
    jaccard,
    star_candidates,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the old oak tree "
    "near the quiet river bank under the bright morning sun"
)
NEAR_DUP = BASE.replace("morning", "evening")  # one-word edit
UNRELATED = (
    "distributed query engines shuffle partitioned data across executors "
    "using hash exchanges broadcast joins adaptive execution and columnar "
    "scans with predicate pushdown over parquet row groups"
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR_DUP), (3, UNRELATED), (4, BASE)],
        "doc_id long, text string",
    )


def test_minhash_lsh_finds_planted_dups(spark):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in minhash_lsh_pairs(_docs(spark)).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact copy
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5  # one-word edit
    assert not any(3 in p for p in pairs)  # unrelated never pairs


def test_star_pairs_family_recall(spark):
    """The linear star-edge generator keeps FAMILY recall: a planted
    5-clone family (one exact + small edits of BASE) must end up fully
    connected via hub edges — same connectivity as the pair-quadratic
    generator — while emitting at most Σ(n−1) edges per bucket (here
    strictly fewer rows than the C(n,2) pair form)."""
    fam = [
        (1, BASE),
        (2, NEAR_DUP),
        (3, UNRELATED),
        (4, BASE),
        (5, BASE.replace("quick", "swift")),
        (6, BASE.replace("lazy", "sleepy")),
    ]
    docs = spark.createDataFrame(fam, "doc_id long, text string")
    star = minhash_star_pairs(docs).collect()
    edges = {(r["doc_a"], r["doc_b"]) for r in star}
    # union-find over star edges: the whole family {1,2,4,5,6} connects
    parent = {i: i for i, _ in fam}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    assert len({find(d) for d in (1, 2, 4, 5, 6)}) == 1
    assert not any(3 in e for e in edges)  # unrelated never joins
    # star candidates never exceed pair candidates
    sh = shingle_rows(docs)
    assert star_candidates(sh).count() <= band_candidates(sh).count()


def test_simhash_hamming_close_for_dups(spark):
    df = simhash_df(_docs(spark))
    sh = {r["doc_id"]: r["simhash"] for r in df.collect()}
    assert sh[1] == sh[4]
    assert bin(sh[1] ^ sh[2]).count("1") <= 6  # near-dup: small Hamming
    assert bin(sh[1] ^ sh[3]).count("1") > 6  # unrelated: far


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "b c d e")], "id long, text string")
    sh = df.select("id", shingles_col(F.col("text")).alias("s"))
    a = sh.filter("id=1").select(F.col("s").alias("sa"))
    b = sh.filter("id=2").select(F.col("s").alias("sb"))
    j = a.crossJoin(b).select(jaccard(F.col("sa"), F.col("sb")).alias("j")).collect()[0]["j"]
    # shingles: {abc,bcd} vs {bcd,cde} → 1/3
    assert abs(j - 1 / 3) < 1e-9


def test_connected_components_clusters(spark):
    """CC over a hand-built graph: two components + an isolated pair;
    every node labeled with its component's min id."""
    from distributed_map_reduce_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "src long, dst long",
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_long_chain(spark):
    """A 60-node path graph has diameter 59 > MAX_ROUNDS=20: plain
    min-label propagation would silently return wrong labels at the
    round cap (ADVICE r01); pointer jumping converges in O(log n)."""
    from distributed_map_reduce_spark.operators.graph import connected_components

    n = 60
    edges = spark.createDataFrame(
        [(f"d{i:03d}", f"d{i + 1:03d}") for i in range(n - 1)], "src string, dst string"
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert len(got) == n
    assert set(got.values()) == {"d000"}  # one component, min-id label


def test_prefix_filter_join_chunk_grid_row_identical(spark, monkeypatch):
    """dedup_prefix_filter_join splits hot (gid, g60) buckets into a
    B² chunk grid. Forcing CHUNK=2 (every bucket splits into B² cells)
    must reproduce the default run's rows exactly: the anti-straggler
    path is pair-exact, not just the B=1 degenerate case sf0.001
    exercises."""
    from distributed_map_reduce_spark.operators import dedup as D

    sf = "/root/testdata/sf0.001"
    default_rows = sorted(map(tuple, D.dedup_prefix_filter_join(spark, sf).collect()))
    assert len(default_rows) > 0
    monkeypatch.setattr(D, "PARTITIONED_SETSIM_CHUNK", 2)
    chunked_rows = sorted(map(tuple, D.dedup_prefix_filter_join(spark, sf).collect()))
    assert default_rows == chunked_rows


def test_capped_lsh_drops_mega_buckets_keeps_ordinary_pairs(spark):
    """minhash_lsh_pairs_capped surrenders exactly the over-cap bucket
    families (here a 20-clone template family with cap-sized buckets)
    while ordinary near-dup pairs survive untouched — the linear-bounded
    pair feed for the pair-exact graph tier."""
    from distributed_map_reduce_spark.operators.dedup import (
        LSH_BUCKET_CAP,
        minhash_lsh_pairs_capped,
    )

    family = [(i, BASE) for i in range(1, LSH_BUCKET_CAP + 5)]  # 20 clones
    ordinary = [(100, NEAR_DUP.replace("quick", "swift")),
                (101, NEAR_DUP.replace("quick", "swift") + " extra"),
                (200, UNRELATED)]
    docs = spark.createDataFrame(family + ordinary, "doc_id long, text string")
    capped = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs_capped(docs).collect()}
    assert (100, 101) in capped                      # ordinary pair kept
    assert not any(a <= 20 and b <= 20 for a, b in capped)  # clone family dropped


def test_capped_lsh_with_unbounded_cap_equals_pair_generator(spark):
    """With a cap no bucket reaches, the capped generator (array verify)
    must emit exactly the pair-exact generator's rows (relational
    verify): same band keys, same buckets, same Jaccard. Checked on the
    planted corpus and on the sf0.001 documents."""
    from distributed_map_reduce_spark.operators.dedup import minhash_lsh_pairs_capped
    from distributed_map_reduce_spark.sources import load_table

    fam = [(i, BASE) for i in range(1, 6)] + [
        (10, NEAR_DUP), (11, NEAR_DUP.replace("quick", "swift")), (12, UNRELATED)
    ]
    planted = spark.createDataFrame(fam, "doc_id long, text string")
    for docs in (planted, load_table(spark, "/root/testdata/sf0.001", "documents")):
        pairs = sorted(map(tuple, minhash_lsh_pairs(docs).collect()))
        capped = sorted(map(tuple, minhash_lsh_pairs_capped(docs, cap=10**9).collect()))
        assert pairs and capped == pairs
