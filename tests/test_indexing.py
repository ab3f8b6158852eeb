"""Closed-form pair-count tests, ported from the reference test strategy
(tests/test_indexing.py:341-365,421-463,510-546; SURVEY.md §5.1)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from recordlinkage_spark.indexing import (
    Block,
    Full,
    Index,
    Random,
    SortedNeighbourhood,
    full_index_size,
)


def test_full_link(idx_frames):
    a, b = idx_frames
    pairs = Full().index(a, b)
    assert pairs.count() == 100 * 150


def test_full_dedup_lower_triangle(idx_frames):
    a, _ = idx_frames
    pairs = Full().index(a)
    assert pairs.count() == 100 * 99 // 2
    assert pairs.filter(F.col("id_1") <= F.col("id_2")).count() == 0


def test_block_single_constant(idx_frames):
    # var_single constant -> block gives the full index
    a, b = idx_frames
    assert Block("var_single").index(a, b).count() == 100 * 150


def test_block_arange_eye(idx_frames):
    # all-distinct key -> link pairs = eye = len(a)
    a, b = idx_frames
    assert Block("var_arange").index(a, b).count() == 100
    # dedup on all-distinct key -> zero pairs
    assert Block("var_arange").index(a).count() == 0


def test_block_block10(idx_frames):
    # 10-row blocks -> len(a) * 10 link pairs
    a, b = idx_frames
    assert Block("var_block10").index(a, b).count() == 100 * 10


def test_block_multi_key(idx_frames):
    a, b = idx_frames
    n = Block(["var_arange", "var_block10"]).index(a, b).count()
    assert n == 100  # arange already unique


def test_block_null_keys_dropped(spark):
    a = spark.createDataFrame(
        [("a1", None), ("a2", "x"), ("a3", "x")], "id string, k string"
    )
    pairs = Block("k").index(a)
    assert pairs.count() == 1  # only (a3, a2)


def test_sni_link_window_count(idx_frames):
    # reference formula (tests/test_indexing.py:510-546): with the shared
    # arange key (ranks 0..99 on left, 0..149 on right), window w:
    # pairs = len_a + sum_{i=1..w2} (len_a + max(len_a - i, 0))  [right side
    # extends beyond left so +i offsets always land, -i offsets truncate]
    a, b = idx_frames
    for window in (3, 5, 7):
        w2 = (window - 1) // 2
        expected = 100 + sum(100 + max(100 - i, 0) for i in range(1, w2 + 1))
        got = SortedNeighbourhood("var_arange", window=window).index(a, b).count()
        assert got == expected, f"window={window}"


def test_sni_window_one_equals_block(idx_frames):
    a, b = idx_frames
    sni = SortedNeighbourhood("var_arange", window=1).index(a, b).count()
    blk = Block("var_arange").index(a, b).count()
    assert sni == blk == 100


def test_sni_dedup(idx_frames):
    a, _ = idx_frames
    # dedup with distinct arange keys, window 3: each adjacent rank pair once
    got = SortedNeighbourhood("var_arange", window=3).index(a).count()
    assert got == 99


def _sni_oracle(a, b, window, block):
    """Brute-force SNI in pandas: pairs whose dense ranks over the distinct
    non-null sort keys (of both frames in link mode) differ by at most
    (window-1)/2, with equal non-null block keys."""
    dedup = b is None
    b = a if dedup else b
    keys = sorted(set(a["k"].dropna()) | set(b["k"].dropna()))
    rank = {k: r for r, k in enumerate(keys)}
    w2 = (window - 1) // 2
    out = set()
    for ra in a.itertuples():
        for rb in b.itertuples():
            if ra.k is None or rb.k is None or abs(rank[ra.k] - rank[rb.k]) > w2:
                continue
            if block and (ra.b is None or rb.b is None or ra.b != rb.b):
                continue
            if dedup and ra.id <= rb.id:
                continue
            out.add((ra.id, rb.id))
    return out


@pytest.mark.parametrize("mode", ["dedup", "link"])
@pytest.mark.parametrize("block", [False, True])
def test_sni_matches_bruteforce_oracle(spark, mode, block):
    """SNI pair sets equal the brute-force oracle over repeated and null
    sort keys, windows 1/3/5, with and without ``block_on``."""
    import pandas as pd

    rng = np.random.RandomState(11)

    def frame(ids, key_values):
        pdf = pd.DataFrame({
            "id": ids,
            "k": [None if rng.rand() < 0.15 else str(rng.choice(key_values))
                  for _ in ids],
            "b": [None if rng.rand() < 0.1 else int(rng.randint(0, 3))
                  for _ in ids],
        }).astype(object)
        return pdf, spark.createDataFrame(pdf, "id long, k string, b long")

    # overlapping but different key domains, each value repeated
    pa, da = frame(list(range(60)), [f"k{i:02d}" for i in range(0, 14)])
    pb, db = frame(list(range(100, 150)), [f"k{i:02d}" for i in range(8, 20)])
    if mode == "dedup":
        pb, db = None, None
    for window in (1, 3, 5):
        sni = SortedNeighbourhood("k", window=window,
                                  block_on="b" if block else None)
        got = sni.index(da, db).collect()
        pairs = {(r["id_1"], r["id_2"]) for r in got}
        assert len(pairs) == len(got), f"duplicate pairs at window={window}"
        assert pairs == _sni_oracle(pa, pb, window, block), f"window={window}"


def test_sni_even_window_rejected():
    with pytest.raises(ValueError):
        SortedNeighbourhood("k", window=2)


def test_random_dedup_seeded(idx_frames):
    a, _ = idx_frames
    p1 = Random(50, replace=False, random_state=7).index(a)
    p2 = Random(50, replace=False, random_state=7).index(a)
    assert p1.count() == 50
    rows1 = sorted(map(tuple, p1.collect()))
    rows2 = sorted(map(tuple, p2.collect()))
    assert rows1 == rows2
    assert all(r[0] > r[1] for r in rows1)
    assert len(set(rows1)) == 50  # without replacement -> unique


def test_random_link(idx_frames):
    a, b = idx_frames
    p = Random(40, replace=False, random_state=3).index(a, b)
    assert p.count() == 40
    ids1 = {r["id_1"] for r in p.collect()}
    ids2 = {r["id_2"] for r in p.collect()}
    assert all(i.startswith("rec_a_") for i in ids1)
    assert all(i.startswith("rec_b_") for i in ids2)


def test_multi_pass_union(idx_frames):
    a, b = idx_frames
    idx = Index().block("var_arange").block("var_block10")
    n = idx.index(a, b).count()
    # block10 pairs ⊇ arange pairs (same bucket), union = 1000
    assert n == 100 * 10


def test_unique_id_verification(spark):
    df = spark.createDataFrame([("x", 1), ("x", 2)], "id string, v int")
    with pytest.raises(ValueError, match="not unique"):
        Index().full().index(df, verify_unique=True)


def test_full_index_size():
    assert full_index_size(100) == 4950
    assert full_index_size(100, 150) == 15000


def test_index_pass_stats(idx_frames):
    a, b = idx_frames
    idx = Index().block("var_arange").block("var_block10")
    idx.index(a, b, log_stats=True)
    stats = idx.pass_stats
    assert [s["pass"] for s in stats] == ["Block", "Block"]
    assert stats[0]["pairs"] == 100          # arange blocks: 1 pair per value
    assert stats[1]["pairs"] == 1000         # block10: 10 per bucket
    # reduction ratio vs the full link index (100 x 150)
    n_full = a.count() * b.count()
    assert abs(stats[0]["reduction_ratio"] - (1 - 100 / n_full)) < 1e-9


def test_random_empty_pair_space(spark):
    """Random on a 1-record frame (0 possible pairs) returns an empty
    index instead of numpy's 'low >= high' ValueError (session-8 review
    fix)."""
    from recordlinkage_spark.indexing import Random

    df = spark.createDataFrame([("only", 1)], "id string, v int")
    assert Random(n=5, random_state=42).index(df, id_col="id").count() == 0
