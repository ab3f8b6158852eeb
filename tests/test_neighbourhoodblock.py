"""NeighbourhoodBlock: special-case equivalences from the reference's own
contrib test strategy (contrib/index/neighbourhoodblock/test_*.py) —
NB(defaults) == Block, NB(windows=[w,1..]) == SortedNeighbourhood,
NB(max_non_matches >= keys) == Full — plus wildcard/mismatch budgets."""

import pytest
from pyspark.sql import functions as F

from recordlinkage_spark.indexing import (
    Block,
    Full,
    NeighbourhoodBlock,
    SortedNeighbourhood,
)


@pytest.fixture(scope="module")
def frame(spark):
    rows = [
        (1, "a", 10, "x"),
        (2, "a", 11, "y"),
        (3, "b", 12, None),
        (4, "b", 30, "x"),
        (5, None, 31, "y"),
        (6, "c", 32, "x"),
        (7, "c", 10, None),
        (8, "a", None, "y"),
    ]
    return spark.createDataFrame(
        rows, "id long, k1 string, k2 long, k3 string"
    ).cache()


def pairs_set(df):
    return {(r["id_1"], r["id_2"]) for r in df.collect()}


def test_nb_equals_block(frame):
    nb = NeighbourhoodBlock(["k1", "k3"]).index(frame, id_col="id")
    bl = Block(["k1", "k3"]).index(frame, id_col="id")
    assert pairs_set(nb) == pairs_set(bl)


def test_nb_equals_sni(frame):
    nb = NeighbourhoodBlock("k2", windows=3).index(frame, id_col="id")
    sni = SortedNeighbourhood("k2", window=3).index(frame, id_col="id")
    assert pairs_set(nb) == pairs_set(sni)


def test_nb_equals_full_when_max_non_matches_covers(frame):
    nb = NeighbourhoodBlock(["k1", "k2"], max_non_matches=2).index(frame, id_col="id")
    fl = Full().index(frame, id_col="id")
    assert pairs_set(nb) == pairs_set(fl)


def test_nb_wildcard_nulls(frame):
    """max_nulls=1: a null in k1 matches anything, so (5, x) pairs with
    rows sharing k3 even though k1 is null."""
    strict = pairs_set(NeighbourhoodBlock(["k1", "k3"]).index(frame, id_col="id"))
    wild = pairs_set(
        NeighbourhoodBlock(["k1", "k3"], max_nulls=1).index(frame, id_col="id")
    )
    assert strict < wild
    # id 5 (k1 null, k3=y) with id 2 (k1=a, k3=y): null k1 wildcards, k3 matches
    assert (5, 2) in wild and (5, 2) not in strict


def test_nb_mismatch_budget(frame):
    """max_non_matches=1 over 2 keys = match on at least one key."""
    nb = pairs_set(
        NeighbourhoodBlock(["k1", "k3"], max_non_matches=1).index(frame, id_col="id")
    )
    k1_only = pairs_set(Block("k1").index(frame, id_col="id"))
    k3_only = pairs_set(Block("k3").index(frame, id_col="id"))
    assert nb == (k1_only | k3_only)


def test_nb_rejects_even_window(frame):
    with pytest.raises(ValueError):
        NeighbourhoodBlock("k1", windows=2)


def test_nb_link_mode(spark, frame):
    other = spark.createDataFrame(
        [(101, "a", 10, "x"), (102, None, 99, "q")], "id long, k1 string, k2 long, k3 string"
    )
    out = NeighbourhoodBlock(["k1", "k3"], max_nulls=1).index(
        frame, other, id_col="id"
    )
    got = pairs_set(out)
    # 1 matches 101 on both keys; 102's null k1 wildcards but k3=q matches nothing
    assert (1, 101) in got
    assert all(p[1] != 102 for p in got)


def test_nb_repeated_key_values_give_unique_pairs(spark):
    """Heavily repeated key values: every pair comes out once, with no
    dropDuplicates after the accept-rule join."""
    rows = [(i, f"v{i % 3}", i % 4, None if i % 5 == 0 else f"w{i % 2}")
            for i in range(40)]
    df = spark.createDataFrame(rows, "id long, k1 string, k2 long, k3 string")
    for nb in (
        NeighbourhoodBlock(["k1", "k2"], windows=[3, 1], max_non_matches=1),
        NeighbourhoodBlock(["k1", "k3"], max_nulls=1),
    ):
        pairs = nb.index(df, id_col="id")
        n = pairs.count()
        assert n > 0
        assert n == pairs.distinct().count()
