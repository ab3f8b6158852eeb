"""Input sizing for the Arrow kernels (``textfns.spread_small_input``)
and the verify gather rule of ``minhash.exact_jaccard``: both decide from
the optimizer's size estimates; the gather rule also needs the pair
count when the shingle table is too big for Spark to broadcast."""

from contextlib import contextmanager

import pytest

from pyspark.sql import functions as F

from recordlinkage_spark import textfns
from recordlinkage_spark.minhash import _broadcast_gather, exact_jaccard

ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
AUTO_BROADCAST = "spark.sql.autoBroadcastJoinThreshold"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _broadcast_hinted(df) -> bool:
    return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()


@contextmanager
def _conf(spark, key: str, value: str):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture
def dp(spark):
    n = spark.sparkContext.defaultParallelism
    if n < 2:
        pytest.skip("needs at least 2 task slots")
    return n


def test_small_overpartitioned_input_coalesces_to_one_wave(spark, dp):
    df = spark.range(0, 2000, 1, numPartitions=2 * dp + 1).cache()
    try:
        assert df.count() == 2000
        out = textfns.spread_small_input(df)
        assert out.rdd.getNumPartitions() == dp
        assert "Exchange" not in _plan(out)
        assert sorted(r[0] for r in out.collect()) == list(range(2000))
    finally:
        df.unpersist()


def test_overpartitioned_input_over_one_wave_is_left_alone(spark, dp):
    df = spark.range(0, 2000, 1, numPartitions=2 * dp + 1)
    with _conf(spark, ADVISORY, "16b"):  # 2000 longs exceed dp x 16 bytes
        out = textfns.spread_small_input(df)
    assert out.rdd.getNumPartitions() == 2 * dp + 1


def test_single_partition_spreads_only_over_threshold(spark, dp, monkeypatch):
    one = spark.range(0, 2000, 1, numPartitions=1)  # ~16 KB estimate
    monkeypatch.delenv("SPARK_GRAFT_SPREAD_BYTES", raising=False)
    assert textfns.spread_small_input(one).rdd.getNumPartitions() == 1
    # the threshold is read when spread_small_input runs, not at import
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_BYTES", "1000")
    assert textfns.spread_small_input(one).rdd.getNumPartitions() == dp
    assert textfns.spread_small_input(
        one, min_bytes=1 << 30).rdd.getNumPartitions() == 1


@pytest.fixture
def verify_inputs(spark, tmp_path):
    """A pair list and a shingle table read back from parquet, as the
    pipeline's verify stage reads its stage tables."""
    sh = spark.createDataFrame(
        [(i, [j % 7 + (i % 3) for j in range(i % 5 + 2)]) for i in range(40)],
        "id long, _sh array<int>",
    )
    cands = spark.createDataFrame(
        [(i, j) for i in range(40) for j in range(i) if (i + j) % 4 == 0],
        "id_1 long, id_2 long",
    )
    sh.write.parquet(str(tmp_path / "sh"))
    cands.write.parquet(str(tmp_path / "cands"))
    return (spark.read.parquet(str(tmp_path / "cands")),
            spark.read.parquet(str(tmp_path / "sh")))


def test_both_gathers_return_identical_rows(verify_inputs):
    cands, sh = verify_inputs
    got = {
        shape: sorted(map(tuple, exact_jaccard(
            cands, sh, 0.3, broadcast_pairs=shape).collect()))
        for shape in (True, False)
    }
    assert got[True] == got[False]
    assert len(got[True]) > 0


def _jobs_in(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_gather_rule_follows_broadcast_threshold(spark, verify_inputs):
    cands, sh = verify_inputs
    # a shingle table Spark broadcasts by itself: shuffled gather, no
    # hint, and no job to decide it
    picked, jobs = _jobs_in(spark, "rule-small-sh",
                            lambda: _broadcast_gather(cands, sh))
    assert not picked and jobs == 0
    shuffled = exact_jaccard(cands, sh, 0.3)
    assert not _broadcast_hinted(shuffled)
    assert "SortMergeJoin" not in _plan(shuffled)
    # the same table over the threshold, or with Spark's own broadcasts
    # off: broadcast gather
    for limit in ("16b", "-1"):
        with _conf(spark, AUTO_BROADCAST, limit):
            assert _broadcast_gather(cands, sh)
            assert _broadcast_gather(cands, sh, n_pairs=10)
            assert _broadcast_hinted(exact_jaccard(cands, sh, 0.3))


def test_gather_rule_bounds_pairs_by_count_not_bytes(spark, tmp_path,
                                                     verify_inputs):
    _, sh = verify_inputs
    path = str(tmp_path / "many_pairs")
    spark.range(0, 2_000_001, 1, numPartitions=2).select(
        F.col("id").alias("id_1"), (F.col("id") + 1).alias("id_2")
    ).write.parquet(path)
    cands = spark.read.parquet(path)
    # compressed parquet bytes say nothing about the pair count
    assert textfns.plan_size_bytes(cands) < 2_000_000 * 16
    with _conf(spark, AUTO_BROADCAST, "-1"):
        picked, jobs = _jobs_in(spark, "rule-count",
                                lambda: _broadcast_gather(cands, sh))
        assert not picked and jobs >= 1
        assert not _broadcast_gather(cands, sh, n_pairs=2_000_001)
        assert _broadcast_gather(cands, sh, n_pairs=2_000_000)
        assert not _broadcast_hinted(exact_jaccard(cands, sh, 0.3))
