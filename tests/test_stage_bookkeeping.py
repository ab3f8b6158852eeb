"""Stage bookkeeping of ``DedupPipeline`` with a work_dir: the manifest,
the ``_lineage`` table and the metrics rows.

Row counts and lineage come from the committed stage files (parquet
footers), not from a re-scan of the stage table, so these tests pin that
the three records agree with the stage table itself, that lineage holds
exactly one set of rows per stage (also across a crash + resume), and
that the bookkeeping adds no Spark job beyond the stage write.
"""

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from recordlinkage_spark.config import EngineConfig
from recordlinkage_spark.pipeline import DedupPipeline

_CFG = dict(num_perm=32, lsh_bands=8, lsh_rows=4, max_bucket_size=3)


@pytest.fixture(scope="module")
def capped_docs(spark):
    """A small web corpus plus 5 copies of one page: every band bucket of
    the page holds 5 docs, over the cap of 3, so the candidates pass
    drops buckets."""
    from recordlinkage_spark.datagen import webtext_corpus

    docs, _ = webtext_corpus(spark, n_docs=40, dup_fraction=0.2, seed=5)
    page = " ".join(f"boiler{i}" for i in range(60))
    copies = spark.createDataFrame(
        [(f"https://copy.example.com/{i}", page) for i in range(5)],
        "url string, text string",
    )
    return docs.select("url", "text").unionByName(copies)


@pytest.fixture(scope="module")
def finished_run(capped_docs, tmp_path_factory):
    wd = tmp_path_factory.mktemp("bookkeeping") / "wd"
    pipe = DedupPipeline(EngineConfig(**_CFG), work_dir=str(wd),
                         jaccard_threshold=0.5)
    pipe.run(capped_docs, id_col="url", text_col="text")
    return pipe, wd


def _manifest(wd):
    return json.loads((wd / "manifest.json").read_text())


def _lineage(spark, wd):
    return spark.read.parquet(str(wd / "_lineage"))


def _assert_one_lineage_set_per_stage(spark, wd):
    lin = _lineage(spark, wd)
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert stages == set(_manifest(wd))
    # one row per (stage, partition) — a second copy of a stage's rows
    # would repeat its partition ids
    dup = lin.groupBy("stage", "partition_id").count().filter("count > 1")
    assert dup.count() == 0


def test_manifest_rows_match_lineage_and_table(spark, finished_run):
    _, wd = finished_run
    manifest = _manifest(wd)
    sums = {
        r["stage"]: r["n"]
        for r in _lineage(spark, wd).groupBy("stage")
        .agg(F.sum("rows").alias("n")).collect()
    }
    assert {"signatures", "candidates", "substring_pairs", "verified",
            "matches", "clusters"} <= set(manifest)
    for stage, entry in manifest.items():
        assert entry["rows"] == sums[stage], stage
        assert entry["rows"] == spark.read.parquet(entry["path"]).count(), stage


def test_lineage_schema_and_one_set_per_stage(spark, finished_run):
    _, wd = finished_run
    assert _lineage(spark, wd).schema.simpleString() == (
        "struct<partition_id:int,rows:bigint,stage:string>"
    )
    _assert_one_lineage_set_per_stage(spark, wd)


def test_metrics_one_row_per_stage_with_dropped_buckets(spark, finished_run):
    pipe, wd = finished_run
    rows = pipe.metrics_df(spark).collect()
    names = [r["stage"] for r in rows]
    assert len(names) == len(set(names))
    cand = next(r for r in rows if r["stage"] == "candidates")
    assert cand["rows"] == _manifest(wd)["candidates"]["rows"]
    assert cand["dropped_buckets"] > 0
    # only the two pair passes run a bucket expander
    assert {r["stage"] for r in rows if r["dropped_buckets"] is not None} == {
        "candidates", "substring_pairs"
    }


def test_stage_bytes_are_part_file_sizes(spark, finished_run):
    """Each stage's ``bytes`` (manifest entry and metrics row) is the sum
    of its committed part-file sizes."""
    pipe, wd = finished_run
    rows = pipe.metrics_df(spark)
    assert rows.schema["bytes"].dataType.simpleString() == "bigint"
    metrics = {r["stage"]: r["bytes"] for r in rows.collect()}
    for stage, entry in _manifest(wd).items():
        size = sum(f.stat().st_size for f in Path(entry["path"]).glob("part-*"))
        assert size > 0, stage
        assert entry["bytes"] == size == metrics[stage], stage


def test_resume_after_crash_keeps_one_lineage_set(spark, capped_docs, tmp_path):
    """A crash after a stage's lineage write but before its manifest
    entry: resume re-runs that stage and replaces its lineage rows
    instead of appending a second copy."""
    wd = tmp_path / "wd"
    p1 = DedupPipeline(EngineConfig(**_CFG), work_dir=str(wd),
                       jaccard_threshold=0.5)
    want = sorted(map(tuple, p1.run(capped_docs, id_col="url",
                                    text_col="text")["clusters"].collect()))
    manifest = _manifest(wd)
    rows_before = manifest.pop("verified")["rows"]
    (wd / "manifest.json").write_text(json.dumps(manifest))

    p2 = DedupPipeline(EngineConfig(**_CFG), work_dir=str(wd),
                       jaccard_threshold=0.5)
    out = p2.run(capped_docs, id_col="url", text_col="text")
    assert [m["stage"] for m in p2.metrics] == ["verified"]
    assert sorted(map(tuple, out["clusters"].collect())) == want
    assert _manifest(wd)["verified"]["rows"] == rows_before
    _assert_one_lineage_set_per_stage(spark, wd)


def test_verify_gets_the_pair_stage_count(finished_run, capped_docs, tmp_path,
                                          monkeypatch):
    """The verify gather rule gets the pair stage's recorded row count
    (``candidates`` / ``inc_candidates``), on a fresh run and on a
    resumed one, so it never counts the pair list itself."""
    from recordlinkage_spark import minhash

    seen = []
    real = minhash.exact_jaccard

    def spy(*args, **kwargs):
        seen.append(kwargs.get("n_pairs"))
        return real(*args, **kwargs)

    monkeypatch.setattr(minhash, "exact_jaccard", spy)
    spark = capped_docs.sparkSession
    prior_sigs = spark.read.parquet(str(finished_run[1] / "signatures"))
    # new urls for the same pages: every doc pairs with its stored twin
    new_docs = capped_docs.select(
        F.concat(F.lit("new:"), "url").alias("url"), "text")
    flows = {
        "candidates": lambda p: p.run(
            capped_docs, id_col="url", text_col="text"),
        "inc_candidates": lambda p: p.run_incremental(
            new_docs, prior_sigs, id_col="url", text_col="text"),
    }
    for pair_stage, flow in flows.items():
        seen.clear()
        wd = tmp_path / pair_stage
        for _ in range(2):
            flow(DedupPipeline(EngineConfig(**_CFG), work_dir=str(wd),
                               jaccard_threshold=0.5))
            manifest = _manifest(wd)
            manifest.pop(pair_stage.replace("candidates", "verified"))
            (wd / "manifest.json").write_text(json.dumps(manifest))
        n = manifest[pair_stage]["rows"]
        assert n > 0
        assert seen == [n, n], pair_stage


def test_verify_failure_joins_substring_worker_and_resumes(
        spark, finished_run, capped_docs, tmp_path, monkeypatch):
    """A verify stage that raises while the concurrent substring stage
    may still be in flight: the error propagates, the run leaves no
    worker thread behind, the substring stage still commits, and a
    resumed run re-runs only the stages after the failure."""
    import threading

    from recordlinkage_spark import minhash

    def boom(*args, **kwargs):
        raise RuntimeError("verify failed")

    wd = tmp_path / "wd"
    before = set(threading.enumerate())
    with monkeypatch.context() as m:
        m.setattr(minhash, "exact_jaccard", boom)
        with pytest.raises(RuntimeError, match="verify failed"):
            DedupPipeline(EngineConfig(**_CFG), work_dir=str(wd),
                          jaccard_threshold=0.5).run(
                capped_docs, id_col="url", text_col="text")
    leaked = [t for t in threading.enumerate()
              if t not in before and t.name.startswith("ThreadPoolExecutor")]
    assert leaked == []
    manifest = _manifest(wd)
    assert {"candidates", "substring_pairs"} <= set(manifest)
    assert "verified" not in manifest

    resumed = DedupPipeline(EngineConfig(**_CFG), work_dir=str(wd),
                            jaccard_threshold=0.5)
    out = resumed.run(capped_docs, id_col="url", text_col="text")
    assert [m["stage"] for m in resumed.metrics] == [
        "verified", "matches", "clusters"]
    want = spark.read.parquet(str(finished_run[1] / "clusters"))
    assert sorted(map(tuple, out["clusters"].collect())) == sorted(
        map(tuple, want.collect()))


def test_empty_stage_records_zero_rows(spark, tmp_path):
    pipe = DedupPipeline(EngineConfig(), work_dir=str(tmp_path))
    out = pipe._stage(spark, "empty",
                      lambda: spark.range(10).filter(F.col("id") < 0))
    assert out.count() == 0
    assert _manifest(tmp_path)["empty"]["rows"] == 0
    assert pipe.metrics[0]["rows"] == 0
    lin = _lineage(spark, tmp_path).filter(F.col("stage") == "empty")
    assert (lin.agg(F.sum("rows")).first()[0] or 0) == 0


def test_stage_bookkeeping_runs_no_extra_job(spark, tmp_path):
    """Recording a stage (counts, lineage, manifest) and reading it back
    runs no Spark job: the stage write is the only one."""
    sc = spark.sparkContext
    pipe = DedupPipeline(EngineConfig(), work_dir=str(tmp_path))
    group = "stage-bookkeeping-jobs"
    sc.setJobGroup(group, "one stage write")
    try:
        out = pipe._stage(spark, "probe",
                          lambda: spark.range(0, 1000, numPartitions=4))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert _manifest(tmp_path)["probe"]["rows"] == 1000
    assert sorted(r["partition_id"] for r in _lineage(spark, tmp_path)
                  .filter(F.col("stage") == "probe").collect()) == [0, 1, 2, 3]
    assert out.schema.simpleString() == "struct<id:bigint>"


def test_manifest_survives_failure_mid_serialization(tmp_path):
    """manifest.json is replaced atomically: a save that fails while
    serializing leaves the previous manifest loadable."""
    pipe = DedupPipeline(EngineConfig(), work_dir=str(tmp_path))
    pipe._manifest = {"signatures": {"path": "p", "rows": 3}}
    pipe._save_manifest()
    # the first entry serializes, the second raises part-way through
    pipe._manifest["candidates"] = {"path": "q", "rows": object()}
    with pytest.raises(TypeError):
        pipe._save_manifest()
    # the failure hit after serialization had started writing
    assert (tmp_path / "manifest.json.tmp").read_text().startswith("{")

    fresh = DedupPipeline(EngineConfig(), work_dir=str(tmp_path))
    fresh._load_manifest()
    assert fresh._manifest == {"signatures": {"path": "p", "rows": 3}}
