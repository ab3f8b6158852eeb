"""Unit coverage for the Iceberg branch of the stage-table seam
(pipeline._write_stage/_read_stage). The runtime has no Iceberg catalog
jars, so the catalog surface is faked with mocks; what these tests pin is
the ENGINE's side of the contract (VERDICT r2 "Next round" #4):

- a stage write goes through ``df.writeTo(<ns>.<stage>).createOrReplace()``
  and the committed snapshot id is captured into the manifest,
- the stage's row counts and bytes come from that snapshot's data files,
- the manifest records ``format`` and ``snapshot_id`` per stage,
- resume reads back through ``spark.read.option("snapshot-id", ...)``
  so a restart pins the immutable snapshot, not "latest".
"""

import json
from unittest import mock

from recordlinkage_spark.config import EngineConfig
from recordlinkage_spark.pipeline import DedupPipeline


def _fake_spark(snapshot_id=77, rows=123, size=4096):
    spark = mock.MagicMock(name="spark")
    # _write_stage reads the committed snapshot id and its data files'
    # record counts and sizes in ONE query over the snapshots + files
    # metadata tables; Iceberg names data files
    # <partition %05d>-<task>-<uuid>-...
    spark.sql.return_value.collect.return_value = [
        {"snapshot_id": snapshot_id,
         "file_path": "/wh/dedup_ns/t/data/00000-0-0f1e-00001.parquet",
         "record_count": rows, "file_size_in_bytes": size},
    ]
    return spark


def _cfg():
    return EngineConfig(stage_format="iceberg", iceberg_namespace="dedup_ns")


def test_write_stage_uses_writeto_and_captures_snapshot(tmp_path):
    pipe = DedupPipeline(_cfg(), work_dir=tmp_path)
    spark = _fake_spark(snapshot_id=9001)
    df = mock.MagicMock(name="df")
    out, location, snap, parts, nbytes = pipe._write_stage(
        spark, "signatures", df)
    df.writeTo.assert_called_once_with("dedup_ns.signatures")
    df.writeTo.return_value.createOrReplace.assert_called_once_with()
    assert location == "dedup_ns.signatures"
    assert snap == 9001
    # the snapshot id must come from the table's snapshots metadata view
    sql = spark.sql.call_args[0][0]
    assert "dedup_ns.signatures.snapshots" in sql
    spark.read.table.assert_called_once_with("dedup_ns.signatures")
    assert out is spark.read.table.return_value
    # per-partition counts come from the committed data files
    assert parts == {0: 123}
    assert nbytes == 4096
    assert "file_size_in_bytes" in sql


def test_stage_manifest_records_format_and_snapshot(tmp_path):
    pipe = DedupPipeline(_cfg(), work_dir=tmp_path)
    fake = _fake_spark(snapshot_id=42, rows=7, size=300)
    df = mock.MagicMock(name="df")
    pipe._stage(fake, "candidates", lambda: df)
    manifest = json.loads((tmp_path / "manifest.json").read_text())
    entry = manifest["candidates"]
    assert entry["format"] == "iceberg"
    assert entry["snapshot_id"] == 42
    assert entry["path"] == "dedup_ns.candidates"
    assert entry["rows"] == 7
    assert entry["bytes"] == 300


def test_resume_pins_snapshot_id_option(tmp_path):
    # first run writes the stage; a fresh pipeline resumes it
    pipe = DedupPipeline(_cfg(), work_dir=tmp_path)
    fake = _fake_spark(snapshot_id=42)
    pipe._stage(fake, "candidates", lambda: mock.MagicMock(name="df"))

    pipe2 = DedupPipeline(_cfg(), work_dir=tmp_path)
    pipe2._load_manifest()
    fake2 = _fake_spark()
    out = pipe2._stage(fake2, "candidates", lambda: (_ for _ in ()).throw(
        AssertionError("resume must not rebuild the stage")
    ))
    fake2.read.option.assert_called_once_with("snapshot-id", "42")
    fake2.read.option.return_value.table.assert_called_once_with(
        "dedup_ns.candidates"
    )
    assert out is fake2.read.option.return_value.table.return_value


def test_parquet_default_has_no_snapshot(tmp_path, spark):
    """The parquet path (tested default) records format + null snapshot —
    same manifest shape, so tooling reads one schema for both formats."""
    from recordlinkage_spark.datagen import webtext_corpus

    docs, _ = webtext_corpus(spark, n_docs=30, dup_fraction=0.2, seed=3)
    pipe = DedupPipeline(EngineConfig(), work_dir=tmp_path)
    pipe._stage(spark, "probe", lambda: docs.select("url"))
    manifest = json.loads((tmp_path / "manifest.json").read_text())
    assert manifest["probe"]["format"] == "parquet"
    assert manifest["probe"]["snapshot_id"] is None


def test_resume_reads_the_recorded_format(tmp_path, spark):
    """Resume reads a stage in the format its manifest entry recorded: a
    parquet work_dir resumed under an iceberg config reads the parquet
    files back, not a catalog table named by the file path."""
    DedupPipeline(EngineConfig(), work_dir=tmp_path)._stage(
        spark, "probe", lambda: spark.range(5))
    pipe = DedupPipeline(_cfg(), work_dir=tmp_path)
    pipe._load_manifest()
    out = pipe._stage(spark, "probe", lambda: (_ for _ in ()).throw(
        AssertionError("resume must not rebuild the stage")
    ))
    assert sorted(r["id"] for r in out.collect()) == [0, 1, 2, 3, 4]


def test_counts_from_snapshot_data_files(tmp_path):
    """Row counts per write partition and the byte total come from the
    committed snapshot's data files (several files may share a
    partition); an empty table has no data files but still records its
    snapshot, 0 rows and 0 bytes."""
    pipe = DedupPipeline(_cfg(), work_dir=tmp_path)
    spark = mock.MagicMock(name="spark")
    spark.sql.return_value.collect.return_value = [
        {"snapshot_id": 5, "file_path": f"/wh/d/{name}.parquet",
         "record_count": n, "file_size_in_bytes": 100 * n}
        for name, n in [("00000-3-ab-00001", 4), ("00000-3-ab-00002", 6),
                        ("00002-5-ab-00001", 1)]
    ]
    _, _, snap, parts, nbytes = pipe._write_stage(
        spark, "pairs", mock.MagicMock())
    assert (snap, parts) == (5, {0: 10, 2: 1})
    assert nbytes == 1100

    spark.sql.return_value.collect.return_value = [
        {"snapshot_id": 6, "file_path": None, "record_count": None,
         "file_size_in_bytes": None}
    ]
    pipe._stage(spark, "empty", lambda: mock.MagicMock(name="df"))
    manifest = json.loads((tmp_path / "manifest.json").read_text())
    assert manifest["empty"]["rows"] == 0
    assert manifest["empty"]["snapshot_id"] == 6
    assert manifest["empty"]["bytes"] == 0
