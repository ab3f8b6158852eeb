"""Structured Streaming dedup operators (file source → memory sink)."""

import time

import pytest
from pyspark.sql import functions as F

from recordlinkage_spark import streaming
from recordlinkage_spark.datagen import webtext_corpus


@pytest.fixture()
def stream_dir(spark, tmp_path):
    docs, _ = webtext_corpus(spark, n_docs=200, dup_fraction=0.4, seed=7)
    path = str(tmp_path / "in")
    docs.select("url", "warc_ts", "text", "lang").coalesce(2).write.parquet(path)
    return path, docs


def _run_stream(q_df, name):
    q = (
        q_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_exact_dedup(spark, stream_dir):
    path, docs = stream_dir
    schema = docs.select("url", "warc_ts", "text", "lang").schema
    stream = spark.readStream.schema(schema).parquet(path)
    deduped = streaming.streaming_exact_dedup(stream, ts_col="warc_ts")
    _run_stream(deduped, "dedup_sink")
    out = spark.sql("select * from dedup_sink")
    n_out = out.count()
    n_distinct_fp = (
        streaming.with_fingerprint(docs).select("fingerprint").distinct().count()
    )
    # one row per distinct content fingerprint (exact copies suppressed)
    assert n_out == n_distinct_fp
    assert out.select("fingerprint").distinct().count() == n_out


def test_streaming_minhash_signatures(spark, stream_dir):
    path, docs = stream_dir
    schema = docs.select("url", "warc_ts", "text", "lang").schema
    stream = spark.readStream.schema(schema).parquet(path)
    sigs = streaming.streaming_minhash_signatures(
        stream, id_col="url", num_perm=32, bands=8, rows=4
    )
    _run_stream(sigs, "sig_sink")
    out = spark.sql("select * from sig_sink")
    assert out.columns == ["id", "band_key"]
    assert out.count() == docs.count() * 8  # 8 bands per doc


def test_foreach_batch_incremental_lsh(spark, stream_dir, tmp_path):
    path, docs = stream_dir
    schema = docs.select("url", "warc_ts", "text", "lang").schema
    stream = spark.readStream.schema(schema).parquet(path)
    sigs = streaming.streaming_minhash_signatures(
        stream, id_col="url", num_perm=32, bands=8, rows=4
    )
    store = str(tmp_path / "store")
    pairs_out = str(tmp_path / "pairs")
    q = (
        sigs.writeStream.foreachBatch(
            streaming.foreach_batch_dedup(store, pairs_out)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    pairs = spark.read.parquet(pairs_out)
    assert pairs.count() > 0  # planted exact dups collide in every band
    assert pairs.filter(F.col("id_1") <= F.col("id_2")).count() == 0


def test_foreach_batch_pairs_equal_batch_candidates(spark, stream_dir,
                                                   tmp_path):
    """Over >= 3 micro-batches and an uncapped store, the union of the
    hook's pairs equals MinHashLSH.candidate_pairs over all docs: the
    batch of a pair's later doc emits it, through the same bucket rows
    and the same pairer (pairs_against_bands) as the batch path."""
    from recordlinkage_spark.minhash import MinHashLSH

    _, docs = stream_dir
    src = str(tmp_path / "in3")
    docs.select("url", "text").repartition(3).write.parquet(src)
    stream = (spark.readStream.schema("url string, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    sigs = streaming.streaming_minhash_signatures(
        stream, id_col="url", num_perm=32, bands=8, rows=4
    )
    store = str(tmp_path / "store")
    pairs_out = str(tmp_path / "pairs")
    q = (
        sigs.writeStream.foreachBatch(
            streaming.foreach_batch_dedup(store, pairs_out,
                                          max_bucket_size=100_000)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    assert spark.read.parquet(store).select("batch_id").distinct().count() >= 3
    pairs = spark.read.parquet(pairs_out).select("id_1", "id_2").collect()
    got = {(r["id_1"], r["id_2"]) for r in pairs}
    assert len(got) == len(pairs)  # no pair emitted by two batches
    lsh = MinHashLSH(num_perm=32, bands=8, rows=4, shingle_size=3,
                     max_bucket_size=100_000)
    want = {(r["id_1"], r["id_2"])
            for r in lsh.candidate_pairs(docs, "url", "text").collect()}
    assert want and got == want


def test_streaming_simhash_neardup_stateful(spark, stream_dir):
    """r3: the applyInPandasWithState operator must surface planted exact
    dups (hamming 0) as they stream through, with pairs possibly repeated
    across blocks (consumer dedupes)."""
    path, docs = stream_dir
    schema = docs.select("url", "warc_ts", "text", "lang").schema
    stream = spark.readStream.schema(schema).parquet(path)
    pairs = streaming.streaming_simhash_neardup(
        stream, id_col="url", text_col="text", hamming_k=3, blocks=4,
        shingle_size=2, state_timeout_ms=None,  # NoTimeout -> availableNow drains and stops
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName("neardup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()  # belt-and-braces: never leak a live query into the shared session
    out = spark.sql(
        "select distinct greatest(id_1, id_2) g, least(id_1, id_2) l,"
        " min(hamming) h from neardup_sink group by 1, 2"
    )
    got = {(r["g"], r["l"]) for r in out.collect()}
    assert len(got) > 0
    # exact dups (identical text -> identical simhash) must all be found
    from recordlinkage_spark import streaming as st
    fp = st.with_fingerprint(docs).select("url", "fingerprint")
    a = fp.selectExpr("url as u1", "fingerprint")
    b = fp.selectExpr("url as u2", "fingerprint")
    exact = {
        (max(r["u1"], r["u2"]), min(r["u1"], r["u2"]))
        for r in a.join(b, "fingerprint").filter("u1 > u2").collect()
    }
    assert exact and exact <= got
    # emitted hamming for exact dups is 0
    zeros = {(r["g"], r["l"]) for r in out.filter("h = 0").collect()}
    assert exact <= zeros


def test_streaming_simhash_guard_hamming_vs_blocks(spark, tmp_path):
    """r4 (ADVICE r3): hamming_k beyond the pigeonhole guarantee must be
    rejected up front, mirroring batch SimHash (simhash.py:120)."""
    schema = "url string, text string"
    stream = spark.readStream.schema(schema).parquet(str(tmp_path))
    with pytest.raises(ValueError, match="pigeonhole"):
        streaming.streaming_simhash_neardup(
            stream, id_col="url", text_col="text", hamming_k=4, blocks=4
        )


def test_streaming_simhash_timeout_evicts_state(spark, tmp_path):
    """r4 (ADVICE r3): drive the ProcessingTimeTimeout branch end-to-end —
    quiet buckets are evicted (their docs stop matching newcomers) and the
    query keeps producing correct pairs afterwards. This is the only way
    the hasTimedOut branch (empty-frame emit + state.remove) executes."""
    import shutil

    t1 = "the quick brown fox jumps over the lazy dog again and again " * 3
    t2 = "pack my box with five dozen liquor jugs for the long trip home " * 3
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    schema = "url string, text string"

    def write_batch(rows, name):
        out = tmp_path / name
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(out))
        for f in out.glob("*.parquet"):
            shutil.copy(f, in_dir / f"{name}-{f.name}")

    write_batch([("A", t1), ("B", t1)], "b1")
    stream = spark.readStream.schema(schema).parquet(str(in_dir))
    pairs = streaming.streaming_simhash_neardup(
        stream, id_col="url", text_col="text", hamming_k=0, blocks=4,
        shingle_size=2, state_timeout_ms=1500,
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName("timeout_sink")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        def sink_pairs():
            return {
                (r["g"], r["l"])
                for r in spark.sql(
                    "select distinct greatest(id_1,id_2) g,"
                    " least(id_1,id_2) l from timeout_sink"
                ).collect()
            }

        deadline = time.time() + 90
        while time.time() < deadline and ("B", "A") not in sink_pairs():
            time.sleep(0.5)
        assert ("B", "A") in sink_pairs()  # exact dup found pre-eviction
        # wait out the timeout PLUS at least two further micro-batches —
        # with ProcessingTimeTimeout Spark schedules empty batches whose
        # whole job is firing expired timers (the never-self-terminating
        # behavior the operator docstring warns about)
        b1_batch = q.lastProgress["batchId"]
        t_quiet = time.time()
        deadline = time.time() + 90
        while time.time() < deadline and not (
            time.time() - t_quiet > 3.0
            and q.lastProgress["batchId"] >= b1_batch + 2
        ):
            time.sleep(0.5)
        write_batch([("C", t1), ("D", t2), ("E", t2)], "b2")
        deadline = time.time() + 90
        while time.time() < deadline and ("E", "D") not in sink_pairs():
            time.sleep(0.5)
        got = sink_pairs()
    finally:
        q.stop()
    assert ("E", "D") in got          # new dups still surface post-eviction
    # C duplicates A/B's text, but their bucket state timed out and was
    # removed before C arrived -> no cross-eviction pair
    assert not any("C" in p for p in got), got


def test_foreach_batch_retry_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-invoking the hook with the same
    batch_id (simulated retry) must not double the stored signatures or
    the emitted pairs (session-8 review fix: batch_id-partitioned dynamic
    overwrite instead of append)."""
    store = str(tmp_path / "store")
    pairs_out = str(tmp_path / "pairs")
    proc = streaming.foreach_batch_dedup(store, pairs_out, max_bucket_size=10)
    schema = "id string, band_key int"
    b0 = spark.createDataFrame([("a", 111), ("b", 111)], schema)
    proc(b0, 0)
    proc(b0, 0)  # retry with the same batch_id
    assert spark.read.parquet(store).count() == 2  # not 4
    first = spark.read.parquet(pairs_out).select("id_1", "id_2")
    assert first.count() == 1 and first.distinct().count() == 1
    # a later batch pairs against the deduplicated store exactly once
    b1 = spark.createDataFrame([("c", 111)], schema)
    proc(b1, 1)
    got = {
        (r["id_1"], r["id_2"])
        for r in spark.read.parquet(pairs_out).select("id_1", "id_2").collect()
    }
    assert got == {("b", "a"), ("c", "a"), ("c", "b")}


def test_streaming_exact_dedup_null_text_passthrough(spark, tmp_path):
    """Null-text rows share a NULL fingerprint; the state store groups
    null keys as equal, so without the bypass only ONE failure row per
    horizon would survive (session-8 review fix)."""
    import datetime as dt

    rows = [
        ("u1", dt.datetime(2024, 3, 1, 0, 0), "same text"),
        ("u2", dt.datetime(2024, 3, 1, 0, 1), "same text"),
        ("u3", dt.datetime(2024, 3, 1, 0, 2), None),
        ("u4", dt.datetime(2024, 3, 1, 0, 3), None),
    ]
    src = tmp_path / "src"
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string"
    ).write.parquet(str(src))
    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, text string"
    ).parquet(str(src))
    out = streaming.streaming_exact_dedup(stream)
    q = (
        out.writeStream.format("memory").queryName("null_fp_sink")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    q.stop()
    got = {r["url"] for r in spark.sql("select url from null_fp_sink").collect()}
    # one of the duplicate texts deduped away; BOTH null-text rows kept
    assert {"u3", "u4"} <= got
    assert len(got & {"u1", "u2"}) == 1
