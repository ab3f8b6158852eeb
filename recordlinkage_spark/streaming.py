"""Structured Streaming operators for incremental dedup.

The reference is batch-only (SURVEY.md §2.8: no streaming anywhere), so
this module is additive: the operators a continuously-ingesting webtext
pipeline needs, expressed with the standard readStream → transform →
writeStream contract.

- ``streaming_exact_dedup``: drop exact duplicates by content fingerprint
  within a watermark window (state-bounded: Spark evicts fingerprints older
  than the watermark — at 10^12 docs/day unbounded dropDuplicates state
  would OOM; the watermark bounds it).
- ``streaming_minhash_signatures``: per-microbatch MinHash bucket rows
  ``(id, band_key)`` — the one bucket-row format of the MinHash layer
  (stateless map — the LSH self-join then runs as a periodic batch job
  over the signature table, the standard lambda design for streaming
  near-dup).
- ``foreach_batch_dedup``: a forEachBatch hook that stores each
  micro-batch's bucket rows and pairs them against the accumulated store
  with ``minhash.pairs_against_bands``, the batch-vs-store operator the
  batch paths use.
- ``streaming_simhash_neardup``: a CUSTOM STATEFUL operator
  (``applyInPandasWithState``): SimHash-block-keyed state holds the
  recent signatures per bucket (FIFO-capped), every arriving doc emits
  its Hamming<=k matches against that state immediately — true streaming
  near-dup detection with bounded state (cap + processing-time timeout),
  not a periodic batch join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recordlinkage_spark import textfns
from recordlinkage_spark.minhash import (_band_rows, make_text_band_udf,
                                         pairs_against_bands)


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("fingerprint", textfns.doc_fingerprint(F.col(text_col)))


def streaming_exact_dedup(
    stream: DataFrame,
    ts_col: str = "warc_ts",
    text_col: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact-dup suppression on a stream: keep the first arrival of each
    content fingerprint inside the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keys state by fingerprint and evicts
    entries older than the watermark — bounded state, late data beyond the
    watermark is emitted rather than silently joined (document this to
    downstream consumers).

    Null-text rows (extraction failures) have a NULL fingerprint; the
    state store groups null keys as EQUAL, so deduping them would keep
    one arbitrary failure row per horizon and silently drop the rest.
    They bypass the dedup and pass through unchanged — the same
    nulls-don't-pair contract as every batch signature path (session-8
    review fix)."""
    fp = with_fingerprint(stream, text_col).withWatermark(ts_col, watermark)
    deduped = fp.filter(
        F.col("fingerprint").isNotNull()
    ).dropDuplicatesWithinWatermark(["fingerprint"])
    return deduped.unionByName(fp.filter(F.col("fingerprint").isNull()))


def streaming_minhash_signatures(
    stream: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    num_perm: int = 128,
    bands: int = 32,
    rows: int = 4,
    shingle_size: int = 3,
) -> DataFrame:
    """Stateless signature extraction on a stream: ``(id, band_key int)``
    rows (``minhash._band_rows``, the bucket-row format every MinHash
    pairer reads) ready to append to the store :func:`foreach_batch_dedup`
    keeps."""
    udf = make_text_band_udf(num_perm, bands, rows, shingle_size)
    return _band_rows(stream.select(
        F.col(id_col).alias("id"), udf(F.col(text_col)).alias("bands")
    ))


def _overwrite_batch(df: DataFrame, batch_id: int, path: str) -> None:
    """Write ``df`` as the ``batch_id`` partition of the parquet table at
    ``path``, replacing that partition only."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def foreach_batch_dedup(signature_store_path: str, pairs_out_path: str,
                        max_bucket_size: int = 2000):
    """forEachBatch hook over ``(id, band_key)`` micro-batches (as
    :func:`streaming_minhash_signatures` emits them): add the batch's rows
    to the signature store, then pair them against the rest of the store
    to emit only pairs involving fresh docs (incremental LSH — no
    recomputation of old pairs).

    Tables, both parquet partitioned by ``batch_id``: the store at
    ``signature_store_path`` holds ``(id, band_key int, batch_id)``; the
    output at ``pairs_out_path`` holds canonical ``(id_1 > id_2,
    batch_id)`` pairs.

    - IDEMPOTENT writes: foreachBatch is at-least-once — on failure Spark
      re-invokes ``process`` with the same ``batch_id``. Both outputs are
      written with dynamic partition overwrite, so a retry REPLACES its
      own partition; a plain append would double the batch's signature
      rows, pushing bucket counts over the cap early (silently dropping
      real pairs) and duplicating pair files.
    - ONE PAIRER: the new side is the store partition just written, read
      back (the stream's signature UDF is not re-run for each plan
      branch), the store side every other ``batch_id``, and
      ``minhash.pairs_against_bands`` pairs them — the same operator as
      ``MinHashLSH.candidate_pairs_against`` and
      ``DedupPipeline.run_incremental``. Per-batch work scales with the
      store rows on the batch's keys, not the accumulated store (at real
      scale keep the store bucketed on ``band_key`` so the prune prunes
      the SCAN too). Its edge cases hold here: bucket keys are 32-bit, as
      in every other path, and the cap is its rule — a key's cross pairs
      are dropped when the batch and store rows on it together exceed
      ``max_bucket_size``, while its within-batch pairs survive as long
      as the batch side alone is within the cap.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_id = int(batch_id)
        _overwrite_batch(batch_df, batch_id, signature_store_path)
        store = batch_df.sparkSession.read.parquet(signature_store_path)
        fresh = F.col("batch_id") == batch_id
        pairs = pairs_against_bands(
            store.filter(fresh).drop("batch_id"),
            store.filter(~fresh).drop("batch_id"),
            batch_df.schema["id"].dataType.simpleString(), max_bucket_size,
        )
        _overwrite_batch(pairs, batch_id, pairs_out_path)

    return process


def streaming_simhash_neardup(
    stream: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    hamming_k: int = 3,
    blocks: int = 4,
    shingle_size: int = 2,
    max_bucket_state: int = 256,
    state_timeout_ms: int | None = 3_600_000,
) -> DataFrame:
    """Streaming near-dup pairs via stateful SimHash blocking
    (``applyInPandasWithState``) — the operator a continuously-ingesting
    pipeline needs when "detect the dup NOW" matters, versus the
    periodic-batch LSH join.

    Each doc's 64-bit SimHash splits into ``blocks`` prefix blocks
    (pigeonhole: any pair at Hamming <= blocks-1 shares one block). The
    stream is keyed by (block_id, block_val); per-key GroupState holds
    the bucket's recent (id, simhash) pairs. An arriving doc is XOR'd
    against the whole bucket state in one vectorized popcount, emits
    ``(id_1, id_2, hamming)`` for matches at Hamming <= hamming_k, and
    joins the state. State is bounded two ways (10^12-doc story):
    FIFO-capped at ``max_bucket_state`` per bucket (a boilerplate bucket
    cannot grow without limit — oldest entries evict first) and evicted
    wholesale after ``state_timeout_ms`` without traffic
    (processing-time timeout). The same pair may surface from several
    blocks; downstream consumers dedupe on (id_1, id_2).

    Ids are emitted as strings (the state schema is fixed); cast back as
    needed.

    NOTE on termination: with a processing-time timeout the query NEVER
    self-terminates — Spark keeps scheduling (possibly empty) micro-
    batches to fire state timeouts, so even ``trigger(availableNow)``
    runs forever; that is correct for the production stream (state must
    age out), but finite drives/tests should either pass
    ``state_timeout_ms=None`` (NoTimeout — the query drains and stops)
    or ``q.stop()`` after reading the sink.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from recordlinkage_spark.simhash import make_text_simhash_udf

    if blocks < hamming_k + 1:
        # same guard as batch SimHash (simhash.py:120): the pigeonhole
        # guarantee only covers Hamming <= blocks-1; beyond that the
        # stream would silently return a probabilistic subset at the
        # advertised distance (ADVICE r3)
        raise ValueError("need blocks >= hamming_k+1 for the pigeonhole guarantee")

    udf = make_text_simhash_udf(shingle_size)
    width = 64 // blocks
    mask = (1 << width) - 1
    sig = stream.select(
        F.col(id_col).cast("string").alias("id"),
        udf(F.col(text_col)).alias("simhash"),
    ).filter(F.col("simhash").isNotNull())
    chunks = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("block_id"),
                    F.shiftrightunsigned("simhash", i * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("block_val"),
                )
                for i in range(blocks)
            ])
        ).alias("_c"),
    ).select("id", "simhash", "_c.block_id", "_c.block_val")

    def _hamming(new_sims: np.ndarray, old_sims: np.ndarray) -> np.ndarray:
        """(n_new, n_old) Hamming distances via uint8-view popcount."""
        x = (new_sims[:, None] ^ old_sims[None, :]).astype(np.uint64)
        b = x.view(np.uint8).reshape(len(new_sims), len(old_sims), 8)
        return np.unpackbits(b, axis=2).sum(axis=2)

    def update(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            # explicit dtypes: bare [] columns default to float64, and
            # this branch must produce frames Arrow can cast to the
            # string/int output schema even at zero rows (ADVICE r3)
            yield pd.DataFrame({
                "id_1": pd.Series([], dtype=object),
                "id_2": pd.Series([], dtype=object),
                "hamming": pd.Series([], dtype=np.int32),
            })
            return
        ids: list = []
        sims: list = []
        if state.exists:
            ids, sims = list(state.get[0]), list(state.get[1])
        out_1, out_2, out_h = [], [], []
        for pdf in pdfs:
            new_ids = pdf["id"].tolist()
            new_sims = pdf["simhash"].to_numpy(dtype=np.int64)
            if len(sims):
                H = _hamming(new_sims, np.array(sims, dtype=np.int64))
                hit_i, hit_j = np.nonzero(H <= hamming_k)
                for a, b in zip(hit_i, hit_j):
                    if new_ids[a] != ids[b]:
                        out_1.append(new_ids[a])
                        out_2.append(ids[b])
                        out_h.append(int(H[a, b]))
            if len(new_sims) > 1:  # intra-batch pairs (upper triangle)
                H = _hamming(new_sims, new_sims)
                hit_i, hit_j = np.nonzero(np.triu(H <= hamming_k, k=1))
                for a, b in zip(hit_i, hit_j):
                    if new_ids[a] != new_ids[b]:
                        out_1.append(new_ids[a])
                        out_2.append(new_ids[b])
                        out_h.append(int(H[a, b]))
            ids.extend(new_ids)
            sims.extend(int(s) for s in new_sims)
        if len(ids) > max_bucket_state:  # FIFO eviction keeps the freshest
            ids = ids[-max_bucket_state:]
            sims = sims[-max_bucket_state:]
        state.update((ids, sims))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame({"id_1": out_1, "id_2": out_2, "hamming": out_h})

    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if state_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return chunks.groupBy("block_id", "block_val").applyInPandasWithState(
        update,
        outputStructType="id_1 string, id_2 string, hamming int",
        stateStructType="ids array<string>, sims array<bigint>",
        outputMode="append",
        timeoutConf=timeout_conf,
    )
