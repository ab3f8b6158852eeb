"""MinHash + LSH band index — the web-scale candidate-pair pass.

Not in the reference (SURVEY.md §2.2 "new, north_rule"): replaces
Block/SortedNeighbourhood as the blocking stage for 10^12-doc webtext.

Plan shape (all lazy, one pipeline):

  docs --pandas UDF (numpy, Arrow)--> tokens -> word-gram hashes
       -> k MinHash mins -> b band-index-salted band hashes
          (+ winnowed fingerprints and the 32-bit shingle set when the
          full signature frame is built: _signature_frame)
       --explode, top 32 bits--> (id, band_key int)   [_band_rows]
       --one shuffle on band_key, per-partition sort, capped Arrow
         expander (skew!)--> (id_1 > id_2) candidate pairs   [bucket_pairs]
          (a batch against a stored band table: pairs_against_bands)
       --JVM array_intersect/union on shingle sets--> exact Jaccard verify

Skew handling (north_rule): webtext boilerplate produces mega-buckets that
would explode quadratically in the self-join. Buckets larger than
``max_bucket_size`` are dropped and COUNTED (truncation is observable in
the metrics dict) — AQE skew-join handles the surviving moderate skew.
Hash functions are multiply-shift over uint64 (a_i odd), the standard
vectorized universal-hash family; the numpy kernel is O(k·m) per doc in one
Arrow batch, no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from recordlinkage_spark import textfns
from recordlinkage_spark.caching import pin
from recordlinkage_spark.config import EngineConfig

_MIX = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio mix constant


def _perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 2**62, num_perm, dtype=np.int64).astype(np.uint64) * 2 + 1
    b = rng.randint(0, 2**62, num_perm, dtype=np.int64).astype(np.uint64)
    return a, b


_CHUNK_HASHES = 24576  # ~192 KB of u64 — stays L2-resident across all perms


def _bands_from_segments(
    flat: np.ndarray, offsets: np.ndarray, a: np.ndarray, b: np.ndarray,
    num_perm: int, bands: int, rows: int,
) -> np.ndarray:
    """MinHash signatures + band combine over a flat segmented uint64 hash
    array. Returns (bands, n_docs) int64 band hashes.

    Two shape rules, both measured on this workload:
    - One permutation at a time with CONTIGUOUS scalar multiply+add —
      numpy's stride-0 broadcast integer multiply is ~40x slower.
    - CACHE-BLOCKED over doc-aligned chunks: the naive layout streams the
      whole flat array from DRAM 3x per permutation (~3 KB of memory
      traffic per 8-byte hash at k=128), which saturates this host's
      memory bandwidth at ~8 concurrent workers and inverts scaling
      (local[32] measured 4x SLOWER than local[8]). Chunking to ~192 KB
      keeps the hashes L2-resident across all k permutations, so DRAM
      sees each hash once."""
    n_docs = len(offsets)
    sig = np.empty((num_perm, n_docs), dtype=np.uint64)
    if n_docs == 0:
        return np.zeros((bands, 0), dtype=np.int64)
    ends = np.append(offsets[1:], len(flat)).astype(np.int64)
    tmp = np.empty(min(_CHUNK_HASHES, len(flat)) + 1, dtype=np.uint64)
    d0 = 0
    while d0 < n_docs:
        start = offsets[d0]
        # widest doc range whose hashes fit in the chunk (>=1 doc always)
        d1 = int(np.searchsorted(ends, start + _CHUNK_HASHES, side="right"))
        d1 = max(d1, d0 + 1)
        seg = flat[start:ends[d1 - 1]]
        offs = (offsets[d0:d1] - start).astype(np.int64)
        t = tmp[: len(seg)] if len(seg) <= len(tmp) else np.empty(len(seg), np.uint64)
        for i in range(num_perm):
            np.multiply(seg, a[i], out=t)
            t += b[i]
            sig[i, d0:d1] = np.minimum.reduceat(t, offs)
        d0 = d1
    # combine r rows per band with a mixed polynomial hash; salt each band
    # with its index so band hashes are globally unique keys — downstream
    # bucketing joins on the hash ALONE (no band-index column in the shuffle;
    # cross-band bucket merges need a 64-bit collision, ~1e-11 per pair)
    band = sig.reshape(bands, rows, -1)
    acc = np.zeros((bands, band.shape[2]), dtype=np.uint64)
    for r_i in range(rows):
        acc = acc * _MIX + band[:, r_i, :]
        acc ^= acc >> np.uint64(33)
    salt = (np.arange(bands, dtype=np.uint64) * _MIX)[:, None]
    acc ^= salt
    return acc.view(np.int64)


def make_text_band_udf(
    num_perm: int, bands: int, rows: int, shingle_size: int, seed: int = 42
):
    """pandas UDF: raw text -> array<bigint> band hashes, fully fused.

    tokenize (str.split) -> siphash per token (pd.util.hash_array) ->
    rotate-xor n-gram combine -> MinHash -> band hash, all vectorized numpy
    in ONE Arrow pass. JVM higher-order expressions (transform/aggregate
    lambdas) are interpreted, not codegen'd: post-bind_once the JVM
    shingle+hash stage alone measures 2.0x the Arrow pass (see the textfns
    module docstring), and the 128-permutation banding would add 128
    interpreted lambda evaluations per shingle on top. Null text -> null.

    The band-only twin of :func:`make_signature_udf` (bit-identical
    bands, about half its kernel time): callers that only bucket use it."""
    if bands * rows != num_perm:
        raise ValueError("num_perm must equal bands * rows")
    a, b = _perm_params(num_perm, seed)

    def batch(texts: pd.Series) -> pd.Series:
        np.seterr(over="ignore")  # uint64 wraparound IS the hash arithmetic
        flat, lengths, isna = textfns.flat_token_hashes_np(texts)
        # zero-token docs (empty/whitespace-only) are dropped like nulls:
        # they would otherwise all share gram [0] -> one global bucket of
        # trivially-"identical" docs (ADVICE r01)
        isna = isna | (lengths == 0)
        grams, counts = textfns.gram_hashes_np(flat, lengths, shingle_size)
        offsets = np.zeros(len(counts), dtype=np.int64)
        np.cumsum(counts[:-1], out=offsets[1:])
        acc_i64 = _bands_from_segments(grams, offsets, a, b, num_perm, bands, rows)
        return pd.Series(
            [None if na else acc_i64[:, i] for i, na in enumerate(isna)],
            dtype=object,
        )

    # asNondeterministic stops Catalyst from duplicating the UDF when a
    # filter (incl. one inferred for explode) is pushed below the
    # repartition Exchange — otherwise the signature pass runs TWICE, once
    # on the unpartitioned input.
    return F.pandas_udf(batch, ArrayType(LongType())).asNondeterministic()


def make_signature_udf(
    num_perm: int, bands: int, rows: int, shingle_size: int,
    span_tokens: int, winnow_window: int, seed: int = 42,
):
    """pandas UDF: raw text -> struct(bands, fps, sh) — ONE tokenize+hash
    pass feeding all three dedup passes:

      bands: LSH band hashes (MinHash over shingle grams)
      fps:   winnowed rolling-hash fingerprints (long-span substring pass)
      sh:    distinct shingle-hash set (exact-Jaccard verification)

    The pipeline materializes this once per run instead of re-tokenizing
    the corpus three times (3x less Python compute AND 3x fewer Arrow
    transfers of the raw text). Null text -> null struct."""
    if bands * rows != num_perm:
        raise ValueError("num_perm must equal bands * rows")
    from recordlinkage_spark.suffix import winnow_fingerprints_np

    a, b = _perm_params(num_perm, seed)

    def batch(texts: pd.Series) -> pd.DataFrame:
        np.seterr(over="ignore")
        flat, lengths, isna = textfns.flat_token_hashes_np(texts)
        isna = isna | (lengths == 0)  # drop empty docs like nulls (ADVICE r01)
        grams, counts = textfns.gram_hashes_np(flat, lengths, shingle_size)
        offsets = np.zeros(len(counts), dtype=np.int64)
        np.cumsum(counts[:-1], out=offsets[1:])
        band_i64 = _bands_from_segments(grams, offsets, a, b, num_perm, bands, rows)
        # verify set as 32-bit hashes: the shingle arrays are the bulk of
        # the materialized signatures (~1.2KB/doc at 64-bit); truncating
        # halves that, and a 32-bit collision inside one pair's ~300-hash
        # union (P ~ 1e-5) moves its Jaccard by ~0.003 — far below any
        # useful threshold granularity
        sh32 = (grams >> np.uint64(32)).astype(np.uint32)
        shv, shc = textfns.distinct_per_doc_np(sh32, counts)
        sh_series = textfns.segments_to_series(shv, shc, isna,
                                               view_dtype=np.int32)
        fpv, fpc = winnow_fingerprints_np(flat, lengths, span_tokens, winnow_window)
        fp_series = textfns.segments_to_series(fpv, fpc, isna)
        bands_col = pd.Series(
            [None if na else band_i64[:, i] for i, na in enumerate(isna)],
            dtype=object,
        )
        return pd.DataFrame({"bands": bands_col, "fps": fp_series, "sh": sh_series})

    return F.pandas_udf(
        batch,
        "bands array<bigint>, fps array<bigint>, sh array<int>",
    ).asNondeterministic()


def _signature_frame(
    records: DataFrame, cfg: EngineConfig, id_col: str, text_col: str
) -> DataFrame:
    """THE signature frame ``(id, bands, fps, sh)``: ONE tokenize+hash
    Arrow pass (:func:`make_signature_udf`) emits all three per-doc
    signatures. ``DedupPipeline.run`` and ``run_incremental`` build their
    signature stages with it and :meth:`MinHashLSH.verified_pairs` signs
    through it — one copy, so every path signs and verifies identically
    (the incremental flow's bit-for-bit equivalence with the full run
    depends on it). Null ids are dropped: they cannot take part in
    id-keyed dedup, and such rows stay visible in the caller's input."""
    df = textfns.spread_small_input(records)
    udf = make_signature_udf(
        cfg.num_perm, cfg.lsh_bands, cfg.lsh_rows, cfg.shingle_size,
        cfg.span_tokens, cfg.winnow_window,
    )
    return df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("id"), udf(F.col(text_col)).alias("_sig")
    ).select("id", "_sig.*")


def _band_rows(sig: DataFrame) -> DataFrame:
    """THE bucket-row format ``(id, band_key int)``, one row per band of
    every signed doc, from any frame with ``(id, bands)``: the signature
    frame, or :meth:`MinHashLSH.bands_table`'s band-only frame. Every
    MinHash caller pairs these rows through :func:`bucket_pairs` or
    :func:`pairs_against_bands`; band hashes are band-index-salted, so the
    key needs no band index (see :func:`band_key_expr`)."""
    return sig.select("id", F.explode("bands").alias("_bh")).select(
        "id", band_key_expr("_bh").alias("band_key")
    )


def _segment_pair_idx(sizes: np.ndarray):
    """Flat (i_idx, j_idx) row indices of all unordered in-segment pairs:
    the k-th pair of an m-element segment maps to upper-triangle indices
    (i, j) by the closed-form triangular inverse (same trick as the
    reference's Random indexer, recordlinkage/algorithms/indexing.py:8-17,
    applied per segment). Exact for m <= ~2^26 (float64 sqrt is exact on
    these integer ranges). Returns None when there are no pairs."""
    sizes = sizes.astype(np.int64)
    pair_counts = sizes * (sizes - 1) // 2
    total = int(pair_counts.sum())
    if total == 0:
        return None
    seg_starts = np.cumsum(sizes) - sizes
    pair_starts = np.cumsum(pair_counts) - pair_counts
    grp = np.repeat(np.arange(len(sizes)), pair_counts)
    k = np.arange(total, dtype=np.int64) - pair_starts[grp]
    m = sizes[grp]
    # row index i: largest i with i*(2m-i-1)/2 <= k
    i = ((2 * m - 1) - np.sqrt((2 * m - 1).astype(np.float64) ** 2 - 8 * k)) // 2
    i = i.astype(np.int64)
    j = k - i * (2 * m - i - 1) // 2 + i + 1
    base = seg_starts[grp]
    return base + i, base + j


def segment_pairs_np(ids: np.ndarray, sizes: np.ndarray):
    """All unordered in-segment pairs of a flat segmented id array,
    fully vectorized (see :func:`_segment_pair_idx`).

    Returns (a, b) with a = elementwise max, b = min.
    """
    idx = _segment_pair_idx(sizes)
    if idx is None:
        return ids[:0], ids[:0]
    x, y = ids[idx[0]], ids[idx[1]]
    return np.maximum(x, y), np.minimum(x, y)


def _make_bucket_pair_expander(cap: int, key_cols: tuple[str, ...],
                               dropped_acc=None,
                               payload_cols: tuple[str, ...] = ()):
    """mapInPandas function over (id, *key_cols) rows that are
    hash-partitioned AND sorted by ``key_cols``: emits in-bucket pairs.
    Streams Arrow batches with a carry-over for the bucket that spans a
    batch boundary; a bucket that grows past ``cap`` rows is dropped
    immediately (bounded memory under mega-bucket skew).

    ``dropped_acc``: optional Spark accumulator incremented once per
    dropped oversize bucket — skew observability for the metrics table
    (approximate under task retries, like all accumulators).

    ``payload_cols``: per-row columns carried THROUGH the expansion —
    each pair row gets ``<col>_1``/``<col>_2`` aligned with id_1/id_2
    (id_1 is the elementwise larger id, matching the payload-free path).
    Lets a caller with a small per-doc value (e.g. a simhash signature)
    skip two downstream gather joins by shuffling the value alongside
    the bucket key."""

    def expand(batches):
        carry: pd.DataFrame | None = None
        drop_key = None  # key tuple of a poisoned oversize bucket

        def emit(pdf: pd.DataFrame, hold_last: bool):
            nonlocal carry, drop_key
            keys = [pdf[k].to_numpy() for k in key_cols]
            if drop_key is not None:
                hit = keys[0] == drop_key[0]
                for kv, dv in zip(keys[1:], drop_key[1:]):
                    hit &= kv == dv
                if not hit.any():
                    drop_key = None
                else:
                    pdf = pdf[~hit]
                    if len(pdf) == 0:
                        carry = None
                        return None
                    keys = [kv[~hit] for kv in keys]
            change = keys[0][1:] != keys[0][:-1]
            for kv in keys[1:]:
                change |= kv[1:] != kv[:-1]
            change = np.nonzero(change)[0] + 1
            if hold_last:
                last_start = change[-1] if len(change) else 0
                carry = pdf.iloc[last_start:]
                if len(carry) > cap:  # oversize bucket: poison + drop now
                    drop_key = tuple(kv[last_start] for kv in keys)
                    carry = None
                    if dropped_acc is not None:
                        dropped_acc.add(1)
                pdf = pdf.iloc[:last_start]
                if last_start == 0:
                    return None
                change = change[:-1]
            starts = np.concatenate(([0], change))
            sizes = np.diff(np.concatenate((starts, [len(pdf)])))
            ok = (sizes >= 2) & (sizes <= cap)
            if dropped_acc is not None:
                n_over = int((sizes > cap).sum())
                if n_over:
                    dropped_acc.add(n_over)
            if not ok.any():
                return None
            ids = pdf["id"].to_numpy()
            # compact to kept segments only
            keep_rows = np.repeat(ok, sizes)
            kept_ids = ids[keep_rows]
            if not payload_cols:
                a, b = segment_pairs_np(kept_ids, sizes[ok])
                if len(a) == 0:
                    return None
                return pd.DataFrame({"id_1": a, "id_2": b})
            idx = _segment_pair_idx(sizes[ok])
            if idx is None:
                return None
            ii, jj = idx
            x, y = kept_ids[ii], kept_ids[jj]
            swap = x >= y  # id_1 = elementwise max, as in the plain path
            sel1 = np.where(swap, ii, jj)
            sel2 = np.where(swap, jj, ii)
            data = {"id_1": kept_ids[sel1], "id_2": kept_ids[sel2]}
            for p in payload_cols:
                arr = pdf[p].to_numpy()[keep_rows]
                data[f"{p}_1"] = arr[sel1]
                data[f"{p}_2"] = arr[sel2]
            return pd.DataFrame(data)

        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            out = emit(pdf, hold_last=True)
            if out is not None:
                yield out
        if carry is not None and len(carry):
            out = emit(carry, hold_last=False)
            if out is not None:
                yield out

    return expand


def band_key_expr(band_hash_col) -> Column:
    """THE band bucket key: top 32 bits of the (band-index-salted) band
    hash, cast to int, applied in one place (:func:`_band_rows`) on
    purpose — run-time bucketing (candidate_pairs), the incremental band
    store, the batch-vs-store join, the streaming store, and
    truncation_metrics must key identically or the metrics
    describe buckets the run never used and stores stop matching
    batches. A truncation collision only ADDS candidates the verify
    stage discards."""
    col = F.col(band_hash_col) if isinstance(band_hash_col, str) else band_hash_col
    return F.shiftright(col, 32).cast("int")


def bucket_pairs(rows: DataFrame, key_cols: list[str], cap: int,
                 id_type: str, dropped_acc=None,
                 payload: dict[str, str] | None = None) -> DataFrame:
    """(id, *key_cols) -> distinct in-bucket (id_1, id_2) pairs via ONE
    shuffle: repartition on the bucket key, per-partition sort, vectorized
    Arrow pair expansion (see _make_bucket_pair_expander), then distinct.
    Shared by the MinHash/LSH, SimHash, winnowing-fingerprint and
    embedding-LSH passes. Pass a Spark accumulator as ``dropped_acc`` to
    count dropped oversize buckets (skew observability). Rows with a null
    id are dropped first: the expander cannot canonicalize them (numpy's
    max over None raises), and a pair with an unidentifiable doc would
    mean nothing.

    ``payload`` ({column: spark_type}): small per-row values carried
    through the expansion as ``<col>_1``/``<col>_2`` — a caller that
    needs a per-doc scalar on both sides of every pair (e.g. SimHash's
    Hamming filter) avoids two gather joins against the signature table
    at the cost of one extra scalar per row in the bucket shuffle. The
    payload must be a FUNCTION of the id (same value on every row of a
    doc), so the per-pair values are deterministic under dropDuplicates."""
    # Repartition by key WITHOUT an explicit partition count: an explicit
    # count marks the exchange REPARTITION_BY_NUM, which AQE refuses to
    # coalesce, pinning spark.sql.shuffle.partitions reduce tasks (and as
    # many Python-worker mapInPandas invocations) regardless of data size.
    # REPARTITION_BY_COL starts from the same spark.sql.shuffle.partitions
    # but lets AQE coalesce small partitions to advisoryPartitionSizeInBytes
    # — scale-adaptive in both directions (guide §2.2/§2.4): tiny inputs
    # collapse to a few tasks, large deployments size shuffle.partitions
    # high and AQE right-sizes the reduce side. Coalescing merges whole
    # hash partitions, and the per-partition sort runs after the merge, so
    # every bucket stays contiguous within one task — the expander's
    # contract is unchanged (measured: identical pair sets, ~0.3 s less
    # fixed overhead per call at bench scale).
    grouped = (rows.filter(F.col("id").isNotNull())
               .repartition(*key_cols).sortWithinPartitions(*key_cols))
    payload = payload or {}
    expand = _make_bucket_pair_expander(cap, tuple(key_cols), dropped_acc,
                                        payload_cols=tuple(payload))
    schema = f"id_1 {id_type}, id_2 {id_type}" + "".join(
        f", {p}_1 {t}, {p}_2 {t}" for p, t in payload.items()
    )
    pairs = grouped.mapInPandas(expand, schema=schema)
    # id_1 != id_2: one doc can occupy TWO rows of a bucket (two of its
    # band hashes truncating to the same band_key, or a duplicated input
    # id) and the expander pairs every row combination — without the
    # filter a self-pair (x, x) survives dropDuplicates, scores
    # jaccard 1.0, and lands in matches (session-8 review fix)
    return (
        pairs.filter(F.col("id_1") != F.col("id_2"))
        .dropDuplicates(["id_1", "id_2"])
    )


def cap_pair_degree(pairs: DataFrame, cap: int, seed: int = 42,
                    rank_col: Column | None = None) -> DataFrame:
    """Keep, per doc, its ``cap`` lowest-hash candidate pairs; a pair
    survives when EITHER endpoint ranks it — so every doc keeps at least
    ``min(cap, degree)`` of its pairs and the kept set is at most
    ``2 * n_docs * cap``.

    This is the mega-clique pressure valve for the VERIFY stage.
    ``bucket_pairs``' bucket cap bounds the per-bucket fan-out, but
    ubiquitous boilerplate (a shared header on f% of the corpus) makes
    those docs GENUINELY pairwise-similar: thousands of sub-cap buckets
    each legally emit ~cap^2/2 pairs, and the exact-Jaccard gather then
    ships every doc's shingle array once per pair — quadratic bytes in
    the clique size (measured: 10% boilerplate at 2M docs -> 27.8M
    candidate pairs, 904 s verify, ~24 GB spill; at 4M docs the spill
    exceeded this host's disk. BENCH/BASELINE.md round 5).

    Why it is safe for DEDUP semantics: the engine's output contract is
    the CLUSTER partition (connected components over verified pairs), and
    the acceptance metric is cluster pair recall — a truth pair counts as
    recovered when both docs land in one cluster, not when its edge is
    verified directly. Within a true near-dup clique the kept edges form
    a random >=min(cap, k-1)-out graph, which is connected with
    overwhelming probability for cap >= 2 (random k-out connectivity;
    the failure probability vanishes as the clique grows), so the
    component survives while verify cost drops from O(k^2) to
    O(k * cap). Docs in ordinary small clusters have degree < cap and
    are untouched.

    Known lossy edge (why this stays opt-in): the whp argument covers
    edges WITHIN a dense component. A component held together by SCARCE
    bridge edges between two high-degree docs (two cliques joined by one
    pair) can split — the bridge survives only if it ranks in an
    endpoint's top-``cap`` among ~degree hash-ranked edges. Measured at
    2M docs / 10% boilerplate with cap 8: 22 of 1.15M clustered docs
    differed, recall 0.99877 vs the uncapped twin's ~0.999 — inside the
    0.99 gate, not bit-identical. Raise ``cap`` (loss falls as
    cap/degree) or leave the cap off when exact pair/partition parity
    matters (``EngineConfig.max_verify_degree=None``, the default).

    Deterministic and layout-independent: rank = xxhash64(id_1, id_2,
    seed) with the partner id as tiebreak; no RNG, same kept set at any
    partitioning. ``rank_col`` overrides the rank expression (e.g. an
    md5-based rank that an external SQL engine can replicate
    bit-for-bit for differential checks, or a quality score so the BEST
    edges survive instead of pseudo-random ones).
    """
    if cap < 2:
        raise ValueError("cap_pair_degree: need cap >= 2 for the random "
                         "k-out connectivity guarantee")
    from pyspark.sql import Window

    h = rank_col if rank_col is not None else F.xxhash64(
        F.col("id_1").cast("string"), F.col("id_2").cast("string"),
        F.lit(seed),
    )
    w1 = Window.partitionBy("id_1").orderBy(h.asc(), F.col("id_2").asc())
    w2 = Window.partitionBy("id_2").orderBy(h.asc(), F.col("id_1").asc())
    return (
        pairs.withColumn("_r1", F.row_number().over(w1))
        .withColumn("_r2", F.row_number().over(w2))
        .filter((F.col("_r1") <= cap) | (F.col("_r2") <= cap))
        .drop("_r1", "_r2")
    )


def pairs_against_bands(
    new_bands: DataFrame,
    store_bands: DataFrame,
    id_type: str,
    max_bucket_size: int,
    dropped_acc=None,
    broadcast_key_limit: int = 4_000_000,
) -> DataFrame:
    """Batch-vs-store pair expansion over compact ``(id, band_key)``
    frames: within-batch pairs via the capped streaming expander, plus
    new-vs-store pairs via the touched-key capped join — the store is
    semi-joined to the batch's distinct keys first, so it never shuffles
    in full (partition-pruned when the store is bucketed on band_key).
    Keys whose COMBINED (new + store) bucket exceeds ``max_bucket_size``
    are dropped from the cross join (boilerplate protection — per-side
    caps would still let a key at the cap on BOTH sides expand to ~cap^2
    pairs); within-batch pairs of such a key survive while the
    batch side alone is under the cap. Key-column dtype is caller's
    choice — the LSH path uses 32-bit int band keys, the winnowing path
    64-bit fingerprints renamed to ``band_key``.

    THE batch-vs-store pairer: core of
    :meth:`MinHashLSH.candidate_pairs_against` and
    ``streaming.foreach_batch_dedup``, also driven by
    ``DedupPipeline.run_incremental`` directly over persisted signature
    stages (no re-signing of the store). Returns distinct canonical
    (id_1 > id_2) pairs where at least one side is a new id.
    """
    within = bucket_pairs(
        new_bands, ["band_key"], max_bucket_size, id_type,
        dropped_acc=dropped_acc,
    )
    # Cap BOTH sides of the cross join. The within-batch expander above
    # already drops new-side buckets over the cap, but the cross join is
    # a separate path: without a new-side filter a boilerplate band_key
    # shared by 1M batch rows would still join against up to
    # max_bucket_size store rows each — the exact mega-bucket fan-out the
    # cap exists to prevent (session-8 review fix). Hot new keys are the
    # ones the expander already counted in dropped_acc, so no second
    # increment here; the groupBy is map-side combinable, so the hot-key
    # count itself cannot skew.
    new_sizes = new_bands.groupBy("band_key").agg(F.count("*").alias("_nn"))
    ok_new = new_bands.join(
        new_sizes.filter(F.col("_nn") > max_bucket_size).select("band_key"),
        "band_key", "left_anti",
    )
    # The batch's touched-key set is usually tiny next to the store:
    # BROADCAST it so the store side is filtered in place instead of
    # shuffling every store band row into a join — measured at 400k-store
    # / 100k-batch the un-broadcast semi-join exchanged all 12.8M store
    # rows and erased the incremental path's advantage over a full
    # rebuild (r5 bench). This is the local-mode stand-in for bucketed-
    # store partition pruning at scale; count-gated so a giant batch
    # falls back to the shuffled join. pin (lazy): touched feeds both the
    # bucket-size aggregate and the join probe below — without it the
    # store semi-join subtree evaluates twice per action (session-8
    # review fix). Bounded: touched holds only store rows on the batch's
    # keys.
    # Gate on the PINNED batch frame's row count — an upper bound on the
    # distinct keys, so no extra distinct-aggregate job — and keep it at
    # 4M keys (~32 MB of longs, well under broadcast/driver limits with
    # HashedRelation overhead; a 10M+ gate risked a multi-hundred-MB
    # forced broadcast on small drivers — r5 review fix). Bigger batches
    # fall back to the shuffled semi-join.
    # broadcast_key_limit (ADVICE r5): the 4M default is ~32 MB of longs
    # plus HashedRelation overhead — small-driver deployments can lower
    # it (or raise it on fat drivers) without touching code.
    keys = ok_new.select("band_key").distinct()
    if new_bands.count() <= broadcast_key_limit:
        keys = F.broadcast(keys)
    touched = pin(store_bands.join(keys, "band_key"))
    sizes = touched.groupBy("band_key").agg(F.count("*").alias("_n"))
    # combined cap: the store side of a key plus the batch rows that will
    # join it must fit in one bucket. sizes' keys are a subset of
    # new_sizes' keys, so inner join.
    hot_keys = (
        sizes.join(new_sizes, "band_key")
        .filter(F.col("_n") + F.col("_nn") > max_bucket_size)
        .select("band_key")
    )
    if dropped_acc is not None:
        # count the dropped combined-hot keys into the same accumulator
        # the within-batch expander uses — silently uncounted drops would
        # report dropped_buckets=0 while recall was lost (session-8
        # review fix). Disjoint from the expander's count by
        # construction: a new-hot key never reaches `touched` at all.
        # Same task-retry approximation caveat as every accumulator; the
        # pin() below stops THIS store-side count re-incrementing on
        # every action a lazy caller runs over the result (ADVICE r4 —
        # the un-pinned mapInPandas re-executed per action). The
        # within-batch expander's new-hot-key count (inside
        # bucket_pairs) still re-executes per action for lazy callers —
        # pinning the full pair frame here would force-materialize every
        # caller; the pipeline materializes candidates as a stage, which
        # bounds it to one action in the production path.
        key_type = dict(store_bands.dtypes)["band_key"]

        def _count_hot(batches):
            for pdf in batches:
                dropped_acc.add(len(pdf))
                yield pdf

        hot_keys = pin(hot_keys.mapInPandas(_count_hot, f"band_key {key_type}"))
    hits = touched.join(hot_keys, "band_key", "left_anti")
    cross = (
        ok_new.select("band_key", F.col("id").alias("_nid"))
        .join(hits.select("band_key", F.col("id").alias("_sid")), "band_key")
        .filter(F.col("_nid") != F.col("_sid"))
        .select(
            F.greatest("_nid", "_sid").alias("id_1"),
            F.least("_nid", "_sid").alias("id_2"),
        )
    )
    return within.unionByName(cross).dropDuplicates(["id_1", "id_2"])


# The pair list broadcasts into the verify gather up to this many pairs.
_PAIR_BROADCAST_ROWS = 2_000_000


def _broadcast_gather(cands: DataFrame, sh: DataFrame,
                      n_pairs: int | None = None) -> bool:
    """The verify gather rule of :func:`exact_jaccard`. The shingle
    table's size estimate comes from its optimized plan (no job); the
    pair count is ``n_pairs`` when given, else a count job over
    ``cands``, run only when the shingle table is too big for Spark to
    broadcast by itself."""
    auto = (sh.sparkSession._jsparkSession.sessionState().conf()
            .autoBroadcastJoinThreshold())
    sh_bytes = textfns.plan_size_bytes(sh)
    if sh_bytes is not None and sh_bytes <= auto:
        return False
    if n_pairs is None:
        n_pairs = cands.count()
    return n_pairs <= _PAIR_BROADCAST_ROWS


def exact_jaccard(
    cands: DataFrame,
    sh: DataFrame,
    threshold: float,
    broadcast_pairs: bool | None = None,
    n_pairs: int | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against a shingle
    table ``sh(id, _sh array<bigint>)``. Returns (id_1, id_2, jaccard)
    filtered at ``threshold``; the set math is pure JVM
    (array_intersect/array_union).

    Gather shape: two ways to bring both docs' shingle arrays to a pair.
    The BROADCAST gather broadcasts the pair list into two
    partition-local gathers against ``sh`` — the full array column is
    never exchanged — and then joins the two gathered sides on the pair
    key, moving only arrays of ids that actually occur in pairs
    (measured 2x on the verify stage at 32 threads, where shuffling all
    arrays saturates memory bandwidth). The SHUFFLED gather is two plain
    joins. The rule: when the shingle table's size estimate is at most
    ``spark.sql.autoBroadcastJoinThreshold``, each plain join has a
    side Spark broadcasts by itself (``sh``, or the smaller pair list),
    so the shuffled gather exchanges no array column either and skips
    the broadcast gather's extra jobs. Measured at one size only, 550
    pairs x 2120 docs (a 2.2 MB shingle-table estimate) on a 4-vCPU VM,
    8 runs each: the broadcast gather took a median 0.82 s in 5 jobs,
    the shuffled one 0.54 s in 3 jobs. Above
    that threshold (or with no estimate) the broadcast gather runs when
    the pair list has at most 2M pairs, and the shuffled gather
    otherwise (deep-recall configs at full corpus scale). Pass
    ``n_pairs`` when the count is already known (the pipeline reads it
    from the committed pair stage); otherwise the rule counts ``cands``,
    in that second case only. Pass ``broadcast_pairs`` explicitly to
    force one shape."""
    if broadcast_pairs is None:
        broadcast_pairs = _broadcast_gather(cands, sh, n_pairs)
    left = sh.withColumnRenamed("id", "id_1").withColumnRenamed("_sh", "_sh1")
    right = sh.withColumnRenamed("id", "id_2").withColumnRenamed("_sh", "_sh2")
    if broadcast_pairs:
        g1 = left.join(F.broadcast(cands.select("id_1", "id_2")), "id_1")
        g2 = right.join(F.broadcast(cands.select("id_2").distinct()), "id_2")
        j = g1.join(g2, "id_2")
    else:
        j = cands.select("id_1", "id_2").join(left, "id_1").join(right, "id_2")
    return (
        j.withColumn(
            "jaccard",
            F.size(F.array_intersect("_sh1", "_sh2")).cast("double")
            / F.size(F.array_union("_sh1", "_sh2")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_1", "id_2", "jaccard")
    )


def lsh_candidate_probability(s: float, bands: int, rows: int) -> float:
    """P(some band collides | true Jaccard = s) = 1 - (1 - s^rows)^bands —
    the standard LSH S-curve (Leskovec/Rajaraman/Ullman, *Mining of Massive
    Datasets* §3.4.2, public result). Monotone in s; steeper with larger
    ``rows``, shifted left with more ``bands``."""
    return 1.0 - (1.0 - s**rows) ** bands


def plan_lsh(
    threshold: float,
    num_perm: int = 128,
    target_recall: float = 0.99,
    grid: int = 1000,
) -> dict:
    """Choose (bands, rows) for a Jaccard ``threshold`` and recall target.

    Enumerates every exact factorization ``bands * rows == num_perm``
    (the signature UDFs require exact), keeps the plans whose S-curve
    value AT the threshold meets ``target_recall`` — a pair at exactly
    s = threshold is the worst true pair, so p(threshold) lower-bounds
    recall over all pairs with s >= threshold — and among those picks the
    one minimizing the expected false-positive mass
    ``fp_area = ∫_0^threshold p(s) ds`` (midpoint rule on a fixed
    ``grid``: deterministic, no RNG). More bands = higher recall but a
    fatter FP tail feeding the verify stage; this makes the tradeoff a
    computed decision instead of folklore defaults.

    Returns a dict with the chosen ``bands``/``rows``, the achieved
    ``recall_at_threshold``, ``fp_area``, the curve midpoint ``s50``
    (the exact similarity where p(s) = 0.5), and
    ``meets_target``. When NO factorization reaches the target the
    max-recall plan is returned with ``meets_target=False`` — raise
    ``num_perm`` (more bands at the same rows) and re-plan.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if num_perm < 1:
        raise ValueError("num_perm must be >= 1")
    plans = []
    for rows in range(1, num_perm + 1):
        if num_perm % rows:
            continue
        bands = num_perm // rows
        recall = lsh_candidate_probability(threshold, bands, rows)
        # midpoint rule over [0, threshold]
        step = threshold / grid
        ss = (np.arange(grid) + 0.5) * step
        fp_area = float(np.sum(1.0 - (1.0 - ss**rows) ** bands) * step)
        plans.append(
            {
                "bands": bands,
                "rows": rows,
                "recall_at_threshold": float(recall),
                "fp_area": fp_area,
                # exact half-probability midpoint: solve
                # 1-(1-s^r)^b = 0.5 (the old (1/b)^(1/r) approximation
                # returned 0.0 for single-band plans and ~the 63% point
                # elsewhere — session-8 review fix)
                "s50": (1.0 - 0.5 ** (1.0 / bands)) ** (1.0 / rows),
            }
        )
    feasible = [p for p in plans if p["recall_at_threshold"] >= target_recall]
    if feasible:
        best = min(feasible, key=lambda p: (p["fp_area"], p["bands"]))
        best = dict(best, meets_target=True)
    else:
        best = max(plans, key=lambda p: p["recall_at_threshold"])
        best = dict(best, meets_target=False)
    best["num_perm"] = num_perm
    best["threshold"] = threshold
    best["target_recall"] = target_recall
    return best


class MinHashLSH:
    """MinHash/LSH candidate-pair index with exact-Jaccard verification."""

    def __init__(
        self,
        num_perm: int = 128,
        bands: int = 32,
        rows: int = 4,
        shingle_size: int = 3,
        max_bucket_size: int = 2000,
    ):
        if bands * rows != num_perm:
            raise ValueError("num_perm must equal bands * rows")
        self.num_perm, self.bands, self.rows = num_perm, bands, rows
        self.shingle_size = shingle_size
        self.max_bucket_size = max_bucket_size
        self.metrics: dict = {}

    @classmethod
    def from_threshold(
        cls,
        threshold: float,
        num_perm: int = 128,
        target_recall: float = 0.99,
        strict: bool = True,
        **kwargs,
    ) -> "MinHashLSH":
        """Construct with (bands, rows) chosen by :func:`plan_lsh` for the
        given Jaccard ``threshold`` and ``target_recall``. With ``strict``
        (default) an unreachable target raises with the best achievable
        recall in the message instead of silently under-recalling; pass
        ``strict=False`` to take the max-recall plan anyway."""
        plan = plan_lsh(threshold, num_perm=num_perm, target_recall=target_recall)
        if strict and not plan["meets_target"]:
            raise ValueError(
                f"no bands*rows == {num_perm} factorization reaches recall "
                f"{target_recall} at jaccard {threshold}; best is "
                f"{plan['recall_at_threshold']:.4f} with (bands={plan['bands']}, "
                f"rows={plan['rows']}) — raise num_perm or pass strict=False"
            )
        idx = cls(num_perm=num_perm, bands=plan["bands"], rows=plan["rows"], **kwargs)
        idx.plan = plan
        return idx

    # ------------------------------------------------------------------
    def bands_table(self, df: DataFrame, id_col: str, text_col: str) -> DataFrame:
        """``(id, band_key)`` bucket rows (:func:`_band_rows`) — one row
        per non-null, non-empty doc per band (zero-token docs are excluded
        from all dedup signatures, like nulls), signed by the band-only
        kernel. This is the store format :meth:`candidate_pairs_against`
        pairs a new batch against.

        Repartitions the input when it arrives in fewer partitions than the
        cluster has parallelism AND is big enough for the exchange to pay
        off (a single large parquet file otherwise pins the whole
        signature pass to ONE task; a toy input is cheaper unspread —
        textfns.spread_small_input)."""
        udf = make_text_band_udf(
            self.num_perm, self.bands, self.rows, self.shingle_size
        )
        return _band_rows(textfns.spread_small_input(df).select(
            F.col(id_col).alias("id"), udf(F.col(text_col)).alias("bands")
        ))

    def candidate_pairs(self, df: DataFrame, id_col: str, text_col: str,
                        dropped_acc=None) -> DataFrame:
        """Bucket pair generation: ONE shuffle co-locates band rows by
        ``band_key``, a per-partition sort makes buckets contiguous, and a
        vectorized Arrow pass expands in-bucket pairs; then one distinct.

        Why not ``groupBy().collect_list()``: a hash aggregation over
        millions of mostly-singleton group keys costs ~5x the raw shuffle
        (measured 19-23s vs 4.4s for the same 3.2M rows) — the per-group
        object buffers and the sort-fallback dominate. Repartition + sort +
        mapInPandas does the same co-location with plain shuffle machinery
        and expands pairs with closed-form triangular indexing (no per-pair
        Python, no interpreted array lambdas).

        Skew (north_rule): oversize buckets — boilerplate band collisions —
        are dropped (and only ever buffered up to ``max_bucket_size + one
        Arrow batch`` rows thanks to the streaming carry-over), so a
        mega-bucket can neither OOM an executor nor emit O(n^2) pairs. AQE
        handles residual moderate skew.

        The key is the band hash's TOP 32 BITS as int
        (:func:`band_key_expr`): it halves the key bytes in the one big
        shuffle, and a 32-bit key collision merely merges two buckets — it
        can only ADD candidate pairs, which the exact-Jaccard verify
        discards. Cost estimate: at n = 1e9 band rows the
        expected number of colliding ROW PAIRS is ~n^2/2^33 ~ 1e8, i.e.
        ~1-10% extra verify work depending on bucket-size distribution —
        bounded and verify-safe, not free. Recall tradeoff: a merge that
        pushes a combined bucket over max_bucket_size drops ALL of that
        bucket's true pairs; this needs a partner bucket of size > cap/2
        (rare by construction — oversize buckets are boilerplate, already
        dropped) AND a 1/2^32 key collision, so the expected recall loss
        is O(hot_buckets / 2^32) per band — negligible next to the LSH
        miss rate itself."""
        id_type = df.schema[id_col].dataType.simpleString()
        return bucket_pairs(self.bands_table(df, id_col, text_col),
                            ["band_key"], self.max_bucket_size, id_type,
                            dropped_acc=dropped_acc)

    def candidate_pairs_against(
        self,
        new_df: DataFrame,
        store_bands: DataFrame,
        id_col: str,
        text_col: str,
        dropped_acc=None,
    ) -> DataFrame:
        """Incremental LSH for recurring crawls: candidates between a NEW
        batch and an existing ``(id, band_key)`` STORE (a persisted
        :meth:`bands_table` output), plus within-batch candidates — the
        store is never re-paired against itself, so pairing an ongoing
        crawl costs O(|batch| + touched store rows) per day instead of
        re-running the full corpus join. Batch twin of
        ``streaming.foreach_batch_dedup``; both pair through
        :func:`pairs_against_bands`, with the same capped-bucket skew
        contract as :meth:`candidate_pairs`.

        Scale design (10^12-row store): the store is first semi-joined to
        the batch's distinct band keys — with the store written bucketed/
        partitioned by ``band_key`` (Iceberg bucket transform), that scan is
        partition-pruned to the touched buckets; the store never shuffles
        in full. Store keys whose touched-row count exceeds
        ``max_bucket_size`` are dropped (boilerplate protection, counted in
        ``dropped_acc`` per matched row group like the batch expander); the
        cross join then broadcasts whichever side AQE finds small.

        Returns distinct (id_1 > id_2) pairs where at least one side is new.
        """
        # localCheckpoint (lazy): pairs_against_bands consumes new_bands
        # on four plan branches (within-batch expander, hot-key sizing,
        # the anti-join, the cross probe) — without a materialization the
        # fused tokenize+sign Arrow UDF would re-run the whole batch ~4x
        # per action (session-8 review fix; run_incremental avoids this
        # by materializing its signature stage first).
        new_bands = pin(self.bands_table(new_df, id_col, text_col))
        id_type = new_df.schema[id_col].dataType.simpleString()
        return pairs_against_bands(
            new_bands, store_bands, id_type, self.max_bucket_size,
            dropped_acc=dropped_acc,
        )

    def verified_pairs(
        self,
        df: DataFrame,
        id_col: str,
        text_col: str,
        threshold: float = 0.8,
        keep_jaccard: bool = True,
    ) -> DataFrame:
        """Candidates + exact Jaccard over distinct shingle-hash sets,
        filtered at ``threshold`` — the pipeline's ``verified`` stage:
        ONE signing pass (:func:`_signature_frame`) yields both the bands
        and the 32-bit shingle sets, and the verify math is pure JVM
        (array_intersect / array_union)."""
        cfg = EngineConfig(num_perm=self.num_perm, lsh_bands=self.bands,
                           lsh_rows=self.rows, shingle_size=self.shingle_size)
        # lazy pin: the candidates and the shingle table both read the
        # signatures, which must not be signed twice
        sig = pin(_signature_frame(df, cfg, id_col, text_col))
        id_type = df.schema[id_col].dataType.simpleString()
        # eager pin: the gather rule may count the candidate pairs and the
        # broadcast gather reads them twice, in concurrent broadcast jobs;
        # without a materialized pin each read re-runs the shuffle + pair
        # expansion
        cands = pin(bucket_pairs(_band_rows(sig), ["band_key"],
                                 self.max_bucket_size, id_type), eager=True)
        j = exact_jaccard(cands, sig.select("id", F.col("sh").alias("_sh")),
                          threshold)
        cols = ["id_1", "id_2"] + (["jaccard"] if keep_jaccard else [])
        return j.select(*cols)

    def truncation_metrics(self, df: DataFrame, id_col: str, text_col: str) -> dict:
        """Eagerly measure bucket-cap truncation (for the metrics table).

        Buckets are keyed exactly as ``candidate_pairs`` buckets them —
        the TRUNCATED 32-bit ``band_key`` of :meth:`bands_table`: two
        64-bit band hashes that merge under truncation are one real bucket
        at run time, and measuring the un-truncated hash would report
        dropped_buckets=0 for a merged bucket the run actually dropped."""
        sizes = self.bands_table(df, id_col, text_col).groupBy(
            "band_key").agg(F.count("*").alias("_n"))
        row = sizes.agg(
            F.count("*").alias("buckets"),
            F.sum((F.col("_n") > self.max_bucket_size).cast("int")).alias("dropped"),
            F.max("_n").alias("max_bucket"),
        ).collect()[0]
        self.metrics = {
            "buckets": row["buckets"],
            "dropped_buckets": int(row["dropped"] or 0),
            "max_bucket": row["max_bucket"],
        }
        return self.metrics
