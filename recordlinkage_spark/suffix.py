"""Long-span exact-substring dedup via winnowed rolling-hash fingerprints.

Not in the reference (SURVEY.md §2.2 "new") — handles the north rule's
"exact long-span duplicates" clause. A per-partition suffix array cannot
see cross-partition duplicates; the scalable equivalent is document
fingerprinting (Schleimer/Wilkerson/Aiken 2003, "winnowing"):

  text -> tokenize + siphash per token (vectorized, Python-side: see
  textfns module docstring) -> rolling polynomial hash of every
  ``span_tokens``-token window -> winnowing: keep the min hash of each
  ``winnow_window`` consecutive windows -> explode -> equi-join on the
  fingerprint.

Guarantee: any exact common token span of length >= span_tokens +
winnow_window - 1 shares at least one selected fingerprint, so with the
defaults (32, 19) every shared 50-token span is caught — deterministically,
not probabilistically. Optional exact verification computes the true
longest common token run per candidate pair.

The whole kernel is segment-vectorized over the Arrow batch: rolling
hashes, the sliding-window min, and the per-doc distinct each run as ONE
numpy pass over the flat concatenated token stream with doc-boundary
masking — no per-doc Python loop on the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from recordlinkage_spark import textfns
from recordlinkage_spark.caching import pin

_P = np.uint64(1099511628211)  # FNV-ish odd multiplier for the rolling hash


def _doc_window_hashes(flat: np.ndarray, lengths: np.ndarray, span: int):
    """Per-doc ``span``-token rolling window hashes over a flat segmented
    token-hash array, computed in ONE vectorized pass over the whole batch.

    Rolling hash: H_i = P^(i+span-1) * (T_{i+span} - T_i) with
    T_k = sum_{j<k} h_j * P^(-j), all uint64-wraparound (P odd => P
    invertible mod 2^64). H_i depends only on the window's CONTENT —
    global-position exponents cancel — so computing it over the whole
    flat batch and masking windows that cross doc boundaries is exact.

    Returns ``(flat_roll, m, roll_starts, roll_ends, roll_doc)``:
    concatenated per-doc window hashes, windows per doc
    (``max(len - span + 1, 0)``), each doc's segment bounds in
    ``flat_roll``, and the doc id of each window. ``flat_roll`` is None
    when no doc has a full window.
    """
    np.seterr(over="ignore")
    ndocs = len(lengths)
    total = len(flat)
    m = np.maximum(lengths - span + 1, 0)
    M = total - span + 1
    if total == 0 or M <= 0 or not m.any():
        return None, m, None, None, None

    p_inv = np.uint64(pow(int(_P), -1, 2**64))
    invp = np.ones(total, dtype=np.uint64)
    invp[1:] = p_inv
    np.multiply.accumulate(invp, out=invp)               # P^(-i)
    t = np.zeros(total + 1, dtype=np.uint64)
    np.cumsum(flat * invp, out=t[1:])                    # T_k (wraps)
    pw = np.empty(M, dtype=np.uint64)
    pw[0] = _P
    for _ in range(span - 2):                            # P^(span-1)
        pw[0] = pw[0] * _P
    pw[1:] = _P
    np.multiply.accumulate(pw, out=pw)                   # P^(i+span-1)
    roll = pw * (t[span:] - t[:M])

    # keep only windows fully inside one doc
    doc_of = np.repeat(np.arange(ndocs, dtype=np.int64), lengths)
    flat_roll = roll[doc_of[:M] == doc_of[span - 1:]]    # segmented by doc, counts m

    roll_ends = np.cumsum(m)
    roll_starts = roll_ends - m
    roll_doc = np.repeat(np.arange(ndocs, dtype=np.int64), m)
    return flat_roll, m, roll_starts, roll_ends, roll_doc


def winnow_fingerprints_np(flat: np.ndarray, lengths: np.ndarray,
                           span: int, window: int):
    """Winnowed fingerprints per doc over a flat segmented token-hash array.

    Returns ``(vals, counts)``: flat uint64 fingerprints (distinct + sorted
    within each doc) and per-doc counts (0 for docs shorter than ``span``).
    Window hashes come from :func:`_doc_window_hashes`.
    """
    np.seterr(over="ignore")
    ndocs = len(lengths)
    flat_roll, m, roll_starts, roll_ends, roll_doc = _doc_window_hashes(
        flat, lengths, span
    )
    if flat_roll is None:
        return np.empty(0, np.uint64), np.zeros(ndocs, dtype=np.int64)
    sel_counts = np.where(m > window, m - window + 1, (m > 0).astype(np.int64))

    # --- winnowing: per-doc sliding min of width `window` ----------------
    out = np.empty(int(sel_counts.sum()), dtype=np.uint64)
    out_ends = np.cumsum(sel_counts)
    out_starts = out_ends - sel_counts
    W = len(flat_roll) - window + 1
    if W > 0:
        sw_min = np.lib.stride_tricks.sliding_window_view(
            flat_roll, window
        ).min(axis=1)
        pos = np.nonzero(roll_doc[:W] == roll_doc[window - 1:])[0]
        d = roll_doc[pos]
        out[out_starts[d] + (pos - roll_starts[d])] = sw_min[pos]
    # docs with 1 <= m <= window emit ONE fingerprint = min of the
    # segment — vectorized across docs via a segmented gather +
    # reduceat (the per-doc Python loop here dominated batches of
    # span..span+window-1-token docs, a large share of real webtext;
    # session-8 review fix, differentially tested vs the naive kernel)
    short = np.nonzero((m > 0) & (m <= window))[0]
    if len(short):
        Ls = m[short]
        seg_ends = np.cumsum(Ls)
        seg_starts = seg_ends - Ls
        r = np.arange(int(Ls.sum())) - np.repeat(seg_starts, Ls)
        vals = flat_roll[np.repeat(roll_starts[short], Ls) + r]
        out[out_starts[short]] = np.minimum.reduceat(vals, seg_starts)

    # a window minimum usually stays the minimum of the next frames too:
    # drop each run of equal selections before the per-doc distinct,
    # which then sorts a fraction of the frames
    keep = np.ones(len(out), dtype=bool)
    keep[1:] = out[1:] != out[:-1]
    keep[out_starts[sel_counts > 0]] = True  # a run never spans two docs
    kept = np.concatenate(([0], np.cumsum(keep)))
    return textfns.distinct_per_doc_np(out[keep],
                                       kept[out_ends] - kept[out_starts])


def winnow_fingerprint_positions_np(flat: np.ndarray, lengths: np.ndarray,
                                    span: int, window: int):
    """Winnowed fingerprints WITH their window positions — the input the
    span-REMOVAL pass needs (each doc must cut at its own occurrence of a
    duplicated fingerprint, so value-only output isn't enough).

    Selection rule: per winnow frame, the LEFTMOST occurrence of the
    frame's minimum hash. The selected VALUE per frame is the frame min
    either way, so the value set per doc is identical to
    :func:`winnow_fingerprints_np` (differentially tested); repeated
    selections of the same window by overlapping frames collapse via a
    boolean mask over window positions.

    Returns ``(vals, pos, counts)``: flat uint64 fingerprint values, the
    doc-relative TOKEN index of each selected window's first token
    (int64, strictly increasing within a doc), and selections per doc.
    """
    np.seterr(over="ignore")
    ndocs = len(lengths)
    flat_roll, m, roll_starts, roll_ends, roll_doc = _doc_window_hashes(
        flat, lengths, span
    )
    if flat_roll is None:
        return (np.empty(0, np.uint64), np.empty(0, np.int64),
                np.zeros(ndocs, dtype=np.int64))

    sel = np.zeros(len(flat_roll), dtype=bool)
    W = len(flat_roll) - window + 1
    if W > 0:
        frame_argmin = np.lib.stride_tricks.sliding_window_view(
            flat_roll, window
        ).argmin(axis=1)
        pos = np.nonzero(roll_doc[:W] == roll_doc[window - 1:])[0]
        sel[pos + frame_argmin[pos]] = True
    # short docs: leftmost argmin per segment, vectorized like the
    # values kernel (session-8 review fix)
    short = np.nonzero((m > 0) & (m <= window))[0]
    if len(short):
        Ls = m[short]
        seg_ends = np.cumsum(Ls)
        seg_starts = seg_ends - Ls
        r = np.arange(int(Ls.sum())) - np.repeat(seg_starts, Ls)
        vals = flat_roll[np.repeat(roll_starts[short], Ls) + r]
        mins = np.minimum.reduceat(vals, seg_starts)
        rmask = np.where(vals == np.repeat(mins, Ls), r,
                         np.iinfo(np.int64).max)
        first = np.minimum.reduceat(rmask, seg_starts)
        sel[roll_starts[short] + first] = True

    idx = np.nonzero(sel)[0]
    d = roll_doc[idx]
    return (flat_roll[idx], idx - roll_starts[d],
            np.bincount(d, minlength=ndocs).astype(np.int64))


def make_fingerprint_udf(span: int, window: int):
    """pandas UDF: raw text -> array<bigint> winnowed fingerprints
    (distinct). Null text or docs shorter than ``span`` tokens -> null."""

    def batch(texts: pd.Series) -> pd.Series:
        flat, lengths, isna = textfns.flat_token_hashes_np(texts)
        vals, counts = winnow_fingerprints_np(flat, lengths, span, window)
        res = textfns.segments_to_series(vals, counts, isna)
        # too-short docs -> null (explode drops empties anyway; null keeps
        # the historical contract)
        res[(counts == 0) & ~isna] = None
        return res

    # see minhash.make_text_band_udf: prevents duplicate evaluation on pushdown
    return F.pandas_udf(batch, ArrayType(LongType())).asNondeterministic()


def _lcrun_scalar(a: np.ndarray, b: np.ndarray) -> int:
    """Per-pair longest-common-contiguous-run DP — the original
    verified_pairs kernel, retained as the differential oracle for
    :func:`longest_common_run_batch_np` (tests/test_np_kernels.py)."""
    prev = np.zeros(len(b) + 1, dtype=np.int64)
    best = 0
    for x in range(1, len(a) + 1):
        cur = np.zeros(len(b) + 1, dtype=np.int64)
        eq = b == a[x - 1]
        cur[1:][eq] = prev[:-1][eq] + 1
        mx = cur.max() if len(cur) else 0
        if mx > best:
            best = int(mx)
        prev = cur
    return best


# Row budget per DP rectangle: bounds peak pad-matrix memory to
# ~2 * _LCR_CHUNK_ELEMS int64 cells regardless of batch shape.
_LCR_CHUNK_ELEMS = 1 << 23


def _lcr_rect(t1, t2, idx, la, lb, out):
    """Rectangle DP over the pair subset ``idx`` (near-uniform lengths by
    construction — see caller): one Python step per left row index, each a
    ``(rows, Lb)`` compare + shifted add, with validity masks rather than
    pad sentinels (token hashes span the full int64 range, so no pad value
    is collision-free)."""
    La = int(la[idx].max())
    Lb = int(lb[idx].max())
    if La == 0 or Lb == 0:
        return
    rows_per_chunk = max(1, _LCR_CHUNK_ELEMS // (La + Lb))
    for c0 in range(0, len(idx), rows_per_chunk):
        sub = idx[c0:c0 + rows_per_chunk]
        n = len(sub)
        A = np.zeros((n, La), dtype=np.int64)
        B = np.zeros((n, Lb), dtype=np.int64)
        for j, i in enumerate(sub):
            if la[i]:
                A[j, :la[i]] = np.asarray(t1.iloc[i], dtype=np.int64)
            if lb[i]:
                B[j, :lb[i]] = np.asarray(t2.iloc[i], dtype=np.int64)
        b_valid = np.arange(Lb)[None, :] < lb[sub][:, None]
        prev = np.zeros((n, Lb + 1), dtype=np.int64)
        cur = np.zeros((n, Lb + 1), dtype=np.int64)
        best = np.zeros(n, dtype=np.int64)
        for x in range(La):
            eq = (B == A[:, x][:, None]) & b_valid & (x < la[sub])[:, None]
            cur[:, 1:] = np.where(eq, prev[:, :-1] + 1, 0)
            np.maximum(best, cur[:, 1:].max(axis=1), out=best)
            prev, cur = cur, prev
        out[sub] = best


def longest_common_run_batch_np(t1: pd.Series, t2: pd.Series) -> np.ndarray:
    """Longest common contiguous token run per pair, with the DP rows
    vectorized ACROSS the Arrow batch instead of per pair.

    Web corpora are heavily length-skewed, and a single padded rectangle
    over the whole batch does ``n * max(la) * max(lb)`` work — one
    2000-token pair among 500 short ones made the naive batch form ~190x
    SLOWER than the per-pair loop (review finding, session 6). So pairs
    are bucketed by the power-of-2 class of (len_a, len_b) and each
    bucket gets its own rectangle (:func:`_lcr_rect`): within a bucket no
    side exceeds 2x its minimum, so pad waste is bounded at 4x of the
    exact ``sum(la_i * lb_i)`` work, while uniform batches keep the full
    vectorization win (7.7x at 50-100-token docs). A lone giant pair
    lands in its own bucket at ~scalar cost; rectangles are row-chunked
    so pad matrices stay under ~128 MB. Null/empty token arrays -> 0.
    """
    n = len(t1)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    la = np.array([0 if v is None else len(v) for v in t1], dtype=np.int64)
    lb = np.array([0 if v is None else len(v) for v in t2], dtype=np.int64)
    nonzero = (la > 0) & (lb > 0)
    if not nonzero.any():
        return out
    # power-of-2 length class per side -> one rectangle per class pair
    bits_a = np.zeros(n, dtype=np.int64)
    bits_b = np.zeros(n, dtype=np.int64)
    m = la > 0
    bits_a[m] = np.ceil(np.log2(la[m] + 1)).astype(np.int64)
    m = lb > 0
    bits_b[m] = np.ceil(np.log2(lb[m] + 1)).astype(np.int64)
    key = bits_a * 64 + bits_b
    key[~nonzero] = -1
    for k in np.unique(key):
        if k < 0:
            continue
        _lcr_rect(t1, t2, np.nonzero(key == k)[0], la, lb, out)
    return out


def make_fingerprint_pos_udf(span: int, window: int):
    """pandas UDF: raw text -> struct(fps: array<bigint>, poss:
    array<bigint>) — winnowed fingerprints WITH doc-relative token
    positions (parallel arrays; zip + explode JVM-side). Null text ->
    null struct fields; docs shorter than ``span`` tokens -> empty."""
    from pyspark.sql.types import StructField, StructType

    ret = StructType([
        StructField("fps", ArrayType(LongType())),
        StructField("poss", ArrayType(LongType())),
    ])

    def batch(texts: pd.Series) -> pd.DataFrame:
        flat, lengths, isna = textfns.flat_token_hashes_np(texts)
        vals, pos, counts = winnow_fingerprint_positions_np(
            flat, lengths, span, window
        )
        return pd.DataFrame({
            "fps": textfns.segments_to_series(vals, counts, isna),
            "poss": textfns.segments_to_series(pos, counts, isna),
        })

    # see minhash.make_text_band_udf: prevents duplicate evaluation on pushdown
    return F.pandas_udf(batch, ret).asNondeterministic()


def make_token_hash_udf():
    """pandas UDF: raw text -> array<bigint> per-token hashes (ordered,
    non-distinct) — input for exact longest-common-run verification."""

    def batch(texts: pd.Series) -> pd.Series:
        flat, lengths, isna = textfns.flat_token_hashes_np(texts)
        return textfns.segments_to_series(flat, lengths, isna)

    return F.pandas_udf(batch, ArrayType(LongType())).asNondeterministic()


class FingerprintSubstring:
    """Exact long-span duplicate pass."""

    def __init__(self, span_tokens: int = 32, winnow_window: int = 19,
                 max_bucket_size: int = 2000):
        self.span_tokens = span_tokens
        self.winnow_window = winnow_window
        self.max_bucket_size = max_bucket_size

    def fingerprints(self, df: DataFrame, id_col: str, text_col: str) -> DataFrame:
        df = textfns.spread_small_input(df)
        udf = make_fingerprint_udf(self.span_tokens, self.winnow_window)
        fp = df.select(
            F.col(id_col).alias("id"), udf(F.col(text_col)).alias("_fps")
        ).filter(F.col("_fps").isNotNull())
        return fp.select("id", F.explode("_fps").alias("fp"))

    def candidate_pairs(self, df: DataFrame, id_col: str, text_col: str,
                        dropped_acc=None) -> DataFrame:
        """One shuffle on the fingerprint key + sorted Arrow pair expansion
        (shared machinery with the LSH pass — see minhash.bucket_pairs);
        oversize fingerprint buckets (ubiquitous boilerplate spans) are
        dropped streaming, bounding both memory and pair fan-out.
        ``dropped_acc``: optional accumulator counting dropped buckets."""
        from recordlinkage_spark.minhash import bucket_pairs

        fps = self.fingerprints(df, id_col, text_col)
        id_type = df.schema[id_col].dataType.simpleString()
        return bucket_pairs(fps, ["fp"], self.max_bucket_size, id_type,
                            dropped_acc=dropped_acc)

    def verified_pairs(self, df: DataFrame, id_col: str, text_col: str,
                       min_span: int | None = None) -> DataFrame:
        """Candidates + exact longest-common-token-run verification
        (:func:`longest_common_run_batch_np` — DP rows vectorized across
        the whole Arrow batch, not per pair)."""
        # `is not None`, not `or`: an explicit min_span=0 means "all
        # candidate pairs with their true common span" (session-8 fix)
        min_span = min_span if min_span is not None else self.span_tokens
        cands = self.candidate_pairs(df, id_col, text_col)
        # localCheckpoint (lazy), NOT persist: toks is consumed by both
        # join branches (avoids re-tokenizing each doc once per probed
        # pair), and checkpoint blocks are ContextCleaner-collected once
        # the returned DataFrame is unreferenced — persist() here leaked
        # one CacheManager entry (full token-hash arrays) per call for
        # the session lifetime (session-8 review fix, same recipe as
        # remove_duplicate_spans).
        tok_udf = make_token_hash_udf()
        # size-gated spread of the tokenize pass (same recipe as
        # fingerprints / remove_duplicate_spans, r6)
        toks = pin(textfns.spread_small_input(df).select(
            F.col(id_col).alias("id"), tok_udf(F.col(text_col)).alias("_t")
        ))
        joined = (
            cands.join(toks.withColumnRenamed("id", "id_1").withColumnRenamed("_t", "_t1"), "id_1")
            .join(toks.withColumnRenamed("id", "id_2").withColumnRenamed("_t", "_t2"), "id_2")
        )

        def lcrun(t1: pd.Series, t2: pd.Series) -> pd.Series:
            return pd.Series(longest_common_run_batch_np(t1, t2))

        udf = F.pandas_udf(lcrun, LongType())
        return (
            joined.withColumn("common_span", udf("_t1", "_t2"))
            .filter(F.col("common_span") >= min_span)
            .select("id_1", "id_2", "common_span")
        )


def cut_token_spans_np(texts: pd.Series, cuts: pd.Series, span: int):
    """Delete the ``span``-token window starting at each cut position from
    each text (positions are token indices under the engine tokenizer,
    :func:`textfns.token_bounds_np`). Overlapping windows merge; deleted
    bytes run from the first token's first byte to the last token's last
    byte, so the surrounding whitespace survives (deterministic, and the
    remaining tokens are byte-identical to their originals).

    Returns ``(texts, n_spans, n_tokens)`` numpy/object arrays: the edited
    text (None where input was null), merged spans deleted, tokens
    deleted. Per-doc Python loop by design — callers only pass AFFECTED
    docs (a small fraction of any real corpus); within a doc the merge is
    numpy."""
    data, offs, starts, ends, lengths, isna = textfns.token_bounds_np(texts)
    tok_bounds = np.searchsorted(starts, offs)
    n = len(texts)
    out_text = np.empty(n, dtype=object)
    n_spans = np.zeros(n, dtype=np.int64)
    n_tokens = np.zeros(n, dtype=np.int64)
    for i in range(n):
        if isna[i]:
            out_text[i] = None
            continue
        ps = cuts.iloc[i]
        if ps is None or len(ps) == 0:
            out_text[i] = texts.iloc[i]
            continue
        t0, t1 = tok_bounds[i], tok_bounds[i + 1]
        L = t1 - t0
        ps = np.unique(np.asarray(ps, dtype=np.int64))  # sorted
        ps = ps[(ps >= 0) & (ps < L)]
        if len(ps) == 0:
            out_text[i] = texts.iloc[i]
            continue
        starts_t = ps
        ends_t = np.minimum(ps + span, L)
        # merge overlapping/adjacent token ranges: a range is a new merged
        # span iff it starts past the running max end of its predecessors
        run_end = np.maximum.accumulate(ends_t)
        new_span = np.ones(len(ps), dtype=bool)
        new_span[1:] = starts_t[1:] > run_end[:-1]
        m_start = starts_t[new_span]
        m_end = np.maximum.reduceat(ends_t, np.nonzero(new_span)[0])
        # byte surgery (doc-relative)
        lo = offs[i]
        dbytes = data[offs[i]:offs[i + 1]]
        keep = []
        prev = 0
        for s, e in zip(m_start, m_end):
            keep.append(dbytes[prev:starts[t0 + s] - lo])
            prev = ends[t0 + e - 1] - lo
        keep.append(dbytes[prev:])
        out_text[i] = b"".join(p.tobytes() for p in keep).decode("utf-8")
        n_spans[i] = len(m_start)
        n_tokens[i] = int((m_end - m_start).sum())
    return out_text, n_spans, n_tokens


def make_span_cut_udf(span: int):
    """pandas UDF: (text, array<bigint> cut positions) -> struct(text:
    string, cut_spans: int, cut_tokens: bigint) via
    :func:`cut_token_spans_np`."""
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    ret = StructType([
        StructField("text", StringType()),
        StructField("cut_spans", IntegerType()),
        StructField("cut_tokens", LongType()),
    ])

    def batch(texts: pd.Series, cuts: pd.Series) -> pd.DataFrame:
        out, n_spans, n_tokens = cut_token_spans_np(texts, cuts, span)
        return pd.DataFrame({
            "text": out,
            "cut_spans": n_spans.astype(np.int32),
            "cut_tokens": n_tokens,
        })

    return F.pandas_udf(batch, ret).asNondeterministic()


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 32,
    winnow_window: int = 19,
    keep_one: bool = True,
    max_fp_occurrences: int | None = 10_000,
) -> DataFrame:
    """Exact-substring span REMOVAL — the corpus transformation half of
    the long-span pass (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better", ExactSubstr: when a long token span
    occurs more than once in the corpus, delete all but one occurrence
    from the training text). :meth:`FingerprintSubstring.verified_pairs`
    reports WHICH docs share spans; this edits the text.

    Semantics: every winnow-selected fingerprint (value selected at >= 2
    occurrences corpus-wide, within or across docs) has all occurrences
    beyond the globally-first (min ``(id, pos)``) deleted — each deletion
    cuts that occurrence's ``span_tokens``-token window from its doc
    (``keep_one=False`` deletes ALL occurrences). By the winnowing
    guarantee, any two docs sharing an exact run of
    ``span_tokens + winnow_window - 1`` tokens both select a common
    fingerprint inside the run, so after removal at most one of them
    still contains the run intact. Conservative by construction: when the
    keeper occurrence of a value sits outside a shared run, both in-run
    copies are cut (over-removal, never under-removal); a 64-bit
    fingerprint collision likewise only ADDS a cut (probability ~
    n_selected^2 / 2^64). Docs shorter than ``span_tokens`` tokens and
    null texts pass through untouched.

    Returns ``df`` with ``text_col`` rewritten plus ``cut_spans`` (int,
    merged spans deleted) and ``cut_tokens`` (long) per row.

    ``max_fp_occurrences``: fingerprints selected at MORE than this many
    occurrences corpus-wide are boilerplate (a nav bar shared by 10^9
    pages), not document duplication — they are excluded from removal,
    the same skew policy as ``candidate_pairs``' ``max_bucket_size``
    bucket drop (boilerplate is ``webtext.line_dedup``'s job; cutting it
    here would rewrite a large fraction of the corpus through the Python
    surgery path and blow the "cut lists are tiny" scale contract).
    ``None`` disables the cap.

    Scale design (100 TB):

    - ONE pass computes fingerprints + positions (the winnowing Arrow
      kernel, ~2/(winnow_window+1) selections per token).
    - Occurrence counting + global-first selection is a ``groupBy(fp)``
      aggregate, NOT a window: count and min(struct) both combine
      map-side, so a hot boilerplate fingerprint is absorbed by partial
      aggregation instead of funneling every occurrence into one window
      task (session-6 review fix). The aggregate is filtered to
      2 <= count <= max_fp_occurrences BEFORE joining back to the
      occurrence table, so the join's build side holds genuinely
      duplicated fingerprints only (AQE broadcasts it when small and
      skew-splits the probe side otherwise).
    - The per-doc cut-list aggregation shuffles matched rows only.
    - The corpus joins the (small, affected-docs-only) cut-list table
      twice — inner for affected rows, anti for the rest — so the
      surgery UDF Arrow-transfers AFFECTED docs only and the corpus
      side never shuffles (AQE broadcasts the cut lists; at realistic
      duplication rates they are orders of magnitude below corpus
      size).
    """
    fp_udf = make_fingerprint_pos_udf(span_tokens, winnow_window)
    # Parallelize the winnowing pass when the input is under-partitioned
    # AND big enough for the exchange to pay off (r6 finding: the pass
    # ran single-task on one-file inputs at any size — but force-
    # spreading a toy input costs more than the kernel, so the spread is
    # size-gated; textfns.spread_small_input). Only the Python-heavy occ
    # branch is repartitioned — the surgery joins keep the caller's df.
    occ_src = textfns.spread_small_input(df)
    # localCheckpoint (lazy): occ is SELF-joined below (the probe side of
    # `removals` and the aggregate feeding `dup_fps` are both occ), and
    # Spark plans self-joins as two independent subtrees — without the
    # checkpoint the dominant winnowing ArrowEvalPython pass over the
    # whole corpus executes twice inside the cut-list job (session-8
    # review fix; the cut_lists checkpoint below only dedupes the two
    # CONSUMER joins, not this inner self-join).
    occ = pin(
        occ_src.select(F.col(id_col).alias("id"), fp_udf(F.col(text_col)).alias("_s"))
        .filter(F.size("_s.fps") > 0)
        .select("id", F.explode(F.arrays_zip("_s.fps", "_s.poss")).alias("z"))
        .select("id", F.col("z.fps").alias("fp"), F.col("z.poss").alias("pos"))
    )
    dup_cond = F.col("_cnt") >= 2
    if max_fp_occurrences is not None:
        dup_cond = dup_cond & (F.col("_cnt") <= max_fp_occurrences)
    dup_fps = (
        occ.groupBy("fp")
        .agg(
            F.count("*").alias("_cnt"),
            F.min(F.struct("id", "pos")).alias("_first"),
        )
        .filter(dup_cond)
        .select("fp", "_first")
    )
    removals = occ.join(dup_fps, "fp")
    if keep_one:
        removals = removals.filter(
            (F.col("id") != F.col("_first.id"))
            | (F.col("pos") != F.col("_first.pos"))
        )
    # renamed join key: cut_lists derives from df, so joining on a shared
    # column object would be a self-join ambiguity. localCheckpoint
    # (lazy): both the inner and the anti join below consume this table —
    # without it each branch would recompute the full winnowing pass over
    # the corpus (verified by .explain: two ArrowEvalPython subtrees),
    # doubling the dominant cost. localCheckpoint rather than persist():
    # checkpoint blocks are dropped by the ContextCleaner once the
    # returned DataFrame is unreferenced, so repeated calls don't
    # accumulate CacheManager entries for the session lifetime
    # (session-6 review fix).
    cut_lists = pin(removals.groupBy("id").agg(
        F.sort_array(F.collect_set("pos")).alias("_cuts")
    ).withColumnRenamed("id", "_cut_id"))

    key = F.col(id_col) == F.col("_cut_id")
    cut_udf = make_span_cut_udf(span_tokens)
    affected = (
        df.join(cut_lists, key, "inner")
        .drop("_cut_id")
        .withColumn("_r", cut_udf(F.col(text_col), F.col("_cuts")))
        .drop("_cuts")
        .withColumn(text_col, F.col("_r.text"))
        .withColumn("cut_spans", F.col("_r.cut_spans"))
        .withColumn("cut_tokens", F.col("_r.cut_tokens"))
        .drop("_r")
    )
    untouched = (
        df.join(cut_lists, key, "left_anti")
        .withColumn("cut_spans", F.lit(0))
        .withColumn("cut_tokens", F.lit(0).cast("long"))
    )
    return untouched.unionByName(affected)
