"""Text analysis column functions for the webtext pipeline.

Two layers:

1. JVM column functions (whole-stage codegen): tokenization, language-ID,
   quality scoring, token counting, exact fingerprints — cheap per-row
   expressions that stay JVM-side.
2. Vectorized numpy kernels (``*_np``) consumed by the pandas UDFs of the
   dedup passes (MinHash / SimHash / winnowing). Spark's higher-order array
   expressions (``transform``/``aggregate`` lambdas) are *interpreted*, not
   codegen'd. Historical note: the original ~35x JVM-vs-Arrow shingling gap
   that motivated the fused UDFs was mostly the lambda-capture O(tokens^2)
   pathology since fixed by :func:`bind_once`; re-measured post-fix
   (200k docs x 100-400 tokens, identical 47.5M distinct shingles), the
   pure-JVM tokenize+shingle+xxhash64 stage is 2.0x the Arrow pass —
   interpreted-lambda overhead only. The fused Arrow passes remain the hot
   path because the FULL signature work (128 MinHash permutations, banding,
   winnowing) is one numpy batch there, while JVM expressions would
   interpret 128 lambda evaluations per shingle; the JVM layer sees only
   the (tiny) signature outputs.
"""

from __future__ import annotations

import os
from itertools import chain

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from recordlinkage_spark.caching import pin

_U13, _U51 = np.uint64(13), np.uint64(51)


def plan_size_bytes(df) -> int | None:
    """The optimizer's size estimate of ``df`` in bytes, read from the
    optimized logical plan (driver-side, runs no job); None when the plan
    has no estimate (stats Long.Max or unavailable)."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    return size if 0 <= size < 2**63 - 1 else None


def advisory_partition_bytes(spark) -> int:
    """``spark.sql.adaptive.advisoryPartitionSizeInBytes`` in bytes: the
    partition size AQE coalesces shuffles toward."""
    return spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils \
        .byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))


def spread_small_input(df, min_bytes: int | None = None):
    """Shape a DataFrame feeding the vectorized text kernels (MinHash /
    SimHash / winnowing signature UDFs) to whole waves of Python tasks,
    using the optimizer's size estimate (optimized logical plan:
    driver-side, no job). Three cases, by partition count ``n`` against
    the cluster's default parallelism ``dp``:

    - ``n < dp``: repartition to ``dp`` UNLESS the estimate is at most
      ``min_bytes`` (default: ``SPARK_GRAFT_SPREAD_BYTES``, else 4 MB;
      read on every call, so a driver may set it after importing this
      module). A one-file scan or small cached table arrives as a single
      partition, which at real size would serialize the whole pass on
      one task — but at toy size the round-robin exchange plus ``dp``
      Python-worker handshakes cost MORE than the single-task kernel
      (measured in round 6: shape the job to the data). Unknown
      estimates (stats Long.Max) spread, so a missing statistic costs
      extra parallelism, never a serialized pass.
    - ``n > dp`` and the estimate fits one advisory partition
      (``spark.sql.adaptive.advisoryPartitionSizeInBytes``) per slot:
      coalesce, without a shuffle, to ``dp`` partitions — one whole
      wave. Every Python task pays a fixed cost before its first row:
      pyspark's reused worker calls ``importlib.invalidate_caches()``
      before each task (``worker_util.setup_spark_files``), which
      re-reads ``pyspark.zip``'s directory once per zip importer. A
      trivial pandas UDF over 2000 cached rows on ``local[4]`` (4-vCPU
      VM) took 0.36 / 0.41-0.49 / 0.78-0.88 / 1.37-1.60 s at 1 / 4 / 8
      / 16 partitions: each extra wave adds ~0.4 s, and a partial wave
      costs as much as a full one. The web signature UDF over a cached
      corpus in 9 even partitions, to a noop sink, medians of 5
      alternating runs, 9 tasks -> coalesced 4: 1.23 -> 0.75 s at 2120
      docs (4 MB estimate), 2.97 -> 2.58 s at 20k docs (38 MB), 9.63 ->
      8.53 s at 80k docs (154 MB; the cap on ``local[4]`` is 256 MB).
      Skewed partitions were not measured: a coalesced task cannot
      hand its share to an idle slot.
    - otherwise the input is returned as is.
    """
    dp = df.sparkSession.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    if n == dp:
        return df
    size = plan_size_bytes(df)
    if n > dp:
        fits = (size is not None
                and size <= dp * advisory_partition_bytes(df.sparkSession))
        return df.coalesce(dp) if fits else df
    # estimates are compressed/layout bytes, so the default is small
    limit = (int(os.environ.get("SPARK_GRAFT_SPREAD_BYTES", 4 << 20))
             if min_bytes is None else min_bytes)
    if size is not None and size <= limit:
        return df
    return df.repartition(dp)


def _rot13_xor_np(acc: np.ndarray, h) -> np.ndarray:
    """uint64 rotate-left-13 then xor — the order-sensitive hash combine
    of :func:`gram_hashes_np`."""
    return ((acc << _U13) | (acc >> _U51)) ^ h


_TOK_P = np.uint64(0x100000001B3)  # FNV prime (odd -> invertible mod 2^64)
_TOK_CHUNK = 65536                 # byte-level cache block
_WS_TABLE = np.zeros(256, dtype=bool)
_WS_TABLE[[9, 10, 11, 12, 13, 32]] = True  # ASCII whitespace

# P^k and P^-k tables up to one chunk (+1); tokens longer than a chunk are
# impossible because chunks are cut at token boundaries and a single token
# larger than _TOK_CHUNK falls back to a dedicated chunk of its own length.
_tok_pw_cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}


def _tok_tables(n: int):
    got = _tok_pw_cache.get(0)
    if got is None or len(got[0]) < n + 1:
        np.seterr(over="ignore")
        size = max(n + 1, _TOK_CHUNK + 2)
        pw = np.empty(size, dtype=np.uint64)
        pw[0] = 1
        pw[1:] = _TOK_P
        np.multiply.accumulate(pw, out=pw)
        p_inv = np.uint64(pow(int(_TOK_P), -1, 2**64))
        invp = np.empty(size, dtype=np.uint64)
        invp[0] = 1
        invp[1:] = p_inv
        np.multiply.accumulate(invp, out=invp)
        _tok_pw_cache[0] = (pw, invp)
    return _tok_pw_cache[0]


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64-style finalizer (in place): spreads the polynomial byte
    hash so MinHash's multiply-shift family sees uniform input."""
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    return h


def token_bounds_np(texts: pd.Series):
    """Tokenize one Arrow batch of text, byte-level vectorized — the
    boundary half of :func:`flat_token_hashes_np`, exposed so operators
    that edit text (``suffix.remove_duplicate_spans``) cut at exactly the
    token boundaries the dedup hashes were computed over.

    Returns ``(data, offs, starts, ends, lengths, isna)``:
    ``data`` — the batch's contiguous UTF-8 bytes; ``offs`` — int64 doc
    byte offsets into ``data`` (len ndocs+1); ``starts``/``ends`` —
    global byte offsets of each token (end exclusive), all docs
    concatenated; ``lengths`` — tokens per doc (0 for null/empty);
    ``isna`` — bool mask of null texts.

    Tokens are maximal runs of non-ASCII-whitespace bytes. Multi-byte
    UTF-8 code units are never split: continuation bytes are >= 0x80,
    so a token boundary always falls on an ASCII whitespace byte.
    """
    np.seterr(over="ignore")
    import pyarrow as pa

    arr = pa.Array.from_pandas(texts, type=pa.large_string())
    isna = np.zeros(len(texts), dtype=bool)
    if arr.null_count:
        isna = ~np.asarray(arr.is_valid())
    null_buf, off_buf, data_buf = arr.buffers()
    offs = np.frombuffer(off_buf, dtype=np.int64, count=len(arr) + 1,
                         offset=arr.offset * 8)
    base = offs[0]
    data = np.frombuffer(data_buf, dtype=np.uint8, count=int(offs[-1] - base),
                         offset=int(base))
    offs = (offs - base).astype(np.int64)
    # Arrow permits a null slot to carry a non-empty byte span (sliced or
    # externally-built arrays). Our segment math assumes null => empty
    # span; a violation would silently misalign every later doc's hash
    # segment, so fail loud instead. (pa.Array.from_pandas never produces
    # such spans today.)
    if arr.null_count and (offs[1:][isna] != offs[:-1][isna]).any():
        raise ValueError(
            "null text slots with non-empty byte spans are not supported"
        )
    ndocs = len(arr)
    N = len(data)
    if N == 0:
        return (data, offs, np.empty(0, np.int64), np.empty(0, np.int64),
                np.zeros(ndocs, dtype=np.int64), isna)

    ws = _WS_TABLE[data]
    # boundary flags: position i starts a token iff non-ws and (i is a doc
    # start or previous byte is ws); ends at i iff non-ws and (next byte is
    # ws or i is a doc end)
    prev_ws = np.empty(N, dtype=bool)
    prev_ws[0] = True
    prev_ws[1:] = ws[:-1]
    next_ws = np.empty(N, dtype=bool)
    next_ws[-1] = True
    next_ws[:-1] = ws[1:]
    doc_bounds = offs[(offs > 0) & (offs < N)]
    prev_ws[doc_bounds] = True
    next_ws[doc_bounds - 1] = True
    starts = np.nonzero(~ws & prev_ws)[0]
    ends = np.nonzero(~ws & next_ws)[0] + 1  # exclusive

    if len(starts) == 0:
        return data, offs, starts, ends, np.zeros(ndocs, dtype=np.int64), isna
    # tokens per doc: one searchsorted of the (few) doc offsets into the
    # (many) token starts — NOT per-token lookups
    lengths = np.diff(np.searchsorted(starts, offs)).astype(np.int64)
    lengths[isna] = 0  # null slots have empty spans anyway; belt+braces
    return data, offs, starts, ends, lengths, isna


def flat_token_hashes_np(texts: pd.Series):
    """Tokenize + hash one Arrow batch of text, byte-level vectorized.

    Returns ``(flat, lengths, isna)``: ``flat`` — uint64 hash per token,
    all docs concatenated; ``lengths`` — tokens per doc (0 for
    null/empty); ``isna`` — bool mask of null texts.

    Zero per-token Python objects: token boundaries come from
    :func:`token_bounds_np` (vectorized byte masks over the contiguous
    Arrow buffer), and each token's hash is a rolling polynomial over its
    bytes computed from cache-blocked prefix sums (same inverse-power
    trick as the winnowing kernel — chunk-relative exponents cancel),
    finished with a splitmix64 mix. The previous object-based path
    (str.split + pd.util.hash_array) touched ~15x more memory per token
    and its allocator churn inverted scaling at high worker counts.
    """
    np.seterr(over="ignore")
    data, offs, starts, ends, lengths, isna = token_bounds_np(texts)
    n_tok = len(starts)
    if n_tok == 0:
        return np.empty(0, np.uint64), lengths, isna
    N = len(data)

    # --- chunked rolling-polynomial hash over token byte spans ----------
    max_tok = int((ends - starts).max())
    pw, invp = _tok_tables(max_tok)
    out = np.empty(n_tok, dtype=np.uint64)
    t_buf = np.empty(min(N, max(_TOK_CHUNK, max_tok)) + 1, dtype=np.uint64)
    k0 = 0
    while k0 < n_tok:
        c0 = starts[k0]
        # widest token range whose bytes fit the chunk (>=1 token always)
        k1 = int(np.searchsorted(ends, c0 + max(_TOK_CHUNK, ends[k0] - c0),
                                 side="right"))
        k1 = max(k1, k0 + 1)
        c1 = ends[k1 - 1]
        seg = data[c0:c1]
        t = t_buf[: len(seg) + 1]
        t[0] = 0
        np.cumsum(seg * invp[: len(seg)], out=t[1:])  # T_rel (wraps)
        s = starts[k0:k1] - c0
        e = ends[k0:k1] - c0
        # H = P^(e-1) * (T[e] - T[s]) with chunk-relative exponents: the
        # global offset cancels, so any token-aligned chunking is exact
        out[k0:k1] = pw[e - 1] * (t[e] - t[s])
        k0 = k1
    return _mix64(out), lengths, isna


def gram_hashes_np(flat: np.ndarray, lengths: np.ndarray, n: int):
    """Word-n-gram hashes per doc over the flat token-hash array.

    A doc with ``len > n`` emits ``len-n+1`` position-order grams (NOT
    deduped — call :func:`distinct_per_doc_np` when set semantics are
    needed); a doc with ``0 <= len <= n`` emits ONE hash folding all
    tokens from 0 (empty doc -> [0]) so short docs still index. Each gram
    rolls rot13-xor over the caller's token hashes, so a pass must verify
    candidates against shingles produced by the SAME kernel (string
    shingles such as :func:`word_shingles` do not match these hashes).
    Null docs (length 0 *and* masked by the caller) are the caller's
    business — here len==0 emits [0].

    Returns ``(grams, counts)``: flat uint64 grams + per-doc gram counts.
    """
    ndocs = len(lengths)
    ends = np.cumsum(lengths)
    starts = ends - lengths
    out_counts = np.where(lengths > n, lengths - n + 1, 1)
    out = np.empty(int(out_counts.sum()), dtype=np.uint64)
    out_ends = np.cumsum(out_counts)
    out_starts = out_ends - out_counts

    total = len(flat)
    m = total - (n - 1)
    if m > 0 and ndocs:
        g = flat[:m].copy()
        for j in range(1, n):
            g = _rot13_xor_np(g, flat[j : j + m])
        doc_of = np.repeat(np.arange(ndocs, dtype=np.int64), lengths)
        valid = doc_of[:m] == doc_of[n - 1 :]
        pos = np.nonzero(valid)[0]
        d = doc_of[pos]
        out[out_starts[d] + (pos - starts[d])] = g[pos]

    # Short docs (< n tokens) fold all their tokens into one gram. The
    # fold is vectorized ACROSS docs with one step per token POSITION
    # (at most n-1 steps total) — a per-doc per-token Python loop here
    # degraded title/anchor-heavy corpora to interpreter speed (session-8
    # review fix). Docs with exactly n tokens are already written by the
    # windowed branch above (its n-token fold from g=x0 equals the
    # from-zero fold since rotl(0)^x0 == x0), so they are excluded
    # instead of being recomputed.
    short = np.nonzero(lengths < n)[0]
    if len(short):
        s_starts = starts[short]
        s_lens = lengths[short]
        acc = np.zeros(len(short), dtype=np.uint64)
        for j in range(int(s_lens.max()) if len(s_lens) else 0):
            live = s_lens > j
            acc[live] = _rot13_xor_np(acc[live], flat[s_starts[live] + j])
        out[out_starts[short]] = acc
    return out, out_counts


def distinct_per_doc_np(vals: np.ndarray, counts: np.ndarray):
    """Per-doc distinct of a flat segmented array. Returns (vals, counts)
    with each doc's segment sorted + deduped (no per-doc loop).

    Unsigned values of at most 32 bits (the verify shingle set) pack with
    their doc index into one uint64 key and sort once, instead of the
    two-key lexsort wider values take."""
    ndocs = len(counts)
    if vals.dtype.kind == "u" and vals.dtype.itemsize <= 4:
        key = np.repeat(np.arange(ndocs, dtype=np.uint64) << np.uint64(32),
                        counts)
        key |= vals
        key.sort()
        keep = np.ones(len(key), dtype=bool)
        keep[1:] = key[1:] != key[:-1]
        key = key[keep]
        new_counts = np.bincount((key >> np.uint64(32)).astype(np.int64),
                                 minlength=ndocs)
        return key.astype(vals.dtype), new_counts.astype(np.int64)
    doc = np.repeat(np.arange(ndocs, dtype=np.int64), counts)
    order = np.lexsort((vals, doc))
    sv, sd = vals[order], doc[order]
    keep = np.ones(len(sv), dtype=bool)
    if len(sv) > 1:
        keep[1:] = (sv[1:] != sv[:-1]) | (sd[1:] != sd[:-1])
    new_counts = np.bincount(sd[keep], minlength=ndocs)
    return sv[keep], new_counts.astype(np.int64)


def segments_to_series(vals: np.ndarray, counts: np.ndarray, isna: np.ndarray,
                       view_dtype=np.int64) -> pd.Series:
    """Pack a flat segmented array back into a Series of per-doc arrays
    (None where isna), reinterpreted as ``view_dtype`` (int64 for the
    bigint columns, int32 for the truncated shingle sets)."""
    bounds = np.cumsum(counts)[:-1]
    segs = np.split(vals.view(view_dtype), bounds)
    return pd.Series(
        [None if na else seg for seg, na in zip(segs, isna)], dtype=object
    )


def tokens(col: Column) -> Column:
    """Whitespace tokenization; empty string -> empty array."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def bind_once(col: Column, f) -> Column:
    """Evaluate ``col`` exactly once per row and build ``f(bound)`` over it.

    Spark evaluates expressions captured from an enclosing scope inside a
    higher-order-function lambda on EVERY element — nothing is hoisted out
    of lambda scopes — so e.g. ``transform(sequence(...), lambda i:
    slice(toks, i + 1, n))`` re-tokenizes the whole document once per
    n-gram when ``toks`` is a computed expression (an O(n^2) blowup
    measured as minutes-vs-seconds per pass on the 2M-doc control
    corpus). Wrapping the computation as the HOF *argument* — a
    single-element array — turns it into a lambda variable: evaluated
    once per row, O(1) to reference per element. Nested lambdas may
    reference the bound variable freely."""
    return F.element_at(F.transform(F.array(col), f), 1)


def word_shingles(tok_col: Column, n: int) -> Column:
    """Distinct word n-grams as array<string>; a doc shorter than n tokens
    contributes its whole token sequence as one shingle (so short docs
    still index). Pure JVM: transform over sequence; the token array is
    bound once (``bind_once``) so computed ``tok_col`` expressions are
    not re-evaluated per shingle."""

    def _grams(toks: Column) -> Column:
        joined = F.array_join(toks, " ")
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
        return F.when(
            F.size(toks) <= n, F.array_distinct(F.array(joined))
        ).otherwise(F.array_distinct(grams))

    return bind_once(tok_col, _grams)


# --- language ID (n-gram/stopword heuristic) -------------------------------

LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "pour"],
    "nl": ["de", "het", "een", "en", "van", "niet", "met", "zijn"],
}


def lang_scores(tok_col: Column) -> dict[str, Column]:
    """Per-language score = |distinct tokens ∩ marker set|."""
    return {
        lang: F.size(F.array_intersect(F.array_distinct(tok_col),
                                       F.array(*[F.lit(w) for w in markers])))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(tok_col: Column) -> Column:
    """argmax language by marker hits, 'und' (undetermined) when all zero.
    Deterministic tiebreak: priority order en > de > fr > nl. The logic is
    a flat greatest+CASE so a SQL oracle can replicate it verbatim."""
    scores = lang_scores(tok_col)
    g = F.greatest(*scores.values())
    expr = F.when(g == 0, F.lit("und"))
    for lang in LANG_MARKERS:  # insertion order = priority
        expr = expr.when(scores[lang] == g, F.lit(lang))
    return expr.otherwise(F.lit("und"))


# --- quality scoring --------------------------------------------------------

STOPWORDS = LANG_MARKERS["en"]


def quality_features(text_col: Column, tok_col: Column) -> dict[str, Column]:
    n_chars = F.length(text_col)
    n_tokens = F.size(tok_col)
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": F.when(n_tokens > 0, n_chars.cast("double") / n_tokens).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(
            n_chars > 0,
            (n_chars - F.length(F.regexp_replace(text_col, r"[^\w\s]", ""))).cast("double") / n_chars,
        ).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(
            n_tokens > 0,
            F.size(
                F.filter(tok_col, lambda t: t.isin(STOPWORDS))
            ).cast("double") / n_tokens,
        ).otherwise(F.lit(0.0)),
    }


def quality_score(text_col: Column, tok_col: Column) -> Column:
    """Composite quality in [0,1]: penalize too-short docs, high punctuation,
    zero stopwords (boilerplate/gibberish signals). Deliberately simple and
    SQL-expressible so a DuckDB oracle can replicate it bit-for-bit."""
    f = quality_features(text_col, tok_col)
    len_score = F.least(f["n_tokens"].cast("double") / F.lit(20.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(f["punct_ratio"] * 4.0, F.lit(1.0))
    stop_score = F.least(f["stopword_ratio"] * 5.0, F.lit(1.0))
    return (len_score + punct_score + stop_score) / F.lit(3.0)


# --- token counting ---------------------------------------------------------

def whitespace_token_count(text_col: Column) -> Column:
    return F.size(tokens(text_col))


def bpe_ish_token_count(text_col: Column) -> Column:
    """Approximate subword count with the classic pre-tokenizer regex:
    word pieces + standalone punctuation (a stand-in for a real BPE count;
    deterministic and SQL-portable)."""
    return F.size(
        F.regexp_extract_all(text_col, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0)
    )


def doc_fingerprint(text_col: Column) -> Column:
    """Exact-dup fingerprint: md5 of whitespace-normalized lowercase text.
    md5 is portable (same value in Spark and DuckDB) so correctness oracles
    can verify it; at scale swap for xxhash64 (cheaper, JVM)."""
    norm = F.lower(F.regexp_replace(F.trim(text_col), r"\s+", " "))
    return F.md5(norm)


# --- HTML text extraction ----------------------------------------------------
#
# The north rule's per-row invariant is "byte-identical extracted text per
# url": given the input table's html binary column, the engine must recover
# the page text deterministically. ``extract_text`` is the whole chain as
# pure JVM column expressions (whole-stage codegen; no Python in the path),
# so a 100 TB Iceberg scan extracts inline with the read — no shuffle, no
# Arrow round trip. Contract: for any whitespace-normalized text rendered
# into html that escapes &<>"' (the named-entity subset below) and places
# text only inside block elements, ``extract_text(render(text)) == text``
# byte-for-byte (tests/test_extract_text.py proves it per url on the
# synthetic corpus and on adversarial entity/nesting cases).

# Unescape order matters: every named entity before &amp; (so escaped
# literals like "&amp;lt;" resolve to "&lt;", not "<"); &amp; strictly last.
_HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#x27;", "'"),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # must be LAST
]


def extract_text(html_col: Column, charset: str = "UTF-8") -> Column:
    """html binary -> extracted text (deterministic, JVM-only).

    Steps: decode bytes -> drop <script>/<style> elements (case-insensitive,
    dotall, attribute-tolerant, backreference-matched closer) -> drop
    comments -> every remaining tag becomes a space (block boundaries
    separate words; inline tags cost a space that the collapse step folds
    away when the renderer keeps tags at token boundaries) -> unescape the
    named-entity subset -> collapse \\s+ to one space -> trim.

    Numeric entities beyond &#39;/&#x27; are out of scope (documented
    subset; a JVM expression cannot compute chr(n) — anything richer needs
    the Arrow path and leaves byte-identity to the renderer contract).
    """
    s = F.decode(html_col, charset)
    s = F.regexp_replace(s, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    s = F.regexp_replace(s, r"(?s)<[^>]*>", " ")
    for ent, ch in _HTML_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    s = F.regexp_replace(s, r"\s+", " ")
    return F.trim(s)


def html_escape_expr(text_col: Column) -> Column:
    """Spark mirror of python's html.escape(quote=True): & first, then
    < > " ' (' as &#x27; to match html.escape's choice)."""
    s = text_col
    for raw, ent in [
        ("&", "&amp;"),
        ("<", "&lt;"),
        (">", "&gt;"),
        ('"', "&quot;"),
        ("'", "&#x27;"),
    ]:
        s = F.replace(s, F.lit(raw), F.lit(ent))
    return s


def render_html_expr(text_col: Column, url_col: Column) -> Column:
    """Deterministic html renderer as a column expression (binary out) —
    the Spark-side twin of datagen's python renderer, used by the driver
    query to exercise extract_text end-to-end on tables that ship only
    text. The payload is the ONLY visible text (boilerplate lives in
    attributes, comments, script and style — all stripped), so
    extract_text(render(text)) == whitespace-normalized text exactly.
    Hostile parts included: attribute-laden tags, a script body with a
    '<' comparison and a fake closing tag in a string, a style body with
    '>', a comment containing a fake tag, entity-escaped url attribute."""
    esc_text = html_escape_expr(text_col)
    esc_url = html_escape_expr(url_col)
    return F.encode(
        F.concat(
            F.lit(
                "<!DOCTYPE html>\n<html lang=\"en\">\n<head>\n<title></title>\n"
                "<meta property=\"og:url\" content=\""
            ),
            esc_url,
            F.lit(
                "\"/>\n<style type=\"text/css\">p { margin: 0 > auto; }"
                "</style>\n<script defer>if (1 < 2) { var x = \"</div>\"; }"
                "</script>\n</head>\n<body class=\"page\">\n"
                "<!-- boilerplate <nav> below -->\n"
                "<nav><a href=\"/home?a=1&amp;b=2\"><img alt=\"home\"/></a>"
                "</nav>\n<p class=\"c0\">"
            ),
            esc_text,
            F.lit("</p>\n</body>\n</html>"),
        ),
        "UTF-8",
    )


def corpus_stats(
    df, text_col: str, lang_col: str | None = None, id_col: str | None = None
):
    """One-row corpus observability summary — the health numbers a 100 TB
    dedup run reports before and after each stage (the north rule's
    metrics-table requirement at corpus granularity):

      n_docs, n_distinct_texts (by md5 fingerprint), exact_dup_rate,
      total_chars, mean_chars, total_tokens (whitespace), n_langs
      (when ``lang_col`` given, else 0).

    Scale design: ONE aggregation pass — every statistic is an exact
    all-rows aggregate (count / sum / count(distinct fingerprint)); the
    only shuffled bytes are the 16-byte fingerprints and lang codes of
    the distinct aggregates, with map-side partial aggregation absorbing
    repeats. No sampling, no Python.
    """
    t = F.col(text_col)
    aggs = [
        F.count("*").cast("long").alias("n_docs"),
        F.count(t).cast("long").alias("_n_text_docs"),
        F.countDistinct(F.md5(t)).alias("n_distinct_texts"),
        F.sum(F.length(t)).cast("long").alias("total_chars"),
        F.round(F.avg(F.length(t)), 6).alias("mean_chars"),
        F.sum(F.size(tokens(t))).cast("long").alias("total_tokens"),
        (
            F.countDistinct(F.col(lang_col)) if lang_col else F.lit(0).cast("long")
        ).alias("n_langs"),
    ]
    out = df.agg(*aggs)
    # dup rate = excess copies among docs that HAVE text, over all docs:
    # countDistinct ignores nulls, so subtracting from n_docs would count
    # every null-text row as a "duplicate"; the n_docs>0 guard keeps an
    # empty health-check input from raising DIVIDE_BY_ZERO under ANSI
    # mode (session-8 review fixes)
    return out.withColumn(
        "exact_dup_rate",
        F.when(
            F.col("n_docs") > 0,
            F.round(
                (F.col("_n_text_docs") - F.col("n_distinct_texts"))
                / F.col("n_docs"),
                6,
            ),
        ).otherwise(F.lit(0.0)),
    ).drop("_n_text_docs")


def unigram_logprob(
    df,
    id_col: str,
    text_col: str,
    vocab_size: int = 65536,
    add_k: float = 0.5,
):
    """Mean per-token unigram log-probability of each doc under the
    corpus's own unigram LM — the cheap perplexity proxy the CCNet recipe
    (Wenzek et al. 2020 §3.2) uses for quality bucketing, with the
    KenLM stage replaced by a self-trained unigram model (no external
    model artifacts; deterministic).

    Model: lowercase whitespace tokens; the ``vocab_size`` most frequent
    tokens (count desc, token asc tiebreak) keep their own add-k-smoothed
    probability ``(c + k) / (N + k*(V+1))``; everything else shares the
    OOV slot ``k / (N + k*(V+1))``. ``N`` = total corpus tokens,
    ``V`` = realized vocab size.

    Returns ``(id_col, n_tokens long, mean_logprob double)``; empty docs
    get ``mean_logprob = 0.0``.

    Scale design: two corpus passes, both shuffle-lean — (1) vocab fit:
    explode -> ONE hash-aggregate on token (map-side combine absorbs hot
    tokens) -> top-V via ``orderBy().limit(V)``, which Catalyst compiles
    to a distributed top-K (per-partition LocalLimit under a total
    order), NOT a single-partition window: the distinct-token table of a
    web corpus is billions of rows (typo/URL/hash tail), so a global
    ``row_number`` window — whose WindowExec moves every row to ONE
    task — would be the bottleneck; the V survivors are driver-sized by
    definition since they feed a broadcast. (2) scoring: explode ->
    BroadcastHashJoin against the V-row vocab (the corpus side never
    shuffles to find its probabilities) -> per-doc sum, which shuffles
    one (id, partial-sum) row per doc per map task. No Python.
    """
    toks = df.select(
        F.col(id_col),
        F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    # localCheckpoint (lazy): counts feeds BOTH the totals.collect()
    # below and the vocab top-K inside the scored plan — without it the
    # most expensive job (explode + corpus-wide token aggregate) runs
    # twice per call (session-8 review fix)
    counts = pin(toks.filter(F.col("tok").isNotNull()).groupBy("tok").agg(
        F.count("*").cast("long").alias("c")
    ))
    # (c desc, tok asc) is a total order over distinct tokens, so the
    # first V rows are exactly the rows a rank-<=-V filter would keep
    vocab = counts.orderBy(F.desc("c"), F.asc("tok")).limit(vocab_size)
    # one driver action for the two model scalars (token mass, vocab size)
    totals = counts.agg(
        F.sum("c").alias("n_total"), F.count("*").alias("n_types")
    ).collect()[0]
    n_total = int(totals["n_total"] or 0)
    v_real = min(vocab_size, int(totals["n_types"] or 0))
    denom = n_total + add_k * (v_real + 1)
    oov_logp = float(np.log(add_k / denom)) if denom > 0 else 0.0

    scored = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .withColumn(
            "logp",
            F.when(F.col("tok").isNull(), F.lit(None).cast("double"))
            .when(
                F.col("c").isNotNull(),
                F.log((F.col("c") + add_k) / F.lit(denom)),
            )
            .otherwise(F.lit(oov_logp)),
        )
        .groupBy(id_col)
        .agg(
            F.count("logp").cast("long").alias("n_tokens"),
            F.round(F.coalesce(F.avg("logp"), F.lit(0.0)), 6).alias(
                "mean_logprob"
            ),
        )
    )
    return scored
