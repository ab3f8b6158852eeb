"""Differential tests: the segment-vectorized numpy kernels must be
bit-identical to naive per-doc reference loops (same contract the earlier
JVM-expression implementations were tested against)."""

import numpy as np
import pandas as pd
import pytest

from recordlinkage_spark import textfns
from recordlinkage_spark.suffix import _P, winnow_fingerprints_np

U13, U51 = np.uint64(13), np.uint64(51)


def rot_xor(acc, h):
    acc = np.uint64(acc)
    return np.uint64(((acc << U13) | (acc >> U51)) ^ np.uint64(h))


def naive_grams(doc_hashes, n):
    """Per-doc reference for textfns.gram_hashes_np: rot13-xor over each
    n-token window, or one fold of all tokens for a doc of at most n."""
    h = [np.uint64(x) for x in doc_hashes]
    if len(h) <= n:
        acc = np.uint64(0)
        for x in h:
            acc = rot_xor(acc, x)
        return [acc]
    out = []
    for i in range(len(h) - n + 1):
        acc = h[i]
        for j in range(1, n):
            acc = rot_xor(acc, h[i + j])
        out.append(acc)
    return out


def naive_winnow(doc_hashes, span, window):
    """Per-doc reference: the original suffix.py loop kernel."""
    h = np.asarray(doc_hashes, dtype=np.uint64)
    n = len(h)
    if n < span:
        return None
    np.seterr(over="ignore")
    p_inv = np.uint64(pow(int(_P), -1, 2**64))
    m = n - span + 1
    invp = np.ones(n, dtype=np.uint64)
    invp[1:] = p_inv
    np.multiply.accumulate(invp, out=invp)
    t = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(h * invp, out=t[1:])
    pw = np.ones(m, dtype=np.uint64)
    pw[0] = _P
    for _ in range(span - 2):
        pw[0] = pw[0] * _P
    pw[1:] = _P
    np.multiply.accumulate(pw, out=pw)
    roll = pw * (t[span:] - t[:m])
    if m <= window:
        sel = np.array([roll.min()], dtype=np.uint64)
    else:
        sel = np.lib.stride_tricks.sliding_window_view(roll, window).min(axis=1)
    return np.unique(sel)


@pytest.fixture
def rng():
    return np.random.RandomState(7)


def random_docs(rng, n_docs, max_len):
    lengths = rng.randint(0, max_len, n_docs)
    return [rng.randint(0, 2**63, n, dtype=np.int64).view(np.uint64)
            for n in lengths]


@pytest.mark.parametrize("n", [2, 3, 5])
def test_gram_hashes_np_matches_naive(rng, n):
    docs = random_docs(rng, 200, 24)  # includes empty / short / == n docs
    flat = np.concatenate([d for d in docs if len(d)]) if any(
        len(d) for d in docs) else np.empty(0, np.uint64)
    lengths = np.array([len(d) for d in docs], dtype=np.int64)
    vals, counts = textfns.gram_hashes_np(flat, lengths, n)
    pos = 0
    for d, c in zip(docs, counts):
        expect = naive_grams(d, n)
        got = vals[pos:pos + c]
        assert list(got) == [np.uint64(x) for x in expect]
        pos += c
    assert pos == len(vals)


@pytest.mark.parametrize("span,window", [(4, 3), (8, 5), (16, 9)])
def test_winnow_np_matches_naive(rng, span, window):
    docs = random_docs(rng, 150, 40)
    flat = np.concatenate([d for d in docs if len(d)]) if any(
        len(d) for d in docs) else np.empty(0, np.uint64)
    lengths = np.array([len(d) for d in docs], dtype=np.int64)
    vals, counts = winnow_fingerprints_np(flat, lengths, span, window)
    pos = 0
    for d, c in zip(docs, counts):
        expect = naive_winnow(d, span, window)
        got = vals[pos:pos + c]
        if expect is None:
            assert c == 0
        else:
            assert np.array_equal(np.sort(got), np.sort(expect))
        pos += c
    assert pos == len(vals)


def test_distinct_per_doc_np(rng):
    docs = [rng.randint(0, 8, rng.randint(0, 12)).astype(np.uint64)
            for _ in range(100)]
    flat = np.concatenate(docs) if docs else np.empty(0, np.uint64)
    counts = np.array([len(d) for d in docs], dtype=np.int64)
    vals, new_counts = textfns.distinct_per_doc_np(flat, counts)
    pos = 0
    for d, c in zip(docs, new_counts):
        assert np.array_equal(vals[pos:pos + c], np.unique(d))
        pos += c


def test_distinct_per_doc_np_packed_uint32(rng):
    """Unsigned 32-bit values take the packed single-sort path: it must
    match np.unique per doc, keep the input dtype, and handle empty
    docs, all-equal docs and the extreme values 0 and 2^32-1."""
    top = np.uint32(2**32 - 1)
    docs = [rng.randint(0, 2**32, rng.randint(0, 40), dtype=np.uint64)
            .astype(np.uint32) for _ in range(60)]
    docs += [np.empty(0, np.uint32), np.full(17, 5, np.uint32),
             np.array([top, 0, top, 0, 1], np.uint32), np.full(3, top),
             np.empty(0, np.uint32)]
    docs = [d.astype(np.uint32) for d in docs]
    rng.shuffle(docs)
    flat = np.concatenate(docs)
    counts = np.array([len(d) for d in docs], dtype=np.int64)
    vals, new_counts = textfns.distinct_per_doc_np(flat, counts)
    assert vals.dtype == np.uint32
    assert len(new_counts) == len(docs)
    pos = 0
    for d, c in zip(docs, new_counts):
        assert np.array_equal(vals[pos:pos + c], np.unique(d))
        pos += c
    assert pos == len(vals)
    # zero docs
    vals, new_counts = textfns.distinct_per_doc_np(
        np.empty(0, np.uint32), np.empty(0, np.int64))
    assert len(vals) == 0 and len(new_counts) == 0


def test_winnow_np_long_runs_of_equal_minima(rng):
    """Docs whose window minimum repeats over long runs (few distinct
    tokens, constant docs, a long doc with a planted tiny minimum) —
    the kernel drops those runs before its distinct."""
    span, window = 4, 9
    docs = [rng.randint(0, 3, rng.randint(0, 120)).astype(np.uint64)
            for _ in range(60)]
    docs += [np.full(200, 7, np.uint64), np.full(span, 7, np.uint64)]
    long_doc = rng.randint(0, 2**63, 300, dtype=np.int64).view(np.uint64)
    docs += [long_doc, np.concatenate([long_doc[:100], long_doc[:100]])]
    flat = np.concatenate(docs)
    lengths = np.array([len(d) for d in docs], dtype=np.int64)
    vals, counts = winnow_fingerprints_np(flat, lengths, span, window)
    pos = 0
    for d, c in zip(docs, counts):
        expect = naive_winnow(d, span, window)
        got = vals[pos:pos + c]
        if expect is None:
            assert c == 0
        else:
            assert np.array_equal(got, expect)
        pos += c
    assert pos == len(vals)


def _signature_corpus():
    """500 seeded docs: nulls, empty and whitespace-only text, 1-3 token
    docs, one-token-repeated docs and 5-400 token docs."""
    rng = np.random.RandomState(20261017)
    vocab = [f"w{i}" for i in range(300)]
    texts = []
    for i in range(500):
        k = i % 10
        if k == 0:
            texts.append(None)
        elif k == 1:
            texts.append("" if i % 20 == 1 else "   ")
        elif k == 2:
            texts.append(" ".join(rng.choice(vocab, rng.randint(1, 4))))
        elif k == 3:
            texts.append(" ".join(["same"] * rng.randint(20, 80)))
        else:
            texts.append(" ".join(rng.choice(vocab, rng.randint(5, 400))))
    return pd.Series(texts, dtype=object)


def test_signature_udf_digest_pinned(spark):
    """The signature kernel's (bands, fps, sh) over a seeded batch hash to
    a pinned digest: kernel rewrites must stay bit-identical."""
    import hashlib

    from recordlinkage_spark.minhash import make_signature_udf

    out = make_signature_udf(128, 32, 4, 3, 16, 9).func(_signature_corpus())
    h = hashlib.sha256()
    for col in ("bands", "fps", "sh"):
        for v in out[col]:
            h.update(b"N" if v is None else np.asarray(v).tobytes() + b"|")
    assert h.hexdigest() == (
        "1e1b69769c3f634a36d7fe3d6581cafcec4a3d833087a3864b954934bc31c8d2"
    )


def test_flat_token_hashes_null_and_empty():
    s = pd.Series(["a b c", None, "", "  ", "a a"])
    flat, lengths, isna = textfns.flat_token_hashes_np(s)
    assert list(lengths) == [3, 0, 0, 0, 2]
    assert list(isna) == [False, True, False, False, False]
    assert len(flat) == 5
    # same token -> same hash; deterministic across calls
    assert flat[3] == flat[4] == flat[0]
    flat2, _, _ = textfns.flat_token_hashes_np(s)
    assert np.array_equal(flat, flat2)


def test_segment_pairs_np_matches_combinations(rng):
    from itertools import combinations

    from recordlinkage_spark.minhash import segment_pairs_np

    sizes = rng.randint(0, 9, 60)
    ids = rng.randint(0, 10**9, int(sizes.sum())).astype(np.int64)
    a, b = segment_pairs_np(ids, sizes)
    got = sorted(zip(a.tolist(), b.tolist()))
    expect = []
    pos = 0
    for m in sizes:
        seg = ids[pos:pos + m]
        for x, y in combinations(seg.tolist(), 2):
            expect.append((max(x, y), min(x, y)))
        pos += m
    assert got == sorted(expect)


def test_segment_pairs_np_string_ids():
    from recordlinkage_spark.minhash import segment_pairs_np

    ids = np.array(["b", "a", "c", "x", "y"], dtype=object)
    a, b = segment_pairs_np(ids, np.array([3, 2]))
    assert sorted(zip(a, b)) == [("b", "a"), ("c", "a"), ("c", "b"), ("y", "x")]


def test_bucket_pair_expander_carry_and_cap():
    """Carry-over across batch boundaries + oversize-bucket drop, over a
    two-column key (ANN's (table_id, bucket) shape)."""
    from recordlinkage_spark.minhash import _make_bucket_pair_expander

    def batch(rows):
        return pd.DataFrame(rows, columns=["id", "table_id", "bucket"])

    # bucket (0, 7) spans two batches; bucket (1, 9) is oversize (cap=3)
    batches = [
        batch([(1, 0, 7), (2, 0, 7)]),
        batch([(3, 0, 7), (10, 1, 9), (11, 1, 9)]),
        batch([(12, 1, 9), (13, 1, 9), (20, 2, 5), (21, 2, 5)]),
    ]
    expand = _make_bucket_pair_expander(3, ("table_id", "bucket"))
    out = pd.concat(list(expand(iter(batches))))
    got = sorted(zip(out["id_1"], out["id_2"]))
    assert got == [(2, 1), (3, 1), (3, 2), (21, 20)]


def test_gram_hashes_empty_doc_emits_zero():
    vals, counts = textfns.gram_hashes_np(
        np.empty(0, np.uint64), np.array([0], dtype=np.int64), 3
    )
    assert list(counts) == [1] and vals[0] == np.uint64(0)


def test_bands_from_segments_chunking_invariant(rng):
    """Cache-blocked minhash must be bit-identical to the single-pass
    reference regardless of chunk boundaries."""
    from recordlinkage_spark import minhash as mh

    a, b = mh._perm_params(32, 42)
    sizes = rng.randint(1, 50, 300).astype(np.int64)
    flat = rng.randint(0, 2**63, int(sizes.sum())).astype(np.int64).view(np.uint64)
    offsets = np.cumsum(sizes) - sizes
    np.seterr(over="ignore")
    # naive reference: one pass over the whole array per permutation
    sig = np.empty((32, len(sizes)), dtype=np.uint64)
    for i in range(32):
        sig[i] = np.minimum.reduceat(flat * a[i] + b[i], offsets)
    band = sig.reshape(8, 4, -1)
    acc = np.zeros((8, band.shape[2]), dtype=np.uint64)
    for r_i in range(4):
        acc = acc * mh._MIX + band[:, r_i, :]
        acc ^= acc >> np.uint64(33)
    acc ^= (np.arange(8, dtype=np.uint64) * mh._MIX)[:, None]  # band salt
    expect = acc.view(np.int64)

    old_chunk = mh._CHUNK_HASHES
    try:
        for chunk in (7, 64, 10**9):  # absurdly small, small, one-chunk
            mh._CHUNK_HASHES = chunk
            got = mh._bands_from_segments(flat, offsets, a, b, 32, 8, 4)
            assert np.array_equal(got, expect), f"chunk={chunk}"
    finally:
        mh._CHUNK_HASHES = old_chunk


def test_simhash_from_segments_chunking_invariant(rng):
    from recordlinkage_spark import simhash as sh

    counts = rng.randint(0, 40, 200).astype(np.int64)
    flat = rng.randint(0, 2**63, int(counts.sum())).astype(np.int64).view(np.uint64)
    np.seterr(over="ignore")
    # naive reference
    offsets = np.cumsum(counts) - counts
    bits = np.unpackbits(flat.view(np.uint8).reshape(-1, 8), axis=1,
                         bitorder="little").astype(np.int64)
    votes = np.add.reduceat(bits, offsets, axis=0) if len(flat) else np.zeros(
        (len(counts), 64), dtype=np.int64)
    votes[counts == 0] = 0
    powers = (np.uint64(1) << np.arange(64, dtype=np.uint64)).view(np.int64)
    expect = ((votes * 2 > counts[:, None]) * powers[None, :]).sum(axis=1)

    old_chunk = sh._CHUNK_HASHES
    try:
        for chunk in (5, 100, 10**9):
            sh._CHUNK_HASHES = chunk
            got = sh._simhash_from_segments(flat, counts)
            assert np.array_equal(got, expect), f"chunk={chunk}"
    finally:
        sh._CHUNK_HASHES = old_chunk


def test_simhash_zero_count_layouts():
    """count-0 docs must not corrupt neighboring segments (regression:
    the chunk-tail clip truncated the previous doc's vote segment)."""
    from recordlinkage_spark import simhash as sh

    rng = np.random.RandomState(1)
    for counts in ([3, 0, 0], [0, 0, 3], [2, 0, 3, 0, 1], [0], [5]):
        counts = np.array(counts, dtype=np.int64)
        flat = rng.randint(0, 2**63, int(counts.sum())).astype(np.int64).view(np.uint64)
        bits = (np.unpackbits(flat.view(np.uint8).reshape(-1, 8), axis=1,
                              bitorder="little").astype(np.int64)
                if len(flat) else np.zeros((0, 64), np.int64))
        votes = np.zeros((len(counts), 64), dtype=np.int64)
        pos = 0
        for i, c in enumerate(counts):
            votes[i] = bits[pos:pos + c].sum(axis=0)
            pos += c
        powers = (np.uint64(1) << np.arange(64, dtype=np.uint64)).view(np.int64)
        expect = (((votes * 2) > counts[:, None]) * powers[None, :]).sum(axis=1)
        old = sh._CHUNK_HASHES
        try:
            for chunk in (1, 2, 10**9):
                sh._CHUNK_HASHES = chunk
                assert np.array_equal(sh._simhash_from_segments(flat, counts), expect)
        finally:
            sh._CHUNK_HASHES = old


# ---------------------------------------------------------------------------
# r3: batch-vectorized jaro / jaro-winkler / damerau vs their scalar oracles
# ---------------------------------------------------------------------------

def _rand_str(rng, alphabet, maxlen):
    n = rng.randint(0, maxlen)
    return "".join(rng.choice(list(alphabet)) for _ in range(n))


@pytest.mark.parametrize("alphabet", ["ab", "abcde", "abcdefghij", "àbçdé日本語"])
def test_jaro_family_vectorized_matches_scalar(alphabet):
    from recordlinkage_spark import stringmetrics as sm

    rng = np.random.RandomState(hash(alphabet) % (2**31))
    s1 = [_rand_str(rng, alphabet, 18) for _ in range(400)]
    s2 = [_rand_str(rng, alphabet, 18) for _ in range(400)]
    s1 += ["", "", "a", "ca", "abc", "aa", "martha", "x" * 600]
    s2 += ["", "a", "", "abc", "ca", "aa", "marhta", "x" * 599 + "y"]
    got_j = sm.jaro_batch(pd.Series(s1), pd.Series(s2)).to_numpy()
    got_w = sm.jaro_winkler_batch(pd.Series(s1), pd.Series(s2)).to_numpy()
    for i, (x, y) in enumerate(zip(s1, s2)):
        assert got_j[i] == pytest.approx(sm.jaro(x, y), abs=1e-12), (x, y)
        assert got_w[i] == pytest.approx(sm.jaro_winkler(x, y), abs=1e-12), (x, y)


@pytest.mark.parametrize("alphabet", ["ab", "abcdefghij", "àbçdé日本語"])
def test_damerau_vectorized_matches_scalar(alphabet):
    from recordlinkage_spark import stringmetrics as sm

    rng = np.random.RandomState(hash(alphabet) % (2**31))
    s1 = [_rand_str(rng, alphabet, 20) for _ in range(400)]
    s2 = [_rand_str(rng, alphabet, 20) for _ in range(400)]
    # edge cases + a long pair exercising the scalar fallback (> 64 chars)
    s1 += ["", "a", "ca", "abcdef" * 20]
    s2 += ["", "", "abc", "abcdef" * 19 + "abcdfe"]
    got = sm.damerau_levenshtein_batch(pd.Series(s1), pd.Series(s2)).to_numpy()
    for i, (x, y) in enumerate(zip(s1, s2)):
        mx = max(len(x), len(y))
        if mx == 0:
            assert np.isnan(got[i])
        else:
            exp = 1.0 - sm.damerau_levenshtein_distance(x, y) / mx
            assert got[i] == pytest.approx(exp, abs=1e-12), (x, y)


def test_jaro_family_null_contract():
    from recordlinkage_spark import stringmetrics as sm

    s1 = pd.Series(["abc", None, np.nan, "xy"])
    s2 = pd.Series([None, "abc", "q", "xy"])
    for fn in (sm.jaro_batch, sm.jaro_winkler_batch, sm.damerau_levenshtein_batch):
        out = fn(s1, s2).to_numpy()
        assert np.isnan(out[0]) and np.isnan(out[1]) and np.isnan(out[2])
        assert out[3] == 1.0


@pytest.mark.parametrize("alphabet", ["ab", "abcdefghij", "àbçdé日本語"])
def test_levenshtein_vectorized_matches_scalar(alphabet):
    from recordlinkage_spark import stringmetrics as sm

    rng = np.random.RandomState(hash(alphabet) % (2**31))
    s1 = [_rand_str(rng, alphabet, 20) for _ in range(400)]
    s2 = [_rand_str(rng, alphabet, 20) for _ in range(400)]
    s1 += ["", "a", "ca", "kitten", "x" * 600]
    s2 += ["", "", "abc", "sitting", "x" * 599 + "y"]
    got = sm.levenshtein_batch(pd.Series(s1), pd.Series(s2)).to_numpy()
    for i, (x, y) in enumerate(zip(s1, s2)):
        mx = max(len(x), len(y))
        if mx == 0:
            assert np.isnan(got[i])
        else:
            exp = 1.0 - sm.levenshtein_distance(x, y) / mx
            assert got[i] == pytest.approx(exp, abs=1e-12), (x, y)


# ---------------------------------------------------------------------------
# r3: hypothesis property tests — vectorized kernels vs scalar oracles on
# arbitrary unicode (exercises padding, codebooks, window clamps, ties)
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAS_HYP = True
except ImportError:  # pragma: no cover
    _HAS_HYP = False

if _HAS_HYP:
    _texts = st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
            max_size=24,
        ),
        min_size=1,
        max_size=40,
    )

    @settings(max_examples=40, deadline=None)
    @given(_texts, _texts)
    def test_hypothesis_jaro_family(xs, ys):
        from recordlinkage_spark import stringmetrics as sm

        n = min(len(xs), len(ys))
        s1, s2 = pd.Series(xs[:n]), pd.Series(ys[:n])
        vj = sm.jaro_batch(s1, s2).to_numpy()
        vw = sm.jaro_winkler_batch(s1, s2).to_numpy()
        vl = sm.levenshtein_batch(s1, s2).to_numpy()
        vd = sm.damerau_levenshtein_batch(s1, s2).to_numpy()
        for i in range(n):
            x, y = xs[i], ys[i]
            assert vj[i] == pytest.approx(sm.jaro(x, y), abs=1e-12)
            assert vw[i] == pytest.approx(sm.jaro_winkler(x, y), abs=1e-12)
            mx = max(len(x), len(y))
            if mx == 0:
                assert np.isnan(vl[i]) and np.isnan(vd[i])
            else:
                assert vl[i] == pytest.approx(
                    1.0 - sm.levenshtein_distance(x, y) / mx, abs=1e-12
                )
                assert vd[i] == pytest.approx(
                    1.0 - sm.damerau_levenshtein_distance(x, y) / mx, abs=1e-12
                )


# ---------------------------------------------------------------------------
# r4: batch-vectorized qgram / cosine vs their scalar Counter oracles
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("alphabet", ["ab", "abcde fgh", "àbçdé 日本語", "a b"])
def test_char_wb_vectorized_matches_scalar(alphabet):
    from recordlinkage_spark import stringmetrics as sm

    rng = np.random.RandomState(hash(alphabet) % (2**31))
    s1 = [_rand_str(rng, alphabet, 25) for _ in range(300)]
    s2 = [_rand_str(rng, alphabet, 25) for _ in range(300)]
    s1 += ["", " ", "a", "ab cd", "Aa  bB", "x" * 200]
    s2 += ["", "a", " ", "ab", "aA Bb ", "x" * 199 + "y"]
    got_q = sm.qgram_batch(pd.Series(s1), pd.Series(s2)).to_numpy()
    got_c = sm.cosine_batch(pd.Series(s1), pd.Series(s2)).to_numpy()
    for i, (x, y) in enumerate(zip(s1, s2)):
        eq = sm.qgram_sim(x, y)
        ec = sm.cosine_sim(x, y)
        if np.isnan(eq):
            assert np.isnan(got_q[i]), (x, y)
        else:
            assert got_q[i] == eq, (x, y)  # same int counts -> bit-equal
        if np.isnan(ec):
            assert np.isnan(got_c[i]), (x, y)
        else:
            assert got_c[i] == ec, (x, y)


@pytest.mark.parametrize("nm", [(2, 3), (3, 5), (1, 1), (4, 4)])
def test_char_wb_vectorized_ngram_ranges(nm):
    """The generalized (n_min, n_max) path incl. the count-once-and-break
    short-token branch and the wide-row (void) gram-identity fallback."""
    from recordlinkage_spark import stringmetrics as sm

    rng = np.random.RandomState(17)
    s1 = [_rand_str(rng, "ab cd", 12) for _ in range(200)] + ["a b c", "xyz"]
    s2 = [_rand_str(rng, "ab cd", 12) for _ in range(200)] + ["a", "zyx w"]
    q, c = sm._char_wb_sims_np(s1, s2, *nm)
    for i, (x, y) in enumerate(zip(s1, s2)):
        eq = sm.qgram_sim(x, y, ngram=nm)
        ec = sm.cosine_sim(x, y, ngram=nm)
        assert (np.isnan(q[i]) and np.isnan(eq)) or q[i] == eq, (x, y, nm)
        assert (np.isnan(c[i]) and np.isnan(ec)) or c[i] == ec, (x, y, nm)


if _HAS_HYP:

    @settings(max_examples=40, deadline=None)
    @given(_texts, _texts)
    def test_hypothesis_char_wb_family(xs, ys):
        from recordlinkage_spark import stringmetrics as sm

        n = min(len(xs), len(ys))
        s1, s2 = pd.Series(xs[:n]), pd.Series(ys[:n])
        vq = sm.qgram_batch(s1, s2).to_numpy()
        vc = sm.cosine_batch(s1, s2).to_numpy()
        for i in range(n):
            x, y = xs[i], ys[i]
            eq = sm.qgram_sim(x, y)
            ec = sm.cosine_sim(x, y)
            assert (np.isnan(vq[i]) and np.isnan(eq)) or vq[i] == eq
            assert (np.isnan(vc[i]) and np.isnan(ec)) or vc[i] == ec


# ---------------------------------------------------------------------------
# r4: batch-vectorized smith_waterman / lcs vs their scalar DP oracles
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("alphabet", ["ab", "abcde", "abcdefghij ", "àbçdé日本語"])
def test_sw_lcs_vectorized_match_scalar(alphabet):
    from recordlinkage_spark import stringmetrics as sm

    rng = np.random.RandomState(hash(alphabet) % (2**31))
    s1 = [_rand_str(rng, alphabet, 20) for _ in range(300)]
    s2 = [_rand_str(rng, alphabet, 20) for _ in range(300)]
    # edge cases + pairs past both vectorization cutoffs (scalar fallback)
    s1 += ["", "a", "ca", "x" * 300, "abcdef" * 20]
    s2 += ["", "", "abc", "x" * 299 + "y", "abcdef" * 19]
    got_sw = sm.smith_waterman_batch(pd.Series(s1), pd.Series(s2)).to_numpy()
    got_lc = sm.lcs_batch(pd.Series(s1), pd.Series(s2)).to_numpy()
    for i, (x, y) in enumerate(zip(s1, s2)):
        # same float64 op order -> bit-identical, not just approx
        assert got_sw[i] == sm.smith_waterman_sim(x, y), (x, y)
        assert got_lc[i] == sm.lcs_sim(x, y), (x, y)


def test_sw_lcs_null_contract():
    from recordlinkage_spark import stringmetrics as sm

    s1 = pd.Series(["abc", None, np.nan, "xy"])
    s2 = pd.Series([None, "abc", "q", "xy"])
    for fn in (sm.smith_waterman_batch, sm.lcs_batch):
        out = fn(s1, s2).to_numpy()
        assert np.isnan(out[0]) and np.isnan(out[1]) and np.isnan(out[2])
        assert out[3] == 1.0


def test_sw_vectorized_rejects_positive_penalties():
    from recordlinkage_spark import stringmetrics as sm

    with pytest.raises(ValueError):
        sm._smith_waterman_np(["ab"], ["ab"], mismatch=1.0)


if _HAS_HYP:

    @settings(max_examples=25, deadline=None)
    @given(_texts, _texts)
    def test_hypothesis_sw_lcs(xs, ys):
        from recordlinkage_spark import stringmetrics as sm

        n = min(len(xs), len(ys))
        s1, s2 = pd.Series(xs[:n]), pd.Series(ys[:n])
        vs = sm.smith_waterman_batch(s1, s2).to_numpy()
        vl = sm.lcs_batch(s1, s2).to_numpy()
        for i in range(n):
            x, y = xs[i], ys[i]
            es = sm.smith_waterman_sim(x, y)
            el = sm.lcs_sim(x, y)
            assert (np.isnan(vs[i]) and np.isnan(es)) or vs[i] == es
            assert (np.isnan(vl[i]) and np.isnan(el)) or vl[i] == el


# ---- winnow positions kernel (suffix.winnow_fingerprint_positions_np) ----

from recordlinkage_spark.suffix import (  # noqa: E402
    cut_token_spans_np,
    winnow_fingerprint_positions_np,
)


def naive_roll(doc_hashes, span):
    """All span-window rolling hashes of one doc (the _doc_window_hashes
    contract), via the same math as naive_winnow."""
    h = np.asarray(doc_hashes, dtype=np.uint64)
    n = len(h)
    if n < span:
        return np.empty(0, np.uint64)
    np.seterr(over="ignore")
    p_inv = np.uint64(pow(int(_P), -1, 2**64))
    m = n - span + 1
    invp = np.ones(n, dtype=np.uint64)
    invp[1:] = p_inv
    np.multiply.accumulate(invp, out=invp)
    t = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(h * invp, out=t[1:])
    pw = np.ones(m, dtype=np.uint64)
    pw[0] = _P
    for _ in range(span - 2):
        pw[0] = pw[0] * _P
    pw[1:] = _P
    np.multiply.accumulate(pw, out=pw)
    return pw * (t[span:] - t[:m])


@pytest.mark.parametrize("span,window", [(4, 3), (8, 5), (16, 9)])
def test_winnow_positions_matches_value_kernel(rng, span, window):
    """Same value set per doc as winnow_fingerprints_np; every recorded
    position points at a window that really hashes to its value; positions
    strictly increase within a doc."""
    docs = random_docs(rng, 150, 40)
    flat = np.concatenate([d for d in docs if len(d)]) if any(
        len(d) for d in docs) else np.empty(0, np.uint64)
    lengths = np.array([len(d) for d in docs], dtype=np.int64)
    vals, pos, counts = winnow_fingerprint_positions_np(
        flat, lengths, span, window)
    dvals, dcounts = winnow_fingerprints_np(flat, lengths, span, window)
    p = pd_ = 0
    for d, c, dc in zip(docs, counts, dcounts):
        got_v, got_p = vals[p:p + c], pos[p:p + c]
        assert np.array_equal(np.unique(got_v), np.sort(dvals[pd_:pd_ + dc]))
        assert np.all(np.diff(got_p) > 0)
        roll = naive_roll(d, span)
        assert np.all(got_p >= 0) and (len(got_p) == 0 or got_p.max() < len(roll))
        assert np.array_equal(roll[got_p], got_v)
        p += c
        pd_ += dc
    assert p == len(vals)


def test_cut_token_spans_np_basic():
    texts = pd.Series([
        "a b c d e f g h",      # cut [1,3) and [2,4) -> merge to [1,4)
        "x y z",                 # no cuts
        None,                    # null passthrough
        "héllo wörld αβγ δε ζ",  # multi-byte tokens, cut [1,3)
        "p q",                   # out-of-range cut ignored
    ])
    cuts = pd.Series([[1, 2], None, None, [1], [5]], dtype=object)
    out, n_spans, n_tokens = cut_token_spans_np(texts, cuts, span=2)
    assert out[0] == "a  e f g h"          # b c d cut, whitespace kept
    assert (n_spans[0], n_tokens[0]) == (1, 3)
    assert out[1] == "x y z" and n_spans[1] == 0
    assert out[2] is None
    assert out[3] == "héllo  δε ζ" and n_tokens[3] == 2
    assert out[4] == "p q" and n_spans[4] == 0


def test_cut_token_spans_np_clamps_tail():
    texts = pd.Series(["t0 t1 t2 t3"])
    out, n_spans, n_tokens = cut_token_spans_np(
        texts, pd.Series([[3]], dtype=object), span=5)
    assert out[0] == "t0 t1 t2 "
    assert (n_spans[0], n_tokens[0]) == (1, 1)


if _HAS_HYP:

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.text(
                    alphabet=st.characters(
                        blacklist_categories=("Cs",), max_codepoint=0x2FFF
                    ),
                    max_size=80,
                ),
                st.lists(st.integers(-2, 30), max_size=6),
            ),
            min_size=1,
            max_size=20,
        ),
        st.integers(1, 5),
    )
    def test_hypothesis_cut_token_spans(rows, span):
        """Oracle: Python-level tokenize (ASCII-whitespace split), drop the
        merged cut token ranges, and the kernel's surviving tokens must
        equal the oracle's — on arbitrary unicode, out-of-range cuts,
        duplicates, and unsorted input."""
        import re

        texts = pd.Series([t for t, _ in rows])
        cuts = pd.Series([c for _, c in rows], dtype=object)
        out, n_spans, n_tokens = cut_token_spans_np(texts, cuts, span)
        ws = re.compile(r"[\t\n\x0b\x0c\r ]+")

        def toks(s):
            return [t for t in ws.split(s) if t]

        for i, (text, cut) in enumerate(rows):
            tok = toks(text)
            valid = sorted({p for p in cut if 0 <= p < len(tok)})
            drop = set()
            for p in valid:
                drop.update(range(p, min(p + span, len(tok))))
            expect = [t for j, t in enumerate(tok) if j not in drop]
            assert toks(out[i]) == expect
            assert n_tokens[i] == len(drop)
            if not drop:
                assert out[i] == text  # untouched docs byte-identical


# ---- batched longest-common-run (suffix.verified_pairs kernel) ----------

def test_lcr_batch_matches_scalar(rng):
    from recordlinkage_spark.suffix import (_lcrun_scalar,
                                            longest_common_run_batch_np)

    pairs = []
    for _ in range(120):
        # small alphabet -> plenty of accidental runs to disagree on
        a = rng.randint(0, 6, rng.randint(0, 30)).astype(np.int64)
        b = rng.randint(0, 6, rng.randint(0, 30)).astype(np.int64)
        pairs.append((a, b))
    pairs.append((None, np.array([1, 2], dtype=np.int64)))  # null side
    pairs.append((np.array([], dtype=np.int64), None))
    t1 = pd.Series([p[0] for p in pairs], dtype=object)
    t2 = pd.Series([p[1] for p in pairs], dtype=object)
    got = longest_common_run_batch_np(t1, t2)
    for i, (a, b) in enumerate(pairs):
        if a is None or b is None or len(a) == 0 or len(b) == 0:
            assert got[i] == 0
        else:
            assert got[i] == _lcrun_scalar(a, b), (i, list(a), list(b))


if _HAS_HYP:

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.lists(st.integers(-3, 3), max_size=25),
                st.lists(st.integers(-3, 3), max_size=25),
            ),
            min_size=1,
            max_size=15,
        )
    )
    def test_hypothesis_lcr_batch(pairs):
        from recordlinkage_spark.suffix import (_lcrun_scalar,
                                                longest_common_run_batch_np)

        t1 = pd.Series([np.asarray(a, dtype=np.int64) for a, _ in pairs],
                       dtype=object)
        t2 = pd.Series([np.asarray(b, dtype=np.int64) for _, b in pairs],
                       dtype=object)
        got = longest_common_run_batch_np(t1, t2)
        for i, (a, b) in enumerate(pairs):
            expect = _lcrun_scalar(
                np.asarray(a, dtype=np.int64), np.asarray(b, dtype=np.int64)
            ) if a and b else 0
            assert got[i] == expect


def test_lcr_batch_length_skew(rng):
    """Regression (session-6 review): one giant pair among many short ones
    must not inflate the whole batch's rectangle — bucketed by length
    class, the mixed batch stays bit-identical to the scalar oracle and
    the giant pair costs ~its own area, not n*max*max."""
    from recordlinkage_spark.suffix import (_lcrun_scalar,
                                            longest_common_run_batch_np)

    t1 = [rng.randint(0, 9, 12).astype(np.int64) for _ in range(300)]
    t2 = [rng.randint(0, 9, 12).astype(np.int64) for _ in range(300)]
    big = rng.randint(0, 9, 3000).astype(np.int64)
    t1.append(big)
    t2.append(np.concatenate([big[:100], rng.randint(0, 9, 500).astype(np.int64)]))
    s1, s2 = pd.Series(t1, dtype=object), pd.Series(t2, dtype=object)
    got = longest_common_run_batch_np(s1, s2)
    assert got[-1] >= 100  # the planted shared prefix
    for i in range(len(t1)):
        assert got[i] == _lcrun_scalar(t1[i], t2[i])
