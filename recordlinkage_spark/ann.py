"""Approximate-nearest-neighbor search over embedding columns.

Beyond-the-reference operator set for training-data pipelines (task brief):
- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  O(n·q), but the scoring kernel is ONE numpy matmul per Arrow batch
  (corpus batch × broadcast query matrix) with a per-batch top-k cut, so
  only ~(k+1)·batches·q rows ever reach the final window; right-sized
  when the query set is small enough to broadcast.
- ``cosine_all_pairs``: exact all-pairs at a cosine threshold — the
  near-dup correctness oracle. Quadratic by definition; the corpus matrix
  is broadcast into a batched matmul kernel, so it distributes but is
  only for oracle-scale corpora. The 100 TB path is the LSH variant.
- ``lsh_topk`` / ``embedding_near_dup_pairs``: random-hyperplane LSH
  (sign bits of random projections) shrink the candidate set; exact
  cosine is evaluated only within matching buckets. All ``tables`` hash
  codes come from a SINGLE matmul pass over the vectors, and the bucket
  self-join runs through the same capped, skew-safe pair expander as the
  MinHash pass (minhash.bucket_pairs) — a degenerate bucket (zero
  vectors, boilerplate cell) is dropped at the cap instead of going
  quadratic.
- ``ivf_topk``: IVF (inverted-file) search — a TRAINED coarse quantizer
  (spherical k-means on a seeded driver-side sample) instead of LSH's
  data-oblivious hyperplanes. Corpus vectors are assigned to their
  nearest-centroid list in one matmul pass; a query probes only its
  ``nprobe`` nearest lists. The probe table (query_id, list_id) is tiny
  and BROADCAST, so the corpus side never shuffles — each partition
  filters itself against the broadcast probes, which is the shape that
  survives a 100 TB corpus (data-dependent lists also partition real
  clustered data far more evenly than hyperplane cells).

No per-row Python anywhere: every kernel stacks the Arrow batch into an
(N, dim) ndarray and does matrix math (input_hint: vectorized
pandas/Arrow UDFs only).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from recordlinkage_spark.minhash import bucket_pairs


# ---------------------------------------------------------------------------
# numpy helpers
# ---------------------------------------------------------------------------

def _stack(vecs: pd.Series) -> np.ndarray:
    """(N, dim) float64 matrix from an Arrow list column (no nulls)."""
    return np.array(vecs.tolist(), dtype=np.float64)

def _normalize_rows(M: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0  # zero vector -> cosine 0 instead of NaN
    return M / norms


# Driver-side collect ceiling for query/oracle matrices: 500k rows at
# dim 128 float64 is ~0.5 GB — comfortably broadcastable; beyond that the
# collect is an undiagnosed driver OOM waiting to happen.
MAX_COLLECT_ROWS = 500_000


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str,
                    max_rows: int | None = MAX_COLLECT_ROWS,
                    caller: str = "this function"):
    """Driver-side (ids, matrix) for a broadcastable vector set.

    Count-gated (mirrors classifiers._guarded_collect): these matrices are
    broadcast into Arrow kernels, so they must be driver/executor-resident.
    A user pointing the query/oracle side at a corpus-scale table gets a
    diagnosed ValueError naming the bucketed alternative instead of a
    driver OOM (VERDICT r3 "What's wrong" #2).

    The gate is a BOUNDED collect (limit max_rows+1), not a count() plus
    an unbounded collect: the limit stops the scan early and caps driver
    transfer at max_rows rows either way, and folding the gate into the
    collect saves one full count job per call (r6: one Spark job instead
    of two on every query-matrix collect)."""
    if max_rows is not None:
        pdf = df.select(id_col, vec_col).limit(max_rows + 1).toPandas()
        if len(pdf) > max_rows:
            raise ValueError(
                f"{caller} collects its vector set to the driver "
                f"(> limit {max_rows} rows). For corpus-scale inputs "
                "use the bucketed path (embedding_near_dup_pairs / "
                "lsh_topk with a bounded query set), or raise max_rows "
                "explicitly if the driver really has the memory."
            )
    else:
        pdf = df.select(id_col, vec_col).toPandas()
    pdf = pdf[pdf[vec_col].notna()]
    ids = pdf[id_col].to_numpy()
    if len(pdf) == 0:
        return ids, np.zeros((0, 1))
    return ids, _stack(pdf[vec_col])


# ---------------------------------------------------------------------------
# pair cosine: one fused Arrow kernel (interpreted higher-order lambdas
# measured ~35x slower, PLANS.md addendum #1)
# ---------------------------------------------------------------------------

def _cosine_pairs_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    ok = (a.notna() & b.notna()).to_numpy()
    out = np.full(len(a), np.nan)
    if ok.any():
        A = _stack(a[ok])
        B = _stack(b[ok])
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        den[den == 0.0] = np.inf
        out[ok] = num / den
    return pd.Series(out)


def cosine_pairs(a, b):
    """Vectorized cosine over two array columns: one einsum per batch.

    (UDF built lazily — pandas_udf type parsing needs an active session.)"""
    return F.pandas_udf(_cosine_pairs_batch, "double")(a, b)


# ---------------------------------------------------------------------------
# exact baselines
# ---------------------------------------------------------------------------

def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine; broadcast the queries.

    Per Arrow batch: stack the corpus vectors, one (N,dim)@(dim,q) matmul
    against the normalized query matrix, deterministic per-batch top-(k+1)
    (cosine desc, corpus id asc — the +1 survives self-match removal), then
    a global window for the final rank. Deterministic tiebreak so results
    are stable and oracle-comparable. Excludes self-matches on id collision.
    """
    q_id_col = q_id_col or id_col
    spark = corpus.sparkSession
    q_ids, Q = _collect_matrix(queries, q_id_col, vec_col,
                               caller="cosine_topk (query side)")
    q_type = dict(queries.dtypes)[q_id_col]
    id_type = dict(corpus.dtypes)[id_col]
    schema = f"query_id {q_type}, neighbor_id {id_type}, cosine double"
    if len(q_ids) == 0:
        return spark.createDataFrame([], schema + ", rank int")
    Qt = _normalize_rows(Q).T  # (dim, q)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            Cn = _normalize_rows(_stack(pdf[vec_col]))
            S = Cn @ Qt  # (n, q)
            c_ids = pdf[id_col].to_numpy()
            take = min(k + 1, len(c_ids))
            # ONE lexsort over all query columns (axis=0 sorts each
            # column independently) and ONE output frame per batch — the
            # previous per-query Python loop built q DataFrames per
            # Arrow batch, dominating at large query counts (session-8
            # review fix; exact-equality-tested against the loop,
            # including the cosine-tie id-asc tiebreak an argpartition
            # shortcut would break).
            ids_bc = np.broadcast_to(c_ids[:, None], S.shape)
            order = np.lexsort((ids_bc, -S), axis=0)[:take]
            sel_ids = np.take_along_axis(ids_bc, order, axis=0)
            sel_sc = np.take_along_axis(S, order, axis=0)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, take),
                    "neighbor_id": sel_ids.T.ravel(),
                    "cosine": sel_sc.T.ravel(),
                }
            )

    scored = (
        corpus.select(id_col, vec_col)
        .mapInPandas(score, schema=schema)
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_all_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs (id_1 > id_2) with cosine >= threshold.

    Broadcast the full normalized corpus matrix into a batched matmul
    kernel — distributes the O(n^2) score matrix across partitions but
    requires the corpus to fit in executor memory; this is the
    correctness oracle, ``embedding_near_dup_pairs`` is the scale path.
    """
    ids, M = _collect_matrix(df, id_col, vec_col,
                             caller="cosine_all_pairs (exact oracle)")
    id_type = dict(df.dtypes)[id_col]
    Mt = _normalize_rows(M).T  # (dim, n)

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            Cn = _normalize_rows(_stack(pdf[vec_col]))
            S = Cn @ Mt  # (b, n)
            b_ids = pdf[id_col].to_numpy()
            hit = (S >= threshold) & (b_ids[:, None] > ids[None, :])
            i, j = np.nonzero(hit)
            if len(i):
                yield pd.DataFrame(
                    {"id_1": b_ids[i], "id_2": ids[j], "cosine": S[i, j]}
                )

    return df.select(id_col, vec_col).mapInPandas(
        emit, schema=f"id_1 {id_type}, id_2 {id_type}, cosine double"
    )


# ---------------------------------------------------------------------------
# LSH path
# ---------------------------------------------------------------------------

def _hyperplane_codes_udf(dim: int, bits: int, tables: int, seed: int):
    """pandas UDF: embedding -> array<bigint> of ``tables`` sign-bit codes.

    ALL hash tables come from one (N,dim)@(dim,tables*bits) matmul per
    Arrow batch; bit packing is a (tables,bits)@pow2 dot. Per-table plane
    seeds (seed + 1000*t) match the round-1 layout so bucket values are
    stable across versions. Null vectors hash to bucket 0 in every table.
    """
    planes = np.concatenate(
        [
            np.random.RandomState(seed + 1000 * t).normal(size=(bits, dim))
            for t in range(tables)
        ],
        axis=0,
    ).T  # (dim, tables*bits)
    pow2 = (1 << np.arange(bits - 1, -1, -1)).astype(np.int64)

    def batch(vecs: pd.Series) -> pd.Series:
        n = len(vecs)
        out = np.zeros((n, tables), dtype=np.int64)
        ok = vecs.notna().to_numpy()
        if ok.any():
            V = _stack(vecs[ok])
            signs = (V @ planes) > 0  # (m, tables*bits)
            out[ok] = signs.reshape(-1, tables, bits).astype(np.int64) @ pow2
        return pd.Series(list(out))

    return F.pandas_udf(batch, "array<bigint>")


def lsh_buckets(
    df: DataFrame, dim: int, id_col: str = "vec_id", vec_col: str = "embedding",
    bits: int = 12, tables: int = 4, seed: int = 42,
) -> DataFrame:
    """(id, table_id, bucket) — one row per hash table, ONE pass over the
    vectors (single matmul UDF + posexplode).

    Null vectors are filtered HERE, at the source: the hash UDF would
    send every null to bucket 0 of every table, inflating those buckets
    toward the cap (dropping legitimate code-0 vectors' pairs) while the
    null pairs themselves die later at the NaN-cosine filter anyway —
    pure cap pollution. lsh_topk additionally filters both of its sides
    (its query matrix is collected driver-side before bucketing)."""
    udf = _hyperplane_codes_udf(dim, bits, tables, seed)
    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.posexplode(udf(F.col(vec_col).cast("array<double>"))).alias(
            "table_id", "bucket"
        ),
    )


def embedding_near_dup_pairs(
    df: DataFrame, dim: int, threshold: float = 0.9,
    id_col: str = "vec_id", vec_col: str = "embedding",
    bits: int = 12, tables: int = 4, seed: int = 42,
    bucket_cap: int = 2000,
) -> DataFrame:
    """All pairs with cosine >= threshold among LSH-bucket collisions.

    Pair expansion goes through minhash.bucket_pairs: one shuffle on the
    (table_id, bucket) key, streaming in-bucket expansion with the bucket
    cap — a hot bucket is dropped at the cap instead of fanning out
    quadratically. Verification is the Arrow einsum kernel.
    """
    buckets = lsh_buckets(df, dim, id_col, vec_col, bits, tables, seed)
    id_type = dict(df.dtypes)[id_col]
    cands = bucket_pairs(buckets, ["table_id", "bucket"], cap=bucket_cap,
                         id_type=id_type)
    vecs = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    return (
        cands.join(vecs.withColumnRenamed("id", "id_1").withColumnRenamed("_v", "_v1"), "id_1")
        .join(vecs.withColumnRenamed("id", "id_2").withColumnRenamed("_v", "_v2"), "id_2")
        .withColumn("cosine", cosine_pairs(F.col("_v1"), F.col("_v2")))
        .filter(F.col("cosine") >= threshold)
        .select("id_1", "id_2", "cosine")
    )


def lsh_topk(
    corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    bits: int = 8, tables: int = 8, seed: int = 42,
    bucket_cap: int | None = 8192,
) -> DataFrame:
    """Approximate top-k: union of bucket collisions across tables, then
    exact cosine (matmul vs the broadcast query matrix) + window top-k.

    Corpus buckets larger than ``bucket_cap`` are dropped (anti-join on
    the small hot-bucket list) — a degenerate cell costs recall on
    near-orthogonal neighbors instead of a quadratic fan-out.

    Null vectors are filtered up front on BOTH sides: the hash UDF sends
    them to bucket 0 in every table, so an unfiltered null query would
    generate candidate rows whose id is absent from the collected query
    matrix — np.searchsorted on the missing id then reads a wrong (or
    out-of-range) query row in the score kernel (ADVICE r2).
    """
    queries = queries.filter(F.col(vec_col).isNotNull())
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    cb = lsh_buckets(corpus, dim, id_col, vec_col, bits, tables, seed)
    qb = lsh_buckets(queries, dim, id_col, vec_col, bits, tables, seed)
    key = ["table_id", "bucket"]
    if bucket_cap is not None:
        hot = (
            cb.groupBy(*key).count()
            .filter(F.col("count") > bucket_cap).drop("count")
        )
        cb = cb.join(F.broadcast(hot), key, "left_anti")
    cands = (
        qb.withColumnRenamed("id", "query_id")
        .join(cb.withColumnRenamed("id", "neighbor_id"), key)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )

    q_ids, Q = _collect_matrix(queries, id_col, vec_col,
                               caller="lsh_topk (query side)")
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    joined = cands.join(cv, "neighbor_id")
    q_type = dict(queries.dtypes)[id_col]
    id_type = dict(corpus.dtypes)[id_col]
    scored = _score_candidates(joined, q_ids, Q, q_type, id_type)
    return _window_topk(scored, k)


def _score_candidates(joined: DataFrame, q_ids: np.ndarray, Q: np.ndarray,
                      q_type: str, id_type: str) -> DataFrame:
    """Exact cosine for (query_id, neighbor_id, _cv) candidate rows.

    One einsum per Arrow batch against the broadcast normalized query
    matrix; query rows located by searchsorted on the sorted id array.
    Shared verification kernel for the LSH and IVF paths."""
    sort_idx = np.argsort(q_ids)
    q_ids_sorted, Qn = q_ids[sort_idx], _normalize_rows(Q)[sort_idx]

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf["_cv"].notna()]
            if len(pdf) == 0:
                continue
            Cn = _normalize_rows(_stack(pdf["_cv"]))
            pos = np.searchsorted(q_ids_sorted, pdf["query_id"].to_numpy())
            cos = np.einsum("ij,ij->i", Cn, Qn[pos])
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "cosine": cos,
                }
            )

    return joined.mapInPandas(
        score, schema=f"query_id {q_type}, neighbor_id {id_type}, cosine double"
    )


def _window_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# IVF path (trained coarse quantizer)
# ---------------------------------------------------------------------------

def ivf_train(
    df: DataFrame,
    n_lists: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 100_000,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Train spherical-k-means centroids on a seeded corpus sample.

    Returns an L2-normalized (n_lists, dim) float64 centroid matrix.
    Deterministic AND partition-layout-independent: when the corpus
    exceeds ``sample_rows`` the subset is the lowest-``xxhash64(id,
    seed)``-ranked rows — NOT Bernoulli ``sample()`` + ``limit()``,
    both of which select different ROWS under a different partition
    layout (sample() seeds per-partition; limit() takes whatever
    arrives first), so two runs over the same data would train
    different centroids despite the seed (session-8 review fix). A
    hash-threshold prefilter keeps the ranking sort at ~1.25x
    sample_rows rows regardless of corpus size. The collected frame is
    then sorted by id (toPandas order must not leak), init draws come
    from a seeded RandomState, and an emptied list keeps its previous
    centroid. Training is driver-side numpy over at most
    ``sample_rows`` vectors — the same bounded-unique-statistics shape as
    the classifier fits (classifiers.py); assignment of the FULL corpus
    is the distributed pass (``ivf_assign``)."""
    sample = df.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    # Bounded probe collect first: corpora at or under sample_rows (the
    # common case for query/oracle-scale frames) are fully collected by
    # ONE limit(sample_rows+1) job — no separate count() scan. Only a
    # corpus that overflows the probe pays the count, which it needs
    # anyway to size the hash-threshold prefilter; the probe itself
    # stops early under the limit, so its cost is bounded.
    pdf = sample.limit(sample_rows + 1).toPandas()
    if len(pdf) == 0:
        raise ValueError("ivf_train: empty corpus (no non-null vectors)")
    if len(pdf) > sample_rows:
        # total over the NULL-FILTERED frame: sizing the hash-threshold
        # prefilter by the raw row count on a null-heavy corpus kept
        # ~nonnull/total of the intended sample (ADVICE r4)
        total = sample.count()
        h = F.xxhash64(F.col(id_col).cast("string"), F.lit(seed))
        frac = min(1.0, (sample_rows * 1.25) / total)
        sample = sample.withColumn("_h", h)
        if frac < 1.0:
            thresh = int(frac * (1 << 20))
            sample = sample.filter(F.pmod(F.col("_h"), F.lit(1 << 20)) < thresh)
        sample = sample.orderBy("_h", id_col).limit(sample_rows).drop("_h")
        pdf = sample.toPandas()
    pdf = pdf.sort_values(id_col).reset_index(drop=True)
    X = _normalize_rows(_stack(pdf[vec_col]))
    n = len(X)
    k = min(n_lists, n)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(n, size=k, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)  # (n,)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.sum(axis=0)
        C = _normalize_rows(C)
    return C


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "id",
    keep_vec: bool = False,
) -> DataFrame:
    """(id, list_id[, _cv]) — nearest-centroid list per vector.

    One (batch, dim) @ (dim, n_lists) matmul per Arrow batch against the
    broadcast centroid matrix; no shuffle. ``keep_vec=True`` carries the
    vector through so the verify join is avoided entirely."""
    Ct = np.ascontiguousarray(centroids.T)  # (dim, n_lists)
    id_type = dict(df.dtypes)[id_col]
    schema = f"{out_id} {id_type}, list_id int"
    if keep_vec:
        schema += ", _cv array<double>"

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            V = _stack(pdf[vec_col])
            lists = np.argmax(_normalize_rows(V) @ Ct, axis=1).astype(np.int32)
            out = {out_id: pdf[id_col].to_numpy(), "list_id": lists}
            if keep_vec:
                out["_cv"] = list(V)
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(assign, schema=schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 64,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: np.ndarray | None = None,
    sample_rows: int = 100_000,
    train_iters: int = 10,
) -> DataFrame:
    """Approximate top-k via an inverted-file index (IVF-flat, cosine).

    Plan shape (the part that matters at 100 TB):
    1. train: spherical k-means on a seeded bounded sample (driver numpy).
    2. assign: every corpus vector -> nearest-centroid ``list_id`` in one
       broadcast-matmul pass, vector carried along (``keep_vec``) so no
       second scan or join touches the corpus.
    3. probe: each query's ``nprobe`` best lists computed on the driver
       (queries are count-gated broadcastable, same contract as
       ``cosine_topk``); the (query_id, list_id) probe table has
       q * nprobe rows and is BROADCAST — the corpus side is filtered in
       place, never shuffled, and a hot list costs a bigger scan on the
       partitions that hold it rather than a skewed shuffle partition.
    4. verify: exact cosine via the shared einsum kernel + window top-k.

    ``nprobe >= n_lists`` probes every list, which makes the result
    EXACTLY equal to ``cosine_topk`` (same deterministic tiebreak) — the
    equivalence is pytest-pinned; recall at nprobe < n_lists is gated in
    tests/test_recall_gates.py."""
    queries = queries.filter(F.col(vec_col).isNotNull())
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    if centroids is None:
        centroids = ivf_train(
            corpus, n_lists, id_col, vec_col,
            sample_rows=sample_rows, iters=train_iters, seed=seed,
        )
    n_lists = len(centroids)
    nprobe = min(nprobe, n_lists)
    spark = corpus.sparkSession

    q_ids, Q = _collect_matrix(queries, id_col, vec_col,
                               caller="ivf_topk (query side)")
    q_type = dict(queries.dtypes)[id_col]
    id_type = dict(corpus.dtypes)[id_col]
    if len(q_ids) == 0:
        return spark.createDataFrame(
            [], f"query_id {q_type}, neighbor_id {id_type}, cosine double, rank int"
        )
    # driver-side probe selection: (q, n_lists) matmul, top-nprobe lists
    QS = _normalize_rows(Q) @ centroids.T
    order = np.argsort(-QS, axis=1)[:, :nprobe]  # (q, nprobe)

    # Fused assign + probe + score: ONE mapInPandas pass over the corpus.
    # The probe table (q * nprobe rows) is tiny and driver-resident, so
    # instead of materializing it as a DataFrame, broadcast-joining it to
    # the assignment output and scoring in a SECOND Python pass (three
    # plan nodes, two Arrow boundaries), ship it inside the closure as a
    # list_id -> query-row index CSR and do assignment, probe lookup and
    # exact cosine in the same batch kernel. Same math in the same order
    # (normalize, argmax vs centroids, einsum vs the normalized query
    # matrix), so results are bit-identical; the corpus still never
    # shuffles, which is the property that matters at scale.
    sort_idx = np.argsort(q_ids)
    q_ids_sorted, Qn_sorted = q_ids[sort_idx], _normalize_rows(Q)[sort_idx]
    # CSR of probing queries per list: q_of[qoff[l]:qoff[l+1]] = positions
    # (into the sorted query arrays) of the queries probing list l
    probe_list = order.ravel()  # (q*nprobe,) list ids, query-major
    probe_q = np.repeat(np.arange(len(q_ids)), nprobe)
    # map query positions to sorted order
    inv_sort = np.empty(len(q_ids), dtype=np.int64)
    inv_sort[sort_idx] = np.arange(len(q_ids))
    probe_q = inv_sort[probe_q]
    by_list = np.argsort(probe_list, kind="stable")
    q_of = probe_q[by_list]
    qoff = np.zeros(n_lists + 1, dtype=np.int64)
    np.add.at(qoff[1:], probe_list, 1)
    np.cumsum(qoff, out=qoff)
    Ct = np.ascontiguousarray(centroids.T)  # (dim, n_lists)
    qcnt = np.diff(qoff)

    def assign_score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            Vn = _normalize_rows(_stack(pdf[vec_col]))
            lists = np.argmax(Vn @ Ct, axis=1)
            cnts = qcnt[lists]
            total = int(cnts.sum())
            if total == 0:
                continue
            rep = np.repeat(np.arange(len(lists)), cnts)
            rel = np.arange(total) - np.repeat(np.cumsum(cnts) - cnts, cnts)
            qidx = q_of[qoff[lists][rep] + rel]
            cos = np.einsum("ij,ij->i", Vn[rep], Qn_sorted[qidx])
            n_ids = pdf[id_col].to_numpy()[rep]
            out = pd.DataFrame(
                {
                    "query_id": q_ids_sorted[qidx],
                    "neighbor_id": n_ids,
                    "cosine": cos,
                }
            )
            out = out[out["query_id"] != out["neighbor_id"]]
            if len(out):
                yield out

    scored = corpus.select(id_col, vec_col).mapInPandas(
        assign_score,
        schema=f"query_id {q_type}, neighbor_id {id_type}, cosine double",
    )
    return _window_topk(scored, k)
