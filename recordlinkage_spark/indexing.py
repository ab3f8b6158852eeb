"""Indexing operators: candidate-pair generation ("blocking").

Reference semantics: every indexer returns a 2-level MultiIndex of
candidate pairs; dedup mode keeps the strict lower triangle
(recordlinkage/base.py:277-282, recordlinkage/index.py:51-55); multi-pass
``Index.index`` unions the pair sets of all added algorithms
(recordlinkage/base.py:117-124).

Spark design: a pair is a row ``(id_1, id_2)``; dedup canonical ordering is
``id_1 > id_2`` (set-equivalent to the reference's positional lower
triangle). Each pass is one lazy DataFrame expression — Block is a shuffled
equi-join, SNI turns the band join (which Catalyst would otherwise
nested-loop) into two equi-joins through a neighbour-key table built over
the distinct sort keys, Full is a cross join, Random is a seeded draw of
pair codes mapped through the closed-form triangular inverse
(recordlinkage/algorithms/indexing.py:8-17).

Scale notes (10^12 docs): Block/SNI/Full are parity/test passes; the
web-scale passes live in minhash.py / simhash.py / suffix.py. All passes
share this module's pair-schema contract so they union cleanly.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from recordlinkage_spark.caching import pin

PAIR_COLS = ("id_1", "id_2")


def _check_unique_ids(df: DataFrame, id_col: str) -> None:
    """Reference enforces a unique index (recordlinkage/base.py:230-236).

    Eager assertion job; call explicitly (it is an O(n) shuffle — at scale,
    run it once per ingested snapshot, not per pass).
    """
    dup = (
        df.groupBy(id_col).count().filter(F.col("count") > 1).limit(1).collect()
    )
    if dup:
        raise ValueError(
            f"id column {id_col!r} is not unique (e.g. {dup[0][0]!r}); "
            "the engine requires a unique record key"
        )


class BaseIndexAlgorithm:
    """Contract: ``index(df_a, df_b=None, id_col='id')`` -> pairs DataFrame.

    One frame -> dedup (id_1 > id_2); two frames -> link (full space).
    Mirrors recordlinkage/base.py:293-340 dispatch.
    """

    def index(
        self, df_a: DataFrame, df_b: DataFrame | None = None, id_col: str = "id"
    ) -> DataFrame:
        if df_b is None:
            return self._dedup_index(df_a, id_col)
        return self._link_index(df_a, df_b, id_col)

    def _link_index(self, df_a: DataFrame, df_b: DataFrame, id_col: str) -> DataFrame:
        raise NotImplementedError

    def _dedup_index(self, df_a: DataFrame, id_col: str) -> DataFrame:
        # Default: link against self, keep strict lower triangle
        # (recordlinkage/base.py:277-282).
        pairs = self._link_index(df_a, df_a, id_col)
        return pairs.filter(F.col("id_1") > F.col("id_2"))


class Full(BaseIndexAlgorithm):
    """Cartesian product (link) / strict lower triangle (dedup).

    Reference: recordlinkage/index.py:17-55 (with a construction-time perf
    warning, index.py:43-46). Test-scale only at web scale — O(n^2) pairs.
    """

    def _link_index(self, df_a: DataFrame, df_b: DataFrame, id_col: str) -> DataFrame:
        return (
            df_a.select(F.col(id_col).alias("id_1"))
            .crossJoin(df_b.select(F.col(id_col).alias("id_2")))
        )


class Block(BaseIndexAlgorithm):
    """Equi-join on one or more key columns.

    Reference: recordlinkage/index.py:58-148. Rows with any null key are
    dropped *before* the join (index.py:133,139) — we keep the explicit
    filter (not just inner-join null semantics) so per-pass row-count
    metrics match the reference's logging.

    Scale: a shuffled hash join on the block keys. Skewed keys (webtext
    boilerplate) are handled by AQE skew-join plus the LSH passes'
    bucket-size cap; for pathological blocks pre-salt with
    ``repartition(F.col(key), F.pmod(F.hash(id), salt))``.
    """

    def __init__(self, left_on, right_on=None):
        self.left_on = [left_on] if isinstance(left_on, str) else list(left_on)
        right_on = right_on if right_on is not None else self.left_on
        self.right_on = [right_on] if isinstance(right_on, str) else list(right_on)
        if len(self.left_on) != len(self.right_on):
            raise ValueError("left_on and right_on must have the same length")

    def _link_index(self, df_a: DataFrame, df_b: DataFrame, id_col: str) -> DataFrame:
        left = df_a.select(
            F.col(id_col).alias("id_1"),
            *[F.col(c).alias(f"_bk_{i}") for i, c in enumerate(self.left_on)],
        )
        right = df_b.select(
            F.col(id_col).alias("id_2"),
            *[F.col(c).alias(f"_bk_{i}") for i, c in enumerate(self.right_on)],
        )
        # Explicit null-key drop (reference index.py:133,139).
        for i in range(len(self.left_on)):
            left = left.filter(F.col(f"_bk_{i}").isNotNull())
            right = right.filter(F.col(f"_bk_{i}").isNotNull())
        keys = [f"_bk_{i}" for i in range(len(self.left_on))]
        return left.join(right, on=keys, how="inner").select("id_1", "id_2")


class SortedNeighbourhood(BaseIndexAlgorithm):
    """Sorted-neighbourhood indexing.

    Reference: recordlinkage/index.py:151-336. Sorts the union of both key
    sets, dense-ranks keys, then pairs rows whose ranks differ by at most
    (window-1)/2; optional extra exact blocking keys. Window must be odd
    (index.py:263-264); null keys dropped (index.py:292-299).

    Spark: the band join |rank_l - rank_r| <= w2 (SURVEY.md §4) becomes a
    neighbour-key table ``(_snk, _nbk)``: one window over the *distinct
    union of keys* collects, for each key, the keys up to w2 places before
    and after it in sort order (small cardinality — this is the only global
    sort and it sorts keys, not rows). Left rows then join it on ``_snk``
    and right rows join on ``_nbk`` plus the block keys — two distributed
    equi-joins, with no rank column carried through the rows. Same pair
    set as the reference's lagged merge over dense ranks
    (index.py:318-330).
    """

    def __init__(
        self,
        left_on: str,
        right_on: str | None = None,
        window: int = 3,
        block_on=None,
        block_left_on=None,
        block_right_on=None,
    ):
        if window % 2 == 0 or window < 1:
            raise ValueError("window must be a positive odd integer")
        self.left_on = left_on
        self.right_on = right_on or left_on
        self.window = window
        block_on = [block_on] if isinstance(block_on, str) else (block_on or [])
        self.block_left_on = (
            [block_left_on]
            if isinstance(block_left_on, str)
            else (block_left_on or list(block_on))
        )
        self.block_right_on = (
            [block_right_on]
            if isinstance(block_right_on, str)
            else (block_right_on or list(block_on))
        )

    def _keyed(self, df: DataFrame, key: str, id_col: str, blocks, side: str):
        cols = [F.col(id_col).alias(f"id_{side}"), F.col(key).alias("_snk")]
        cols += [F.col(c).alias(f"_blk_{i}") for i, c in enumerate(blocks)]
        out = df.select(*cols).filter(F.col("_snk").isNotNull())
        for i in range(len(blocks)):
            out = out.filter(F.col(f"_blk_{i}").isNotNull())
        return out

    def _link_index(self, df_a: DataFrame, df_b: DataFrame, id_col: str) -> DataFrame:
        w2 = (self.window - 1) // 2
        left = self._keyed(df_a, self.left_on, id_col, self.block_left_on, "1")
        right = self._keyed(df_b, self.right_on, id_col, self.block_right_on, "2")
        # Neighbour-key table over the distinct union of sort-key values
        # (reference index.py:249-253 factorizes over the same union): each
        # key with every key at most w2 places away in sort order, itself
        # included. The unpartitioned window funnels the distinct-key table
        # through ONE task — acceptable here because SNI is a linkage
        # parity pass over person-scale key domains (module header: the
        # web-scale passes are minhash/simhash/suffix); a corpus-scale sort
        # key does not belong in this indexer. Records never enter it.
        near = Window.orderBy("_snk").rowsBetween(-w2, w2)
        neighbours = (
            left.select("_snk")
            .union(right.select("_snk"))
            .distinct()
            .withColumn("_nbk", F.collect_list("_snk").over(near))
            .withColumn("_nbk", F.explode("_nbk"))
        )
        blocks = [f"_blk_{i}" for i in range(len(self.block_left_on))]
        # one (key, neighbour) row per key pair, so with unique ids every
        # record pair appears once: dedup mode needs only id_1 > id_2
        return (
            left.join(neighbours, "_snk")
            .join(right.withColumnRenamed("_snk", "_nbk"), ["_nbk", *blocks])
            .select("id_1", "id_2")
        )


class NeighbourhoodBlock(BaseIndexAlgorithm):
    """Generalized blocking: per-field rank windows + null wildcards +
    a mismatch budget.

    Reference: recordlinkage/contrib/index/neighbourhoodblock/
    neighbourhoodblock.py:8-248. Accept rule (:218-225): with per-field
    dense ranks over the union of both frames (nulls keep NaN rank =
    wildcard, :124-139), a pair is kept iff

        n_fields(|rank_l - rank_r| <= window//2)
          + min(n_fields(null on either side), max_nulls)
        >= n_keys - max_non_matches

    Special cases (documented at :45-52): Block = defaults;
    SortedNeighbourhood = windows=[w,1,..]; Full = max_non_matches >= keys.

    Spark design (the reference's recursive block-coarsening is a
    single-node pruning trick — SURVEY.md §4): candidate generation is the
    UNION over fields of rank-window equi-joins (explode offsets
    -w2..w2, join on rank+offset), i.e. every pair that MATCHES at least
    one field; a verification join against both rank vectors then applies
    the exact accept rule. Whenever max_nulls + max_non_matches >= n_keys
    a pair can qualify with zero real field matches, so generation falls
    back to the full product (same asymptotics the reference hits in that
    degenerate regime).
    """

    def __init__(self, left_on, right_on=None, max_nulls: int = 0,
                 max_non_matches: int = 0, windows=1):
        self.left_on = [left_on] if isinstance(left_on, str) else list(left_on)
        right_on = right_on if right_on is not None else self.left_on
        self.right_on = [right_on] if isinstance(right_on, str) else list(right_on)
        if len(self.left_on) != len(self.right_on) or not self.left_on:
            raise IndexError("Invalid blocking keys")
        self.max_nulls = int(max_nulls)
        self.max_non_matches = int(max_non_matches)
        windows = [windows] if isinstance(windows, int) else list(windows)
        n = len(self.left_on)
        windows = windows + windows[-1:] * (n - len(windows))
        if len(windows) > n or not all(
            isinstance(w, int) and w > 0 and w % 2 == 1 for w in windows
        ):
            raise ValueError(
                "Windows must be positive odd integers and the maximum "
                "number allowed is the number of blocking keys"
            )
        self.windows = windows

    def _link_index(self, df_a: DataFrame, df_b: DataFrame, id_col: str) -> DataFrame:
        n = len(self.left_on)
        # build both rank vectors, one shared rank table per field
        l_parts, r_parts = [], []
        for i, (ka, kb) in enumerate(zip(self.left_on, self.right_on)):
            vals = (
                df_a.select(F.col(ka).alias("_v"))
                .union(df_b.select(F.col(kb).alias("_v")))
                .filter(F.col("_v").isNotNull())
                .distinct()
                # single-task window over the distinct per-field value
                # domain — fine for this contrib linkage pass (see the
                # SNI note above); not a corpus-scale path
                .withColumn(f"_rk_{i}", F.dense_rank().over(Window.orderBy("_v")))
            )
            l_parts.append(
                df_a.select(F.col(id_col).alias("id_1"), F.col(ka).alias("_v"))
                .join(vals, "_v", "left").drop("_v")
            )
            r_parts.append(
                df_b.select(F.col(id_col).alias("id_2"), F.col(kb).alias("_v"))
                .join(vals, "_v", "left").drop("_v")
            )
        ranks_l = l_parts[0]
        for p in l_parts[1:]:
            ranks_l = ranks_l.join(p, "id_1")
        ranks_r = r_parts[0]
        for p in r_parts[1:]:
            ranks_r = ranks_r.join(p, "id_2")
        # localCheckpoint (lazy), not persist(): both are consumed by
        # every per-field window join below, and checkpoint blocks are
        # ContextCleaner-collected once the returned plan is
        # unreferenced — persist() leaked two CacheManager entries per
        # index() call for the session lifetime (session-8 review fix).
        ranks_l = pin(ranks_l)
        ranks_r = pin(ranks_r)

        if self.max_nulls + self.max_non_matches >= n:
            cands = ranks_l.select("id_1").crossJoin(ranks_r.select("id_2"))
        else:
            per_field = []
            for i, w in enumerate(self.windows):
                w2 = (w - 1) // 2
                lf = ranks_l.select("id_1", F.col(f"_rk_{i}").alias("_rk")).filter(
                    F.col("_rk").isNotNull()
                )
                if w2:
                    lf = lf.withColumn(
                        "_off", F.explode(F.sequence(F.lit(-w2), F.lit(w2)))
                    ).withColumn("_rk", F.col("_rk") + F.col("_off")).drop("_off")
                rf = ranks_r.select("id_2", F.col(f"_rk_{i}").alias("_rk")).filter(
                    F.col("_rk").isNotNull()
                )
                per_field.append(lf.join(rf, "_rk").select("id_1", "id_2"))
            cands = per_field[0]
            for p in per_field[1:]:
                cands = cands.unionByName(p)
            cands = cands.dropDuplicates(["id_1", "id_2"])

        j = cands.join(ranks_l, "id_1").join(
            ranks_r.select(
                "id_2", *[F.col(f"_rk_{i}").alias(f"_rk2_{i}") for i in range(n)]
            ),
            "id_2",
        )
        null_k = [
            (F.col(f"_rk_{i}").isNull() | F.col(f"_rk2_{i}").isNull()).cast("int")
            for i in range(n)
        ]
        match_k = [
            (
                F.abs(F.col(f"_rk_{i}") - F.col(f"_rk2_{i}"))
                <= F.lit((self.windows[i] - 1) // 2)
            ).cast("int")
            for i in range(n)
        ]
        nulls = sum(null_k[1:], null_k[0])
        matches = sum(
            [F.coalesce(m, F.lit(0)) for m in match_k[1:]],
            F.coalesce(match_k[0], F.lit(0)),
        )
        accept = (
            matches + F.least(nulls, F.lit(self.max_nulls))
            >= F.lit(n - self.max_non_matches)
        )
        return j.filter(accept).select("id_1", "id_2")


def _tri_inverse(codes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Closed-form inverse of the strict-lower-triangle enumeration.

    Maps code k in [0, n(n-1)/2) to (i, j) with i > j, matching the role of
    recordlinkage/algorithms/indexing.py:8-17 (independent derivation:
    i = floor((1+sqrt(1+8k))/2), j = k - i(i-1)/2).
    """
    i = ((1.0 + np.sqrt(1.0 + 8.0 * codes.astype(np.float64))) / 2.0).astype(np.int64)
    # float sqrt can be off by one at large k; fix up exactly.
    tri = i * (i - 1) // 2
    i = np.where(tri > codes, i - 1, i)
    tri = i * (i - 1) // 2
    i = np.where(codes >= tri + i, i + 1, i)
    j = codes - i * (i - 1) // 2
    return i, j


class Random(BaseIndexAlgorithm):
    """n random candidate pairs, seeded.

    Reference: recordlinkage/index.py:339-443 (dense np.random.choice and
    low-memory rejection-sampling variants). Spark design: draw pair *codes*
    on the driver with a seeded RNG (k codes is small — Random is for
    training samples), map code -> (pos_i, pos_j) with the triangular
    inverse, then join positions back to ids via ``row_number`` over the id
    order. The expensive part (position->id) is distributed.
    """

    def __init__(self, n: int, replace: bool = True, random_state=None):
        self.n = n
        self.replace = replace
        self.random_state = random_state

    def _draw(self, n_max: int) -> np.ndarray:
        rng = np.random.RandomState(self.random_state)
        if n_max <= 0 or self.n <= 0:
            # empty pair space (e.g. dedup over a 1-record frame): an
            # empty draw, not numpy's obscure "low >= high" ValueError
            return np.zeros(0, dtype=np.int64)
        if self.replace:
            return rng.randint(0, n_max, self.n).astype(np.int64)
        if self.n > n_max:
            raise ValueError("cannot sample more pairs than exist without replacement")
        # Rejection sampling (low-memory variant, algorithms/indexing.py:66-100):
        # never materializes range(n_max).
        seen: set[int] = set()
        out = []
        while len(out) < self.n:
            draw = rng.randint(0, n_max, max(self.n - len(out), 16))
            for c in draw:
                ci = int(c)
                if ci not in seen:
                    seen.add(ci)
                    out.append(ci)
                    if len(out) == self.n:
                        break
        return np.asarray(out, dtype=np.int64)

    def _positions(self, df: DataFrame, id_col: str) -> DataFrame:
        """Deterministic bijection id -> [0, n) with NO single-partition
        sort: hash-bucket each id, rank within its bucket (a partitioned
        window — every bucket sorts independently), add the bucket's
        cumulative offset (tiny collected count table, broadcast back).
        Cross-bucket order is irrelevant: a uniform draw over positions
        maps to a uniform draw over ids under ANY fixed bijection, and
        the bijection is deterministic (hash + unique-id rank), so seeded
        draws stay reproducible. The bucket count is a CONSTANT, not a
        function of cluster parallelism — otherwise the id->position
        bijection (and every seeded draw) would change with executor
        count (ADVICE r2); 256 buckets keeps the per-bucket window sorts
        partitioned on any cluster size."""
        spark = df.sparkSession
        n_b = 256
        ids = df.select(id_col).withColumn(
            "_pid", F.pmod(F.hash(F.col(id_col)), F.lit(n_b))
        )
        counts = {
            r["_pid"]: r["cnt"]
            for r in ids.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
        }
        offs, acc = [], 0
        for pid in range(n_b):
            offs.append((pid, acc))
            acc += counts.get(pid, 0)
        off_df = spark.createDataFrame(offs, "_pid int, _off long")
        w = Window.partitionBy("_pid").orderBy(id_col)
        return (
            ids.join(F.broadcast(off_df), "_pid")
            .withColumn("_pos", F.col("_off") + F.row_number().over(w) - 1)
            .select(id_col, "_pos")
        )

    def _link_index(self, df_a: DataFrame, df_b: DataFrame, id_col: str) -> DataFrame:
        spark = df_a.sparkSession
        n_a, n_b = df_a.count(), df_b.count()
        codes = self._draw(n_a * n_b)
        code_df = spark.createDataFrame(
            [(int(c // n_b), int(c % n_b)) for c in codes], "pos_1 long, pos_2 long"
        )
        # broadcast the SMALL side (the code list, ~n rows) against the
        # full positions tables; the second join broadcasts the ~n-row
        # intermediate — the records tables are never broadcast
        pa = self._positions(df_a, id_col).withColumnRenamed(id_col, "id_1")
        pb = self._positions(df_b, id_col).withColumnRenamed(id_col, "id_2")
        j1 = pa.withColumnRenamed("_pos", "pos_1").join(F.broadcast(code_df), "pos_1")
        return (
            pb.withColumnRenamed("_pos", "pos_2")
            .join(F.broadcast(j1), "pos_2")
            .select("id_1", "id_2")
        )

    def _dedup_index(self, df_a: DataFrame, id_col: str) -> DataFrame:
        spark = df_a.sparkSession
        n = df_a.count()
        codes = self._draw(n * (n - 1) // 2)
        pos_i, pos_j = _tri_inverse(codes)
        code_df = spark.createDataFrame(
            [(int(i), int(j)) for i, j in zip(pos_i, pos_j)], "pos_1 long, pos_2 long"
        )
        pos = self._positions(df_a, id_col)
        p1 = pos.withColumnRenamed(id_col, "_ida").withColumnRenamed("_pos", "pos_1")
        p2 = pos.withColumnRenamed(id_col, "_idb").withColumnRenamed("_pos", "pos_2")
        j1 = p1.join(F.broadcast(code_df), "pos_1")
        joined = p2.join(F.broadcast(j1), "pos_2")
        # canonical id_1 > id_2 regardless of positional orientation
        return joined.select(
            F.greatest("_ida", "_idb").alias("id_1"),
            F.least("_ida", "_idb").alias("id_2"),
        )


class Index:
    """Multi-pass builder: union of candidate-pair sets.

    Mirrors recordlinkage.Index (recordlinkage/api.py:34-96 shortcuts;
    union semantics recordlinkage/base.py:117-124). ``dropDuplicates`` on
    (id_1, id_2) reproduces MultiIndex.union set semantics.
    """

    def __init__(self, algorithms=None):
        self.algorithms: list[BaseIndexAlgorithm] = list(algorithms or [])

    def add(self, algorithm: BaseIndexAlgorithm) -> "Index":
        self.algorithms.append(algorithm)
        return self

    # fluent shortcuts, same names as recordlinkage/api.py
    def full(self) -> "Index":
        return self.add(Full())

    def block(self, left_on, right_on=None) -> "Index":
        return self.add(Block(left_on, right_on))

    def sortedneighbourhood(self, left_on, right_on=None, window=3, **kw) -> "Index":
        return self.add(SortedNeighbourhood(left_on, right_on, window, **kw))

    def random(self, n, replace=True, random_state=None) -> "Index":
        return self.add(Random(n, replace, random_state))

    def index(
        self,
        df_a: DataFrame,
        df_b: DataFrame | None = None,
        id_col: str = "id",
        verify_unique: bool = False,
        log_stats: bool = False,
    ) -> DataFrame:
        """Union of all passes. With ``log_stats=True``, records per-pass
        pair counts + reduction ratio vs the full index into
        ``self.pass_stats`` (reference base.py:127-159 logs the same) —
        opt-in because each count is an extra Spark job."""
        if not self.algorithms:
            raise ValueError("call .add()/.block()/... before .index()")
        if verify_unique:
            _check_unique_ids(df_a, id_col)
            if df_b is not None:
                _check_unique_ids(df_b, id_col)
        self.pass_stats: list[dict] = []
        if log_stats:
            n_a = df_a.count()
            n_full = full_index_size(n_a, None if df_b is None else df_b.count())
        out = None
        for alg in self.algorithms:
            pairs = alg.index(df_a, df_b, id_col)
            if log_stats:
                n = pairs.count()
                self.pass_stats.append({
                    "pass": type(alg).__name__,
                    "pairs": n,
                    "reduction_ratio": 1.0 - n / n_full if n_full else 0.0,
                })
            out = pairs if out is None else out.unionByName(pairs)
        if len(self.algorithms) > 1:
            out = out.dropDuplicates(["id_1", "id_2"])
        return out


def full_index_size(n_a: int, n_b: int | None = None) -> int:
    """n(n-1)/2 for dedup, n*m for link (recordlinkage/measures.py:79-120)."""
    if n_b is None:
        return n_a * (n_a - 1) // 2
    return n_a * n_b
