"""Compare operators: per-pair feature vectors.

Reference execution contract (recordlinkage/base.py:617-726): gather only
the referenced columns, align them to the pair index via two row-lookup
joins (utils.py:178-205), run each feature's vectorized kernel on aligned
Series, union results column-wise preserving labels (base.py:728-796).

Spark design: ``Compare.compute(pairs, df_a, df_b)`` performs exactly the
two gathers as hash joins — ``pairs ⋈ records on id_1`` and ``⋈ on id_2``
projecting only needed columns (the reference's own column pruning,
base.py:660-668, is Catalyst's for free) — then evaluates every feature in
ONE ``select``: JVM column expressions where possible (Exact, Numeric,
Geographic, Date, Variable — whole-stage codegen), Arrow-batched pandas
UDFs for string metrics (the only Python hot path). Frequency is the one
windowed feature and is evaluated in a second pass (window over the
pair-aligned value column, compare.py:535-549).

Scale: the gathers shuffle on record id — at 10^12 docs bucket the records
table on id so the pair⋈records join co-locates; string-UDF features are
embarrassingly parallel over pair partitions (the reference's joblib
chunking, base.py:646-654, is exactly partition parallelism).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from recordlinkage_spark import stringmetrics as sm

_L = "_l_"
_R = "_r_"


def _missing(col_l: Column, col_r: Column, expr: Column, missing_value) -> Column:
    return F.when(
        col_l.isNull() | col_r.isNull(), F.lit(missing_value).cast("double")
    ).otherwise(expr)


class BaseCompareFeature:
    """One feature = (left columns, right columns, label, build())."""

    def __init__(self, left_on, right_on, label=None):
        self.left_on = [left_on] if isinstance(left_on, str) else list(left_on)
        self.right_on = [right_on] if isinstance(right_on, str) else list(right_on)
        self.label = label

    def build(self) -> Column:
        """Return the feature as a Column over the pair-aligned frame where
        left values live at ``_l_<col>`` and right values at ``_r_<col>``."""
        raise NotImplementedError

    def _l(self, i=0) -> Column:
        return F.col(_L + self.left_on[i])

    def _r(self, i=0) -> Column:
        return F.col(_R + self.right_on[i])


class Exact(BaseCompareFeature):
    """1 if equal else 0; agree_value='value' passes the value through.

    Reference: recordlinkage/compare.py:25-80. The missing fill applies only
    when disagree_value != missing_value (compare.py:76-78).
    """

    def __init__(self, left_on, right_on, agree_value=1, disagree_value=0,
                 missing_value=0, label=None):
        super().__init__(left_on, right_on, label)
        self.agree_value = agree_value
        self.disagree_value = disagree_value
        self.missing_value = missing_value

    def build(self) -> Column:
        l, r = self._l(), self._r()
        if self.agree_value == "value":
            expr = F.when(l == r, l).otherwise(F.lit(self.disagree_value))
            if self.disagree_value != self.missing_value:
                expr = F.when(
                    l.isNull() | r.isNull(), F.lit(self.missing_value)
                ).otherwise(expr)
            # value mode keeps the column's own type (the reference passes
            # the raw value through, compare.py:66-69); casting to double
            # turned string-column agreements into NULLs — exactly the
            # agreeing pairs (session-8 review fix)
            return expr
        expr = F.when(l == r, F.lit(self.agree_value)).otherwise(
            F.lit(self.disagree_value)
        )
        if self.disagree_value != self.missing_value:
            expr = F.when(l.isNull() | r.isNull(), F.lit(self.missing_value)).otherwise(expr)
        return expr.cast("double")


class StringCompare(BaseCompareFeature):
    """Normalized string similarity in [0,1].

    Reference: recordlinkage/compare.py:83-161. Threshold keeps NaN through
    the cut then fills (compare.py:154-160) — we preserve NULL through the
    threshold the same way.

    'levenshtein' runs fully JVM-side (Spark's built-in levenshtein); every
    other method is an Arrow-batched pandas UDF over stringmetrics kernels.
    """

    METHODS = ("jaro", "jarowinkler", "levenshtein", "damerau_levenshtein",
               "qgram", "cosine", "smith_waterman", "lcs")

    def __init__(self, left_on, right_on, method="levenshtein", threshold=None,
                 missing_value=0.0, label=None):
        super().__init__(left_on, right_on, label)
        aliases = {
            "jaro_winkler": "jarowinkler", "jw": "jarowinkler",
            "dameraulevenshtein": "damerau_levenshtein", "dl": "damerau_levenshtein",
            "q_gram": "qgram", "smithwaterman": "smith_waterman",
            "sw": "smith_waterman", "longest_common_substring": "lcs",
        }
        method = aliases.get(method, method)
        if method not in self.METHODS:
            raise ValueError(f"The algorithm '{method}' is not known.")
        self.method = method
        self.threshold = threshold
        self.missing_value = missing_value

    def _sim(self) -> Column:
        l, r = self._l(), self._r()
        if self.method == "levenshtein":
            # JVM-side: 1 - dist/max(len) (string.py:49-63). greatest()=0
            # yields NULL via division by zero (matches the NaN path).
            mx = F.greatest(F.length(l), F.length(r))
            sim = F.lit(1.0) - F.levenshtein(l, r) / mx
            return F.when(l.isNull() | r.isNull() | (mx == 0), F.lit(None).cast("double")).otherwise(sim)
        batch = {
            "jaro": sm.jaro_batch,
            "jarowinkler": sm.jaro_winkler_batch,
            "damerau_levenshtein": sm.damerau_levenshtein_batch,
            "qgram": sm.qgram_batch,
            "cosine": sm.cosine_batch,
            "smith_waterman": sm.smith_waterman_batch,
            "lcs": sm.lcs_batch,
        }[self.method]
        udf = F.pandas_udf(batch, DoubleType())
        return udf(l.cast("string"), r.cast("string"))

    def build(self) -> Column:
        sim = self._sim()
        if self.threshold is not None:
            sim = F.when(sim.isNull(), F.lit(None).cast("double")).when(
                sim >= F.lit(float(self.threshold)), F.lit(1.0)
            ).otherwise(F.lit(0.0))
        return F.coalesce(sim, F.lit(float(self.missing_value)))


def _decay(d: Column, method: str, offset: float, scale: float, origin: float) -> Column:
    """The five ES-style decay kernels (recordlinkage/algorithms/numeric.py:7-82),
    as pure column arithmetic (whole-stage codegen)."""
    if offset < 0:
        raise ValueError("The offset must be positive.")
    if method != "step" and scale <= 0:
        raise ValueError("The scale must be larger than 0. ")
    ad = F.abs(d - F.lit(origin))
    if method == "step":
        return (ad <= F.lit(offset)).cast("double")
    if method == "linear":
        c = F.least(F.greatest(ad, F.lit(offset)), F.lit(offset + 2 * scale))
        return F.lit(1.0) - (c - F.lit(offset)) / F.lit(2 * scale)
    if method == "squared":
        c = F.least(F.greatest(ad, F.lit(offset)), F.lit(offset + 2 ** 0.5 * scale))
        return F.lit(1.0) - F.lit(0.5) * F.pow((c - F.lit(offset)) / F.lit(scale), F.lit(2.0))
    if method == "exp":
        c = F.greatest(ad, F.lit(offset))
        return F.pow(F.lit(2.0), -(c - F.lit(offset)) / F.lit(scale))
    if method == "gauss":
        c = F.greatest(ad, F.lit(offset))
        return F.pow(F.lit(2.0), -F.pow((c - F.lit(offset)) / F.lit(scale), F.lit(2.0)))
    raise ValueError(f"The algorithm '{method}' is not known.")


class Numeric(BaseCompareFeature):
    """Distance → similarity via step/linear/squared/exp/gauss decay.

    Reference: recordlinkage/compare.py:165-248, kernels algorithms/numeric.py.
    """

    def __init__(self, left_on, right_on, method="linear", offset=0.0, scale=1.0,
                 origin=0.0, missing_value=0.0, label=None):
        super().__init__(left_on, right_on, label)
        self.method, self.offset, self.scale, self.origin = method, offset, scale, origin
        self.missing_value = missing_value

    def build(self) -> Column:
        l, r = self._l(), self._r()
        d = r.cast("double") - l.cast("double")  # algorithms/distance.py:6-7
        return _missing(l, r, _decay(d, self.method, self.offset, self.scale, self.origin),
                        self.missing_value)


def haversine_km(lat1: Column, lng1: Column, lat2: Column, lng2: Column) -> Column:
    """Haversine distance in km, R=6371 (algorithms/distance.py:10-21)."""
    dlat = F.radians(lat2) - F.radians(lat1)
    dlng = F.radians(lng2) - F.radians(lng1)
    a = F.pow(F.sin(dlat / 2), F.lit(2.0)) + (
        F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
        * F.pow(F.sin(dlng / 2), F.lit(2.0))
    )
    return F.lit(2.0 * 6371.0) * F.asin(F.sqrt(a))


class Geographic(BaseCompareFeature):
    """Haversine distance then decay kernel (compare.py:251-332)."""

    def __init__(self, left_on_lat, left_on_lng, right_on_lat, right_on_lng,
                 method="linear", offset=0.0, scale=1.0, origin=0.0,
                 missing_value=0.0, label=None):
        super().__init__([left_on_lat, left_on_lng], [right_on_lat, right_on_lng], label)
        self.method, self.offset, self.scale, self.origin = method, offset, scale, origin
        self.missing_value = missing_value

    def build(self) -> Column:
        lat1, lng1 = self._l(0).cast("double"), self._l(1).cast("double")
        lat2, lng2 = self._r(0).cast("double"), self._r(1).cast("double")
        d = haversine_km(lat1, lng1, lat2, lng2)
        sim = _decay(d, self.method, self.offset, self.scale, self.origin)
        anynull = lat1.isNull() | lng1.isNull() | lat2.isNull() | lng2.isNull()
        return F.when(anynull, F.lit(float(self.missing_value))).otherwise(sim)


class DateCompare(BaseCompareFeature):
    """1 if equal; credit for month/day swap and common month confusions.

    Reference: recordlinkage/compare.py:335-424. Default swap_months
    [(6,7,.5),(7,6,.5),(9,10,.5),(10,9,.5)]; swaps apply only when c != 1.
    """

    def __init__(self, left_on, right_on, swap_month_day=0.5, swap_months="default",
                 missing_value=0.0, label=None):
        super().__init__(left_on, right_on, label)
        self.swap_month_day = swap_month_day
        self.swap_months = (
            [(6, 7, 0.5), (7, 6, 0.5), (9, 10, 0.5), (10, 9, 0.5)]
            if swap_months == "default" else (swap_months or [])
        )

        self.missing_value = missing_value

    def build(self) -> Column:
        l, r = self._l(), self._r()
        eq = (l == r)
        expr = F.when(eq, F.lit(1.0))
        y_eq = F.year(l) == F.year(r)
        if self.swap_month_day:
            expr = expr.when(
                y_eq & (F.month(l) == F.dayofmonth(r)) & (F.dayofmonth(l) == F.month(r)),
                F.lit(float(self.swap_month_day)),
            )
        for m1, m2, v in self.swap_months:
            expr = expr.when(
                y_eq & (F.month(l) == m1) & (F.month(r) == m2)
                & (F.dayofmonth(l) == F.dayofmonth(r)),
                F.lit(float(v)),
            )
        expr = expr.otherwise(F.lit(0.0))
        return F.when(l.isNull() | r.isNull(), F.lit(float(self.missing_value))).otherwise(expr)


class Variable(BaseCompareFeature):
    """Pass a raw column through as a feature (compare.py:427-504).

    side: 'left', 'right', or 'both'. The reference's two-sided Variable
    emits a tuple of (left, right) columns (compare.py:449-460); here
    ``side='both'`` is expanded by Compare.add into two features labeled
    ``<label>_a`` / ``<label>_b`` (VariableA/B equivalents).
    """

    def __init__(self, on, side="left", missing_value=0.0, label=None):
        if side == "both":
            super().__init__(on, on, label)
        elif side == "left":
            super().__init__(on, [], label)
        else:
            super().__init__([], on, label)
        self.side = side
        self.missing_value = missing_value

    def split_both(self) -> list["Variable"]:
        """side='both' -> the [left, right] single-side features."""
        lab = self.label
        on = self.left_on
        return [
            Variable(on, "left", self.missing_value,
                     None if lab is None else f"{lab}_a"),
            Variable(on, "right", self.missing_value,
                     None if lab is None else f"{lab}_b"),
        ]

    def build(self) -> Column:
        if self.side == "both":
            # reachable only when a both-sided Variable bypassed the
            # Compare normalization (e.g. appended to .features directly)
            raise NotImplementedError(
                "Variable(side='both') must be expanded via Compare.add/"
                "Compare(features=...) into its _a/_b single-side features"
            )
        col = self._l() if self.side == "left" else self._r()
        return F.coalesce(col.cast("double"), F.lit(float(self.missing_value)))


class Frequency(BaseCompareFeature):
    """Relative frequency of the pair-aligned value (compare.py:507-610).

    NOTE (parity): the denominator is the number of PAIRS, not records, and
    nulls group together under a sentinel before counting — exactly the
    reference kernel (compare.py:535-549). This is the engine's only
    windowed feature; it is evaluated as a count over
    ``Window.partitionBy(value)`` (distributed by value) divided by a
    broadcast total.
    """

    def __init__(self, on, side="left", normalise=True, missing_value=0.0, label=None):
        if side == "left":
            super().__init__(on, [], label)
        else:
            super().__init__([], on, label)
        self.side = side
        self.normalise = normalise
        self.missing_value = missing_value

    def build(self) -> Column:  # pragma: no cover - handled in compute()
        raise RuntimeError("Frequency is evaluated in Compare.compute's window pass")

    def window_expr(self, total: Column) -> Column:
        col = self._l() if self.side == "left" else self._r()
        grouped = F.coalesce(col.cast("string"), F.lit("NAN"))
        c = F.count("*").over(Window.partitionBy(grouped)).cast("double")
        if self.normalise:
            c = c / total
        return F.when(col.isNull(), F.lit(float(self.missing_value))).otherwise(c)


class RandomContinuous(BaseCompareFeature):
    """Seeded uniform[a,b) feature column for model testing
    (reference contrib/compare/random/random.py:38-99)."""

    def __init__(self, a: float = 0.0, b: float = 1.0, seed: int = 42, label=None):
        super().__init__([], [], label)
        self.a, self.b, self.seed = a, b, seed

    def build(self) -> Column:
        return F.rand(self.seed) * F.lit(self.b - self.a) + F.lit(self.a)


class RandomDiscrete(BaseCompareFeature):
    """Seeded uniform choice over {0..k-1} (contrib random.py:102-161)."""

    def __init__(self, k: int = 2, seed: int = 42, label=None):
        super().__init__([], [], label)
        self.k, self.seed = k, seed

    def build(self) -> Column:
        return F.floor(F.rand(self.seed) * self.k).cast("double")


class CustomVectorized(BaseCompareFeature):
    """User-supplied vectorized kernel — the engine's UDF surface.

    Mirrors Compare.compare_vectorized (recordlinkage/base.py:568-615): the
    callable receives the aligned left/right pandas Series (plus *args) and
    returns a numeric Series; it runs as an Arrow-batched pandas UDF.
    """

    def __init__(self, fn, left_on, right_on, *args, label=None):
        super().__init__(left_on, right_on, label)
        self.fn = fn
        self.args = args

    def build(self) -> Column:
        fn, extra = self.fn, self.args

        def batch(*cols):
            return fn(*cols, *extra)

        udf = F.pandas_udf(batch, DoubleType())
        ins = [self._l(i) for i in range(len(self.left_on))] + [
            self._r(i) for i in range(len(self.right_on))
        ]
        return udf(*ins)


class Compare:
    """Fluent feature builder, mirroring recordlinkage.Compare
    (recordlinkage/api.py:155-233)."""

    def __init__(self, features=None, id_col: str = "id"):
        # route through add() so constructor-passed features get the same
        # normalization (Variable side='both' expansion) as fluent calls
        self.features: list[BaseCompareFeature] = []
        # default id column for compute(); a compute(id_col=...) argument
        # overrides per call
        self.id_col = id_col
        for f in features or []:
            self.add(f)

    def add(self, feature: BaseCompareFeature) -> "Compare":
        if isinstance(feature, Variable) and feature.side == "both":
            self.features.extend(feature.split_both())
            return self
        self.features.append(feature)
        return self

    def exact(self, left_on, right_on, **kw) -> "Compare":
        return self.add(Exact(left_on, right_on, **kw))

    def string(self, left_on, right_on, method="levenshtein", threshold=None, **kw) -> "Compare":
        return self.add(StringCompare(left_on, right_on, method, threshold, **kw))

    def numeric(self, left_on, right_on, method="linear", **kw) -> "Compare":
        return self.add(Numeric(left_on, right_on, method, **kw))

    def geo(self, left_on_lat, left_on_lng, right_on_lat, right_on_lng, method="linear", **kw) -> "Compare":
        return self.add(Geographic(left_on_lat, left_on_lng, right_on_lat, right_on_lng, method, **kw))

    def date(self, left_on, right_on, **kw) -> "Compare":
        return self.add(DateCompare(left_on, right_on, **kw))

    def variable(self, on, side="left", **kw) -> "Compare":
        return self.add(Variable(on, side, **kw))

    def frequency(self, on, side="left", **kw) -> "Compare":
        return self.add(Frequency(on, side, **kw))

    def compare_vectorized(self, fn, left_on, right_on, *args, label=None) -> "Compare":
        return self.add(CustomVectorized(fn, left_on, right_on, *args, label=label))

    def random_continuous(self, a=0.0, b=1.0, seed=42, label=None) -> "Compare":
        return self.add(RandomContinuous(a, b, seed, label=label))

    def random_discrete(self, k=2, seed=42, label=None) -> "Compare":
        return self.add(RandomDiscrete(k, seed, label=label))

    # ------------------------------------------------------------------
    def _labels(self) -> list[str]:
        out = []
        for i, feat in enumerate(self.features):
            out.append(feat.label if feat.label is not None else f"f_{i}")
        if len(set(out)) != len(out):
            raise ValueError(f"duplicate feature labels: {out}")
        return out

    def compute(
        self,
        pairs: DataFrame,
        df_a: DataFrame,
        df_b: DataFrame | None = None,
        id_col: str | None = None,
    ) -> DataFrame:
        """pairs(id_1,id_2) ⋈ records → one select of all features.

        ``id_col`` defaults to the constructor's ``id_col`` (previously
        the constructor argument was accepted but silently ignored —
        session-8 review fix).

        Validates requested labels eagerly, like the reference's
        is_label_dataframe check (utils.py:71-79 → KeyError at base.py:626-628).
        """
        id_col = id_col if id_col is not None else self.id_col
        if df_b is None:
            df_b = df_a
        cols_l = sorted({c for f in self.features for c in f.left_on})
        cols_r = sorted({c for f in self.features for c in f.right_on})
        missing_l = [c for c in cols_l if c not in df_a.columns]
        missing_r = [c for c in cols_r if c not in df_b.columns]
        if missing_l or missing_r:
            raise KeyError(f"missing columns: left {missing_l}, right {missing_r}")

        left = df_a.select(
            F.col(id_col).alias("id_1"), *[F.col(c).alias(_L + c) for c in cols_l]
        )
        right = df_b.select(
            F.col(id_col).alias("id_2"), *[F.col(c).alias(_R + c) for c in cols_r]
        )
        # NOT repartitioned before the join: an r6 A/B at the bench shape
        # (50k pairs arriving in one partition from a limit()) measured
        # the round-robin spread LOSING to the single-task kernels — the
        # .rdd partition probe compiles the physical plan per call and
        # the extra exchange costs more than the Arrow-kernel parallelism
        # buys at this size. Re-measured at rlbench person_link's shape
        # (35k pinned pairs in one partition, local[4] on 4 vCPUs):
        # spreading them to 4 tasks left the pandas-UDF stage flat (median
        # of 6: 0.68 s one task, 0.67 s four) and pin + count at 1.42 vs
        # 1.41 s; a separate measurement of the same spread read the stage
        # at 0.58 -> 0.80 s. Each Python task pays a fixed start cost that
        # the split does not win back at this size. Large pair frames
        # arrive multi-partition anyway; callers with a huge
        # single-partition pair frame should repartition it themselves.
        aligned = pairs.select("id_1", "id_2").join(left, "id_1").join(right, "id_2")

        labels = self._labels()
        plain = [
            feat.build().alias(lab)
            for feat, lab in zip(self.features, labels)
            if not isinstance(feat, Frequency)
        ]
        freq = [(feat, lab) for feat, lab in zip(self.features, labels)
                if isinstance(feat, Frequency)]

        if not freq:
            return aligned.select("id_1", "id_2", *plain)

        # Frequency pass: total pair count via a broadcast 1-row aggregate
        # (avoids a single-partition global window).
        total = pairs.agg(F.count("*").cast("double").alias("_total_pairs"))
        aligned = aligned.crossJoin(F.broadcast(total))
        out_cols = ["id_1", "id_2", *plain]
        for feat, lab in freq:
            out_cols.append(feat.window_expr(F.col("_total_pairs")).alias(lab))
        return aligned.select(*out_cols).select("id_1", "id_2", *labels)
