"""Classifiers over feature DataFrames (id_1, id_2, f_*...).

Reference lifecycle (recordlinkage/base.py:853-1072): fit on a feature
matrix (+ optional truth pairs), predict -> matched pairs, prob -> P(match).
Output contract here: a DataFrame (id_1, id_2, score double, label int);
the reference's three return_type options collapse to column selection.

Design principle (SURVEY.md §3.3): the learners' sufficient statistics are
TINY after a groupBy — with c binary/discrete features there are <= prod(k_i)
distinct vectors, so ``features.groupBy(*cols).count()`` collects a handful
of rows to the driver; the EM / counting math runs in numpy exactly as the
reference kernel (recordlinkage/algorithms/nb_sklearn.py), and the fitted
log-probabilities are broadcast back as a column expression. No distributed
learning, no pyspark.ml dependency, bit-compatible math.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAIR = ["id_1", "id_2"]


def _feature_cols(features: DataFrame) -> list[str]:
    return [c for c in features.columns if c not in PAIR]


class BaseClassifier:
    def fit(self, features: DataFrame, truth: DataFrame | None = None):
        raise NotImplementedError

    def predict(self, features: DataFrame) -> DataFrame:
        raise NotImplementedError

    def fit_predict(self, features: DataFrame, truth: DataFrame | None = None) -> DataFrame:
        self.fit(features, truth)
        return self.predict(features)


class ThresholdClassifier(BaseClassifier):
    """Deterministic rule: score = weighted sum of features; match iff
    score >= threshold. The reference achieves this via LogisticRegression
    with manual coefficients (examples/dedup_deterministic.py:57-67); this
    is the direct form. Pure column math, zero shuffles."""

    def __init__(self, threshold: float, weights: dict[str, float] | None = None):
        self.threshold = threshold
        self.weights = weights

    def fit(self, features: DataFrame, truth: DataFrame | None = None):
        return self

    def predict(self, features: DataFrame) -> DataFrame:
        cols = _feature_cols(features)
        w = self.weights or {c: 1.0 for c in cols}
        score = None
        for c, wi in w.items():
            term = F.col(c) * F.lit(float(wi))
            score = term if score is None else score + term
        return features.select(
            *PAIR,
            score.alias("score"),
            (score >= F.lit(float(self.threshold))).cast("int").alias("label"),
        )


class LogisticRegressionClassifier(BaseClassifier):
    """Logistic regression; deterministic-linkage mode via manually set
    coefficients + intercept (recordlinkage/classifiers.py:301-427,
    manual params classifiers.py:342-391). Trained mode: full-batch
    Newton/IRLS on the driver over the aggregated unique-vector table —
    the same sufficient-statistics trick as ECM."""

    def __init__(self, coefficients=None, intercept: float = 0.0, max_iter: int = 100):
        self.coefficients = None if coefficients is None else np.asarray(coefficients, float)
        self.intercept = float(intercept)
        self.max_iter = max_iter
        self._cols: list[str] | None = None

    def fit(self, features: DataFrame, truth: DataFrame | None = None):
        self._cols = _feature_cols(features)
        if truth is None:
            if self.coefficients is None:
                raise ValueError(
                    "supervised fit needs truth pairs; or set coefficients/intercept "
                    "for the deterministic mode"
                )
            return self  # manual mode: nothing to learn
        X, y, wts = _collect_labeled_stats(features, truth, self._cols)
        beta = np.zeros(X.shape[1] + 1)
        Xb = np.hstack([np.ones((len(X), 1)), X])
        for _ in range(self.max_iter):
            p = 1.0 / (1.0 + np.exp(-Xb @ beta))
            grad = Xb.T @ (wts * (y - p))
            W = wts * p * (1 - p) + 1e-9
            H = (Xb * W[:, None]).T @ Xb + 1e-6 * np.eye(Xb.shape[1])
            step = np.linalg.solve(H, grad)
            beta += step
            if np.max(np.abs(step)) < 1e-8:
                break
        self.intercept = float(beta[0])
        self.coefficients = beta[1:]
        return self

    def predict(self, features: DataFrame) -> DataFrame:
        cols = self._cols or _feature_cols(features)
        if self.coefficients is None:
            raise ValueError("not fitted and no manual coefficients")
        _check_coefficients(self.coefficients, cols)
        z = F.lit(self.intercept)
        for c, w in zip(cols, self.coefficients):
            z = z + F.col(c) * F.lit(float(w))
        score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        return features.select(
            *PAIR, score.alias("score"), (score > 0.5).cast("int").alias("label")
        )


def _guarded_collect(agg: DataFrame, cols: list[str],
                     max_unique: int = 100_000):
    """Collect a unique-vector aggregate (group columns plus ``count``) to
    the driver as ``(X, wts)``: one row of X per group, in the aggregate's
    column order, rows sorted by X's columns.

    Driver-side fits (LogReg/NB/ECM/SVM sufficient-statistics trick)
    assume DISCRETE feature vectors — the reference shares the assumption
    silently; here a continuous column (e.g. a gauss similarity) would
    make the unique-vector count ~ pair count and the collect would OOM
    the driver. The gate is a BOUNDED collect (limit max_unique+1): the
    aggregation itself is distributed and spills gracefully, and the limit
    caps driver transfer either way, so the gate costs no job of its own.
    Sorting makes every fit independent of the order in which the
    aggregate's partitions come back (AQE coalescing, input
    partitioning): the numpy sums then run in one fixed order."""
    rows = agg.limit(max_unique + 1).collect()
    if len(rows) > max_unique:
        raise ValueError(
            f"driver-side fit needs discrete feature vectors: more than "
            f"{max_unique} unique vectors across {cols}. Bin continuous "
            "similarities (e.g. F.round(col, 2)) before fitting."
        )
    keys = [c for c in agg.columns if c != "count"]
    X = np.array([[float(r[c]) for c in keys] for r in rows]).reshape(
        len(rows), len(keys)
    )
    wts = np.array([float(r["count"]) for r in rows])
    # lexsort's LAST key is the primary one: reverse so X[:, 0] leads
    order = np.lexsort(X.T[::-1])
    return X[order], wts[order]


def _collect_labeled_stats(features: DataFrame, truth: DataFrame,
                           cols: list[str]):
    """Shared supervised-fit preamble (reference base.py:912-926): label
    each pair by truth membership, gate discreteness, and collect the
    weighted unique-feature-vector statistics. One copy on purpose —
    LogReg/NB/SVM previously each carried a verbatim clone, so a fix to
    one silently missed the others. Returns ``(X, y01, wts)`` with
    ``y01`` the 0/1 float labels (callers remap: SVM to ±1)."""
    # distinct(): a duplicated truth pair would fan out the left join and
    # double that feature row's training weight — the reference's
    # MultiIndex intersection is set-semantic (session-8 review fix)
    labeled = features.join(
        truth.select(PAIR).distinct().withColumn("_y", F.lit(1)), PAIR, "left"
    ).fillna({"_y": 0})
    # 2 * max_unique: every unique feature vector appears at most once per
    # label value
    Xy, wts = _guarded_collect(
        labeled.groupBy(*cols, "_y").count(), cols, max_unique=200_000
    )
    y = Xy[:, -1]
    if not (y == 1).any():
        raise ValueError("training data has zero matches (base.py:916-922)")
    return Xy[:, :-1], y, wts


def _check_coefficients(coefficients, cols: list[str]) -> None:
    """zip() would silently truncate a length mismatch — score with only
    the first columns and ignore the rest (the reference's sklearn matmul
    raises a shape error; session-8 review fix)."""
    if len(coefficients) != len(cols):
        raise ValueError(
            f"{len(coefficients)} coefficients for {len(cols)} feature "
            f"columns {cols}"
        )


def _binarizers(X_unique: np.ndarray):
    """Per-column distinct values (sorted), reference LabelBinarizer
    semantics (nb_sklearn.py:196-257): 1 class -> one inverted indicator,
    2 classes -> [1-X, X], k>2 -> one-hot in sorted order."""
    return [np.unique(X_unique[:, i]) for i in range(X_unique.shape[1])]


def _binarize(X: np.ndarray, classes_list) -> np.ndarray:
    parts = []
    for i, classes in enumerate(classes_list):
        col = X[:, i]
        if classes.shape[0] == 1:
            ind = (col == classes[0]).astype(float).reshape(-1, 1)
            parts.append(1 - ind)
        elif classes.shape[0] == 2:
            ind = (col == classes[1]).astype(float).reshape(-1, 1)
            parts.append(1 - ind)
            parts.append(ind)
        else:
            parts.append((col[:, None] == classes[None, :]).astype(float))
    return np.concatenate(parts, axis=1)


class _NBModel:
    """Shared scoring for NB-family models: JLL = X_bin·log_probᵀ + prior,
    posterior via logsumexp (nb_sklearn.py:118-177)."""

    classes_list = None
    feature_log_prob_ = None  # (2, n_bin_features)
    class_log_prior_ = None   # (2,)
    _cols: list[str] | None = None

    def _jll(self, X: np.ndarray) -> np.ndarray:
        X_bin = _binarize(X, self.classes_list)
        return X_bin @ self.feature_log_prob_.T + self.class_log_prior_

    def _posterior_match(self, X: np.ndarray) -> np.ndarray:
        jll = self._jll(X)
        mx = jll.max(axis=1, keepdims=True)
        lse = mx[:, 0] + np.log(np.exp(jll - mx).sum(axis=1))
        return np.exp(jll[:, 1] - lse)

    def _jll_expr(self, class_idx: int):
        """Joint log-likelihood for one class as a pure column expression:
        prior + per-column CASE over the fitted indicator log-probs. The
        fitted model is embedded as literals — zero joins, zero Python,
        whole-stage codegen scores every pair.

        Built as ONE SQL string through F.expr instead of a chain of
        F.when/F.lit calls: each pyspark Column operation is a py4j round
        trip, and the old chain (hundreds of calls for 7 columns × 2
        classes) cost ~0.2 s of pure driver latency per predict (r6
        measurement). The string form produces the identical expression
        tree — same left-associated additions, same CASE branches, same
        double literals (repr() emits the shortest round-tripping decimal
        and the `D` suffix parses it straight back to the same double) —
        so scores are bit-identical (oracle-gated on nb_classify)."""

        import math

        def d(v: float) -> str:
            if math.isfinite(v):
                return f"{v!r}D"
            # a zero fitted probability yields -inf log-prob; SQL has no
            # infinity literal, but the string cast round-trips exactly
            if math.isnan(v):
                return "CAST('NaN' AS DOUBLE)"
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"

        parts = [d(float(self.class_log_prior_[class_idx]))]
        pos = 0
        for col, classes in zip(self._cols, self.classes_list):
            quoted = col.replace("`", "``")
            x = f"CAST(`{quoted}` AS DOUBLE)"
            k = classes.shape[0]
            if k == 1:
                lp = float(self.feature_log_prob_[class_idx, pos])
                # single-class binarizer emits the INVERTED indicator
                parts.append(
                    f"CASE WHEN {x} = {d(float(classes[0]))} THEN 0.0D "
                    f"ELSE {d(lp)} END"
                )
                pos += 1
            elif k == 2:
                lp0 = float(self.feature_log_prob_[class_idx, pos])
                lp1 = float(self.feature_log_prob_[class_idx, pos + 1])
                parts.append(
                    f"CASE WHEN {x} = {d(float(classes[1]))} THEN {d(lp1)} "
                    f"ELSE {d(lp0)} END"
                )
                pos += 2
            else:
                # nested CASE, innermost ELSE 0.0 — same tree as the old
                # F.when chain (last class tested outermost)
                expr = "0.0D"
                for j, v in enumerate(classes):
                    lp = float(self.feature_log_prob_[class_idx, pos + j])
                    expr = (
                        f"CASE WHEN {x} = {d(float(v))} THEN {d(lp)} "
                        f"ELSE {expr} END"
                    )
                parts.append(expr)
                pos += k
        return F.expr("(" + " + ".join(parts) + ")")

    def _score_df(self, features: DataFrame) -> DataFrame:
        jll0 = self._jll_expr(0)
        jll1 = self._jll_expr(1)
        # posterior P(match) = 1 / (1 + exp(jll0 - jll1)); argmax = jll1 > jll0
        score = F.lit(1.0) / (F.lit(1.0) + F.exp(jll0 - jll1))
        return features.select(
            *PAIR,
            score.alias("score"),
            (jll1 > jll0).cast("int").alias("label"),
        )


class NaiveBayesClassifier(BaseClassifier, _NBModel):
    """Supervised Bernoulli-style NB over label-binarized features,
    Laplace alpha (default 1e-4) — recordlinkage/classifiers.py:430-473,
    kernel nb_sklearn.py:268-430. Counts come from one distributed
    groupBy(label, features).count(); smoothing/log-probs in numpy."""

    def __init__(self, alpha: float = 1e-4):
        self.alpha = alpha

    def fit(self, features: DataFrame, truth: DataFrame | None = None):
        if truth is None:
            raise ValueError("NaiveBayesClassifier is supervised: truth required")
        self._cols = _feature_cols(features)
        X, y, wts = _collect_labeled_stats(features, truth, self._cols)
        self.classes_list = _binarizers(X)
        X_bin = _binarize(X, self.classes_list)
        # class-conditional weighted counts (nb_sklearn.py:306-310)
        fc = np.vstack([
            (X_bin * (wts * (y == 0))[:, None]).sum(axis=0),
            (X_bin * (wts * (y == 1))[:, None]).sum(axis=0),
        ])
        cc = np.array([wts[y == 0].sum(), wts[y == 1].sum()])
        smoothed_fc = fc + self.alpha
        smoothed_cc = cc + self.alpha * 2
        self.feature_log_prob_ = np.log(smoothed_fc) - np.log(smoothed_cc.reshape(-1, 1))
        self.class_log_prior_ = np.log(cc) - np.log(cc.sum())
        return self

    def predict(self, features: DataFrame) -> DataFrame:
        return self._score_df(features)


class ECMClassifier(BaseClassifier, _NBModel):
    """Unsupervised Fellegi–Sunter via Expectation/Conditional Maximisation
    — the reference's flagship (recordlinkage/classifiers.py:515-585,
    kernel nb_sklearn.py:433-669).

    Spark execution (SURVEY.md §3.3): ``groupBy(features).count()`` gives
    the unique-vector table (<= 2^c rows for c binary features) collected to
    the driver; the EM loop below reproduces the reference math exactly
    (init 'jaro': prior [0.9, 0.1], per-indicator m=0.9/u=0.1,
    nb_sklearn.py:510-534; E-step posterior per unique vector :593-595;
    M-step frequency-weighted re-estimates :597-601; converge via allclose
    in prob space, atol, :606-619; NaN guard :624-630). Scoring broadcasts
    the fitted log-probs back as a broadcast join on the feature columns.
    """

    def __init__(self, init: str = "jaro", max_iter: int | None = None,
                 atol: float | None = None, random_state=None, config=None):
        # EngineConfig.ecm_max_iter / ecm_atol are the defaults (r3 —
        # previously decorative config knobs); explicit args still win
        if config is None:
            from recordlinkage_spark.config import EngineConfig

            config = EngineConfig()
        self.init = init
        self.max_iter = config.ecm_max_iter if max_iter is None else max_iter
        self.atol = config.ecm_atol if atol is None else atol
        self.random_state = random_state
        self.n_iter_ = 0

    def fit(self, features: DataFrame, truth: DataFrame | None = None):
        self._cols = _feature_cols(features)
        X_unique, freq = _guarded_collect(
            features.groupBy(*self._cols).count(), self._cols
        )
        n_total = freq.sum()
        self.classes_list = _binarizers(X_unique)
        X_bin = _binarize(X_unique, self.classes_list)

        if self.init == "jaro":
            for i, classes in enumerate(self.classes_list):
                if classes.shape[0] > 2:
                    raise ValueError(
                        f"Only binary labels are allowed for 'jaro' init; "
                        f"column {self._cols[i]} has {classes.shape[0]} labels"
                    )
            class_prior = np.array([0.9, 0.1])
            fp = []
            for classes in self.classes_list:
                for c in classes:
                    # indicator for value 1 -> [u=0.1, m=0.9]; value 0 -> [0.9, 0.1]
                    fp.append([0.1, 0.9] if c == 1 else [0.9, 0.1])
            feature_prob = np.array(fp).T
        elif self.init == "random":
            rng = np.random.RandomState(self.random_state)
            rv = rng.rand(2)
            class_prior = rv / rv.sum()
            cols_prob = []
            for classes in self.classes_list:
                k = classes.shape[0]
                r0 = rng.rand(k)
                r1 = rng.rand(k)
                cols_prob.append(np.vstack([r0 / r0.sum(), r1 / r1.sum()]))
            feature_prob = np.hstack(cols_prob)
        else:
            raise ValueError(f"'{self.init}' is not a valid init")

        self.class_log_prior_ = np.log(class_prior)
        self.feature_log_prob_ = np.log(feature_prob)

        for it in range(1, self.max_iter + 1):
            self.n_iter_ = it
            # E-step: posterior per unique vector
            jll = X_bin @ self.feature_log_prob_.T + self.class_log_prior_
            mx = jll.max(axis=1, keepdims=True)
            g = np.exp(jll - (mx + np.log(np.exp(jll - mx).sum(axis=1, keepdims=True))))
            g_freq = g * freq[:, None]
            g_freq_sum = g_freq.sum(axis=0)
            # M-step
            with np.errstate(divide="ignore", invalid="ignore"):
                class_log_prior = np.log(g_freq_sum) - np.log(n_total)
                feature_log_prob = np.log(g_freq.T @ X_bin) - np.log(g_freq_sum[:, None])
            # floor -inf (a zero-mass indicator, e.g. a CONSTANT feature
            # column whose inverted indicator is identically 0): left in
            # place, the next E-step's jll matmul computes 0 * -inf = NaN
            # for every vector, the NaN guard fires, and EM silently
            # halts after ONE iteration regardless of max_iter. The
            # floored weight is only multiplied by x_bin values that are
            # 0 wherever the true weight was -inf-relevant, so fits that
            # never hit -inf are bit-identical (session-8 review fix).
            feature_log_prob = np.where(
                np.isneginf(feature_log_prob), -745.0, feature_log_prob
            )
            close = np.allclose(
                np.exp(class_log_prior), np.exp(self.class_log_prior_), atol=self.atol
            ) and np.allclose(
                np.exp(feature_log_prob), np.exp(self.feature_log_prob_), atol=self.atol
            )
            if (np.isnan(feature_log_prob).any()
                    or np.isnan(class_log_prior).any()):
                # NaN guard (nb_sklearn.py:624-630 checks all-NaN; we
                # break on ANY NaN — a single collapsed class, posterior
                # mass exactly 0, would otherwise be assigned into the
                # model and poison every later prediction with NaN
                # scores. Breaking BEFORE assignment keeps the last
                # finite parameters.)
                break
            self.class_log_prior_ = class_log_prior
            self.feature_log_prob_ = feature_log_prob
            if close:
                break
        return self

    def predict(self, features: DataFrame) -> DataFrame:
        return self._score_df(features)

    # --- Fellegi–Sunter parameter views (classifiers.py:13-182) ----------
    @property
    def p(self) -> float:
        """Prior P(match)."""
        return float(np.exp(self.class_log_prior_[1]))

    def _probs_for_value_one(self, class_idx: int) -> dict[str, float]:
        out = {}
        pos = 0
        for col, classes in zip(self._cols, self.classes_list):
            k = classes.shape[0]
            # must walk the exact _binarize layout: k==1 emits ONE
            # (inverted-indicator) column, not two — advancing by 2 here
            # misaligned every later column's probabilities and could run
            # off the end of feature_log_prob_ (session-8 review fix)
            width = 1 if k == 1 else (2 if k == 2 else k)
            probs = np.exp(self.feature_log_prob_[class_idx, pos : pos + width])
            if k == 1:
                # constant column: P(value==1) is 1 or 0 by inspection.
                # The single fitted prob is for the inverted indicator
                # (identically 0 in training), not for agreement.
                out[col] = 1.0 if classes[0] == 1 else 0.0
            elif k == 2:
                if 1 in classes:
                    # indicator position of the value-1 class
                    idx = int(np.where(classes == 1)[0][0])
                    out[col] = float(probs[idx])
                else:
                    # 1 is not a possible value of this column (e.g.
                    # classes {0, 2}): P(value==1) is 0 by inspection,
                    # not the probability of some other class
                    # (session-8 review fix)
                    out[col] = 0.0
            else:
                out[col] = {float(cv): float(pv) for cv, pv in zip(classes, probs)}
            pos += width
        return out

    @property
    def m_probs(self) -> dict:
        """P(feature agrees | match) per column."""
        return self._probs_for_value_one(1)

    @property
    def u_probs(self) -> dict:
        """P(feature agrees | non-match) per column."""
        return self._probs_for_value_one(0)

    @property
    def log_weights(self) -> dict:
        """Fellegi–Sunter agreement log-weights log(m/u) per column
        (reference classifiers.py:13-182)."""
        m, u = self.m_probs, self.u_probs
        return {
            c: float(np.log(m[c]) - np.log(u[c]))
            for c in self._cols
            if not isinstance(m[c], dict)
        }


class KMeansClassifier(BaseClassifier):
    """Unsupervised 2-cluster KMeans, init centers fixed at 0.05/0.95 per
    feature (recordlinkage/classifiers.py:185-298, n_init=1) — deterministic
    given the fixed init. Distributed Lloyd: centers broadcast as column
    expressions, assignment + groupBy().avg() per iteration; k=2 so each
    iteration is one cheap aggregation."""

    def __init__(self, match_cluster_center=None, nonmatch_cluster_center=None,
                 max_iter: int = 300, tol: float = 1e-6):
        self.match_cluster_center = match_cluster_center
        self.nonmatch_cluster_center = nonmatch_cluster_center
        self.max_iter = max_iter
        self.tol = tol
        self._cols: list[str] | None = None

    def _dist2(self, center: np.ndarray):
        expr = F.lit(0.0)
        for c, v in zip(self._cols, center):
            expr = expr + F.pow(F.col(c) - F.lit(float(v)), F.lit(2.0))
        return expr

    def fit(self, features: DataFrame, truth: DataFrame | None = None):
        self._cols = _feature_cols(features)
        d = len(self._cols)
        if self.match_cluster_center is not None and self.nonmatch_cluster_center is not None:
            self._centers = np.array(
                [self.nonmatch_cluster_center, self.match_cluster_center], float
            )
            return self
        centers = np.array([[0.05] * d, [0.95] * d])  # classifiers.py:251-260
        # persist the projected features once — the Lloyd loop re-reads
        # them up to max_iter times and must not re-execute the (often
        # join-heavy) comparison plan every iteration
        base = features.select(
            *[F.col(c).cast("double").alias(c) for c in self._cols]
        ).persist()
        try:
            for _ in range(self.max_iter):
                assign = base.select(
                    *self._cols,
                    F.when(self._dist2(centers[0]) <= self._dist2(centers[1]), 0)
                    .otherwise(1)
                    .alias("_k"),
                )
                rows = assign.groupBy("_k").agg(
                    *[F.avg(c).alias(c) for c in self._cols],
                    F.count("*").alias("_n"),
                ).collect()
                new = centers.copy()
                for r in rows:
                    new[r["_k"]] = [r[c] for c in self._cols]
                if np.allclose(new, centers, atol=self.tol):
                    centers = new
                    break
                centers = new
        finally:
            base.unpersist()
        self._centers = centers
        self.match_cluster_center = centers[1]
        self.nonmatch_cluster_center = centers[0]
        return self

    def predict(self, features: DataFrame) -> DataFrame:
        d0 = self._dist2(self._centers[0])
        d1 = self._dist2(self._centers[1])
        return features.select(
            *PAIR,
            (d0 - d1).alias("score"),  # >0 means closer to match center
            F.when(d1 < d0, 1).otherwise(0).alias("label"),
        )

    def prob(self, *a, **kw):
        raise AttributeError(
            "It is not possible to compute probabilities for the KMeansClassifier"
        )


class SVMClassifier(LogisticRegressionClassifier):
    """Linear max-margin classifier (reference: sklearn LinearSVC,
    recordlinkage/classifiers.py:476-512).

    r3: a real squared-hinge fit (LinearSVC's default loss, L2 penalty,
    C=1.0) over the SAME weighted unique-vector sufficient statistics as
    the logreg/NB/ECM drivers — the objective

        0.5·||beta||^2 + C · sum_i w_i · max(0, 1 - y_i·(x_i·beta))^2

    is piecewise quadratic, so a damped Newton on the active set (margin
    violators) converges in a handful of iterations; like LinearSVC with
    intercept_scaling=1 the intercept is part of the penalized vector.
    No probability output in the reference, so ``predict`` drops the
    score."""

    def __init__(self, C: float = 1.0, max_iter: int = 100):
        super().__init__(max_iter=max_iter)
        self.C = float(C)

    def fit(self, features: DataFrame, truth: DataFrame | None = None):
        if truth is None:
            raise ValueError("SVMClassifier requires truth pairs to fit")
        self._cols = _feature_cols(features)
        X, y01, wts = _collect_labeled_stats(features, truth, self._cols)
        y = np.where(y01 == 1, 1.0, -1.0)
        Xb = np.hstack([np.ones((len(X), 1)), X])
        beta = np.zeros(Xb.shape[1])
        C = self.C
        obj_prev = np.inf
        for _ in range(self.max_iter):
            margin = 1.0 - y * (Xb @ beta)
            act = margin > 0
            grad = beta - 2.0 * C * Xb[act].T @ (wts[act] * y[act] * margin[act])
            H = np.eye(len(beta)) + 2.0 * C * (
                Xb[act] * wts[act][:, None]
            ).T @ Xb[act]
            step = np.linalg.solve(H, grad)
            # backtracking line search keeps the Newton step monotone
            # across active-set changes
            for _bt in range(20):
                cand = beta - step
                mc = np.maximum(1.0 - y * (Xb @ cand), 0.0)
                obj = 0.5 * cand @ cand + C * np.sum(wts * mc * mc)
                if obj <= obj_prev:
                    break
                step *= 0.5
            beta = cand
            if abs(obj_prev - obj) < 1e-12 * max(1.0, abs(obj)):
                obj_prev = obj
                break
            obj_prev = obj
        self.intercept = float(beta[0])
        self.coefficients = beta[1:]
        return self

    def predict(self, features: DataFrame) -> DataFrame:
        cols = self._cols or _feature_cols(features)
        if self.coefficients is None:
            raise ValueError("not fitted")
        _check_coefficients(self.coefficients, cols)
        z = F.lit(self.intercept)
        for c, w in zip(cols, self.coefficients):
            z = z + F.col(c) * F.lit(float(w))
        return features.select(*PAIR, (z > 0).cast("int").alias("label"))
