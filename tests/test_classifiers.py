"""Classifier oracle tests — the seeded statistical pattern of the
reference suite (tests/test_classify.py:35-83,246-309,322-529; FIXTURES.md
F4): ECM must approximately recover the generating m/u/p on seeded binary
vectors; manual LogReg is deterministic; supervised learners separate."""

import numpy as np
import pytest

from recordlinkage_spark import measures
from recordlinkage_spark.classifiers import (
    ECMClassifier,
    KMeansClassifier,
    LogisticRegressionClassifier,
    NaiveBayesClassifier,
    SVMClassifier,
    ThresholdClassifier,
)
from recordlinkage_spark.datagen import binary_vectors

M = [0.92, 0.81, 0.85, 0.90, 0.99, 0.70, 0.56]
U = [0.19, 0.23, 0.50, 0.11, 0.20, 0.14, 0.50]


@pytest.fixture(scope="module")
def vectors(spark):
    # n scaled down from the reference's 50k for test speed; same seed 535
    return binary_vectors(spark, n=10000, n_match=2000, m=M, u=U, random_state=535)


def test_binary_vectors_shape(vectors):
    features, truth = vectors
    assert features.count() == 10000
    assert truth.count() == 2000
    cols = [c for c in features.columns if c.startswith("c_")]
    assert len(cols) == 7


def test_threshold_classifier(vectors):
    features, truth = vectors
    # matches agree on ~5.7 of 7 features, nonmatches on ~1.9
    pred = ThresholdClassifier(threshold=4.0).fit_predict(features)
    matches = pred.filter("label = 1")
    tp = measures.true_positives(truth, matches)
    fn = measures.false_negatives(truth, matches)
    assert measures.recall(tp, fn) > 0.9


def test_logreg_manual_deterministic(vectors):
    # the deterministic-linkage path (examples/dedup_deterministic.py:57-67)
    features, truth = vectors
    clf = LogisticRegressionClassifier(coefficients=[2.0] * 7, intercept=-8.0)
    pred = clf.fit_predict(features)
    # score > 0.5 <=> 2*sum(x) > 8 <=> sum(x) > 4
    matches = pred.filter("label = 1")
    tp = measures.true_positives(truth, matches)
    fn = measures.false_negatives(truth, matches)
    assert measures.recall(tp, fn) > 0.85
    # determinism
    again = clf.fit_predict(features).filter("label = 1")
    assert again.count() == matches.count()


def test_logreg_supervised(vectors):
    features, truth = vectors
    clf = LogisticRegressionClassifier()
    pred = clf.fit_predict(features, truth)
    matches = pred.filter("label = 1")
    tp = measures.true_positives(truth, matches)
    fp = measures.false_positives(truth, matches)
    fn = measures.false_negatives(truth, matches)
    assert measures.fscore(tp, fp, fn) > 0.85


def test_naive_bayes_supervised(vectors):
    features, truth = vectors
    clf = NaiveBayesClassifier(alpha=1e-4)
    pred = clf.fit_predict(features, truth)
    matches = pred.filter("label = 1")
    tp = measures.true_positives(truth, matches)
    fp = measures.false_positives(truth, matches)
    fn = measures.false_negatives(truth, matches)
    assert measures.fscore(tp, fp, fn) > 0.85
    # NB recovers m-probabilities from labels
    m_hat = clf._probs_for_value_one(1) if hasattr(clf, "_probs_for_value_one") else None


def test_ecm_parameter_recovery(vectors):
    """The flagship check (tests/test_classify.py:322-529): unsupervised EM
    recovers the generating m, u and p within loose tolerance."""
    features, truth = vectors
    clf = ECMClassifier(init="jaro", max_iter=100, atol=1e-4)
    clf.fit(features)
    cols = [f"c_{i + 1}" for i in range(7)]
    m_hat = np.array([clf.m_probs[c] for c in cols])
    u_hat = np.array([clf.u_probs[c] for c in cols])
    assert clf.p == pytest.approx(0.2, abs=0.05)
    np.testing.assert_allclose(m_hat, M, atol=0.08)
    np.testing.assert_allclose(u_hat, U, atol=0.08)


def test_ecm_classification_quality(vectors):
    features, truth = vectors
    pred = ECMClassifier().fit_predict(features)
    matches = pred.filter("label = 1")
    tp = measures.true_positives(truth, matches)
    fp = measures.false_positives(truth, matches)
    fn = measures.false_negatives(truth, matches)
    assert measures.fscore(tp, fp, fn) > 0.85
    # score column is a posterior in [0,1]
    stats = pred.selectExpr("min(score) lo", "max(score) hi").collect()[0]
    assert 0.0 <= stats["lo"] and stats["hi"] <= 1.0


def test_kmeans_fixed_init(vectors):
    features, truth = vectors
    clf = KMeansClassifier()
    pred = clf.fit_predict(features)
    matches = pred.filter("label = 1")
    tp = measures.true_positives(truth, matches)
    fn = measures.false_negatives(truth, matches)
    assert measures.recall(tp, fn) > 0.8
    with pytest.raises(AttributeError):
        clf.prob()


def test_kmeans_manual_centers(spark):
    feats = spark.createDataFrame(
        [(1, 0, 0.9, 0.95), (2, 0, 0.1, 0.05)], "id_1 long, id_2 long, a double, b double"
    )
    clf = KMeansClassifier(
        match_cluster_center=[1.0, 1.0], nonmatch_cluster_center=[0.0, 0.0]
    )
    got = {r["id_1"]: r["label"] for r in clf.fit_predict(feats).collect()}
    assert got == {1: 1, 2: 0}


def test_svm(vectors):
    features, truth = vectors
    pred = SVMClassifier().fit_predict(features, truth)
    assert "score" not in pred.columns  # reference SVC has no prob
    matches = pred.filter("label = 1")
    tp = measures.true_positives(truth, matches)
    fp = measures.false_positives(truth, matches)
    fn = measures.false_negatives(truth, matches)
    assert measures.fscore(tp, fp, fn) > 0.85


def test_supervised_requires_matches(spark, vectors):
    features, _ = vectors
    empty_truth = spark.createDataFrame([], "id_1 long, id_2 long")
    with pytest.raises(ValueError, match="zero matches"):
        NaiveBayesClassifier().fit(features, empty_truth)


def test_continuous_features_fail_fast(spark):
    """Driver-side fits must refuse continuous feature columns instead of
    collecting ~n_pairs unique vectors (classifiers._guarded_collect)."""
    import pandas as pd

    from recordlinkage_spark.classifiers import _guarded_collect

    rng = np.random.RandomState(3)
    n = 5000
    pdf = pd.DataFrame(
        {
            "id_1": np.arange(n),
            "id_2": np.arange(n) + n,
            "f1": rng.uniform(size=n),  # continuous -> ~n unique vectors
            "f2": (rng.uniform(size=n) > 0.5).astype(float),
        }
    )
    feats = spark.createDataFrame(pdf)
    # every fit collects through _guarded_collect; drive it at a low
    # threshold to assert it fires on continuous columns
    with pytest.raises(ValueError, match="discrete feature vectors"):
        _guarded_collect(feats.groupBy("f1", "f2").count(), ["f1", "f2"],
                         max_unique=1000)
    # discrete columns pass
    X, wts = _guarded_collect(feats.groupBy("f2").count(), ["f2"],
                              max_unique=1000)
    assert X.shape == (2, 1) and wts.sum() == n


def test_fits_independent_of_partitioning(vectors):
    """The collected unique-vector rows are sorted on the driver, so the
    same features at 1 and 16 partitions fit bit-identical parameters."""
    features, truth = vectors
    one, many = features.coalesce(1), features.repartition(16)
    e1, e16 = ECMClassifier().fit(one), ECMClassifier().fit(many)
    assert np.array_equal(e1.class_log_prior_, e16.class_log_prior_)
    assert np.array_equal(e1.feature_log_prob_, e16.feature_log_prob_)
    assert e1.n_iter_ == e16.n_iter_
    n1 = NaiveBayesClassifier().fit(one, truth)
    n16 = NaiveBayesClassifier().fit(many, truth)
    assert np.array_equal(n1.class_log_prior_, n16.class_log_prior_)
    assert np.array_equal(n1.feature_log_prob_, n16.feature_log_prob_)


def test_ecm_fit_runs_at_most_two_jobs(spark, vectors):
    """The fit's only Spark work is the unique-vector aggregate and its
    bounded collect: no persist, count or second scan."""
    features, _ = vectors
    features = features.cache()
    features.count()
    sc = spark.sparkContext
    group = "ecm-fit-jobs"
    sc.setJobGroup(group, "ECM fit")
    try:
        ECMClassifier().fit(features)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        features.unpersist()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_svm_squared_hinge_is_stationary(vectors):
    """r3: the SVM fit is a real squared-hinge minimizer (LinearSVC's
    objective), not a logreg stand-in — verify first-order stationarity:
    no small perturbation of the fitted (intercept, coefficients) lowers

        0.5*||beta||^2 + C * sum_i w_i * max(0, 1 - y_i x_i.beta)^2

    evaluated on the same unique-vector sufficient statistics."""
    import numpy as np

    features, truth = vectors
    clf = SVMClassifier().fit(features, truth)
    cols = clf._cols
    labeled = features.join(
        truth.selectExpr("id_1", "id_2", "1 as _y"), ["id_1", "id_2"], "left"
    ).fillna({"_y": 0})
    grouped = labeled.groupBy(*cols, "_y").count().collect()
    X = np.array([[float(r[c]) for c in cols] for r in grouped])
    y = np.where(np.array([r["_y"] for r in grouped]) == 1, 1.0, -1.0)
    w = np.array([float(r["count"]) for r in grouped])
    Xb = np.hstack([np.ones((len(X), 1)), X])
    beta = np.concatenate([[clf.intercept], clf.coefficients])

    def obj(b):
        m = np.maximum(1.0 - y * (Xb @ b), 0.0)
        return 0.5 * b @ b + clf.C * np.sum(w * m * m)

    base = obj(beta)
    rng = np.random.RandomState(0)
    for _ in range(20):
        d = rng.normal(size=len(beta))
        d /= np.linalg.norm(d)
        for eps in (1e-3, 1e-2):
            assert obj(beta + eps * d) >= base - 1e-6 * max(1.0, abs(base))


def test_svm_agrees_with_logreg_decisions(vectors):
    """Both linear separators, fit on the same clearly-separated fixture,
    must agree on almost every pair (documented-deviation closure check)."""
    features, truth = vectors
    svm = SVMClassifier().fit_predict(features, truth)
    lr = LogisticRegressionClassifier().fit_predict(features, truth)
    n = features.count()
    agree = (
        svm.select("id_1", "id_2", "label")
        .join(lr.selectExpr("id_1", "id_2", "label as l2"), ["id_1", "id_2"])
        .filter("label = l2")
        .count()
    )
    assert agree / n >= 0.99


def test_ecm_defaults_come_from_engine_config():
    """r3: EngineConfig.ecm_max_iter/ecm_atol are wired into ECMClassifier
    defaults (previously decorative)."""
    from recordlinkage_spark.config import EngineConfig

    cfg = EngineConfig(ecm_max_iter=7, ecm_atol=0.5)
    clf = ECMClassifier(config=cfg)
    assert clf.max_iter == 7 and clf.atol == 0.5
    # explicit args still win
    clf2 = ECMClassifier(max_iter=3, atol=1e-6, config=cfg)
    assert clf2.max_iter == 3 and clf2.atol == 1e-6
    # and the plain default path matches EngineConfig's defaults
    d = EngineConfig()
    clf3 = ECMClassifier()
    assert clf3.max_iter == d.ecm_max_iter and clf3.atol == d.ecm_atol


def test_fs_views_with_constant_column():
    """A constant (single-class) feature column occupies ONE binarized
    column, not two — the FS param views must walk the same widths or
    every later column's probabilities misalign / run off the end
    (session-8 review fix)."""
    import numpy as np

    from recordlinkage_spark.classifiers import ECMClassifier

    clf = ECMClassifier()
    clf._cols = ["f_const", "f_bin"]
    clf.classes_list = [np.array([1.0]), np.array([0.0, 1.0])]
    # layout widths: 1 (inverted indicator) + 2 ([1-X, X]) = 3
    clf.feature_log_prob_ = np.log(
        np.array([[0.5, 0.7, 0.3], [0.5, 0.2, 0.8]])
    )
    clf.class_log_prior_ = np.log(np.array([0.6, 0.4]))
    m, u = clf.m_probs, clf.u_probs
    assert m["f_const"] == 1.0 and u["f_const"] == 1.0
    assert abs(m["f_bin"] - 0.8) < 1e-12
    assert abs(u["f_bin"] - 0.3) < 1e-12


def test_predict_coefficient_length_mismatch_raises(spark):
    """zip() would silently truncate; the reference's sklearn matmul
    raises — so do we (session-8 review fix)."""
    import pytest as _pytest

    from recordlinkage_spark.classifiers import (LogisticRegressionClassifier,
                                                 SVMClassifier)

    feats = spark.createDataFrame(
        [(1, 2, 1.0, 0.0, 1.0)], "id_1 int, id_2 int, f_a double, f_b double, f_c double"
    )
    lr = LogisticRegressionClassifier(coefficients=[2.0], intercept=-1.0)
    with _pytest.raises(ValueError, match="coefficients"):
        lr.predict(feats).collect()
    svm = SVMClassifier()
    svm.coefficients = [1.0, 2.0]
    svm.intercept = 0.0
    with _pytest.raises(ValueError, match="coefficients"):
        svm.predict(feats).collect()


def test_ecm_constant_column_em_continues(spark):
    """A constant feature column previously produced a -inf weight whose
    0 * -inf = NaN halted EM after one iteration; the floored weight
    keeps every parameter finite and EM running (session-8 review fix)."""
    import numpy as np

    from recordlinkage_spark.classifiers import ECMClassifier

    rng = np.random.RandomState(5)
    n = 4000
    is_m = rng.rand(n) < 0.2
    f1 = np.where(is_m, rng.rand(n) < 0.9, rng.rand(n) < 0.1).astype(float)
    f2 = np.where(is_m, rng.rand(n) < 0.85, rng.rand(n) < 0.15).astype(float)
    rows = [
        (i, i + n, float(a), float(b), 1.0)
        for i, (a, b) in enumerate(zip(f1, f2))
    ]
    feats = spark.createDataFrame(
        rows, "id_1 int, id_2 int, f_1 double, f_2 double, f_const double"
    )
    clf = ECMClassifier().fit(feats)
    assert np.isfinite(clf.feature_log_prob_).all()
    # the constant column must be a no-op: same converged prior and the
    # same m/u probabilities on the informative columns as a fit WITHOUT
    # it (pre-fix, EM halted after one M-step with the init-shaped
    # parameters still in place)
    ref = ECMClassifier().fit(feats.drop("f_const"))
    assert clf.n_iter_ == ref.n_iter_
    assert np.allclose(clf.class_log_prior_, ref.class_log_prior_)
    for c in ("f_1", "f_2"):
        assert abs(clf.m_probs[c] - ref.m_probs[c]) < 1e-12
        assert abs(clf.u_probs[c] - ref.u_probs[c]) < 1e-12


def test_fs_views_binary_column_without_value_one():
    """classes {0, 2}: P(value==1) is 0 by inspection, not the fitted
    probability of value 2 (session-8 review fix)."""
    import numpy as np

    from recordlinkage_spark.classifiers import ECMClassifier

    clf = ECMClassifier()
    clf._cols = ["f_02"]
    clf.classes_list = [np.array([0.0, 2.0])]
    clf.feature_log_prob_ = np.log(np.array([[0.4, 0.6], [0.7, 0.3]]))
    clf.class_log_prior_ = np.log(np.array([0.5, 0.5]))
    assert clf.m_probs["f_02"] == 0.0 and clf.u_probs["f_02"] == 0.0


def test_supervised_fit_truth_duplicates_ignored(spark):
    """Duplicated truth pairs must not double a feature row's training
    weight — the reference's MultiIndex intersection is set-semantic
    (session-8 review fix)."""
    import numpy as np

    from recordlinkage_spark.classifiers import LogisticRegressionClassifier

    rows = [(i, i + 1000, float(i % 2), float((i * 3) % 2)) for i in range(200)]
    feats = spark.createDataFrame(rows, "id_1 int, id_2 int, f_a double, f_b double")
    truth = spark.createDataFrame(
        [(i, i + 1000) for i in range(0, 200, 2)], "id_1 int, id_2 int"
    )
    c1 = LogisticRegressionClassifier().fit(feats, truth).coefficients
    c2 = LogisticRegressionClassifier().fit(
        feats, truth.union(truth)
    ).coefficients
    assert np.allclose(c1, c2)
