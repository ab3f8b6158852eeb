"""Adapters that wrap external ML models as pair classifiers.

Reference: recordlinkage/adapters.py:6-139 — ``SKLearnAdapter`` and
``KerasAdapter`` expose any model with sklearn-style ``fit`` /
``predict`` / ``predict_proba`` (or Keras ``fit`` / ``predict_classes``
/ ``predict_proba``) as a record-pair classifier; labels for supervised
fit come from membership of each pair in the truth index
(recordlinkage/base.py:912-926).

Spark-first shape — the two halves scale differently and are treated
differently:

* **fit** is driver-side numpy: training sets for pair classification
  are human-labeled and therefore small by construction. A count gate
  fails fast (with a ``.sample()`` hint) instead of silently collecting
  an unbounded table, mirroring ``classifiers._guarded_collect``.
  Unlike the native classifiers there is no unique-vector compression
  here — an arbitrary kernel may be non-linear in continuous features —
  so the gate is on raw rows.

* **predict** is fully distributed: the fitted kernel is broadcast
  (pickled once per executor, not per task) and scored inside
  ``mapInPandas`` — one Arrow batch in, one numpy ``predict`` /
  ``predict_proba`` call out. Inference over billions of candidate
  pairs runs at cluster width; the model object never bottlenecks the
  driver. The kernel must be picklable (sklearn estimators are; for
  Keras pass weights + a rebuild function via ``KerasModelAdapter``'s
  documented pattern).

Neither sklearn nor keras ships in this container; the adapters are
duck-typed and tested against hand-rolled numpy kernels, which also
proves the seam is generic rather than sklearn-bound.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .classifiers import PAIR, BaseClassifier, _feature_cols

# A labeled training set bigger than this is almost certainly a mistake
# (nobody labels 5M pairs); fail fast rather than OOM the driver.
MAX_TRAIN_ROWS = 5_000_000


class SKLearnClassifierAdapter(BaseClassifier):
    """Wrap an sklearn-style kernel (``fit(X[, y])``, ``predict(X)``,
    optional ``predict_proba(X)``) as a pair classifier.

    Reference parity: adapters.py:6-75. ``_prob_match`` takes the
    probability column at ``classes_.index(1)`` when the kernel exposes
    ``classes_`` (adapters.py:67-74); otherwise column 1 of a 2-column
    proba, else the decision itself.
    """

    def __init__(self, kernel, max_train_rows: int = MAX_TRAIN_ROWS,
                 pickle_by_value: bool = False):
        self.kernel = kernel
        self.max_train_rows = max_train_rows
        # Serialization of the kernel to executors: installed packages
        # (sklearn) pickle by reference; __main__/notebook classes pickle
        # by value automatically. The gap is a class from a module that
        # imports on the driver but is absent on executors (a local
        # script not shipped with --py-files) — set pickle_by_value=True
        # to ship the whole defining module inside the broadcast.
        self.pickle_by_value = pickle_by_value
        self._cols: list[str] | None = None

    # reference exposes the kernel as .classifier too (adapters.py:13-20)
    @property
    def classifier(self):
        return self.kernel

    @classifier.setter
    def classifier(self, kernel):
        self.kernel = kernel

    def _collect_train(self, features: DataFrame,
                       truth: DataFrame | None) -> tuple[np.ndarray, np.ndarray | None]:
        self._cols = _feature_cols(features)
        n = features.count()
        if n > self.max_train_rows:
            raise ValueError(
                f"training set has {n} rows (> {self.max_train_rows}); "
                "driver-side fit expects a labeled (small) sample — "
                "features.sample(...) it first, or raise max_train_rows."
            )
        if truth is None:
            X = np.asarray(features.select(*self._cols).collect(), dtype=float)
            return X, None
        labeled = features.join(
            truth.select(PAIR).withColumn("_y", F.lit(1)), PAIR, "left"
        ).fillna({"_y": 0})
        rows = labeled.select(*self._cols, "_y").collect()
        # None -> NaN like the unsupervised branch above (float(None)
        # raises TypeError, so a single null feature value crashed the
        # supervised path only — session-8 review fix); whether the
        # wrapped model accepts NaN is its own contract, as with sklearn.
        X = np.asarray([[r[c] for c in self._cols] for r in rows], dtype=float)
        y = np.asarray([int(r["_y"]) for r in rows])
        if y.sum() == 0:
            raise ValueError("training data has zero matches (base.py:916-922)")
        return X, y

    def fit(self, features: DataFrame, truth: DataFrame | None = None):
        X, y = self._collect_train(features, truth)
        if y is None:
            self.kernel.fit(X)  # unsupervised (adapters.py:48-52)
        else:
            self.kernel.fit(X, y)
        return self

    # -- kernel-flavor hooks, overridden by the Keras adapter ---------

    @staticmethod
    def _kernel_predict(kernel, X: np.ndarray) -> np.ndarray:
        return np.asarray(kernel.predict(X)).reshape(-1)

    @staticmethod
    def _kernel_prob(kernel, X: np.ndarray, pred: np.ndarray) -> np.ndarray:
        if hasattr(kernel, "predict_proba"):
            probs = np.asarray(kernel.predict_proba(X))
            classes = list(getattr(kernel, "classes_", []))
            col = classes.index(1) if 1 in classes else probs.shape[1] - 1
            return probs[:, col]
        return pred.astype(float)

    def predict(self, features: DataFrame) -> DataFrame:
        from pyspark import cloudpickle

        cols = self._cols or _feature_cols(features)
        spark = features.sparkSession
        # broadcast: the (possibly large) fitted model is shipped once per
        # executor instead of being re-pickled into every task closure.
        # cloudpickle, not plain pickle: it serializes __main__/notebook
        # kernel classes by value so they unpickle on executors.
        if self.pickle_by_value:
            import sys

            mod = sys.modules.get(type(self.kernel).__module__)
            cloudpickle.register_pickle_by_value(mod)
            try:
                payload = cloudpickle.dumps(self.kernel)
            finally:
                cloudpickle.unregister_pickle_by_value(mod)
        else:
            payload = cloudpickle.dumps(self.kernel)
        bc = spark.sparkContext.broadcast(payload)
        kernel_predict = self._kernel_predict
        kernel_prob = self._kernel_prob

        out_schema = ", ".join(
            [f"{c} {t}" for c, t in features.select(*PAIR).dtypes]
            + ["score double", "label int"]
        )

        def score_batches(batches):
            kernel = cloudpickle.loads(bc.value)  # once per partition
            for pdf in batches:
                X = pdf[cols].to_numpy(dtype=float)
                out = pdf[PAIR].copy()
                if len(X):
                    pred = kernel_predict(kernel, X)
                    out["score"] = kernel_prob(kernel, X, pred)
                    out["label"] = pred.astype(int)
                else:
                    out["score"] = np.zeros(0, dtype=float)
                    out["label"] = np.zeros(0, dtype=int)
                yield out

        return features.select(*PAIR, *cols).mapInPandas(score_batches, out_schema)


class KerasModelAdapter(SKLearnClassifierAdapter):
    """Keras-flavor adapter (reference adapters.py:78-139): the kernel's
    ``predict`` returns P(match) in column 0; labels are the 0.5 cut.

    Keras models aren't directly picklable; wrap as an object holding
    ``get_weights()`` output + an architecture rebuild function whose
    ``predict`` lazily reconstructs — the adapter only requires
    pickle-ability and a ``predict(X) -> (n, 1) probs`` method. (No
    keras in this container; tested with a numpy stand-in.)
    """

    @staticmethod
    def _kernel_predict(kernel, X: np.ndarray) -> np.ndarray:
        # predict_classes(features)[:, 0] (adapters.py:107)
        probs = np.asarray(kernel.predict(X))
        if probs.ndim == 1:
            probs = probs[:, None]
        return (probs[:, 0] > 0.5).astype(int)

    @staticmethod
    def _kernel_prob(kernel, X: np.ndarray, pred: np.ndarray) -> np.ndarray:
        # predict_proba(features)[:, 0] (adapters.py:133-137)
        probs = np.asarray(kernel.predict(X))
        if probs.ndim == 1:
            probs = probs[:, None]
        return probs[:, 0].astype(float)

    def fit(self, features: DataFrame, truth: DataFrame | None = None):
        X, y = self._collect_train(features, truth)
        self.kernel.fit(X, y)  # Keras fit is always supervised (adapters.py:117-118)
        return self
