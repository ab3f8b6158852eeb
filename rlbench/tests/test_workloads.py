"""Workload inputs are a function of the seed, and the traced web
decomposition does the same work as DedupPipeline.run. Runs at toy sizes."""

import hashlib

import pytest

from tracing import NullTracer, Tracer
from workloads import PersonLink, WebBatch


class TinyWeb(WebBatch):
    n_docs = 300  # cap 12, 18 boilerplate copies: the skew path still runs


class TinyPerson(PersonLink):
    n_originals = 200


def frame_digest(df) -> str:
    rows = sorted(tuple(r) for r in df.collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


@pytest.mark.parametrize("cls", [TinyWeb, TinyPerson])
def test_inputs_are_a_function_of_the_seed(spark, tmp_path, cls):
    def inputs(seed):
        wl = cls(spark, tmp_path, seed)
        wl.generate()
        data = wl.docs if cls is TinyWeb else wl.recs
        return frame_digest(data), frame_digest(wl.truth)

    first = inputs(3)
    assert inputs(3) == first
    other = inputs(4)
    assert other[0] != first[0] and other[1] != first[1]


def test_web_decomposition_matches_pipeline(spark, tmp_path):
    wl = TinyWeb(spark, tmp_path, 5)
    wl.generate()
    ref = wl.check(wl.run(NullTracer()))
    assert ref.recall >= 0.99 and ref.precision == 1.0
    clusters, extras = wl.decomposed(Tracer())
    assert wl.check(clusters, ref) is ref  # same cluster digest
    assert extras["minhash.band_pairs.dropped_buckets"] >= 32  # every band of the page
    assert extras["minhash.substring_pairs.dropped_buckets"] > 0
    assert 0 < extras["minhash.verify.useful_frac"] <= 1
    wl.cleanup()
