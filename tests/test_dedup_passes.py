"""Web-scale dedup passes: MinHash/LSH, SimHash, fingerprint substring,
plus the end-to-end pipeline recall gate on the planted-duplicate corpus
(FIXTURES.md F1; BASELINE.json dup-pair recall >= 0.99)."""

import pytest
from pyspark.sql import functions as F

from recordlinkage_spark import measures
from recordlinkage_spark.config import EngineConfig
from recordlinkage_spark.datagen import webtext_corpus
from recordlinkage_spark.minhash import MinHashLSH
from recordlinkage_spark.pipeline import DedupPipeline
from recordlinkage_spark.simhash import SimHash
from recordlinkage_spark.suffix import FingerprintSubstring


@pytest.fixture(scope="module")
def corpus(spark):
    docs, truth = webtext_corpus(spark, n_docs=800, dup_fraction=0.35, seed=42)
    docs = docs.cache()
    truth = truth.cache()
    docs.count(), truth.count()
    return docs, truth


def _pair_truth(truth, kinds):
    return truth.filter(F.col("kind").isin(list(kinds))).select(
        F.col("url_1").alias("id_1"), F.col("url_2").alias("id_2")
    )


def test_minhash_recall_on_exact_and_near(corpus):
    docs, truth = corpus
    lsh = MinHashLSH(num_perm=128, bands=32, rows=4, shingle_size=3)
    cands = lsh.candidate_pairs(docs, "url", "text")
    t = _pair_truth(truth, ["exact", "near"])
    tp = measures.true_positives(t, cands)
    fn = measures.false_negatives(t, cands)
    assert measures.recall(tp, fn) >= 0.99


def test_minhash_verified_precision(corpus):
    docs, truth = corpus
    lsh = MinHashLSH(num_perm=128, bands=32, rows=4, shingle_size=3)
    verified = lsh.verified_pairs(docs, "url", "text", threshold=0.5)
    t = _pair_truth(truth, ["exact", "near", "span", "span_weak"])
    fp = measures.false_positives(t, verified)
    # verified pairs at jaccard>=0.5 on random-vocab docs: essentially no FPs
    assert fp <= verified.count() * 0.02


def test_minhash_bucket_cap(corpus):
    docs, _ = corpus
    lsh = MinHashLSH(num_perm=32, bands=8, rows=4, max_bucket_size=2)
    m = lsh.truncation_metrics(docs, "url", "text")
    assert m["buckets"] > 0
    # with a cap of 2 some exact-dup buckets must be dropped
    assert m["dropped_buckets"] > 0
    capped = lsh.candidate_pairs(docs, "url", "text").count()
    lsh2 = MinHashLSH(num_perm=32, bands=8, rows=4, max_bucket_size=2000)
    uncapped = lsh2.candidate_pairs(docs, "url", "text").count()
    assert capped < uncapped


def test_simhash_finds_exact_dups(corpus):
    docs, truth = corpus
    sh = SimHash(hamming_k=3, blocks=4, shingle_size=2)
    cands = sh.candidate_pairs(docs, "url", "text")
    t = _pair_truth(truth, ["exact"])
    tp = measures.true_positives(t, cands)
    fn = measures.false_negatives(t, cands)
    assert measures.recall(tp, fn) >= 0.99


def test_fingerprint_substring_finds_span_dups(corpus):
    docs, truth = corpus
    fps = FingerprintSubstring(span_tokens=32, winnow_window=19)
    cands = fps.candidate_pairs(docs, "url", "text")
    # every planted span dup shares a >=50-token exact run with its original
    span_truth = truth.filter("kind = 'span'").select(
        F.col("url_1").alias("id_1"), F.col("url_2").alias("id_2")
    )
    # restrict to (copy, original) pairs: originals are site*, copies mirror*
    direct = span_truth.filter(
        (F.col("id_1").contains("mirror") & F.col("id_2").contains("site"))
        | (F.col("id_2").contains("mirror") & F.col("id_1").contains("site"))
    )
    tp = measures.true_positives(direct, cands)
    fn = measures.false_negatives(direct, cands)
    assert measures.recall(tp, fn) == 1.0  # winnowing guarantee, not probabilistic


def test_fingerprint_verified_span_length(corpus):
    docs, _ = corpus
    fps = FingerprintSubstring(span_tokens=32, winnow_window=19)
    verified = fps.verified_pairs(docs, "url", "text", min_span=50)
    rows = verified.limit(5).collect()
    for r in rows:
        assert r["common_span"] >= 50


def test_pipeline_end_to_end_recall(corpus, tmp_path):
    docs, truth = corpus
    cfg = EngineConfig(num_perm=128, lsh_bands=32, lsh_rows=4, shingle_size=3)
    pipe = DedupPipeline(cfg, jaccard_threshold=0.5)
    out = pipe.run(docs, id_col="url", text_col="text")
    # cluster recall over exact+near truth pairs (span dups pair via the
    # substring pass and land in the same component)
    t = _pair_truth(truth, ["exact", "near"])
    rec = measures.cluster_pair_recall(t, out["clusters"], id_col="url")
    assert rec >= 0.99
    assert {"stage": s for s in []} is not None
    stages = [m["stage"] for m in pipe.metrics]
    assert "candidates" in stages and "clusters" in stages


def test_pipeline_resume(corpus, tmp_path):
    docs, truth = corpus
    cfg = EngineConfig(num_perm=64, lsh_bands=16, lsh_rows=4)
    work = str(tmp_path / "wd")
    p1 = DedupPipeline(cfg, work_dir=work, jaccard_threshold=0.5)
    out1 = p1.run(docs, id_col="url", text_col="text")
    n1 = out1["clusters"].count()
    # resume: second run must skip all stages (no new metrics entries)
    p2 = DedupPipeline(cfg, work_dir=work, jaccard_threshold=0.5)
    out2 = p2.run(docs, id_col="url", text_col="text")
    assert out2["clusters"].count() == n1
    assert p2.metrics == []  # everything resumed from the manifest
    # stage-format seam: manifest entries carry format + snapshot_id
    # (parquet default -> null snapshot; iceberg would pin one)
    import json as _json

    mf = _json.loads((tmp_path / "wd" / "manifest.json").read_text())
    for entry in mf.values():
        assert entry["format"] == "parquet"
        assert entry["snapshot_id"] is None


def test_pipeline_recrawl_collapse(corpus, tmp_path):
    """ts_col turns on the keep-latest recrawl pre-stage: two crawls per
    url — the OLD one deliberately garbage — must collapse to the newest
    before any content pass, leaving end-to-end recall intact and the
    'recrawls' stage first in the metrics."""
    docs, truth = corpus
    crawls = docs.select(
        "url",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("crawl"),
        "text",
    ).select(
        "url",
        F.timestamp_seconds(
            F.lit(1700000000) + F.col("crawl") * 3600
        ).alias("warc_ts"),
        F.when(F.col("crawl") == 2, F.col("text"))
        .otherwise(F.concat(F.lit("OLD STALE PAGE "), F.reverse(F.col("text"))))
        .alias("text"),
    )
    cfg = EngineConfig(num_perm=128, lsh_bands=32, lsh_rows=4, shingle_size=3)
    pipe = DedupPipeline(cfg, jaccard_threshold=0.5)
    out = pipe.run(crawls, id_col="url", text_col="text",
                   ts_col="warc_ts", canonicalize_urls=False)
    collapsed = out["collapsed"]
    assert collapsed.count() == docs.count()
    assert collapsed.agg(F.max("n_crawls")).first()[0] == 2
    # only the newest crawl survived, so content recall matches the
    # single-crawl pipeline gate
    t = _pair_truth(truth, ["exact", "near"])
    rec = measures.cluster_pair_recall(t, out["clusters"], id_col="url")
    assert rec >= 0.99
    assert [m["stage"] for m in pipe.metrics][0] == "recrawls"


def test_empty_docs_excluded_from_signatures(spark):
    """Empty/whitespace-only docs must not pair with each other (they'd
    otherwise share gram [0] and cluster as jaccard-1.0 'duplicates')."""
    rows = [
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "the quick brown fox jumps over the lazy dog"),
        ("e1", ""), ("e2", "   "), ("e3", None),
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    lsh = MinHashLSH(num_perm=32, bands=8, rows=4, shingle_size=3)
    pairs = {(r["id_1"], r["id_2"])
             for r in lsh.candidate_pairs(docs, "url", "text").collect()}
    assert pairs == {("b", "a")}
    sh = SimHash(hamming_k=3, blocks=4, shingle_size=2)
    spairs = {(r["id_1"], r["id_2"])
              for r in sh.candidate_pairs(docs, "url", "text").collect()}
    assert spairs == {("b", "a")}


_NULL_ID_PASSES = {
    "minhash_candidates": lambda df: MinHashLSH(
        num_perm=32, bands=8, rows=4).candidate_pairs(df, "url", "text"),
    "minhash_verified": lambda df: MinHashLSH(
        num_perm=32, bands=8, rows=4).verified_pairs(
            df, "url", "text", threshold=0.5),
    "simhash": lambda df: SimHash(hamming_k=3, blocks=4).candidate_pairs(
        df, "url", "text"),
    "fingerprint": lambda df: FingerprintSubstring(
        span_tokens=16, winnow_window=9).candidate_pairs(df, "url", "text"),
}


@pytest.mark.parametrize("run_pass", list(_NULL_ID_PASSES))
def test_null_id_sharing_a_bucket(spark, run_pass):
    """A null id that shares a bucket with real docs is dropped before the
    pair expander (bucket_pairs): the real pair is still found and no pair
    holds a null (the expander's numpy max cannot compare None with a
    str)."""
    text = " ".join(f"tok{i}" for i in range(120))
    docs = spark.createDataFrame(
        [(None, text), ("a", text), ("b", text)], "url string, text string"
    )
    got = {(r["id_1"], r["id_2"])
           for r in _NULL_ID_PASSES[run_pass](docs).collect()}
    assert got == {("b", "a")}


def test_verified_pairs_equal_pipeline_verified_stage(corpus):
    """MinHashLSH.verified_pairs is the pipeline's verified stage: same
    signature frame, bucket rows, pairer and verify gather, so on the same
    corpus and LSH settings the two collects are equal, jaccard included
    (the differential equal-collect check of SNIPPETS.md [2])."""
    docs, _ = corpus
    lsh = MinHashLSH(num_perm=128, bands=32, rows=4, shingle_size=3)
    got = lsh.verified_pairs(docs, "url", "text", threshold=0.5).collect()
    cfg = EngineConfig(num_perm=128, lsh_bands=32, lsh_rows=4,
                       shingle_size=3)
    pipe = DedupPipeline(cfg, jaccard_threshold=0.5, use_substring_pass=False)
    want = pipe.run(docs, id_col="url", text_col="text")["matches"].collect()
    assert len(got) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


class TestIncrementalLSH:
    """candidate_pairs_against: batch-vs-store incremental LSH (the batch
    twin of streaming.foreach_batch_dedup)."""

    def _split(self, spark, corpus):
        docs, truth = corpus
        # split by url hash so dup clusters straddle the old/new boundary
        old = docs.filter(F.abs(F.hash("url")) % 4 != 0)
        new = docs.filter(F.abs(F.hash("url")) % 4 == 0)
        return old, new

    def test_equals_full_batch_restricted(self, spark, corpus):
        """Against an uncapped store, incremental candidates must equal the
        full-batch candidate set restricted to pairs touching a new doc."""
        docs, _ = corpus
        lsh = MinHashLSH(num_perm=128, bands=32, rows=4, shingle_size=3,
                         max_bucket_size=100000)
        old, new = self._split(spark, corpus)
        store = lsh.bands_table(old, "url", "text")

        got = lsh.candidate_pairs_against(new, store, "url", "text")
        new_ids = {r["url"] for r in new.select("url").collect()}
        want = {
            (r["id_1"], r["id_2"])
            for r in lsh.candidate_pairs(docs, "url", "text").collect()
            if r["id_1"] in new_ids or r["id_2"] in new_ids
        }
        assert {(r["id_1"], r["id_2"]) for r in got.collect()} == want

    def test_no_store_only_pairs(self, spark, corpus):
        lsh = MinHashLSH(num_perm=128, bands=32, rows=4, shingle_size=3)
        old, new = self._split(spark, corpus)
        store = lsh.bands_table(old, "url", "text")
        got = lsh.candidate_pairs_against(new, store, "url", "text")
        new_ids = {r["url"] for r in new.select("url").collect()}
        for r in got.collect():
            assert r["id_1"] in new_ids or r["id_2"] in new_ids

    def test_hot_store_key_dropped(self, spark):
        """A store band key touched by more rows than max_bucket_size is
        dropped entirely (boilerplate protection), while other keys of the
        same batch still pair."""
        lsh = MinHashLSH(num_perm=8, bands=4, rows=2, shingle_size=2,
                         max_bucket_size=5)
        spark_df = spark.createDataFrame
        # store: 6 rows on hot key 1 (over cap), 2 rows on key 2 (under)
        store = spark_df(
            [(f"s{i}", 1) for i in range(6)] + [("sa", 2), ("sb", 2)],
            "id string, band_key int",
        )
        # batch whose docs are identical -> they share all band keys; force
        # the keys by bypassing text: call the cross path via a fake
        # bands_table through candidate_pairs_against is text-driven, so
        # instead drive the join directly with a one-doc batch and assert
        # via the public API on synthetic text that at least the under-cap
        # store rows can pair. Simplest deterministic check: the pure-join
        # semantics through a monkeypatched bands_table.
        import types

        fake_bands = spark_df([("n1", 1), ("n1", 2)], "id string, band_key int")
        lsh.bands_table = types.MethodType(
            lambda self, df, i, t: fake_bands, lsh,
        )
        got = {
            (r["id_1"], r["id_2"])
            for r in lsh.candidate_pairs_against(
                spark_df([("n1", "x")], "id string, text string"),
                store, "id", "text",
            ).collect()
        }
        # hot key 1 contributes nothing; key 2 pairs n1 with sa and sb
        assert got == {("sa", "n1"), ("sb", "n1")}


def test_pipeline_fresh_workdir_not_poisoned(corpus, tmp_path):
    """Re-pointing ONE pipeline object at a fresh work_dir (the documented
    one-work-dir-per-snapshot flow) must run fresh, not 'resume' from the
    previous run's in-memory manifest entries (session-8 review fix:
    _load_manifest resets when no manifest file exists)."""
    docs, _ = corpus
    small = docs.limit(60).cache()
    n_small = small.count()
    cfg = EngineConfig(num_perm=32, lsh_bands=8, lsh_rows=4)
    pipe = DedupPipeline(cfg, work_dir=str(tmp_path / "runA"),
                         jaccard_threshold=0.5)
    out1 = pipe.run(small, id_col="url", text_col="text")
    assert out1["signatures"].count() == n_small
    bigger = docs.limit(200).cache()
    n_big = bigger.count()
    pipe.work_dir = tmp_path / "runB"
    out2 = pipe.run(bigger, id_col="url", text_col="text")
    # before the fix this returned runA's 60-row signature stage
    assert out2["signatures"].count() == n_big


def test_matches_jaccard_deterministic_for_dual_pass_pairs(spark):
    """A pair found by BOTH the verify pass (jaccard) and the substring
    pass (jaccard null) must keep the verified jaccard — the merge is
    max() per pair, not an order-dependent dropDuplicates."""
    long = " ".join(f"tok{i}" for i in range(120))
    docs = spark.createDataFrame(
        [("a", long), ("b", long)], "url string, text string"
    )
    cfg = EngineConfig(num_perm=32, lsh_bands=8, lsh_rows=4,
                       span_tokens=16, winnow_window=9)
    pipe = DedupPipeline(cfg, jaccard_threshold=0.5)
    out = pipe.run(docs, id_col="url", text_col="text")
    rows = out["matches"].collect()
    assert len(rows) == 1
    assert rows[0]["jaccard"] == 1.0


def test_pairs_against_bands_caps_new_side(spark):
    """A boilerplate band_key that is hot on the NEW side must be dropped
    from the cross join too, not only from the within-batch expander —
    otherwise 1M batch rows on one key each join up to cap store rows
    (session-8 review fix)."""
    from recordlinkage_spark.minhash import pairs_against_bands

    mk = spark.createDataFrame
    new = mk(
        [(f"n{i}", 1) for i in range(6)] + [("na", 2), ("nb", 2)],
        "id string, band_key int",
    )
    store = mk([("s1", 1), ("s2", 1), ("sa", 2)], "id string, band_key int")
    got = {
        (r["id_1"], r["id_2"])
        for r in pairs_against_bands(new, store, "string", 5).collect()
    }
    involved = {x for p in got for x in p}
    # hot new key 1 (6 rows > cap 5) contributes nothing on either path
    assert "s1" not in involved and "s2" not in involved
    assert got == {("nb", "na"), ("sa", "na"), ("sa", "nb")}


def test_bucket_pairs_no_self_pairs(spark):
    """A doc occupying two rows of one bucket (duplicate id, or two of
    its band hashes truncating to the same band_key) must not emit a
    self-pair (x, x) — it would verify at jaccard 1.0 (session-8 review
    fix)."""
    from recordlinkage_spark.minhash import bucket_pairs

    rows = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 1)], "id string, band_key int"
    )
    got = {
        (r["id_1"], r["id_2"])
        for r in bucket_pairs(rows, ["band_key"], 10, "string").collect()
    }
    assert got == {("b", "a")}


def test_pairs_against_bands_counts_store_side_drops(spark):
    """A key hot on the STORE side only is dropped from the cross join —
    that drop must land in dropped_acc like every other truncation
    (session-8 review fix: silently uncounted drops read as 'no
    truncation happened')."""
    from recordlinkage_spark.minhash import pairs_against_bands

    mk = spark.createDataFrame
    new = mk([("n1", 1), ("n2", 2)], "id string, band_key int")
    store = mk(
        [(f"s{i}", 1) for i in range(6)] + [("sa", 2)],
        "id string, band_key int",
    )
    acc = spark.sparkContext.accumulator(0)
    got = {
        (r["id_1"], r["id_2"])
        for r in pairs_against_bands(
            new, store, "string", 5, dropped_acc=acc
        ).collect()
    }
    # key 1 (6 store rows > cap 5) dropped and counted; key 2 pairs
    assert got == {("sa", "n2")}
    assert acc.value == 1


def test_pairs_against_bands_combined_cap(spark):
    """The cross join caps the COMBINED (new + store) bucket, matching
    streaming.foreach_batch_dedup (ADVICE r4): per-side caps let a key at
    the cap on BOTH sides expand to ~cap^2 pairs. Key 1 here is under the
    cap on each side (3 + 3) but over combined (6 > 5) — its cross pairs
    must vanish while its within-batch pairs (3 new rows <= cap) stay."""
    from recordlinkage_spark.minhash import pairs_against_bands

    mk = spark.createDataFrame
    new = mk(
        [("n1", 1), ("n2", 1), ("n3", 1), ("na", 2)],
        "id string, band_key int",
    )
    store = mk(
        [("s1", 1), ("s2", 1), ("s3", 1), ("sa", 2)],
        "id string, band_key int",
    )
    acc = spark.sparkContext.accumulator(0)
    out = pairs_against_bands(new, store, "string", 5, dropped_acc=acc)
    got = {(r["id_1"], r["id_2"]) for r in out.collect()}
    # no store id of key 1 pairs; within-batch key-1 pairs survive
    assert got == {
        ("n2", "n1"), ("n3", "n1"), ("n3", "n2"), ("sa", "na"),
    }
    assert acc.value == 1
    # the dropped-key count must be action-stable (ADVICE r4: the
    # un-pinned mapInPandas re-incremented per action on a lazy result)
    out.collect()
    out.count()
    assert acc.value == 1


def test_cap_pair_degree_clique_stays_connected(spark):
    """The degree cap keeps a spanning subgraph of a true clique: one
    component, every node present, kept size bounded by 2*n*cap, and the
    kept set is partition-layout-independent (hash rank, no RNG)."""
    from recordlinkage_spark.minhash import cap_pair_degree
    from recordlinkage_spark.network import ConnectedComponents

    n = 120
    pairs = spark.createDataFrame(
        [(f"d{i:03d}", f"d{j:03d}") for i in range(n) for j in range(i)],
        "id_1 string, id_2 string",
    )
    capped = cap_pair_degree(pairs, cap=3)
    kept = capped.count()
    assert kept < pairs.count()
    assert kept <= 2 * n * 3
    comp = ConnectedComponents().compute(capped)
    assert comp.count() == n
    assert comp.select("cluster_id").distinct().count() == 1
    # layout independence
    again = {
        (r["id_1"], r["id_2"])
        for r in cap_pair_degree(pairs.repartition(13), cap=3).collect()
    }
    assert again == {(r["id_1"], r["id_2"]) for r in capped.collect()}


def test_cap_pair_degree_small_degrees_untouched(spark):
    """Docs whose degree is within the cap keep every pair."""
    from recordlinkage_spark.minhash import cap_pair_degree

    pairs = spark.createDataFrame(
        [("b", "a"), ("c", "a"), ("d", "c")], "id_1 string, id_2 string"
    )
    got = {(r["id_1"], r["id_2"])
           for r in cap_pair_degree(pairs, cap=4).collect()}
    assert got == {("b", "a"), ("c", "a"), ("d", "c")}


def test_pipeline_degree_cap_preserves_clusters(spark):
    """A planted boilerplate clique (shared long header on 40 docs):
    max_verify_degree must leave the CLUSTER partition identical to the
    uncapped run while verifying fewer pairs."""
    header = " ".join(f"hdr{i}" for i in range(120))
    rows = [(f"b{i:02d}", f"{header} body{i} extra{i}") for i in range(40)]
    rows += [(f"u{i:02d}", " ".join(f"w{i}_{j}" for j in range(60)))
             for i in range(10)]
    docs = spark.createDataFrame(rows, "url string, text string")
    cfg_kw = dict(num_perm=32, lsh_bands=8, lsh_rows=4, shingle_size=3)
    full = DedupPipeline(
        EngineConfig(**cfg_kw), jaccard_threshold=0.5,
        use_substring_pass=False,
    ).run(docs, id_col="url", text_col="text")
    capped = DedupPipeline(
        EngineConfig(max_verify_degree=3, **cfg_kw), jaccard_threshold=0.5,
        use_substring_pass=False,
    ).run(docs, id_col="url", text_col="text")

    def partition(out):
        comps = {}
        for r in out["clusters"].collect():
            comps.setdefault(r["cluster_id"], set()).add(r["url"])
        return {frozenset(v) for v in comps.values()}

    assert partition(capped) == partition(full)
    assert capped["matches"].count() < full["matches"].count()


def test_pipeline_null_url_rows_excluded_from_dedup(spark):
    """Null-url failure records pass the recrawl collapse through
    ungrouped; they must be EXCLUDED from the id-keyed dedup (a null id
    reaching the pair expander crashed numpy's canonicalization) while
    staying visible in the collapsed output (session-8 review fix)."""
    rows = [
        ("https://a.example.com/x", 1, "the quick brown fox jumps over it"),
        ("https://a.example.com/x", 2, "the quick brown fox jumps over it"),
        (None, 1, "identical error page text body"),
        (None, 2, "identical error page text body"),
    ]
    docs = spark.createDataFrame(
        rows, "url string, ts int, text string"
    ).withColumn("warc_ts", F.timestamp_seconds(F.col("ts") * 3600)).drop("ts")
    cfg = EngineConfig(num_perm=32, lsh_bands=8, lsh_rows=4)
    pipe = DedupPipeline(cfg, jaccard_threshold=0.5)
    out = pipe.run(docs, id_col="url", text_col="text",
                   ts_col="warc_ts", canonicalize_urls=False)
    assert out["collapsed"].count() == 3  # survivor + BOTH null-url rows
    assert out["signatures"].filter(F.col("id").isNull()).count() == 0


def test_pipeline_metrics_reset_per_run(spark, tmp_path):
    """metrics_df describes THE run — reusing one object across
    work_dirs must not mix stale stage rows in (session-8 review fix)."""
    docs = spark.createDataFrame(
        [(f"u{i}", f"doc text number {i} with tokens") for i in range(30)],
        "url string, text string",
    )
    cfg = EngineConfig(num_perm=32, lsh_bands=8, lsh_rows=4)
    pipe = DedupPipeline(cfg, work_dir=str(tmp_path / "r1"),
                         jaccard_threshold=0.5)
    pipe.run(docs, id_col="url", text_col="text")
    pipe.work_dir = tmp_path / "r2"
    pipe.run(docs, id_col="url", text_col="text")
    stages = [m["stage"] for m in pipe.metrics if "rows" in m]
    assert len(stages) == len(set(stages))  # each stage exactly once
