"""End-to-end incremental snapshot ingest — the composition contract of
the incremental tiers over a NEW crawl against an existing corpus:

  1. within-snapshot recrawl collapse    webtext.dedup_url_keep_latest
  2. exact dedup vs the corpus           bloom.dedup_against (NOT EXISTS,
                                         corpus never shuffles)
  3. near-dup vs the corpus's persisted
     LSH signature store                 MinHashLSH.candidate_pairs_against
  4. cluster assignment                  network.ConnectedComponents

Each tier is unit-gated in its own file (test_webtext / test_bloom /
test_dedup_passes / test_network); this test gates the SEAMS: the column
contracts compose, survivors flow tier to tier, and the final clusters
link edited recrawls to their corpus originals while verbatim recrawls
never reach the pairwise tier at all.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from recordlinkage_spark.bloom import dedup_against
from recordlinkage_spark.config import EngineConfig
from recordlinkage_spark.datagen import webtext_corpus
from recordlinkage_spark.minhash import MinHashLSH
from recordlinkage_spark.network import ConnectedComponents
from recordlinkage_spark.pipeline import DedupPipeline
from recordlinkage_spark.webtext import dedup_url_keep_latest

WORDS = [f"w{i:03d}" for i in range(400)]


def _text(i: int, n: int = 60) -> str:
    rng = np.random.RandomState(1000 + i)
    return " ".join(WORDS[j] for j in rng.randint(0, len(WORDS), n))


def _near(i: int) -> str:
    """Two-token edit of original i — well above jaccard 0.5 on 3-shingles."""
    toks = _text(i).split()
    toks[5] = "edited"
    toks[30] = "tokens"
    return " ".join(toks)


@pytest.fixture(scope="module")
def frames(spark):
    corpus_rows = [
        (f"http://site{i}.com/a", 1_700_000_000 + i, _text(i)) for i in range(40)
    ]
    new_rows = []
    # A: verbatim recrawls of corpus docs 0..9 (same url + same text,
    #    newer warc_ts) — must die at the bloom tier, never pairing
    for i in range(10):
        new_rows.append((f"http://site{i}.com/a", 1_700_100_000 + i, _text(i)))
    # B: one url fetched TWICE within the snapshot — the older fetch is
    #    junk, the newest is an edited near-dup of corpus doc 20 (content
    #    syndicated across sites); keep-latest must keep only the newest
    new_rows.append(("http://site10.com/a", 1_700_100_000, "stale junk page"))
    new_rows.append(("http://site10.com/a", 1_700_100_500, _near(20)))
    # C: edited near-dups of corpus docs 11..15 at brand-new urls —
    #    survive bloom, link to their originals at the LSH tier
    for i in range(11, 16):
        new_rows.append((f"http://new{i}.com/b", 1_700_100_000 + i, _near(i)))
    # D: genuinely new pages — survive every tier, cluster as singletons
    for i in range(100, 110):
        new_rows.append((f"http://fresh{i}.com/c", 1_700_100_000 + i, _text(i)))

    def mk(rows):
        return spark.createDataFrame(
            rows, "url string, ts long, text string"
        ).select("url", F.timestamp_seconds("ts").alias("warc_ts"), "text")

    return mk(corpus_rows).cache(), mk(new_rows).cache()


def test_incremental_snapshot_flow(spark, frames):
    corpus, new = frames

    # tier 1: collapse within-snapshot recrawls (newest warc_ts per url)
    collapsed = dedup_url_keep_latest(new, "url", "warc_ts")
    assert collapsed.count() == 26  # 10 A + 1 B + 5 C + 10 D
    b_rows = collapsed.filter(F.col("url") == "http://site10.com/a").collect()
    assert len(b_rows) == 1 and b_rows[0]["n_crawls"] == 2
    assert "stale" not in b_rows[0]["text"]
    snap = collapsed.select("url", "warc_ts", "text")

    # tier 2: bloom exact dedup against the corpus — verbatim recrawls drop
    survivors = dedup_against(snap, corpus.select("text"), "text", fpp=0.01)
    got_urls = {r["url"] for r in survivors.collect()}
    assert got_urls == (
        {"http://site10.com/a"}
        | {f"http://new{i}.com/b" for i in range(11, 16)}
        | {f"http://fresh{i}.com/c" for i in range(100, 110)}
    )

    # tier 3: near-dup candidates vs the corpus's persisted signature store
    lsh = MinHashLSH(num_perm=128, bands=32, rows=4, shingle_size=3)
    store = lsh.bands_table(corpus, "url", "text")
    pairs = lsh.candidate_pairs_against(survivors, store, "url", "text")
    got_pairs = {
        tuple(sorted((r["id_1"], r["id_2"]))) for r in pairs.collect()
    }
    want_pairs = {
        tuple(sorted((f"http://new{i}.com/b", f"http://site{i}.com/a")))
        for i in range(11, 16)
    } | {("http://site10.com/a", "http://site20.com/a")}
    assert got_pairs == want_pairs

    # tier 4: clusters — every edited doc lands with exactly its original
    comp = ConnectedComponents().compute(pairs.select("id_1", "id_2"))
    cmap = {r["id"]: r["cluster_id"] for r in comp.collect()}
    for i in range(11, 16):
        assert cmap[f"http://new{i}.com/b"] == cmap[f"http://site{i}.com/a"]
    assert cmap["http://site10.com/a"] == cmap["http://site20.com/a"]
    # D docs never pair: absent from the component table (singletons)
    assert not any("fresh" in k for k in cmap)


# --- DedupPipeline.run_incremental -----------------------------------------

_CFG = dict(num_perm=128, lsh_bands=32, lsh_rows=4, shingle_size=3,
            span_tokens=16, winnow_window=9, max_bucket_size=100_000)


def _cluster_sets(df, id_col="url"):
    rows = df.collect()
    comps = {}
    for r in rows:
        comps.setdefault(r["cluster_id"], set()).add(r[id_col])
    return {frozenset(v) for v in comps.values()}


def test_run_incremental_equals_full_batch(spark, tmp_path):
    """With disjoint id spaces and no caps hit, incremental clusters over
    (prior assignments ∪ new matches) must equal the full-batch run over
    old ∪ new — including the min-id labels."""
    docs, _ = webtext_corpus(spark, n_docs=400, dup_fraction=0.35, seed=7)
    docs = docs.cache()
    old = docs.filter(F.abs(F.hash("url")) % 4 != 0)
    new = docs.filter(F.abs(F.hash("url")) % 4 == 0)

    base = DedupPipeline(EngineConfig(**_CFG), work_dir=str(tmp_path / "base"),
                         jaccard_threshold=0.5)
    base_out = base.run(old, id_col="url", text_col="text")
    prior_sigs = spark.read.parquet(str(tmp_path / "base" / "signatures"))

    inc = DedupPipeline(EngineConfig(**_CFG), work_dir=str(tmp_path / "inc"),
                        jaccard_threshold=0.5)
    inc_out = inc.run_incremental(new, prior_sigs, base_out["clusters"],
                                  id_col="url", text_col="text")

    full = DedupPipeline(EngineConfig(**_CFG), jaccard_threshold=0.5).run(
        docs, id_col="url", text_col="text")

    got = inc_out["clusters"]
    want = full["clusters"]
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # every incremental match touches a new doc (store never self-pairs)
    new_ids = {r["url"] for r in new.select("url").collect()}
    for r in inc_out["matches"].collect():
        assert r["id_1"] in new_ids or r["id_2"] in new_ids

    # without prior clusters the components run over the new matches alone
    alone = DedupPipeline(
        EngineConfig(**_CFG), jaccard_threshold=0.5
    ).run_incremental(new, prior_sigs, None, id_col="url", text_col="text")
    assert alone["matches"].count() > 0
    cc = ConnectedComponents().compute(
        alone["matches"].select("id_1", "id_2")).withColumnRenamed("id", "url")
    assert alone["clusters"].exceptAll(cc).count() == 0
    assert cc.exceptAll(alone["clusters"]).count() == 0


def test_run_incremental_resume(spark, tmp_path):
    docs, _ = webtext_corpus(spark, n_docs=200, dup_fraction=0.3, seed=11)
    old = docs.filter(F.abs(F.hash("url")) % 3 != 0)
    new = docs.filter(F.abs(F.hash("url")) % 3 == 0)
    base = DedupPipeline(EngineConfig(**_CFG), work_dir=str(tmp_path / "b"),
                         jaccard_threshold=0.5)
    base_out = base.run(old, id_col="url", text_col="text")
    prior_sigs = spark.read.parquet(str(tmp_path / "b" / "signatures"))

    wd = str(tmp_path / "i")
    first = DedupPipeline(EngineConfig(**_CFG), work_dir=wd,
                          jaccard_threshold=0.5)
    out1 = first.run_incremental(new, prior_sigs, base_out["clusters"],
                                 id_col="url", text_col="text")
    want = sorted(map(tuple, out1["clusters"].collect()))
    assert {m["stage"] for m in first.metrics} == {
        "inc_signatures", "inc_candidates", "inc_substring_pairs",
        "inc_verified", "inc_matches", "inc_clusters"}

    resumed = DedupPipeline(EngineConfig(**_CFG), work_dir=wd,
                            jaccard_threshold=0.5)
    out2 = resumed.run_incremental(new, prior_sigs, base_out["clusters"],
                                   id_col="url", text_col="text")
    assert sorted(map(tuple, out2["clusters"].collect())) == want
    # every inc_* stage was read back from the manifest, none re-ran
    assert not any(m["stage"].startswith("inc_") and "secs" in m
                   for m in resumed.metrics)


def test_run_incremental_degree_cap_preserves_clusters(spark, tmp_path):
    """max_verify_degree in the incremental flow: a new snapshot sharing a
    boilerplate header with the store still clusters identically (spanning
    subgraph of the new-vs-store clique), with fewer verified pairs."""
    header = " ".join(f"hh{i}" for i in range(120))
    old = spark.createDataFrame(
        [(f"s{i:02d}", f"{header} sbody{i} sx{i}") for i in range(25)],
        "url string, text string",
    )
    new = spark.createDataFrame(
        [(f"n{i:02d}", f"{header} nbody{i} nx{i}") for i in range(15)],
        "url string, text string",
    )

    def run_pair(cfg_extra, wd):
        base = DedupPipeline(EngineConfig(**_CFG), work_dir=str(wd / "b"),
                             jaccard_threshold=0.5)
        base_out = base.run(old, id_col="url", text_col="text")
        prior_sigs = spark.read.parquet(str(wd / "b" / "signatures"))
        # substring pass off: the winnowing tier would re-emit the full
        # header clique here (its own control is max_bucket_size) and
        # mask the verify-tier count this test pins
        inc = DedupPipeline(
            EngineConfig(**{**_CFG, **cfg_extra}), work_dir=str(wd / "i"),
            jaccard_threshold=0.5, use_substring_pass=False)
        return inc, inc.run_incremental(
            new, prior_sigs, base_out["clusters"],
            id_col="url", text_col="text")

    _, full = run_pair({}, tmp_path / "f")
    inc_pipe, capped = run_pair({"max_verify_degree": 3}, tmp_path / "c")
    assert _cluster_sets(full["clusters"]) == _cluster_sets(capped["clusters"])
    assert capped["matches"].count() < full["matches"].count()
    assert any(m["stage"] == "inc_candidates_capped"
               for m in inc_pipe.metrics)


def test_run_incremental_supersede_updated_doc(spark, tmp_path):
    """An id present in both snapshots is an updated doc: its STORED
    signature must not pair its stale content, while prior cluster edges
    keep its old links (merge-only contract)."""
    old = spark.createDataFrame(
        [("A", _text(1)), ("B", _near(1)), ("C", _text(2))],
        "url string, text string",
    )
    base = DedupPipeline(EngineConfig(**_CFG), work_dir=str(tmp_path / "b"),
                         jaccard_threshold=0.5)
    base_out = base.run(old, id_col="url", text_col="text")
    assert _cluster_sets(base_out["clusters"]) == {frozenset({"A", "B"})}
    prior_sigs = spark.read.parquet(str(tmp_path / "b" / "signatures"))

    # A is UPDATED to unrelated content; Z is a near-dup of the OLD A/B text
    new = spark.createDataFrame(
        [("A", _text(50)), ("Z", _near(1))], "url string, text string")
    inc = DedupPipeline(EngineConfig(**_CFG), work_dir=str(tmp_path / "i"),
                        jaccard_threshold=0.5)
    out = inc.run_incremental(new, prior_sigs, base_out["clusters"],
                              id_col="url", text_col="text")
    got = {tuple(sorted((r["id_1"], r["id_2"])))
           for r in out["matches"].collect()}
    # Z pairs with B (still stale-free in the store) but NOT with the
    # superseded A, whose new content matches nothing
    assert ("B", "Z") in got
    assert not any("A" in p for p in got)
    # merge-only: A stays linked to B via the prior edge, so {A, B, Z}
    assert _cluster_sets(out["clusters"]) == {frozenset({"A", "B", "Z"})}
