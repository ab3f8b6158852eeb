"""Per-query decomposition profile for the bench queries (round 6).

Times sub-steps of each bench query with the noop sink (guide §1.4) so we
see where each query's seconds go. Best-of-N per step. Not the driver
bench — see bench.py for the frozen harness.
"""
from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N = int(os.environ.get("PROF_REPEATS", "3"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def best(fn, n=N):
    ts = []
    for _ in range(n):
        t0 = time.time()
        fn()
        ts.append(round(time.time() - t0, 3))
    return ts


def main() -> None:
    from pyspark.sql import functions as F

    from recordlinkage_spark.config import EngineConfig, get_spark
    from recordlinkage_spark.classifiers import ECMClassifier
    from recordlinkage_spark.comparing import Compare
    from recordlinkage_spark.datagen import binary_vectors
    from recordlinkage_spark.indexing import Block
    from recordlinkage_spark.minhash import MinHashLSH
    from recordlinkage_spark.pipeline import DedupPipeline
    from recordlinkage_spark.simhash import SimHash
    from recordlinkage_spark.suffix import (FingerprintSubstring,
                                            remove_duplicate_spans)
    from recordlinkage_spark import ann
    from recordlinkage_spark.semdedup import semantic_dedup

    # get_spark picks the master (its slot rule); size the shuffle from
    # the slots it chose
    spark = get_spark("profile-r06")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(max(2 * spark.sparkContext.defaultParallelism, 16)))
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    docs.count()
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").cache()
    cust.count()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    emb.count()

    out: dict = {}

    # warm up python workers / codegen
    lsh = MinHashLSH(num_perm=128, bands=32, rows=4, shingle_size=3)
    lsh.candidate_pairs(docs, "doc_id", "text").count()

    # --- dedup_pipeline: per-stage secs from the pipeline's own metrics ---
    cfg = EngineConfig(num_perm=128, lsh_bands=32, lsh_rows=4, shingle_size=3,
                       span_tokens=16, winnow_window=9)
    stage_runs = []
    for _ in range(N):
        pipe = DedupPipeline(cfg, jaccard_threshold=0.5)
        t0 = time.time()
        o = pipe.run(docs, id_col="doc_id", text_col="text")
        o["clusters"].count()
        total = round(time.time() - t0, 3)
        stage_runs.append({"total": total,
                           "stages": [(m.get("stage"), m.get("secs"))
                                      for m in pipe.metrics if "secs" in m]})
    out["dedup_pipeline"] = stage_runs

    # --- minhash_candidates ------------------------------------------------
    sc.setJobDescription("minhash: bands only")
    out["minhash_bands_noop"] = best(lambda: noop(
        lsh.bands_table(docs, "doc_id", "text")))
    sc.setJobDescription("minhash: full")
    out["minhash_full"] = best(
        lambda: lsh.candidate_pairs(docs, "doc_id", "text").count())

    # --- simhash -----------------------------------------------------------
    sh = SimHash(hamming_k=3, blocks=4, shingle_size=2)
    sc.setJobDescription("simhash: signatures only")
    out["simhash_sigs_noop"] = best(lambda: noop(
        sh.signatures(docs, "doc_id", "text")))
    sc.setJobDescription("simhash: full")
    out["simhash_full"] = best(
        lambda: sh.candidate_pairs(docs, "doc_id", "text").count())

    # --- substring pairs / removal ----------------------------------------
    fps = FingerprintSubstring(span_tokens=16, winnow_window=9)
    sc.setJobDescription("substring: fingerprints only")
    out["substring_fps_noop"] = best(lambda: noop(
        fps.fingerprints(docs, "doc_id", "text")))
    sc.setJobDescription("substring: pairs full")
    out["substring_pairs_full"] = best(
        lambda: fps.candidate_pairs(docs, "doc_id", "text").count())
    sc.setJobDescription("substring: removal full")
    out["substring_removal_full"] = best(
        lambda: remove_duplicate_spans(docs, "doc_id", "text", span_tokens=16,
                                       winnow_window=9)
        .filter("cut_spans > 0").count())

    # --- compare 6feat -----------------------------------------------------
    pairs = Block("c_nationkey").index(cust, id_col="c_custkey").limit(50000)
    sc.setJobDescription("compare: pairs only")
    out["compare_pairs_noop"] = best(lambda: noop(pairs))

    def run_compare():
        feats = (
            Compare()
            .string("c_name", "c_name", "jaro", label="f_jaro")
            .string("c_name", "c_name", "jarowinkler", threshold=0.85, label="f_jw")
            .exact("c_mktsegment", "c_mktsegment", label="f_seg")
            .exact("c_nationkey", "c_nationkey", label="f_nat")
            .string("c_name", "c_name", "levenshtein", threshold=0.85, label="f_lev")
            .numeric("c_acctbal", "c_acctbal", "gauss", scale=1000.0, label="f_bal")
            .compute(pairs, cust, id_col="c_custkey")
        )
        feats.agg(F.sum("f_jaro")).collect()

    sc.setJobDescription("compare: full")
    out["compare_full"] = best(run_compare)

    # --- ecm ---------------------------------------------------------------
    def gen_only():
        feats, _ = binary_vectors(spark, n=50000, n_match=10000, random_state=535)
        noop(feats)

    sc.setJobDescription("ecm: datagen only")
    out["ecm_gen_noop"] = best(gen_only)

    def ecm_fit_only():
        feats, _ = binary_vectors(spark, n=50000, n_match=10000, random_state=535)
        ECMClassifier().fit(feats)

    sc.setJobDescription("ecm: gen+fit")
    out["ecm_gen_fit"] = best(ecm_fit_only)
    sc.setJobDescription("ecm: full")
    out["ecm_full"] = best(lambda: ECMClassifier().fit_predict(
        binary_vectors(spark, n=50000, n_match=10000, random_state=535)[0]
    ).filter("label = 1").count())

    # --- ann ---------------------------------------------------------------
    dim = len(emb.select("embedding").first()["embedding"])
    sc.setJobDescription("ann: ivf_train only")
    out["ann_ivf_train"] = best(lambda: ann.ivf_train(
        emb.filter(F.col("embedding").isNotNull()), 32, "vec_id", "embedding",
        sample_rows=100_000, iters=10, seed=42))
    sc.setJobDescription("ann: ivf full")
    out["ann_ivf_full"] = best(lambda: ann.ivf_topk(
        emb, emb.limit(50), k=10, n_lists=32, nprobe=8, seed=42).count())
    sc.setJobDescription("ann: topk full")
    out["ann_topk_full"] = best(lambda: ann.cosine_topk(
        emb, emb.limit(50), k=10).count())

    # --- embedding near-dup lsh -------------------------------------------
    sc.setJobDescription("neardup: buckets only")
    out["neardup_buckets_noop"] = best(lambda: noop(
        ann.lsh_buckets(emb, dim, "vec_id", "embedding", bits=8, tables=8)))
    from recordlinkage_spark.minhash import bucket_pairs as bp
    sc.setJobDescription("neardup: cands only")
    out["neardup_cands"] = best(lambda: bp(
        ann.lsh_buckets(emb, dim, "vec_id", "embedding", bits=8, tables=8),
        ["table_id", "bucket"], cap=2000, id_type="bigint").count())
    sc.setJobDescription("neardup: full")
    out["neardup_full"] = best(lambda: ann.embedding_near_dup_pairs(
        emb, dim=dim, threshold=0.85, bits=8, tables=8).collect() and None)

    # --- semantic dedup ----------------------------------------------------
    sc.setJobDescription("semdedup: full")
    out["semdedup_full"] = best(lambda: semantic_dedup(
        emb, n_lists=32, threshold=0.85, seed=42).filter("NOT keep").count())

    # --- connected components ---------------------------------------------
    from recordlinkage_spark.network import ConnectedComponents

    def run_cc():
        edges = cust.select(
            F.col("c_custkey").alias("id_1"),
            (F.col("c_custkey") - F.col("c_custkey") % 10).alias("id_2"),
        ).filter(F.col("id_1") != F.col("id_2"))
        ConnectedComponents().compute(edges).count()

    sc.setJobDescription("cc: full")
    out["cc_full"] = best(run_cc)

    spark.stop()
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
