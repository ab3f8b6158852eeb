"""Capture .explain("formatted") for the bench queries into plans/<tag>/.

Usage: python scripts/capture_plans.py <tag> [suffix]
e.g.  python scripts/capture_plans.py r06 before

Builds each bench query's DataFrame exactly as bench.py does (same SF dir,
same params) and writes plans/<tag>/<query>_<suffix>.txt WITHOUT executing
the queries (explain only), plus the dedup pipeline's per-stage plans
captured lazily (stage builders called on un-pinned inputs where feasible).
"""
from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    out_dir = REPO / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)

    from pyspark.sql import functions as F

    from recordlinkage_spark.config import EngineConfig, get_spark
    from recordlinkage_spark.comparing import Compare
    from recordlinkage_spark.indexing import Block
    from recordlinkage_spark.minhash import MinHashLSH
    from recordlinkage_spark.simhash import SimHash
    from recordlinkage_spark.suffix import (FingerprintSubstring,
                                            remove_duplicate_spans)
    from recordlinkage_spark import ann
    from recordlinkage_spark.semdedup import semantic_dedup

    # get_spark picks the master (its slot rule); size the shuffle from
    # the slots it chose
    spark = get_spark("capture-plans")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(max(2 * spark.sparkContext.defaultParallelism, 16)))
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    docs.count()
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").cache()
    cust.count()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    emb.count()

    lsh = MinHashLSH(num_perm=128, bands=32, rows=4, shingle_size=3)
    pairs = Block("c_nationkey").index(cust, id_col="c_custkey").limit(50000)
    dim = len(emb.select("embedding").first()["embedding"])

    def compare_feats():
        return (
            Compare()
            .string("c_name", "c_name", "jaro", label="f_jaro")
            .string("c_name", "c_name", "jarowinkler", threshold=0.85, label="f_jw")
            .exact("c_mktsegment", "c_mktsegment", label="f_seg")
            .exact("c_nationkey", "c_nationkey", label="f_nat")
            .string("c_name", "c_name", "levenshtein", threshold=0.85, label="f_lev")
            .numeric("c_acctbal", "c_acctbal", "gauss", scale=1000.0, label="f_bal")
            .compute(pairs, cust, id_col="c_custkey")
        )

    builders = {
        "minhash_candidates": lambda: lsh.candidate_pairs(docs, "doc_id", "text"),
        "simhash_candidates": lambda: SimHash(hamming_k=3, blocks=4, shingle_size=2)
        .candidate_pairs(docs, "doc_id", "text"),
        "substring_pairs": lambda: FingerprintSubstring(
            span_tokens=16, winnow_window=9
        ).candidate_pairs(docs, "doc_id", "text"),
        "substring_removal": lambda: remove_duplicate_spans(
            docs, "doc_id", "text", span_tokens=16, winnow_window=9
        ).filter("cut_spans > 0"),
        "compare_6feat_50k": compare_feats,
        "ann_topk": lambda: ann.cosine_topk(emb, emb.limit(50), k=10),
        "ann_ivf_topk": lambda: ann.ivf_topk(
            emb, emb.limit(50), k=10, n_lists=32, nprobe=8, seed=42
        ),
        "embedding_near_dup_lsh": lambda: ann.embedding_near_dup_pairs(
            emb, dim=dim, threshold=0.85, bits=8, tables=8
        ),
        "semantic_dedup": lambda: semantic_dedup(
            emb, n_lists=32, threshold=0.85, seed=42
        ).filter("NOT keep"),
    }

    for name, build in builders.items():
        try:
            df = build()
            text = explain_str(df)
        except Exception as exc:  # noqa: BLE001
            text = f"FAILED to build plan: {exc!r}"
        (out_dir / f"{name}_{suffix}.txt").write_text(text)
        print(f"wrote {name}_{suffix}.txt ({len(text)} chars)")

    # dedup pipeline: capture the un-pinned stage builders' plans
    from recordlinkage_spark.minhash import (_band_rows, _signature_frame,
                                             bucket_pairs, exact_jaccard)
    from recordlinkage_spark.caching import pin

    cfg = EngineConfig(num_perm=128, lsh_bands=32, lsh_rows=4, shingle_size=3,
                       span_tokens=16, winnow_window=9)
    parts = []
    sig_lazy = _signature_frame(docs, cfg, "doc_id", "text")
    parts.append(("stage signatures", explain_str(sig_lazy)))
    sig = pin(sig_lazy, eager=True)
    cand_lazy = bucket_pairs(_band_rows(sig), ["band_key"], cfg.max_bucket_size,
                             "bigint")
    parts.append(("stage candidates", explain_str(cand_lazy)))
    cand = pin(cand_lazy, eager=True)
    ver_lazy = exact_jaccard(
        sh=sig.select("id", F.col("sh").alias("_sh")), cands=cand,
        threshold=0.5, n_pairs=cand.count())
    parts.append(("stage verified", explain_str(ver_lazy)))
    sub_lazy = bucket_pairs(
        sig.select("id", F.explode("fps").alias("fp")), ["fp"],
        cfg.max_bucket_size, "bigint",
    ).withColumn("jaccard", F.lit(None).cast("double"))
    parts.append(("stage substring_pairs", explain_str(sub_lazy)))
    ver = pin(ver_lazy, eager=True)
    sub = pin(sub_lazy, eager=True)
    matches_lazy = ver.unionByName(sub).groupBy("id_1", "id_2").agg(
        F.max("jaccard").alias("jaccard"))
    parts.append(("stage matches", explain_str(matches_lazy)))
    (out_dir / f"dedup_pipeline_{suffix}.txt").write_text(
        "\n\n".join(f"== {t} ==\n{p}" for t, p in parts))
    print(f"wrote dedup_pipeline_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
