"""Engine configuration + SparkSession helpers.

The reference uses a pandas-style global option registry
(recordlinkage/config.py:145-241); we use a plain dataclass — no global
mutable state, config travels with the pipeline object.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class EngineConfig:
    """Tunables for the dedup engine, sized for web-scale runs.

    At 10^12 docs these all matter; defaults here are sane for local mode
    and documented with their scale-up story.
    """

    # --- MinHash / LSH (the web-scale index pass) -------------------------
    num_perm: int = 128          # MinHash signature length k = bands * rows
    lsh_bands: int = 32          # b bands -> s-curve threshold ~ (1/b)^(1/r)
    lsh_rows: int = 4            # r rows per band
    shingle_size: int = 3        # word n-gram size for shingling
    # Cap on LSH bucket size: webtext boilerplate produces mega-buckets that
    # would explode quadratically; buckets above the cap are DROPPED by the
    # streaming pair expander, and the pipeline counts drops via a Spark
    # accumulator into its metrics list (SURVEY.md §4.1 skew observability).
    max_bucket_size: int = 2000
    # Per-doc candidate-pair degree cap applied BEFORE the exact-Jaccard
    # verify (minhash.cap_pair_degree). None = off (exact pair-level
    # output). Set (e.g. 8-16) when the corpus carries ubiquitous
    # boilerplate: a shared header makes f% of docs genuinely pairwise
    # similar, and the verify gather is quadratic in that clique's size
    # even with the bucket cap (measured: 10% boilerplate at 2M docs ->
    # 27.8M candidate pairs, 904 s verify, ~24 GB spill). Each doc keeps
    # >= min(cap, degree) edges and a random >=cap-out subgraph of a
    # true clique stays connected whp, so dense components survive —
    # but components joined only by scarce bridge edges between two
    # high-degree docs CAN split (measured 22 of 1.15M docs at 2M/10%/
    # cap 8, recall 0.99877 — inside the gate, not bit-identical); see
    # minhash.cap_pair_degree and BENCH/BASELINE.md round 5.
    max_verify_degree: int | None = None

    # --- fingerprint substring pass (suffix-array equivalent) --------------
    span_tokens: int = 32        # fingerprint window length (tokens)
    winnow_window: int = 19      # winnowing window; guarantees spans >= 32+19-1=50

    # --- stage tables (checkpoint/resume) -----------------------------------
    # "parquet" (tested default in this runtime — no catalog jars) or
    # "iceberg". With "iceberg" the pipeline writes each stage via
    # ``df.writeTo(<namespace>.<stage>)`` and records the committed
    # snapshot id in the manifest, so resume pins to a snapshot rather
    # than a directory. See DedupPipeline._write_stage for the seam.
    # default_factory, not a plain default: env vars are read when the
    # CONFIG IS BUILT, so a driver can set SPARK_GRAFT_* after importing
    # this module (a plain default froze the value at import time; a bad
    # SPARK_GRAFT_SHUFFLE even crashed the import — session-8 review fix)
    stage_format: str = field(default_factory=lambda: os.environ.get(
        "SPARK_GRAFT_STAGE_FORMAT", "parquet"))
    iceberg_namespace: str = field(default_factory=lambda: os.environ.get(
        "SPARK_GRAFT_ICEBERG_NS", "dedup"))

    # --- shuffle ------------------------------------------------------------
    shuffle_partitions: int = field(default_factory=lambda: int(
        os.environ.get("SPARK_GRAFT_SHUFFLE", "32")))

    # --- classifier ---------------------------------------------------------
    ecm_max_iter: int = 100
    ecm_atol: float = 1e-4

    @classmethod
    def for_threshold(
        cls,
        jaccard_threshold: float,
        num_perm: int = 128,
        target_recall: float = 0.99,
        strict: bool = True,
        **overrides,
    ) -> "EngineConfig":
        """Build a config whose (lsh_bands, lsh_rows) come from
        :func:`recordlinkage_spark.minhash.plan_lsh` — the factorization of
        ``num_perm`` meeting ``target_recall`` at ``jaccard_threshold`` with
        the smallest false-positive area — instead of hand-picked constants.
        With ``strict`` an unreachable target raises (raise ``num_perm``);
        ``overrides`` pass through to the dataclass (e.g. ``shingle_size``).
        """
        from recordlinkage_spark.minhash import plan_lsh

        plan = plan_lsh(
            jaccard_threshold, num_perm=num_perm, target_recall=target_recall
        )
        if strict and not plan["meets_target"]:
            raise ValueError(
                f"no bands*rows == {num_perm} factorization reaches recall "
                f"{target_recall} at jaccard {jaccard_threshold}; best is "
                f"{plan['recall_at_threshold']:.4f} — raise num_perm or pass "
                "strict=False"
            )
        return cls(
            num_perm=num_perm,
            lsh_bands=plan["bands"],
            lsh_rows=plan["rows"],
            **overrides,
        )


def get_spark(
    app_name: str = "recordlinkage-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for the dedup workload.

    Local-mode defaults; on a real cluster the same confs apply, with
    ``spark.sql.shuffle.partitions`` sized ~2-3x total cores and
    AQE coalescing handling the rest.
    """
    # Slot budget: pandas-UDF stages keep one JVM task thread + one Python
    # worker hot per slot (2 threads/slot). Above 16 allotted CPUs, running
    # one slot per CPU doubles the hot-thread count past the machine width
    # and inverts scaling (measured 4x on this box); size slots like real
    # executors are sized — so slots + workers fit the allotment.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    slots = cpus if cpus <= 16 else cpus // 2
    master = master or os.environ.get("SPARK_MASTER", f"local[{slots}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-plan, skew-join splitting, partition coalescing.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", "32")),
        )
        # Arrow for pandas UDFs — the only Python hot path we allow.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", os.environ.get("SPARK_GRAFT_ARROW_BATCH", "10000"))
        # local mode = ONE JVM shared by all task slots: size the heap for
        # 32 concurrent array-heavy tasks or GC thrash inverts scaling
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
