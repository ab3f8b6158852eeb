"""SimHash bucket index (64-bit) — second web-scale near-dup pass.

Not in the reference (SURVEY.md §2.2 "new"). SimHash (Charikar 2002): each
token hash votes ±1 per bit weighted by its bit pattern; the sign vector
packs into one int64 per doc. Docs within Hamming distance k are near-dups.

Index trick (Manku et al. 2007): split the 64 bits into ``blocks`` chunks;
any two signatures with hamming <= blocks-1 share at least one exact chunk
(pigeonhole), so an equi-join per chunk finds all such pairs; a JVM
``bit_count(s1 ^ s2) <= k`` post-filter removes false candidates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from recordlinkage_spark import textfns


_CHUNK_HASHES = 16384  # doc-aligned cache block (bits matrix ~1 MB int8)


def _simhash_from_segments(flat: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """SimHash per doc segment of a flat uint64 hash array -> int64 array.
    Docs with count 0 get signature 0.

    unpackbits expands every hash to 64 bytes — cache-blocked over
    doc-aligned chunks so the (N, 64) bit matrix never leaves L2/L3 (the
    unblocked version's DRAM traffic saturated this host's memory
    bandwidth under 32 concurrent workers; see minhash._bands_from_segments)."""
    ndocs = len(counts)
    offsets = np.zeros(ndocs, dtype=np.int64)
    np.cumsum(counts[:-1], out=offsets[1:])
    votes = np.zeros((ndocs, 64), dtype=np.int64)
    if len(flat):
        ends = np.append(offsets[1:], len(flat))
        d0 = 0
        while d0 < ndocs:
            start = offsets[d0]
            d1 = int(np.searchsorted(ends, start + _CHUNK_HASHES, side="right"))
            d1 = max(d1, d0 + 1)
            seg = flat[start:ends[d1 - 1]]
            if len(seg):
                bits = np.unpackbits(
                    seg.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
                )
                # reduceat over NONZERO-count docs only: a count-0 doc's
                # offset equals its neighbor's and would corrupt the
                # neighboring segment (or index past the end at the tail)
                rel = np.arange(d0, d1)
                nz = rel[counts[d0:d1] > 0]
                offs = (offsets[nz] - start).astype(np.int64)
                v = np.add.reduceat(bits.astype(np.int32), offs, axis=0)
                votes[nz] = v
            d0 = d1
    # reduceat quirk: an empty segment (offsets[i] == offsets[i+1]) returns
    # the element AT the offset instead of zero — mask those out
    votes[counts == 0] = 0
    shifts = np.arange(64, dtype=np.uint64)
    powers = (np.uint64(1) << shifts).view(np.int64)
    majority = votes * 2 > counts[:, None]
    return (majority * powers[None, :]).sum(axis=1)


def make_text_simhash_udf(shingle_size: int):
    """pandas UDF: raw text -> int64 simhash, fully fused (tokenize + hash
    + n-gram combine + distinct + bit votes in one Arrow pass; see
    textfns module docstring for why not JVM expressions)."""

    def batch(texts: pd.Series) -> pd.Series:
        np.seterr(over="ignore")
        flat, lengths, isna = textfns.flat_token_hashes_np(texts)
        isna = isna | (lengths == 0)  # drop empty docs like nulls (ADVICE r01)
        grams, counts = textfns.gram_hashes_np(flat, lengths, shingle_size)
        # distinct matters here (unlike MinHash): repeated shingles must not
        # stack votes, matching Jaccard-on-sets semantics
        grams, counts = textfns.distinct_per_doc_np(grams, counts)
        sigs = _simhash_from_segments(grams, counts)
        res = pd.Series(sigs, dtype="Int64", index=texts.index)
        res[isna] = pd.NA
        return res

    return F.pandas_udf(batch, LongType()).asNondeterministic()


class SimHash:
    """SimHash near-dup index: signature, chunk buckets, Hamming filter."""

    def __init__(self, hamming_k: int = 3, blocks: int = 4,
                 shingle_size: int = 2, max_bucket_size: int = 2000):
        if blocks < hamming_k + 1:
            raise ValueError(
                "need blocks >= hamming_k+1 for the pigeonhole guarantee"
            )
        self.hamming_k = hamming_k
        self.blocks = blocks
        self.shingle_size = shingle_size
        self.max_bucket_size = max_bucket_size

    def signatures(self, df: DataFrame, id_col: str, text_col: str) -> DataFrame:
        df = textfns.spread_small_input(df)
        udf = make_text_simhash_udf(self.shingle_size)
        return df.select(
            F.col(id_col).alias("id"),
            udf(F.col(text_col)).alias("simhash"),
        ).filter(F.col("simhash").isNotNull())

    def candidate_pairs(self, df: DataFrame, id_col: str, text_col: str,
                        dropped_acc=None) -> DataFrame:
        """Chunk-bucket pair generation via the shared one-shuffle
        repartition+sort+Arrow-expander shape (minhash.bucket_pairs), with
        the 8-byte signature carried THROUGH the expansion as a payload
        column: the Hamming post-filter then runs directly on the pair
        rows, replacing the former two gather joins against the signature
        table (two extra plan stages, and two shuffles of the signature
        table at corpus scale) with one extra int64 per row in the bucket
        shuffle. The signature frame is consumed exactly once, so it no
        longer needs a lineage pin either. ``dropped_acc``: optional
        Spark accumulator counting dropped oversize buckets."""
        from recordlinkage_spark.minhash import bucket_pairs

        sigs = self.signatures(df, id_col, text_col)
        width = 64 // self.blocks
        mask = (1 << width) - 1
        chunks = sigs.select(
            "id",
            "simhash",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("block_id"),
                        F.shiftrightunsigned("simhash", i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_val"),
                    )
                    for i in range(self.blocks)
                ])
            ).alias("_c"),
        ).select("id", "_c.block_id", "_c.block_val", "simhash")
        id_type = df.schema[id_col].dataType.simpleString()
        pairs = bucket_pairs(
            chunks, ["block_id", "block_val"], self.max_bucket_size, id_type,
            dropped_acc=dropped_acc, payload={"simhash": "bigint"},
        )
        return (
            pairs.filter(
                F.bit_count(
                    F.col("simhash_1").bitwiseXOR(F.col("simhash_2"))
                ) <= self.hamming_k
            )
            .select("id_1", "id_2")
        )
