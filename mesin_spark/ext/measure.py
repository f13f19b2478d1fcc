"""Measured-bytes routing helpers — the repo-wide discipline that every
physical-strategy fork (broadcast vs shuffle_hash, prepartition vs
AQE-coalesced rounds) is decided by bytes the engine MEASURED, never by
the optimizer's static estimate. The documented failure class this
guards: computed-column projections (gram arrays, checkpoint leaves)
report only their pruned scan width to the planner, which then routes
corpus-sized tables into BroadcastExchanges (a driver OOM) or leaves a
static multi-GiB frame re-exchanging every iterative round.

Shared by ext/dedup (_gram_verify_join, dedup_clusters, the route
decisions of the ngram and levenshtein pair operators), ext/similarity
(embedding_neardup_pairs) and
ext/graph (hits edge prepartition); see SHUFFLE.md's round-10/11 manual
sections for the measured routings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def row_bytes_expr(df: DataFrame, cols: list[str]) -> Column:
    """Per-row shuffle-byte estimate for ``cols``: 8 B for fixed-width
    types, measured octet length + 8 B header for strings/binary, plus a
    16 B UnsafeRow/record overhead — dtype-aware so string keys size by
    their actual bytes."""
    dt = dict(df.dtypes)
    total = F.lit(16).cast("bigint")
    for c in cols:
        if dt.get(c) in ("string", "binary"):
            total = total + F.coalesce(
                F.octet_length(F.col(c)).cast("bigint"), F.lit(0)
            ) + F.lit(8)
        else:
            total = total + F.lit(8)
    return total


def partition_width(df: DataFrame, est_bytes: float,
                    target_partition_bytes: float) -> int:
    """Fixed repartition width sized to the data: bytes / target,
    floored at the default parallelism so cluster-sized frames get real
    partitions and local runs never drop below core count. (A fixed
    width is exempt from AQE coalescing — only take it when measured
    bytes justify it.)"""
    return max(
        df.sparkSession.sparkContext.defaultParallelism,
        int(est_bytes / target_partition_bytes) + 1,
    )


def block_occupancy(frame: DataFrame) -> tuple[float, float]:
    """The count-only occupancy probe behind every blocked all-pairs
    "auto" route: over ``frame``'s ``blk`` column, returns (undirected
    all-pairs candidates per row, max block occupancy). Only ``blk``
    reaches the aggregate, so nothing materializes and nothing but blk
    shuffles. Occupancies go through double BEFORE the multiply: long
    occ·(occ−1) overflows at ~3e9-row blocks — exactly the mega-block
    case the probe exists to catch (ANSI mode would throw; non-ANSI
    wraps negative and mis-routes)."""
    occ = frame.select("blk").groupBy("blk").agg(
        F.count(F.lit(1)).cast("double").alias("_occ")
    )
    row = occ.agg(
        F.sum(F.col("_occ") * (F.col("_occ") - 1) / 2).alias("_pairs"),
        F.sum("_occ").alias("_docs"),
        F.max("_occ").alias("_max"),
    ).collect()[0]
    pairs_per_row = (row["_pairs"] or 0.0) / max(row["_docs"] or 1.0, 1.0)
    return pairs_per_row, row["_max"] or 0.0
