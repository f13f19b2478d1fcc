"""Measured-bytes routing helpers — the repo-wide discipline that every
physical-strategy fork (broadcast vs shuffle_hash, pinned vs
AQE-coalesced rounds) is decided by bytes the engine MEASURED, never by
the optimizer's static estimate. The documented failure class this
guards: computed-column projections (gram arrays, checkpoint leaves)
report only their pruned scan width to the planner, which then routes
corpus-sized tables into BroadcastExchanges (a driver OOM) or leaves a
static multi-GiB frame re-exchanging every iterative round.

Shared by ext/dedup (_gram_verify_join, the route decisions of the
ngram and levenshtein pair operators), ext/similarity
(embedding_neardup_pairs) and the iterative graph tier: ``edge_route``
is the one route of dedup_clusters, hits and hits_portable, against
``EDGE_PIN_MIN_BYTES``, ``EDGE_PARTITION_BYTES`` and
``BROADCAST_MAX_NODES`` (the last also caps pagerank's broadcast ranks
and the portable rank vectors); see SHUFFLE.md's round-10/11 manual
sections for the measured routings.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mesin_spark.ext.pin import PINNED

#: Static edge bytes past which an iterative loop pins its edge frame,
#: exchanged once by the loop's key, instead of re-exchanging it every
#: round (below it, AQE-coalesced rounds are kept: a fixed-width
#: repartition is exempt from coalescing, measured 2x slower at bench
#: scale).
EDGE_PIN_MIN_BYTES = 192 * 2**20
#: Target bytes per partition of a pinned edge frame.
EDGE_PARTITION_BYTES = 64 * 2**20
#: Node-count ceiling for broadcasting a per-node vector (ranks, scores,
#: labels) into the edge scan: ~128 MB of (int64, int64) pairs, where
#: Spark's own broadcast guidance tops out.
BROADCAST_MAX_NODES = 8_000_000


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


class EdgeRoute(NamedTuple):
    """The measured route of an iterative loop over a static edge frame:
    ``broadcast`` — the per-node vector broadcasts into the edge scan;
    ``width`` — the pinned edge frame's partition count, 0 to keep the
    AQE-coalesced rounds."""

    broadcast: bool
    width: int

    def pin(self, frame: DataFrame, key: str) -> DataFrame:
        """The distinct rows of ``frame`` exchanged ONCE by ``key`` and
        pinned (PinnedCache): hash partitioning on one key satisfies the
        dedup's clustering, so the pin's exchange is also the dedup pass,
        and the sort lets a merge join skip its edge-side sort."""
        return PINNED.pin(
            frame.repartition(self.width, F.col(key))
            .dropDuplicates()
            .sortWithinPartitions(key)
        )


def edge_route(leaf: DataFrame, copies: int = 1) -> EdgeRoute:
    """The one measured edge route of the graph tier, from ONE aggregate
    over the checkpointed (src, dst) edge ``leaf``: its bytes
    (row_bytes_expr, times the ``copies`` the loop will hold, 2 for a
    symmetrized list) and |distinct src| + |distinct dst|, an upper
    bound on |V| — conservative in the safe direction, it never
    broadcasts a too-big vector. Pinned past EDGE_PIN_MIN_BYTES, width
    bytes / EDGE_PARTITION_BYTES floored at the default parallelism, so
    cluster-sized frames get real partitions and local runs never drop
    below core count; broadcast up to BROADCAST_MAX_NODES."""
    st = leaf.agg(
        F.sum(row_bytes_expr(leaf, ["src", "dst"])).alias("_b"),
        (F.approx_count_distinct("src") + F.approx_count_distinct("dst")).alias("_n"),
    ).first()
    est_bytes = copies * float(st["_b"] or 0)
    width = 0
    if est_bytes >= EDGE_PIN_MIN_BYTES:
        width = max(
            leaf.sparkSession.sparkContext.defaultParallelism,
            int(est_bytes / EDGE_PARTITION_BYTES) + 1,
        )
    return EdgeRoute(int(st["_n"] or 0) <= BROADCAST_MAX_NODES, width)


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
