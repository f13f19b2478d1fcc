"""Similarity search over embedding columns (array<float>).

Two tiers, per the charter:
- brute-force cosine top-k: one codegen'd scan + TakeOrderedAndProject —
  the exact baseline, linear in corpus size, embarrassingly parallel
  (each partition keeps a k-heap; the driver merges k·numPartitions rows);
- LSH-bucketed ANN (random hyperplanes): prune the scan to a handful of
  signature buckets, then exact-rank inside them — the 100 TB path when
  a full scan per query is too expensive. Buckets are a plain equi-filter,
  so partition pruning applies if the corpus is written partitioned by
  signature.

All vector math is built-in higher-order functions (zip_with/aggregate) —
JVM-side, no Python/UDF in the hot path.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mesin_spark.ext.ckpt import ckpt
from mesin_spark.ext.measure import block_occupancy
from mesin_spark.ext.pin import PINNED

from mesin_spark.functions import stable_round as R


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


#: prefix length of the Cauchy-Schwarz verify prefilter (round 13): long
#: enough that the residual-norm product alone sits far below a near-dup
#: threshold on energy-spread vectors, short enough that the flat prefix
#: dot stays a small codegen-friendly expression (the r12 flat-codegen
#: rejection was 64-term trees; 16 terms measured fine).
_CS_PREFIX = 16


def _cs_rest_norm(vd: Column) -> Column:
    """Per-row L2 norm of the vector's tail beyond _CS_PREFIX (0.0 when
    the vector is shorter) — the per-row half of the Cauchy-Schwarz
    verify prefilter."""
    rest = F.slice(
        vd,
        F.lit(_CS_PREFIX + 1),
        F.greatest(F.size(vd) - F.lit(_CS_PREFIX), F.lit(0)),
    )
    return F.sqrt(F.aggregate(rest, F.lit(0.0), lambda acc, x: acc + x * x))


def _cs_bound_pass(threshold: float) -> Column:
    """EXACT verify prefilter over (vec_a, vec_b, nrm_a, nrm_b, rn_a,
    rn_b) pair columns: Cauchy-Schwarz gives
    dot(a,b) <= dot(a[:P], b[:P]) + ||a[P:]||*||b[P:]||, so a pair whose
    bound falls below (threshold - 1e-6)*||a||*||b|| can NEVER reach the
    6-dp-rounded threshold (rounding needs sim >= threshold - 5e-7; the
    extra margin dwarfs the ~1e-14 relative float error of evaluating
    the bound) — no false negatives, survivors' sims computed by the
    unchanged full fold, output identical. The prefix dot is a FLAT
    16-term sum (no per-pair array allocations — the HOF slice/zip_with
    form of the same bound measured 43.1 s vs 5.0 s on the 100x band-0
    probe precisely because of the three per-pair allocations);
    vectors shorter than the prefix read NULL past their end
    (try_element_at — a plain element_at throws under ANSI) and coalesce
    makes those terms 0; their rest norm is 0 too, so the bound degrades
    to the exact dot — still correct."""
    pd = None
    for i in range(1, _CS_PREFIX + 1):
        t = F.coalesce(
            F.try_element_at("vec_a", F.lit(i)) * F.try_element_at("vec_b", F.lit(i)),
            F.lit(0.0),
        )
        pd = t if pd is None else pd + t
    return (pd + F.col("rn_a") * F.col("rn_b")) >= (
        F.lit(threshold - 1e-6) * F.col("nrm_a") * F.col("nrm_b")
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns (computed in double).

    The cast-to-double arrays are let-bound (ext/text.let_bound): each
    side feeds BOTH the dot product and its norm, so the inline form
    re-ran the O(dim) cast-transform twice per side per pair (round 12;
    same sibling-reference class as the shingle fix — values
    bit-identical, the identical folds just read a bound variable)."""
    from mesin_spark.ext.text import let_bound

    def _cos(s: Column) -> Column:
        ad, bd = s["a"], s["b"]
        return dot(ad, bd) / (norm(ad) * norm(bd))

    return let_bound(
        F.struct(_as_double(a).alias("a"), _as_double(b).alias("b")), _cos
    )


def lit_vector(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def brute_force_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector. Deterministic
    tie-break on id. Returns (id, sim)."""
    q = lit_vector(query_vec)
    return (
        emb.select(
            F.col(id_col),
            R(cosine(F.col(vec_col), q), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc_nulls_last(), F.col(id_col).asc_nulls_last())
        .limit(k)
    )


def radius_search(
    emb: DataFrame,
    query_vec: list[float],
    radius: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Range similarity search: every vector with cosine ≥ ``radius`` of
    the query — the 'all near neighbors' companion to top-k (retrieval
    dedup, coverage analysis). The scan+filter stage is embarrassingly
    parallel (one codegen'd pass, filter instead of k-heap); the FINAL
    ordering of matches is a real range-partition sort exchange over the
    match set — drop the orderBy when feeding a downstream join/agg that
    doesn't need ranked output. At scale, stack the LSH/IVF bucket filter
    in front to prune the scan — the radius filter composes unchanged.
    Returns (id, sim) ranked by similarity."""
    q = lit_vector(query_vec)
    return (
        emb.select(
            F.col(id_col),
            R(cosine(F.col(vec_col), q), 6).alias("sim"),
        )
        .filter(F.col("sim") >= radius)
        .orderBy(F.col("sim").desc_nulls_last(), F.col(id_col).asc_nulls_last())
    )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_emb",
) -> DataFrame:
    """k-NN join: for every query vector, its ``k`` nearest corpus vectors
    by cosine (self-matches on equal ids excluded). Returns
    (q_id, vec_id, sim, rank).

    Scale shape: the query side is broadcast (it is the small side — a
    probe batch), so the corpus is scanned ONCE for all queries with no
    corpus shuffle for scoring. Top-k per query is two-phase: the first
    row_number ranks within (query, input-partition), spreading the ranking
    shuffle over |Q|·numPartitions keys so no reducer ever sorts more than
    one partition's candidates (a single per-query window would funnel the
    whole corpus through |Q| reducers); the final ranking then sees only
    k·numPartitions rows per query — the per-group analog of
    TakeOrderedAndProject. Ranking orders on the 6-dp rounded sim with an
    id tie-break, so it is deterministic across engines and partitionings."""
    from pyspark.sql import Window

    q = F.broadcast(
        queries.select(
            F.col(id_col).alias(q_id_col), F.col(vec_col).alias(q_vec_col)
        )
    )
    scored = (
        corpus.join(q, F.col(id_col) != F.col(q_id_col))
        .select(
            q_id_col,
            id_col,
            R(cosine(F.col(vec_col), F.col(q_vec_col)), 6).alias("sim"),
        )
        .withColumn("_p", F.spark_partition_id())
    )
    w_part = Window.partitionBy(q_id_col, "_p").orderBy(
        F.col("sim").desc_nulls_last(), F.col(id_col).asc_nulls_last()
    )
    pruned = (
        scored.withColumn("_rn", F.row_number().over(w_part))
        .filter(F.col("_rn") <= k)
        .drop("_p", "_rn")
    )
    w_final = Window.partitionBy(q_id_col).orderBy(
        F.col("sim").desc_nulls_last(), F.col(id_col).asc_nulls_last()
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= k)
    )


# -- LSH (random hyperplanes) ---------------------------------------------
def _plane_component(plane: int, dim: int) -> int:
    """Deterministic ±1 hyperplane component from a stable hash (md5) — no
    RNG state, reproducible across engines/runs/machines."""
    h = hashlib.md5(f"mesin:{plane}:{dim}".encode()).digest()
    return 1 if h[0] % 2 == 0 else -1


def hyperplanes(n_planes: int, dims: int) -> list[list[int]]:
    return [[_plane_component(p, d) for d in range(dims)] for p in range(n_planes)]


def signature_col(vec_col: Column, planes: list[list[int]]) -> Column:
    """Pack sign(v·plane_i) bits into one integer signature — built-ins only."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        d = dot(_as_double(vec_col), F.array(*[F.lit(float(c)) for c in plane]))
        sig = sig + F.when(d > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def signature_py(vec: list[float], planes: list[list[int]]) -> int:
    sig = 0
    for i, plane in enumerate(planes):
        if sum(float(v) * c for v, c in zip(vec, plane)) > 0:
            sig |= 1 << i
    return sig


def _neighbor_signatures(sig: int, n_planes: int, max_flips: int) -> list[int]:
    """All signatures within Hamming distance max_flips (multi-probe LSH)."""
    out = {sig}
    frontier = {sig}
    for _ in range(max_flips):
        nxt = set()
        for s in frontier:
            for b in range(n_planes):
                nxt.add(s ^ (1 << b))
        out |= nxt
        frontier = nxt
    return sorted(out)


def lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    probe_flips: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: restrict the exact ranking to buckets within
    ``probe_flips`` signature bits of the query's bucket. At scale, write
    the corpus partitioned by ``lsh_sig`` so this filter becomes partition
    pruning and the scan touches only the probed buckets."""
    planes = hyperplanes(n_planes, len(query_vec))
    qsig = signature_py(query_vec, planes)
    probes = _neighbor_signatures(qsig, n_planes, probe_flips)
    bucketed = emb.withColumn("lsh_sig", signature_col(F.col(vec_col), planes))
    candidates = bucketed.filter(F.col("lsh_sig").isin(probes))
    q = lit_vector(query_vec)
    return (
        candidates.select(
            F.col(id_col),
            R(cosine(F.col(vec_col), q), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc_nulls_last(), F.col(id_col).asc_nulls_last())
        .limit(k)
    )


def portable_plane_weight(p: int, d: int, dim: int = 64) -> float:
    """±1 weight for (plane p, dim d): exact integer arithmetic, the one
    definition both the Spark signature and any oracle inline from."""
    mix = ((p * dim + d) * 2654435761) % (1 << 32)
    return 1.0 if (mix >> 16) & 1 == 0 else -1.0


def portable_plane_weights_sql(n_planes: int = 8, dim: int = 64) -> str:
    """The weight matrix as a SQL nested-list literal (1-indexed
    [plane][dim]) for mirroring the signature arithmetic in an oracle."""
    rows = []
    for p in range(n_planes):
        rows.append(
            "[" + ", ".join(
                ("1.0" if portable_plane_weight(p, d, dim) > 0 else "-1.0")
                for d in range(dim)
            ) + "]"
        )
    return "[" + ", ".join(rows) + "]"


def portable_lsh_signature(vec_col, n_planes: int = 8, dim: int = 64):
    """Bucket id from ±1 pseudo-hyperplanes with PORTABLE weights: the
    sign for (plane p, dim d) comes from exact integer arithmetic
    (((p·64+d)·2654435761) mod 2^32) >> 16 bit 0 — reproducible in any
    engine, no RNG state, no float hyperplane literals to ship. The dot
    products themselves are IEEE double folds in index order; a sign can
    only diverge cross-engine when the projection is within summation
    error of exactly 0 (measure-zero for real embeddings)."""
    from pyspark.sql import Column  # noqa: F401 — signature documentation

    def w(p: int, d: int):
        return portable_plane_weight(p, d, dim)

    def proj(p: int):
        weights = F.array(*[F.lit(w(p, d)) for d in range(dim)])
        return F.aggregate(
            F.zip_with(vec_col, weights, lambda x, ww: x.cast("double") * ww),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        sig = sig + F.when(proj(p) > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
    return sig


def portable_lsh_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k restricted to the query's portable-LSH bucket: exact
    cosine ranking inside one deterministic bucket, so the result is
    reproducible by an independent engine running the identical
    arithmetic (the cross-engine proof for the ANN tier — the
    engine-native lsh_topk stays rows-only). The query is identified by
    id so both engines derive its vector and bucket from the same
    stored row. At scale the bucket filter becomes partition pruning on
    a corpus written partitioned by the signature."""
    dim_row = emb.filter(F.col(id_col) == query_id).select(vec_col).head()
    if dim_row is None:
        raise ValueError(f"portable_lsh_topk: no row with {id_col}={query_id}")
    qvec = [float(x) for x in dim_row[0]]
    dim = len(qvec)
    # the query's signature is computed driver-side from the vector we
    # already fetched: the same left-to-right IEEE double fold over the
    # same literal weights the column expression inlines, so it matches
    # bit-for-bit without a second Spark job on the ANN hot path
    qsig = 0
    for p in range(n_planes):
        acc = 0.0
        for d in range(dim):
            acc += qvec[d] * portable_plane_weight(p, d, dim)
        if acc > 0:
            qsig |= 1 << p
    sig = portable_lsh_signature(F.col(vec_col), n_planes, dim)
    bucketed = emb.withColumn("_sig", sig)
    q = lit_vector(qvec)
    return (
        bucketed.filter((F.col("_sig") == qsig) & (F.col(id_col) != query_id))
        .select(F.col(id_col), R(cosine(F.col(vec_col), q), 6).alias("sim"))
        .orderBy(F.col("sim").desc_nulls_last(), F.col(id_col).asc_nulls_last())
        .limit(k)
    )


def ivf_portable_topk(
    emb: DataFrame,
    query_id: int = 0,
    n_list: int = 16,
    nprobe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with a DETERMINISTIC data-dependent codebook: the
    centroids are the stored embeddings of ids 0..n_list-1 (seed
    centroids — no float-iterative k-means, so an independent engine
    derives the identical codebook from the same rows). Assignment is
    argmax of the 6-dp-rounded cosine to each centroid (ties to the
    smallest centroid id); the query probes its ``nprobe`` nearest
    lists and exact-ranks inside them. Every step is reproducible
    cross-engine, extending the exact-oracle proof to the IVF pattern
    (data-dependent codebook, inverted lists, multi-probe) that the
    k-means variant can't give. Scale shape identical to ivf_topk:
    centroids are a bounded driver-side metadata collect, assignment is
    map-side, and a corpus written partitioned by list makes the probe
    a partition filter."""
    seed_rows = (
        emb.filter(F.col(id_col) < n_list)
        .select(id_col, vec_col)
        .collect()  # bounded: n_list rows, the codebook itself
    )
    seeds = {int(r[id_col]): [float(x) for x in r[vec_col]] for r in seed_rows}
    if len(seeds) < n_list:
        raise ValueError(
            f"ivf_portable_topk: need ids 0..{n_list - 1} as seed centroids, "
            f"found {sorted(seeds)}"
        )
    qrow = emb.filter(F.col(id_col) == query_id).select(vec_col).head()
    if qrow is None:
        raise ValueError(f"ivf_portable_topk: no row with {id_col}={query_id}")
    qvec = [float(x) for x in qrow[0]]

    def py_cos(a: list[float], b: list[float]) -> float:
        # same left-to-right double folds as the column expression
        num = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            num += x * y
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        raw = num / ((na ** 0.5) * (nb ** 0.5))
        import math

        return math.floor(raw * 1e6 + 0.5) / 1e6

    probe = sorted(range(n_list), key=lambda j: (-py_cos(qvec, seeds[j]), j))[:nprobe]
    # assignment: argmax over (rounded sim, -j) struct comparison — max by
    # sim, ties to the smallest centroid id
    cells = F.array(
        *[
            F.struct(
                R(cosine(F.col(vec_col), lit_vector(seeds[j])), 6).alias("sim"),
                F.lit(-j).alias("negj"),
            )
            for j in range(n_list)
        ]
    )
    assigned = emb.withColumn("_lst", -F.array_max(cells)["negj"])
    q = lit_vector(qvec)
    return (
        assigned.filter(F.col("_lst").isin(probe) & (F.col(id_col) != query_id))
        .select(F.col(id_col), R(cosine(F.col(vec_col), q), 6).alias("sim"))
        .orderBy(F.col("sim").desc_nulls_last(), F.col(id_col).asc_nulls_last())
        .limit(k)
    )


# -- IVF (inverted-file) ANN ----------------------------------------------
def _l2_rows(X: "np.ndarray") -> "np.ndarray":
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return X / norms


def ivf_centroids(
    emb: DataFrame,
    n_list: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    n_iter: int = 10,
    seed: int = 42,
):
    """Sampled spherical k-means coarse quantizer, fully deterministic:
    (empty input raises ValueError up front — np.stack's cryptic
    'need at least one array' surfaced through every ANN caller
    otherwise)

    1. a hash-ordered sample of ``sample_size`` vectors (TakeOrdered over
       xxhash64(id) — one distributed pass, no full sort, bounded driver
       collect like a broadcast dim; the hash order is a seeded shuffle
       that is identical run-to-run);
    2. seeded k-means++ init + ``n_iter`` Lloyd rounds on the sample,
       driver-side numpy (iterates over the SAMPLE, never the dataset);
    3. centroids L2-normalized (cosine/inner-product consistent).

    Returns a numpy (k, dim) matrix, k = min(n_list, distinct sample rows).
    The reference has no ANN tier at all; this mirrors the FAISS-style
    IVF train/assign/probe split on Spark primitives."""
    rows = (
        emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .withColumn("_r", F.xxhash64(F.col("_id"), F.lit(seed)))
        .orderBy("_r", "_id")
        .limit(sample_size)
        .collect()
    )
    if not rows:
        raise ValueError(
            "ivf_centroids: embedding frame is empty (after any upstream "
            "filter) — cannot train a coarse quantizer on zero vectors"
        )
    X = _l2_rows(np.stack([np.asarray(r["_v"], dtype=np.float64) for r in rows]))
    X = np.unique(X, axis=0)  # dup vectors would collapse k-means++ choices
    k = min(n_list, len(X))
    rng = np.random.default_rng(seed)

    # k-means++ init: each next centroid sampled ∝ (1 - max cosine) to the
    # chosen set — spread over the sphere instead of n_list arbitrary rows
    chosen = [int(rng.integers(len(X)))]
    best_sim = X @ X[chosen[0]]
    while len(chosen) < k:
        d = np.maximum(1.0 - best_sim, 0.0)
        total = d.sum()
        if total <= 0:
            remaining = [i for i in range(len(X)) if i not in chosen]
            chosen.append(int(remaining[0]))
        else:
            chosen.append(int(rng.choice(len(X), p=d / total)))
        best_sim = np.maximum(best_sim, X @ X[chosen[-1]])
    C = X[chosen].copy()

    for _ in range(n_iter):
        assign = np.argmax(X @ C.T, axis=1)
        newC = np.zeros_like(C)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                newC[j] = members.mean(axis=0)
            else:  # empty list: reseed with the worst-covered sample point
                worst = int(np.argmin(np.max(X @ C.T, axis=1)))
                newC[j] = X[worst]
        C = _l2_rows(newC)
    return C


def ivf_assign(centroids, vec_col: str = "embedding") -> Column:
    """Nearest-centroid list id per vector — Arrow-batched pandas UDF
    (numpy matmul per batch; the per-vector trig is the one place built-in
    array functions genuinely lose to vectorized numpy)."""
    C = centroids

    @F.pandas_udf("integer")
    def assign(vs: pd.Series) -> pd.Series:
        out = np.zeros(len(vs), dtype=np.int32)
        for i, v in enumerate(vs):
            a = np.asarray(v, dtype=np.float64)
            n = np.linalg.norm(a)
            if n > 0:
                out[i] = int(np.argmax(C @ (a / n)))
        return pd.Series(out)

    return assign(F.col(vec_col))


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_list: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: assign every vector to its nearest coarse centroid,
    probe the query's n_probe closest lists, exact-rank inside them. At
    scale, write the corpus partitioned by ``ivf_list``: the probe filter
    becomes partition pruning and the scan touches n_probe/n_list of the
    data. Returns (id, sim) — same schema as brute_force_topk."""
    C = ivf_centroids(emb, n_list, id_col, vec_col)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / (np.linalg.norm(q) or 1.0)
    probe = [int(i) for i in np.argsort(-(C @ qn))[:n_probe]]

    assigned = emb.withColumn("ivf_list", ivf_assign(C, vec_col))
    cands = assigned.filter(F.col("ivf_list").isin(probe))
    qlit = lit_vector(query_vec)
    return (
        cands.select(
            F.col(id_col),
            R(cosine(F.col(vec_col), qlit), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc_nulls_last(), F.col(id_col).asc_nulls_last())
        .limit(k)
    )


def salted_all_pairs(
    a: DataFrame,
    b: DataFrame,
    salt_col: str,
    n_salts: int = 16,
    block_col: str = "blk",
) -> DataFrame:
    """All-pairs join of two sides sharing a low-cardinality ``block_col``
    key, spread over ``#blocks × n_salts`` tasks instead of ``#blocks``.

    Classic replicated-salting: side a gets a deterministic salt from
    ``salt_col``; side b is replicated across every salt value, so each
    (a-row, b-row) pair meets exactly once. This is THE lever for blocked
    pairwise ops (n-gram Jaccard, embedding near-dup) — without it a
    5-block corpus runs at most 5-way parallel no matter the cluster size."""
    for side_name, side_df in (("a", a), ("b", b)):
        if block_col not in side_df.columns:
            raise ValueError(
                f"salted_all_pairs: block column {block_col!r} missing from "
                f"side {side_name} (columns: {side_df.columns})"
            )
    a_s = a.withColumn("_salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(n_salts)))
    b_s = b.withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    return a_s.join(b_s, on=[block_col, "_salt"]).drop("_salt")




def portable_lsh_band_signature(
    vec_col, band: int, rows: int, dim: int = 64
) -> "Column":
    """One LSH band's bucket id: planes [band·rows, (band+1)·rows) of the
    portable ±1 hyperplane family (portable_plane_weight — exact integer
    arithmetic, reproducible in any engine). Identical vectors produce
    identical IEEE double folds and therefore identical signatures in
    EVERY band — the recall floor the dedup auto-route relies on."""
    sig = F.lit(0).cast("long")
    for r in range(rows):
        p = band * rows + r
        weights = F.array(
            *[F.lit(portable_plane_weight(p, d, dim)) for d in range(dim)]
        )
        proj = F.aggregate(
            F.zip_with(vec_col, weights, lambda x, ww: x.cast("double") * ww),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(proj > 0, F.lit(1 << r)).otherwise(F.lit(0)).cast("long")
    return sig


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_salts: int = 16,
    candidates: bool | str = False,
    lsh_bands: int = 4,
    lsh_rows: int | None = None,
    auto_pairs_per_doc: float = 512.0,
    lsh_target_occupancy: float = 128.0,
    approx_ok: bool = False,
) -> DataFrame:
    """Near-duplicate pairs (cosine ≥ threshold) within a blocking key.
    Returns (id_a, id_b, sim), id_a < id_b.

    Candidate strategies (the ngram_jaccard_pairs routing discipline):

    - ``candidates=False``: EXACT salted all-pairs within the block —
      occupancy² candidates, the right trade while blocks stay bounded.
    - ``candidates=True``: hyperplane-LSH sub-blocking — each vector
      gets ``lsh_bands`` band signatures (``lsh_rows`` portable ±1
      planes per band, portable_lsh_band_signature); two vectors are
      candidates when they share ANY (block, band, signature) bucket,
      then the exact cosine verify filters. This is the 100 TB block
      key the docstring always promised, now wired: candidates scale
      with bucket collisions instead of occupancy². HIGH-RECALL
      APPROXIMATE, not exact — a pair at cosine t can land on opposite
      sides of a plane with probability arccos(t)/π per plane (≈0.045
      at t=0.99), so band recall is (1−θ/π)^rows and overall recall
      1−(1−band)^bands (≥98% at rows=8, bands=4, t=0.99); IDENTICAL
      vectors fold to identical signatures in every band and are NEVER
      missed — planted-clone recall is exact (pytest-asserted).
    - ``candidates="auto"``: one count-only occupancy probe routes to
      LSH past ``auto_pairs_per_doc`` all-pairs candidates per row, and
      sizes ``lsh_rows`` as ⌈log2(max_occ / lsh_target_occupancy)⌉
      (clamped to [4, 16]) so expected bucket occupancy lands near the
      target however big the fattest block grows. Below the cliff the
      exact all-pairs plan runs unchanged. UNLIKE the routes of the
      exact pair operators (ngram_jaccard_pairs, ngram_containment_pairs,
      levenshtein_pairs), which the engine picks alone because every
      route returns the same rows, crossing the cliff here changes
      SEMANTICS (exact → ~98%-recall approximate), so it stays a caller
      choice and additionally requires the explicit
      ``approx_ok=True``; without it a past-the-cliff corpus raises
      (naming both escape hatches) instead of silently dropping
      non-identical near-dups or silently going occupancy-quadratic.

    Per-row norms are computed once BEFORE the pair join, so the per-pair
    work is a single dot-product pass (the naive per-pair cosine costs
    3 extra array passes × O(pairs)). LSH-path join-backs carry
    shuffle_hash pins: the vector frames are computed projections whose
    static size estimates undercount — the broadcast-OOM class the 100x
    sweep caught on the ngram prefix path."""
    # MEASURED REJECTION: flat element_at expressions for the dot, norm
    # and band signatures (a "flatten to codegen" variant, commit 16246b1)
    # ran 1071.9 s vs 201.3 s for this HOF shape at the 100x corpus in a
    # same-host fresh-JVM A/B (artifacts/r12/probe100x_batch1.json vs
    # probe_ab_preflat) — a 5.3x regression. The giant flat trees (64-term
    # dot per pair, bands*rows*dim signature terms per row) leave
    # whole-stage codegen's happy path and evaluate as per-node
    # interpreted trees, which lose badly to the higher-order-function
    # fold loops. Recorded in OPTIMIZATION_r12.md.
    if isinstance(candidates, str) and candidates != "auto":
        raise ValueError(
            f"candidates must be True, False, or 'auto' — got {candidates!r}"
        )
    # Spread the probe side: with a broadcast pair join the a-side's input
    # partitioning IS the parallelism, and a single small parquet file
    # arrives as one partition.
    spread = emb.repartition(
        emb.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    vd = _as_double(F.col(vec_col))
    base = spread.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("_id"),
        vd.alias("_vec"),
        norm(vd).alias("_nrm"),
        _cs_rest_norm(vd).alias("_rn"),
    )
    if candidates == "auto":
        pairs_per_doc, max_occ = block_occupancy(base)
        candidates = pairs_per_doc > auto_pairs_per_doc
        if candidates and not approx_ok:
            raise ValueError(
                "embedding_neardup_pairs: measured occupancy "
                f"({pairs_per_doc:.0f} all-pairs candidates/row) is past "
                f"the exact-route cliff ({auto_pairs_per_doc:.0f}) and the "
                "only scale route (hyperplane LSH) is APPROXIMATE "
                "(~98% recall for non-identical near-dups). Pass "
                "approx_ok=True to accept it, or candidates=False to force "
                "the exact all-pairs plan at occupancy-squared cost."
            )
        if candidates and lsh_rows is None:
            import math

            lsh_rows = min(
                16,
                max(4, math.ceil(math.log2(
                    max(max_occ / lsh_target_occupancy, 2.0)
                ))),
            )
        base = PINNED.pin(base)
    sim = R(
        dot(F.col("vec_a"), F.col("vec_b")) / (F.col("nrm_a") * F.col("nrm_b")), 6
    )
    cs_pass = _cs_bound_pass(threshold)
    if candidates:
        rows_n = lsh_rows or 8
        # Pin BEFORE the dim probe: on the explicit candidates=True path
        # base was still unpinned here, so the probe head() ran the
        # repartition+norm projection once for the probe job and again
        # for the main job (advice r12). The auto path's earlier pin
        # makes this a keyed re-hit, not a second persist.
        base = PINNED.pin(base)
        dim_row = base.select(F.size("_vec").alias("d")).head()
        if dim_row is None:
            # empty-input early return DERIVES its schema from base (a
            # false-filtered select), never a hardcoded "id_a long":
            # with a non-long id column a literal schema would differ
            # from the non-empty path's, so downstream unions/joins
            # would fail only in the empty-input corner
            return base.filter(F.lit(False)).select(
                F.col("_id").alias("id_a"),
                F.col("_id").alias("id_b"),
                F.lit(0.0).alias("sim"),
            )
        dim = dim_row["d"]
        if dim is None or dim < 0:
            # F.size of a NULL vector is -1 with ANSI off (NULL with it
            # on): range(dim) would yield empty plane weights, every band
            # signature would collapse to 0, and the LSH route would
            # silently degenerate to per-block all-pairs — the exact
            # blowup it exists to avoid (advice r12; the pre-r12 guard).
            raise ValueError(
                "embedding_neardup_pairs: first row's vector is NULL — "
                "filter null embeddings before deduping"
            )
        sigs = F.array(
            *[
                portable_lsh_band_signature(F.col("_vec"), b, rows_n, dim)
                for b in range(lsh_bands)
            ]
        )
        # PINNED: the banded frame feeds BOTH sides of the bucket
        # self-join, and the per-side projections defeat exchange reuse
        # (the q_dedup_ngram prefix find, same bug class) — unpinned,
        # the bands×rows×dim signature arithmetic ran once per side
        banded = PINNED.pin(
            base.select(
                "blk", "_id", "_vec", "_nrm", "_rn",
                F.posexplode(sigs).alias("_band", "_sig"),
            )
        )
        # the cosine verify runs INSIDE the bucket join and the ≥threshold
        # filter runs BEFORE any further exchange: vectors ship once per
        # banded row (n·bands rows), never once per candidate pair — the
        # candidates-then-join-back shape measured 185 GiB shuffle /
        # 243 GB spill at the 100x probe (1.5e8 candidate pairs × ~1 KiB
        # of vector payload each), vs ~0.5 GiB for the banded sides here;
        # the ≤bands-fold duplicated dot products are codegen'd JVM work
        # that costs seconds, and survivors (a near-dup output, tiny by
        # definition) dedupe across bands at the end
        ca = banded.select(
            "blk", "_band", "_sig", F.col("_id").alias("id_a"),
            F.col("_vec").alias("vec_a"), F.col("_nrm").alias("nrm_a"),
            F.col("_rn").alias("rn_a"),
        )
        cb = banded.select(
            "blk", "_band", "_sig", F.col("_id").alias("id_b"),
            F.col("_vec").alias("vec_b"), F.col("_nrm").alias("nrm_b"),
            F.col("_rn").alias("rn_b"),
        )
        # Cauchy-Schwarz verify prefilter (round 13): see _cs_bound_pass.
        # Bucket pairs provably below the threshold (99.97% of the 291M
        # at the 100x probe) are dropped by a flat 16-term prefix bound
        # BEFORE the full 64-dim dot fold — band-0 verify 57.2 → 5.0 s.
        return (
            ca.join(cb.hint("shuffle_hash"), ["blk", "_band", "_sig"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(cs_pass)
            .select("id_a", "id_b", sim.alias("sim"))
            .filter(F.col("sim") >= threshold)
            .distinct()
        )
    else:
        a = base.select(
            "blk", F.col("_id").alias("id_a"),
            F.col("_vec").alias("vec_a"), F.col("_nrm").alias("nrm_a"),
            F.col("_rn").alias("rn_a"),
        )
        b = base.select(
            "blk", F.col("_id").alias("id_b"),
            F.col("_vec").alias("vec_b"), F.col("_nrm").alias("nrm_b"),
            F.col("_rn").alias("rn_b"),
        )
        pairs = salted_all_pairs(a, b, "id_a", n_salts).filter(
            (F.col("id_a") < F.col("id_b")) & cs_pass
        )
    return (
        pairs.select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def semantic_dedup(
    emb: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_salts: int = 16,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication with NO prior
    block key — learn one with spherical k-means, then prune near-identical
    vectors within each learned cluster.

    1. train centroids on a seeded sample (ivf_centroids — bounded driver
       work, deterministic);
    2. assign every vector its cluster (Arrow-batched pandas UDF);
    3. exact cosine pairs WITHIN clusters only (embedding_neardup_pairs
       with the learned cluster as the block key — salted, never corpus
       all-pairs);
    4. connected components over the pair graph (dedup_clusters), keep
       each component's MINIMUM id. Dropping all id_b's directly would
       over-delete: with pairs (1,2) and (2,3) but no (1,3), row 3's
       only witness (2) is itself dropped — the component form keeps
       exactly one survivor per near-dup group, every dropped row
       reachable from its survivor.

    Returns the kept rows (id, sem_cluster). The quadratic pair space is
    bounded by the largest cluster, ~n/k on mixing data: at 100 TB you
    raise n_clusters so n/k stays bench-sized (FAISS guidance sqrt(n)),
    which ALSO caps the per-cluster candidate join — the same knob tunes
    recall and cost. Note the pair join references the assignment twice
    (both sides): at corpus scale, WRITE the assigned frame once
    (partitioned by sem_cluster) and run the pair join over that
    materialization so the assignment UDF computes once and the join
    prunes partitions."""
    C = ivf_centroids(emb, n_clusters, id_col, vec_col)
    assigned = emb.withColumn("sem_cluster", ivf_assign(C, vec_col))
    pairs = embedding_neardup_pairs(
        assigned,
        threshold=threshold,
        block_col="sem_cluster",
        id_col=id_col,
        vec_col=vec_col,
        n_salts=n_salts,
    )
    from mesin_spark.ext.dedup import dedup_clusters

    comp = dedup_clusters(pairs.select("id_a", "id_b"))
    losers = comp.filter(F.col("node") != F.col("canonical_id")).select(
        F.col("node").alias(id_col)
    )
    return assigned.select(id_col, "sem_cluster").join(
        losers, id_col, "left_anti"
    )


def query_vector(emb: DataFrame, vec_id, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> list[float]:
    """Fetch one query vector by id with a CLEAR error when absent —
    seven call sites previously dereferenced ``head()`` and died with
    \"'NoneType' object is not subscriptable\" on a fixture missing the
    id."""
    row = emb.filter(F.col(id_col) == vec_id).head()
    if row is None:
        raise ValueError(f"query vector {id_col}={vec_id!r} not found")
    return [float(x) for x in row[vec_col]]


def dbscan(
    emb: DataFrame,
    eps: float = 0.35,
    min_pts: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. 1996) over an
    embedding column, composed entirely from this tier's primitives —
    no new join shapes:

    1. eps-neighbor pairs: exact cosine ≥ eps via
       embedding_neardup_pairs (salted pair join; pass an LSH bucket /
       IVF list as ``block_col`` at 100 TB — neighbors then come from
       within buckets, the standard approximate-DBSCAN scale path);
    2. core points: ≥ ``min_pts`` neighbors (self excluded);
    3. clusters: connected components over CORE-CORE edges
       (dedup_clusters' pointer-jumping loop); an isolated core (no
       core neighbor) forms its own singleton cluster;
    4. borders: non-core points adopt the MINIMUM cluster id among
       their core neighbors — classic DBSCAN leaves border assignment
       scan-order-dependent; taking the min makes the output unique and
       exactly cross-engine checkable;
    5. noise (no core neighbor, not core) is dropped.

    Returns (node, cluster_id, role in {'core','border'})."""
    if block_col is None:
        src = emb.withColumn("_all", F.lit(1))
        block = "_all"
    else:
        src, block = emb, block_col
    pairs = embedding_neardup_pairs(
        src,
        threshold=eps,
        block_col=block,
        id_col=id_col,
        vec_col=vec_col,
        n_salts=n_salts,
    )
    sym = (
        pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
        .union(pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d")))
        .transform(ckpt, eager=True)
    )
    core = (
        sym.groupBy("s")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_pts)
        .select(F.col("s").alias("node"))
        .transform(ckpt, eager=True)
    )
    core_edges = (
        sym.join(core.select(F.col("node").alias("s")), "s", "left_semi")
        .join(core.select(F.col("node").alias("d")), "d", "left_semi")
        .filter(F.col("s") < F.col("d"))
        .select(F.col("s").alias("id_a"), F.col("d").alias("id_b"))
    )
    from mesin_spark.ext.dedup import dedup_clusters

    cc = dedup_clusters(core_edges).select("node", F.col("canonical_id").alias("cluster_id"))
    isolated = core.join(cc.select("node"), "node", "left_anti").select(
        "node", F.col("node").alias("cluster_id")
    )
    cores_all = cc.union(isolated).withColumn("role", F.lit("core"))
    border = (
        sym.join(core.select(F.col("node").alias("s")), "s", "left_anti")
        .join(
            cores_all.select(
                F.col("node").alias("d"), F.col("cluster_id").alias("_cid")
            ),
            "d",
        )
        .groupBy(F.col("s").alias("node"))
        .agg(F.min("_cid").alias("cluster_id"))
        .withColumn("role", F.lit("border"))
    )
    return cores_all.unionByName(border)


def sq8_bounds(emb: DataFrame, vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Per-dimension corpus [lo, hi] bounds as ONE distributive aggregate
    (2·dim min/max expressions → a single 1-row frame with two array
    columns). Partial aggregation runs map-side, so at 100 TB this is a
    single scan + a 1-row reduce — the training pass of a FAISS-style
    SQ8 ScalarQuantizer (public design: faiss ScalarQuantizer,
    QT_8bit)."""
    # F.get reads NULL past a short vector's end (a bare [d] throws under
    # ANSI), and min/max skip NULLs
    lows = [F.min(F.get(F.col(vec_col), d).cast("double")).alias(f"_lo{d}") for d in range(dim)]
    highs = [F.max(F.get(F.col(vec_col), d).cast("double")).alias(f"_hi{d}") for d in range(dim)]
    return emb.agg(*lows, *highs).select(
        F.array(*[F.col(f"_lo{d}") for d in range(dim)]).alias("lo"),
        F.array(*[F.col(f"_hi{d}") for d in range(dim)]).alias("hi"),
    )


def sq8_code_col(vec_col: Column, lo: Column, hi: Column) -> Column:
    """uint8 code per dimension: floor((x−lo)·255/(hi−lo) + 0.5), 0 on a
    degenerate (hi==lo) dimension. Exact integer output from
    deterministic IEEE double arithmetic — the same expression an
    independent engine reproduces bit-for-bit (floor(+0.5) spells out
    the rounding rule instead of relying on an engine's CAST/round
    half-even behavior). Corpus bounds cover every stored vector, so
    codes land in [0, 255] without clamping. A vector longer than the
    bounds arrays codes its extra dimensions 0 (try_element_at reads NULL
    past the bounds' end, where a plain element_at throws under ANSI)."""
    return F.transform(
        vec_col,
        lambda x, i: F.when(
            F.try_element_at(hi, i + 1) > F.try_element_at(lo, i + 1),
            F.floor(
                (x.cast("double") - F.try_element_at(lo, i + 1))
                * F.lit(255.0)
                / (F.try_element_at(hi, i + 1) - F.try_element_at(lo, i + 1))
                + F.lit(0.5)
            ),
        ).otherwise(F.lit(0).cast("long")),
    )


def sq8_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Top-k nearest neighbors by symmetric decoded-L2² over int8
    scalar-quantized codes (FAISS SQ8, QT_8bit): train = per-dimension
    [lo, hi] bounds (one distributive aggregate), encode = map-side
    uint8 codes (4× smaller than float32 — at 100 TB the persisted code
    column is the scan-size win), search = one codegen'd scan computing
    Σ((Δcode·span/255)²) against the query's codes via zip_with/
    aggregate (JVM-side, no UDF) into TakeOrderedAndProject. Unlike the
    k-means-trained PQ tier (rows-only), every step here is exact
    integer/double arithmetic from stored data, so an independent
    engine reproduces the distances bit-for-bit — SQ8 is the
    quantization tier's cross-engine proof. Returns (id, dist), dist
    rounded at 6."""
    if emb.filter(F.col(id_col) == query_id).head() is None:
        # without this probe a missing query id silently yields an empty
        # top-k (the crossJoin against an empty 1-row frame) — raise like
        # the sibling pq_portable_topk/portable_lsh_topk entry points
        raise ValueError(f"sq8_topk: no row with {id_col}={query_id}")
    bounds = sq8_bounds(emb, vec_col, dim)
    coded = (
        emb.crossJoin(F.broadcast(bounds))
        .select(
            F.col(id_col),
            sq8_code_col(F.col(vec_col), F.col("lo"), F.col("hi")).alias("code"),
            "lo",
            "hi",
        )
    )
    q = coded.filter(F.col(id_col) == query_id).select(F.col("code").alias("qcode"))
    span = F.zip_with(F.col("hi"), F.col("lo"), lambda h, l: h - l)
    diff = F.zip_with(
        F.col("code"), F.col("qcode"), lambda a, b: (a - b).cast("double")
    )
    # Association must match the DuckDB oracle exactly: the term is
    # (d * span) / 255.0, NOT d * (span / 255.0) — IEEE doubles are not
    # associative, and a ULP difference can flip the 6-dp rounding the
    # bit-for-bit cross-engine claim depends on.
    dist = F.aggregate(
        F.zip_with(diff, span, lambda d, s: (d * s) / F.lit(255.0)),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    return (
        coded.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != query_id)
        .select(F.col(id_col), R(dist, 6).alias("dist"))
        .orderBy(F.col("dist").asc_nulls_last(), F.col(id_col).asc_nulls_last())
        .limit(k)
    )


def semantic_dedup_portable(
    emb: DataFrame,
    n_list: int = 16,
    threshold: float = 0.40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup with every nondeterministic step replaced by the
    portable exact-arithmetic equivalent — the cross-engine proof for
    the semantic-dedup class (engine-native semantic_dedup stays
    rows-only: its k-means codebook is seeded-random):

    1. codebook = the stored embeddings of ids 0..n_list-1 (the
       ivf_portable seed-centroid trick — derivable by any engine from
       the same rows);
    2. assignment = argmax of the 6-dp-rounded cosine, ties to the
       smallest centroid id (map-side after the bounded codebook
       collect);
    3. pairs = exact cosine WITHIN clusters only, kept when the
       6-dp-rounded sim ≥ threshold (rounding both engines' summation
       orders to the same value before the comparison, so the pair SET
       is identical cross-engine);
    4. connected components (dedup_clusters), keep each component's
       minimum id — same over-deletion-safe policy as semantic_dedup.

    The quadratic pair space is bounded by the largest cluster (~n/k on
    mixing data); at 100 TB raise n_list so n/k stays bench-sized —
    the same FAISS-guidance knob as the k-means variant. The assigned
    frame is checkpointed once so the 16-cosine assignment computes
    once, not once per self-join side. Returns kept (id, sem_cluster)."""
    seed_rows = (
        emb.filter(F.col(id_col) < n_list).select(id_col, vec_col).collect()
    )
    seeds = {int(r[id_col]): [float(x) for x in r[vec_col]] for r in seed_rows}
    if len(seeds) < n_list:
        raise ValueError(
            f"semantic_dedup_portable: need ids 0..{n_list - 1} as seed "
            f"centroids, found {sorted(seeds)}"
        )
    cells = F.array(
        *[
            F.struct(
                R(cosine(F.col(vec_col), lit_vector(seeds[j])), 6).alias("sim"),
                F.lit(-j).alias("negj"),
            )
            for j in range(n_list)
        ]
    )
    assigned = emb.select(
        id_col, vec_col, (-F.array_max(cells)["negj"]).alias("sem_cluster")
    ).transform(ckpt, eager=True)
    a, b = assigned.alias("a"), assigned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sem_cluster") == F.col("b.sem_cluster"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            R(cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 6).alias(
                "sim"
            ),
        )
        .filter(F.col("sim") >= threshold)
    )
    from mesin_spark.ext.dedup import dedup_clusters

    comp = dedup_clusters(pairs.select("id_a", "id_b"))
    losers = comp.filter(F.col("node") != F.col("canonical_id")).select(
        F.col("node").alias(id_col)
    )
    return assigned.select(id_col, "sem_cluster").join(losers, id_col, "left_anti")


def pq_portable_topk(
    emb: DataFrame,
    query_id: int = 0,
    m: int = 4,
    n_codes: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Product-quantization ANN with DETERMINISTIC codebooks — the
    portable proof for the PQ class (engine-native pq/ivfpq stay
    rows-only: their codebooks come from seeded k-means): per subspace
    s the codewords are the s-th subvectors of the stored ids
    0..n_codes-1 (the ivf_portable seed trick applied per subspace).
    Encode = per-subspace argmin of the 6-dp-rounded L2² (ties to the
    smallest codeword id); search = ADC — the query's per-subspace
    lookup tables are m·n_codes rounded literals, and each corpus
    distance is a FIXED-ORDER sum of m table entries (both engines add
    s=0,1,...,m-1 left to right, so no aggregation-order ambiguity
    survives the final rounding). Every step exact arithmetic from
    stored rows → full cross-engine oracle.

    Scale shape identical to the k-means PQ: bounded codebook collect,
    map-side encode (codes are m small ints — the 16-byte-per-vector
    compression that makes a 100 TB corpus scannable), one codegen'd
    scan of literal-table sums into TakeOrderedAndProject."""
    import math

    if dim % m != 0:
        raise ValueError(
            f"pq_portable_topk: m={m} must divide dim={dim} — a remainder "
            f"would silently drop the last {dim % m} dimensions from every "
            "distance"
        )
    sub = dim // m
    seed_rows = (
        emb.filter(F.col(id_col) < n_codes).select(id_col, vec_col).collect()
    )
    seeds = {int(r[id_col]): [float(x) for x in r[vec_col]] for r in seed_rows}
    if len(seeds) < n_codes:
        raise ValueError(
            f"pq_portable_topk: need ids 0..{n_codes - 1} as codewords, "
            f"found {sorted(seeds)}"
        )
    qrow = emb.filter(F.col(id_col) == query_id).select(vec_col).head()
    if qrow is None:
        raise ValueError(f"pq_portable_topk: no row with {id_col}={query_id}")
    qvec = [float(x) for x in qrow[0]]

    def rounded_l2(a: list, b: list) -> float:
        acc = 0.0
        for x, y in zip(a, b):  # left-to-right fold, same as the column expr
            d = x - y
            acc += d * d
        return math.floor(acc * 1e6 + 0.5) / 1e6

    def cw(s: int, j: int) -> list:
        return seeds[j][s * sub : (s + 1) * sub]

    # query-side ADC lookup tables: m × n_codes rounded literals
    lut = [
        [rounded_l2(qvec[s * sub : (s + 1) * sub], cw(s, j)) for j in range(n_codes)]
        for s in range(m)
    ]

    def sub_l2(s: int, j: int):
        cwj = cw(s, j)
        arr = F.zip_with(
            F.slice(F.col(vec_col), s * sub + 1, sub),
            F.array(*[F.lit(float(x)) for x in cwj]),
            lambda x, y: x.cast("double") - y,
        )
        return F.aggregate(arr, F.lit(0.0), lambda acc, d: acc + d * d)

    code_cols = []
    for s in range(m):
        cells = F.array(
            *[
                F.struct(R(sub_l2(s, j), 6).alias("d"), F.lit(j).alias("j"))
                for j in range(n_codes)
            ]
        )
        # min struct = (min rounded dist, then min codeword id)
        code_cols.append(F.array_min(cells)["j"].alias(f"c{s}"))
    coded = emb.select(F.col(id_col), *code_cols)
    dist = F.lit(0.0)
    for s in range(m):
        # c{s} is a codeword id in [0, n_codes): always inside the LUT row
        dist = dist + F.element_at(
            F.array(*[F.lit(v) for v in lut[s]]), F.col(f"c{s}") + 1
        )
    return (
        coded.filter(F.col(id_col) != query_id)
        .select(F.col(id_col), R(dist, 6).alias("dist"))
        .orderBy(F.col("dist").asc_nulls_last(), F.col(id_col).asc_nulls_last())
        .limit(k)
    )
