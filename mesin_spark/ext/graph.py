"""Iterative graph algorithms on DataFrames — the tier next to
dedup_clusters' connected components (ext/dedup.py): same Pregel-style
loop discipline (per-round join+agg, eager localCheckpoint so the
logical plan stays flat across iterations — the lesson dedup_clusters
measured at 8-11s/round of pure planning without it).

The reference has no graph surface; this is charter extension. Spark's
GraphX is JVM/RDD-only and GraphFrames is an external package — the
DataFrame formulation below is the dependency-free shape, and its
per-round cost is two keyed shuffles (contribution groupBy + rank
join), both on the node id, so a 100 TB edge list partitions cleanly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mesin_spark.ext import measure
from mesin_spark.ext.ckpt import ckpt


def _edge_frame(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The (src, dst) projection every ranking loop starts from: an edge
    with a NULL endpoint names no node and is dropped (a NULL node would
    otherwise rank, or collide with pagerank's NULL-keyed sentinel)."""
    return edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).dropna()


def pagerank_setup(
    e_norm: DataFrame, salts: int = 1, self_edges: bool = False
) -> tuple[DataFrame, DataFrame, int]:
    """The static input of pagerank_round, built once per run from the
    deduplicated (src, dst, w=1/outdeg) edges: the augmented edges, the
    initial state and the node count N.

    A state holds p(v) per node plus one sentinel row (node NULL) holding
    the uniform term c that all nodes share: rank(v) = p(v) + c. The
    augmented edges (src, dst, w, _k) fold the dangling mass and c into
    the round's one aggregate: real edges u→v (w = 1/outdeg(u));
    sentinel→v for every node (w = w_in(v), v's summed in-weight, so
    every node reaches the output) and sentinel→sentinel (w = the
    dangling count); u→sentinel per dangling u (w = 1); with
    ``self_edges``, v→v per node and for the sentinel with a NULL w,
    which adds nothing to the sum and carries the old value into
    ``_prev``. ``_k`` salts the sentinel's out-edges over ``salts`` join
    keys, so the shuffle route does not meet them in one partition.
    Rank 1/N everywhere is p = 0, c = 1/N: the initial state is the
    sentinel row alone."""
    from functools import reduce

    # (node, is_dang, w_in) in ONE aggregate: src rows vote has-out=true,
    # dst rows vote false and bring their in-weight
    nodes = (
        e_norm.select(
            F.col("src").alias("node"), F.lit(True).alias("_o"), F.lit(0.0).alias("w")
        )
        .union(e_norm.select(F.col("dst").alias("node"), F.lit(False).alias("_o"), "w"))
        .groupBy("node")
        .agg((~F.max("_o")).alias("is_dang"), F.sum("w").alias("w_in"))
    )
    n, n_dang = nodes.agg(
        F.count(F.lit(1)), F.sum(F.col("is_dang").cast("long"))
    ).first()
    if n == 0:
        raise ValueError(
            "pagerank: edge list is empty (after any upstream filter) — "
            "no graph to rank"
        )
    sentinel = F.lit(None).cast(nodes.schema["node"].dataType)
    one = e_norm.sparkSession.range(1)
    # the sentinel joins the node list with the dangling count as w_in
    ids = nodes.union(one.select(sentinel, F.lit(False), F.lit(float(n_dang))))
    node = F.col("node")

    def edges(frame, s, d, w, k=F.lit(0)):
        return frame.select(s.alias("src"), d.alias("dst"), w.alias("w"), k.alias("_k"))

    parts = [
        edges(e_norm, F.col("src"), F.col("dst"), F.col("w")),
        edges(ids, sentinel, node, F.col("w_in"), F.pmod(F.hash(node), F.lit(salts))),
        edges(ids.filter("is_dang"), node, sentinel, F.lit(1.0)),
    ]
    if self_edges:
        parts.append(edges(ids, node, node, F.lit(None).cast("double")))
    state = one.select(sentinel.alias("node"), F.lit(1.0 / n).alias("p"))
    return reduce(DataFrame.union, parts).transform(ckpt, eager=True), state, n


def pagerank_round(
    state: DataFrame,
    aug: DataFrame,
    damping: float,
    n: int,
    salts: int = 1,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """ONE power-iteration round — the exact frame pagerank() builds per
    loop step, exposed so plan tests assert on the real implementation.
    ``state`` and ``aug`` are as pagerank_setup describes. One join of
    the state into the augmented edges and one groupBy(dst) give
    s(v) = Σ_{u→v} rank(u)/outdeg(u) per node and the dangling mass at
    the sentinel, so p'(v) = d·s(v) and c' = (1-d)/N + d·s(sentinel)/N.
    The round reads ``state`` once, so chained rounds grow the plan
    linearly.

    ``broadcast_ranks=True`` is the small-vertex-set route: the state —
    one row per vertex, NOT the edge list — broadcasts into the edge
    scan, and the aggregate's map-side partial combine makes the round's
    ONLY exchange ≤ |V| partially-summed rows. The shuffle route
    exchanges the state and the edges on the join key instead."""
    st = state.select(
        F.col("node").alias("_n"),
        "p",
        F.explode(
            F.sequence(F.lit(0), F.when(F.col("node").isNull(), salts - 1).otherwise(0))
        ).alias("_j"),
    )
    if broadcast_ranks:
        st = F.broadcast(st)
    s = (
        aug.join(st, F.col("src").eqNullSafe(F.col("_n")) & (F.col("_k") == F.col("_j")))
        .groupBy(F.col("dst").alias("node"))
        .agg(
            F.sum(F.col("p") * F.col("w")).alias("_s"),
            F.sum(F.when(F.col("w").isNull(), F.col("p"))).alias("_prev"),
        )
    )
    uniform = (1.0 - damping) / n + damping * (F.col("_s") / n)
    return s.select(
        "node",
        F.when(F.col("node").isNull(), uniform).otherwise(damping * F.col("_s")).alias("p"),
        "_prev",
    )


def _ranks(state: DataFrame) -> DataFrame:
    """(node, rank, _prev) of every real node: its p plus the sentinel's
    uniform term, and likewise for the previous round's values (a node
    absent from the previous state had p = 0)."""
    c = state.filter(F.col("node").isNull()).select(
        F.col("p").alias("_c"), F.col("_prev").alias("_c0")
    )
    return (
        state.filter(F.col("node").isNotNull())
        .crossJoin(F.broadcast(c))
        .select(
            "node",
            (F.col("p") + F.col("_c")).alias("rank"),
            (F.coalesce("_prev", F.lit(0.0)) + F.col("_c0")).alias("_prev"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 10,
    checkpoint_every: int = 2,
    tol: float | None = None,
    broadcast_ranks: bool | None = None,
    final_checkpoint: bool = True,
) -> DataFrame:
    """PageRank over a directed edge list (duplicate edges collapse; an
    edge with a NULL endpoint names no node and is dropped).

    rank' = (1-d)/N + d·(Σ_in rank/outdeg + dangling_mass/N), the
    standard power iteration with dangling-node redistribution so ranks
    sum to 1 every round. Fixed iteration count keeps runs comparable.
    Returns (node, rank). Each round is one join + one groupBy(dst)
    over edges augmented once in setup (pagerank_setup, pagerank_round).

    ``checkpoint_every`` is a lineage-recovery choice: a round reads the
    previous state once, so the plan grows linearly between checkpoints.
    Checkpoints go through ext.ckpt.ckpt: the default ``local`` backend
    keeps blocks executor-local (fast, but a lost executor kills the
    iteration); set ``mesin.checkpoint.backend=reliable`` (+
    ``mesin.checkpoint.dir`` on durable storage) on a real cluster so
    node churn refetches from storage instead of failing a 40-round
    job. Results are backend-identical (pytest-asserted).

    ``final_checkpoint=False`` skips the last round's materialization: a
    caller that consumes the result exactly once (one collect / one sink
    write) would otherwise pay a whole Spark job to materialize ranks the
    very next job re-reads. The returned frame then carries the (at most
    checkpoint_every) rounds since the previous checkpoint as lazy plan.
    Keep the default when the result is reused.

    ``tol`` bounds the SINGLE-ROUND max rank delta, evaluated at
    checkpoint rounds: the augmented edges then carry a self-edge per
    node, so the round's aggregate also yields the previous value and
    the check is one 1-row aggregate on the materialized state. A
    single-round delta is smaller than a k-round-window delta by roughly
    the geometric tail factor 1/(1-damping·λ); calibrate tol against
    measured single-round deltas.

    Under AQE a checkpoint does NOT preserve hash partitioning (LogicalRDD
    surfaces UnknownPartitioning), so on the shuffle route the static
    edges re-shuffle each round. Repartitioning them once on the join key
    and persist()ing was measured and REJECTED at bench scale: a
    fixed-width repartition is exempt from AQE coalescing, and scheduling
    32-partition stages of tiny tasks doubled the wall time (5.4s → 10.9s
    min at sf0.1). On a cluster-sized edge list the trade inverts.

    ``broadcast_ranks`` (None = auto by node count): the state is one row
    per VERTEX, so when |V| ≤ measure.BROADCAST_MAX_NODES it broadcasts
    into the edge scan like a small dimension into a fact join (see
    pagerank_round); a larger graph falls back to the keyed exchanges
    that ARE Pregel. A caller that knows its graph is small passes True
    and skips the measuring pre-pass (q_pagerank does).

    Setup has two shapes keyed off the same knob, resolved BEFORE setup
    (one map-side approx_count_distinct pre-pass over the raw edges when
    ``broadcast_ranks=None``). Small-graph: 1/outdeg folds into the edge
    list via a count window over the just-deduplicated edges — ONE scan
    of the raw edge build, no edges⋈outdeg self-join (measured −0.7s of
    q_pagerank's sf0.1 wall). Big-graph: the window would buffer each
    src's full edge group in one task — a straggler/spill risk for a
    power-law hub — so that path keeps the skew-safe groupBy(src) outdeg
    joined back to the edges, the classic Pregel prep."""
    from pyspark.sql import Window

    if max_iter < 1:
        raise ValueError("pagerank: max_iter must be >= 1")
    e = _edge_frame(edges, src, dst)
    if broadcast_ranks is None:
        # Resolve the auto route BEFORE the setup branch: the two setup
        # shapes differ too (window outdeg buffers a hub's whole edge
        # group — a straggler/spill risk on exactly the graphs that must
        # not broadcast), so an auto-big graph needs the skew-safe
        # groupBy setup as well, not just shuffle rounds. One map-side
        # HLL aggregate over the raw edges; |distinct src| + |distinct
        # dst| is an upper bound on |V|, i.e. conservative in the safe
        # direction (never broadcasts a too-big rank vector).
        est_nodes = edges.agg(
            (
                F.approx_count_distinct(src) + F.approx_count_distinct(dst)
            ).alias("n")
        ).head()["n"]
        broadcast_ranks = est_nodes <= measure.BROADCAST_MAX_NODES
    if broadcast_ranks is False:
        e = e.distinct().transform(ckpt, eager=True)
        outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        e_norm = (
            e.join(outdeg, "src")
            .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w"))
            .transform(ckpt, eager=True)
        )
        salts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    else:
        # one exchange instead of two: hash(src) satisfies BOTH the
        # (src,dst) dedup agg's clustering (subset rule) and the outdeg
        # window's, so distinct and window reuse the same repartition.
        # repartition(col) with no fixed width stays AQE-coalescible
        # (only repartition(N, col) is exempt — the rejected pattern).
        # Hub-group buffering is this route's documented, accepted risk:
        # the broadcast route is only taken when |V| is dim-table-sized.
        e_norm = (
            e.repartition(F.col("src"))
            .distinct()
            .withColumn(
                "w", F.lit(1.0) / F.count(F.lit(1)).over(Window.partitionBy("src"))
            )
            .transform(ckpt, eager=True)
        )
        salts = 1
    # edge pin MEASURED AND REJECTED here (round 11): unlike
    # hits (whose 12 half-round combines emitted edge-order bytes —
    # 3.2 GiB at 100x), pagerank's per-round combine output is |V|-small
    # (~40 MiB/round at 100x), so pinning e_norm by the group key ADDED
    # an edge-sized exchange without per-round savings (744 → 1,109 MiB
    # measured at the 100x probe). The per-round partial-combine
    # exchange IS this loop's floor.
    aug, state, n = pagerank_setup(e_norm, salts, self_edges=tol is not None)
    for it in range(max_iter):
        state = pagerank_round(state, aug, damping, n, salts, broadcast_ranks)
        last = it == max_iter - 1
        if (it + 1) % max(1, checkpoint_every) == 0 or last:
            if not last or final_checkpoint:
                state = state.transform(ckpt, eager=True)
            if tol is not None and not last:
                delta = (
                    _ranks(state)
                    .agg(F.max(F.abs(F.col("rank") - F.col("_prev"))))
                    .first()[0]
                )
                if delta is not None and delta < tol:
                    break
    return _ranks(state).select("node", "rank")


def degree_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node in/out degree in one pass over the (deduplicated) edge
    list — the graph profile read before choosing partitioning for an
    iterative run (a power-law hub predicts the same hot-key trouble
    q_key_skew scores for joins)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    outd = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("out_deg"))
    ind = e.groupBy(F.col("dst").alias("node")).agg(F.count(F.lit(1)).alias("in_deg"))
    return (
        outd.join(ind, "node", "full")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED simple graph (the
    third classic graph kernel next to pagerank/degrees; the reference
    has no graph surface). Returns (node, triangles) for every node in
    at least one triangle.

    Plan — the degree-ordered "node-iterator++" shape that bounds the
    join fan-out at scale:
    1. canonicalize to (u < v) distinct edges, self-loops dropped;
    2. compute degrees (one agg), orient every edge from the lower
       (degree, id) endpoint to the higher — every triangle then exists
       EXACTLY once as a<b<c with oriented edges a→b, b→c, a→c;
    3. wedge join (a→b)⋈(b→c) on b, closed by a semi-ish inner join to
       the oriented edge set on (a,c);
    4. explode each triangle's three corners and count per node.
    The orientation caps each node's out-degree at O(sqrt(edges)) on
    skewed graphs — the wedge join's fan-out bound that makes this the
    standard distributed triangle algorithm (hub nodes emit no wedges;
    their triangles are counted from their low-degree corners)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # the canonicalized edge list feeds the degree agg AND the
        # orientation join; materialize once (same discipline as
        # pagerank's e_norm) instead of re-running the dedup shuffle
        .transform(ckpt, eager=True)
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .union(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
        # o fans out into all three legs of the wedge join — without a
        # materialization the orient join would execute three times
        .transform(ckpt, eager=True)
    )
    e1 = o.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = o.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = o.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    return (
        tri.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def link_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_center_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor and Adamic-Adar scores for NON-adjacent node
    pairs — the classic link-prediction features a recommender training
    pipeline labels positives/negatives with. Returns
    (a, b, common_neighbors, adamic_adar) with a < b.

    Plan: symmetric adjacency (one union), per-center neighbor pairing
    (self-join on the center), degree join for the 1/ln(deg) weight, one
    groupBy(a,b) — then a left_anti against the edge set so only
    candidate (absent) links remain. A center of degree d emits C(d,2)
    pairs, so hubs dominate cost quadratically; ``max_center_degree``
    drops centers above the cap (the standard approximation — a
    neighbor-of-everything hub carries ~zero Adamic-Adar signal anyway,
    weight 1/ln(d)), bounding the shuffle at scale. Degree-1 centers
    emit no pairs, so the ln(deg)=0 singularity is unreachable."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(ckpt, eager=True)
    )
    adj = e.select(F.col("u").alias("n"), F.col("v").alias("nb")).union(
        e.select(F.col("v").alias("n"), F.col("u").alias("nb"))
    )
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    centers = adj.join(deg, "n")
    if max_center_degree is not None:
        centers = centers.filter(F.col("d") <= max_center_degree)
    a1 = centers.select(F.col("n").alias("w"), F.col("nb").alias("a"), "d")
    a2 = centers.select(F.col("n").alias("w"), F.col("nb").alias("b"))
    pairs = a1.join(a2, "w").filter(F.col("a") < F.col("b"))
    scored = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum(F.lit(1.0) / F.log(F.col("d").cast("double"))).alias("adamic_adar"),
    )
    return scored.join(
        e.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """Nodes of the k-core — the maximal induced subgraph where every
    node keeps degree ≥ k — by synchronous peeling: drop all nodes of
    degree < k, recompute degrees in the induced subgraph, repeat to the
    fixpoint (the k-core is mathematically UNIQUE, so any engine
    reaching the fixpoint agrees bit-exactly regardless of round count).
    Returns (node, core_degree).

    Per round: one degree agg + two semi-joins on the node id, induced
    edge set checkpointed eagerly (flat lineage, the pagerank
    discipline); the edge count rides the checkpoint materialization,
    so the fixpoint test costs one bounded driver read per round — and
    the edge set only ever SHRINKS, so rounds get cheaper as they
    proceed. Graphs peel in O(log n)-ish rounds in practice;
    ``max_rounds`` bounds pathological chains."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(ckpt, eager=True)
    )
    n_edges = e.count()
    converged = False
    for _ in range(max_rounds):
        if n_edges == 0:
            converged = True
            break
        deg = (
            e.select(F.col("u").alias("n"))
            .union(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("n")
        e2 = (
            e.join(keep.select(F.col("n").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("n").alias("v")), "v", "left_semi")
            .transform(ckpt, eager=True)
        )
        n2 = e2.count()
        if n2 == n_edges:
            converged = True
            break  # fixpoint: every surviving node already has degree >= k
        e, n_edges = e2, n2
    if not converged and n_edges == 0:
        # the LAST allowed round peeled to the empty graph: that IS the
        # fixpoint (nothing left to shrink) — the in-loop emptiness check
        # only runs at the top of the next iteration, which never happens
        converged = True
    if not converged:
        # a partial peel is a SUPERSET of the true k-core, and the final
        # core_degree filter below would mask it — the unique-fixpoint
        # contract the cross-engine oracle depends on would silently
        # break on a pathological chain graph. Fail loudly instead.
        raise RuntimeError(
            f"k_core: peeling did not reach the fixpoint within "
            f"max_rounds={max_rounds} rounds ({n_edges} edges still "
            f"shrinking) — raise max_rounds"
        )
    return (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .filter(F.col("core_degree") >= k)
    )


#: Portable walk-hash constants (mirrored literally in oracle SQL):
#: step chooser H(u, t) = ((u*A + t*B + C) mod P) mod deg(u).
WALK_A = 1315423911
WALK_B = 2654435761
WALK_P = 1_000_000_007
WALK_C = 104729


def random_walks(
    edges: DataFrame,
    n_steps: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic 'random' walks from EVERY node — the
    DeepWalk/node2vec corpus generator, made exactly reproducible (and
    so cross-engine checkable) by replacing the RNG with a portable
    integer hash: at step t on node u the walker moves to the neighbor
    with rank ``((u*A + t*B + C) mod P) mod deg(u)`` in the id-ordered
    adjacency list. Same trajectory on any engine, any partitioning,
    any rerun — the property a training pipeline needs for cacheable
    walk corpora anyway (true RNG walks are rows-only-verifiable).

    Plan: adjacency ranked once (one sort-window per node), then one
    keyed join per step against the ranked list — walk state is
    (start, cur), so each step shuffles on the current node id only;
    the frontier stays |nodes| rows for all T steps. Returns
    (start, step, node) with step 0 = the start itself."""
    from pyspark.sql import Window as W

    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = (
        e.select(F.col("u").alias("n"), F.col("v").alias("nb"))
        .union(e.select(F.col("v").alias("n"), F.col("u").alias("nb")))
        .withColumn("rk", F.row_number().over(W.partitionBy("n").orderBy("nb")) - 1)
    )
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    adj = adj.join(deg, "n").transform(ckpt, eager=True)
    walk = adj.select(F.col("n").alias("start")).distinct().select(
        "start", F.lit(0).alias("step"), F.col("start").alias("node")
    )
    out = [walk]
    cur = walk
    for t in range(1, n_steps + 1):
        # node reduces mod P BEFORE the multiply — arithmetically
        # identical ((n·A) mod P = ((n mod P)·A) mod P) but every
        # intermediate stays < (P−1)·A ≈ 1.4e18 < 2^63: the naive
        # product overflows ANSI int64 once ids pass 2^63/A ≈ 7e9,
        # squarely inside a 100 TB corpus's id range (found live by the
        # 100x scale sweep, whose shard-shifted ids reach 9.9e9 — the
        # mul_mod32 lesson applied to the walk hash)
        pick = (
            (
                F.pmod(F.col("node"), F.lit(WALK_P)) * F.lit(WALK_A)
                + F.lit(t) * F.lit(WALK_B)
                + F.lit(WALK_C)
            )
            % F.lit(WALK_P)
        ) % F.col("deg")
        nxt = (
            cur.join(adj.select(F.col("n").alias("node"), "rk", "nb", "deg"), "node")
            .filter(F.col("rk") == pick)
            .select("start", F.lit(t).alias("step"), F.col("nb").alias("node"))
            .transform(ckpt, eager=True)
        )
        out.append(nxt)
        cur = nxt
    res = out[0]
    for w in out[1:]:
        res = res.union(w)
    return res


PR_SCALE = 10**12  # fixed-point unit for the portable pagerank


def pagerank_portable(
    edges: DataFrame,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank in integer FIXED-POINT arithmetic — the portable-sketch
    strategy applied to the one iterative algorithm the tier still
    verified rows-only: float power iteration accumulates
    engine-specific summation order, but with ranks held in units of
    1e-12 and every operation an integer add / multiply / truncating
    div, two engines running the same round count agree BIT-EXACTLY.
    Truncation leaks mass (~1e-12/node/round — far below any ranking
    decision); damping 0.85 becomes *85 div 100.

    The round is ppr_portable's with every node a seed (s = n), where
    each term reduces to the uniform teleport and dangling share:
    rank'(v) = (15·SCALE)//(100·n) + (85·(c(v) + dg//n))//100. Same plan
    strategy as pagerank()'s small-vertex-set route (see _portable_rank);
    a graph whose rank vector outgrows broadcast range belongs on
    pagerank()'s shuffle path — this portable tier's job is cross-engine
    proof at certification scale.
    Returns (node, rank_fp) with rank_fp ≈ rank * 1e12."""
    return _portable_rank(
        edges, rounds, src, dst, "pagerank_portable",
        lambda e, nodes: nodes.withColumn("is_seed", F.lit(True)),
    )


def ppr_portable(
    edges: DataFrame,
    seed_mod: int = 50,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
    seeds: DataFrame | None = None,
    seed_top_degree: int | None = None,
) -> DataFrame:
    """PERSONALIZED PageRank in the same integer fixed-point arithmetic
    as pagerank_portable: the teleport mass (and the dangling mass)
    restarts at a SEED set instead of all nodes, so rank concentrates
    in the seeds' neighborhood — the graph-curation primitive for
    "select documents/entities close to these trusted sources"
    (public design: Jeh & Widom 2003; dangling-to-seeds convention).

    Seeds come from ``seed_top_degree=k`` (the k highest-total-degree
    hubs, ties to the smallest id — a total order, so the set is
    engine-independent; derived from the SAME checkpointed distinct
    edge list the iteration uses, one |E|-linear degree aggregate + a
    TakeOrdered k — deriving it from a second scan of the raw edges
    measured a 38 GB re-join spill at the 100x probe), or from
    ``seeds`` (any 1-column DataFrame of node ids), else the nodes with
    ``node % seed_mod == 0`` — in every case a predicate an independent
    engine reproduces exactly, like the hash-seeded walks.
    rank'(v) = [v∈S]·(15·SCALE)//(100·s)
    + (85·(c(v) + [v∈S]·(dg//s)))//100 with c(v) = Σ_in rank//od, all
    truncating integer ops on non-negatives, so the full per-node rank
    vector is bit-reproducible cross-engine (see _portable_rank for the
    plan). Returns (node, rank_fp)."""

    def seed_flag(e: DataFrame, nodes: DataFrame) -> DataFrame:
        sd = seeds
        if seed_top_degree is not None and sd is None:
            sd = (
                e.select(F.col("src").alias("node"))
                .unionAll(e.select(F.col("dst").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("_deg"))
                .orderBy(F.desc("_deg"), F.asc("node"))
                .limit(seed_top_degree)
                .select("node")
            )
        if sd is None:
            return nodes.withColumn("is_seed", F.col("node") % seed_mod == 0)
        # a seed LIST (top-k hubs etc.) is k rows — broadcast the flag
        sd = sd.select(F.col(sd.columns[0]).alias("node")).distinct()
        return nodes.join(
            F.broadcast(sd.withColumn("_s", F.lit(True))), "node", "left"
        ).select("node", "od", F.coalesce(F.col("_s"), F.lit(False)).alias("is_seed"))

    picked = seeds is not None or seed_top_degree is not None
    return _portable_rank(
        edges, rounds, src, dst, "ppr_portable", seed_flag,
        "(seed frame matched nothing)" if picked else f"(node % {seed_mod} == 0)",
    )


def _portable_rank(
    edges: DataFrame,
    rounds: int,
    src: str,
    dst: str,
    name: str,
    seed_flag,
    seed_desc: str = "",
) -> DataFrame:
    """The fixed-point power iteration of ppr_portable, and with every
    node a seed of pagerank_portable. ``seed_flag(e, nodes)`` adds the
    boolean ``is_seed`` to the (node, od) frame over the distinct
    checkpointed edges ``e``; ``seed_desc`` names the seed predicate in
    the no-seed error.

    Plan: the ≤|V|-row rank vector broadcasts into the static edge scan
    (integer sums are order-independent, so the join strategy cannot
    perturb the fixed-point values), leaving one partial-combined
    groupBy(dst) exchange per round, dangling mass as a broadcast 1-row
    aggregate, eager checkpoints every 2 rounds — node-keyed shuffles,
    partitions cleanly at 100 TB. Past BROADCAST_MAX_NODES nodes it
    fails with a clear remedy instead of an opaque broadcast OOM.

    No edge pin: measured and REJECTED (round 11) for this loop shape,
    whose per-round combine output is |V|-small — the dst pin moved
    ppr's 100x probe 1,331 → 1,681 MiB, an edge-sized exchange the
    rounds never repay (hits is the shape where it pays)."""
    e = _edge_frame(edges, src, dst).distinct().transform(ckpt, eager=True)
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(outdeg.select(F.col("src").alias("node"), "od"), "node", "left")
    )
    nodes = seed_flag(e, nodes).transform(ckpt, eager=True)
    counts = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_seed").cast("long")).alias("s"),
    ).head()
    n, s = counts["n"], counts["s"] or 0
    if n == 0:
        raise ValueError(f"{name}: empty edge list")
    if s == 0:
        raise ValueError(
            f"{name}: no seed nodes {seed_desc} in the graph — personalized "
            "teleport has nowhere to restart"
        )
    if n > measure.BROADCAST_MAX_NODES:
        raise ValueError(
            f"{name}: {n} nodes — the rank vector exceeds broadcast range "
            f"(BROADCAST_MAX_NODES={measure.BROADCAST_MAX_NODES}); use "
            "pagerank()'s shuffle path (broadcast_ranks=False) for graphs "
            "this size"
        )
    base = (15 * PR_SCALE) // (100 * s)
    r = nodes.withColumn(
        "rank",
        F.when(F.col("is_seed"), F.lit(PR_SCALE // s)).otherwise(F.lit(0)),
    )
    for it in range(rounds):
        rr = r.filter(F.col("od").isNotNull())
        contrib = (
            e.join(F.broadcast(rr), rr["node"] == e["src"])
            .groupBy("dst")
            .agg(F.sum(F.expr("rank div od")).alias("c"))
        )
        dang = r.filter(F.col("od").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0)).alias("_dg")
        )
        r = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "od",
                "is_seed",
                (
                    F.when(F.col("is_seed"), F.lit(base)).otherwise(F.lit(0))
                    + F.expr(
                        f"(85 * (coalesce(c, 0)"
                        f" + (case when is_seed then _dg div {s} else 0 end)))"
                        " div 100"
                    )
                ).alias("rank"),
            )
        )
        if (it + 1) % 2 == 0 or it == rounds - 1:
            r = r.transform(ckpt, eager=True)
    return r.select("node", F.col("rank").alias("rank_fp"))


HITS_SCALE = 10**6  # fixed-point unit for portable HITS (see overflow note)


def hits_portable(
    edges: DataFrame,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS (Kleinberg hubs & authorities) in integer fixed-point
    arithmetic — the portable-proof strategy applied to the second
    classic iterative ranking: authority(v) = Σ_{u→v} hub(u), hub(u) =
    Σ_{u→v} authority(v), each vector L1-normalized to HITS_SCALE per
    half-round via truncating integer division, so the full hub AND
    authority vectors are bit-reproducible cross-engine. On a bipartite
    graph (the customer→supplier purchase edges) HITS is the natural
    ranking: hubs = buyers, authorities = suppliers.

    Overflow bound: after normalization Σ scores = ~HITS_SCALE (1e6),
    so a raw half-round sum ≤ HITS_SCALE·max_degree and the
    normalization multiply raw·HITS_SCALE needs
    max_degree < 2^63 / HITS_SCALE² ≈ 9.2e6 — runtime-guarded by
    folding the check INTO the consumed norm column (a CASE that
    raise_error()s on overflow); a detached assert_true column would be
    removed by ColumnPruning and never evaluate (a graph with hotter
    hubs than that needs a wider unit split, the mul_mod32 lesson). The
    same unit caps the node count: past HITS_SCALE nodes the initial
    scores would floor to 0, so the call refuses.

    Same loop, edge route and half-round as hits() (see there); integer
    sums are order-independent, so every route gives the same values.
    Returns (node, hub_fp, auth_fp) with absent sides as 0."""
    return _hits(edges, rounds, src, dst, "hits_portable", HITS_SCALE).toDF(
        "node", "hub_fp", "auth_fp"
    )


def hits(
    edges: DataFrame,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS in engine-native doubles — the UNBOUNDED-graph sibling of
    hits_portable, exactly as pagerank() pairs with pagerank_portable:
    the portable form is the cross-engine arithmetic proof but its
    1e6-unit fixed-point scale caps both node count and max degree
    (found live: the 100x scale sweep's 1.5M-node purchase graph trips
    its envelope guard), while this form runs any |V|. Float summation
    order is engine- and partitioning-specific, so results certify
    rows-only + structural pytests (agreement with hits_portable within
    fixed-point quantization on in-envelope graphs, L1 norms, bipartite
    star dominance) — the same division of labor as q_pagerank vs
    q_pagerank_portable.

    Per half-round: authority(v) = Σ_{u→v} hub(u), then L1-normalize
    (scores sum to 1 — no overflow bound needed in doubles); hubs
    mirror it. Each half-round materializes eagerly — the norm reads
    the raw half-round twice (values + norm), so an un-truncated chain
    doubles the logical plan per half-round (structural, not tunable).

    The edge list takes the graph tier's one measured route
    (ext/measure.edge_route, one aggregate on the checkpointed raw
    projection). Up to BROADCAST_MAX_NODES the score vector broadcasts
    into the static edge scan (one partial-combined ≤|V|-row exchange +
    one 1-row norm broadcast per half-round); larger graphs run
    keyed-shuffle Pregel half-rounds. Past EDGE_PIN_MIN_BYTES the edge
    list pins instead of re-exchanging every half-round THROUGH THE
    AGGREGATE (the checkpoint leaf surfaces UnknownPartitioning, so the
    partial combine emits edge-order bytes — 3.2 GiB physical over 12
    half-rounds at the 100x probe, the heaviest graph-tier entry). HITS
    alternates its grouping key, so the pin holds TWO copies: by the
    group keys when scores broadcast (each half aggregates IN PLACE),
    by the join keys otherwise (the aggregate exchange is then the
    Pregel minimum); the first copy's exchange is also the dedup pass.
    Routes may differ in final float ulps (summation grouping changes
    with partitioning — the caveat this operator's rows-only
    certification already carries). Returns (node, hub, auth) with
    absent sides as 0.0."""
    return _hits(edges, rounds, src, dst, "hits")


def _hits(
    edges: DataFrame, rounds: int, src: str, dst: str, name: str, scale: int | None = None
) -> DataFrame:
    """(node, hub, auth) after ``rounds`` HITS rounds: doubles, or with
    ``scale`` hits_portable's fixed point."""
    if rounds < 1:
        # rounds=0 would leave the authority frame unbuilt and crash at
        # the final join with an opaque TypeError — refuse up front.
        raise ValueError(f"{name}: rounds must be >= 1")
    # checkpoint the RAW projection (block store, no shuffle) so the
    # measuring aggregate and both routes read a leaf
    raw = _edge_frame(edges, src, dst).transform(ckpt, eager=True)
    route = measure.edge_route(raw)
    if route.width:
        k_auth, k_hub = ("dst", "src") if route.broadcast else ("src", "dst")
        e_auth = route.pin(raw, k_auth)
        e_hub = route.pin(e_auth, k_hub)
    else:
        e_auth = e_hub = raw.distinct().transform(ckpt, eager=True)
    nodes = (
        e_auth.select(F.col("src").alias("node"))
        .union(e_auth.select(F.col("dst").alias("node")))
        .distinct()
        .transform(ckpt, eager=True)
    )
    n = nodes.count()
    if n == 0:
        raise ValueError(f"{name}: empty edge list")
    if scale is not None and n > scale:
        raise ValueError(
            f"{name}: {n} nodes exceeds HITS_SCALE={scale} — initial "
            "scores would floor to 0; use hits() (engine-native doubles, "
            "any |V|) for graphs this size, or raise HITS_SCALE and "
            "re-derive the max-degree overflow bound in the docstring"
        )
    h = nodes.withColumn("h", F.lit(1.0 / n if scale is None else scale // n))
    for _ in range(rounds):
        a = _hits_half(e_auth, h, "src", "dst", "a", route.broadcast, scale)
        h = _hits_half(e_hub, a, "dst", "src", "h", route.broadcast, scale)
    zero = F.lit(0.0 if scale is None else 0)
    return (
        nodes.join(h, "node", "left")
        .join(a, "node", "left")
        .select(
            "node",
            F.coalesce("h", zero).alias("hub"),
            F.coalesce("a", zero).alias("auth"),
        )
    )


def _hits_half(
    edge_frame: DataFrame,
    scores: DataFrame,
    join_key: str,
    out_key: str,
    out_col: str,
    broadcast: bool,
    scale: int | None,
) -> DataFrame:
    """One HITS half-round: the (node, score) vector joins the edges on
    ``join_key``, sums per ``out_key``, and is L1-normalized by a 1-row
    norm — ``raw / nm`` in doubles, or with ``scale`` the integer
    ``(raw * scale) div nm``, guarded against overflow — then
    checkpointed as (node, ``out_col``)."""
    joined = edge_frame.join(
        F.broadcast(scores) if broadcast else scores,
        edge_frame[join_key] == scores["node"],
    )
    raw = joined.groupBy(out_key).agg(F.sum(scores.columns[1]).alias("raw"))
    if scale is None:
        nm, value = F.sum("raw"), F.col("raw") / F.col("nm")
    else:
        # The overflow guard is folded INTO the consumed `nm` column: a
        # standalone assert_true("_chk") column is never referenced
        # downstream, so ColumnPruning deletes it and the guard never
        # runs (verified empirically on Spark 4.1.2).
        side = "authority" if out_col == "a" else "hub"
        nm = F.when(F.sum("raw") <= F.lit((2**63 - 1) // scale), F.sum("raw")).otherwise(
            F.raise_error(F.lit(f"hits_portable: {side} norm overflow"))
        )
        value = F.expr(f"(raw * {scale}) div nm")
    return (
        raw.crossJoin(F.broadcast(raw.agg(nm.alias("nm"))))
        .select(F.col(out_key).alias("node"), value.alias(out_col))
        .transform(ckpt, eager=True)
    )


def label_propagation(
    edges: DataFrame, src: str = "src", dst: str = "dst", n_rounds: int = 4
) -> DataFrame:
    """Synchronous label propagation (community detection): every node
    starts as its own label; each round every node adopts the most
    frequent label among its neighbors, ties broken to the SMALLEST
    label — fully deterministic, so a fixed round count is exactly
    cross-engine checkable (the k-core / portable-pagerank proof
    strategy; q_label_prop's oracle unrolls the same rounds).

    Per round: one node-keyed join (labels onto the symmetrized edge
    list), one (node, label) count aggregate, and one window pick of the
    modal label — two keyed shuffles, both on the node id, so a 100 TB
    edge list partitions cleanly; each round is eagerly checkpointed
    (flat lineage, the dedup_clusters lesson). Synchronous updates can
    oscillate on bipartite structure — irrelevant to correctness here
    because both engines compute the identical fixed rounds.
    Returns (node, label)."""
    from pyspark.sql import Window

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    sym = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(ckpt, eager=True)
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .transform(ckpt, eager=True)
    )
    w = Window.partitionBy("n").orderBy(F.col("c").desc(), F.col("lbl").asc())
    for _ in range(n_rounds):
        freq = (
            sym.join(labels, sym["src"] == labels["node"])
            .groupBy(F.col("dst").alias("n"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # every node appears as dst in the symmetrized list, so the modal
        # pick covers all nodes — no keep-own-label left join needed
        labels = (
            freq.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("n").alias("node"), "lbl")
            .transform(ckpt, eager=True)
        )
    return labels.select("node", F.col("lbl").alias("label"))
