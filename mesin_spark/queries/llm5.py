"""Round-2 training-data operators, part 4: corpus phrase mining (PMI
bigrams), behavioral Markov transitions, deterministic mode, and
incremental dedup against an existing corpus snapshot.

All four are pure built-in-function plans (no Python UDFs) and carry
exact DuckDB oracles. Extension tier — the reference has no text or
event analytics (SURVEY.md §2.11); these are charter operators for the
100 TB training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from mesin_spark.functions import stable_round as R
from mesin_spark.queries import T, load_events, query, sr

#: DuckDB mirror of ext.text.tokens (whitespace split, lowercased,
#: empties dropped) — the same helper llm.py's oracles use.
_TK = "list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0)"


@query(
    "q_pmi_bigrams",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TK} AS w FROM documents),
    uni AS (
        SELECT unnest(w) AS tok FROM tk
    ),
    ucount AS (SELECT tok, count(*) AS n FROM uni GROUP BY tok),
    utot AS (SELECT count(*) AS n_uni FROM uni),
    bi AS (
        SELECT w[i] AS w1, w[i + 1] AS w2
        FROM tk, unnest(generate_series(1, len(w) - 1)) t(i)
    ),
    bcount AS (SELECT w1, w2, count(*) AS n_pair FROM bi GROUP BY w1, w2),
    btot AS (SELECT count(*) AS n_bi FROM bi)
    SELECT b.w1, b.w2, b.n_pair,
           {sr(
               "ln((b.n_pair::DOUBLE / btot.n_bi)"
               " / ((u1.n::DOUBLE / utot.n_uni) * (u2.n::DOUBLE / utot.n_uni)))",
               6,
           )} AS pmi
    FROM bcount b
    JOIN ucount u1 ON b.w1 = u1.tok
    JOIN ucount u2 ON b.w2 = u2.tok
    CROSS JOIN utot CROSS JOIN btot
    WHERE b.n_pair >= 5
    ORDER BY pmi DESC, b.w1, b.w2
    LIMIT 20
    """,
)
def q_pmi_bigrams(spark, sf_dir):
    """Corpus phrase mining: top-20 bigrams by pointwise mutual
    information (min support 5) — the classic collocation detector
    (Church & Hanks 1990) used to find multi-word units worth a single
    token. Plan shape: one map-side explode into bigram instances, two
    token-keyed hash-agg shuffles (unigram + bigram counts), the
    unigram count table joined back twice (token-keyed equi-joins AQE
    can broadcast when the vocabulary is small), 1-row totals cross-
    joined, and a TakeOrderedAndProject for the top-20. At 100 TB the
    only dimension that grows is the pair-count shuffle, which stays
    keyed and partial-aggregated — never all-pairs."""
    from mesin_spark.ext import text as TX

    d = T(spark, sf_dir, "documents")
    tk_all = d.select(TX.tokens("text").alias("w"))
    # unigrams come from ALL documents (the oracle counts them that way);
    # only the bigram branch needs >= 2 tokens — filtering unigrams too
    # would shift every PMI value the moment a 1-token doc exists
    tk = tk_all.filter(F.size("w") >= 2)
    uni = tk_all.select(F.explode("w").alias("tok"))
    ucount = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    utot = uni.agg(F.count(F.lit(1)).alias("n_uni"))
    bi = tk.select(
        F.explode(
            F.arrays_zip(
                F.slice("w", 1, F.size("w") - 1).alias("w1"),
                F.slice("w", 2, F.size("w") - 1).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bcount = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    btot = bi.agg(F.count(F.lit(1)).alias("n_bi"))
    u1 = ucount.withColumnsRenamed({"tok": "w1", "n": "n1"})
    u2 = ucount.withColumnsRenamed({"tok": "w2", "n": "n2"})
    return (
        bcount.filter(F.col("n_pair") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            "n_pair",
            R(
                F.log(
                    (F.col("n_pair") / F.col("n_bi"))
                    / ((F.col("n1") / F.col("n_uni")) * (F.col("n2") / F.col("n_uni")))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


@query(
    "q_transitions",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    pairs AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           {sr("n::DOUBLE / sum(n) OVER (PARTITION BY prev_type)", 6)} AS prob
    FROM pairs
    ORDER BY prev_type, next_type
    """,
)
def q_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | previous event type). The behavioral
    model behind next-action prediction and anomaly scoring. One
    user-keyed window (lag, deterministic ts+event_id order), one
    (prev, next)-keyed hash agg over at most |types|² rows, and a
    trivially small row-frame window for the row-normalization — the
    only data-sized shuffle is the per-user sort, which at 100 TB is
    the same partitioning sessionization already needs (and can be
    shared with it)."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wp = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        R(F.col("n") / F.sum("n").over(wp), 6).alias("prob"),
    ).orderBy("prev_type", "next_type")


@query(
    "q_mode",
    oracle="""
    WITH counts AS (
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY o_orderstatus ORDER BY n DESC, o_orderpriority
        ) AS rn
        FROM counts
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_count
    FROM ranked WHERE rn = 1
    ORDER BY o_orderstatus
    """,
)
def q_mode(spark, sf_dir):
    """Deterministic MODE() (most frequent value per group, ties broken
    by value order) — built as count + row_number rather than Spark's
    native ``mode()`` because the native aggregate is documented
    non-deterministic on ties, which would make the oracle flaky.
    Plan: one partial/final hash agg over (group, value) — bounded by
    distinct-pair count, not row count — then a window over that tiny
    aggregate. Scale-safe for any cardinality the agg itself survives."""
    o = T(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(F.desc("n"), "o_orderpriority")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q_dedup_incremental",
    oracle="""
    WITH base AS (
        SELECT md5(trim(lower(text))) AS content_hash
        FROM documents WHERE doc_id % 3 <> 0
    ),
    batch AS (
        SELECT doc_id, md5(trim(lower(text))) AS content_hash
        FROM documents WHERE doc_id % 3 = 0
    )
    SELECT b.doc_id, b.content_hash
    FROM batch b
    ANTI JOIN (SELECT DISTINCT content_hash FROM base) s
        ON b.content_hash = s.content_hash
    ORDER BY b.doc_id
    """,
)
def q_dedup_incremental(spark, sf_dir):
    """Incremental ingestion dedup: keep only the new-batch documents
    (doc_id % 3 = 0 plays the arriving batch) whose normalized content
    hash is NOT already in the existing corpus snapshot (the other
    two-thirds). This is the steady-state shape of corpus building —
    you never re-dedup 100 TB, you anti-join each day's batch against
    the snapshot's hash index. The plan is a single hash-keyed
    LeftAnti shuffle; at scale the snapshot side is a pre-bucketed
    hash table so only the (small) batch moves."""
    d = T(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id", F.md5(F.trim(F.lower(F.col("text")))).alias("content_hash")
    )
    base = hashed.filter(F.col("doc_id") % 3 != 0).select("content_hash").distinct()
    batch = hashed.filter(F.col("doc_id") % 3 == 0)
    return batch.join(base, "content_hash", "left_anti").select(
        "doc_id", "content_hash"
    ).orderBy("doc_id")


@query(
    "q_semdedup_portable",
    oracle=f"""
    WITH RECURSIVE planted AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000000000 AS vec_id, embedding
        FROM embeddings WHERE vec_id % 10 = 0
    ), seeds AS (
        SELECT vec_id AS j, embedding AS c FROM planted WHERE vec_id < 16
    ), scored AS (
        SELECT e.vec_id, e.embedding, s.j,
               {sr("list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(s.c AS DOUBLE[]))", 6)} AS sim
        FROM planted e CROSS JOIN seeds s
    ), assigned AS (
        SELECT vec_id, embedding, j AS cl
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY sim DESC, j ASC) AS rn
              FROM scored)
        WHERE rn = 1
    ), pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM assigned a JOIN assigned b
          ON a.cl = b.cl AND a.vec_id < b.vec_id
        WHERE {sr("list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))", 6)} >= 0.95
    ), und AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ), nds AS (
        SELECT DISTINCT src AS node FROM und
    ), reach(node, lbl) AS (
        SELECT node, node FROM nds
        UNION
        SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.node
    ), comp AS (
        SELECT node, min(lbl) AS canon FROM reach GROUP BY node
    ), losers AS (
        SELECT node FROM comp WHERE node <> canon
    )
    SELECT a.vec_id, CAST(a.cl AS BIGINT) AS sem_cluster
    FROM assigned a
    WHERE a.vec_id NOT IN (SELECT node FROM losers)
    ORDER BY a.vec_id
    """,
)
def q_semdedup_portable(spark, sf_dir):
    """SemDeDup at the PRODUCTION threshold (0.95) with deterministic
    seed centroids and rounded-cosine pair decisions
    (ext/similarity.semantic_dedup_portable, 16 lists) — the
    cross-engine proof for the class: the engine-native q_semdedup
    stays rows-only because its k-means codebook is seeded-random, but
    seed-centroid assignment + 6-dp rounding before every comparison
    makes the kept set exactly reproducible (the oracle mirrors
    assignment, the in-cluster pair set, AND the min-id connected
    components via a recursive CTE). The synthetic embeddings top out
    near cosine 0.5, so near-dups are PLANTED (the q_image_dedup
    pattern): every 10th vector gets an identical clone at
    vec_id+10**12 that must lose to its original through the full
    assign → in-cluster pair → component-min pipeline, making the
    0.95 decision non-vacuous on this fixture. Same scale shape:
    bounded codebook collect, map-side assignment, pair space bounded
    by the largest cluster (~n/k)."""
    from mesin_spark.ext.similarity import semantic_dedup_portable

    emb = T(spark, sf_dir, "embeddings")
    clones = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000_000_000).alias("vec_id"), "embedding"
    )
    planted = emb.select("vec_id", "embedding").unionByName(clones)
    return (
        semantic_dedup_portable(planted, n_list=16, threshold=0.95)
        .select("vec_id", F.col("sem_cluster").cast("bigint").alias("sem_cluster"))
        .orderBy("vec_id")
    )


@query("q_semdedup")  # rows-only: seeded k-means clusters have no SQL mirror
def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the embeddings table: learn 16
    spherical-k-means clusters, prune vectors with cosine >= 0.99 to a
    lower-id row in the SAME cluster. Unlike q_dedup_embed (which blocks
    on the given label column) this needs no prior block key — the
    cluster assignment IS the learned blocking. Planted-duplicate recall
    and determinism are asserted in tests/test_llm5_ops.py."""
    from mesin_spark.ext import similarity as SIM

    emb = T(spark, sf_dir, "embeddings")
    return SIM.semantic_dedup(emb, n_clusters=16, threshold=0.99).orderBy("vec_id")


@query(
    "q_decontaminate_embed",
    oracle=f"""
    WITH bench AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % 50 = 0
    ),
    corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % 50 <> 0
    ),
    hits AS (
        SELECT c.vec_id,
               {sr("list_cosine_similarity(c.v, b.v)", 6)} AS sim
        FROM corpus c, bench b
        WHERE {sr("list_cosine_similarity(c.v, b.v)", 6)} >= 0.35
    )
    SELECT vec_id, count(*) AS n_hits, max(sim) AS max_sim
    FROM hits GROUP BY vec_id
    ORDER BY vec_id
    """,
)
def q_decontaminate_embed(spark, sf_dir):
    """Semantic benchmark decontamination: flag corpus vectors whose
    cosine to ANY benchmark-set vector (every 50th id plays the eval
    set) reaches the threshold — the embedding-space complement of
    q_decontaminate's n-gram overlap, catching paraphrased leakage that
    shares no 5-gram. Plan: the benchmark side is small BY DEFINITION
    (an eval set), so it broadcasts into a single corpus scan
    (BroadcastNestedLoopJoin — the one join type where that's the
    designed shape, same as q_knn_join); per-pair work is one fused
    dot/norm pass, and the per-corpus-row aggregate needs no shuffle
    beyond the flagged survivors. At 100 TB: corpus scans once,
    nothing else moves."""
    from mesin_spark.ext import similarity as SIM

    emb = T(spark, sf_dir, "embeddings")
    vd = F.transform("embedding", lambda x: x.cast("double"))
    bench = (
        emb.filter(F.col("vec_id") % 50 == 0)
        .select(F.col("vec_id").alias("b_id"), vd.alias("b_v"))
    )
    corpus = (
        emb.filter(F.col("vec_id") % 50 != 0)
        .select("vec_id", vd.alias("c_v"))
        .repartition(spark.sparkContext.defaultParallelism, F.col("vec_id"))
    )
    sim = R(SIM.cosine(F.col("c_v"), F.col("b_v")), 6)
    return (
        corpus.crossJoin(F.broadcast(bench))
        .select("vec_id", sim.alias("sim"))
        .filter(F.col("sim") >= 0.35)
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_hits"), F.max("sim").alias("max_sim"))
        .orderBy("vec_id")
    )


@query(
    "q_weighted_sample",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               {sr(
                   "pow(((CAST((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 AS BIGINT)) % 1024 + 0.5)"
                   " / 1024.0, 1.0 / n_chars)",
                   6,
               )} AS es_key
        FROM documents
    )
    SELECT doc_id, n_chars, es_key
    FROM keyed
    ORDER BY es_key DESC, doc_id
    LIMIT 20
    """,
)
def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling (Efraimidis–Spirakis A-Res):
    priority u^(1/w) with u a portable-hash uniform and w = n_chars, so
    longer documents win proportionally more — importance sampling for
    corpus mixing. Unlike rand()-based weighted sampling this is
    reproducible across runs, engines, and repartitioning (the same
    property q_hash_split provides for uniform splits). Map-side key
    computation + TakeOrderedAndProject top-k: no shuffle, no sort —
    the same plan shape at any corpus size; for a top-k per stratum,
    add the stratum to the window key (cf. q_grouped_sample)."""
    from mesin_spark.ext.pipeline import split_bucket

    d = T(spark, sf_dir, "documents")
    u = (split_bucket("doc_id", 1024).cast("double") + F.lit(0.5)) / F.lit(1024.0)
    key = R(F.pow(u, F.lit(1.0) / F.col("n_chars")), 6)
    return (
        d.select("doc_id", "n_chars", key.alias("es_key"))
        .orderBy(F.desc("es_key"), "doc_id")
        .limit(20)
    )


@query(
    "q_fuzzy_join",
    oracle="""
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    ORDER BY id_a, id_b
    """,
)
def q_fuzzy_join(spark, sf_dir):
    """Fuzzy (edit-distance) self-join — entity resolution within a
    blocking key: part-name pairs within the same brand at Levenshtein
    distance <= 2 (ext/dedup.levenshtein_pairs). The engine routes on
    measured occupancy, as the ngram/containment tiers do:
    small blocks keep the salted all-pairs join + codegen'd
    levenshtein verify; blocks past 64 candidates/row flip to the
    PassJoin segment pigeonhole (ed <= k ⇒ the two names share one of
    k+1 exact segments within a ±k alignment window), whose candidate
    generation is LINEAR in the corpus — the same rows either way
    (exact pigeonhole, not an approximation; equality pytested), so a
    25-value brand canopy no longer goes occupancy-quadratic at 100x.
    All verify work is JVM-side codegen, no UDF."""
    from mesin_spark.ext.dedup import levenshtein_pairs

    p = T(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    return levenshtein_pairs(p, "p_partkey", "p_name", "p_brand", k=2).orderBy(
        "id_a", "id_b"
    )


@query(
    "q_fuzzy_clusters",
    oracle="""
    WITH RECURSIVE pairs AS (
        SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 2
    ), und AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ), nds AS (
        SELECT DISTINCT src AS node FROM und
    ), reach(node, lbl) AS (
        SELECT node, node FROM nds
        UNION
        SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.node
    )
    SELECT node, CAST(min(lbl) AS BIGINT) AS canonical_id
    FROM reach GROUP BY node
    ORDER BY node
    """,
)
def q_fuzzy_clusters(spark, sf_dir):
    """Entity resolution end-to-end: the brand-blocked edit-distance
    pair set (q_fuzzy_join's auto-routed levenshtein_pairs) closed
    transitively into canonical entities — connected components with
    min-label pointer jumping (ext/dedup.dedup_clusters), every part
    mapping to its entity's minimum id (the survivor a pipeline keeps).
    The fuzzy pair list is deterministic (exact pigeonhole + exact
    verify), so the CLUSTER MAP itself is exactly checkable: the oracle
    closes the identical pair set with a recursive CTE and takes each
    component's minimum — precisely the min-label fixed point. The
    composition q_dedup_ngram → q_clusters_portable proved for set
    similarity, now on the edit-distance tier."""
    from mesin_spark.ext.dedup import dedup_clusters, levenshtein_pairs

    p = T(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    pairs = levenshtein_pairs(p, "p_partkey", "p_name", "p_brand", k=2)
    return dedup_clusters(pairs).orderBy("node")


@query(
    "q_quantile_bins",
    oracle=f"""
    WITH edges AS (
        SELECT {sr("quantile_cont(l_extendedprice, 0.25)", 4)} AS e1,
               {sr("quantile_cont(l_extendedprice, 0.50)", 4)} AS e2,
               {sr("quantile_cont(l_extendedprice, 0.75)", 4)} AS e3
        FROM lineitem
    )
    SELECT CASE WHEN l_extendedprice <= e1 THEN 0
                WHEN l_extendedprice <= e2 THEN 1
                WHEN l_extendedprice <= e3 THEN 2
                ELSE 3 END AS bin,
           count(*) AS n,
           {sr("avg(l_extendedprice)", 4)} AS avg_price
    FROM lineitem CROSS JOIN edges
    GROUP BY 1 ORDER BY 1
    """,
)
def q_quantile_bins(spark, sf_dir):
    """Quantile discretizer (the ML feature-binning primitive): learn
    quartile edges in ONE aggregate pass, broadcast the 1-row edge
    frame, assign bins map-side with a CASE — the scalable form of
    Spark ML's QuantileDiscretizer without a fit/transform round-trip.
    At 100 TB swap the exact percentile for approx_percentile (same
    plan shape, sketch-mergeable) — exact here so the oracle can
    replay it."""
    li = T(spark, sf_dir, "lineitem")
    edges = li.agg(
        R(F.percentile("l_extendedprice", F.lit(0.25)), 4).alias("e1"),
        R(F.percentile("l_extendedprice", F.lit(0.50)), 4).alias("e2"),
        R(F.percentile("l_extendedprice", F.lit(0.75)), 4).alias("e3"),
    )
    p = F.col("l_extendedprice")
    binned = li.crossJoin(F.broadcast(edges)).withColumn(
        "bin",
        F.when(p <= F.col("e1"), 0)
        .when(p <= F.col("e2"), 1)
        .when(p <= F.col("e3"), 2)
        .otherwise(3),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            R(F.avg("l_extendedprice"), 4).alias("avg_price"),
        )
        .orderBy("bin")
    )


@query(
    "q_kmv_distinct",
    oracle=f"""
    WITH hashed AS (
        SELECT DISTINCT event_type AS grp,
               CAST((CAST(user_id AS HUGEINT) * 2654435761) % 4294967296 AS BIGINT) AS h
        FROM events
    ),
    ranked AS (
        SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        FROM hashed
    ),
    agg AS (
        SELECT grp, count(*) AS n_kept, max(h) AS h_k
        FROM ranked WHERE rn <= 64 GROUP BY grp
    ),
    exact AS (
        SELECT event_type AS grp, count(DISTINCT user_id) AS n_exact
        FROM events GROUP BY event_type
    )
    SELECT a.grp AS event_type,
           {sr(
               "CASE WHEN a.n_kept < 64 THEN a.n_kept::DOUBLE"
               " ELSE 63.0 / (a.h_k / 4294967296.0) END",
               4,
           )} AS est_distinct,
           e.n_exact
    FROM agg a JOIN exact e ON a.grp = e.grp
    ORDER BY event_type
    """,
)
def q_kmv_distinct(spark, sf_dir):
    """KMV distinct-user sketch per event type (k=64), next to the exact
    count — an approximate sketch whose estimate is BIT-REPRODUCIBLE in
    any engine (portable Knuth hash, deterministic k-th-minimum
    formula), so unlike approx_count_distinct/HLL the approximation
    itself is oracle-checked, not just row counts. Mergeable across
    shards/days by union-sort-truncate of the k-minimum arrays — the
    composable COUNT(DISTINCT) tier alongside q_hll_rollup, with
    cross-engine verifiability traded for HLL's tighter error."""
    from mesin_spark.ext.sketches import kmv_sketch

    ev = load_events(spark, sf_dir)
    sk = kmv_sketch(ev, "event_type", "user_id", k=64)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return (
        sk.join(exact, "event_type")
        .select(
            "event_type",
            R(F.col("est_distinct"), 4).alias("est_distinct"),
            "n_exact",
        )
        .orderBy("event_type")
    )


@query(
    "q_quantile_sketch",
    oracle=f"""
    WITH hashed AS (
        SELECT event_type AS grp, value,
               CAST((CAST(event_id AS HUGEINT) * 2654435761) % 4294967296 AS BIGINT) AS h,
               event_id
        FROM events
    ),
    ranked AS (
        SELECT grp, value,
               row_number() OVER (PARTITION BY grp ORDER BY h, event_id) AS rn
        FROM hashed
    ),
    sample AS (
        SELECT grp, list(CAST(value AS DOUBLE) ORDER BY CAST(value AS DOUBLE)) AS vals,
               count(*) AS n_kept
        FROM ranked WHERE rn <= 256 GROUP BY grp
    )
    SELECT grp AS event_type, n_kept,
           {sr("vals[CAST(floor(0.25 * (n_kept - 1)) AS BIGINT) + 1]", 4)} AS q25,
           {sr("vals[CAST(floor(0.5 * (n_kept - 1)) AS BIGINT) + 1]", 4)} AS q50,
           {sr("vals[CAST(floor(0.75 * (n_kept - 1)) AS BIGINT) + 1]", 4)} AS q75,
           {sr("vals[CAST(floor(0.9 * (n_kept - 1)) AS BIGINT) + 1]", 4)} AS q90
    FROM sample
    ORDER BY event_type
    """,
)
def q_quantile_sketch(spark, sf_dir):
    """Mergeable quantile sketch per event type (bottom-256 portable-hash
    row sample + explicit nearest-rank indexing) — the quantile member
    of the portable sketch family next to q_kmv_distinct: the ESTIMATES
    are bit-reproducible cross-engine (Knuth hash picks the sample,
    index arithmetic picks the elements — no engine percentile
    interpolation), so the approximation itself is oracle-checked, the
    property KLL/t-digest blobs can't offer an independent engine.
    Merge = union + re-truncate to the bottom-m hashes, KMV-style
    (property-tested). Sampling error ~1/√m on quantile position."""
    from mesin_spark.ext.sketches import hash_sample_quantiles

    ev = load_events(spark, sf_dir)
    return hash_sample_quantiles(
        ev, "event_type", "value", "event_id", m=256
    ).orderBy("event_type")


@query(
    "q_dedup_containment",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               list_distinct([
                   tk[i] || ' ' || tk[i + 1]
                   FOR i IN generate_series(1, len(tk) - 1)
               ]) AS g
        FROM (
            SELECT doc_id, source, {_TK} AS tk FROM documents
        )
        WHERE len(tk) >= 2
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           {sr(
               "len(list_intersect(a.g, b.g))::DOUBLE / len(a.g)", 6
           )} AS containment
    FROM toks a JOIN toks b
      ON a.source = b.source AND a.doc_id <> b.doc_id
    WHERE {sr("len(list_intersect(a.g, b.g))::DOUBLE / len(a.g)", 6)} >= 0.8
    ORDER BY id_a, id_b
    """,
)
def q_dedup_containment(spark, sf_dir):
    """Directed n-gram CONTAINMENT pairs within a source block:
    |grams(a) ∩ grams(b)| / |grams(a)| ≥ 0.8 flags document a as
    (near-)embedded in b — quote and boilerplate inclusion that Jaccard
    misses when |b| >> |a| (Jaccard ≈ |a|/|b| → below any threshold).
    The asymmetric complement of q_dedup_ngram
    (ext/dedup.ngram_containment_pairs). The engine routes on measured
    block occupancy exactly as for q_dedup_ngram: salted
    all-pairs at bench scales, the asymmetric pigeonhole-prefix route
    (a's ⌊0.2·|a|⌋+1 rarest grams ⋈ full container postings — a length
    band can't guard containment, short-in-long is the target) once
    occupancy² outgrows it; identical output either way
    (equality-pytested). The 100x sweep caught the unguarded form at
    2.5e10 directed pairs."""
    from mesin_spark.ext import dedup as D
    from mesin_spark.ext import text as TX

    docs = T(spark, sf_dir, "documents").filter(TX.token_count("text") >= 2)
    return D.ngram_containment_pairs(
        docs, "doc_id", block_col="source", n=2, threshold=0.8,
    ).orderBy("id_a", "id_b")


@query(
    "q_unk_replace",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TK} AS w FROM documents),
    counts AS (
        SELECT tok, count(*) AS n
        FROM (SELECT unnest(w) AS tok FROM tk) GROUP BY tok
    ),
    keep AS (SELECT list(tok) AS vocab FROM counts WHERE n >= 25),
    rebuilt AS (
        SELECT doc_id,
               [CASE WHEN list_contains(k.vocab, tok) THEN tok
                     ELSE '<unk>' END
                FOR tok IN w] AS w2
        FROM tk, keep k
    )
    SELECT doc_id,
           coalesce(list_aggregate(w2, 'string_agg', ' '), '') AS text_unk,
           len(list_filter(w2, t -> t = '<unk>')) AS n_unk
    FROM rebuilt
    ORDER BY doc_id
    """,
)
def q_unk_replace(spark, sf_dir):
    """Vocabulary truncation: every token seen fewer than 25 times
    corpus-wide becomes '<unk>' and documents are rebuilt in order —
    the classic closed-vocabulary LM preprocessing step. Plan: one
    token-count shuffle builds the KEEP vocabulary, which joins back
    into a map-side array transform via a broadcast set (the kept
    vocabulary is the small side by construction — truncation exists
    precisely because the full vocab is huge and the kept head is not);
    no explode-rebuild round trip, the document array never leaves its
    row. Rebuild is position-preserving by construction."""
    from mesin_spark.ext import text as TX

    d = T(spark, sf_dir, "documents")
    tk = d.select("doc_id", TX.tokens("text").alias("w"))
    counts = (
        tk.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    keep = counts.filter(F.col("n") >= 25).agg(
        F.collect_set("tok").alias("vocab")
    )
    rebuilt = tk.crossJoin(F.broadcast(keep)).select(
        "doc_id",
        F.transform(
            "w",
            lambda t: F.when(F.array_contains(F.col("vocab"), t), t).otherwise(
                F.lit("<unk>")
            ),
        ).alias("w2"),
    )
    return rebuilt.select(
        "doc_id",
        F.array_join("w2", " ").alias("text_unk"),
        F.size(F.filter("w2", lambda t: t == F.lit("<unk>"))).alias("n_unk"),
    ).orderBy("doc_id")


@query(
    "q_vocab_coverage",
    oracle=f"""
    WITH counts AS (
        SELECT tok, count(*) AS n
        FROM (SELECT unnest({_TK}) AS tok FROM documents)
        GROUP BY tok
    ),
    ranked AS (
        SELECT n,
               row_number() OVER (ORDER BY n DESC, tok) AS rk,
               sum(n) OVER (ORDER BY n DESC, tok
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum,
               sum(n) OVER () AS total
        FROM counts
    )
    SELECT rk AS vocab_size,
           {sr("cum::DOUBLE / total", 6)} AS coverage
    FROM ranked
    WHERE rk IN (5, 10, 15, 20, 25)
    ORDER BY vocab_size
    """,
)
def q_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve: the fraction of all token INSTANCES
    covered by the top-k most frequent types (k in {5..25}; the synthetic
    corpus has a ~31-type vocabulary — at real scale use 1e3..1e6) — the
    number you read before choosing a tokenizer vocab size or an <unk>
    threshold (cf. q_unk_replace). One token-count shuffle; the ranking
    windows run over the VOCABULARY (distinct types), which is orders
    of magnitude smaller than the corpus — the same reduction that
    makes BPE training tractable (ext/bpe.py)."""
    from pyspark.sql import Window as W

    from mesin_spark.ext import text as TX

    d = T(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wo = W.orderBy(F.desc("n"), "tok")
    ranked = counts.select(
        F.row_number().over(wo).alias("vocab_size"),
        F.sum("n").over(wo.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
        F.sum("n").over(W.partitionBy()).alias("total"),
    )
    return (
        ranked.filter(F.col("vocab_size").isin(5, 10, 15, 20, 25))
        .select(
            "vocab_size", R(F.col("cum") / F.col("total"), 6).alias("coverage")
        )
        .orderBy("vocab_size")
    )


@query(
    "q_key_skew",
    oracle=f"""
    WITH counts AS (
        SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT n,
               row_number() OVER (ORDER BY n, o_custkey) AS i,
               count(*) OVER () AS k,
               sum(n) OVER () AS total
        FROM counts
    )
    SELECT max(k) AS n_keys,
           {sr("max(total)::DOUBLE / max(k)", 4)} AS mean_per_key,
           max(n) AS max_per_key,
           {sr(
               "2.0 * sum(i * n) / (max(k) * max(total))"
               " - (max(k) + 1.0) / max(k)",
               6,
           )} AS gini
    FROM ranked
    """,
)
def q_key_skew(spark, sf_dir):
    """Join-key skew profile: Gini coefficient (plus n/mean/max) of the
    orders-per-customer distribution — the ONE number that says whether
    a key needs salting before you shuffle on it (Gini ≈ 0: uniform,
    plain hash join; → 1: hot keys, reach for ext/skew's salted paths;
    q_heavy_hitters names the culprits, this scores the distribution).
    The rank window runs over distinct keys, not rows; everything else
    is a single aggregate."""
    from pyspark.sql import Window as W

    o = T(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    wo = W.orderBy("n", "o_custkey")
    ranked = counts.select(
        "n",
        F.row_number().over(wo).alias("i"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("k"),
        F.sum("n").over(W.partitionBy()).alias("total"),
    )
    return ranked.agg(
        F.max("k").alias("n_keys"),
        R(F.max("total") / F.max("k"), 4).alias("mean_per_key"),
        F.max("n").alias("max_per_key"),
        R(
            F.lit(2.0) * F.sum(F.col("i") * F.col("n")) / (F.max("k") * F.max("total"))
            - (F.max("k") + F.lit(1.0)) / F.max("k"),
            6,
        ).alias("gini"),
    )


@query(
    "q_token_entropy",
    oracle=f"""
    WITH counts AS (
        SELECT source, tok, count(*) AS n
        FROM (SELECT source, unnest({_TK}) AS tok FROM documents)
        GROUP BY source, tok
    ),
    tot AS (SELECT source, sum(n) AS t FROM counts GROUP BY source)
    SELECT c.source,
           {sr(
               "-sum((c.n::DOUBLE / x.t) * ln(c.n::DOUBLE / x.t) / ln(2.0))",
               6,
           )} AS entropy_bits,
           count(*) AS n_types
    FROM counts c JOIN tot x ON c.source = x.source
    GROUP BY c.source
    ORDER BY c.source
    """,
)
def q_token_entropy(spark, sf_dir):
    """Shannon entropy (bits) of each source's token distribution — the
    corpus-diversity number behind mixing decisions: a low-entropy
    source is repetitive boilerplate regardless of its size, a
    high-entropy one adds linguistic variety. One (source, token) count
    shuffle; the entropy fold runs over the per-source vocabulary,
    orders of magnitude below row count."""
    from mesin_spark.ext import text as TX

    d = T(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.groupBy(F.col("source").alias("src")).agg(F.sum("n").alias("t"))
    p = F.col("n") / F.col("t")
    return (
        counts.join(tot, counts["source"] == tot["src"])
        .groupBy("source")
        .agg(
            R(-F.sum(p * F.log(p) / F.log(F.lit(2.0))), 6).alias("entropy_bits"),
            F.count(F.lit(1)).alias("n_types"),
        )
        .orderBy("source")
    )


@query(
    "q_basket_rules",
    oracle=f"""
    WITH b AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
    item AS (SELECT l_partkey, count(*) AS n_item FROM b GROUP BY l_partkey),
    pair AS (
        SELECT x.l_partkey AS part_a, y.l_partkey AS part_b, count(*) AS n_ab
        FROM b x JOIN b y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 3
    )
    SELECT CAST(part_a AS BIGINT) AS part_a,
           CAST(part_b AS BIGINT) AS part_b,
           CAST(n_ab AS BIGINT) AS n_ab,
           {sr("n_ab::DOUBLE / n_orders", 6)} AS support,
           {sr("n_ab::DOUBLE / ia.n_item", 6)} AS confidence,
           {sr("(n_ab::DOUBLE * n_orders) / (ia.n_item * ib.n_item)", 6)} AS lift
    FROM pair
    JOIN item ia ON ia.l_partkey = part_a
    JOIN item ib ON ib.l_partkey = part_b
    CROSS JOIN tot
    """,
)
def q_basket_rules(spark, sf_dir):
    """Market-basket association rules over order baskets (the classic
    recommender co-occurrence features, next to q_link_prediction and
    q_negative_sampling): for part pairs co-bought in >= 3 orders,
    support, confidence(a->b), and lift. One distinct pass builds the
    baskets, the pair join groups BEFORE any thresholded join fan-out
    materializes downstream, item counts broadcast (AQE), the 1-row
    basket total crossJoins in as a broadcast (no driver collect on the
    data path). A basket of k items emits C(k,2) pairs — at 100 TB the
    standard cap is dropping items above a frequency ceiling first
    (they carry ~zero lift signal), the same hub argument as
    link_scores' max_center_degree."""
    b = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    tot = b.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    x, y = b.alias("x"), b.alias("y")
    pair = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("part_a"),
            F.col("y.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b"))
    out = pair.join(ia, "part_a").join(ib, "part_b").crossJoin(F.broadcast(tot))
    return out.select(
        F.col("part_a").cast("bigint").alias("part_a"),
        F.col("part_b").cast("bigint").alias("part_b"),
        F.col("n_ab").cast("bigint").alias("n_ab"),
        R(F.col("n_ab") / F.col("n_orders"), 6).alias("support"),
        R(F.col("n_ab") / F.col("n_a"), 6).alias("confidence"),
        R(
            (F.col("n_ab") * F.col("n_orders")) / (F.col("n_a") * F.col("n_b")), 6
        ).alias("lift"),
    )
