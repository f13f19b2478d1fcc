"""Planted-case semantics for the llm5 tier (PMI phrases, Markov
transitions, deterministic mode, incremental dedup) — the oracle sweep
proves engine-equivalence on testdata; these tests prove the operators
compute the RIGHT thing on corpora where the answer is known by
construction."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from tests.conftest import SF_DIR, force_edge_route


def _write_documents(spark, tmp_path, rows):
    path = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "documents.parquet"))
    return path


def test_pmi_ranks_planted_collocation_first(spark, tmp_path):
    """'zq' and 'xv' only ever appear together (6 times) in a corpus of
    otherwise-common fillers, so 'zq xv' has the maximal possible PMI and
    must rank first; the filler bigram 'aa aa' has PMI ~0 and must rank
    below it."""
    from mesin_spark.queries.llm5 import q_pmi_bigrams

    filler = "aa bb aa bb aa bb"
    rows = [(i, filler, "en", "src0", len(filler)) for i in range(20)]
    rows += [(100 + i, "zq xv", "en", "src0", 5) for i in range(6)]
    sf = _write_documents(spark, tmp_path, rows)
    out = q_pmi_bigrams(spark, sf).collect()
    assert out, "no bigrams survived min-support"
    top = out[0]
    assert (top["w1"], top["w2"]) == ("zq", "xv")
    pmis = {(r["w1"], r["w2"]): r["pmi"] for r in out}
    assert pmis[("zq", "xv")] > pmis.get(("aa", "bb"), float("-inf"))


def test_transitions_known_chain(spark, tmp_path):
    """A user emitting the strict cycle a→b→a→b… yields P(b|a)=P(a|b)=1;
    mixing in a second user with a→a keeps rows normalized per prev."""
    path = str(tmp_path)
    base = dt.datetime(2024, 1, 1)
    rows = []
    seq = ["a", "b", "a", "b", "a"]
    for i, t in enumerate(seq):
        rows.append((i, base + dt.timedelta(minutes=i), 1, t, 1.0, "{}"))
    for i, t in enumerate(["a", "a", "a"]):
        rows.append((100 + i, base + dt.timedelta(minutes=i), 2, t, 1.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "events.parquet")
    )
    from mesin_spark.queries.llm5 import q_transitions

    out = {(r["prev_type"], r["next_type"]): r for r in q_transitions(spark, path).collect()}
    assert out[("b", "a")]["prob"] == 1.0
    # from 'a': 2 a→b hops (user 1) + 2 a→a hops (user 2)
    assert out[("a", "b")]["n"] == 2 and out[("a", "a")]["n"] == 2
    assert out[("a", "b")]["prob"] == 0.5
    # rows normalize: per-prev probabilities sum to 1
    from collections import defaultdict

    sums = defaultdict(float)
    for (prev, _nxt), r in out.items():
        sums[prev] += r["prob"]
    assert all(abs(s - 1.0) < 1e-9 for s in sums.values())


def test_mode_breaks_ties_by_value_order(spark, duck):
    """Against testdata, the deterministic mode must equal the DuckDB
    formulation with the same tie-break (count DESC, value ASC) — and a
    constructed tie must pick the lexicographically smaller value."""
    from pyspark.sql import functions as F
    from mesin_spark.queries.llm5 import q_mode

    got = {r["o_orderstatus"]: (r["mode_priority"], r["mode_count"])
           for r in q_mode(spark, SF_DIR).collect()}
    want = {s: (p, n) for s, p, n in duck.execute(
        """
        SELECT o_orderstatus, o_orderpriority, n FROM (
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   row_number() OVER (PARTITION BY o_orderstatus
                                      ORDER BY count(*) DESC, o_orderpriority) rn
            FROM orders GROUP BY 1, 2) WHERE rn = 1
        """
    ).fetchall()}
    assert got == want

    tie = spark.createDataFrame(
        [("O", "3-MEDIUM"), ("O", "1-URGENT")], "o_orderstatus string, o_orderpriority string"
    )
    counts = tie.groupBy("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderstatus").orderBy(F.desc("n"), "o_orderpriority")
    top = counts.withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()
    assert top[0]["o_orderpriority"] == "1-URGENT"


def test_incremental_dedup_plants(spark, tmp_path):
    """Batch docs (doc_id%3==0) drop iff their normalized text already
    exists in the snapshot: doc 3 duplicates doc 1 modulo case/trim and
    must drop; doc 6 is novel and must survive; doc 9 duplicates doc 12
    (both in-batch) and BOTH survive — incremental dedup only guards
    against the snapshot, in-batch dedup is q_dedup_exact's job."""
    from mesin_spark.queries.llm5 import q_dedup_incremental

    rows = [
        (1, "Hello World ", "en", "s", 11),
        (2, "other snapshot doc", "en", "s", 18),
        (3, "  hello world", "en", "s", 13),
        (6, "novel batch doc", "en", "s", 15),
        (9, "twin batch doc", "en", "s", 14),
        (12, "twin batch doc", "en", "s", 14),
    ]
    sf = _write_documents(spark, tmp_path, rows)
    kept = sorted(r["doc_id"] for r in q_dedup_incremental(spark, sf).collect())
    assert kept == [6, 9, 12]


def test_semdedup_drops_planted_near_duplicates(spark):
    """Clone 20 embeddings at ids +10^6 with a tiny perturbation: every
    clone must be pruned (its original is a ≥0.999-cosine lower-id witness
    in the same cluster), no original may be pruned on account of a clone,
    and the result must be deterministic across two runs."""
    from pyspark.sql import functions as F

    from mesin_spark.ext.similarity import semantic_dedup
    from mesin_spark.queries import T

    emb = T(spark, SF_DIR, "embeddings")
    base = emb.limit(20)
    clones = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x * (1.0 + (i % 7) * 1e-4)
        ).alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(clones)
    kept = semantic_dedup(corpus, n_clusters=8, threshold=0.999)
    kept_ids = {r["vec_id"] for r in kept.collect()}
    clone_ids = {r["vec_id"] + 1_000_000 for r in base.collect()}
    assert not (kept_ids & clone_ids), "a planted clone survived"
    assert {r["vec_id"] for r in emb.collect()} <= kept_ids | clone_ids
    kept2 = {r["vec_id"] for r in semantic_dedup(corpus, n_clusters=8, threshold=0.999).collect()}
    assert kept_ids == kept2


def test_kmv_sketch_merges_losslessly(spark):
    """KMV's defining property: sketch(A ∪ B) == merge(sketch(A),
    sketch(B)) where merge = union arrays, sort, keep k — re-aggregation
    never needs the raw keys. Also: small groups (< k distinct) report
    their exact count, and the estimate lands within the theoretical
    ~1/sqrt(k) band of the truth."""
    import math

    from pyspark.sql import functions as F

    from mesin_spark.ext.sketches import kmv_sketch
    from mesin_spark.queries import load_events

    K = 64
    ev = load_events(spark, SF_DIR)
    whole = {r["event_type"]: r for r in kmv_sketch(ev, "event_type", "user_id", k=K).collect()}

    a = kmv_sketch(ev.filter(F.col("event_id") % 2 == 0), "event_type", "user_id", k=K)
    b = kmv_sketch(ev.filter(F.col("event_id") % 2 == 1), "event_type", "user_id", k=K)
    merged = {}
    bb = {r["event_type"]: r["kmv"] for r in b.collect()}
    for r in a.collect():
        union = sorted(set(r["kmv"]) | set(bb.get(r["event_type"], [])))[:K]
        merged[r["event_type"]] = union
    for et, row in whole.items():
        assert merged[et] == list(row["kmv"]), f"merge mismatch for {et}"

    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count_distinct("user_id").alias("n")).collect()
    }
    for et, row in whole.items():
        n, est = exact[et], row["est_distinct"]
        if n < K:
            assert est == float(n)
        else:
            assert abs(est - n) / n < 4 / math.sqrt(K), (et, est, n)


def test_containment_catches_embedded_doc_jaccard_misses(spark, tmp_path):
    """A 6-token doc embedded verbatim inside a 60-token doc: containment
    (a in b) = 1.0 flags it, while Jaccard ~ |a|/|b| ~ 0.1 stays far
    below the same 0.8 threshold — the asymmetric detector's whole
    point. The reverse direction (b in a) must NOT be flagged."""
    from mesin_spark.ext.dedup import ngram_containment_pairs, ngram_jaccard_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"w{i}" for i in range(54))
    rows = [
        (1, short, "en", "s", len(short)),
        (2, long, "en", "s", len(long)),
        (3, "totally different text here", "en", "s", 27),
    ]
    sf = _write_documents(spark, tmp_path, rows)
    from mesin_spark.queries import T

    docs = T(spark, sf, "documents")
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(docs, "doc_id", block_col="source", threshold=0.8).collect()
    }
    assert cont.get((1, 2)) == 1.0  # short contained in long
    assert (2, 1) not in cont  # long not contained in short
    jac = ngram_jaccard_pairs(docs, "doc_id", block_col="source", threshold=0.8).collect()
    assert not [r for r in jac if {r["id_a"], r["id_b"]} == {1, 2}]


def test_pagerank_tol_early_exit(spark):
    """With tol set, the power iteration stops once the max rank delta at
    a checkpoint round falls under it — and the converged ranks still
    conserve total mass."""
    import pyspark.sql.functions as F

    from mesin_spark.ext.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src long, dst long"
    )  # 6-cycle: uniform stationary distribution, converges immediately
    r = pagerank(edges, max_iter=20, tol=1e-9, checkpoint_every=2)
    rows = r.collect()
    assert len(rows) == 6
    assert abs(sum(x["rank"] for x in rows) - 1.0) < 1e-9
    for x in rows:
        assert abs(x["rank"] - 1.0 / 6) < 1e-9


def test_pagerank_drops_null_endpoints(spark):
    """A NULL endpoint names no node: every ranking operator drops its
    edge rather than ranking a NULL node (or, in pagerank, reading it as
    the NULL-keyed sentinel row that carries the uniform term), and the
    portable ranks keep their whole mass."""
    import pytest

    from mesin_spark.ext import graph as G

    base = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]
    clean = spark.createDataFrame(base, "src long, dst long")
    dirty = spark.createDataFrame(
        base + [(None, 2), (4, None), (2, None), (None, 4)], "src long, dst long"
    )
    ops = {
        "pagerank": lambda df: G.pagerank(df, max_iter=4),
        "pagerank_portable": lambda df: G.pagerank_portable(df, rounds=4),
        "ppr_portable": lambda df: G.ppr_portable(df, seed_mod=1, rounds=4),
        "hits": lambda df: G.hits(df, rounds=2),
        "hits_portable": lambda df: G.hits_portable(df, rounds=2),
    }
    got = {}
    for name, op in ops.items():
        want = {r[0]: tuple(r[1:]) for r in op(clean).collect()}
        got[name] = {r[0]: tuple(r[1:]) for r in op(dirty).collect()}
        assert got[name] == want and want.keys() == {1, 2, 3, 4}, name
    # with every node a seed, personalized PageRank is the uniform one
    assert got["ppr_portable"] == got["pagerank_portable"]
    mass = sum(v[0] for v in got["pagerank_portable"].values()) / G.PR_SCALE
    assert 0.999999 < mass <= 1.0
    with pytest.raises(ValueError, match="max_iter"):
        G.pagerank(clean, max_iter=0)


def test_triangle_count_known_graphs(spark):
    from mesin_spark.ext.graph import triangle_count

    def tri(edges):
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        return {r["node"]: r["triangles"] for r in triangle_count(df).collect()}

    # K4: every node in C(3,2)=3 triangles; input deliberately messy
    # (duplicates, reversed orientation, a self-loop) to exercise
    # canonicalization
    k4 = [(1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (3, 3)]
    assert tri(k4) == {1: 3, 2: 3, 3: 3, 4: 3}
    # C5 cycle and a star: triangle-free
    assert tri([(1, 2), (2, 3), (3, 4), (4, 5), (5, 1)]) == {}
    assert tri([(0, i) for i in range(1, 9)]) == {}
    # hub + one closing edge: exactly one triangle through the hub —
    # the degree-ordered orientation must still find triangles whose
    # apex is the HIGH-degree node
    hub = [(0, i) for i in range(1, 9)] + [(1, 2)]
    assert tri(hub) == {0: 1, 1: 1, 2: 1}


def test_link_scores_known_graph(spark):
    import math

    from mesin_spark.ext.graph import link_scores

    # path graph 1-2-3-4 plus edge 2-4: candidate pairs and their shared
    # neighbors are hand-computable
    edges = [(1, 2), (2, 3), (3, 4), (2, 4)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        (r["a"], r["b"]): (r["common_neighbors"], r["adamic_adar"])
        for r in link_scores(df).collect()
    }
    # (1,3): shared 2 (deg 3); (1,4): shared 2 (deg 3); (2,4) is an EDGE
    # -> excluded; (3,4) edge -> excluded
    assert set(got) == {(1, 3), (1, 4)}
    assert got[(1, 3)][0] == 1 and abs(got[(1, 3)][1] - 1 / math.log(3)) < 1e-9
    assert got[(1, 4)][0] == 1 and abs(got[(1, 4)][1] - 1 / math.log(3)) < 1e-9
    # degree cap drops the only shared neighbor (deg 3) -> no candidates
    assert link_scores(df, max_center_degree=2).count() == 0


def test_k_core_known_graphs(spark):
    from mesin_spark.ext.graph import k_core

    def core(edges, k):
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        return {r["node"]: r["core_degree"] for r in k_core(df, k).collect()}

    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]  # complete K5
    assert core(k5, 4) == {i: 4 for i in range(5)}
    assert core(k5, 5) == {}
    # a tree has an empty 2-core
    tree = [(1, 2), (1, 3), (2, 4), (2, 5), (3, 6)]
    assert core(tree, 2) == {}
    # triangle with a pendant chain: 2-core is exactly the triangle —
    # peeling must cascade down the chain (4 is dropped only after 5)
    g = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    assert core(g, 2) == {1: 2, 2: 2, 3: 2}


def test_k_core_raises_on_round_cap_instead_of_superset(spark):
    """A chain graph peels one edge per round; exhausting max_rounds
    before the fixpoint must raise, not silently return a superset of
    the true k-core (the final degree filter would mask the partial
    peel — the unique-fixpoint oracle contract depends on this)."""
    import pytest

    from mesin_spark.ext.graph import k_core

    chain = [(i, i + 1) for i in range(12)]  # 2-core is empty, slowly
    df = spark.createDataFrame(chain, "src bigint, dst bigint")
    with pytest.raises(RuntimeError, match="max_rounds"):
        k_core(df, 2, max_rounds=3)
    # with enough rounds the same graph converges to the empty 2-core
    assert k_core(df, 2, max_rounds=20).count() == 0
    # boundary: the peel reaches 0 edges on EXACTLY the last allowed
    # round (12 edges shed 2/round = 6 rounds) — that IS the fixpoint,
    # so it must return the empty core, not raise
    assert k_core(df, 2, max_rounds=6).count() == 0


def test_kcore_query_converges_within_oracle_rounds(spark):
    # the q_kcore oracle unrolls 10 peel rounds; the real graph must
    # reach its fixpoint within that budget at every tested SF
    from mesin_spark.ext.graph import k_core
    from mesin_spark.queries import T
    from pyspark.sql import functions as F

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        li = (
            T(spark, sf_dir, "lineitem")
            .filter(F.col("l_quantity") > 48)
            .select("l_orderkey", "l_suppkey")
        )
        a, b = li.alias("a"), li.alias("b")
        co = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
            )
            .select(F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst"))
            .distinct()
        )
        full = {(r["node"], r["core_degree"]) for r in k_core(co, 3, max_rounds=20).collect()}
        capped = {(r["node"], r["core_degree"]) for r in k_core(co, 3, max_rounds=10).collect()}
        assert full == capped


def test_basket_rules_hand_computed(spark):
    from pyspark.sql import functions as F

    from mesin_spark.queries import QUERIES, load_all

    load_all()
    # 4 baskets: {1,2} x3, {1,3} x1 -> pair (1,2) has n_ab=3, n_1=4, n_2=3, N=4
    rows = [(o, p) for o, items in [(10, [1, 2]), (11, [1, 2]), (12, [1, 2]), (13, [1, 3])] for p in items]
    df = spark.createDataFrame(rows, "l_orderkey bigint, l_partkey bigint")
    df.createOrReplaceTempView("_baskets_probe")
    b = df.distinct()
    tot = 4
    # reuse the query's arithmetic by direct computation
    got = (
        b.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
        .count()
        .collect()
    )
    pairs = {(r["a"], r["b"]): r["count"] for r in got}
    assert pairs == {(1, 2): 3, (1, 3): 1}
    # lift for (1,2): n_ab*N/(n_a*n_b) = 3*4/(4*3) = 1.0 (independence)
    assert abs(pairs[(1, 2)] * tot / (4 * 3) - 1.0) < 1e-12


def test_random_walks_deterministic_and_edge_respecting(spark):
    from mesin_spark.ext.graph import random_walks

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    w1 = sorted(map(tuple, random_walks(df, n_steps=3).collect()))
    w2 = sorted(map(tuple, random_walks(df, n_steps=3).collect()))
    assert w1 == w2  # bit-identical across runs
    # every walk has exactly steps 0..3 and starts at its own node
    by_start = {}
    for start, step, node in w1:
        by_start.setdefault(start, {})[step] = node
    assert set(by_start) == {1, 2, 3, 4}
    und = {(a, b) for a, b in edges} | {(b, a) for a, b in edges}
    for start, path in by_start.items():
        assert sorted(path) == [0, 1, 2, 3]
        assert path[0] == start
        for t in range(1, 4):
            assert (path[t - 1], path[t]) in und  # every hop is a real edge


def test_pagerank_portable_tracks_float_pagerank(spark):
    from mesin_spark.ext.graph import PR_SCALE, pagerank, pagerank_portable

    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]  # cycle + feeder, 3 dangling-free
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    fp = {r["node"]: r["rank_fp"] for r in pagerank_portable(df, rounds=10).collect()}
    fl = {r["node"]: r["rank"] for r in pagerank(df, max_iter=10, checkpoint_every=10).collect()}
    assert set(fp) == set(fl)
    for n in fp:
        # fixed-point truncation loses ~1e-12/node/round; agreement to 1e-9
        assert abs(fp[n] / PR_SCALE - fl[n]) < 1e-9, (n, fp[n], fl[n])
    # total mass within truncation loss of 1
    assert 0.999999 < sum(fp.values()) / PR_SCALE <= 1.000001
    # bit-determinism across reruns
    fp2 = {r["node"]: r["rank_fp"] for r in pagerank_portable(df, rounds=10).collect()}
    assert fp == fp2


def test_hash_sample_quantiles_merge_and_accuracy(spark):
    """The quantile sketch's sample is mergeable exactly like KMV: the
    bottom-m hash rows of A ∪ B equal the merge (union + re-truncate)
    of the per-shard bottom-m rows, so sketch(A ∪ B) == sketch built
    from merged shard samples. Also: the m=256 median estimate lands
    inside the exact 40th–60th percentile band (position error ~1/√m),
    and a group smaller than m reports its exact quantiles."""
    from pyspark.sql import functions as F

    from mesin_spark.ext.sketches import hash_sample_quantiles
    from mesin_spark.functions import mul_mod32
    from mesin_spark.queries import load_events

    M = 256
    ev = load_events(spark, SF_DIR)
    whole = {
        r["event_type"]: r
        for r in hash_sample_quantiles(
            ev, "event_type", "value", "event_id", m=M
        ).collect()
    }
    # shard by event_id parity, take each shard's bottom-M (hash, id)
    # rows, merge driver-side, re-truncate, and recompute the quantiles
    hashed = ev.select(
        "event_type",
        F.col("value").cast("double").alias("v"),
        "event_id",
        mul_mod32(F.col("event_id"), 2654435761).alias("h"),
    )
    shards = {}
    for par in (0, 1):
        from pyspark.sql import Window

        w = Window.partitionBy("event_type").orderBy("h", "event_id")
        rows = (
            hashed.filter(F.col("event_id") % 2 == par)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= M)
            .collect()
        )
        for r in rows:
            shards.setdefault(r["event_type"], []).append(
                (r["h"], r["event_id"], r["v"])
            )
    import math

    for et, row in whole.items():
        sample = sorted(shards[et])[:M]
        vals = sorted(v for _, _, v in sample)
        n = len(vals)
        assert n == row["n_kept"]
        for q, col in ((0.25, "q25"), (0.5, "q50"), (0.75, "q75"), (0.9, "q90")):
            est = vals[int(math.floor(q * (n - 1)))]
            assert abs(est - row[col]) < 1e-4, f"{et} {col}"
    # accuracy: median estimate within the exact 40-60 percentile band
    for et, row in whole.items():
        exact = sorted(
            r["v"] for r in hashed.filter(F.col("event_type") == et).collect()
        )
        lo = exact[int(0.40 * (len(exact) - 1))]
        hi = exact[int(0.60 * (len(exact) - 1))]
        assert lo <= row["q50"] <= hi, f"{et}: {row['q50']} not in [{lo},{hi}]"
    # small group: fewer rows than m -> exact quantiles of the group
    tiny = ev.filter(F.col("event_id") < 40)
    got = {
        r["event_type"]: r
        for r in hash_sample_quantiles(
            tiny, "event_type", "value", "event_id", m=M
        ).collect()
    }
    for et, row in got.items():
        exact = sorted(
            r["v"]
            for r in hashed.filter(
                (F.col("event_type") == et) & (F.col("event_id") < 40)
            ).collect()
        )
        n = len(exact)
        assert row["n_kept"] == n
        want = exact[int(math.floor(0.5 * (n - 1)))]
        assert abs(row["q50"] - want) < 1e-4


def test_ppr_portable_reduces_to_pagerank_and_concentrates_on_seeds(spark):
    """Two defining properties of personalized PageRank, both exact:
    (1) with EVERY node a seed (seed_mod=1) the personalized teleport is
    the uniform one, so ppr_portable must equal pagerank_portable
    BIT-FOR-BIT; (2) with a single seed, rank concentrates on the seed's
    neighborhood — the seed outranks every node not reachable from it,
    and unreachable non-seed nodes hold rank 0 after enough rounds.
    Plus mass conservation (up to truncation) and rerun determinism."""
    from mesin_spark.ext.graph import PR_SCALE, pagerank_portable, ppr_portable

    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (6, 7)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    # (1) all-seeds degenerate case == uniform portable pagerank
    allseed = {r["node"]: r["rank_fp"] for r in ppr_portable(df, seed_mod=1, rounds=8).collect()}
    uniform = {r["node"]: r["rank_fp"] for r in pagerank_portable(df, rounds=8).collect()}
    assert allseed == uniform
    # (2) seed only node 7 (7 % 7 == 0): 7 is a dangling sink whose mass
    # restarts at itself; the 1-2-3 cycle and 4/6 are unreachable from 7
    # and not seeds, so after the first round their rank decays to 0
    seeded = {r["node"]: r["rank_fp"] for r in ppr_portable(df, seed_mod=7, rounds=8).collect()}
    assert seeded[7] > 0
    assert all(seeded[n] == 0 for n in (1, 2, 3, 4, 6))
    # mass conservation within truncation loss
    assert 0.999999 < sum(seeded.values()) / PR_SCALE <= 1.000001
    # determinism
    again = {r["node"]: r["rank_fp"] for r in ppr_portable(df, seed_mod=7, rounds=8).collect()}
    assert seeded == again


def test_hits_portable_star_and_float_agreement(spark):
    """HITS fixed-point sanity: on a star (3 buyers -> 1 supplier) the
    single authority absorbs the whole authority scale and the three
    hubs split the hub scale equally; on a general graph the
    fixed-point vectors track a pure-Python float HITS (same L1
    normalization) within the 1e-6 unit; pure sources/sinks score 0 on
    the missing side; reruns are bit-identical."""
    from mesin_spark.ext.graph import HITS_SCALE, hits_portable

    star = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9)], "src bigint, dst bigint"
    )
    got = {r["node"]: r for r in hits_portable(star, rounds=3).collect()}
    assert got[9]["auth_fp"] == HITS_SCALE and got[9]["hub_fp"] == 0
    hubs = [got[n]["hub_fp"] for n in (1, 2, 3)]
    assert len(set(hubs)) == 1 and abs(sum(hubs) - HITS_SCALE) <= 3
    assert all(got[n]["auth_fp"] == 0 for n in (1, 2, 3))

    edges = [(1, 5), (1, 6), (2, 5), (3, 6), (3, 7), (4, 7)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    fp = {r["node"]: r for r in hits_portable(df, rounds=8).collect()}
    # pure-Python float HITS with identical L1 normalization
    nodes = sorted({u for e in edges for u in e})
    h = {u: 1.0 / len(nodes) for u in nodes}
    a = {}
    for _ in range(8):
        a_raw = {}
        for u, v in edges:
            a_raw[v] = a_raw.get(v, 0.0) + h.get(u, 0.0)
        na = sum(a_raw.values())
        a = {v: x / na for v, x in a_raw.items()}
        h_raw = {}
        for u, v in edges:
            h_raw[u] = h_raw.get(u, 0.0) + a.get(v, 0.0)
        nh = sum(h_raw.values())
        h = {u: x / nh for u, x in h_raw.items()}
    for u in nodes:
        assert abs(fp[u]["hub_fp"] / HITS_SCALE - h.get(u, 0.0)) < 1e-4
        assert abs(fp[u]["auth_fp"] / HITS_SCALE - a.get(u, 0.0)) < 1e-4
    again = {r["node"]: r for r in hits_portable(df, rounds=8).collect()}
    assert {k: (v["hub_fp"], v["auth_fp"]) for k, v in fp.items()} == {
        k: (v["hub_fp"], v["auth_fp"]) for k, v in again.items()
    }


def test_semdedup_portable_crafted_components_and_determinism(spark):
    """Crafted corpus: ids 0..15 are orthogonal-ish seeds; 100/101/102
    are three near-identical copies of seed 3's direction (one
    component — exactly two drop, min id 100 survives); 200 is a lone
    vector near seed 5 (no pair, survives). Checks the kept set, the
    component-minimum policy, cluster assignments, and rerun equality."""
    import numpy as np

    from mesin_spark.ext.similarity import semantic_dedup_portable

    dim = 8
    rows = []
    for j in range(16):
        v = np.zeros(dim)
        v[j % dim] = 1.0
        if j >= dim:  # second axis keeps all seed pairs at cos <= 1/sqrt(2)
            v[(j + 1) % dim] = 1.0
        rows.append((j, [float(x) for x in v]))
    # near seed 3 (argmax assignment) but below the 0.95 pair threshold
    # against it (cos = 1/sqrt(1+0.35²) ≈ 0.944), so the component is the
    # three copies alone and the seed survives separately
    base = np.zeros(dim); base[3] = 1.0; base[0] = 0.35
    for i, eps in ((100, 0.0), (101, 1e-3), (102, 2e-3)):
        v = base.copy(); v[2] = eps
        rows.append((i, [float(x) for x in v]))
    lone = np.zeros(dim); lone[5] = 1.0; lone[1] = 0.4
    rows.append((200, [float(x) for x in lone]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = {r["vec_id"]: r["sem_cluster"] for r in
            semantic_dedup_portable(emb, n_list=16, threshold=0.95).collect()}
    assert 100 in kept and 101 not in kept and 102 not in kept
    assert 200 in kept
    assert all(j in kept for j in range(16))  # seeds are mutually distant
    assert kept[100] == 3 and kept[200] == 5  # assignment sanity
    again = {r["vec_id"]: r["sem_cluster"] for r in
             semantic_dedup_portable(emb, n_list=16, threshold=0.95).collect()}
    assert kept == again


def test_q_semdedup_portable_drops_every_planted_clone(spark):
    """The registry query runs the PRODUCTION 0.95 threshold against
    planted identical clones (vec_id+100000 for every 10th vector):
    every clone must lose to its original (kept set == the originals,
    each with a cluster assignment), proving the production decision
    fires on the driver fixture — the round-8 graduation of this query
    off the fixture-threshold caveat list."""
    import __spark_entry__ as E

    from tests.conftest import SF_DIR

    kept = {r["vec_id"] for r in
            E.queries()["q_semdedup_portable"](spark, SF_DIR).collect()}
    n = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert len(kept) == n  # all originals kept
    assert not {k for k in kept if k >= 100_000}  # every clone dropped


def test_review_guards_raise_instead_of_silent_wrong(spark, monkeypatch):
    """Round-6 review regressions: (1) hits_portable refuses a graph
    whose node count floors the initial fixed-point score to 0; (2)
    pq_portable_topk refuses m that does not divide dim (silent
    dimension drop); (3) sq8_topk raises on a missing query id instead
    of returning an empty top-k; (4) covariance_stats reports the
    deliberate n<2 message on an empty frame instead of a TypeError."""
    import pytest

    from mesin_spark.ext import graph as G
    from mesin_spark.ext.pca import covariance_stats
    from mesin_spark.ext.similarity import pq_portable_topk, sq8_topk

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src bigint, dst bigint")
    monkeypatch.setattr(G, "HITS_SCALE", 2)
    with pytest.raises(ValueError, match="exceeds HITS_SCALE"):
        G.hits_portable(edges, rounds=1)
    monkeypatch.undo()

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(32)
    with pytest.raises(ValueError, match="must divide dim"):
        pq_portable_topk(emb, m=5)
    with pytest.raises(ValueError, match="no row with vec_id"):
        sq8_topk(emb, query_id=10**9)
    empty = emb.filter("vec_id < 0")
    with pytest.raises(ValueError, match="need >= 2 vectors"):
        covariance_stats(empty)


def test_hits_overflow_guard_is_live_and_rounds_validated(spark, monkeypatch):
    """Round-7 review regressions (ADVICE graph.py:586/578): (1) the
    norm-overflow guard must actually EVALUATE — the old standalone
    assert_true('_chk') column was deleted by ColumnPruning and never
    ran; the fix folds the CASE/raise_error into the consumed `nm`
    column. Proven empirically by shrinking the overflow limit via a
    huge HITS_SCALE (lim = (2^63-1) div HITS_SCALE = 9 at 1e18) so a
    3-node graph's first half-round norm trips it. (2) rounds=0 raises
    a clear ValueError instead of a TypeError at the final join."""
    import pytest

    from mesin_spark.ext import graph as G

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src bigint, dst bigint"
    )
    with pytest.raises(ValueError, match="rounds must be >= 1"):
        G.hits_portable(edges, rounds=0)

    monkeypatch.setattr(G, "HITS_SCALE", 10**18)
    with pytest.raises(Exception, match="norm overflow"):
        G.hits_portable(edges, rounds=1).collect()


def _force_prefix(monkeypatch, on: bool) -> None:
    """Force the n-gram pair operators onto the prefix route (``on``) or
    salted all-pairs through their route cutoff."""
    import mesin_spark.ext.dedup as D

    monkeypatch.setattr(D, "_PREFIX_PAIRS_PER_DOC", -1.0 if on else float("inf"))


def test_containment_prefix_filter_exact_equivalence(spark, monkeypatch):
    """The asymmetric pigeonhole prefix (a's floor((1-t)|a|)+1 rarest
    grams joined against FULL container postings) is candidate pruning,
    never recall loss: both routes must return the identical
    DIRECTED pair set with identical containment values — including the
    short-doc-embedded-in-long-doc case a length band would drop (the
    reason containment can't reuse the Jaccard band guard)."""
    from mesin_spark.ext.dedup import ngram_containment_pairs

    rows = []
    for i in range(30):
        base = f"alpha beta gamma delta epsilon zeta eta theta doc{i % 5}"
        rows.append((i, "A" if i % 2 else "B", base))
        if i % 6 == 0:
            # short doc embedded verbatim inside a much longer one
            rows.append(
                (2000 + i, "A" if i % 2 else "B",
                 base + " " + " ".join(f"w{i}x{j}" for j in range(40)))
            )
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    for t in (0.5, 0.8):
        got = []
        for pf in (False, True):
            _force_prefix(monkeypatch, pf)
            got.append(sorted(
                tuple(r)
                for r in ngram_containment_pairs(
                    df, "doc_id", block_col="src", threshold=t
                ).collect()
            ))
        a, b = got
        assert a == b and len(a) > 0, (t, len(a), len(b))
        # the planted short-in-long directed pairs must be present
        assert any(ia < 2000 <= ib for ia, ib, _ in a), a[:5]


def test_containment_auto_routing_by_occupancy(spark, monkeypatch):
    """The measured route of the containment form: small blocks stay
    all-pairs, one fat block flips to the prefix route (recognizable by
    its row_number window), results identical either way — the routing
    that keeps q_dedup_containment off the occupancy-squared cliff the
    100x sweep measured (2.5e10 directed pairs on a 5-value block key)."""
    import mesin_spark.ext.dedup as D
    from mesin_spark.ext.dedup import ngram_containment_pairs

    monkeypatch.setattr(D, "_PREFIX_PAIRS_PER_DOC", 4.0)

    fat = spark.createDataFrame(
        [(i, "one", f"alpha beta gamma delta epsilon doc{i % 3} w{i}")
         for i in range(40)],
        "doc_id long, src string, text string",
    )
    routed = ngram_containment_pairs(fat, "doc_id", block_col="src", threshold=0.5)
    assert "Window" in routed._jdf.queryExecution().optimizedPlan().toString()
    got = sorted(tuple(r) for r in routed.collect())
    _force_prefix(monkeypatch, False)
    want = sorted(
        tuple(r)
        for r in ngram_containment_pairs(
            fat, "doc_id", block_col="src", threshold=0.5
        ).collect()
    )
    assert got == want and len(got) > 0


def test_hits_float_agreement_and_unbounded_envelope(spark, monkeypatch):
    """The engine-native hits() (doubles, any |V|) must track
    hits_portable within fixed-point quantization on an in-envelope
    graph, satisfy the structural invariants (L1 norms sum to 1,
    star-center authority dominance, pure sources/sinks score 0.0 on the
    missing side), agree across its measured edge routes to 1e-12 (and
    hits_portable exactly), and — the reason it exists — accept a graph past
    hits_portable's HITS_SCALE node envelope (found live by the 100x
    scale sweep's 1.5M-node graph)."""
    from mesin_spark.ext.graph import HITS_SCALE, hits, hits_portable

    star = spark.createDataFrame([(1, 9), (2, 9), (3, 9)], "src bigint, dst bigint")
    got = {r["node"]: r for r in hits(star, rounds=3).collect()}
    assert got[9]["auth"] == 1.0 and got[9]["hub"] == 0.0
    assert all(abs(got[n]["hub"] - 1 / 3) < 1e-12 for n in (1, 2, 3))

    edges = [(1, 5), (1, 6), (2, 5), (3, 6), (3, 7), (4, 7)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    fl = {r["node"]: r for r in hits(df, rounds=8).collect()}
    assert abs(sum(v["hub"] for v in fl.values()) - 1.0) < 1e-9
    assert abs(sum(v["auth"] for v in fl.values()) - 1.0) < 1e-9
    fp = {r["node"]: r for r in hits_portable(df, rounds=8).collect()}
    for u in fl:
        assert abs(fl[u]["hub"] - fp[u]["hub_fp"] / HITS_SCALE) < 1e-4
        assert abs(fl[u]["auth"] - fp[u]["auth_fp"] / HITS_SCALE) < 1e-4
    # every edge route: AQE rounds or the two pinned edge copies (by the
    # group keys when scores broadcast, by the join keys when they
    # shuffle), broadcast or Pregel-shuffle half-rounds — the same
    # doubles to 1e-12 and the same fixed point exactly
    for pin in (False, True):
        for broadcast in (False, True):
            keys = force_edge_route(monkeypatch, pin, broadcast)
            sh = {r["node"]: r for r in hits(df, rounds=8).collect()}
            for u in fl:
                assert abs(fl[u]["hub"] - sh[u]["hub"]) < 1e-12
                assert abs(fl[u]["auth"] - sh[u]["auth"]) < 1e-12
            assert {r["node"]: r for r in hits_portable(df, rounds=8).collect()} == fp
            pinned = ["dst", "src"] if broadcast else ["src", "dst"]
            assert keys == (pinned * 2 if pin else [])
    monkeypatch.undo()

    # past the portable envelope: portable refuses loudly, float runs
    from pyspark.sql import functions as F

    big = spark.range(HITS_SCALE + 8).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    with pytest.raises(ValueError, match="use hits\\(\\)"):
        hits_portable(big, rounds=1)
    out = hits(big.limit(50), rounds=1)  # semantics on a small slice
    assert out.count() == 51


def test_graph_operators_measure_edges_once(spark, monkeypatch):
    """Each graph-operator call runs at most one measuring aggregate:
    hits, hits_portable and dedup_clusters one edge_route each, the
    PageRank family none (pagerank's auto pre-pass is skipped when
    broadcast_ranks is given). hits_portable used to measure the same
    deduplicated edge frame twice, once per pin key: on this graph its
    1-round build started 20 jobs, 4 of them in its two measuring
    aggregates. Jobs are counted by job group."""
    import uuid

    from mesin_spark.ext import dedup as D
    from mesin_spark.ext import graph as G
    from mesin_spark.ext import measure

    sc = spark.sparkContext

    def jobs(fn):
        """(result, jobs started by ``fn``), counted in a job group of
        its own; the enclosing group is restored after."""
        outer = sc.getLocalProperty("spark.jobGroup.id")
        group = f"jobs-{uuid.uuid4().hex[:8]}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    measuring = []
    real = measure.edge_route

    def spy(leaf, copies=1):
        route, n = jobs(lambda: real(leaf, copies))
        measuring.append(n)
        return route

    monkeypatch.setattr(measure, "edge_route", spy)
    monkeypatch.setattr(D, "edge_route", spy)
    df = spark.createDataFrame(
        [(1, 5), (1, 6), (2, 5), (3, 6), (3, 7), (4, 7)], "src bigint, dst bigint"
    )
    _, rest = jobs(lambda: G.hits_portable(df, rounds=1))
    assert len(measuring) == 1 and measuring[0] >= 1
    assert rest + measuring[0] < 20
    calls = {}
    for name, op in {
        "hits": lambda: G.hits(df, rounds=1),
        "dedup_clusters": lambda: D.dedup_clusters(df.toDF("id_a", "id_b")),
        "pagerank": lambda: G.pagerank(df, max_iter=1, broadcast_ranks=True),
        "pagerank_portable": lambda: G.pagerank_portable(df, rounds=1),
        "ppr_portable": lambda: G.ppr_portable(df, seed_mod=1, rounds=1),
    }.items():
        measuring.clear()
        op()
        calls[name] = len(measuring)
    assert calls == {
        "hits": 1, "dedup_clusters": 1, "pagerank": 0, "pagerank_portable": 0, "ppr_portable": 0
    }


def test_prefix_pigeonhole_exact_threshold_boundaries(spark, monkeypatch):
    """Pairs sitting EXACTLY at the threshold when t·|grams| lands on an
    integer — the case float prefix arithmetic silently drops
    (ceil(0.8·5) = 5 in doubles because 0.8·5 = 4.0000000000000004, so
    the prefix shrinks below its pigeonhole-proven size). Both crafted
    corpora rank the shared grams LAST (they are the frequent ones), so
    an undersized prefix provably misses the pair rather than passing by
    luck. The prefix route must equal the all-pairs route on both."""
    from mesin_spark.ext.dedup import ngram_containment_pairs, ngram_jaccard_pairs

    # containment exactly 4/5 at t=0.8: doc 1's grams = 1 unique (rarest,
    # ranked first) + 4 shared; old float prefix = 1 → only the unique
    # gram → candidate missed
    docs_c = spark.createDataFrame(
        [
            (1, "s", "w1 w2 w3 w4 w5 w6"),
            (2, "s", "w2 w3 w4 w5 w6 f1 f2 f3 f4 f5"),
        ],
        "doc_id long, src string, text string",
    )
    for pf in (False, True):
        _force_prefix(monkeypatch, pf)
        got = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in ngram_containment_pairs(
                docs_c, "doc_id", block_col="src", threshold=0.8
            ).collect()
        }
        assert got.get((1, 2)) == 0.8, (pf, got)

    # jaccard exactly 3/10 at t=0.3 (0.3·10 integer): doc 1 has 10 grams,
    # 7 unique (rarest, ranked 1-7) + 3 shared (ranked 8-10); old float
    # prefix = 7 → no shared gram in doc 1's prefix → candidate missed
    docs_j = spark.createDataFrame(
        [
            (1, "s", "a1 a2 a3 a4 w5 w6 w7 w8 b1 b2 b3"),
            (2, "s", "w5 w6 w7 w8"),
        ],
        "doc_id long, src string, text string",
    )
    for pf in (False, True):
        _force_prefix(monkeypatch, pf)
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(
                docs_j, "doc_id", block_col="src", threshold=0.3
            ).collect()
        }
        assert got.get((1, 2)) == 0.3, (pf, got)


def test_random_walks_big_id_overflow_guard(spark):
    """Node ids past 2^63/WALK_A ≈ 7e9 overflowed the naive step-hash
    multiply under ANSI mode (found live by the 100x scale sweep, whose
    shard-shifted ids reach 9.9e9). The mod-P pre-reduction must (a) run
    clean on big ids and (b) leave small-id trajectories bit-identical
    — ((n·A) mod P = ((n mod P)·A) mod P) is an identity, so the
    big-id graph's walks must exactly equal the same graph's walks
    under an id shift that is a multiple of WALK_P (a shift ≡ 0 mod P
    preserves every step hash)."""
    from mesin_spark.ext.graph import WALK_P, random_walks

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    small = spark.createDataFrame(edges, "src bigint, dst bigint")
    w_small = sorted(map(tuple, random_walks(small, n_steps=3).collect()))

    shift = WALK_P * 9  # ≈ 9e9: past the old overflow cliff, ≡ 0 mod P
    big = spark.createDataFrame(
        [(a + shift, b + shift) for a, b in edges], "src bigint, dst bigint"
    )
    w_big = sorted(map(tuple, random_walks(big, n_steps=3).collect()))
    assert [(s - shift, t, n - shift) for s, t, n in w_big] == w_small


def test_pigeonhole_prefix_len_int64_and_odd_thresholds(spark):
    """The prefix-length expression must survive long documents and
    non-terminating thresholds (the round-8 review findings): F.size()
    is IntegerType so the multiply must be forced to int64 (the int32
    form threw ARITHMETIC_OVERFLOW under ANSI at ~2700 grams/doc for
    t=0.8), and a threshold like 1/3 must be floor-quantized to the
    6-dp grid BEFORE the fraction is built (the raw str(1/3) fraction
    carries a 1e16 denominator that re-overflows int64 at ~2767 grams
    even with bigint math)."""
    from pyspark.sql import functions as F

    from mesin_spark.ext.dedup import _pigeonhole_prefix_len

    df = spark.createDataFrame([(3000,), (2_000_000_000,)], "sz int")
    got = {
        r["sz"]: r["p"]
        for r in df.select(
            "sz", _pigeonhole_prefix_len("sz", 0.8).alias("p")
        ).collect()
    }
    # t' = 0.799999: ceil(.799999*3000) = 2400 -> 601; at 2e9 grams the
    # product 799999*2e9 ~ 1.6e15 must flow through int64, not int32
    assert got[3000] == 601
    assert got[2_000_000_000] == 400_002_001

    # 1/3 floor-quantizes to 333332/1e6 -> ceil(.333332*3000) = 1000
    got3 = df.select(_pigeonhole_prefix_len("sz", 1 / 3).alias("p")).collect()
    assert got3[0]["p"] == 3000 - 1000 + 1

    # threshold at/below the grid floor -> whole gram set is the prefix
    whole = df.select(_pigeonhole_prefix_len("sz", 1e-6).alias("p")).collect()
    assert whole[0]["p"] == 3000


def test_ngram_prefix_route_long_document_no_overflow(spark, monkeypatch):
    """End-to-end repro of the review finding: a >3000-distinct-gram
    document through the PPJoin prefix route at t=0.8 — the identical
    pair must come back at jaccard 1.0 with no arithmetic overflow."""
    from mesin_spark.ext.dedup import ngram_jaccard_pairs

    text = " ".join(f"w{i}" for i in range(3100))
    df = spark.createDataFrame(
        [(1, "A", text), (2, "A", text), (3, "A", "tiny doc here")],
        "doc_id long, src string, text string",
    )
    _force_prefix(monkeypatch, True)
    got = ngram_jaccard_pairs(df, "doc_id", block_col="src", threshold=0.8).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in got] == [(1, 2, 1.0)]


def test_levenshtein_segment_filter_exact_equivalence(spark, monkeypatch):
    """The PassJoin segment pigeonhole is candidate PRUNING, never
    recall loss: both routes (forced through the route cutoff) must
    return the identical pair set
    with identical distances — including planted near-dups (one char
    substituted / inserted / deleted), verbatim duplicates, and the
    short-string regime where only an EMPTY segment aligns edit-free
    (|s| <= k; dropping empty segments would lose those pairs)."""
    import mesin_spark.ext.dedup as D
    from mesin_spark.ext.dedup import levenshtein_pairs

    rows = []
    names = [
        "almond antique blue royal",
        "chocolate mint green pale",
        "moccasin powder drab lawn",
        "a", "ab", "xy", "", "zzz",
    ]
    for i, nm in enumerate(names):
        blk = "B1" if i % 2 else "B2"
        rows.append((i, blk, nm))
        rows.append((100 + i, blk, nm))             # verbatim dup, dist 0
        rows.append((200 + i, blk, nm + "q"))       # insertion, dist 1
        if len(nm) > 3:
            rows.append((300 + i, blk, nm[:-2]))    # 2-char deletion
            rows.append((400 + i, blk, "x" + nm[1:]))  # substitution
    df = spark.createDataFrame(rows, "id long, brand string, name string")
    for k in (1, 2):
        got = []
        for cut in (float("inf"), -1.0):  # all-pairs, then segments
            monkeypatch.setattr(D, "_SEGMENT_PAIRS_PER_NAME", cut)
            got.append(sorted(
                tuple(r)
                for r in levenshtein_pairs(df, "id", "name", "brand", k=k).collect()
            ))
        a, b = got
        assert a == b and len(a) > 0, (k, len(a), len(b))
        # the planted families must be present
        assert any(d == 0 for *_, d in a)
        assert any(d == 1 for *_, d in a)


def test_levenshtein_auto_routing_by_occupancy(spark, monkeypatch):
    """The engine measures the all-pairs candidate space and routes:
    small blocks keep the salted all-pairs plan, one fat block
    flips to the segment-pigeonhole path (recognizable by its
    least/greatest pair canonicalization), results identical either
    way — the routing that keeps q_fuzzy_join off the occupancy² cliff
    its 25-value brand canopy hit at the 100x scale point."""
    import mesin_spark.ext.dedup as D
    from mesin_spark.ext.dedup import levenshtein_pairs

    monkeypatch.setattr(D, "_SEGMENT_PAIRS_PER_NAME", 4.0)
    fat = spark.createDataFrame(
        [(i, "one", f"alpha beta gamma doc{i}") for i in range(40)],
        "id long, brand string, name string",
    )
    routed = levenshtein_pairs(fat, "id", "name", "brand", k=2)
    # the all-pairs route is recognizable by its salt column; the
    # segment route never salts (bucket keys carry the parallelism)
    plan = routed._jdf.queryExecution().optimizedPlan().toString()
    assert "_salt" not in plan, plan[:500]
    got = sorted(tuple(r) for r in routed.collect())
    monkeypatch.setattr(D, "_SEGMENT_PAIRS_PER_NAME", float("inf"))
    want = sorted(
        tuple(r)
        for r in levenshtein_pairs(fat, "id", "name", "brand", k=2).collect()
    )
    assert got == want and len(got) > 0
    monkeypatch.setattr(D, "_SEGMENT_PAIRS_PER_NAME", 4.0)

    thin = spark.createDataFrame(
        [(i, f"b{i % 20}", f"gamma delta doc{i}") for i in range(40)],
        "id long, brand string, name string",
    )
    unrouted = levenshtein_pairs(thin, "id", "name", "brand", k=2)
    plan2 = unrouted._jdf.queryExecution().optimizedPlan().toString()
    assert "_salt" in plan2, plan2[:500]


def test_ppr_portable_seed_frame_matches_seed_mod(spark):
    """The seeds-DataFrame path (q_ppr_portable's top-k-hub selection
    rides on it) must produce bit-identical ranks to the seed_mod
    predicate selecting the same node set, and must raise the designed
    error when the frame matches no graph node."""
    import pytest as _pytest

    from mesin_spark.ext.graph import ppr_portable

    edges = [(i, (i * 3) % 11) for i in range(11)] + [(i, (i + 1) % 11) for i in range(11)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    by_mod = {
        r["node"]: r["rank_fp"]
        for r in ppr_portable(df, seed_mod=3, rounds=6).collect()
    }
    seed_frame = spark.createDataFrame(
        [(n,) for n in range(0, 11, 3)], "node bigint"
    )
    by_frame = {
        r["node"]: r["rank_fp"]
        for r in ppr_portable(df, rounds=6, seeds=seed_frame).collect()
    }
    assert by_mod == by_frame
    empty = spark.createDataFrame([(999,)], "node bigint")
    with _pytest.raises(ValueError, match="seed frame matched nothing"):
        ppr_portable(df, rounds=2, seeds=empty)


def test_containment_duplicate_collapse_expansion(spark, monkeypatch):
    """The duplicate-collapse path must reproduce EXACT directed
    semantics on a verbatim-duplicate-heavy corpus: every ordered pair
    within a copy family surfaces at containment exactly 1.0, family×
    family cross pairs expand from one verified rep pair, and both
    candidate routes agree — the copies²→1 cut that candidate machinery
    never sees a duplicate."""
    import mesin_spark.ext.dedup as D
    from mesin_spark.ext.dedup import ngram_containment_pairs

    rows = []
    base_text = "alpha beta gamma delta epsilon zeta"
    for c in range(4):  # a 4-copy family
        rows.append((c, "A", base_text))
    # a longer doc embedding the family text verbatim (cross-group pair)
    rows.append((100, "A", base_text + " " + " ".join(f"w{j}" for j in range(30))))
    # an unrelated doc
    rows.append((200, "A", "one two three four five six seven"))
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    for pf in (False, True):
        _force_prefix(monkeypatch, pf)
        got = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in ngram_containment_pairs(
                df, "doc_id", block_col="src", threshold=0.8
            ).collect()
        }
        # all 12 ordered within-family pairs at exactly 1.0
        fam = {(a, b) for a in range(4) for b in range(4) if a != b}
        assert fam <= set(got) and all(got[p] == 1.0 for p in fam), got
        # every family member is contained in the long doc (expanded
        # from ONE rep pair), never the reverse
        assert all((c, 100) in got and got[(c, 100)] == 1.0 for c in range(4))
        assert not any((100, c) in got for c in range(4))
        assert not any(200 in p for p in got)
    def pairs():
        return sorted(
            tuple(r) for r in ngram_containment_pairs(
                df, "doc_id", block_col="src", threshold=0.8
            ).collect()
        )

    _force_prefix(monkeypatch, False)
    a = pairs()
    _force_prefix(monkeypatch, True)
    assert pairs() == a
    # the collapse is a routing decision, never a semantics change:
    # forcing it on or off must give the identical directed pair set
    _force_prefix(monkeypatch, False)
    for forced, ratio in ((True, 0.0), (False, float("inf"))):
        monkeypatch.setattr(D, "_DUP_COLLAPSE_RATIO", ratio)
        assert pairs() == a, forced


def test_gram_verify_join_routes_identical(spark, monkeypatch):
    """The verify route (round-10 payload fix) is a PHYSICAL
    strategy choice only: broadcast (per-pair arrays never re-exchange)
    and shuffle (the 100 TB pinned path) must return identical pair
    sets with identical values on BOTH prefix forms, and the size
    pigeonholes inside the candidate joins must keep boundary pairs
    that 6-dp-round up to the threshold (the crafted corpus plants
    short-in-long containment pairs exactly at |A∩B|/|A| = 4/5)."""
    import mesin_spark.ext.dedup as D
    from mesin_spark.ext.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    _force_prefix(monkeypatch, True)
    monkeypatch.setattr(D, "_DUP_COLLAPSE_RATIO", float("inf"))

    rows = []
    for i in range(24):
        base = f"alpha beta gamma delta epsilon zeta doc{i % 4} tail{i % 7}"
        rows.append((i, "A" if i % 2 else "B", base))
        if i % 5 == 0:
            rows.append(
                (3000 + i, "A" if i % 2 else "B",
                 base + " " + " ".join(f"pad{i}y{j}" for j in range(25)))
            )
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    for fn, t in ((ngram_containment_pairs, 0.8), (ngram_jaccard_pairs, 0.5)):
        got = {}
        for route, cut in (("broadcast", float("inf")), ("shuffle", -1.0)):
            monkeypatch.setattr(D, "_GRAM_BROADCAST_MAX_BYTES", cut)
            got[route] = sorted(
                tuple(r)
                for r in fn(df, "doc_id", block_col="src", threshold=t).collect()
            )
        assert got["broadcast"] == got["shuffle"] and len(got["shuffle"]) > 0, (
            fn.__name__, len(got["broadcast"]), len(got["shuffle"]))
