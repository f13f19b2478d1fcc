"""Round-2 wave 3 — upsert MERGE, deterministic sampling, skew-hardened
aggregation/join, and data diagnostics (heavy hitters, outliers).

The reference's statement dispatcher (src/planner/mod.rs:21-38) has no
MERGE arm and its CRUD surface (tmp/crud.txt) stops at INSERT/UPDATE/
DELETE; MERGE is the standard incremental-load extension. The skew
operators re-express groupBy/join (SURVEY.md §2.3-2.4) in the salted
two-phase forms a 100 TB corpus with hot keys requires, and the oracle
proves them exactly equal to the plain formulations.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mesin_spark.ext import pipeline as P
from mesin_spark.ext import skew as K
from mesin_spark.queries import R, T, query, sr
from mesin_spark.queries.dml import _scratch


@query(
    "q_merge",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey <= 2 THEN 'MERGED-' || n_name ELSE n_name END AS n_name,
           n_regionkey
    FROM nation
    UNION ALL
    SELECT * FROM (VALUES (300, 'NEWLAND', 3), (301, 'FARAWAY', 4))
        t(n_nationkey, n_name, n_regionkey)
    """,
)
def q_merge(spark, sf_dir):
    """MERGE INTO (upsert): keys 0-2 matched → n_name updated from source;
    keys 300/301 unmatched → inserted. One full-outer join on the key (AQE
    broadcasts the small source side); see ManagedTable.merge."""
    _, mt = _scratch(spark, sf_dir, "nation")
    n = T(spark, sf_dir, "nation")
    upd = n.filter(F.col("n_nationkey") <= 2).select(
        "n_nationkey",
        F.concat(F.lit("MERGED-"), F.col("n_name")).alias("n_name"),
        "n_regionkey",
    )
    new = spark.createDataFrame(
        [(300, "NEWLAND", 3), (301, "FARAWAY", 4)], schema=upd.schema
    )
    mt.merge(upd.unionByName(new), on=["n_nationkey"])
    return mt.df().select("n_nationkey", "n_name", "n_regionkey")


@query(
    "q_time_travel",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    UNION ALL
    SELECT * FROM (VALUES (500, 'LEMURIA', 2)) t(n_nationkey, n_name, n_regionkey)
    """,
)
def q_time_travel(spark, sf_dir):
    """Snapshot time travel on the scratch table: v1 = import, v2 =
    insert, v3 = update-all, then read version 2 — the pre-update snapshot
    (base + the inserted row, names untouched). Each commit is one atomic
    pointer swap (os.replace), appends hard-link prior files instead of
    copying — see ManagedTable versioned layout."""
    _, mt = _scratch(spark, sf_dir, "nation")
    mt.insert_values([(500, "LEMURIA", 2)], columns=["n_nationkey", "n_name", "n_regionkey"])
    mt.update({"n_name": "concat('LATER-', n_name)"})
    return mt.time_travel(2).select("n_nationkey", "n_name", "n_regionkey")


@query(
    "q_distinct_on",
    oracle="""
    SELECT DISTINCT ON (o_custkey)
           o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date
    FROM orders
    ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC
    """,
)
def q_distinct_on(spark, sf_dir):
    """Postgres DISTINCT ON (latest order per customer). Implemented as
    groupBy + max_by over a (orderdate, orderkey) struct — a partially
    aggregating map-side combine, strictly better at scale than the
    row_number-window formulation (which shuffles every row)."""
    o = T(spark, sf_dir, "orders")
    pick = F.max_by(
        F.struct(F.col("o_orderkey"), F.col("o_orderdate")),
        F.struct(F.col("o_orderdate"), F.col("o_orderkey")),
    )
    return (
        o.groupBy("o_custkey")
        .agg(pick.alias("_p"))
        .select(
            "o_custkey",
            F.col("_p.o_orderkey").alias("o_orderkey"),
            F.date_format("_p.o_orderdate", "yyyy-MM-dd").alias("o_date"),
        )
    )


@query(
    "q_sample_hash",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE (CAST((CAST(o_orderkey AS HUGEINT) * 2654435761) % 4294967296 AS BIGINT)) % 10000 < 500
    """,
)
def q_sample_hash(spark, sf_dir):
    """Deterministic TABLESAMPLE BERNOULLI (5%) by portable id-hash —
    reproducible across engines/runs/appends, unlike df.sample. Map-side
    filter only."""
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    return P.bernoulli_sample(o, "o_orderkey", 0.05)


@query(
    "q_grouped_sample",
    oracle="""
    SELECT doc_id, source, rn FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY (CAST((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 AS BIGINT)), doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 25
    """,
)
def q_grouped_sample(spark, sf_dir):
    """Fixed-size per-stratum sample (25 docs per source) ranked by
    portable hash — the deterministic reservoir-sample replacement for
    corpus curation; see pipeline.grouped_sample for the huge-stratum
    composition rule."""
    d = T(spark, sf_dir, "documents").select("doc_id", "source")
    return P.grouped_sample(d, "source", "doc_id", 25)


@query(
    "q_skew_agg",
    oracle=f"""
    SELECT l_returnflag,
           {sr("sum(l_quantity)", 2)} AS sum_qty,
           count(l_quantity) AS n,
           {sr("sum(l_quantity) / count(l_quantity)", 6)} AS avg_qty,
           {sr("min(l_quantity)", 2)} AS min_qty,
           {sr("max(l_quantity)", 2)} AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_skew_agg(spark, sf_dir):
    """Salted two-phase aggregation over the 3-value (maximally hot)
    l_returnflag key — 16 reducers share each hot key, then 16 partials
    re-aggregate per key. Exactly equals the plain groupBy (the oracle IS
    the plain groupBy)."""
    li = T(spark, sf_dir, "lineitem")
    out = K.salted_agg(
        li,
        ["l_returnflag"],
        [
            ("l_quantity", "sum", "sum_qty"),
            ("l_quantity", "count", "n"),
            ("l_quantity", "avg", "avg_qty"),
            ("l_quantity", "min", "min_qty"),
            ("l_quantity", "max", "max_qty"),
        ],
        salt=F.xxhash64("l_orderkey", "l_linenumber"),
        n_salt=16,
    )
    return out.select(
        "l_returnflag",
        R(F.col("sum_qty"), 2).alias("sum_qty"),
        "n",
        R(F.col("avg_qty"), 6).alias("avg_qty"),
        R(F.col("min_qty"), 2).alias("min_qty"),
        R(F.col("max_qty"), 2).alias("max_qty"),
    )


@query(
    "q_skew_join",
    oracle=f"""
    SELECT s.s_nationkey,
           {sr("sum(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue,
           count(*) AS n
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    """,
)
def q_skew_join(spark, sf_dir):
    """Salted replicated equi-join (lineitem ⋈ supplier, 8 salts): each
    supplier row is replicated across 8 salt buckets so a hot suppkey's
    probe rows split 8 ways. Row-for-row equal to the plain join (the
    oracle IS the plain join)."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount", "l_orderkey", "l_linenumber"
    )
    s = T(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = K.salted_join(
        li, s, on=["l_suppkey"], salt=F.xxhash64("l_orderkey", "l_linenumber"), n_salt=8
    )
    return joined.groupBy("s_nationkey").agg(
        R(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_heavy_hitters",
    oracle=f"""
    WITH c AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey),
         t AS (SELECT count(*) AS total FROM orders)
    SELECT o_custkey, n, {sr("n * 1.0 / total", 6)} AS share
    FROM c, t
    ORDER BY n DESC, o_custkey ASC
    LIMIT 20
    """,
)
def q_heavy_hitters(spark, sf_dir):
    """Exact key-frequency profile (top-20 customers by order count, with
    share of total) — the skew diagnostic you run BEFORE choosing a join
    strategy. Partial-agg count + 1-row broadcast total +
    TakeOrderedAndProject; for streaming/sketched variants see
    q_countmin."""
    o = T(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    total = o.agg(F.count(F.lit(1)).alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select("o_custkey", "n", R(F.col("n") * 1.0 / F.col("total"), 6).alias("share"))
        .orderBy(F.col("n").desc(), F.col("o_custkey").asc())
        .limit(20)
    )


@query(
    "q_variant",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0
                      THEN 1 END) AS n_even
    FROM events GROUP BY event_type
    """,
)
def q_variant(spark, sf_dir):
    """Spark 4 VARIANT path for semi-structured data: parse_json once into
    the binary VARIANT encoding, then typed variant_get extraction — the
    100 TB pattern (parse at ingest, store VARIANT in parquet, cheap typed
    access per query) vs q_json_props' per-query string parse."""
    e = T(spark, sf_dir, "events")
    v = e.select("event_type", F.parse_json("props").alias("v"))
    k = F.variant_get(F.col("v"), "$.k", "bigint")
    return v.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.sum("k").cast("long").alias("sum_k"),
        F.count(F.when(F.col("k") % 2 == 0, 1)).alias("n_even"),
    )


@query(
    "q_pivot_dynamic",
    oracle=f"""
    SELECT o_orderpriority,
           {sr("sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END)", 2)} AS F,
           {sr("sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END)", 2)} AS O,
           {sr("sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END)", 2)} AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot_dynamic(spark, sf_dir):
    """Dynamic PIVOT: the status columns are discovered from the data
    (Spark runs a distinct pre-pass), not declared — then a single
    partial-aggregating pivot. At 100 TB pass the values explicitly to
    skip the discovery scan; semantics are identical."""
    o = T(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus")
        .agg(F.sum("o_totalprice"))
    )
    return piv.select(
        "o_orderpriority",
        *[R(F.col(c), 2).alias(c) for c in piv.columns if c != "o_orderpriority"],
    )


@query(
    "q_outliers",
    oracle=f"""
    SELECT event_id, event_type, z FROM (
        SELECT e.event_id, e.event_type,
               {sr("(e.value - s.mu) / s.sigma", 4)} AS z
        FROM events e
        JOIN (
            SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
            FROM events GROUP BY event_type
        ) s USING (event_type)
    ) WHERE abs(z) > 3
    """,
)
def q_outliers(spark, sf_dir):
    """Z-score anomaly detection: events whose value is >3 sigma from
    their event-type mean. Two passes over events (stats, then filter)
    with the tiny per-type stats broadcast back — no window, no per-key
    funnel; the filter compares the 4-dp rounded z on both engines."""
    ev = T(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    j = ev.join(F.broadcast(stats), "event_type")
    z = R((F.col("value") - F.col("mu")) / F.col("sigma"), 4)
    return (
        j.select("event_id", "event_type", z.alias("z"))
        .filter(F.abs(F.col("z")) > 3)
    )
