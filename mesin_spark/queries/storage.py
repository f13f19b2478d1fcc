"""Storage-tier operators round 2: CDC change feed between table
versions, zone-map file pruning, and a streaming foreachBatch upsert
sink. These extend the CRUD/versioning tier (SURVEY.md §2.12; reference
dispatcher src/planner/mod.rs:21-38 rejects everything beyond basic CRUD)
with the table-format primitives a lakehouse user expects.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mesin_spark.queries import R, T, query, sr, scratch_dir
from mesin_spark.queries.dml import _scratch


@query(
    "q_table_changes",
    oracle="""
    SELECT 'insert' AS change_type, CAST(500 AS BIGINT) AS n_nationkey,
           'LEMURIA' AS n_name, 2 AS n_regionkey
    UNION ALL
    SELECT 'update_pre', n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_nationkey = 3
    UNION ALL
    SELECT 'update_post', n_nationkey, 'ZEALANDIA', n_regionkey
    FROM nation WHERE n_nationkey = 3
    UNION ALL
    SELECT 'delete', n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_nationkey = 10
    """,
)
def q_table_changes(spark, sf_dir):
    """CDC change feed (Delta readChangeFeed analog): on the scratch
    table, apply an insert + an update + a delete, then diff v1 → v4 into
    typed change rows with pre AND post images for updates. One full-outer
    key join over the two snapshots, classified in a single array-build +
    explode projection (ManagedTable.changes)."""
    _, mt = _scratch(spark, sf_dir, "nation")
    mt.insert_values(
        [(500, "LEMURIA", 2)],
        columns=["n_nationkey", "n_name", "n_regionkey"],
    )
    mt.update({"n_name": "'ZEALANDIA'"}, where="n_nationkey = 3")
    mt.delete(where="n_nationkey = 10")
    return mt.changes(1, 4, key_cols=["n_nationkey"])


@query(
    "q_pruned_scan",
    oracle=f"""
    SELECT l_returnflag,
           count(*) AS n,
           CAST({sr("sum(l_quantity)", 4)} AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_orderkey BETWEEN 100 AND 300
    GROUP BY l_returnflag
    """,
)
def q_pruned_scan(spark, sf_dir):
    """Zone-map data skipping: lay lineitem out range-partitioned + sorted
    by l_orderkey (8 files), build the per-file min/max zone map in one
    scan, then answer a key-range aggregate reading ONLY the overlapping
    files (+ residual filter). The pruning itself is asserted in
    tests/test_storage.py (files read < files on disk); here the oracle
    proves the pruned answer equals the full-table answer — the invariant
    data skipping must preserve. At 100 TB the zone map lives in the
    commit log and this is every query's scan path."""
    from mesin_spark.sources import pruned_parquet, write_parquet, zone_map

    li = T(spark, sf_dir, "lineitem")
    layout = os.path.join(
        scratch_dir(prefix="mesin_zone_"), "lineitem_sorted"
    )
    write_parquet(
        li.repartitionByRange(8, "l_orderkey"), layout, sort_by=["l_orderkey"]
    )
    zm = zone_map(spark, layout, ["l_orderkey"])
    lo, hi = 100, 300  # present at every SF; prunes 7/8 files
    pruned = pruned_parquet(spark, layout, "l_orderkey", lo, hi, zm=zm)
    return (
        pruned.filter(F.col("l_orderkey").between(lo, hi))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            R(F.sum("l_quantity").cast("double"), 4).alias("sum_qty"),
        )
    )


@query(
    "q_stream_upsert",
    oracle="""
    SELECT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS last_ts,
           event_type AS last_type,
           value AS last_value
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q_stream_upsert(spark, sf_dir):
    """Streaming upsert sink: readStream over events → foreachBatch folds
    each micro-batch into a versioned ManagedTable as latest-row-per-user
    state (max_by over (ts, event_id)) — the streaming CDC-apply pattern.
    The final materialized state is deterministic (latest event per user),
    so unusually for a streaming path this query IS oracle-checked.
    Multi-batch arrival-order robustness is asserted separately in
    tests/test_storage.py."""
    from mesin_spark.dml import ColumnDefinition, DdlSession
    from mesin_spark.ext.streaming import read_events_stream, run_upsert_to_table

    base = scratch_dir(prefix="mesin_upsert_")
    sess = DdlSession(spark, base_dir=base)
    target = sess.create_table(
        "user_state",
        [
            ColumnDefinition("event_id", "bigint"),
            ColumnDefinition("ts", "timestamp"),
            ColumnDefinition("user_id", "bigint"),
            ColumnDefinition("event_type", "string"),
            ColumnDefinition("value", "double"),
            ColumnDefinition("props", "string"),
        ],
    )
    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    final = run_upsert_to_table(
        stream, target, key_cols=["user_id"], order_cols=["ts", "event_id"]
    )
    return final.select(
        "user_id",
        F.unix_timestamp("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


@query(
    "q_incremental_mv",
    oracle="""
    WITH base AS (
        SELECT event_id, event_type, user_id,
               CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS value_u
        FROM events
    ),
    ins AS (
        SELECT event_id + 10000000 AS event_id, 'replay' AS event_type,
               user_id, value_u
        FROM base WHERE user_id % 7 = 0
    ),
    all_rows AS (SELECT * FROM base UNION ALL SELECT * FROM ins),
    kept AS (SELECT * FROM all_rows WHERE event_id % 13 <> 0),
    final AS (
        SELECT event_id, event_type, user_id,
               CASE WHEN event_type = 'click' AND user_id % 5 = 0
                    THEN value_u * 2 ELSE value_u END AS value_u
        FROM kept
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(value_u) AS BIGINT) AS sum_value_u
    FROM final GROUP BY event_type
    """,
)
def q_incremental_mv(spark, sf_dir):
    """Incremental materialized-view maintenance (ext/matview.AggView):
    a count/sum aggregate view over a versioned events table is refreshed
    AFTER EACH of an insert batch, a delete, and an update — every
    refresh folds only the CDC delta between commits into the stored
    view (signed per-group addition via one change-feed join + one
    view-sized outer merge; the base is never re-aggregated). The final
    view must equal a from-scratch GROUP BY over the final table state —
    which is exactly what the oracle computes. Sums run in integer
    micro-units so incremental merge order cannot drift a float sum.
    Refresh-cost and group-move properties are pinned in
    tests/test_storage.py."""
    from mesin_spark.dml import DdlSession
    from mesin_spark.ext.matview import create_agg_view
    from mesin_spark.sources import read_parquet

    base_dir = scratch_dir(prefix="mesin_mv_")
    sess = DdlSession(spark, base_dir=base_dir)
    ev = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).select(
        "event_id",
        "event_type",
        "user_id",
        F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint").alias("value_u"),
    )
    mt = sess.create_table_as("mv_base", ev)
    view = create_agg_view(
        sess,
        "mv_by_type",
        mt,
        key_cols=["event_id"],
        group_cols=["event_type"],
        sum_cols=["value_u"],
    )
    mt.insert_select(
        mt.df()
        .filter(F.col("user_id") % 7 == 0)
        .select(
            (F.col("event_id") + 10000000).alias("event_id"),
            F.lit("replay").alias("event_type"),
            "user_id",
            "value_u",
        )
    )
    view.refresh()
    mt.delete(F.col("event_id") % 13 == 0)
    view.refresh()
    mt.update(
        {"value_u": F.col("value_u") * 2},
        where=(F.col("event_type") == "click") & (F.col("user_id") % 5 == 0),
    )
    view.refresh()
    return view.df().select(
        "event_type",
        F.col("_rows").alias("n_rows"),
        F.col("sum_value_u"),
    )


@query(
    "q_partition_prune",
    oracle=f"""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
           count(*) AS n,
           CAST({sr("sum(value)", 4)} AS DOUBLE) AS sum_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def q_partition_prune(spark, sf_dir):
    """Hive-style partition pruning: write events partitioned by
    event_type (directory-per-value layout), then aggregate ONE type —
    Catalyst turns the predicate into a PartitionFilter, so the scan
    lists and reads only that directory and the filter never executes
    per-row. This is the coarse-grained sibling of q_pruned_scan's
    zone maps (partition dirs prune at file-listing time; zone maps at
    row-group time) and the default layout for 100 TB event stores:
    partition by low-cardinality routing keys (date, type), sort within
    partitions for the high-cardinality rest. The PartitionFilters plan
    fragment is asserted in tests/test_storage.py; the oracle proves
    the partitioned answer equals the full-table answer."""
    from mesin_spark.sources import write_parquet

    ev = T(spark, sf_dir, "events")
    layout = os.path.join(
        scratch_dir(prefix="mesin_part_"), "events_by_type"
    )
    write_parquet(ev, layout, partition_by=["event_type"])
    part = spark.read.parquet(layout)
    return (
        part.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            R(F.sum("value").cast("double"), 4).alias("sum_value"),
        )
    )


@query(
    "q_dpp_join",
    oracle="""
    WITH dim AS (SELECT * FROM (VALUES (1995, 'keep'), (1997, 'other')) t(y, tag))
    SELECT tag,
           count(*) AS n,
           (floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0) AS revenue
    FROM lineitem JOIN dim ON CAST(year(l_shipdate) AS INT) = y
    WHERE tag = 'keep'
    GROUP BY tag
    """,
)
def q_dpp_join(spark, sf_dir):
    """Dynamic partition pruning end-to-end: the fact side is written
    PARTITIONED BY ship_year (the lakehouse layout), the dim side is a
    small filtered table joined on the partition column — Spark injects
    a runtime `dynamicpruning` subquery into the scan's PartitionFilters
    so only the matching year's files are read (plan-guarded in
    tests/test_scale_plans.py). At 100 TB this is THE mechanism that
    turns a star-join's dimension filter into a fact-scan reduction; the
    oracle aggregates the raw table directly, proving the partitioned
    layout + pruned scan changes nothing but the bytes read."""
    d = scratch_dir("dpp_")
    li = T(spark, sf_dir, "lineitem").withColumn("ship_year", F.year("l_shipdate"))
    path = os.path.join(d, "li_part")
    li.write.partitionBy("ship_year").mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame([(1995, "keep"), (1997, "other")], "y int, tag string")
    return (
        fact.join(F.broadcast(dim), fact["ship_year"] == dim["y"])
        .filter(F.col("tag") == "keep")
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            R(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


@query(
    "q_optimize_stmt",
    oracle=f"""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
           CAST({sr("sum(l_extendedprice)", 2)} AS DOUBLE) AS sum_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_optimize_stmt(spark, sf_dir):
    """OPTIMIZE + VACUUM as driver-certified statements (Delta OPTIMIZE
    analog; the reference dispatcher src/planner/mod.rs:21-38 has no
    storage-maintenance arm): materialize lineitem as a deliberately
    fragmented managed table (48 small files), compact it
    through ``OPTIMIZE ... TARGET 256 MB SORT BY l_orderkey`` (range-
    clustered rewrite committed as a new version), drop the fragmented
    version with ``VACUUM ... KEEP 1``, and aggregate the surviving
    table. The oracle aggregates the raw lineitem view directly — the
    invariant a compaction must preserve is that ONLY the physical
    layout changed. File-count reduction, version advance, and
    time-travel-until-vacuum are asserted in tests/test_sql_dml.py."""
    from mesin_spark.context import ExecutionContext

    ctx = ExecutionContext(spark=spark)
    ctx.ddl.base_dir = scratch_dir(prefix="mesin_optimize_")
    ctx.ddl.create_table_as("opt_li", T(spark, sf_dir, "lineitem").repartition(48))
    ctx.execute("OPTIMIZE opt_li TARGET 256 MB SORT BY l_orderkey")
    ctx.execute("VACUUM opt_li KEEP 1")
    return (
        ctx.ddl.table("opt_li")
        .df()
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_orderkey").cast("bigint").alias("sum_okey"),
            R(F.sum("l_extendedprice"), 2).cast("double").alias("sum_price"),
        )
    )


@query(
    "q_describe_history",
    oracle="""
    SELECT CAST(version AS BIGINT) AS version, op
    FROM (VALUES (1, 'CONVERT'), (2, 'INSERT'), (3, 'UPDATE'),
                 (4, 'DELETE'), (5, 'OPTIMIZE'), (5, 'VACUUM')) t(version, op)
    """,
)
def q_describe_history(spark, sf_dir):
    """DESCRIBE HISTORY (Delta analog): every commit on a versioned
    managed table appends an audit record — op label, version, wall
    time — inside the same writer-locked critical section as the
    pointer swap; VACUUM logs without a version bump. The full
    statement lifecycle runs through ExecutionContext.execute and the
    history is read back as a statement too. ts/details are projected
    away (wall time is nondeterministic by nature); the op/version
    sequence is the exact contract."""
    from mesin_spark.context import ExecutionContext

    ctx = ExecutionContext(spark=spark)
    ctx.ddl.base_dir = scratch_dir(prefix="mesin_history_")
    ctx.ddl.import_parquet("hist_nation", os.path.join(sf_dir, "nation.parquet"))
    ctx.execute("INSERT INTO hist_nation VALUES (900, 'LEMURIA', 2)")
    ctx.execute("UPDATE hist_nation SET n_name = 'ZEALANDIA' WHERE n_nationkey = 3")
    ctx.execute("DELETE FROM hist_nation WHERE n_nationkey = 10")
    ctx.execute("OPTIMIZE hist_nation TARGET 256 MB")
    ctx.execute("VACUUM hist_nation KEEP 1")
    return ctx.execute("DESCRIBE HISTORY hist_nation").select("version", "op")


@query(
    "q_constraint_enforce",
    oracle="""
    SELECT CAST(id AS BIGINT) AS id, CAST(ref AS BIGINT) AS ref,
           CAST(amt AS DOUBLE) AS amt
    FROM (VALUES (1, 1, 5.0), (4, NULL, NULL)) t(id, ref, amt)
    """,
)
def q_constraint_enforce(spark, sf_dir):
    """Opt-in constraint enforcement (Delta-constraints analog; the
    reference stores PK/UNIQUE/CHECK/FK metadata and never enforces it,
    common.rs:100-110 — and so does this engine until the
    `enforce_constraints` table property is set). Five writes are
    attempted through the statement surface; exactly the three that
    violate PRIMARY KEY / CHECK / FOREIGN KEY are rejected (each as a
    bounded incremental validation: batch row checks + one key
    semi-join + one FK anti-join — never a base rescan on append), and
    SQL null semantics hold (NULL fk passes MATCH SIMPLE, NULL check is
    unknown → passes). The surviving table is the exact contract."""
    from mesin_spark.context import ExecutionContext
    from mesin_spark.dml import ConstraintViolation

    ctx = ExecutionContext(spark=spark)
    ctx.ddl.base_dir = scratch_dir(prefix="mesin_constraints_")
    ctx.execute("CREATE TABLE parent (pk BIGINT PRIMARY KEY)")
    ctx.execute("INSERT INTO parent VALUES (1), (2)")
    ctx.execute(
        """CREATE TABLE child (
            id BIGINT, ref BIGINT, amt DOUBLE,
            PRIMARY KEY (id), CHECK (amt > 0),
            FOREIGN KEY (ref) REFERENCES parent (pk)
        )"""
    )
    ctx.execute("ALTER TABLE child SET PROPERTIES ('enforce_constraints' = 'true')")
    attempts = [
        "INSERT INTO child VALUES (1, 1, 5.0)",    # clean
        "INSERT INTO child VALUES (1, 2, 3.0)",    # PK dup vs table
        "INSERT INTO child VALUES (2, 2, -1.0)",   # CHECK fails
        "INSERT INTO child VALUES (3, 9, 1.0)",    # FK orphan
        "INSERT INTO child VALUES (4, NULL, NULL)",  # clean under SQL null rules
    ]
    for stmt in attempts:
        try:
            ctx.execute(stmt)
        except ConstraintViolation:
            pass
    return ctx.execute("SELECT id, ref, amt FROM child")


@query(
    "q_show_create",
    oracle="""
    SELECT 'audit' AS tbl,
           'CREATE TABLE audit ( id BIGINT PRIMARY KEY, who STRING NOT NULL, amount DOUBLE DEFAULT 1.5, UNIQUE (who), CHECK (amount > 0) ) PROPERTIES (''enforce_constraints'' = ''true'')' AS create_stmt
    """,
)
def q_show_create(spark, sf_dir):
    """SHOW CREATE TABLE — executable DDL reconstructed from the managed
    catalog (columns with types/nullability/defaults, constraint clauses
    verbatim, user table properties; internal keys filtered). The
    round-trip property (reconstructed DDL re-executes into an identical
    catalog entry) is asserted in tests/test_sql_dml.py; here the exact
    string is the contract (newlines flattened — the driver canon is
    line-oriented)."""
    from mesin_spark.context import ExecutionContext

    ctx = ExecutionContext(spark=spark)
    ctx.ddl.base_dir = scratch_dir(prefix="mesin_showcreate_")
    ctx.execute(
        """CREATE TABLE audit (
            id BIGINT PRIMARY KEY,
            who STRING NOT NULL,
            amount DOUBLE DEFAULT 1.5,
            UNIQUE (who),
            CHECK (amount > 0)
        )"""
    )
    ctx.execute("ALTER TABLE audit SET PROPERTIES ('enforce_constraints' = 'true')")
    out = ctx.execute("SHOW CREATE TABLE audit")
    return out.select(
        F.col("table").alias("tbl"),
        F.regexp_replace(F.col("create_stmt"), r"\s+", " ").alias("create_stmt"),
    )


@query(
    "q_restore_table",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def q_restore_table(spark, sf_dir):
    """RESTORE ... TO VERSION (Delta RESTORE analog): after a bad delete
    and a junk insert, rolling back to v1 must reproduce the original
    table EXACTLY — while the bad versions stay time-travelable and the
    restore itself lands as an audited hard-link commit (metadata-only,
    no data copy, no Spark job; asserted with history/vacuum edge cases
    in tests/test_sql_dml.py). The oracle is simply the untouched
    nation view."""
    from mesin_spark.context import ExecutionContext

    ctx = ExecutionContext(spark=spark)
    ctx.ddl.base_dir = scratch_dir(prefix="mesin_restore_")
    ctx.ddl.import_parquet("rst_nation", os.path.join(sf_dir, "nation.parquet"))
    ctx.execute("DELETE FROM rst_nation WHERE n_regionkey = 0")
    ctx.execute("INSERT INTO rst_nation VALUES (999, 'JUNK', 4)")
    ctx.execute("RESTORE rst_nation TO VERSION 1")
    return ctx.execute(
        "SELECT n_nationkey, n_name, n_regionkey FROM rst_nation"
    )
