"""Storage-tier properties: CDC change-feed semantics, zone-map pruning
actually skipping files, and out-of-order multi-batch upsert folding.
Exact oracle equality for the three queries is covered by test_oracle.py."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture()
def scratch_nation(spark):
    from mesin_spark.queries.dml import _scratch

    _, mt = _scratch(spark, SF_DIR, "nation")
    return mt


def test_changes_noop_version_is_empty(spark, scratch_nation):
    mt = scratch_nation
    mt.update({"n_name": "n_name"})  # rewrite with identical values -> v2
    assert mt.changes(1, 2, ["n_nationkey"]).count() == 0


def test_changes_requires_forward_range(spark, scratch_nation):
    from mesin_spark.catalog import CatalogError

    mt = scratch_nation
    with pytest.raises(CatalogError):
        mt.changes(1, 1, ["n_nationkey"])


def test_changes_rejects_schema_drift(spark, scratch_nation):
    from mesin_spark.catalog import CatalogError

    mt = scratch_nation
    mt.alter_add_column("note", "string", default="x")
    with pytest.raises(CatalogError):
        mt.changes(1, 2, ["n_nationkey"])


def test_changes_update_images_pair_up(spark, scratch_nation):
    mt = scratch_nation
    mt.update({"n_name": "concat(n_name, '!')"}, where="n_regionkey = 2")
    rows = mt.changes(1, 2, ["n_nationkey"]).collect()
    pre = {r["n_nationkey"]: r for r in rows if r["change_type"] == "update_pre"}
    post = {r["n_nationkey"]: r for r in rows if r["change_type"] == "update_post"}
    assert set(pre) == set(post) and pre
    assert not [r for r in rows if r["change_type"] in ("insert", "delete")]
    for k in pre:
        assert post[k]["n_name"] == pre[k]["n_name"] + "!"


def test_zone_map_prunes_files(spark):
    from mesin_spark.queries import T
    from mesin_spark.sources import pruned_parquet, write_parquet, zone_map

    li = T(spark, SF_DIR, "lineitem")
    layout = os.path.join(tempfile.mkdtemp(prefix="zm_"), "li")
    write_parquet(
        li.repartitionByRange(8, "l_orderkey"), layout, sort_by=["l_orderkey"]
    )
    n_files = len([f for f in os.listdir(layout) if f.endswith(".parquet")])
    assert n_files == 8
    zm = zone_map(spark, layout, ["l_orderkey"])
    assert zm.count() == n_files
    pruned = pruned_parquet(spark, layout, "l_orderkey", 100, 300, zm=zm)
    files_read = pruned.select(
        F.col("_metadata.file_path")
    ).distinct().count()
    assert files_read < n_files  # skipping actually happened
    # and the pruned+residual answer equals the plain filtered answer
    expect = li.filter(F.col("l_orderkey").between(100, 300)).count()
    got = pruned.filter(F.col("l_orderkey").between(100, 300)).count()
    assert got == expect


def test_zone_map_empty_range(spark):
    from mesin_spark.queries import T
    from mesin_spark.sources import pruned_parquet, write_parquet

    li = T(spark, SF_DIR, "lineitem")
    layout = os.path.join(tempfile.mkdtemp(prefix="zm0_"), "li")
    write_parquet(
        li.repartitionByRange(4, "l_orderkey"), layout, sort_by=["l_orderkey"]
    )
    pruned = pruned_parquet(spark, layout, "l_orderkey", -50, -10)
    assert pruned.count() == 0
    assert pruned.columns == li.columns


def test_upsert_out_of_order_batches(spark):
    """A LATE-arriving batch with older rows must not clobber newer state."""
    from mesin_spark.dml import ColumnDefinition, DdlSession

    base = tempfile.mkdtemp(prefix="upsert_ooo_")
    sess = DdlSession(spark, base_dir=base)
    target = sess.create_table(
        "state",
        [
            ColumnDefinition("user_id", "bigint"),
            ColumnDefinition("ts", "bigint"),
            ColumnDefinition("val", "string"),
        ],
    )
    from mesin_spark.ext.streaming import run_upsert_to_table

    # drive apply_batch directly (the foreachBatch body) out of order
    cols = ["user_id", "ts", "val"]
    newer = spark.createDataFrame([(1, 200, "new"), (2, 50, "b")], cols)
    older = spark.createDataFrame([(1, 100, "old"), (3, 10, "c")], cols)

    def fold(batch_df):
        merged = (
            target.df()
            .select(*cols)
            .unionByName(batch_df)
            .groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct(*[F.col(c) for c in cols]), F.struct("ts")
                ).alias("_r")
            )
            .select("_r.*")
        )
        target._swap_in(merged)

    fold(newer)
    fold(older)  # late arrival
    got = {r["user_id"]: r for r in target.df().collect()}
    assert got[1]["val"] == "new" and got[1]["ts"] == 200
    assert set(got) == {1, 2, 3}
    _ = run_upsert_to_table  # the streaming wrapper is exercised by q_stream_upsert


def test_partition_prune_scan_uses_partition_filters(spark, tmp_path):
    """The event_type predicate over a partitionBy('event_type') layout
    must become a PartitionFilter (pruned at file-listing time) — NOT a
    pushed data filter — and only the matching directory's files are
    read."""
    import os

    from pyspark.sql import functions as F

    from mesin_spark.queries import T
    from mesin_spark.sources import write_parquet
    from tests.conftest import SF_DIR

    layout = os.path.join(str(tmp_path), "events_by_type")
    write_parquet(T(spark, SF_DIR, "events"), layout, partition_by=["event_type"])
    df = spark.read.parquet(layout).filter(F.col("event_type") == "purchase")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    seg = plan[plan.index("PartitionFilters") :].splitlines()[0]
    assert "event_type" in seg
    # the row-level PushedFilters must NOT carry the partition predicate
    pushed = plan[plan.index("PushedFilters") :].splitlines()[0]
    assert "event_type" not in pushed
    assert df.count() == T(spark, SF_DIR, "events").filter("event_type = 'purchase'").count()


# -- round 3: concurrent writers on the versioned store ---------------------
def test_concurrent_appends_linear_and_lossless(spark, scratch_nation):
    """Two threads appending + one vacuuming in a loop, a reader polling:
    the writer lock must serialize commits into a LINEAR version chain
    (initial + one version per append, none lost), every appended row
    present at the end, and no reader ever observing a half state."""
    import threading

    mt = scratch_nation
    v0 = mt.current_version()
    base = mt.df().count()
    per_thread, n_threads = 4, 2
    errors: list[BaseException] = []
    counts: list[int] = []

    def appender(tid: int):
        try:
            for i in range(per_thread):
                mt.insert_values(
                    [(9000 + tid * 100 + i, f"T{tid}-{i}", 0)],
                    ["n_nationkey", "n_name", "n_regionkey"],
                )
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def vacuumer(stop: threading.Event):
        try:
            while not stop.is_set():
                mt.vacuum(keep_last=2)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def reader(stop: threading.Event):
        try:
            while not stop.is_set():
                counts.append(mt.df().count())
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    stop = threading.Event()
    threads = [threading.Thread(target=appender, args=(t,)) for t in range(n_threads)]
    aux = [
        threading.Thread(target=vacuumer, args=(stop,)),
        threading.Thread(target=reader, args=(stop,)),
    ]
    for t in threads + aux:
        t.start()
    for t in threads:
        t.join(timeout=300)
    stop.set()
    for t in aux:
        t.join(timeout=60)

    assert not errors, errors
    total = n_threads * per_thread
    # linear chain: every append created exactly one new version
    assert mt.current_version() == v0 + total
    # lossless: every appended row survived every interleaving
    assert mt.df().count() == base + total
    got = {
        r["n_name"]
        for r in mt.df().filter(F.col("n_nationkey") >= 9000).collect()
    }
    assert got == {f"T{t}-{i}" for t in range(n_threads) for i in range(per_thread)}
    # no reader ever saw a half state: counts only ever grow by whole rows
    assert all(base <= c <= base + total for c in counts)
    # the lock always releases
    assert not os.path.exists(mt.path.rstrip("/") + "._LOCK")


def test_stale_writer_lock_surfaces_clearly(spark, scratch_nation):
    from mesin_spark.catalog import CatalogError

    mt = scratch_nation
    lock = mt.path.rstrip("/") + "._LOCK"
    with open(lock, "w") as f:
        f.write("424242")
    try:
        with pytest.raises(CatalogError, match="writer lock.*424242"):
            with mt._writer_lock(timeout=0.3):
                pass
    finally:
        os.remove(lock)
    # released stale lock -> writes proceed
    mt.insert_values([(9999, "OK", 0)], ["n_nationkey", "n_name", "n_regionkey"])
    assert mt.df().filter(F.col("n_nationkey") == 9999).count() == 1


@pytest.fixture()
def mv_setup(spark, tmp_path):
    """Tiny versioned base table + count/sum view over it."""
    from mesin_spark.dml import DdlSession
    from mesin_spark.ext.matview import create_agg_view

    sess = DdlSession(spark, base_dir=str(tmp_path))
    base = sess.create_table_as(
        "ivm_base",
        spark.createDataFrame(
            [(i, "g%d" % (i % 3), (i + 1) * 10) for i in range(30)],
            "id long, grp string, amt long",
        ),
    )
    view = create_agg_view(
        sess, "ivm_view", base,
        key_cols=["id"], group_cols=["grp"], sum_cols=["amt"],
    )
    return sess, base, view


def _full_agg(base):
    return {
        r["grp"]: (r["n"], r["s"])
        for r in base.df()
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("amt").alias("s"))
        .collect()
    }


def _view_agg(view):
    return {
        r["grp"]: (r["_rows"], r["sum_amt"]) for r in view.df().collect()
    }


def test_aggview_refresh_matches_full_reagg(spark, mv_setup):
    """Insert, delete, group-moving update — after each incremental
    refresh the view equals a from-scratch GROUP BY, and each refresh
    touches only the delta's groups."""
    sess, base, view = mv_setup
    assert _view_agg(view) == _full_agg(base)

    base.insert_values([(100, "g0", 5), (101, "g3", 7)], ["id", "grp", "amt"])
    st = view.refresh()
    assert st.applied and st.groups_touched == 2 and st.delta_rows == 2
    assert _view_agg(view) == _full_agg(base)

    base.delete(F.col("id") % 5 == 0)
    st = view.refresh()
    assert st.applied
    assert _view_agg(view) == _full_agg(base)

    # update that MOVES rows between groups: pre-image decrements g1,
    # post-image increments g_moved
    base.update({"grp": F.lit("g_moved")}, where=F.col("grp") == "g1")
    st = view.refresh()
    assert st.applied and st.groups_touched == 2
    assert _view_agg(view) == _full_agg(base)
    assert "g_moved" in _view_agg(view)


def test_aggview_refresh_is_noop_without_commits(spark, mv_setup):
    _, base, view = mv_setup
    st = view.refresh()
    assert not st.applied and st.delta_rows == 0 and st.groups_touched == 0
    assert view.synced_version() == base.current_version()


def test_aggview_drops_emptied_groups(spark, mv_setup):
    _, base, view = mv_setup
    base.delete(F.col("grp") == "g2")
    view.refresh()
    got = _view_agg(view)
    assert "g2" not in got
    assert got == _full_agg(base)


def test_aggview_reopen_and_guards(spark, mv_setup, tmp_path):
    from mesin_spark.catalog import CatalogError
    from mesin_spark.dml import DdlSession
    from mesin_spark.ext.matview import create_agg_view, open_agg_view

    sess, base, view = mv_setup
    base.insert_values([(200, "g0", 1)], ["id", "grp", "amt"])
    # a fresh handle picks up the persisted state and keeps maintaining
    reopened = open_agg_view(sess, "ivm_view", base)
    st = reopened.refresh()
    assert st.applied and st.delta_rows == 1
    assert _view_agg(reopened) == _full_agg(base)
    # wrong base is refused
    other = sess.create_table_as(
        "ivm_other", base.df().limit(1)
    )
    with pytest.raises(CatalogError, match="was built over"):
        open_agg_view(sess, "ivm_view", other)
    # an external (unversioned) base is refused at create
    ext = str(tmp_path / "ext" / "ivm_flat")
    base.df().limit(1).write.parquet(ext)
    sess.catalog.register_parquet("ivm_flat", ext)
    flat = sess.table("ivm_flat")
    with pytest.raises(CatalogError, match="versioned"):
        create_agg_view(
            sess, "ivm_v2", flat,
            key_cols=["id"], group_cols=["grp"], sum_cols=["amt"],
        )
    # alias collisions are rejected up front (a sum col named 'rows'
    # would collide with the _d_rows delta alias)
    clash = sess.create_table_as(
        "ivm_clash", base.df().selectExpr("id", "grp", "amt AS rows")
    )
    with pytest.raises(CatalogError, match="collide"):
        create_agg_view(
            sess, "ivm_v3", clash,
            key_cols=["id"], group_cols=["grp"], sum_cols=["rows"],
        )


def test_aggview_streaming_maintenance(spark, mv_setup, tmp_path):
    """foreachBatch maintenance: stream 24 new rows through the file
    source in multiple micro-batches; every batch appends to the base
    and folds into the view, which must end equal to a full re-agg."""
    from mesin_spark.ext.matview import maintain_view_stream

    _, base, view = mv_setup
    new_rows = spark.createDataFrame(
        [(1000 + i, "g%d" % (i % 4), i) for i in range(24)],
        "id long, grp string, amt long",
    )
    src = str(tmp_path / "mv_stream_src")
    new_rows.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(new_rows.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    stats = maintain_view_stream(stream, view)
    assert len(stats) >= 2  # 4 files / 2 per trigger
    assert all(s.applied for s in stats)
    assert sum(s.delta_rows for s in stats) == 24
    assert _view_agg(view) == _full_agg(base)


def test_aggview_null_group_and_null_sum_semantics(spark, tmp_path):
    """The two GROUP BY edge semantics naive signed folding gets wrong:
    (a) a NULL group key is ONE group across refreshes (null-safe merge,
    no stale/delta row split); (b) a group whose remaining values are
    all NULL reports SUM = NULL, not 0 — including after deletes remove
    the last non-null value."""
    from mesin_spark.dml import DdlSession
    from mesin_spark.ext.matview import create_agg_view

    sess = DdlSession(spark, base_dir=str(tmp_path / "nullmv"))
    base = sess.create_table_as(
        "nv_base",
        spark.createDataFrame(
            [(1, None, 10), (2, None, None), (3, "g1", 5), (4, "g2", None)],
            "id long, grp string, amt long",
        ),
    )
    view = create_agg_view(
        sess, "nv_view", base,
        key_cols=["id"], group_cols=["grp"], sum_cols=["amt"],
    )
    # (a) add more NULL-group rows: the NULL group must fold, not split
    base.insert_values([(5, None, 7)], ["id", "grp", "amt"])
    view.refresh()
    assert _view_agg(view) == _full_agg(base)
    rows = view.df().filter(F.col("grp").isNull()).collect()
    assert len(rows) == 1 and rows[0]["_rows"] == 3 and rows[0]["sum_amt"] == 17
    # (b) all-NULL-valued group sums to NULL, as SUM does
    g2 = view.df().filter(F.col("grp") == "g2").collect()[0]
    assert g2["sum_amt"] is None
    # deleting the last non-null value must flip the sum back to NULL
    base.delete(F.col("id") == 3)  # g1's only (non-null) row
    base.insert_values([(6, "g1", None)], ["id", "grp", "amt"])
    view.refresh()
    g1 = view.df().filter(F.col("grp") == "g1").collect()[0]
    assert g1["sum_amt"] is None and g1["_rows"] == 1
    assert _view_agg(view) == _full_agg(base)


def test_aggview_state_commits_atomically_with_data(spark, mv_setup):
    """The sync state rides inside the committed version dir — a stale
    (pre-crash) version carries its own state, so data and
    synced_version can never disagree."""
    import os

    _, base, view = mv_setup
    base.insert_values([(300, "g0", 2)], ["id", "grp", "amt"])
    view.refresh()
    data_dir = view.mv._data_dir()
    assert os.path.exists(os.path.join(data_dir, "_MV_STATE.json"))
    assert view.synced_version() == base.current_version()


def test_aggview_rebuild_recovers_from_vacuumed_base(spark, mv_setup):
    """Vacuuming the base past the synced version breaks the change feed
    (both endpoints gone) -> refresh raises the documented CatalogError,
    and rebuild() recovers through the same atomic commit path."""
    from mesin_spark.catalog import CatalogError

    _, base, view = mv_setup
    base.insert_values([(400, "g0", 3)], ["id", "grp", "amt"])
    base.insert_values([(401, "g1", 4)], ["id", "grp", "amt"])
    base.vacuum(keep_last=1)  # drops the synced version dir
    with pytest.raises(CatalogError, match="vacuumed"):
        view.refresh()
    st = view.rebuild()
    assert st.applied
    assert _view_agg(view) == _full_agg(base)
    # and incremental refresh works again from the rebuilt sync point
    base.insert_values([(402, "g2", 5)], ["id", "grp", "amt"])
    st2 = view.refresh()
    assert st2.applied and st2.delta_rows == 1
    assert _view_agg(view) == _full_agg(base)


def test_optimize_and_restore_preserve_matview_state(spark, mv_setup):
    """OPTIMIZE rewrites the version dir from a Spark write and RESTORE
    hard-links data files — both must carry the _MV_STATE.json sidecar
    into the new version dir, or the table silently stops being a
    materialized view and every later refresh raises."""
    _, base, view = mv_setup
    before = _view_agg(view)

    # OPTIMIZE (compact) the view's own table
    view.mv.compact(target_file_mb=64)
    assert view.synced_version() >= 1  # state still readable
    assert _view_agg(view) == before

    # RESTORE the view's table to its current version (a no-op rollback
    # that still goes through the hard-link re-commit path)
    cur = view.mv.current_version()
    view.mv.restore(cur)
    assert view.synced_version() >= 1

    # and an incremental refresh still works end-to-end
    base.insert_values([(500, "g0", 7)], ["id", "grp", "amt"])
    st = view.refresh()
    assert st.applied
    assert _view_agg(view) == _full_agg(base)

    # direct DML on the view's own table (INSERT via _append,
    # UPDATE via _swap_in) also rewrites the version dir — the state
    # sidecar must survive those too, not just OPTIMIZE/RESTORE
    view.mv.insert_values(
        [("gX", 1, 1)], ["grp", "_rows", "sum_amt"]
    )
    assert view.synced_version() >= 1
    view.mv.update(assignments={"_rows": "2"}, where="grp = 'gX'")
    assert view.synced_version() >= 1


def test_describe_history_tolerates_torn_final_line(spark, scratch_nation):
    """A crash mid-append can leave a torn (unparsable) final line in
    _commits.jsonl; history() must skip it, not raise forever."""
    import os

    mt = scratch_nation
    mt.insert_values([(9001, "A", 0)], ["n_nationkey", "n_name", "n_regionkey"])
    with open(os.path.join(mt.path, mt._COMMITS_FILE), "a") as f:
        f.write('{"version": 3, "op": "WRI')  # torn: no newline, no close
    ops = [r["op"] for r in mt.history().collect()]
    assert "INSERT" in ops  # intact records survive
    assert all(op != "WRI" for op in ops)


def test_concurrent_enforced_inserts_cannot_both_commit_dup_key(spark, tmp_path_factory):
    """TOCTOU regression for constraint enforcement: validation runs
    INSIDE the writer-locked critical section, so when N threads race to
    insert the SAME primary key, exactly one commit wins and every other
    writer gets ConstraintViolation — never a duplicate-key table."""
    import threading

    from mesin_spark.dml import ColumnDefinition, ConstraintViolation, DdlSession

    sess = DdlSession(spark, base_dir=str(tmp_path_factory.mktemp("enforce_race")))
    mt = sess.create_table(
        "race", [ColumnDefinition("id", "BIGINT", primary_key=True)]
    )
    mt.set_constraint_enforcement(True)
    n_threads = 4
    outcomes: list[str] = []
    lock = threading.Lock()

    def writer(tid: int):
        try:
            mt.insert_values([(42,)], ["id"])
            with lock:
                outcomes.append("committed")
        except ConstraintViolation:
            with lock:
                outcomes.append("rejected")
        except BaseException as e:  # noqa: BLE001
            with lock:
                outcomes.append(f"error:{e}")

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(outcomes) == ["committed"] + ["rejected"] * (n_threads - 1), outcomes
    assert mt.df().filter("id = 42").count() == 1
