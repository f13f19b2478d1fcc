"""Incrementally-maintained aggregate views (IVM) over versioned
ManagedTables — refresh from the CDC change feed, never a base rescan.

The maintained view class is the classically self-maintainable one:

    SELECT g1..gk, count(*) AS _rows, sum(c) AS sum_c ... GROUP BY g1..gk

Counts and sums are distributive: any insert/delete/update delta folds
into the stored state with signed addition (update = delete-pre +
insert-post, so a row that MOVES groups decrements its old group and
increments its new one). min/max are deliberately not offered — they are
not self-maintainable under deletes (a deleted minimum forces a rescan
of its group), which is exactly the line the IVM literature draws.

Exactness contract: after any refresh the view equals a from-scratch
GROUP BY over the final base state, including the edge semantics that
naive signed folding gets wrong —

- NULL group keys: the merge joins on eqNullSafe, so the NULL group is
  ONE group (as GROUP BY treats it), not a never-matching key that
  splits into stale + delta rows;
- NULL-only sums: each sum column carries a non-null-count companion
  (``_nn_<c>``); a group whose remaining values are all NULL reports
  sum NULL (as SUM does), not a fabricated 0 — including the case where
  deletes remove the last non-null value.

Refresh cost is O(|delta| + |view|): the change feed between the synced
and current base versions (ManagedTable.changes — one key-shuffle over
the two snapshots, hard-linked versions so unchanged files are shared)
is aggregated to per-group deltas and full-outer-merged into the stored
view. The base table's SIZE never enters the cost — at 100 TB with a
million-row daily delta and a thousand-group view, refresh touches
megabytes. Groups whose count reaches zero drop out, matching GROUP BY
over the final state exactly.

Crash atomicity: the view table is itself VERSIONED, and the sync state
(``_MV_STATE.json``, underscore-prefixed so parquet readers skip it)
is written INTO the new version directory before the pointer commit —
view data and synced_version activate in the same atomic pointer swap,
so a crash mid-refresh can never double-apply a delta on the next run.

Float caveat (same one the daily-rollup query hit): incremental merge
adds partial sums in a different order than a full re-aggregation, so
float sum columns can drift in the last ulp. Callers who need
bit-stable equality with a full re-agg should sum exact-integer
(micro-unit) columns — the registry query does.

No analog in the reference (no versioning, no views: src/planner/
mod.rs:21-38 plans only basic CRUD); this extends its CRUD tier the
same way the CDC feed does.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mesin_spark.ext.ckpt import ckpt

from mesin_spark.dml import CatalogError, DdlSession, ManagedTable

_STATE_FILE = "_MV_STATE.json"


def _write_state(version_dir: str, state: dict) -> None:
    path = os.path.join(version_dir, _STATE_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, path)


def _load_state(mv: ManagedTable) -> dict:
    # inside the CURRENT version dir: activated by the same pointer
    # commit as the view data (crash atomicity), travels with
    # time_travel/vacuum like any other version content
    try:
        with open(os.path.join(mv._data_dir(), _STATE_FILE)) as f:
            return json.load(f)
    except (FileNotFoundError, NotADirectoryError):
        raise CatalogError(
            f"table {mv.name!r} is not a materialized view "
            "(no _MV_STATE found)"
        ) from None


@dataclass
class RefreshStats:
    """What a refresh did — the audit record a pipeline logs."""

    from_version: int
    to_version: int
    delta_rows: int
    groups_touched: int

    @property
    def applied(self) -> bool:
        return self.to_version > self.from_version


class AggView:
    """Handle to a materialized aggregate view created by
    ``create_agg_view``; reopenable via ``open_agg_view``."""

    def __init__(
        self,
        base: ManagedTable,
        mv: ManagedTable,
        key_cols: list[str],
        group_cols: list[str],
        sum_cols: list[str],
    ):
        self.base = base
        self.mv = mv
        self.key_cols = key_cols
        self.group_cols = group_cols
        self.sum_cols = sum_cols

    def df(self) -> DataFrame:
        return self.mv.df()

    def synced_version(self) -> int:
        return int(_load_state(self.mv)["synced_version"])

    def _state_dict(self, synced: int) -> dict:
        return {
            "synced_version": synced,
            "key_cols": self.key_cols,
            "group_cols": self.group_cols,
            "sum_cols": self.sum_cols,
            "base_path": self.base.path,
            "base_name": self.base.name,
        }

    def _commit_view(self, new_mv: DataFrame, synced: int) -> None:
        """One atomic commit point for view data AND sync state: both
        land in the next version dir before the pointer swap."""

        def fill(d: str) -> None:
            new_mv.write.mode("overwrite").parquet(d)
            _write_state(d, self._state_dict(synced))

        with self.mv._writer_lock():
            self.mv._commit_version("REFRESH_MV", fill)

    def refresh(self) -> RefreshStats:
        """Fold base-table changes since the last sync into the view.

        One change-feed join + one small-group aggregate + one
        full-outer merge against the stored view — no base rescan. The
        merge keys null-safely on the group columns (the NULL group is
        one group, as in GROUP BY); untouched groups pass through with
        null deltas. A no-op when the base hasn't advanced."""
        cur = self.base._owned_version()
        synced = self.synced_version()
        if cur <= synced:
            return RefreshStats(synced, synced, 0, 0)
        delta = self.base.changes(synced, cur, key_cols=self.key_cols)
        sign = F.when(
            F.col("change_type").isin("insert", "update_post"), F.lit(1)
        ).otherwise(F.lit(-1))
        dagg = (
            delta.withColumn("_sg", sign)
            .groupBy(*self.group_cols)
            .agg(
                F.sum("_sg").alias("_d_rows"),
                F.count(F.lit(1)).alias("_d_events"),
                *[
                    F.sum(F.col("_sg") * F.col(c)).alias(f"_d_{c}")
                    for c in self.sum_cols
                ],
                *[
                    F.sum(
                        F.when(F.col(c).isNotNull(), F.col("_sg")).otherwise(0)
                    ).alias(f"_dnn_{c}")
                    for c in self.sum_cols
                ],
            )
        )
        # the delta aggregate is view-sized or smaller; materialize it
        # once for the stats AND the merge (changes() joins two snapshot
        # reads — recomputing it inside the merge would double that work)
        dagg = dagg.transform(ckpt, eager=True)
        touched = dagg.count()
        delta_rows = (
            dagg.agg(F.sum("_d_events").alias("n")).collect()[0]["n"] or 0
        )
        m = self.mv.df().alias("m")
        d = dagg.alias("d")
        # eqNullSafe keys: GROUP BY's NULL group must merge as ONE group
        cond = reduce(
            lambda a, b: a & b,
            [
                F.col(f"m.{c}").eqNullSafe(F.col(f"d.{c}"))
                for c in self.group_cols
            ],
        )
        merged = m.join(d, cond, "full_outer")
        groups = [
            F.when(F.col("m._rows").isNotNull(), F.col(f"m.{c}"))
            .otherwise(F.col(f"d.{c}"))
            .alias(c)
            for c in self.group_cols
        ]
        new_rows = F.coalesce(F.col("m._rows"), F.lit(0)) + F.coalesce(
            F.col("d._d_rows"), F.lit(0)
        )
        sums = []
        for c in self.sum_cols:
            nn = F.coalesce(F.col(f"m._nn_{c}"), F.lit(0)) + F.coalesce(
                F.col(f"d._dnn_{c}"), F.lit(0)
            )
            acc = F.coalesce(F.col(f"m.sum_{c}"), F.lit(0)) + F.coalesce(
                F.col(f"d._d_{c}"), F.lit(0)
            )
            # SUM over zero non-null inputs is NULL, not 0 — preserved
            # even when deletes remove the last non-null value
            sums.append(F.when(nn == 0, F.lit(None)).otherwise(acc).alias(f"sum_{c}"))
            sums.append(nn.alias(f"_nn_{c}"))
        new_mv = merged.select(
            *groups, new_rows.alias("_rows"), *sums
        ).filter(F.col("_rows") > 0)
        self._commit_view(new_mv, cur)
        return RefreshStats(synced, cur, int(delta_rows), int(touched))


    def rebuild(self) -> RefreshStats:
        """Full recompute, committed through the same atomic path — the
        recovery when the base was vacuumed past the synced version (the
        change feed needs both endpoints; retention lapsed, as with a
        Delta CDF gap). refresh() raises CatalogError in that case and
        this is the documented answer; it is the ONE operation whose
        cost scales with the base."""
        cur = self.base._owned_version()
        synced = self.synced_version()
        agg = self.base.df().groupBy(*self.group_cols).agg(
            F.count(F.lit(1)).alias("_rows"),
            *[
                col
                for c in self.sum_cols
                for col in (
                    F.sum(c).alias(f"sum_{c}"),
                    F.count(F.col(c)).alias(f"_nn_{c}"),
                )
            ],
        )
        self._commit_view(agg, cur)
        n = self.mv.df().count()
        return RefreshStats(synced, cur, -1, int(n))


def maintain_view_stream(
    stream_df: DataFrame,
    view: AggView,
    shuffle_partitions: int = 8,
) -> list[RefreshStats]:
    """Streaming materialized-view maintenance: foreachBatch appends each
    micro-batch to the view's BASE table (one commit per batch — the
    hard-linked versioned append) and immediately folds that commit into
    the view. The view is fresh within one trigger of the data and each
    fold costs O(|batch| + |view|) — the streaming shape of the same IVM
    contract, sibling of streaming.run_upsert_to_table and
    sketches.maintain_kmv_stream. Returns the per-batch refresh stats.

    Replayed/duplicate micro-batches are NOT deduplicated here (append
    is not idempotent); an exactly-once deployment keys the base on an
    event id and routes through the upsert sink instead."""
    from mesin_spark.ext.streaming import drive_stream

    cols = view.base.df().columns
    stats: list[RefreshStats] = []

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        view.base._append(batch_df.select(*cols))
        stats.append(view.refresh())

    drive_stream(
        stream_df,
        lambda w: w.outputMode("append").foreachBatch(apply_batch),
        shuffle_partitions=shuffle_partitions,
        checkpoint_prefix="mesin_mv_ckpt_",
    )
    return stats


def create_agg_view(
    sess: DdlSession,
    name: str,
    base: ManagedTable,
    key_cols: list[str],
    group_cols: list[str],
    sum_cols: list[str],
) -> AggView:
    """Materialize ``SELECT group_cols, count(*) AS _rows,
    sum(c) AS sum_c... FROM base GROUP BY group_cols`` as a VERSIONED
    managed table (each sum column also materializes its ``_nn_<c>``
    non-null count — the companion that keeps NULL-sum semantics exact
    under deletes) and record the base version it reflects inside the
    committed version. The refresh contract is defined in terms of the
    base's commit history, so an external base is refused."""
    cur = base._owned_version()
    bad = [c for c in sum_cols if c in group_cols]
    if bad:
        raise CatalogError(f"sum_cols overlap group_cols: {bad}")
    # the view adds _rows / sum_<c> / _nn_<c> columns, and refresh adds
    # _d_rows / _d_events / _d_<c> / _dnn_<c> deltas — reject specs whose
    # columns would collide with those aliases instead of silently
    # producing ambiguous frames
    reserved = {"_rows", "rows", "events", "_sg"}
    for c in sum_cols:
        reserved |= {f"sum_{c}", f"_nn_{c}", f"_d_{c}", f"_dnn_{c}"}
    clash = [c for c in (*group_cols, *sum_cols) if c in reserved]
    if clash:
        raise CatalogError(
            f"column names collide with view-internal aliases: {clash}"
        )
    agg = base.df().groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_rows"),
        *[
            col
            for c in sum_cols
            for col in (
                F.sum(c).alias(f"sum_{c}"),
                F.count(F.col(c)).alias(f"_nn_{c}"),
            )
        ],
    )
    mv = sess.create_table_as(name, agg)
    view = AggView(base, mv, key_cols, group_cols, sum_cols)
    _write_state(mv._data_dir(), view._state_dict(cur))
    return view


def open_agg_view_by_name(sess: DdlSession, name: str) -> AggView:
    """Reopen a view from its persisted state alone — the base table is
    reconstructed from the recorded path (the resolution rule behind
    ``REFRESH MATERIALIZED VIEW <name>``, which names no base)."""
    mv = sess.table(name)
    st = _load_state(mv)
    base = ManagedTable(sess.spark, st.get("base_name", "base"), st["base_path"])
    return AggView(base, mv, st["key_cols"], st["group_cols"], st["sum_cols"])


def open_agg_view(sess: DdlSession, name: str, base: ManagedTable) -> AggView:
    """Reopen a persisted view (a new session can keep maintaining a
    view it didn't create), checking it was built over ``base``."""
    mv = sess.table(name)
    st = _load_state(mv)
    if os.path.realpath(st["base_path"]) != os.path.realpath(base.path):
        raise CatalogError(
            f"view {name!r} was built over {st['base_path']!r}, not "
            f"{base.path!r}"
        )
    return AggView(
        base, mv, st["key_cols"], st["group_cols"], st["sum_cols"]
    )
