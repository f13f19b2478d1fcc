"""DML / DDL — INSERT, UPDATE, DELETE, CREATE/DROP TABLE, CREATE/DROP INDEX.

Reference parity: SURVEY.md §2.12 — statement dispatcher
(src/planner/mod.rs:21-38), INSERT (tmp/crud.txt:178-221), UPDATE
(:223-279), DELETE (:480-504), CREATE TABLE (:281-310), CREATE INDEX
(:312-347), DROP TABLE (:349-371), DROP INDEX (:372-383).

Spark has no in-place mutation for plain Parquet, so UPDATE/DELETE are
read → transform → atomic-swap overwrite (write to a sibling temp dir,
rename into place). That is exactly the copy-on-write strategy Delta Lake /
Iceberg use per-file; at 100 TB you'd adopt one of them for transactional
metadata, but the operator shape (rewrite only what changed, swap atomically)
is the same. Predicate/assignment expressions are parsed by Spark's own
expression parser via ``F.expr`` — no hand-rolled SQL expression grammar.

CREATE INDEX is metadata-only in the reference (never executed); here it is
metadata plus optional *layout advice*: ``apply_layout`` sorts the table
file by the indexed columns (``sortWithinPartitions`` after a repartition on
the leading column), which is what makes min/max parquet row-group pruning
effective at scale — the honest Spark analog of a secondary index.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import re
import shutil
import tempfile
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as Ty

from mesin_spark.ext.ckpt import ckpt

from mesin_spark.catalog import Catalog, CatalogError, IndexMeta, TableMeta, local_frame


class ConstraintViolation(CatalogError):
    """An enforced table constraint rejected a write (opt-in via the
    ``enforce_constraints`` table property — see
    ManagedTable.validate_constraints)."""


def _balanced_paren_body(text: str, start: int) -> str:
    """Contents of the paren group opening at ``start`` (nesting-aware)."""
    depth = 0
    for i in range(start, len(text)):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                return text[start + 1 : i]
    raise ValueError(f"unbalanced parens in constraint text: {text[:60]!r}")

# DataTypeEnum (reference common.rs:69-80) → Spark types; sqlparser mapping
# at tmp/crud.txt:423-437. Unsupported there (decimal/interval/arrays/...)
# is supported here for free — noted divergence (SURVEY.md §1.2).
_DDL_TYPES = {
    "VARCHAR": Ty.StringType(),
    "CHAR": Ty.StringType(),
    "TEXT": Ty.StringType(),
    "STRING": Ty.StringType(),
    "INT": Ty.IntegerType(),
    "INTEGER": Ty.IntegerType(),
    "BIGINT": Ty.LongType(),
    "FLOAT": Ty.FloatType(),
    "REAL": Ty.FloatType(),
    "DOUBLE": Ty.DoubleType(),
    "BOOLEAN": Ty.BooleanType(),
    "DATE": Ty.DateType(),
    "TIMESTAMP": Ty.TimestampType(),
}


def ddl_type(name: str) -> Ty.DataType:
    base = re.sub(r"\(.*\)", "", name).strip().upper()
    base = {"DOUBLE PRECISION": "DOUBLE"}.get(base, base)
    if base in ("DECIMAL", "NUMERIC"):
        m = re.search(r"\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)", name)
        if m:
            # SQL standard: DECIMAL(p) means scale 0 at precision p
            return Ty.DecimalType(int(m.group(1)), int(m.group(2) or 0))
        return Ty.DecimalType(10, 0)
    if base not in _DDL_TYPES:
        # mirrors the reference's bail on unsupported types (tmp/crud.txt:435)
        raise ValueError(f"Unsupported data type: {name}")
    return _DDL_TYPES[base]


class ColumnDefinition:
    """ColumnDefinition {name, data_type, nullable, default, primary_key}
    (reference common.rs:91-98; option parsing tmp/crud.txt:397-412)."""

    def __init__(self, name, data_type, nullable=True, default=None, primary_key=False):
        self.name = name
        self.data_type = data_type  # DDL type string, e.g. "VARCHAR(100)"
        self.nullable = nullable and not primary_key
        self.default = default
        self.primary_key = primary_key

    def to_field(self) -> Ty.StructField:
        return Ty.StructField(self.name, ddl_type(self.data_type), self.nullable)


def _listing(data_dir: str) -> tuple:
    """Sorted (file, size, mtime_ns) of every file under ``data_dir`` (or
    of the file itself): a stat walk, no footer opened."""
    if os.path.isfile(data_dir):
        st = os.stat(data_dir)
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for root, _dirs, files in os.walk(data_dir):
        for fname in files:
            p = os.path.join(root, fname)
            with contextlib.suppress(FileNotFoundError):
                st = os.stat(p)
                out.append((os.path.relpath(p, data_dir), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


class ManagedTable:
    """A parquet-directory-backed mutable table."""

    def __init__(self, spark: SparkSession, name: str, path: str, catalog: Catalog | None = None):
        self.spark = spark
        self.name = name
        self.path = path
        self.catalog = catalog

    # -- versioned layout --------------------------------------------------
    # Optional Delta/Iceberg-style commit protocol: the table directory
    # holds immutable version dirs (v00001, v00002, ...) plus a _VERSION
    # pointer file naming the current one. A commit writes the new version
    # dir COMPLETELY, then swaps the pointer with os.replace — a genuinely
    # atomic single commit point on POSIX, so a concurrent reader always
    # resolves either the old or the new version, never a half state (this
    # replaces the rename-pair swap whose gap a reader could observe).
    # Old versions stay readable (time travel) until vacuum().
    _VERSION_FILE = "_VERSION"

    def _version_path(self) -> str:
        return os.path.join(self.path, self._VERSION_FILE)

    def current_version(self) -> int | None:
        """Current committed version, or None for the legacy flat layout."""
        try:
            with open(self._version_path()) as f:
                return int(f.read().strip())
        except (FileNotFoundError, NotADirectoryError):
            # NotADirectoryError: the table path is a single parquet FILE
            # (register_parquet of testdata) — open('<file>/_VERSION')
            # raises errno 20, not 2; both mean "flat, unversioned"
            return None

    def _data_dir(self, version: int | None = None) -> str:
        v = self.current_version() if version is None else version
        return self.path if v is None else os.path.join(self.path, f"v{v:05d}")

    _COMMITS_FILE = "_commits.jsonl"

    def _commit(
        self, version: int, op: str = "WRITE", extra: dict | None = None
    ) -> None:
        """Atomically advance the pointer to ``version`` (write-temp +
        os.replace — one atomic commit point), then append the audit
        record. The log line lands AFTER the pointer swap: a crash
        between the two loses only the audit line, never a committed
        version (the log is DESCRIBE HISTORY metadata, not the commit
        protocol — the pointer file alone decides visibility)."""
        tmp = self._version_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._version_path())
        self._log_commit(version, op, extra)
        self._refresh_view()

    def _log_commit(self, version: int, op: str, extra: dict | None = None) -> None:
        """One JSONL audit line per commit (versioned layout only — the
        flat layout's whole-dir swap has no stable root to keep a log
        in, and no version identity to describe). Appends run inside
        the writer lock like every commit, so lines never interleave.

        Best-effort: the pointer swap has already decided visibility, so
        a failed audit append must not surface a successfully-committed
        write as a failure (which would also skip _refresh_view and
        invite a duplicate retry of a write that landed)."""
        rec = {"version": version, "op": op, "ts": time.time()}
        if extra:
            rec.update(extra)
        try:
            with open(os.path.join(self.path, self._COMMITS_FILE), "a") as f:
                f.write(json.dumps(rec) + "\n")
        except OSError as e:
            # still best-effort, but LOUD: a silently-lost audit line makes
            # DESCRIBE HISTORY permanently understate committed versions
            # (e.g. after disk-full) with no signal anywhere
            import warnings

            warnings.warn(
                f"audit append failed for {self.name!r} v{version} ({e}); "
                "commit is durable but DESCRIBE HISTORY will omit this entry",
                RuntimeWarning,
                stacklevel=2,
            )

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY (Delta analog): the commit audit log as a
        DataFrame — (version, op, ts, details) per commit, plus VACUUM
        records. Driver-side file read, bounded by commit count (commit
        logs are metadata-scale by construction; a 100 TB table has
        thousands of commits, not billions)."""
        if self.current_version() is None:
            raise CatalogError(
                f"table {self.name!r} is not versioned — no commit history"
            )
        p = os.path.join(self.path, self._COMMITS_FILE)
        recs = []
        if os.path.exists(p):
            with open(p) as f:
                for line in f:
                    if not line.strip():
                        continue
                    try:
                        recs.append(json.loads(line))
                    except ValueError:
                        # torn final line from a crash mid-append — the
                        # commit itself is decided by the pointer file;
                        # a damaged audit line must not make DESCRIBE
                        # HISTORY raise permanently
                        continue
        rows = [
            (
                int(r["version"]),
                str(r["op"]),
                float(r["ts"]),
                json.dumps(
                    {k: v for k, v in r.items() if k not in ("version", "op", "ts")},
                    sort_keys=True,
                )
                if len(r) > 3
                else None,
            )
            for r in recs
        ]
        return local_frame(
            self.spark, rows, "version BIGINT, op STRING, ts DOUBLE, details STRING"
        )

    def enable_versioning(self) -> int:
        """Convert a flat table directory to the versioned layout (the
        current contents become v00001). Idempotent; takes the writer
        lock (the conversion races appends like any other rewrite)."""
        with self._writer_lock():
            cur = self.current_version()
            if cur is not None:
                return cur
            v1 = os.path.join(self.path, "v00001")
            os.makedirs(v1)
            for entry in os.listdir(self.path):
                if entry != "v00001":
                    os.rename(
                        os.path.join(self.path, entry), os.path.join(v1, entry)
                    )
            self._commit(1, op="CONVERT")
            return 1

    def time_travel(self, version: int) -> DataFrame:
        """Read a past committed version (versioned tables only)."""
        if self.current_version() is None:
            raise CatalogError(f"table {self.name!r} is not versioned")
        d = self._data_dir(version)
        if not os.path.isdir(d):
            raise CatalogError(f"version {version} of {self.name!r} does not exist (vacuumed?)")
        return self.spark.read.parquet(d)

    def changes(self, v_from: int, v_to: int, key_cols: list[str]) -> DataFrame:
        """CDC change feed between two committed versions — the
        `table_changes` / readChangeFeed primitive (Delta CDF analog; the
        reference has no versioning at all). Returns the row images with a
        ``change_type`` column: 'insert', 'delete', 'update_pre',
        'update_post' (pre AND post images for updates, like Delta CDF).

        ONE full-outer join on the key columns classifies every row; the
        four change kinds are emitted by a single array-build + explode
        projection over the join output — the join is computed once, not
        four times. At scale this is one key shuffle over the two
        snapshots; AQE broadcasts whichever side is small."""
        if v_from >= v_to:
            raise CatalogError(f"changes requires v_from < v_to, got {v_from} >= {v_to}")
        old = self.time_travel(v_from)
        new = self.time_travel(v_to)
        if set(old.columns) != set(new.columns):
            raise CatalogError(
                f"schema changed between v{v_from} and v{v_to}: "
                f"{sorted(old.columns)} vs {sorted(new.columns)} — "
                "run changes per schema epoch"
            )
        cols = new.columns
        missing = set(key_cols) - set(cols)
        if missing:
            raise CatalogError(f"change-feed keys not in table: {sorted(missing)}")
        non_key = [c for c in cols if c not in key_cols]
        o = old.withColumn("_o", F.lit(1)).alias("o")
        n = new.withColumn("_n", F.lit(1)).alias("n")
        j = o.join(n, on=key_cols, how="full_outer")
        in_old = F.col("o._o").isNotNull()
        in_new = F.col("n._n").isNotNull()
        differs = F.lit(False)
        for c in non_key:
            differs = differs | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))

        def image(label: str, side: str):
            fields = [F.lit(label).alias("change_type")]
            fields += [F.col(c).alias(c) for c in key_cols]  # coalesced keys
            fields += [F.col(f"{side}.{c}").alias(c) for c in non_key]
            return F.struct(*fields)

        # each change kind is a 0/1-element array (typed empty via a
        # zero-length slice of a prototype), concatenated then exploded —
        # one projection over the single join
        empty_arr = F.slice(F.array(image("proto", "n")), 1, 0)
        upd = in_old & in_new & differs
        all_entries = F.concat(
            F.when(in_new & ~in_old, F.array(image("insert", "n"))).otherwise(empty_arr),
            F.when(in_old & ~in_new, F.array(image("delete", "o"))).otherwise(empty_arr),
            F.when(upd, F.array(image("update_pre", "o"))).otherwise(empty_arr),
            F.when(upd, F.array(image("update_post", "n"))).otherwise(empty_arr),
        )
        return (
            j.select(F.explode(all_entries).alias("c"))
            .select("c.*")
            .select("change_type", *cols)
        )

    def vacuum(self, keep_last: int = 1) -> list[int]:
        """Drop all but the last ``keep_last`` versions; returns removed
        version numbers. Never touches the current version. Takes the
        writer lock: an unserialized vacuum could read a stale current
        version and delete the dir a mid-commit appender is hard-linking
        its base files from."""
        with self._writer_lock():
            cur = self.current_version()
            if cur is None:
                return []
            removed = []
            for entry in sorted(os.listdir(self.path)):
                if entry.startswith("v") and entry[1:].isdigit():
                    v = int(entry[1:])
                    if v <= cur - keep_last and v != cur:
                        shutil.rmtree(
                            os.path.join(self.path, entry), ignore_errors=True
                        )
                        removed.append(v)
            if removed:
                self._log_commit(cur, "VACUUM", {"removed": removed})
            return removed

    def restore(self, version: int) -> int:
        """RESTORE ... TO VERSION n (Delta analog): re-commit a past
        version's contents as a NEW version — rollback that PRESERVES
        history (the bad versions stay time-travelable until vacuum, and
        the restore is itself an audited commit carrying
        ``restored_from``). Metadata-only: the old version's data files
        hard-link into the new version dir, no data copy, no Spark job.
        Returns the new version number."""
        with self._writer_lock():
            cur = self.current_version()
            if cur is None:
                raise CatalogError(
                    f"table {self.name!r} is not versioned — nothing to restore"
                )
            src = self._data_dir(version)
            if not os.path.isdir(src):
                raise CatalogError(
                    f"version {version} of {self.name!r} does not exist (vacuumed?)"
                )
            nxt = cur + 1
            nxt_dir = os.path.join(self.path, f"v{nxt:05d}")
            if os.path.isdir(nxt_dir):
                shutil.rmtree(nxt_dir)  # crashed-writer orphan (see _append_locked)
            os.makedirs(nxt_dir)
            for root, _dirs, files in os.walk(src):
                rel = os.path.relpath(root, src)
                for fname in files:
                    # data files PLUS underscore-metadata sidecars
                    # (_MV_STATE.json rides the version dir — dropping it
                    # would break every subsequent matview refresh)
                    if (
                        fname.endswith(".parquet")
                        or fname.startswith("part-")
                        or (fname.startswith("_") and not fname.startswith("._"))
                    ):
                        dst_dir = (
                            nxt_dir if rel == "." else os.path.join(nxt_dir, rel)
                        )
                        os.makedirs(dst_dir, exist_ok=True)
                        os.link(
                            os.path.join(root, fname), os.path.join(dst_dir, fname)
                        )
            self._commit(nxt, op="RESTORE", extra={"restored_from": version})
            return nxt

    def _carry_metadata(self, src: str, dst: str) -> None:
        """Copy top-level underscore-metadata sidecars (e.g.
        ``_MV_STATE.json``) from the source data dir into a rewritten one.
        OPTIMIZE rewrites the version dir from a Spark write, which only
        emits data files + _SUCCESS — without this, compacting a
        materialized-view table silently drops its refresh state and
        every later refresh fails. Commit-protocol files are excluded
        (they live at the table root, never inside a version dir, but
        the flat layout shares the root so filter defensively)."""
        skip = {self._VERSION_FILE, self._COMMITS_FILE, "_SUCCESS"}
        try:
            entries = os.listdir(src)
        except OSError:
            return
        for fname in entries:
            if (
                not fname.startswith("_")
                or fname in skip
                or fname.startswith("._")
            ):
                continue
            s = os.path.join(src, fname)
            d = os.path.join(dst, fname)
            if os.path.isfile(s) and not os.path.exists(d):
                shutil.copy2(s, d)

    def compact(
        self, target_file_mb: int = 256, sort_by: list[str] | None = None
    ) -> int:
        """OPTIMIZE: rewrite the current contents into ~target-sized files
        (the small-file compaction every long-running ingest needs —
        thousands of KB files destroy scan scheduling and footer-read
        time at scale). Contents are bit-identical; only the physical
        layout changes. Returns the new data-file count.

        Layout strategy (all decisions from driver-side metadata — the
        data path is one distributed read + one write):

        - target file count = ceil(current_bytes / target_file_mb),
          from a directory walk (no Spark job).
        - ``sort_by``: ``repartitionByRange`` on the sort keys + sort
          within partitions — files end up with NON-overlapping key
          ranges, so zone maps / min-max footer stats prune scans
          (the Delta ``OPTIMIZE ZORDER`` analog for one key prefix).
        - hive-partitioned layout: rows are hash-repartitioned on the
          partition columns so each partition value lands in exactly one
          task → one output file per partition directory (the common
          compaction target; a single >>target partition would need a
          salt, which is the caller's re-partitioning decision).
        - otherwise: plain ``repartition(n)`` — a round-robin shuffle,
          keeping the parquet scan fully parallel (``coalesce(n)`` would
          avoid the shuffle but collapse read parallelism to n tasks,
          the wrong trade when n is small — compaction IS the read).

        Versioned layout: the rewrite lands as a NEW version dir + atomic
        pointer commit — time travel to pre-compaction versions keeps
        working until vacuum(). Flat layout: sibling temp dir + rename
        pair (same copy-on-write discipline as _swap_in). Serialized
        against other writers via the writer lock."""
        from mesin_spark.sources import read_parquet

        if target_file_mb <= 0:
            raise ValueError(f"compact: target_file_mb must be positive, got {target_file_mb}")
        with self._writer_lock():
            cur = self.current_version()
            src = self._data_dir(cur)
            total = 0
            for root, _dirs, files in os.walk(src):
                for fname in files:
                    if fname.endswith(".parquet") or fname.startswith("part-"):
                        total += os.path.getsize(os.path.join(root, fname))
            n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
            pcols = self._partition_cols(src)
            df = read_parquet(self.spark, src)
            if pcols:
                # partition dirs stay the compaction unit: one task (and
                # so one file) per partition value; SORT BY then orders
                # rows WITHIN each partition file (zone-map clustering
                # inside the dir). Range-partitioning on the sort key
                # instead would spread every partition value over many
                # tasks and the partitionBy writer would re-fragment.
                df = df.repartition(*pcols)
                if sort_by:
                    # lead with the partition columns: the partitionBy
                    # writer requires rows ordered by them and would
                    # otherwise re-sort, destroying the sort_by order
                    df = df.sortWithinPartitions(*pcols, *sort_by)
            elif sort_by:
                df = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(
                    *sort_by
                )
            else:
                df = df.repartition(n_files)
            writer = df.write.mode("overwrite")
            if pcols:
                writer = writer.partitionBy(*pcols)
            if cur is not None:
                nxt = os.path.join(self.path, f"v{cur + 1:05d}")
                writer.parquet(nxt)
                self._carry_metadata(src, nxt)
                self._commit(cur + 1, op="OPTIMIZE")
                out_dir = nxt
            else:
                tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
                writer.parquet(tmp)
                self._carry_metadata(src, tmp)
                old = f"{self.path}.old-{uuid.uuid4().hex[:8]}"
                os.rename(self.path, old)
                os.rename(tmp, self.path)
                shutil.rmtree(old, ignore_errors=True)
                self._refresh_view()
                out_dir = self.path
            return sum(
                1
                for root, _dirs, files in os.walk(out_dir)
                for fname in files
                if fname.endswith(".parquet")
            )

    # -- read --------------------------------------------------------------
    def df(self) -> DataFrame:
        """The current version as a frame. The robust reader, not bare
        spark.read.parquet: an imported table with ns-timestamp or NTZ
        columns must read identically to how register_parquet exposed
        it. A read is not cheap: every footer is opened, and
        spark.read.parquet runs a schema-inference job per call (0.10-0.12
        s each on a 4-core host at sf0.01). So with a catalog, the frame
        is kept in ``Catalog.frames`` and handed back while the data dir
        and its files (name, size, mtime) are unchanged; a commit, a
        write from another session or an out-of-band file changes that
        key and the next call reads again."""
        from mesin_spark.sources import read_parquet

        data_dir = self._data_dir()
        if self.catalog is None:
            return read_parquet(self.spark, data_dir)
        key = (data_dir, _listing(data_dir))
        hit = self.catalog.frames.get(self.path)
        if hit is not None and hit[0] == key:
            return hit[1]
        df = read_parquet(self.spark, data_dir)
        self.catalog.frames[self.path] = (key, df)
        return df

    def _refresh_view(self) -> None:
        df = self.df()
        df.createOrReplaceTempView(self.name)
        if self.catalog is not None:
            # mutate the existing TableMeta (don't replace it): constraints
            # and properties['columns'] recorded by CREATE TABLE must survive
            # INSERT/UPDATE/DELETE
            meta = self.catalog.tables.get(self.name)
            if meta is None:
                self.catalog.tables[self.name] = TableMeta(name=self.name, path=self.path)
            else:
                meta.path = self.path

    # -- write plumbing ----------------------------------------------------
    _LOCK_SUFFIX = "._LOCK"

    @contextlib.contextmanager
    def _writer_lock(self, timeout: float = 60.0):
        """Mutual exclusion between WRITERS (appends, rewrites, vacuum,
        versioning conversion): an O_CREAT|O_EXCL lock file BESIDE the
        table directory (``<path>._LOCK``), the portable local-fs
        primitive. Without it two writers can both read version N and race
        on v(N+1) — _append fails loudly (makedirs), but _swap_in's
        overwrite silently LOSES one update. The lock lives outside the
        table dir so the flat-layout directory swap (which renames the
        whole dir away for a moment) can never make the held lock
        disappear mid-critical-section. Readers never take it (the
        pointer swap already serializes them against writers). A crashed
        writer leaves a stale lock — surfaced after ``timeout`` with the
        holder's pid in the error, matching the documented single-writer
        contract rather than silently breaking it."""
        lock = self.path.rstrip("/") + self._LOCK_SUFFIX
        deadline = time.monotonic() + timeout
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if time.monotonic() >= deadline:
                    try:
                        with open(lock) as f:
                            holder = f.read().strip()
                    except OSError:
                        holder = "?"
                    raise CatalogError(
                        f"could not acquire writer lock on {self.name!r} within "
                        f"{timeout}s (held by pid {holder}; remove stale "
                        f"{lock} if that writer crashed)"
                    )
                time.sleep(0.02)
        try:
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            yield
        finally:
            with contextlib.suppress(OSError):
                os.remove(lock)

    def _swap_in(
        self, df: DataFrame, op: str = "REWRITE", validate: bool = False
    ) -> None:
        """Copy-on-write: write the new contents beside the table dir, then
        swap directories.

        Honest limitation: the rename pair is NOT one atomic commit point —
        between the two renames the table path briefly does not exist, and
        os.rename only works on a local POSIX filesystem. This managed-table
        tier is a local-fs facility (the reference's CRUD is likewise
        single-process, tmp/crud.txt:178-504); concurrent readers
        or object-store backends need a table format with transactional
        metadata (Delta/Iceberg), whose per-file copy-on-write strategy this
        operator shape matches. ``enable_versioning()`` upgrades the table
        to the versioned pointer-commit layout, which IS atomic (and keeps
        history for time_travel). Writers serialize on _writer_lock, so the
        read-version → write → commit sequence is a transaction and
        concurrent updates can't lose each other's commits."""
        with self._writer_lock():
            if validate and self._enforcing():
                # materialize the post-image ONCE (localCheckpoint), so
                # (a) the three validation actions and the write don't
                # each re-execute the full rewrite plan, and (b) the
                # rows validated are bit-identical to the rows written
                # even under non-deterministic assignment expressions;
                # inside the lock so the key checks can't race a
                # concurrent writer (same TOCTOU argument as _append)
                df = df.transform(ckpt, eager=True)
                self.validate_constraints(candidate=df)
            cur = self.current_version()
            if cur is not None:
                nxt = os.path.join(self.path, f"v{cur + 1:05d}")
                df.write.mode("overwrite").parquet(nxt)
                self._carry_metadata(self._data_dir(cur), nxt)
                self._commit(cur + 1, op=op)
                return
            tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
            df.write.mode("overwrite").parquet(tmp)
            old = f"{self.path}.old-{uuid.uuid4().hex[:8]}"
            os.rename(self.path, old)
            os.rename(tmp, self.path)
            shutil.rmtree(old, ignore_errors=True)
            self._refresh_view()

    def _append(self, writer_df: DataFrame, op: str = "INSERT") -> None:
        """Append files to the table. Versioned layout: hard-link the
        current version's files into a new version dir (metadata-only — no
        data copy, the Delta 'add file' analog), write the new files there,
        then pointer-commit; writers serialize on _writer_lock (see
        _swap_in). Flat layout: plain parquet append.

        Enforcement runs HERE, inside the lock: a batch-vs-table key
        check outside the critical section is a TOCTOU race (two
        concurrent enforced INSERTs of the same key would both validate
        against the pre-state and both commit)."""
        with self._writer_lock():
            if self._enforcing():
                self.validate_constraints(batch=writer_df)
            self._append_locked(writer_df, op)

    def _append_locked(self, writer_df: DataFrame, op: str = "INSERT") -> None:
        cur = self.current_version()
        if cur is None:
            pcols = self._partition_cols(self.path)
            w = writer_df.write.mode("append")
            if pcols:
                w = w.partitionBy(*pcols)
            w.parquet(self.path)
            self._refresh_view()
            return
        src, nxt_v = self._data_dir(cur), cur + 1
        nxt = os.path.join(self.path, f"v{nxt_v:05d}")
        if os.path.isdir(nxt):
            # orphan from a writer that crashed between writing the
            # version dir and the pointer commit. We hold the writer
            # lock and the pointer does not reference nxt, so the dir is
            # provably garbage — clear it instead of bricking every
            # future append with FileExistsError
            shutil.rmtree(nxt)
        os.makedirs(nxt)
        # link RECURSIVELY: a hive-partitioned layout keeps its data under
        # key=value subdirectories — linking only top-level files would
        # silently drop every pre-existing row from the new version
        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            for fname in files:
                if fname.endswith(".parquet") or fname.startswith("part-"):
                    dst_dir = nxt if rel == "." else os.path.join(nxt, rel)
                    os.makedirs(dst_dir, exist_ok=True)
                    os.link(
                        os.path.join(root, fname), os.path.join(dst_dir, fname)
                    )
        self._carry_metadata(src, nxt)
        pcols = self._partition_cols(src)
        w = writer_df.write.mode("append")
        if pcols:
            # the existing layout is hive-partitioned: the appended rows
            # must land under the same key=value directories — a flat
            # file next to partition dirs is an unreadable mixed layout
            w = w.partitionBy(*pcols)
        w.parquet(nxt)
        self._commit(nxt_v, op=op)

    @staticmethod
    def _partition_cols(data_dir: str) -> list[str]:
        """Partition columns of a hive layout, read from the first level
        of key=value directory names (driver-side metadata listing)."""
        cols: list[str] = []
        d = data_dir
        while os.path.isdir(d):
            subs = [
                e for e in os.listdir(d)
                if "=" in e and os.path.isdir(os.path.join(d, e))
            ]
            if not subs:
                break
            key = subs[0].split("=", 1)[0]
            cols.append(key)
            d = os.path.join(d, subs[0])
        return cols

    # -- DML ---------------------------------------------------------------
    def insert_values(self, rows: list[tuple], columns: list[str] | None = None) -> int:
        """INSERT [cols] VALUES (...),(...) — multi-row with optional column
        list (reference tmp/crud.txt:178-221). Missing columns get NULL."""
        schema = self.df().schema
        names = [f.name for f in schema.fields]
        if columns:
            unknown = [c for c in columns if c not in names]
            if unknown:
                raise ValueError(f"INSERT columns not in table schema: {unknown}")
            for r in rows:
                if len(r) != len(columns):
                    raise ValueError(
                        f"INSERT row has {len(r)} values for {len(columns)} columns"
                    )
            full_rows = []
            for r in rows:
                by_name = dict(zip(columns, r))
                full_rows.append(tuple(by_name.get(f.name) for f in schema.fields))
            rows = full_rows
        else:
            for r in rows:
                if len(r) != len(names):
                    raise ValueError(
                        f"INSERT row has {len(r)} values; table has {len(names)} columns"
                    )
        new = self.spark.createDataFrame(rows, schema=schema)
        self._append(new)
        return len(rows)

    def insert_select(self, source: DataFrame) -> None:
        """INSERT ... SELECT (reference tmp/crud.txt:192-200) — positional,
        cast to the target schema like SQL insertion."""
        schema = self.df().schema
        if len(source.columns) != len(schema.fields):
            raise ValueError(
                f"INSERT SELECT source has {len(source.columns)} columns; "
                f"table has {len(schema.fields)} (zip truncation would "
                "append a narrower file and corrupt the table schema)"
            )
        aligned = source.select(
            *[
                F.col(src).cast(f.dataType).alias(f.name)
                for src, f in zip(source.columns, schema.fields)
            ]
        )
        self._append(aligned)

    def update(self, assignments: dict[str, Column | str], where: Column | str | None = None):
        """UPDATE SET col=expr [WHERE pred] (reference tmp/crud.txt:223-279).
        Conditional column rewrite + swap; untouched columns are passed
        through unchanged.

        SQL UPDATE semantics: every RHS expression is evaluated against the
        PRE-update row, so ``SET a=b, b=a`` swaps. All new values are built
        in one select over the original frame — never sequential
        withColumn, which would let a later assignment see an earlier
        assignment's new value."""
        df = self.df()
        cond = F.expr(where) if isinstance(where, str) else where
        unknown = set(assignments) - set(df.columns)
        if unknown:
            raise ValueError(f"UPDATE references non-existent columns: {sorted(unknown)}")
        new_vals = {
            c: (F.expr(v) if isinstance(v, str) else v) for c, v in assignments.items()
        }
        select_list = []
        for c in df.columns:
            if c in new_vals:
                v = new_vals[c]
                guarded = F.when(cond, v).otherwise(F.col(c)) if cond is not None else v
                select_list.append(guarded.alias(c))
            else:
                select_list.append(F.col(c))
        self._swap_in(df.select(*select_list), op="UPDATE", validate=True)

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        update_cols: list[str] | None = None,
        when_matched: str = "update",
        insert_unmatched: bool = True,
    ) -> None:
        """MERGE INTO (upsert) — WHEN MATCHED THEN UPDATE/DELETE, WHEN NOT
        MATCHED THEN INSERT. The reference rejects MERGE (its dispatcher,
        src/planner/mod.rs:36, has no arm for it); added as an extension
        because it is the standard incremental-load primitive.

        Single full-outer join on the key columns — one shuffle at any
        scale, and AQE broadcasts the source side when it is small (the
        common trickle-upsert case). Matched rows take the source's values
        for ``update_cols`` (default: every non-key column); unmatched
        target rows pass through; unmatched source rows are appended when
        ``insert_unmatched``. ``when_matched='delete'`` drops matched rows
        instead (the anti-join MERGE form)."""
        tgt = self.df()
        if when_matched not in ("update", "delete"):
            raise ValueError(f"when_matched must be 'update' or 'delete', got {when_matched!r}")
        missing = set(on) - set(tgt.columns)
        if missing:
            raise ValueError(f"MERGE keys not in target: {sorted(missing)}")
        if set(source.columns) != set(tgt.columns):
            raise ValueError(
                f"MERGE source schema {sorted(source.columns)} != target {sorted(tgt.columns)}"
            )
        upd = update_cols if update_cols is not None else [c for c in tgt.columns if c not in on]
        # standard MERGE semantics: multiple source rows for one key is an
        # error (the full-outer join would silently MULTIPLY matched target
        # rows). One aggregate over the bounded source batch.
        dup = (
            source.groupBy(*on)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            key = {c: dup[0][c] for c in on}
            raise ValueError(
                f"MERGE source has multiple rows for key {key}; "
                "deduplicate the source first"
            )
        t = tgt.withColumn("_t", F.lit(1)).alias("t")
        s = source.withColumn("_s", F.lit(1)).alias("s")
        j = t.join(s, on=on, how="full_outer")
        matched = F.col("t._t").isNotNull() & F.col("s._s").isNotNull()
        out_cols = []
        for c in tgt.columns:
            if c in on:
                out_cols.append(F.col(c))  # coalesced join key
            elif when_matched == "update" and c in upd:
                out_cols.append(
                    F.when(matched, F.col(f"s.{c}"))
                    .when(F.col("t._t").isNotNull(), F.col(f"t.{c}"))
                    .otherwise(F.col(f"s.{c}"))
                    .alias(c)
                )
            else:
                out_cols.append(
                    F.when(F.col("t._t").isNotNull(), F.col(f"t.{c}"))
                    .otherwise(F.col(f"s.{c}"))
                    .alias(c)
                )
        keep = F.lit(True)
        if when_matched == "delete":
            keep = keep & ~matched
        if not insert_unmatched:
            keep = keep & F.col("t._t").isNotNull()
        self._swap_in(j.filter(keep).select(*out_cols), op="MERGE", validate=True)

    # -- DDL: ALTER TABLE --------------------------------------------------
    # The reference rejects ALTER outright ("Unsupported Statement",
    # src/planner/mod.rs:36); added as an extension. Each variant is the
    # same copy-on-write swap the DML uses — at 100 TB a table format with
    # schema-evolution metadata (Delta/Iceberg) makes add/rename/drop
    # metadata-only, but the operator shape is identical.
    def alter_add_column(
        self, name: str, data_type: str, default=None
    ) -> None:
        """ALTER TABLE ADD COLUMN name type [DEFAULT literal] — existing
        rows get the default (NULL if none)."""
        df = self.df()
        if name in df.columns:
            # withColumn would silently REPLACE the column, wiping its
            # data through the copy-on-write swap — must be an error
            raise CatalogError(f"column {name!r} already exists in {self.name!r}")
        dt = ddl_type(data_type)
        self._swap_in(df.withColumn(name, F.lit(default).cast(dt)), op="ALTER")

    def alter_drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN name."""
        df = self.df()
        if name not in df.columns:
            raise CatalogError(f"column {name!r} does not exist in {self.name!r}")
        self._swap_in(df.drop(name), op="ALTER")

    def alter_rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN old TO new."""
        df = self.df()
        if old not in df.columns:
            raise CatalogError(f"column {old!r} does not exist in {self.name!r}")
        self._swap_in(df.withColumnRenamed(old, new), op="ALTER")

    def delete(self, where: Column | str | None = None) -> None:
        """DELETE [WHERE pred] (reference tmp/crud.txt:480-504). No WHERE →
        delete all rows (keep schema)."""
        df = self.df()
        if where is None:
            out = df.limit(0)
        else:
            cond = F.expr(where) if isinstance(where, str) else where
            # keep rows where the predicate is NOT satisfied; null-safe:
            # a NULL predicate must keep the row (SQL DELETE semantics)
            out = df.filter(~cond.eqNullSafe(F.lit(True)))
        self._swap_in(out, op="DELETE")

    # -- constraint enforcement (opt-in extension) -------------------------
    # The reference stores PK/UNIQUE/CHECK/FK metadata and never enforces
    # it (common.rs:100-110); so does this engine BY DEFAULT. Setting the
    # table property ``enforce_constraints`` (ALTER TABLE t SET PROPERTIES
    # ('enforce_constraints'='true'), or set_constraint_enforcement())
    # turns on write-time validation — the Delta-constraints analog.

    def _enforcing(self) -> bool:
        if self.catalog is None:
            return False
        meta = self.catalog.tables.get(self.name)
        return bool(meta) and str(
            meta.properties.get("enforce_constraints", "")
        ).lower() in ("1", "true", "yes")

    def set_constraint_enforcement(self, on: bool = True) -> None:
        """Opt this table in/out of write-time constraint validation."""
        meta = self.catalog.tables.get(self.name) if self.catalog else None
        if meta is None:
            raise CatalogError(
                f"table {self.name!r} has no catalog entry to hold the "
                "enforcement property"
            )
        meta.properties["enforce_constraints"] = "true" if on else "false"

    def _constraint_specs(self):
        """Recorded constraint metadata → checkable specs:
        (key_sets, check_exprs, not_null_cols, fks)."""
        meta = self.catalog.tables.get(self.name) if self.catalog else None
        if meta is None:
            return [], [], [], []
        key_sets, checks, not_null, fks = [], [], [], []
        for c in meta.properties.get("columns") or []:
            if c.get("primary_key"):
                key_sets.append(("PRIMARY KEY", [c["name"]]))
            if c.get("nullable") is False:
                not_null.append(c["name"])
        for con in meta.constraints or []:
            kind, text = con.get("kind"), con.get("text", "")
            if kind in ("PRIMARY_KEY", "UNIQUE"):
                m = re.search(r"\(([^)]*)\)", text)
                if m:
                    cols = [
                        x.strip().strip('"').strip("`")
                        for x in m.group(1).split(",")
                        if x.strip()
                    ]
                    label = "PRIMARY KEY" if kind == "PRIMARY_KEY" else "UNIQUE"
                    key_sets.append((label, cols))
            elif kind == "CHECK":
                i = text.find("(")
                if i >= 0:
                    checks.append(_balanced_paren_body(text, i).strip())
            elif kind == "FOREIGN_KEY":
                m = re.search(
                    r"FOREIGN\s+KEY\s*\(([^)]*)\)\s*REFERENCES\s+"
                    r"([A-Za-z_][A-Za-z0-9_]*)\s*\(([^)]*)\)",
                    text,
                    re.I,
                )
                if m:
                    child = [x.strip() for x in m.group(1).split(",") if x.strip()]
                    parent_cols = [
                        x.strip() for x in m.group(3).split(",") if x.strip()
                    ]
                    fks.append((child, m.group(2), parent_cols))
        # PRIMARY KEY implies NOT NULL on its columns (SQL standard)
        for label, cols in key_sets:
            if label == "PRIMARY KEY":
                not_null.extend(c for c in cols if c not in not_null)
        return key_sets, checks, not_null, fks

    def validate_constraints(
        self, batch: DataFrame | None = None, candidate: DataFrame | None = None
    ) -> None:
        """Validate the table's recorded constraints, raising
        ConstraintViolation with bounded samples on the first class that
        fails. Three modes:

        - ``batch=df``: an append is being validated incrementally — row
          checks (NOT NULL / CHECK) scan ONLY the batch; key uniqueness
          is intra-batch dups plus one batch-vs-table semi-join; FKs
          check only batch rows. Cost O(batch + key join), never a full
          table rescan — the append path stays incremental at 100 TB.
        - ``candidate=df``: an UPDATE/MERGE post-image — the rewrite
          already scans the whole table, so validation rides the same
          frame: one combined row-check pass + one keyed agg per key
          set + one anti-join per FK, all LIMITed collects.
        - neither: audit the current table contents as stored.

        Semantics are SQL-standard: CHECK fails only on FALSE (NULL is
        unknown → passes); UNIQUE permits multiple NULL keys; PRIMARY
        KEY implies NOT NULL; FK rows with any NULL child key pass
        (MATCH SIMPLE)."""
        key_sets, checks, not_null, fks = self._constraint_specs()
        if not (key_sets or checks or not_null or fks):
            return
        incremental = batch is not None
        row_df = batch if incremental else (candidate if candidate is not None else self.df())
        # one combined pass over row-level checks
        preds = [(f"NOT NULL ({c})", F.col(c).isNull()) for c in not_null]
        preds += [
            (f"CHECK ({e})", F.expr(e).eqNullSafe(F.lit(False))) for e in checks
        ]
        if preds:
            arr = F.array(*[F.when(p, F.lit(lbl)) for lbl, p in preds])
            hits = (
                row_df.select(
                    F.explode(
                        F.filter(arr, lambda x: x.isNotNull())
                    ).alias("violated")
                )
                .groupBy("violated")
                .count()
                .orderBy("violated")
                .limit(10)
                .collect()
            )
            if hits:
                detail = ", ".join(f"{r['violated']}: {r['count']} row(s)" for r in hits)
                raise ConstraintViolation(
                    f"write to {self.name!r} rejected — {detail}"
                )
        for label, cols in key_sets:
            keyed = row_df
            if label == "UNIQUE":
                for c in cols:  # multiple NULL keys are allowed
                    keyed = keyed.filter(F.col(c).isNotNull())
            dups = (
                keyed.groupBy(*cols)
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > 1)
                .limit(5)
                .collect()
            )
            if not dups and incremental:
                clash = (
                    keyed.select(*cols)
                    .join(self.df().select(*cols), cols, "left_semi")
                    .limit(5)
                    .collect()
                )
                dups = clash
            if dups:
                sample = "; ".join(str(tuple(r[c] for c in cols)) for r in dups)
                raise ConstraintViolation(
                    f"write to {self.name!r} rejected — {label} ({', '.join(cols)}) "
                    f"duplicated for key(s) {sample}"
                )
        for child_cols, parent_name, parent_cols in fks:
            pmeta = self.catalog.tables.get(parent_name)
            if pmeta is None or pmeta.path is None:
                raise ConstraintViolation(
                    f"FOREIGN KEY on {self.name!r} references unknown table "
                    f"{parent_name!r}"
                )
            if parent_name == self.name and candidate is not None:
                # self-referential FK under UPDATE/MERGE: the post-image
                # replaces the whole table, so child refs must resolve
                # against the post-image's OWN parent keys — validating
                # against the pre-image wrongly rejects a statement that
                # rewrites parent keys and refs together, and wrongly
                # passes a parent-key removal that orphans children
                parent = candidate
            elif parent_name == self.name and incremental:
                # self-referential FK under append: the post-image is
                # stored ∪ batch, so batch rows may reference keys
                # introduced by the same (atomic) insert
                parent = self.df().select(*parent_cols).unionByName(
                    batch.select(*parent_cols)
                )
            else:
                parent = ManagedTable(
                    self.spark, parent_name, pmeta.path, self.catalog
                ).df()
            parent_keys = parent.select(
                *[F.col(p).alias(c) for p, c in zip(parent_cols, child_cols)]
            )
            orphans = (
                row_df.select(*child_cols)
                .na.drop()
                .join(parent_keys, child_cols, "left_anti")
                .limit(5)
                .collect()
            )
            if orphans:
                sample = "; ".join(
                    str(tuple(r[c] for c in child_cols)) for r in orphans
                )
                raise ConstraintViolation(
                    f"write to {self.name!r} rejected — FOREIGN KEY "
                    f"({', '.join(child_cols)}) -> {parent_name}"
                    f"({', '.join(parent_cols)}) has no parent for {sample}"
                )


class DdlSession:
    """CREATE/DROP TABLE + CREATE/DROP INDEX against a Catalog, backed by a
    scratch directory. The statement surface matches the reference's
    dispatcher (src/planner/mod.rs:21-38 + tmp/crud.txt:161 Drop arm)."""

    def __init__(self, spark: SparkSession, catalog: Catalog | None = None, base_dir: str | None = None):
        self.spark = spark
        self.catalog = catalog or Catalog(spark)
        self.base_dir = base_dir or tempfile.mkdtemp(prefix="mesin_ddl_")

    # -- CREATE TABLE ------------------------------------------------------
    def create_table(
        self,
        name: str,
        columns: list[ColumnDefinition],
        constraints: list[dict] | None = None,
        if_not_exists: bool = False,
    ) -> ManagedTable:
        """CREATE TABLE with duplicate-name check (tmp/crud.txt:281-310).
        Constraints (PK/FK/UNIQUE/CHECK, common.rs:100-110) are stored as
        metadata, never enforced — matching the reference."""
        if name in self.catalog:
            if if_not_exists:
                return self.table(name)
            raise CatalogError(f"Table '{name}' already exists")
        schema = Ty.StructType([c.to_field() for c in columns])
        path = os.path.join(self.base_dir, name)
        local_frame(self.spark, [], schema).write.mode("overwrite").parquet(path)
        df = self.spark.read.parquet(path)
        self.catalog.register_dataframe(name, df, path=path)
        meta = self.catalog.tables[name]
        meta.constraints = constraints or []
        meta.properties["columns"] = [
            {
                "name": c.name,
                "data_type": c.data_type,
                "nullable": c.nullable,
                "default": c.default,
                "primary_key": c.primary_key,
            }
            for c in columns
        ]
        return ManagedTable(self.spark, name, path, self.catalog)

    def table(self, name: str) -> ManagedTable:
        meta = self.catalog.tables.get(name)
        if meta is None or meta.path is None:
            raise CatalogError(f"Table '{name}' does not exist in database")
        return ManagedTable(self.spark, name, meta.path, self.catalog)

    def create_table_as(self, name: str, source: DataFrame, if_not_exists: bool = False) -> ManagedTable:
        """CREATE TABLE AS SELECT — schema inferred from the source plan,
        data materialized in the same distributed write (no insert pass).
        The reference has no CTAS arm; extension."""
        if name in self.catalog:
            if if_not_exists:
                return self.table(name)
            raise CatalogError(f"Table '{name}' already exists")
        path = os.path.join(self.base_dir, name)
        source.write.mode("overwrite").parquet(path)
        df = self.spark.read.parquet(path)
        self.catalog.register_dataframe(name, df, path=path)
        meta = self.catalog.tables[name]
        meta.properties["columns"] = [
            {"name": f.name, "data_type": f.dataType.simpleString(), "nullable": f.nullable}
            for f in df.schema.fields
        ]
        return ManagedTable(self.spark, name, path, self.catalog)

    def import_parquet(self, name: str, src_path: str) -> ManagedTable:
        """Copy an existing parquet file/dir into a managed (mutable) table."""
        path = os.path.join(self.base_dir, name)
        if os.path.isdir(src_path):
            shutil.copytree(src_path, path, dirs_exist_ok=True)
        else:
            os.makedirs(path, exist_ok=True)
            shutil.copy(src_path, os.path.join(path, "part-00000.parquet"))
        from mesin_spark.sources import read_parquet

        df = read_parquet(self.spark, path)
        self.catalog.register_dataframe(name, df, path=path)
        return ManagedTable(self.spark, name, path, self.catalog)

    # -- CREATE INDEX ------------------------------------------------------
    def create_index(
        self,
        table: str,
        columns: list[str],
        name: str | None = None,
        unique: bool = False,
        apply_layout: bool = False,
    ) -> IndexMeta:
        """CREATE [UNIQUE] INDEX with auto-name fallback
        (tmp/crud.txt:312-347: defaults to `idx_{table}_{cols}`), metadata
        only — plus opt-in layout advice: cluster the table file on the
        indexed columns so parquet min/max row-group pruning works."""
        if table not in self.catalog:
            raise CatalogError(f"Table '{table}' does not exist in database")
        iname = name or f"idx_{table}_{'_'.join(columns)}"
        if iname in self.catalog.indexes:
            raise CatalogError(f"Index '{iname}' already exists")
        meta = IndexMeta(name=iname, table=table, columns=list(columns), unique=unique)
        self.catalog.indexes[iname] = meta
        if apply_layout:
            mt = self.table(table)
            managed_root = os.path.abspath(self.base_dir)
            if not os.path.abspath(mt.path).startswith(managed_root + os.sep):
                # the table points at EXTERNAL data (register_parquet of a
                # user path): rewriting it in place would destroy files
                # the engine doesn't own — layout advice is metadata-only
                # for external tables
                raise CatalogError(
                    f"Index layout rewrite refused: '{table}' is external "
                    f"({mt.path}); import it into the warehouse first"
                )
            clustered = mt.df().repartition(F.col(columns[0])).sortWithinPartitions(*columns)
            mt._swap_in(clustered, op="CLUSTER")
        return meta

    # -- DROP --------------------------------------------------------------
    def drop_table(self, *names: str, if_exists: bool = False, cascade: bool = False) -> None:
        """DROP TABLE t1[, t2 ...] [IF EXISTS] [CASCADE]
        (tmp/crud.txt:349-371). CASCADE drops dependent indexes; without it,
        dependent indexes block the drop."""
        for name in names:
            if name not in self.catalog:
                if if_exists:
                    continue
                raise CatalogError(f"Table '{name}' does not exist in database")
            deps = [i for i, m in self.catalog.indexes.items() if m.table == name]
            if deps and not cascade:
                raise CatalogError(
                    f"Cannot drop table '{name}': dependent indexes {deps} (use CASCADE)"
                )
            self.catalog.drop_table(name)

    def drop_index(self, name: str, if_exists: bool = False) -> None:
        """DROP INDEX (tmp/crud.txt:372-383)."""
        if name not in self.catalog.indexes:
            if if_exists:
                return
            raise CatalogError(f"Index '{name}' does not exist")
        del self.catalog.indexes[name]

    # -- persistence -------------------------------------------------------
    def save_catalog(self) -> str:
        """Persist the warehouse's catalog (paths, constraints, indexes)
        next to its data — see Catalog.save. Data itself is already
        durable (parquet + version pointers); this makes the metadata
        survive the session too."""
        return self.catalog.save(self.base_dir)

    @classmethod
    def open(cls, spark: SparkSession, base_dir: str) -> "DdlSession":
        """Reopen a saved warehouse: restores every persisted table (at
        its CURRENT committed version for versioned tables) plus
        constraint/index metadata into a fresh catalog."""
        sess = cls(spark, catalog=Catalog(spark), base_dir=base_dir)
        sess.catalog.load(base_dir)
        return sess
